#!/usr/bin/env python3
"""Wall time per test suite from a ScalaTest log with durations, slowest first.

build.sbt adds a ScalaTest file reporter with durations (-fWD), so every
sbt test run writes target/test-durations.log; a console log of a run
with -oD reads the same way. A suite's time is the sum of its tests'
durations (set-up outside the tests is not counted).

Usage: python3 tools/suite_times.py [log]   (default target/test-durations.log)
"""
import re
import sys

SUITE = re.compile(r"^(?:\[info\] )?([A-Za-z_][\w.$]*):\s*$")
TEST = re.compile(r"^(?:\[info\] )?- .*\(((?:\d+ \w+(?:, )?)+)\)\s*$")
ANSI = re.compile(r"\x1b\[[0-9;]*m")
UNIT_S = {"hour": 3600.0, "minute": 60.0, "second": 1.0, "millisecond": 0.001}


def seconds(duration):
    total = 0.0
    for n, unit in re.findall(r"(\d+) (\w+?)s?(?:,|$)", duration):
        total += int(n) * UNIT_S.get(unit, 0.0)
    return total


def main(path):
    suites = {}
    suite = None
    with open(path, encoding="utf-8", errors="replace") as f:
        for line in f:
            line = ANSI.sub("", line.rstrip("\n"))
            m = SUITE.match(line)
            if m:
                suite = m.group(1)
                suites.setdefault(suite, [0.0, 0])
                continue
            m = TEST.match(line)
            if m and suite is not None:
                suites[suite][0] += seconds(m.group(1))
                suites[suite][1] += 1
    rows = sorted(((t, n, s) for s, (t, n) in suites.items() if n), reverse=True)
    if not rows:
        print(f"no test durations in {path} (run the tests with ScalaTest's D option)")
        return 1
    width = max(len(s) for _, _, s in rows)
    for t, n, s in rows:
        print(f"{s:<{width}}  {t:9.1f} s  {n:4d} tests")
    print(f"{'total':<{width}}  {sum(r[0] for r in rows):9.1f} s  "
          f"{sum(r[1] for r in rows):4d} tests")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else "target/test-durations.log"))
