#!/usr/bin/env python3
"""Run one benchmark workload once and print its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload migrate|serve --seed N \
      --seconds S --trace 0|1

Builds the program if needed (perfbench/build.py), starts one JVM with
a fixed heap against local[nproc], and runs the workload's fixed op
sequence: the op count is the workload's nominal rate times --seconds.
Every run gets its own scratch root under .bench_run/, removed at exit;
the full record lands in .bench_out/. Stdout ends
with one JSON line: correct, attempted, failed and metrics (the
end-to-end metrics of BENCHMARK.json with --trace 0, its per-layer
metrics with --trace 1).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

# timed ops per second of --seconds, sized on a 4-core box so that the
# timed phase lasts about --seconds; serve runs whole 15-op blocks
RATE = {"migrate": 1.0, "serve": 0.5}
BLOCK = {"migrate": 1, "serve": 15}
JVM_TIMEOUT_S = 170


def op_count(workload, seconds):
    b = BLOCK[workload]
    return max(2, b * max(1, round(RATE[workload] * seconds / b)))


def run_jvm(workload, seed, ops, trace, scratch):
    """one JVM run; returns the JVM's record (a dict)"""
    build.make_scratch(scratch)
    out = os.path.join(scratch, "result.json")
    cmd = build.java_cmd(scratch, workload) + [
            "--workload", workload, "--seed", str(seed), "--ops", str(ops),
            "--trace", "1" if trace else "0",
            "--scratch", scratch, "--out", out]
    proc = subprocess.Popen(cmd, cwd=scratch, stdout=sys.stderr,
                            stderr=sys.stderr, start_new_session=True)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        rc = "timeout"
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if rc != 0 or not os.path.exists(out):
        raise SystemExit(f"run: the {workload} JVM exited with code {rc}")
    with open(out) as fh:
        rec = json.load(fh)
    spans = out + ".spans.jsonl"
    return rec, spans if os.path.exists(spans) else None


def one_run(workload, seed, ops, trace):
    scratch = os.path.join(ROOT, ".bench_run",
                           f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}")
    try:
        rec, spans = run_jvm(workload, seed, ops, trace, scratch)
        keep = os.path.join(ROOT, ".bench_out")
        os.makedirs(keep, exist_ok=True)
        base = os.path.join(keep, f"{workload}-s{seed}-t{int(trace)}")
        with open(base + ".json", "w") as fh:
            json.dump(rec, fh, indent=1)
        if spans:
            shutil.copy(spans, base + ".spans.jsonl")
        return rec
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def untraced_record(workload, seed, ops):
    keep = os.path.join(ROOT, ".bench_out")
    if not os.path.isdir(keep):
        return None
    same = os.path.join(keep, f"{workload}-s{seed}-t0.json")
    paths = sorted((p for p in os.listdir(keep)
                    if p.startswith(workload + "-") and p.endswith("-t0.json")),
                   key=lambda p: os.path.getmtime(os.path.join(keep, p)))
    for p in ([same] if os.path.exists(same) else []) + \
            [os.path.join(keep, p) for p in reversed(paths)]:
        with open(p) as fh:
            rec = json.load(fh)
        if rec.get("ops") == ops:
            return rec
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(RATE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a TERM (a caller's timeout) unwinds through the cleanup that stops
    # the JVM and removes the scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    build.build()
    ops = op_count(a.workload, a.seconds)
    rec = one_run(a.workload, a.seed, ops, bool(a.trace))

    if a.trace:
        # tracing overhead: this traced run's wall against the untraced
        # run of the same seed, else the latest untraced run on record,
        # else an untraced run made now
        base = untraced_record(a.workload, a.seed, ops)
        if base is None:
            base = one_run(a.workload, a.seed, ops, False)
        rec["per_layer"]["trace.overhead_s"] = (
            rec["per_layer"]["trace.wall_s"] - base["end_to_end"]["wall_s"])
        wanted, values = spec["per_layer"], rec["per_layer"]
    else:
        wanted, values = spec["end_to_end"], rec["end_to_end"]

    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise SystemExit(f"run: metrics missing from the record: {missing}")

    n = rec["ops"]
    print(f"workload {a.workload}  seed {a.seed}  cores {rec['cores']}  "
          f"trace {a.trace}")
    print("op classes  " + "  ".join(
        f"{c}={k}" for c, k in rec["op_classes"].items()))
    print(f"{'ops':<34} {n} count")
    print(f"{'ops_failed':<34} {rec['ops_failed']} count")
    for f in rec["failures"]:
        print(f"  failed: {f}")
    for m in wanted:
        extra = ""
        s = rec["samples"].get(m["name"])
        if s:
            extra = f"  (n={s['n']}, {s['beyond']} beyond)"
        print(f"{m['name']:<34} {values[m['name']]:.6g} {m['unit']}{extra}")
    print(json.dumps({
        "correct": rec["ops_failed"] == 0,
        "attempted": n,
        "failed": rec["ops_failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))


if __name__ == "__main__":
    main()
