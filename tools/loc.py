#!/usr/bin/env python3
"""Size of the library: prints three numbers for src/main.

  total    every line of every file
  code     lines that are not blank and do not start with //, * or /**
  keys     distinct spark.graft.* configuration keys named in the source
           (a key prefix ending in '.', such as the per-table
           spark.graft.dml.key.<table>, is a pattern, not a key),
           followed by their names, one per line

Usage: python3 tools/loc.py [repo_root]
"""
import os
import re
import sys

KEY = re.compile(r"spark\.graft\.[A-Za-z0-9_.]*")


def main(root):
    total = code = 0
    keys = set()
    for base, _, files in os.walk(os.path.join(root, "src", "main")):
        for name in sorted(files):
            with open(os.path.join(base, name), encoding="utf-8") as f:
                for line in f:
                    total += 1
                    s = line.strip()
                    if s and not s.startswith(("//", "*", "/**")):
                        code += 1
                    keys.update(k for k in KEY.findall(line)
                                if not k.endswith("."))
    print(f"total {total:,}")
    print(f"code {code:,}")
    print(f"keys {len(keys)}")
    for k in sorted(keys):
        print(f"  {k}")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else
         os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
