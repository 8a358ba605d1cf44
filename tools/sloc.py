#!/usr/bin/env python3
"""Count code lines: non-blank lines that are not comments.

A comment line is a line whose first non-blank characters are `//`, or a
line inside a `/* ... */` block that starts its line (from the `/*` line
through the line holding the closing `*/`). Code followed by a trailing
comment counts as code.

    python3 tools/sloc.py                 # src/main/scala
    python3 tools/sloc.py PATH [PATH...]  # files or directories

Prints one `<lines>  <path>` row per .scala file (sorted by path), then
`<lines>  total`.
"""
import os
import sys


def code_lines(path):
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.strip()
            if in_block:
                if "*/" in line:
                    in_block = False
                continue
            if not line or line.startswith("//"):
                continue
            if line.startswith("/*"):
                in_block = "*/" not in line[2:]
                continue
            n += 1
    return n


def scala_files(root):
    if os.path.isfile(root):
        return [root]
    found = []
    for d, _, names in os.walk(root):
        found.extend(os.path.join(d, x) for x in names if x.endswith(".scala"))
    return found


def main(argv):
    roots = argv or ["src/main/scala"]
    files = sorted({f for r in roots for f in scala_files(r)})
    total = 0
    for f in files:
        n = code_lines(f)
        total += n
        print(f"{n:7d}  {f}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
