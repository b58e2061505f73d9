#!/usr/bin/env python3
"""Count code lines of the Scala sources, per file and in total.

A code line is a non-blank line whose first non-space characters are not
`//`, `*` or `/**` (so line comments and scaladoc/block-comment lines do not
count; code followed by a trailing comment does).

Usage: python3 tools/code_lines.py [repo_root] [--totals]
Prints `<code lines>  <path>` for every .scala file under src/main and
src/test, then one total line per tree. With --totals only the totals print.
"""
import os
import sys


def code_lines(path):
    n = 0
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            if s and not s.startswith(("//", "*", "/**")):
                n += 1
    return n


def main(argv):
    totals_only = "--totals" in argv
    args = [a for a in argv if a != "--totals"]
    root = args[0] if args else os.path.join(os.path.dirname(__file__), "..")
    for tree in ("src/main", "src/test"):
        base = os.path.join(root, tree)
        total = 0
        for d, _, files in sorted(os.walk(base)):
            for name in sorted(files):
                if name.endswith(".scala"):
                    p = os.path.join(d, name)
                    n = code_lines(p)
                    total += n
                    if not totals_only:
                        print(f"{n:7d}  {os.path.relpath(p, root)}")
        print(f"{total:7d}  {tree} total")


if __name__ == "__main__":
    main(sys.argv[1:])
