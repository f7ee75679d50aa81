#!/usr/bin/env python3
"""Count the code lines under a source tree (default: src/main).

A line counts when its trimmed text is not empty and does not start with
`//`, `/*` or `*` — so blank lines, line comments and the lines of
scaladoc/block comments are left out. Prints the total; with `-v`, the
count per file first.

    python3 tools/loc.py [-v] [root]
"""
import os
import sys


def count(path):
    n = 0
    with open(path, encoding="utf-8") as f:
        for line in f:
            t = line.strip()
            if t and not t.startswith(("//", "/*", "*")):
                n += 1
    return n


def main(argv):
    verbose = "-v" in argv
    args = [a for a in argv if a != "-v"]
    root = args[0] if args else "src/main"
    if not os.path.isdir(root):
        sys.exit(f"no directory {root}")
    total = 0
    for d, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            if name.endswith((".scala", ".java")):
                p = os.path.join(d, name)
                n = count(p)
                total += n
                if verbose:
                    print(f"{n:6d} {p}")
    print(total)


if __name__ == "__main__":
    main(sys.argv[1:])
