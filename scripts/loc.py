#!/usr/bin/env python3
"""Count code lines in the Scala sources.

Usage: python3 scripts/loc.py [dir]   (default: src/main)

A code line is a non-blank line that is not a `//` comment line, not a
line inside a `/* ... */` block (scaladoc included) and not a line that
starts with `*`. A line that holds code before a trailing comment
counts. Prints one `<code lines>  <file>` line per `.scala` file,
sorted by path, then the total. This is the counter CHANGES.md and
ROADMAP C report line counts with.
"""
import os
import sys


def code_lines(path):
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            s = line.strip()
            if in_block:
                in_block = "*/" not in s
            elif s.startswith("/*"):
                in_block = "*/" not in s[2:]
            elif s and not s.startswith("//") and not s.startswith("*"):
                n += 1
    return n


def main(argv):
    root = argv[1] if len(argv) > 1 else "src/main"
    files = sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".scala"))
    total = 0
    for f in files:
        n = code_lines(f)
        total += n
        print(f"{n:6d}  {f}")
    print(f"{total:6d}  total")


if __name__ == "__main__":
    main(sys.argv)
