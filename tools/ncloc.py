#!/usr/bin/env python3
"""Count the non-comment, non-blank lines of Scala and Java sources.

A line counts unless it is blank, or lies in or starts a `//` or
`/* ... */` comment: a line whose first non-blank characters open a
comment does not count, nor does any line from there up to and
including the one that closes a block comment. A line of code with a
trailing comment counts. Comment markers inside string literals are
not recognised (none of the counted sources have any that matter).

Usage: python3 tools/ncloc.py PATH [PATH ...]

Prints one `<count>\t<path>` line per argument (a directory counts
every *.scala and *.java file below it) and, for several arguments, a
total. Measure a change by running the same command on a clone of the
parent commit and on the change.
"""
import os
import sys

EXTENSIONS = (".scala", ".java")


def count_file(path):
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            if in_block:
                if "*/" in s:
                    in_block = False
                continue
            if not s or s.startswith("//"):
                continue
            if s.startswith("/*"):
                in_block = "*/" not in s[2:]
                continue
            n += 1
            code = s.split("//", 1)[0]
            opened = code.rfind("/*")
            if opened >= 0 and "*/" not in code[opened + 2:]:
                in_block = True
    return n


def count_path(path):
    if os.path.isfile(path):
        return count_file(path)
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            if name.endswith(EXTENSIONS):
                total += count_file(os.path.join(root, name))
    return total


def main(argv):
    if not argv:
        sys.exit(__doc__.strip())
    counts = [(p, count_path(p)) for p in argv]
    for p, n in counts:
        print(f"{n}\t{p}")
    if len(counts) > 1:
        print(f"{sum(n for _, n in counts)}\ttotal")


if __name__ == "__main__":
    main(sys.argv[1:])
