#!/usr/bin/env python3
"""Count non-comment lines of Scala sources, the rule CHANGES.md quotes:
a line counts when, stripped, it is non-blank and starts with none of
`//`, `/*` or `*` (so scaladoc and block-comment bodies are skipped;
trailing comments on a code line still count as code).

Usage: python3 tools/ncloc.py FILE... prints one `count path` line per
file, then a `total` line when more than one file is given.
"""
import sys


def ncloc(path):
    with open(path, encoding="utf-8") as f:
        return sum(1 for line in f
                   if (s := line.strip())
                   and not s.startswith(("//", "/*", "*")))


def main(paths):
    if not paths:
        sys.exit(__doc__.strip())
    counts = [(ncloc(p), p) for p in paths]
    for n, p in counts:
        print(f"{n} {p}")
    if len(counts) > 1:
        print(f"{sum(n for n, _ in counts)} total")


if __name__ == "__main__":
    main(sys.argv[1:])
