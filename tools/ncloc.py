#!/usr/bin/env python3
"""Count non-comment lines of Scala sources, the rule CHANGES.md quotes:
a line counts when, stripped, it is non-blank and starts with none of
`//`, `/*` or `*` (so scaladoc and block-comment bodies are skipped;
trailing comments on a code line still count as code).

Usage: python3 tools/ncloc.py PATH... prints one `count path` line per
file, then a `total` line when more than one file is counted. A
directory PATH counts every `*.scala` file under it, in path order.

python3 tools/ncloc.py --repeats PATH... counts pasted string text
instead: the `|`-margin lines (the lines of a `stripMargin` string,
such as the DuckDB oracle SQL) that lie in a repeated window. A window
is 5 consecutive lines of the file, each of which, stripped, starts
with `|`; it is repeated when the same 5 stripped lines occur as a
window earlier in the same file. A line counts once however many
repeated windows cover it.
"""
import os
import sys


def ncloc(path):
    with open(path, encoding="utf-8") as f:
        return sum(1 for line in f
                   if (s := line.strip())
                   and not s.startswith(("//", "/*", "*")))


def repeats(path, width=5):
    with open(path, encoding="utf-8") as f:
        lines = [line.strip() for line in f]
    seen, covered = set(), set()
    for i in range(len(lines) - width + 1):
        window = tuple(lines[i:i + width])
        if not all(s.startswith("|") for s in window):
            continue
        if window in seen:
            covered.update(range(i, i + width))
        seen.add(window)
    return len(covered)


def files(path):
    if not os.path.isdir(path):
        return [path]
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(path)
                  for f in fs if f.endswith(".scala"))


def main(args):
    count = ncloc
    if args[:1] == ["--repeats"]:
        count, args = repeats, args[1:]
    if not args:
        sys.exit(__doc__.strip())
    counts = [(count(f), f) for p in args for f in files(p)]
    for n, p in counts:
        print(f"{n} {p}")
    if len(counts) > 1:
        print(f"{sum(n for n, _ in counts)} total")


if __name__ == "__main__":
    main(sys.argv[1:])
