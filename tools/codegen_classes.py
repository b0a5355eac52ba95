#!/usr/bin/env python3
"""Count Spark's generated-code cache entries per step of a driver run.

Input: one log (stdout and stderr in one stream) of a driver that ran with
the `org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator`
logger at DEBUG and printed a marker line `@@STEP <name>` before each
step. At DEBUG, CodeGenerator logs every class it compiles as a
`/* 001 */`-numbered source listing, then "Code generated in <ms> ms" at
INFO. Each compile is one load into the codegen cache, so a warm step
that compiles nothing ran inside the cache.

Usage: python3 tools/codegen_classes.py LOG prints, per step in log order:
  entries      classes compiled (cache loads) during the step
  bodies       distinct source listings among them
  whole_stage  entries whose source is a whole-stage iterator
               (GeneratedIteratorForCodegenStage); the driver's compile
               check and the task each load one, under different class
               loaders, so such a body counts twice
  compile_ms   sum of the "Code generated in" times
and a `total` row (bodies distinct across all steps). Lines before the
first marker form the step `(start)`. Steps that share a name add up.
A leading sbt tag (`[info] `, `[error] `) on a line is ignored, so the
output of `sbt "Test/runMain ..."` can be read as it is.
"""
import re
import sys

RECORD = re.compile(
    r"^(?:[\d/-]+[ T])?[\d:.,]+ (TRACE|DEBUG|INFO|WARN|ERROR|FATAL) "
    r"([\w.$]+): ?(.*)$")
LISTING = re.compile(r"^/\* \d+ \*/")
GENERATED = re.compile(r"Code generated in ([\d.]+) ms")
MARKER = "@@STEP "
SBT_TAG = re.compile(r"^\[(?:info|warn|error|debug|success)\] ")


class Step:
    def __init__(self, name):
        self.name = name
        self.bodies = []
        self.compiles = 0
        self.ms = 0.0


def parse(lines):
    steps, by_name = [], {}
    body = None  # listing lines of the open DEBUG record

    def step(name):
        if name not in by_name:
            by_name[name] = Step(name)
            steps.append(by_name[name])
        return by_name[name]

    cur = step("(start)")

    def close():
        nonlocal body
        if body:
            cur.bodies.append("\n".join(body))
        body = None

    for line in lines:
        line = SBT_TAG.sub("", line.rstrip("\n"), count=1)
        if line.startswith(MARKER):
            close()
            cur = step(line[len(MARKER):].strip())
            continue
        m = RECORD.match(line)
        if m:
            close()
            level, logger, msg = m.groups()
            if logger.endswith("CodeGenerator"):
                if level == "DEBUG":
                    body = [msg] if LISTING.match(msg) else []
                g = GENERATED.search(msg)
                if g:
                    cur.compiles += 1
                    cur.ms += float(g.group(1))
        elif body is not None and LISTING.match(line):
            body.append(line)
    close()
    return [s for s in steps if s.name != "(start)" or s.compiles or s.bodies]


def row(name, entries, bodies, whole, ms):
    return f"{name:<24} {entries:>7} {bodies:>6} {whole:>11} {ms:>10.1f}"


def main(argv):
    if len(argv) != 1:
        sys.exit(__doc__.strip())
    with open(argv[0], encoding="utf-8", errors="replace") as f:
        steps = parse(f)
    print(f"{'step':<24} {'entries':>7} {'bodies':>6} {'whole_stage':>11} "
          f"{'compile_ms':>10}")
    every = []
    for s in steps:
        every += s.bodies
        whole = sum("GeneratedIteratorForCodegenStage" in b for b in s.bodies)
        print(row(s.name, s.compiles, len(set(s.bodies)), whole, s.ms))
    whole = sum("GeneratedIteratorForCodegenStage" in b for b in every)
    print(row("total", sum(s.compiles for s in steps), len(set(every)),
              whole, sum(s.ms for s in steps)))


if __name__ == "__main__":
    main(sys.argv[1:])
