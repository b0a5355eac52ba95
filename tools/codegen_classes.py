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

python3 tools/codegen_classes.py --bodies LOG prints one row per distinct
body instead, in order of first compile:
  body         b1, b2, ... in order of first compile
  kind         whole-stage, projection, ordering, predicate,
               columnar-iterator (an in-memory cache scan) or other
  stage        the body's codegenStageId (whole-stage bodies only)
  lines        listing lines
  entries      times it was compiled, over the whole log
  compile_ms   the compile times logged for it
  marks        `twin:bN` when the body equals body bN except for its
               codegenStageId; `warm` when its first compile came in a
               run after the first
  ops          the operators a whole-stage body fuses (their variable
               prefixes: hashAgg, bhj, project, ...)
  per step     `step=n1,n2,...`: its entries in each step, one count per
               run
then the distinct bodies, twins and warm-new bodies, and the entries per
run. A step named `rN/<step>` is step <step> of run N, so a driver that
marks `r1/vectors`, `r2/vectors`, ... gets one count per run; other names
form one run. The time of a compile is paired with its listing by thread
when the log pattern prints the thread as `[%t]` after the time, and in
log order otherwise (exact when one thread compiles at a time).

Example, on the small synthetic log next to this tool (two runs; run 1
compiles one whole-stage body under both class loaders, a projection and
two twin bodies; run 2 compiles a variant first seen warm):

  $ python3 tools/codegen_classes.py --bodies tools/codegen_sample.log
  body  kind              stage lines entries compile_ms  marks        ops                          per step
  b1    whole-stage           1     9       2       22.5  -            hashAgg inputadapter         vectors=2,0
  b2    projection            -     7       1        2.0  -            -                            vectors=1,0
  b3    whole-stage           2     9       1        8.0  twin:b4      hashAgg project              classify=1,0
  b4    whole-stage           3     9       1        7.5  twin:b3      hashAgg project              classify=1,0
  b5    whole-stage           2     9       1        6.0  warm         hashAgg project              classify=0,1
  distinct bodies 5, twin bodies 2 in 1 groups, first seen warm 1
  entries per run: r1 5, r2 1
"""
import re
import sys
from collections import OrderedDict

RECORD = re.compile(
    r"^(?:[\d/-]+[ T])?[\d:.,]+ (?:\[([^\]]*)\] )?"
    r"(TRACE|DEBUG|INFO|WARN|ERROR|FATAL) ([\w.$]+): ?(.*)$")
LISTING = re.compile(r"^/\* \d+ \*/")
GENERATED = re.compile(r"Code generated in ([\d.]+) ms")
MARKER = "@@STEP "
SBT_TAG = re.compile(r"^\[(?:info|warn|error|debug|success)\] ")
RUN_STEP = re.compile(r"^r(\d+)/(.+)$")
STAGE_ID = re.compile(r"codegenStageId=(\d+)")
# the places a whole-stage body names its codegenStageId
STAGE_NAMES = re.compile(r"(codegenStageId=|GeneratedIteratorForCodegenStage)\d+")
KINDS = [("GeneratedIteratorForCodegenStage", "whole-stage"),
         ("SpecificColumnarIterator", "columnar-iterator"),
         ("SpecificOrdering", "ordering"),
         ("SpecificPredicate", "predicate"),
         ("Projection(", "projection")]
# variable prefixes of the operators whole-stage codegen fuses
OPS = ["columnartorow", "localtablescan", "rdd", "scan", "inputadapter",
       "range", "generate", "expand", "filter", "project", "bhj", "smj",
       "shj", "sort", "hashAgg", "sortAgg", "window", "limit",
       "serializefromobject", "deserializetoobject", "mapelements"]
OP_USE = re.compile(r"\b(%s)_\w" % "|".join(OPS))


class Step:
    def __init__(self, name):
        self.name = name
        self.bodies = []    # listings logged in the step
        self.compiles = []  # (listing or None, ms) per compile


def parse(lines):
    steps, by_name = [], {}
    body = None      # listing lines of the open DEBUG record
    owner = None     # (step, thread) of the open record
    pending = {}     # thread -> its listings still awaiting a time

    def step(name):
        if name not in by_name:
            by_name[name] = Step(name)
            steps.append(by_name[name])
        return by_name[name]

    cur = step("(start)")

    def close():
        nonlocal body
        if body:
            text = "\n".join(body)
            owner[0].bodies.append(text)
            pending.setdefault(owner[1], []).append(text)
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
            thread, level, logger, msg = m.groups()
            if logger.endswith("CodeGenerator"):
                if level == "DEBUG":
                    body = [msg] if LISTING.match(msg) else []
                    owner = (cur, thread)
                g = GENERATED.search(msg)
                if g:
                    queue = pending.get(thread) or []
                    listing = queue.pop(0) if queue else None
                    cur.compiles.append((listing, float(g.group(1))))
        elif body is not None and LISTING.match(line):
            body.append(line)
    close()
    return [s for s in steps
            if s.name != "(start)" or s.compiles or s.bodies]


def row(name, entries, bodies, whole, ms):
    return f"{name:<24} {entries:>7} {bodies:>6} {whole:>11} {ms:>10.1f}"


def per_step(steps):
    print(f"{'step':<24} {'entries':>7} {'bodies':>6} {'whole_stage':>11} "
          f"{'compile_ms':>10}")
    every = []
    for s in steps:
        every += s.bodies
        whole = sum("GeneratedIteratorForCodegenStage" in b for b in s.bodies)
        print(row(s.name, len(s.compiles), len(set(s.bodies)), whole,
                  sum(ms for _, ms in s.compiles)))
    whole = sum("GeneratedIteratorForCodegenStage" in b for b in every)
    print(row("total", sum(len(s.compiles) for s in steps), len(set(every)),
              whole, sum(ms for s in steps for _, ms in s.compiles)))


def kind(text):
    return next((k for key, k in KINDS if key in text), "other")


def split_name(name):
    m = RUN_STEP.match(name)
    return (int(m.group(1)), m.group(2)) if m else (0, name)


def bodies(steps):
    runs = sorted({split_name(s.name)[0] for s in steps})
    names = list(OrderedDict.fromkeys(split_name(s.name)[1] for s in steps))
    order, entries, ms = OrderedDict(), {}, {}
    first_run = {}
    for s in steps:
        run, name = split_name(s.name)
        for text in s.bodies:
            if text not in order:
                order[text] = f"b{len(order) + 1}"
                first_run[text] = run
            key = (text, run, name)
            entries[key] = entries.get(key, 0) + 1
        for text, t in s.compiles:
            if text is not None:
                ms[text] = ms.get(text, 0.0) + t
    twins = {}
    for text in order:
        twins.setdefault(STAGE_NAMES.sub(r"\1N", text), []).append(text)
    print(f"{'body':<5} {'kind':<17} {'stage':>5} {'lines':>5} "
          f"{'entries':>7} {'compile_ms':>10}  {'marks':<12} "
          f"{'ops':<28} per step")
    warm = 0
    for text, bid in order.items():
        marks = [f"twin:{order[t]}"
                 for t in twins[STAGE_NAMES.sub(r"\1N", text)] if t != text]
        if first_run[text] != runs[0]:
            marks.append("warm")
            warm += 1
        stage = STAGE_ID.search(text)
        ops = list(OrderedDict.fromkeys(OP_USE.findall(text)))
        where = []
        for name in names:
            counts = [entries.get((text, r, name), 0) for r in runs]
            if any(counts):
                where.append(f"{name}=" + ",".join(map(str, counts)))
        print(f"{bid:<5} {kind(text):<17} "
              f"{stage.group(1) if stage else '-':>5} "
              f"{text.count(chr(10)) + 1:>5} "
              f"{sum(v for k, v in entries.items() if k[0] == text):>7} "
              f"{ms.get(text, 0.0):>10.1f}  {' '.join(marks) or '-':<12} "
              f"{' '.join(ops) or '-':<28} {' '.join(where)}")
    pairs = sum(len(g) for g in twins.values() if len(g) > 1)
    groups = sum(len(g) > 1 for g in twins.values())
    print(f"distinct bodies {len(order)}, twin bodies {pairs} in {groups} "
          f"groups, "
          f"first seen warm {warm}")
    per_run = {r: 0 for r in runs}
    for s in steps:
        per_run[split_name(s.name)[0]] += len(s.compiles)
    print("entries per run: " + ", ".join(
        f"{'r%d' % r if r else 'all'} {n}" for r, n in per_run.items()))


def main(argv):
    mode = per_step
    if argv[:1] == ["--bodies"]:
        mode, argv = bodies, argv[1:]
    if len(argv) != 1:
        sys.exit(__doc__.strip())
    with open(argv[0], encoding="utf-8", errors="replace") as f:
        mode(parse(f))


if __name__ == "__main__":
    main(sys.argv[1:])
