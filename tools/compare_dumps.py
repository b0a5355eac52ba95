#!/usr/bin/env python3
"""Spark-vs-Spark equivalence gate for optimization work: compare two
Verify.scala dump directories (before/after a plan change) cell-exactly.

Usage: python3 tools/compare_dumps.py <beforeDir> <afterDir> [queryName...]

Every entry present in <beforeDir> (or just the named ones) must exist in
<afterDir> with identical schema, row count, and values — bit-exact for
floats (no tolerance: the optimization contract is "same results").

Each dump's meta.json (git sha, core count, Spark version, scale-factor
directory, as Verify writes it) is printed first. Dumps taken at different
core counts are compared all the same, with a warning: q62's freq_js is a
floating-point sum whose order follows the shuffle partition count, which
the harness sets to the core count.
"""
import sys, glob, os, json
import duckdb

before, after = sys.argv[1], sys.argv[2]
only = set(sys.argv[3:])

names = sorted(os.path.basename(p) for p in glob.glob(f"{before}/q*"))
if only:
    names = [n for n in names if n in only]


def meta(d):
    try:
        with open(f"{d}/meta.json") as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


metas = [meta(before), meta(after)]
for d, m in zip((before, after), metas):
    print(f"META {d}: {json.dumps(m) if m else 'no meta.json'}")
if all(metas) and metas[0].get("cpus") != metas[1].get("cpus"):
    print(f"WARNING: the dumps ran on {metas[0].get('cpus')} and "
          f"{metas[1].get('cpus')} cores; q62's freq_js depends on the core "
          "count, so it may differ")

con = duckdb.connect()
bad = 0
for n in names:
    if not os.path.isdir(f"{after}/{n}"):
        print(f"MISSING {n} in {after}")
        bad += 1
        continue
    try:
        a = con.execute(
            f"SELECT * FROM parquet_scan('{before}/{n}/*.parquet')").df()
        b = con.execute(
            f"SELECT * FROM parquet_scan('{after}/{n}/*.parquet')").df()
    except Exception as e:
        print(f"READ-FAIL {n}: {e}")
        bad += 1
        continue
    if list(a.columns) != list(b.columns):
        print(f"SCHEMA {n}: {list(a.columns)} != {list(b.columns)}")
        bad += 1
        continue
    if len(a) != len(b):
        print(f"ROWS {n}: {len(a)} != {len(b)}")
        bad += 1
        continue
    diff = None
    for c in a.columns:
        av, bv = a[c].tolist(), b[c].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            same = (x == y) or (x != x and y != y)  # NaN == NaN here
            if isinstance(x, float) and isinstance(y, float) and same:
                # bit-exactness: distinguish -0.0 from 0.0 too
                import struct as _s
                same = _s.pack("d", x) == _s.pack("d", y)
            if not same:
                diff = f"col {c} row {i}: {x!r} != {y!r}"
                break
        if diff:
            break
    if diff:
        print(f"DIFF {n}: {diff}")
        bad += 1
    else:
        print(f"OK {n}: {len(a)} rows bit-identical")
sys.exit(1 if bad else 0)
