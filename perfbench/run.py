#!/usr/bin/env python3
"""Benchmark of the semantic-similarity engine: two workloads, each timed
warm in one JVM per call, and a traced mode for per-layer numbers.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run it from the root of a checkout. The first call builds the program and
the harness together from source (sbt, offline) into perfbench/target; later
calls reuse the build while the sources are unchanged. Inputs, Spark scratch
space and results go to perfbench/.work. The last line of standard output is
one JSON object with the keys correct, attempted, failed and metrics.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
TARGET = HERE / "target"
CLASSPATH = TARGET / "classpath.txt"
STAMP = TARGET / "source.sha256"
# a call must end within 180 s of its build; past this the JVM is stopped,
# leaving time for the oracle check, and the call reports one failed attempt
DEADLINE_S = 160.0
HEAP = "3g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spec():
    path = ROOT / "BENCHMARK.json"
    if not path.is_file():
        fail(f"{path} is missing")
    return json.loads(path.read_text())


def source_files():
    roots = [ROOT / "src" / "main", HERE / "src"]
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    return h.hexdigest()


def build():
    """Compile the program's sources with the harness; skip when the build
    already matches the sources."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail("no program sources at src/main/scala: run from a full checkout")
    digest = source_digest()
    if CLASSPATH.is_file() and STAMP.is_file() and STAMP.read_text() == digest:
        return digest
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building", file=sys.stderr, flush=True)
    done = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=700)
    if done.returncode != 0:
        sys.stderr.write(done.stdout[-4000:])
        fail("build failed")
    STAMP.write_text(digest)
    return digest


def git_sha():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


class JvmFailed(Exception):
    pass


def run_jvm(workload, seed, seconds, trace, scale, flip, timeout):
    work = WORK / workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "result.json"
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", CLASSPATH.read_text().strip(), "perfbench.Main",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--work", str(work), "--out", str(out), "--scale", str(scale),
            "--flip-bit", "1" if flip else "0",
            # the JVM needs ~10 s to start and to write its result
            "--deadline", str(max(1.0, timeout - 10))]
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise JvmFailed(f"{workload} did not finish within {timeout:.0f} s; "
                            f"see {work / 'jvm.log'}")
    if code != 0 or not out.is_file():
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        raise JvmFailed(f"{workload} exited with code {code}")
    return json.loads(out.read_text()), work


def oracle_problems(work):
    """Compare each ops_slice entry's dumped result with its DuckDB oracle,
    using the repo's own comparator (tools/check_oracles.py)."""
    import duckdb
    import pandas as pd
    spec_ = importlib.util.spec_from_file_location(
        "check_oracles", ROOT / "tools" / "check_oracles.py")
    mod = importlib.util.module_from_spec(spec_)
    spec_.loader.exec_module(mod)
    con = duckdb.connect()
    for t in ["documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{work}/data/tables/{t}.parquet/*.parquet')")
    if not (work / "oracle" / "oracle_sql.json").is_file():
        return ["the warm-up failed, so no result was checked against the oracles"], 0
    sqls = json.loads((work / "oracle" / "oracle_sql.json").read_text())
    problems = []
    for name, sql in sorted(sqls.items()):
        files = sorted((work / "oracle" / name).glob("*.parquet"))
        spark_df = pd.concat([pd.read_parquet(f) for f in files])
        diff = mod.cmp_frames(name, spark_df, con.execute(sql).fetchdf())
        if diff:
            problems.append(f"oracle {name}: {diff}")
    return problems, len(sqls)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(res):
    walls = [r["wall_s"] for r in res["runs"]]
    wall = median(walls)
    return {
        "setup_s": res["setup"]["setup_s"],
        "wall_s": wall,
        "input_rows_per_s": res["context"]["input_rows"] / wall,
        "shuffle_write_mb": median([r["shuffle_write_mb"] for r in res["runs"]]),
        "peak_cached_mb": median([r["peak_cached_mb"] for r in res["runs"]]),
    }


def evaluate(workload, seed, seconds, trace, scale=1.0, flip=False):
    """One call: returns the result object and the failed checks."""
    started = time.monotonic()
    src = build()
    bench = spec()
    try:
        res, work = run_jvm(workload, seed, seconds, trace, scale, flip, DEADLINE_S)
    except JvmFailed as e:
        # no measurement survives: the call is one failed attempt
        print(f"# FAIL {e}")
        return {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}, [str(e)]
    ctx = res["context"]
    # the warm-up phase and its checks count as one attempt, each timed
    # run as another; any failed check fails its attempt
    problems = [f"{c['name']}: {c['detail']}" for c in res["checks"] if not c["ok"]]
    pinned = json.loads((HERE / "pinned.json").read_text())
    pin = pinned["digests"].get(workload)
    if (seed == pinned["seed"] and scale == 1.0 and ctx["nproc"] == pinned["nproc"]
            and pin and res["reference_digest"] != pin):
        problems.append(f"digest {res['reference_digest'][:16]} is not the "
                        f"pinned {pin[:16]} for seed {seed}")
    n_oracles = 0
    if workload == "ops_slice":
        oracle, n_oracles = oracle_problems(work)
        problems += oracle
    failed = 1 if problems else 0
    for i, r in enumerate(res["runs"]):
        if r["problems"]:
            failed += 1
            problems += [f"run {i}: {p}" for p in r["problems"]]
    attempted = len(res["runs"]) + 1

    if trace:
        layers = res["layers"]
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in bench["per_layer"]}
    else:
        e2e = end_to_end(res)
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in bench["end_to_end"]}

    record = {"workload": workload, "seed": seed, "seconds": seconds,
              "trace": trace, "git_sha": git_sha(), "source_sha256": src,
              "context": ctx, "setup": res["setup"], "runs": res["runs"],
              "reference_digest": res["reference_digest"],
              "checks": res["checks"], "problems": problems,
              "oracles_checked": n_oracles, "metrics": metrics,
              "call_s": time.monotonic() - started}
    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{workload}-seed{seed}-trace{int(trace)}.json").write_text(
        json.dumps(record, indent=1, sort_keys=True))

    n = len(res["runs"])
    print(f"# {workload} seed={seed} trace={int(trace)} nproc={ctx['nproc']} "
          f"spark={ctx['spark_version']} heap_max_mb={ctx['jvm_heap_max_mb']:.0f} "
          f"git={record['git_sha'] or 'n/a'} src={src[:12]}")
    print(f"# loadavg start={ctx['loadavg_start']!r} end={ctx['loadavg_end']!r} "
          f"inputs={json.dumps(ctx['inputs'], sort_keys=True)}")
    if trace:
        sweep = ctx["sweep_done"] and "done" or "skipped"
        print(f"# traced passes {ctx['traced_passes']}"
              + (f", size sweep {sweep}" if workload == "gold_topics" else ""))
    for name, m in metrics.items():
        # per-layer values are medians over the traced passes of one call
        count = "" if trace else f" (n={1 if name == 'setup_s' else n})"
        print(f"{name} = {m['value']:.6g} {m['unit']}{count}")
    values = [r["values"] for r in res["runs"]]
    for key in ("instances", "cv_accuracy", "cv_f1_similar"):
        if values and key in values[0]:
            print(f"# {key} = {median([v[key] for v in values]):.6g} (n={n})")
    print(f"# call_s = {record['call_s']:.1f} (this call, build included)")
    print(f"# failed_frac = {failed / attempted:.4g} ({failed}/{attempted})"
          + (f"; {n_oracles} oracles checked" if n_oracles else ""))
    for p in problems:
        print(f"# FAIL {p}")
    return {"correct": not problems and failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}, problems


def selftest():
    """Tiny-size check of the benchmark itself: every metric prints with its
    unit, and one flipped bit in one output double fails the digest check."""
    bench = spec()
    ok = True
    for trace, group in ((False, "end_to_end"), (True, "per_layer")):
        out, _ = evaluate("gold_topics", 7, 1, trace, scale=0.05)
        want = {m["name"]: m["unit"] for m in bench[group]}
        got = {k: v["unit"] for k, v in out["metrics"].items()}
        if got != want or not out["correct"]:
            print(f"selftest: {group} metrics or checks wrong: {out}", file=sys.stderr)
            ok = False
    _, problems = evaluate("gold_topics", 7, 1, False, scale=0.05, flip=True)
    if not any("differs from the warm-up's" in p for p in problems):
        print(f"selftest: a flipped output bit passed the digest check: {problems}",
              file=sys.stderr)
        ok = False
    print(json.dumps({"selftest": "pass" if ok else "fail"}))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0, help=argparse.SUPPRESS)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        return selftest()
    names = [w["name"] for w in spec()["workloads"]]
    if a.workload not in names:
        ap.error(f"--workload must be one of {names}")
    out, _ = evaluate(a.workload, a.seed, a.seconds, bool(a.trace), a.scale)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
