#!/usr/bin/env python3
"""Warehouse benchmark: two workloads, each driven by one closed-loop client
against the engine on local[nproc]. etl_full_load times the full star-schema
build and parquet load of a fresh process; star_query_mix sends analyst reads
over the cached warehouse with vector searches, near-duplicate reports and
incremental appends beside them.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload star_query_mix --seed 7 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10     # every workload
    python3 perfbench/run.py --smoke                 # sf0.001, one load / one block each

The first run builds the engine's sources together with the benchmark
(perfbench/build.sbt) and stamps the build; later runs reuse it until a
source changes. Each run launches one JVM (perfbench.Main), compares the
engine's warehouse outputs with the DuckDB oracle SQL the engine ships
(SparkEntry.oracleSql), prints a human-readable report, and ends with one
JSON line: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.

Runtime files go to perfbench/work/: one scratch directory per run (deleted
when the run ends) and results/, which keeps each run's full result with its
host telemetry and, for traced runs, the span dump.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import stage as staging

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")

WORKLOADS = ["etl_full_load", "star_query_mix"]

# Inputs (perfbench/stage.py): the sf0.01 test tables (60 000 lineitem
# rows, 500 documents, 500 vectors); --smoke stages the sf0.001 tables
# instead. sf0.01 rather than sf0.1 keeps runs short: a cold warehouse build
# alone takes about 25 s on a 4-core host at either size.
# Order chunks that can arrive during a star_query_mix run (one per block).
CHUNKS = 20

E2E_UNITS = {
    "setup_s": "s", "op_p50_ms": "ms", "ops_per_s": "1/s",
    "rows_per_s": "rows/s", "heap_live_mb": "MB",
}
REPORT_UNITS = {
    "setup_s": "s", "load_p50_s": "s", "load_rows_per_s": "DW rows/s",
    "query_p50_ms": "ms", "query_p90_ms": "ms", "queries_per_s": "req/s",
    "append_p50_ms": "ms", "append_rows_per_s": "rows/s", "read_p50_ms": "ms",
    "curation_docs_per_s": "docs/s", "ann_recall_at_10": "fraction",
    "failed_ops_ratio": "ratio", "heap_live_mb": "MB", "samples": "count",
}

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

RUN_LIMIT_S = 170


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    return jars if jars and os.path.isdir(jars) else None


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(jars):
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    log("perfbench: building engine + benchmark with sbt ...")
    t0 = time.time()
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           f"-Dperfbench.sparkJars={jars}", "compile"]
    env = dict(os.environ, COURSIER_MODE="offline")
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=850)
    if p.returncode != 0:
        log("perfbench: build failed")
        sys.exit(3)
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    log(f"perfbench: built in {time.time() - t0:.0f} s")


def run_jvm(jars, run_dir, workload, seed, seconds, trace, smoke, limit_s):
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
    cmd += ["-cp", f"{CLASSES}{os.pathsep}{os.path.join(jars, '*')}", "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--run-dir", run_dir,
            "--smoke", "1" if smoke else "0"]
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    try:
        rc = p.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        log(f"perfbench: {workload} exceeded {limit_s:.0f} s and was stopped")
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    path = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(path):
        log(f"perfbench: {workload} JVM exited with code {rc}")
        return None
    with open(path) as fh:
        return json.load(fh)


def oracle_columns(con, sql):
    desc = con.execute(f"DESCRIBE SELECT * FROM ({sql}) q").fetchall()
    return [(d[0], d[1].upper()) for d in desc]


def bighash(con, sql, cols):
    """Row count and an order-free hash of the rows of `sql` over `cols`.
    Doubles are rounded half-up to four decimals (the engine's detRound,
    which the oracle applies to some columns) and printed to ten
    significant digits, so a column the oracle rounds compares equal to the
    engine's unrounded copy of it."""
    exprs = []
    for c, t in sorted(cols):
        q = '"' + c.replace('"', '""') + '"'
        if "DOUBLE" in t or "FLOAT" in t or t == "REAL":
            exprs.append(f"printf('%.10g', floor({q} * 10000 + 0.5) / 10000)")
        elif t == "BOOLEAN":
            exprs.append(f"CASE WHEN {q} THEN 'true' ELSE 'false' END")
        else:
            exprs.append(f"CAST({q} AS VARCHAR)")
    return con.execute(f"SELECT count(*), sum(hash([{', '.join(exprs)}])) FROM ({sql}) q") \
        .fetchall()[0]


def oracle_checks(oracle):
    """Compare each engine output with the DuckDB mirror of its engine
    query (SparkEntry.oracleSql), over the oracle's columns; returns a list
    of (query, ok, detail)."""
    if not oracle:
        return []
    try:
        import duckdb
    except ImportError:
        return [(o["query"], False, "duckdb is not importable") for o in oracle]
    results = []
    for o in oracle:
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 4")
            for table, files in o["views"].items():
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet({files!r})")
            cols = oracle_columns(con, o["sql"])
            select = ", ".join('"' + c.replace('"', '""') + '"' for c, _ in cols)
            want = bighash(con, o["sql"], cols)
            got = bighash(con, f"SELECT {select} FROM read_parquet('{o['files']}')", cols)
            ok = want == got
            detail = f"{got[0]} rows" if ok else f"engine={got} oracle={want}"
        except Exception as e:  # a failing oracle query is a failed check
            ok, detail = False, f"{type(e).__name__}: {e}"
        finally:
            con.close()
        results.append((o["query"], ok, detail))
    return results


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def one_run(jars, workload, seed, seconds, trace, smoke, limit_s):
    size = "smoke" if smoke else "full"
    run_dir = os.path.join(WORK, f"run-{workload}-{seed}-{int(trace)}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        t0 = time.time()
        rows = staging.stage(workload, seed, size, run_dir, CHUNKS)
        stage_s = time.time() - t0
        res = run_jvm(jars, run_dir, workload, seed, seconds, trace, smoke,
                      limit_s - stage_s)
        if res is None:
            return None
        # set-up time includes the staging, done here before the JVM starts
        res["end_to_end"]["setup_s"] += stage_s
        res["report"]["setup_s"] += stage_s
        res["telemetry"].update(stage_s=stage_s, input=size, input_rows=rows)
        t0 = time.time()
        checks = oracle_checks(res["oracle"])
        res["telemetry"]["oracle_s"] = time.time() - t0
        spans = os.path.join(run_dir, "spans.jsonl")
        tag = f"{workload}-seed{seed}-trace{int(trace)}"
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(WORK, "results", f"{tag}.spans.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    res["attempted"] += len(checks)
    res["failed"] += sum(1 for _, ok, _ in checks if not ok)
    res["failures"] += [f"oracle {n}: {d}" for n, ok, d in checks if not ok]
    res["oracle_checks"] = [{"query": n, "ok": ok, "detail": d} for n, ok, d in checks]
    res["report"]["failed_ops_ratio"] = res["failed"] / res["attempted"]
    del res["oracle"]
    with open(os.path.join(WORK, "results", f"{tag}.json"), "w") as fh:
        json.dump(res, fh, indent=1)
    return res


def print_report(res):
    w = res["workload"]
    print(f"== {w} (seed {res['seed']}, trace {int(res['trace'])})")
    for k, v in res["report"].items():
        print(f"  {k:<28} {fmt(v):>14} {REPORT_UNITS.get(k, '')}")
    print("  end-to-end:")
    for k, v in res["end_to_end"].items():
        print(f"    {k:<26} {fmt(v):>14} {E2E_UNITS[k]}")
    if res["trace"]:
        print("  per-layer (mean per call of the layer unless named otherwise):")
        for k, v in res["per_layer"].items():
            print(f"    {k:<40} {fmt(v):>14} {res['per_layer_units'][k]}")
    t = res["telemetry"]
    print(f"  telemetry: startup {fmt(t['startup_s'])} s, stage {fmt(t['stage_s'])} s, "
          f"prepare {fmt(t['prepare_ms'])} ms, ops {t['ops']} in "
          f"{fmt(t['window_s'])} s, host steal {t['host_steal_ms']} ms, canary "
          f"{t['canary_start_us']}/{t['canary_end_us']} us, jvm gc {t['jvm_gc_ms']} ms")
    print(f"  checks: {res['attempted'] - res['failed']}/{res['attempted']} passed "
          f"({len(res['oracle_checks'])} against the DuckDB oracle)")
    for f in res["failures"]:
        print(f"  FAILED: {f}")


def main():
    # a terminated run still stops its JVM (the `finally` in run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ["all"], default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="sf0.001 inputs, one load or one block of operations per workload")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("perfbench: the engine sources (src/main/scala/graft) are not in this checkout")
        sys.exit(2)
    jars = spark_jars()
    if jars is None:
        log("perfbench: no Spark distribution found (set SPARK_HOME)")
        sys.exit(2)
    build(jars)
    started = time.time()

    workloads = WORKLOADS if a.workload == "all" else [a.workload]
    results = []
    for w in workloads:
        limit = RUN_LIMIT_S - (time.time() - started) if len(workloads) == 1 else RUN_LIMIT_S
        res = one_run(jars, w, a.seed, a.seconds, bool(a.trace), a.smoke, max(limit, 30))
        if res is None:
            sys.exit(4)
        print_report(res)
        results.append(res)

    key = "per_layer" if a.trace else "end_to_end"
    if len(results) == 1:
        r = results[0]
        units = r["per_layer_units"] if a.trace else E2E_UNITS
        metrics = {k: {"value": v, "unit": units[k]} for k, v in r[key].items()}
    else:
        metrics = {f"{r['workload']}/{k}": {"value": v, "unit": (r["per_layer_units"] if a.trace
                                                                  else E2E_UNITS)[k]}
                   for r in results for k, v in r[key].items()}
    attempted = sum(r["attempted"] for r in results)
    failed = sum(r["failed"] for r in results)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
