#!/usr/bin/env python3
"""Delivered-result benchmark of the graft query library.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the program and the harness from
source (perfbench/build.sh, once per source state), generates the input
world from the seed (perfbench/gen.py), and runs the workload's queries
in one fresh JVM on local[<cores>]: a closed loop, one thread
submitting one query after another. Every query is billed from the call
into its pack function to the last row of its ordered result written to
a noop-style sink, including the storage release after it. Outputs are
checked against the program's DuckDB oracles.

The last stdout line is one JSON object: `correct`, `attempted`, `failed`
and `metrics`, the end-to-end metrics with --trace 0 and the per-layer
metrics (report.PER_LAYER) with --trace 1. The lines before it are a
readable table of the same figures.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import report  # noqa: E402

BUILD = ".bench_build"
PROGRAM = "src/main/scala/graft/SparkEntry.scala"

# Each workload: why it was chosen, and its queries by the layer
# (report.MODULES) their build span bills. 22 runs per workload and four
# more, each a fresh JVM with ~10 s of set-up and a first pass two to
# three times a steady one, must fit the hour a full measurement of the
# benchmark may take; two workloads leave room for two or more steady
# passes each.
WORKLOADS = {
    "tpch_sql": {
        "why": "sql_tpch_q5 and q21 on a 60k-row lineitem star: planning, joins and the "
               "per-query view-registration floor; no pins or writes, so text, vector and "
               "write-path changes bypass it.",
        "queries": {"sql": ["sql_tpch_q5", "sql_tpch_q21"]},
    },
    "llm_curate": {
        "why": "dedup_clusters, embed_kmeans, pipeline_docs_curate, ingest_partitioned, "
               "stream_stateful: build-time counts, pins, CC and Lloyd loops, a partitioned "
               "write every pass, a stateful stream.",
        "queries": {"text": ["dedup_clusters"], "vec": ["embed_kmeans"],
                    "pipeline": ["pipeline_docs_curate"], "io": ["ingest_partitioned"],
                    "stream": ["stream_stateful"]},
    },
}

JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
JVM_TIMEOUT_S = 150


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha1()
    for top in ("src/main/scala", "perfbench/src"):
        for d, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open("perfbench/build.sh", "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else beside spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("Spark not found: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def build():
    """Compile once per source state; returns the classes directory."""
    digest = sources_digest()
    stamp = os.path.join(BUILD, "stamp")
    if not (os.path.exists(stamp) and open(stamp).read() == digest):
        if os.path.exists(stamp):
            os.remove(stamp)
        r = subprocess.run(["bash", "perfbench/build.sh", BUILD, spark_jars()],
                           stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            fail("build failed")
        with open(stamp, "w") as fh:
            fh.write(digest)
    return os.path.join(BUILD, "classes")


def jvm(classes, work, args, log):
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java"] + [a for p in JVM_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-Xmx3g", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            f"-Dspark.local.dir={work}/local",
            "-cp", f"{classes}:{jars}", "perfbench.Harness"] + args
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()))
    env.pop("SPARK_LOCAL_DIRS", None)
    with open(log, "a") as fh:
        try:
            rc = subprocess.run(cmd, stdout=fh, stderr=fh, env=env,
                                timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = "a timeout"
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(f"harness ended with {rc}")


def cores():
    return len(os.sched_getaffinity(0))


def oracle_check(world, verify_dir, names):
    """Per query: (ok, rows, message), compared the way tools/check.py
    compares (columns by name, exact values row by row, floats by bits).
    A query without an oracle passes on a non-empty result."""
    sys.path.insert(0, "tools")
    import check
    import duckdb
    con = duckdb.connect()
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{world}/{t}.parquet')")
    with open(f"{verify_dir}/oracle_sql.json") as fh:
        oracle = json.load(fh)
    out = {}
    for name in names:
        files = sorted(f for f in os.listdir(f"{verify_dir}/{name}") if f.endswith(".parquet")) \
            if os.path.isdir(f"{verify_dir}/{name}") else []
        if not files:
            out[name] = (False, -1, "no output")
            continue
        got_cols, got = check.rows_of(con.sql(
            f"SELECT * FROM read_parquet('{verify_dir}/{name}/{files[0]}')"))
        if name not in oracle:
            out[name] = (len(got) > 0, len(got), "no oracle: row count only")
            continue
        try:
            rel = con.sql(oracle[name])
            bad = check.bad_types(rel)
            exp_cols, exp = check.rows_of(rel)
        except duckdb.Error as e:
            out[name] = (False, len(got), f"oracle error: {e}")
            continue
        if bad or got_cols != exp_cols or got != exp:
            out[name] = (False, len(got), f"differs from oracle ({len(exp)} rows expected)")
        else:
            out[name] = (True, len(got), "matches oracle")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(PROGRAM):
        fail(f"{PROGRAM} not found: run from the root of the repository")
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; one of {', '.join(WORKLOADS)}")
    modules = {q: m for m, qs in WORKLOADS[a.workload]["queries"].items() for q in qs}
    os.makedirs(BUILD, exist_ok=True)
    classes = build()
    work = os.path.abspath(tempfile.mkdtemp(prefix="run-", dir=BUILD))
    try:
        return measure(a, modules, classes, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        # the program keeps ingest layouts under /tmp/graft_ingest/<its
        # input dir with [^A-Za-z0-9.] as _>; the input dir is this
        # run's own, so its layouts are written cold and removed here
        for d in glob.glob("/tmp/graft_ingest/" + re.sub(r"[^A-Za-z0-9.]", "_", work) + "_*"):
            shutil.rmtree(d, ignore_errors=True)


def measure(a, modules, classes, work):
    world, out, log = (f"{work}/{d}" for d in ("world", "out", "jvm.log"))
    for d in (out, f"{work}/tmp"):
        os.makedirs(d)
    gen.main(world, a.seed)
    spec = ",".join(f"{q}={m}" for q, m in modules.items())
    jvm(classes, work, [world, out, str(a.seconds), str(a.trace), spec], log)
    with open(f"{out}/result.json") as fh:
        res = json.load(fh)
    checked = oracle_check(world, f"{out}/verify", list(modules))

    passes = res["passes"]
    if "io" in modules.values() and not all(report.written_mb(p, modules) > 0 for p in passes):
        fail("a pass wrote no bytes (io.write_mb 0): the ingest layouts were not written cold")
    timed = [q for p in passes for q in p["queries"]]
    bad = [q for q in timed if q["error"] or not checked[q["name"]][0]
           or q["rows"] != checked[q["name"]][1]]
    steady = [report.pass_totals(p) for p in passes if p["kind"] == "steady" and not p["traced"]]
    e2e = {
        "setup_s": res["setup_s"],
        "first_pass_s": passes[0]["wall_s"],
        "delivered_s": report.median([t["wall_s"] for t in steady]),
        "executor_cpu_s": report.median([t["cpu_s"] for t in steady]),
        "peak_task_mem_mb": report.median([t["peak_mb"] for t in steady]),
    }
    for name, (ok, rows, msg) in sorted(checked.items()):
        print(f"{'PASS' if ok else 'FAIL'}  {name}: {rows} rows, {msg}")
    for q in passes[0]["queries"]:
        if q["verify_error"]:
            print(f"FAIL  {q['name']}: result dump failed: {q['verify_error']}")
    print(f"{a.workload}: seed {a.seed}, local[{res['cores']}], one closed-loop client, "
          f"{len(steady)} steady passes of {len(modules)} queries")
    units = dict(report.END_TO_END)
    for k, v in e2e.items():
        print(f"  {k:<22} {v:12.4f} {units[k]}")
    print(f"  {'failed_frac':<22} {len(bad) / len(timed):12.4f} ratio")
    if a.trace:
        # every span, job, plan and micro-batch of the run, kept for reading
        shutil.copy(f"{out}/result.json", f"{BUILD}/trace-{a.workload}-{a.seed}.json")
        traced = [p for p in passes if p["traced"]]
        per = [report.layers(p, modules, res["cores"], res["epoch_offset_ns"]) for p in traced]
        metrics = {k: report.median([m[k] for m in per]) for k in report.PER_LAYER}
        metrics["trace.overhead_s"] = (report.median([p["wall_s"] for p in traced])
                                       - e2e["delivered_s"])
        for k, v in metrics.items():
            unit, _, moves = report.PER_LAYER[k]
            print(f"  {k:<26} {v:14.4f} {unit:<6} -> {moves}")
        shown = {k: (v, report.PER_LAYER[k][0]) for k, v in metrics.items()}
    else:
        shown = {k: (v, units[k]) for k, v in e2e.items()}
    print(report.render(not bad, len(timed), len(bad), shown))
    return 0


if __name__ == "__main__":
    sys.exit(main())
