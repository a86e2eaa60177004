#!/usr/bin/env python3
"""The engine's end-to-end benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The run builds the engine and the harness
from the checkout's sources when they changed (sbt, offline), generates
the workload's inputs from the seed, starts one JVM (its start-up is the
set-up time), runs the workload in it for `--seconds` and at least the
workload's minimum number of operations, checks every output, and prints
as its last line one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end metrics; with `--trace 1` they are the
per-layer metrics of a traced run. The line before it is a report with
the workload's own named metrics and the machine facts.

Everything the run writes stays under `.bench_build/` in the checkout.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(BENCH, "harness")
HEAP, YOUNG = "3g", "512m"
RUN_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 850

WORKLOADS = ["etl_sql", "curation_ann"]
# Minimum operations per run. `etl_sql`: landing rounds (the first is cold
# and reported apart), then SQL queries (the 11 odd-numbered ones; a traced
# run runs all 21). `curation_ann`: jobs (fresh curation, in the first job
# its repeat, one IVF-PQ build + search) after the warm-up job. A run does
# more only while `--seconds` allows.
MIN_ROUNDS = {"etl_sql": 8, "curation_ann": 2}
MIN_QUERIES = {"etl_sql": 11, "curation_ann": 0}
SQL_QUERIES = 21
# Landing sizes. The landing phase has half of `--seconds`, and a warm
# round takes longer than ETL_ROUND_FLOOR_S, so `seconds / 2 /
# ETL_ROUND_FLOOR_S` rounds are more than that phase can drain.
ETL_OBJECTS, ETL_RECORDS = 3, 250
ETL_ROUND_FLOOR_S = 2.0
# A warm `curation_ann` job takes longer than JOB_FLOOR_S (about 11 s on
# the machine in README.md), and its warm-up job too, so a run of
# `--seconds` needs at most `seconds / JOB_FLOOR_S` jobs. The warm-up job
# is small: it only has to load and compile the code paths.
JOB_FLOOR_S = 10.0
WARMUP_DOCS, WARMUP_VECTORS = 60, 400

JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "jdk.internal.ref", "sun.nio.ch", "sun.nio.cs", "sun.security.action",
    "sun.util.calendar")]


def die(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------------ build

def _source_stamp():
    h = hashlib.sha256()
    for base in ("build.sbt", "project", "src/main", os.path.relpath(HARNESS, ROOT)):
        p = os.path.join(ROOT, base)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(p)
            if "target" not in os.path.relpath(d, p).split(os.sep) for f in fs)
        for f in paths:
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile the engine and the harness (one sbt invocation); returns the
    runtime classpath. Skipped when the sources are unchanged."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("no engine sources (build.sbt, src/main/scala/graft) in the working directory")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "classpath.json")
    stamp = _source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
            timeout=BUILD_TIMEOUT_S).returncode
    with open(log) as f:
        lines = f.read().splitlines()
    cp = [ln for ln in lines if "classes" in ln and ":" in ln and not ln.startswith("[")]
    if rc != 0 or not cp:
        die(f"build failed (exit {rc}); see {log}:\n" + "\n".join(lines[-20:]))
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp[-1]}, f)
    return cp[-1]


# ----------------------------------------------------------------- inputs

def generate(workload, seed, seconds, trace, in_dir):
    """The workload's inputs: only what a run of `seconds` can consume."""
    if workload == "etl_sql":
        rounds = max(MIN_ROUNDS[workload], math.ceil(seconds / 2 / ETL_ROUND_FLOOR_S))
        info = gen.ndjson_objects(seed, os.path.join(in_dir, "landing"), rounds,
                                  ETL_OBJECTS, ETL_RECORDS)
        return dict(info, tpch=gen.tpch(seed, os.path.join(in_dir, "tpch")))
    # one fresh documents snapshot and embeddings table per job; a traced
    # run adds one snapshot per timed curation stage
    jobs = max(MIN_ROUNDS[workload], math.ceil(seconds / JOB_FLOOR_S))
    warm = os.path.join(in_dir, "w000")
    gen.documents(seed, 1000, warm, n_docs=WARMUP_DOCS)
    gen.embeddings(seed, 1000, warm, n_vectors=WARMUP_VECTORS)
    for i in range(jobs):
        docs = gen.documents(seed, i, os.path.join(in_dir, f"j{i:03d}"))
        vecs = gen.embeddings(seed, i, os.path.join(in_dir, f"j{i:03d}"))
    for i in range(5 if trace else 0):
        gen.documents(seed, 100 + i, os.path.join(in_dir, f"t{i:03d}"))
    return dict(docs, **vecs, jobs=jobs)


# ---------------------------------------------------------------- harness

def min_queries(workload, trace):
    if workload == "etl_sql" and trace:
        return SQL_QUERIES
    return MIN_QUERIES[workload]


def java_cmd(classpath, tmp, args):
    # A fixed heap and young generation: the footprint then follows what
    # the program retains, not G1's adaptive sizing (peak RSS spread
    # across runs fell from ~15% to under 1%).
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC",
             # the engine's measured session config (its Bench and Verify)
             "-Dspark.sql.codegen.cache.maxEntries=10000",
             "-Dspark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true"]
            + JAVA_OPENS + ["-cp", classpath, "perfbench.Main"] + args)


def launch(classpath, run_dir, args, deadline):
    """Start one harness JVM and wait for it until the deadline; returns
    (set-up seconds, exit code or None on timeout). Set-up is the time from
    process start to the harness's READY line."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    ready = []
    with open(os.path.join(run_dir, "harness.log"), "a") as err:
        t0 = time.monotonic()
        p = subprocess.Popen(java_cmd(classpath, tmp, args), cwd=run_dir,
                             stdout=subprocess.PIPE, stderr=err, text=True)

        def read():
            for line in p.stdout:
                if not ready and line.strip() == "READY":
                    ready.append(time.monotonic() - t0)

        reader = threading.Thread(target=read, daemon=True)
        reader.start()
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = None
            p.kill()
            p.wait()
        reader.join()
    return (ready[0] if ready else None), rc


def log_tail(run_dir):
    with open(os.path.join(run_dir, "harness.log")) as f:
        return "\n".join(f.read().splitlines()[-25:])


# ---------------------------------------------------------------- metrics

def _median(xs):
    return statistics.median(xs) if xs else 0.0


def workload_report(workload, res, info):
    """The workload's own named metrics, and the two timings the
    end-to-end metrics take from them: `ingest_s` and `query_s`."""
    ops = [o for o in res["ops"] if o.get("ok")]
    of = lambda kind: [o for o in ops if o.get("kind") == kind]
    r = {}
    if workload == "etl_sql":
        # The first landing round runs in a cold JVM; it is reported apart
        # and the warm rounds after it give the medians and the rate.
        rounds = of("round")
        warm = rounds[1:]
        records = info["objects_per_round"] * info["records_per_object"]
        r["etl_first_round_s"] = rounds[0]["seconds"] if rounds else 0.0
        r["etl_round_p50_s"] = _median([o["seconds"] for o in warm])
        r["etl_drain_p50_s"] = _median([o["drain_s"] for o in warm])
        wall = sum(o["seconds"] for o in warm)
        r["etl_records_per_s"] = len(warm) * records / wall if wall else 0.0
        secs = [o["seconds"] for o in of("query")]
        r["sql_query_p50_s"] = _median(secs)
        r["sql_queries"] = len(secs)
        r["ingest_s"], r["query_s"] = r["etl_round_p50_s"], r["sql_query_p50_s"]
    else:
        # The small warm-up job runs in the cold JVM; it is reported apart
        # and the jobs after it give the medians.
        fresh, repeat, anns = of("fresh"), of("repeat"), of("ann")
        r["warmup_job_s"] = sum(o["seconds"] for o in ops if o["kind"].startswith("warmup_"))
        r["curation_fresh_s"] = _median([o["seconds"] for o in fresh])
        r["curation_repeat_s"] = _median([o["seconds"] for o in repeat])
        r["curation_docs_per_s"] = (info["docs"] / r["curation_fresh_s"]
                                    if r["curation_fresh_s"] else 0.0)
        r["ann_s"] = _median([o["seconds"] for o in anns])
        r["ann_recall_at3"] = (sum(o["recall_hits"] for o in anns) / sum(o["rows"] for o in anns)
                               if anns else 0.0)
        r["jobs"] = len(fresh)
        r["ingest_s"], r["query_s"] = r["curation_fresh_s"], r["ann_s"]
    r["peak_rss_mb"] = res["peak_rss_mb"]
    r["n_ops"] = len([o for o in res["ops"] if o.get("kind") != "stage"])
    r["op_seconds"] = [[o.get("kind"), round(o["seconds"], 3)] for o in ops]
    return r


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    deadline = time.monotonic() + RUN_TIMEOUT_S

    classpath = build()
    deadline = max(deadline, time.monotonic() + RUN_TIMEOUT_S)
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    in_dir, out_dir = os.path.join(run_dir, "in"), os.path.join(run_dir, "out")
    os.makedirs(out_dir)
    try:
        t0 = time.monotonic()
        info = generate(a.workload, a.seed, a.seconds, a.trace, in_dir)
        gen_s = time.monotonic() - t0

        t1 = time.monotonic()
        setup, rc = launch(classpath, run_dir, [
            "--workload", a.workload, "--in", in_dir, "--out", out_dir,
            "--seconds", str(a.seconds), "--seed", str(a.seed),
            "--min-rounds", str(MIN_ROUNDS[a.workload]),
            "--min-queries", str(min_queries(a.workload, a.trace)),
            "--trace", str(a.trace)], deadline)
        jvm_s = time.monotonic() - t1
        result_file = os.path.join(out_dir, "result.json")
        if rc != 0 or setup is None or not os.path.exists(result_file):
            die(f"harness failed (exit {rc}):\n{log_tail(run_dir)}")
        with open(result_file) as f:
            res = json.load(f)

        t2 = time.monotonic()
        checks = check.oracle(res["dumps"], res["oracles"])
        if a.workload == "etl_sql":
            checks = check.etl(in_dir, res) + checks
        check_s = time.monotonic() - t2
        ops = res["ops"]
        failed_ops = [o for o in ops if not o.get("ok")]
        failed_checks = [c for c in checks if not c[1]]
        attempted = len(ops) + len(checks)
        failed = len(failed_ops) + len(failed_checks)

        report = workload_report(a.workload, res, info)
        report.update({
            "setup_s": setup, "session_s": res["session_s"], "warmup_s": res["warmup_s"],
            "gen_s": gen_s, "jvm_s": jvm_s, "check_s": check_s,
            "measured_s": res["measured_ms"] / 1000,
            "ops_failed_share": failed / attempted, "checks": len(checks),
            "inputs": info,
            "machine": {"nproc": res["cores"], "master": res["master"],
                        "max_heap_mb": res["max_heap_mb"]}})
        for o in failed_ops:
            print(f"[perfbench] failed op {o.get('kind')} {o.get('name')}: "
                  f"{o.get('error', 'result differs from the first run')}", file=sys.stderr)
        for c in failed_checks:
            print(f"[perfbench] failed check {c[0]}: {c[2]}", file=sys.stderr)
        print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                          "report": report}))

        if a.trace:
            metrics = layers.per_layer(res, info)
        else:
            metrics = {
                "setup_s": (report["setup_s"], "s"),
                "ingest_s": (report["ingest_s"], "s"),
                "query_s": (report["query_s"], "s"),
                "peak_rss_mb": (report["peak_rss_mb"], "MB"),
            }
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
