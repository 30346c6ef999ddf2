#!/usr/bin/env python3
"""Benchmark of the graft engine: two workloads, one command.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 5 --trace 0

Run from the repository root. The first run compiles the engine and
the benchmark harness into `.bench_build/` (Scala compiler from the
Spark distribution at $SPARK_HOME) and records a class-data archive;
later runs reuse the build while the sources are unchanged. The tables are the sf0.1 test tables under
`perfbench/sf0.1/`; every other input is generated from `--seed` under
`.bench_work/`, which is removed after the run. The last line of
stdout is the result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of a traced run (which first sends one round of requests
untraced and traced, to measure the tracing overhead). Each result is
also kept in `.bench_out/<workload>-seed<N>-trace<T>.json` for
`compare.py`.
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
import zipfile

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
JAR = os.path.join(BUILD, "perfbench.jar")
# Class-data archive of a short training run: a JVM that maps the
# Spark and engine classes from it, instead of loading them from the
# jars, starts a Spark session and runs its first query about twice as
# fast, which takes about 7 s off every run on a 4-core box.
ARCHIVE = os.path.join(BUILD, "classes.jsa")
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")
RUN_LIMIT_S = 170  # a run, after the build, ends well inside 180 s

# Pinned engine settings: local[CORES] with shuffle partitions = CORES,
# a fixed driver heap of HEAP under the parallel collector. Timings
# shift with heap size, and a heap that grows on demand makes the
# resident-set peak depend on GC timing, so neither floats.
CORES = min(4, os.cpu_count() or 1)
HEAP = "2g"

END_TO_END = {"setup_s": "s", "ops_per_s": "1/s", "latency_p50_ms": "ms",
              "rows_per_s": "rows/s", "peak_rss_mb": "MB"}

# Every per-layer metric, (name, unit, better). A traced run reports
# all of them; a layer the workload never calls reads 0.
PER_LAYER = [
    ("spark.jobs", "count", "lower"), ("spark.tasks", "count", "lower"),
    ("spark.task_run_ms", "ms", "lower"), ("spark.core_util", "fraction", "higher"),
    ("spark.queue_wait_ms", "ms", "lower"), ("spark.shuffle_bytes", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"), ("spark.gc_ms", "ms", "lower"),
    ("spark.failed_tasks", "count", "lower"),
    ("tables.input_bytes", "bytes", "lower"), ("tables.input_rows", "count", "lower"),
    ("relational.construct_ms", "ms", "lower"), ("relational.execute_ms", "ms", "lower"),
    ("relational.jobs_per_query", "count", "lower"),
    ("ingest.parse_ms", "ms", "lower"), ("ingest.quarantined_rows", "count", "lower"),
    ("upsert.merge_ms", "ms", "lower"), ("jdbc_upsert.ms", "ms", "lower"),
    ("jdbc_upsert.rows", "count", "lower"), ("bucketed.backfill_ms", "ms", "lower"),
    ("bucketed.files_written", "count", "lower"),
    ("pipeline.day_step_ms", "ms", "lower"), ("pipeline.jobs_per_day", "count", "lower"),
    ("pipeline.core_util", "fraction", "higher"), ("pipeline.kept_ratio", "fraction", "higher"),
    ("similarity.serve_ms", "ms", "lower"), ("similarity.append_ms", "ms", "lower"),
    ("similarity.delete_ms", "ms", "lower"), ("similarity.rows_read_per_query", "count", "lower"),
    ("similarity.files_per_bucket", "count", "lower"),
    ("similarity.recall_at_10", "fraction", "higher"),
    ("search.bm25_serve_ms", "ms", "lower"), ("search.hybrid_serve_ms", "ms", "lower"),
    ("search.append_ms", "ms", "lower"), ("search.delete_ms", "ms", "lower"),
    ("search.rows_read_per_query", "count", "lower"),
    ("client.self_ms", "ms", "lower"), ("relational.self_ms", "ms", "lower"),
    ("ingest.self_ms", "ms", "lower"), ("upsert.self_ms", "ms", "lower"),
    ("jdbc_upsert.self_ms", "ms", "lower"), ("bucketed.self_ms", "ms", "lower"),
    ("similarity.self_ms", "ms", "lower"), ("search.self_ms", "ms", "lower"),
    ("trace.overhead_p50_ms", "ms", "lower"), ("trace.overhead_ops_pct", "%", "lower"),
]

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def make_inputs(workload, seed, out):
    rng = np.random.default_rng(seed)
    if workload == "dashboard":
        gen.dashboard(rng, out, n_queries=22, passes=40)
    elif workload == "search_serve":
        gen.search_serve(rng, out, held_share=0.2, n_reads=60, n_writes=60, batch=16,
                         ingest=dict(n_days=30, games_per_day=40, bad_share=0.08))
    else:
        raise SystemExit(f"unknown workload {workload}")


def oracle_checks(results_dir):
    """The repository's DuckDB oracle compare over the dashboard's
    reference results: {"oracle.<query>": "" if equal else reason}."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                        gen.TABLES, results_dir], stdout=subprocess.PIPE, text=True)
    checks = {}
    for line in r.stdout.splitlines():
        status, _, rest = line.partition(" ")
        q, _, why = rest.strip().partition(":")
        if status == "OK":
            checks[f"oracle.{q.split()[0]}"] = ""
        elif status == "FAIL":
            checks[f"oracle.{q}"] = why.strip() or "failed"
    if r.returncode != 0 and not any(checks.values()):
        checks["oracle"] = f"check_oracle.py exited with code {r.returncode}"
    return checks


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise SystemExit("no Spark distribution: set SPARK_HOME")
    return jars


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")]
    if not os.path.isdir(roots[0]):
        raise SystemExit("engine sources (src/main/scala) not found: run from the repository root")
    files = []
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def build(jars):
    """Compile engine + harness once per source state, jar them (a
    class-data archive takes only jars) and record the archive."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-Ybackend-parallelism", str(CORES), "-usejavacp", "-classpath", CLASSES, "-nowarn", "-d", CLASSES] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed")
    with zipfile.ZipFile(JAR, "w") as z:
        for d, _, fs in os.walk(CLASSES):
            for f in fs:
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), CLASSES))
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    work = os.path.join(WORK, f"train-{os.getpid()}")
    os.makedirs(work)
    try:
        run_jvm(jars, ["train", gen.TABLES, "-", work, "0", "0", "-", str(CORES)], work,
                RUN_LIMIT_S, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


def log(msg):
    print(f"[run.py {time.strftime('%X')}] {msg}", file=sys.stderr, flush=True)


def run_jvm(jars, args, work, limit_s, flags=()):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if os.path.exists(ARCHIVE):
        flags = [f"-XX:SharedArchiveFile={ARCHIVE}", *flags]
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
            "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"), *flags]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", JAR + os.pathsep + os.path.join(jars, "*"), "perfbench.Main"] + args)
    p = subprocess.Popen(cmd, stdout=subprocess.DEVNULL, start_new_session=True, cwd=work)
    try:
        p.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(f"benchmark JVM exceeded {limit_s:.0f} s")
    if p.returncode != 0:
        raise SystemExit(f"benchmark JVM failed with code {p.returncode}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["dashboard", "search_serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    jars = spark_jars()
    build(jars)
    log("built")
    t_start = time.time()
    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs, run = os.path.join(work, "input"), os.path.join(work, "run")
    os.makedirs(run)
    try:
        make_inputs(a.workload, a.seed, inputs)
        log("inputs generated")
        res_file = os.path.join(work, "result.json")
        run_jvm(jars, [a.workload, gen.TABLES, inputs, run, str(a.seconds), str(a.trace),
                       res_file, str(CORES)], run, RUN_LIMIT_S - (time.time() - t_start))
        with open(res_file) as f:
            res = json.load(f)
        checks = res["checks"]
        if a.workload == "dashboard":
            log("comparing with the DuckDB oracle")
            checks.update(oracle_checks(os.path.join(run, "oracle")))
        if a.trace:
            os.makedirs(OUT, exist_ok=True)
            shutil.copy(os.path.join(run, "spans.jsonl"),
                        os.path.join(OUT, f"{a.workload}-seed{a.seed}-spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(WORK) and not os.listdir(WORK):
            os.rmdir(WORK)

    log("done")
    bad = {k: v for k, v in checks.items() if v}
    for k, v in bad.items():
        print(f"check failed: {k}: {v}", file=sys.stderr)
    if a.trace:
        metrics = {k: {"value": res["layers"].get(k) or 0.0, "unit": u} for k, u, _ in PER_LAYER}
    else:
        metrics = {k: {"value": res["end_to_end"][k], "unit": u} for k, u in END_TO_END.items()}
    result = {"correct": not bad and res["failed"] == 0, "attempted": res["attempted"],
              "failed": res["failed"], "metrics": metrics}
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(dict(result, checks=checks, raw=res), f, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
