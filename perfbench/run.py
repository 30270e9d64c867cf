#!/usr/bin/env python3
"""Run one benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness with sbt (offline) and caches the classpath under perfbench/target;
later runs reuse it while no source file changed. Each run then starts one
JVM straight from the compiled classpath (not `sbt run`) in a freshly
wiped work directory, perfbench/.work/<workload>, which holds the
generated inputs, the engine's scratch (-Dgraft.scratch), the RunStore
ledger, the Derby home, the warehouse and Spark's local dirs.

The last stdout line is {"correct", "attempted", "failed", "metrics"}:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1 (0 for a layer the workload does not exercise). Check details,
notes and the span trace stay in the work directory; a summary goes to
stderr. perfbench/expected.json holds the recorded analytics result
hashes; it is edited by hand, after review, from the `analytics_hashes`
of a run's result.json.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "perfbench-build.json")
EXPECTED = os.path.join(HERE, "expected.json")

WORKLOADS = ["dag_serve", "analytics_heavy"]
QUERIES = ["graph_pagerank_3iter", "stream_stream_join", "sql_cte_window_topk"]
TEMPLATES = ["revenue_by_region", "segment_topk", "point_lookup",
             "lineitem_range_agg", "catalog_ledger"]

END_TO_END = {
    "setup_s": "s", "unit_s": "s", "op_p50_ms": "ms", "op_geomean_ms": "ms",
    "ops_per_s": "1/s", "peak_rss_mb": "MB",
}


def per_layer():
    """Per-layer metric name -> unit, in BENCHMARK.json order."""
    m = {"ingest.construct_s": "s", "ingest.exec_s": "s",
         "ingest.input_bytes": "bytes", "ingest.jobs": "count",
         "bronze_to_silver.s": "s",
         "bronze_to_silver.shuffle_write_bytes": "bytes",
         "bronze_to_silver.output_bytes": "bytes",
         "bronze_to_silver.output_files": "count",
         "bronze_to_silver.keep_ratio": "ratio",
         "silver_to_gold.s": "s", "silver_to_gold.scan_bytes": "bytes",
         "silver_to_gold.output_bytes": "bytes",
         "storage.bytes_per_bronze_byte": "ratio",
         "dag.append_probe_partitions": "count",
         "train_and_log.s": "s", "train_and_log.jobs": "count",
         "tables.register_views_s": "s", "tables.register_views_calls": "count",
         "setup.session_s": "s", "setup.warmup_s": "s", "setup.gen_s": "s",
         "serve.start_s": "s", "bi.connect_ms": "ms"}
    for t in TEMPLATES:
        m["bi.execute_ms." + t] = "ms"
        m["bi.fetch_ms." + t] = "ms"
    m.update({"bi.jobs_per_stmt": "count", "bi.tasks_per_stmt": "count",
              "bi.scan_bytes_per_stmt": "bytes",
              "op.p95_ms": "ms", "op.samples": "count",
              "servemodel.start_s": "s", "predict_p50_ms": "ms",
              "predict.p95_ms": "ms", "predict.p99_ms": "ms",
              "predict.samples": "count", "predict.gen_lag_ms": "ms"})
    for q in QUERIES:
        for k, u in [("construct_s", "s"), ("plan_s", "s"), ("exec_s", "s"),
                     ("construct_jobs", "count"), ("exec_jobs", "count")]:
            m["q.%s.%s" % (q, k)] = u
    m.update({"analytics.construct_s": "s", "analytics.plan_s": "s",
              "analytics.exec_s": "s", "analytics.construct_jobs": "count",
              "stream.batches": "count", "stream.batch_ms": "ms",
              "stream.state_rows": "count"})
    for k, u in [("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                 ("task_busy_s", "s"), ("task_cpu_s", "s"), ("gc_s", "s"),
                 ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
                 ("spill_bytes", "bytes"), ("scan_bytes", "bytes")]:
        m["spark." + k] = u
    m.update({"trace.unit_s": "s", "host.loadavg_1m": "load",
              "host.nproc": "count", "host.heap_max_mb": "MB"})
    return m


# Spark 4 on JDK 17 outside spark-submit needs these (the engine's build
# passes the same list to forked JVMs).
ADD_OPENS = ["java.base/" + p for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    for base in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]:
        for d, dirs, files in sorted(os.walk(base)):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for p in [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]:
        if os.path.exists(p):
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the cached build matches the sources;
    return the runtime classpath."""
    digest = source_digest()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            st = json.load(fh)
        if st.get("digest") == digest:
            return st["classpath"]
    log("building with sbt (first run in this checkout) ...")
    t0 = time.time()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export perfbench/Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840,
                       stdin=subprocess.DEVNULL)
    lines = p.stdout.splitlines()
    if p.returncode != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("sbt build failed")
    cp = [l for l in lines if l.startswith(os.path.join(HERE, "target"))]
    if not cp:
        raise SystemExit("sbt printed no classpath")
    os.makedirs(TARGET, exist_ok=True)
    with open(STAMP, "w") as fh:
        json.dump({"digest": digest, "classpath": cp[-1]}, fh)
    log("built in %.0f s" % (time.time() - t0))
    return cp[-1]


def run_jvm(classpath, workload, seed, seconds, trace):
    work = os.path.join(HERE, ".work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(work, "scratch"))
    data = os.path.join(HERE, ".work", "data")
    result = os.path.join(work, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # The heap is fixed, and pre-touched so that peak_rss_mb does not
    # depend on which heap pages the collector happened to use: it reads
    # the heap plus the JVM's native memory.
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Dgraft.scratch=" + os.path.join(work, "scratch"),
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false",
            "-cp", classpath, "perfbench.Main", workload, str(seed),
            str(seconds), str(trace), work, data, result]
    env = dict(os.environ)
    env.pop("SPARK_HOME", None)  # the classpath is complete; no spark-submit
    with open(os.path.join(work, "jvm.out"), "w") as out, \
            open(os.path.join(work, "jvm.err"), "w") as err:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=err, env=env,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = p.wait(timeout=170)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit("JVM timed out; see %s/jvm.err" % work)
    if code != 0 or not os.path.exists(result):
        with open(os.path.join(work, "jvm.err")) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        raise SystemExit("JVM exited with %d" % code)
    with open(result) as fh:
        return json.load(fh), work


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) \
            or not os.path.exists(os.path.join(ROOT, "build.sbt")):
        log("engine sources not found next to %s; nothing to benchmark" % HERE)
        return 2
    res, work = run_jvm(build(), a.workload, a.seed, a.seconds, a.trace)

    attempted, failed = res["attempted"], res["failed"]
    checks = res["checks"]
    if a.workload == "analytics_heavy":
        got = res.get("analytics_hashes", {})
        with open(EXPECTED) as fh:
            want = json.load(fh)["analytics_hashes"]
        for q in QUERIES:
            ok = got.get(q) == want.get(q)
            attempted += 1
            failed += 0 if ok else 1
            checks.append({"name": "analytics: %s result hash" % q, "ok": ok,
                           "detail": "" if ok else "got %s, recorded %s"
                           % (got.get(q), want.get(q))})

    spec = per_layer() if a.trace else END_TO_END
    metrics, missing = {}, []
    for name, unit in spec.items():
        v = res["metrics"].get(name)
        if v is None and not a.trace:
            missing.append(name)
        metrics[name] = {"value": v if v is not None else 0, "unit": unit}
    for c in checks:
        if not c["ok"]:
            log("CHECK FAILED: %s: %s" % (c["name"], c["detail"]))
    for n in res.get("notes", []):
        log("note: " + n)
    if missing:
        log("missing end-to-end metrics: %s" % ", ".join(missing))
    log("%d checks, %d operations attempted, %d failed; details in %s"
        % (len(checks), attempted, failed, work))
    correct = failed == 0 and not missing and all(c["ok"] for c in checks)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
