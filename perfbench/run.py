#!/usr/bin/env python3
"""Benchmark for the topic analyzer and its text-query registry.

Run from the repository root:

    python3 perfbench/run.py --workload topic_scan --seed 1 --seconds 15 --trace 0

Builds the program from ``src/main/scala`` (cached under
``.bench_build/``), generates the workload's input from ``--seed``, runs
the workload in a closed loop with one client for ``--seconds`` against a
``local[<cores>]`` Spark session, checks every output against a DuckDB
oracle, and prints one JSON object as its last stdout line: end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.
Workloads, metrics and how they interact are described in
``perfbench/README.md``.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import oracle  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
JVM_TIMEOUT_S = 170
WORKLOADS = ("topic_scan", "corpus_text")

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "pass_tail_s": "s", "op_p50_s": "s",
    "op_tail_s": "s", "records_per_s": "1/s", "peak_rss_mb": "MiB",
}
PER_LAYER = {
    "sources.scan_s": "s", "sources.scan_tasks_n": "count",
    "sources.input_bytes": "B", "sources.project_s": "s",
    "operators.is_empty_s": "s", "operators.analyze_s": "s",
    "operators.topic_metrics_s": "s", "operators.alive_keys_s": "s",
    "operators.bpe_merges_s": "s", "operators.bpe_encode_s": "s",
    "operators.bpe_fit_s": "s", "functions.redact_pii_s": "s",
    "functions.clean_text_s": "s", "report.render_s": "s",
    "registry.build_s": "s", "registry.plan_s": "s", "registry.exec_s": "s",
    "registry.release_s": "s", "registry.jobs_n": "count",
    "registry.build_jobs_n": "count", "exec.jobs_n": "count",
    "exec.stages_n": "count", "exec.tasks_n": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.core_util": "ratio",
    "exec.spill_bytes": "B", "exec.shuffle_write_bytes": "B",
    "exec.shuffle_read_bytes": "B", "exec.fetch_wait_s": "s",
    "exec.gc_s": "s", "exec.jit_s": "s", "op.self_s": "s",
    "trace.pass_s": "s", "trace.untraced_pass_s": "s",
    "trace.overhead_s": "s",
}
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The Spark jars, ``$SPARK_HOME/jars``; they also ship scalac."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        sys.exit("perfbench: no Spark jars found; set SPARK_HOME")
    return os.path.join(jars, "*")


def sources_under(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(paths, salt=""):
    h = hashlib.sha256(salt.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def scalac(srcs, out, classpath):
    """Compile ``srcs`` into the jar ``out`` (atomically, via a temp jar)."""
    tmp = out + ".tmp.jar"
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", spark_jars(),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", classpath] + srcs
    t0 = time.time()
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"perfbench: compiling {len(srcs)} sources failed")
    os.rename(tmp, out)
    log(f"compiled {len(srcs)} sources in {time.time() - t0:.1f} s")


def build():
    """The classpath of the program and the benchmark runner, and the
    class-data archive of the two; each is built when missing."""
    app_srcs = sources_under(os.path.join(ROOT, "src", "main", "scala"))
    drv_srcs = sources_under(os.path.join(BENCH_DIR, "src"))
    if not app_srcs or not drv_srcs:
        sys.exit("perfbench: program sources not found; run from the "
                 "repository root")
    os.makedirs(BUILD, exist_ok=True)
    jars = spark_jars()
    app = os.path.join(BUILD, f"app-{digest(app_srcs)}.jar")
    if not os.path.exists(app):
        scalac(app_srcs, app, jars)
    drv_id = digest(drv_srcs, os.path.basename(app))
    drv = os.path.join(BUILD, f"drv-{drv_id}.jar")
    if not os.path.exists(drv):
        scalac(drv_srcs, drv, os.pathsep.join([app, jars]))
    classpath = os.pathsep.join([drv, app, jars])
    archive = os.path.join(BUILD, f"classes-{drv_id}.jsa")
    if not os.path.exists(archive):
        dump_class_archive(classpath, archive)
    return classpath, archive


def dump_class_archive(classpath, archive):
    """Dump the classes a short ``corpus_text`` run loads into a CDS
    archive. Measured runs map it, which takes about 5 s of class loading
    off each JVM start; the archive changes no code that runs."""
    t0 = time.time()
    work = os.path.join(BUILD, f"dump-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        gen.documents(0, os.path.join(work, "documents.parquet"),
                      dict(gen.CORPUS, docs=100, poisoned=0))
        run_jvm(classpath, None,
                ["corpus_text", work, "0", "0", str(cores()),
                 os.path.join(work, "result.json"),
                 os.path.join(work, "spans.jsonl")],
                os.path.join(work, "tmp"),
                [f"-XX:ArchiveClassesAtExit={archive}.tmp", "-Xlog:cds=off"])
        os.rename(archive + ".tmp", archive)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    log(f"dumped the class-data archive in {time.time() - t0:.1f} s")


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(classpath, archive, args, tmp, extra=()):
    # a fixed, pre-touched heap: pass times do not pay for heap growth,
    # and peak RSS moves only with the program's off-heap footprint
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false",
            "-Dlog4j2.configurationFile="
            + os.path.join(BENCH_DIR, "log4j2.properties")]
           + ([f"-XX:SharedArchiveFile={archive}"] if archive else [])
           + list(extra)
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.BenchRunner"] + args)
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: program did not finish in {JVM_TIMEOUT_S} s")
    finally:
        # also on SIGTERM (raised as SystemExit below): never leave the
        # JVM running
        if p.poll() is None:
            p.kill()
            p.wait()
    if code != 0:
        sys.exit(f"perfbench: program exited with code {code}")


def tail(xs):
    """The highest-ranked sample with at least ten samples above it, and
    its percentile, never below the median: with fewer than 21 samples
    no percentile above the median has ten samples beyond it, so the
    tail is the median (p50)."""
    s = sorted(xs)
    if len(s) < 21:
        return statistics.median(s), 50.0
    k = len(s) - 11
    return s[k], 100.0 * k / (len(s) - 1)


def generate(workload, seed, data):
    t0 = time.time()
    if workload == "corpus_text":
        n = gen.documents(seed, os.path.join(data, "documents.parquet"))
    else:
        n = gen.topic_log(workload, seed, os.path.join(data, "log.parquet"))
    log(f"generated {n} input rows in {time.time() - t0:.2f} s")
    return n


def main():
    # a terminated run unwinds: the JVM is stopped and the run directory
    # removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath, archive = build()
    run_dir = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    try:
        n_rows = generate(a.workload, a.seed, run_dir)
        out_json = os.path.join(run_dir, "result.json")
        spans = os.path.join(run_dir, "spans.jsonl")
        run_jvm(classpath, archive,
                [a.workload, run_dir, str(a.seconds), str(a.trace),
                 str(cores()), out_json, spans], tmp)
        with open(out_json) as f:
            res = json.load(f)
        checks = oracle.check(a.workload, res, run_dir, n_rows, tmp)
        if a.trace:
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(spans, os.path.join(
                traces, f"{a.workload}-seed{a.seed}.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    bad_checks = [c for c in checks if not c[1]]
    for name, ok, detail in checks:
        log(f"check {'OK  ' if ok else 'FAIL'} {name}{': ' + detail if detail else ''}")
    ops = res["ops"]
    failed_ops = [o for o in ops if not o["ok"]]
    attempted = len(ops) + len(checks)
    failed = len(failed_ops) + len(bad_checks)
    log(f"error_rate {failed}/{attempted} = {failed / attempted:.4f}")

    if a.trace:
        layers = res["layers"]
        if set(layers) != set(PER_LAYER):
            sys.exit("perfbench: runner emitted layers "
                     f"{sorted(set(layers) ^ set(PER_LAYER))} unexpectedly")
        metrics = {k: {"value": layers[k], "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        passes = res["pass_s"]
        op_s = [o["s"] for o in ops]
        pass_tail, pass_pct = tail(passes)
        op_tail, op_pct = tail(op_s)
        log("passes: " + " ".join(f"{x:.3f}" for x in passes))
        log(f"{len(passes)} passes, {len(op_s)} ops; pass_tail_s is "
            f"p{pass_pct:.1f}, op_tail_s is p{op_pct:.1f}; setup rounds "
            + ", ".join(f"{x:.3f}" for x in res["setup_s"]))
        by_op = {}
        for o in ops:
            by_op.setdefault(o["name"], []).append(o["s"])
        log("op medians: " + ", ".join(
            f"{k} {statistics.median(v):.3f}" for k, v in
            sorted(by_op.items(), key=lambda kv: -statistics.median(kv[1]))))
        pass_med = statistics.median(passes)
        values = {
            "setup_s": statistics.median(res["setup_s"]),
            "pass_s": pass_med,
            "pass_tail_s": pass_tail,
            "op_p50_s": statistics.median(op_s),
            "op_tail_s": op_tail,
            "records_per_s": n_rows / pass_med,
            "peak_rss_mb": res["peak_rss_mb"],
        }
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in END_TO_END.items()}
    for m in metrics.values():
        if not isinstance(m["value"], (int, float)) or not math.isfinite(m["value"]):
            sys.exit(f"perfbench: non-finite metric {m}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
