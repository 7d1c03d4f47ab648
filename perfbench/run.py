"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 5 --trace 0

Run from the repository root. One run starts a Spark session on
``local[min(nproc, 4)]``, builds its inputs from ``--seed``, sets up and
warms the workload untimed, runs the closed-loop timed phase for
``--seconds`` (whole rounds, at least one), checks the outputs, and
prints one JSON line last:

- ``--trace 0``: the end-to-end metrics of BENCHMARK.json;
- ``--trace 1``: the per-layer metrics, from spans around each layer's
  public calls and Spark's status store. A layer the workload does not
  run reports 0.

Memory: ``py_peak_rss_mb`` is the Python driver's peak RSS and
``exec_peak_mb`` the largest execution-memory peak of a stage the timed
phase ran, as Spark's status store accounts it. The session keeps the
package's default heap; G1 sizes it from GC timing, so the JVM's peak
RSS moves by about a quarter between runs of the same work and is
reported only with the per-layer metrics.

Tracing cost: ``trace.self_share`` is the tracer's own time at span
boundaries as a share of operation time, and ``trace.write_p50_s`` /
``trace.read_p50_s`` are the traced latencies; set against the
untraced run's ``write_p50_s`` / ``read_p50_s`` for the same seed they
give the tracing overhead.

Every file the run writes (inputs, warehouse, corpus store, Spark
scratch and catalog) lives in a fresh directory under
``.perfbench_run/`` that is removed at exit. The exit code is 1 when an
output check fails and 2 on a usage error.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import etl_weather_data_pipeline_spark  # noqa: E402,F401  fail fast without the package

import workloads  # noqa: E402
from spans import Tracer, next_job_id, stage_peak_execution_mb  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _environment(work: str) -> None:
    """Keep every side effect of the run inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    # executor-side Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM (the launcher too) keeps its temp files in ``work``
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.chdir(work)


def _start_session(work: str):
    from etl_weather_data_pipeline_spark import get_spark

    cpus = min(os.cpu_count() or 1, 4)
    return get_spark(
        "perfbench",
        cpus=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        },
    )


def _stop_session(spark) -> None:
    """Stop Spark and wait for its JVM; the JVM also exits once its
    stdin closes, which covers a gateway already broken by a signal."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    try:
        spark.stop()
        SparkContext._gateway.shutdown()
    finally:
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def run(workload: str, seed: int, seconds: float, trace: bool) -> tuple[bool, dict]:
    spec = _spec()
    work = os.path.join(ROOT, ".perfbench_run", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    wl = None
    try:
        _environment(work)
        t0 = time.perf_counter()
        spark = _start_session(work)
        start_s = time.perf_counter() - t0
        tracer = Tracer(spark) if trace else None
        wl = workloads.WORKLOADS[workload](spark, work, seed, tracer)
        phases = wl.setup()
        setup_s = time.perf_counter() - t0
        t1 = time.perf_counter()
        jsc = spark.sparkContext._jsc.sc()
        j0 = next_job_id(jsc)
        wl.run(seconds)
        timed_jobs = (j0, next_job_id(jsc))
        t2 = time.perf_counter()
        # memory, before the checks' own use of it
        py_rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        jvm_rss_mb = _jvm_peak_rss_mb(spark)
        exec_mb = stage_peak_execution_mb(jsc, *timed_jobs)
        failures = wl.check()
        print(
            f"phases: start {start_s:.1f}s fixture {phases['fixture_s']:.1f}s "
            f"warmup {phases['warmup_s']:.1f}s timed {t2 - t1:.1f}s "
            f"check {time.perf_counter() - t2:.1f}s",
            file=sys.stderr,
        )
        for msg in failures:
            print(f"CHECK FAILED: {msg}", file=sys.stderr)
        c = wl.client
        if trace:
            if isinstance(wl, workloads.CorpusIngest):
                wl.replay_first_batch()
            values = {e["name"]: 0.0 for e in spec["per_layer"]}
            values["session.start_s"] = start_s
            values["session.warmup_s"] = phases["warmup_s"]
            values["memory.jvm_peak_rss_mb"] = jvm_rss_mb
            values.update(workloads.common_layer_metrics(c))
            values.update(wl.layer_metrics())
            metrics = _metrics(spec["per_layer"], values)
        else:
            values = {
                "setup_s": setup_s,
                "rows_per_s": c.op_rows / c.op_seconds if c.op_seconds else 0.0,
                "write_p50_s": workloads.median(c.latency["write"]),
                "read_p50_s": workloads.median(c.latency["read"]),
                "success_ratio": 1 - c.failed / c.attempted,
                "py_peak_rss_mb": py_rss_mb,
                "exec_peak_mb": exec_mb,
            }
            metrics = _metrics(spec["end_to_end"], values)
        result = {
            "correct": not failures and not c.failed,
            "attempted": c.attempted,
            "failed": c.failed,
            "metrics": metrics,
        }
        return result["correct"], result
    finally:
        try:
            if spark is not None:
                try:
                    if hasattr(wl, "cleanup"):
                        wl.cleanup()
                finally:
                    _stop_session(spark)
        finally:
            os.chdir(ROOT)
            shutil.rmtree(work, ignore_errors=True)
            with contextlib.suppress(OSError):  # another run may still use it
                os.rmdir(os.path.dirname(work))


def _metrics(entries, values: dict) -> dict:
    return {
        e["name"]: {"value": float(values[e["name"]]), "unit": e["unit"]}
        for e in entries
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its files (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ok, result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
