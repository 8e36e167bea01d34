"""Seeded IVF serving benchmark.

Usage, from the root of the repository::

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

It generates its inputs from ``--seed`` into a fresh directory under
``perfbench/_work``, starts one Spark session on ``local[<cores>]``,
runs the workload for ``--seconds`` (see ``workloads.py``), checks every
operation against the NumPy oracle and prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` reports the per-layer metrics and
writes spans and per-operation Spark statistics to
``perfbench/_out/<workload>-<seed>.json``. Details: ``METRICS.md``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "gpu_accelerated_vector_indexing_spark"

WORKLOADS = ("ingest", "batch")

END_TO_END = {
    "setup_s": "s",
    "query_p50_ms": "ms",
    "qps": "1/s",
    "recall_at_k": "fraction",
    "ok_rate": "fraction",
    "space_amp": "ratio",
}

PER_LAYER = {
    "engine.coarse_ms": "ms",
    "engine.fine_ms": "ms",
    "knn.mapback_ms": "ms",
    "ivf.construct_ms": "ms",
    "ivf.collect_ms": "ms",
    "vector.cpu_ns_per_pair": "ns",
    "scan.rows_read_per_result": "count",
    "scan.input_bytes_per_query": "bytes",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.driver_ms_per_op": "ms",
    "spark.executor_run_ms_per_op": "ms",
    "spark.executor_cpu_ms_per_op": "ms",
    "spark.gc_ms_per_op": "ms",
    "spark.shuffle_bytes_per_op": "bytes",
    "index_build.build_ms": "ms",
    "index_build.append_ms": "ms",
    "index_build.append_vps": "1/s",
    "index_build.append_jobs": "count",
    "index_build.append_output_bytes": "bytes",
    "index_build.files_written": "count",
    "index.files": "count",
    "index.bytes": "bytes",
    "index_build.build_jobs": "count",
    "index_build.build_executor_ms": "ms",
    "memo.entries_start": "count",
    "memo.entries_end": "count",
    "storage.persisted_mb_start": "MB",
    "storage.persisted_mb_end": "MB",
    "trace.bookkeeping_ms_per_op": "ms",
    "trace.query_p50_ms": "ms",
}


def _start_spark(work: str):
    """The engine's own session factory, with every scratch path of the
    JVM and of Python inside ``work``."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(
        [
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", f"spark.local.dir={work}/spark-local",
            "--conf", f"spark.sql.warehouse.dir={work}/warehouse",
            # no hsperfdata file under /tmp: every file stays inside ``work``.
            # Lower JIT thresholds: with the defaults, operations keep
            # getting faster for about a minute of a fresh JVM, longer
            # than a run's warm-up, and a run measures wherever it sits
            # on that curve.
            "--driver-java-options",
            f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData -XX:CompileThresholdScaling=0.1",
            "pyspark-shell",
        ]
    )
    from gpu_accelerated_vector_indexing_spark.session import get_spark

    spark = get_spark("perfbench", cpus=os.cpu_count())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it started to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:
        # also when a signal broke the py4j connection mid-call
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def _metrics(values: dict[str, float], units: dict[str, str]) -> dict:
    return {name: {"value": float(values[name]), "unit": unit} for name, unit in units.items()}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE} package next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import gen
    import workloads
    from tracing import Tracer

    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    spark = None
    try:
        inputs = gen.generate(args.seed, os.path.join(work, "inputs"))
        spark = _start_spark(work)
        tracer = Tracer(spark, enabled=bool(args.trace))
        run = getattr(workloads, args.workload)
        tally, e2e, layers = run(spark, inputs, work, args.seconds, tracer, PROCESS_START)
    finally:
        try:
            if spark is not None:
                _stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    print("op latencies (ms): " + " ".join(f"{v:.0f}" for v in tally.latencies_ms), file=sys.stderr)
    if tally.errors:
        print("\n".join(tally.errors), file=sys.stderr)
    if args.trace:
        out_dir = os.path.join(HERE, "_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"per_layer": layers, "end_to_end": e2e, **tracer.dump()}, f, indent=1)
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": _metrics(layers, PER_LAYER) if args.trace else _metrics(e2e, END_TO_END),
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
