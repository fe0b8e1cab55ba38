"""Benchmark of windowed graph-stream grouping, batch and streaming.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload batch_flagship --seed 1 --seconds 20 --trace 0

One run is one fresh local-mode Spark process with ``nproc`` task threads.
It builds its input from ``--seed``, starts Spark, warms up, runs operations
in a closed loop for about ``--seconds`` seconds, checks every output against
an expectation computed apart from the program (``check.py``), and prints as
its last line ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones, and the spans go to ``perfbench/_out/``. The line before it
is the run's record: versions, Spark conf, seed, input make-up and drops.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BATCH_CONVS = 50_000  # ~0.45 M turns
STREAM_CONVS = 50_000  # ~0.45 M turns
STREAM_CHUNKS = 5
WORKLOADS = ("batch_flagship", "stream_backfill")
PER_LAYER = {
    "batch": [
        "read.s", "read.rows", "bind.s", "bind.triples", "bind.vertices", "bind.shuffle_mb",
        "bind.spill_mb", "vertex.s", "vertex.rows_in", "vertex.groups", "vertex.shuffle_mb",
        "edge.s", "edge.rows_in", "edge.groups", "edge.shuffle_mb", "collect.s", "collect.rows",
        "exec.task_cpu_s", "exec.gc_s", "exec.fetch_wait_s", "exec.shuffle_mb", "exec.spill_mb",
        "exec.tasks", "trace.overhead_pct", "trace.layer_share_pct",
    ],
    "stream": [
        "trigger.s", "trigger.rows", "trigger.plan_ms", "trigger.source_ms", "trigger.add_batch_ms",
        "trigger.log_ms", "trigger.other_ms", "join.state_rows", "join.updated_rows",
        "join.update_ms", "join.removal_ms", "join.commit_ms", "join.state_mb", "agg.state_rows",
        "agg.updated_rows", "agg.update_ms", "agg.removal_ms", "agg.commit_ms", "agg.state_mb",
        "agg.late_rows", "sink.s", "sink.rows",
    ],
}


class Run:
    """State of one benchmark run, passed to the workload."""

    def __init__(self, args, work: str) -> None:
        import duckdb

        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.cores = len(os.sched_getaffinity(0))
        self.work = work
        self.trace_path = os.path.join(HERE, "_out", f"trace-{args.workload}-seed{args.seed}.json")
        self.attempted = self.failed = 0
        self.correct = True
        self.spark = None
        self.session_s = self.setup_s = None
        self.duckdb = duckdb.connect()
        self.duckdb.execute(f"SET threads TO {self.cores}")
        self.record: dict = dict(workload=args.workload, seed=args.seed, seconds=args.seconds,
                                 trace=args.trace, nproc=self.cores)

    def log(self, msg: str) -> None:
        print(msg, file=sys.stderr, flush=True)

    def start_spark(self):
        import sparkenv

        conf = sparkenv.spark_conf(self.work, self.cores)
        t0 = time.perf_counter()
        self.spark = sparkenv.start_session(conf)
        self.session_s = time.perf_counter() - t0
        import pyspark

        self.record.update(
            python=platform.python_version(), pyspark=pyspark.__version__,
            spark=self.spark.version,
            java=self.spark._jvm.java.lang.System.getProperty("java.version"),
            spark_conf=conf,
        )
        return self.spark

    def setup_done(self, warmup_s: float) -> None:
        self.setup_s = self.session_s + warmup_s
        self.record["session_s"], self.record["setup_s"] = self.session_s, self.setup_s

    def close(self) -> None:
        self.duckdb.close()
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        # the JVM exits when its stdin closes; wait until it has
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(0, HERE)
    sys.path.insert(1, ROOT)
    try:
        import graph_stream_zoomer_spark as program
    except ImportError as e:
        print(f"perfbench: the program is not in this checkout ({e})", file=sys.stderr)
        return 2
    if not os.path.abspath(program.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: imported the program from {program.__file__}, not this checkout",
              file=sys.stderr)
        return 2

    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    run = Run(args, work)
    try:
        if args.workload == "batch_flagship":
            import batch

            metrics = batch.run(run, batch.FLAGSHIP, BATCH_CONVS)
        else:
            import stream

            metrics = stream.run(run, STREAM_CONVS, STREAM_CHUNKS)
    finally:
        run.close()
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        from batch import unit_of

        # every per-layer metric, 0 for the layers this workload does not run
        metrics = {n: metrics.get(n, (0, unit_of(n))) for n in PER_LAYER["batch"] + PER_LAYER["stream"]}
    print("perfbench-record " + json.dumps(run.record, default=str), flush=True)
    print(json.dumps(dict(
        correct=run.correct, attempted=run.attempted, failed=run.failed,
        metrics={k: dict(value=v, unit=u) for k, (v, u) in metrics.items()},
    )), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
