"""Spark session, counters and spans for the benchmark.

The session configuration is pinned here and recorded in every run. The
counters are Spark's own: SQL metrics of an executed plan, task metrics of
the stages a job group ran, and streaming progress.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from datetime import timezone

MB = 1e6


def spark_conf(work: str, cores: int) -> dict[str, str]:
    return {
        "spark.master": f"local[{cores}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": "3g",
        "spark.driver.extraJavaOptions": (
            f"-XX:+UseParallelGC -XX:ParallelGCThreads={cores} -XX:-UsePerfData "
            f"-Djava.io.tmpdir={work}/tmp"
        ),
        "spark.sql.shuffle.partitions": str(cores),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.local.dir": f"{work}/local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }


def start_session(conf: dict[str, str]):
    from pyspark.sql import SparkSession

    os.makedirs(conf["spark.local.dir"], exist_ok=True)
    b = SparkSession.builder
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def epoch_ms(dt) -> int:
    """Collected timestamps are naive datetimes in the process time zone,
    which the benchmark pins to UTC."""
    return round(dt.replace(tzinfo=timezone.utc).timestamp() * 1000)


def collect_graph(graph):
    """Both output streams of a grouped StreamGraph, every column, as the
    row tuples ``check.compare`` takes."""
    vertices = [
        (r.vertex_id, epoch_ms(r.event_time), r.vertex_label, dict(r.vertex_properties))
        for r in graph.vertices.collect()
    ]
    edges = [
        (r.edge_id, r.edge_label, dict(r.edge_properties), r.source_id, r.target_id, epoch_ms(r.event_time))
        for r in graph.edges.collect()
    ]
    return vertices, edges


# -- counters ---------------------------------------------------------------


def plan_counters(spark, df) -> dict[str, int]:
    """SQL metrics of ``df``'s executed plan summed by metric name. A reused
    exchange is counted where it ran, and cached scans are not entered."""
    jvm = spark._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    totals: dict[str, int] = defaultdict(int)
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls in ("ReusedExchangeExec", "InMemoryTableScanExec"):
            continue
        for name, metric in conv.asJava(node.metrics()).items():
            totals[name] += metric.value()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(node.plan())
        else:
            stack.extend(conv.asJava(node.children()))
    return dict(totals)


def stage_counters(spark, group: str) -> dict[str, float]:
    """Task metrics summed over the stages that jobs of ``group`` ran."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the status store is fed by listener events
    store = sc._jsc.sc().statusStore()
    empty = sc._gateway.new_array(spark._jvm.double, 0)
    out = dict(task_cpu_s=0.0, gc_s=0.0, fetch_wait_s=0.0, shuffle_mb=0.0, spill_mb=0.0, tasks=0)
    for job in sc.statusTracker().getJobIdsForGroup(group):
        for stage in list(sc.statusTracker().getJobInfo(job).stageIds):
            sd = store.stageAttempt(stage, 0, False, spark._jvm.java.util.ArrayList(), False, empty)._1()
            if sd.status().toString() != "COMPLETE":
                continue
            out["task_cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1e3
            out["shuffle_mb"] += sd.shuffleWriteBytes() / MB
            out["spill_mb"] += sd.memoryBytesSpilled() / MB
            out["tasks"] += sd.numTasks()
    return out


class Spans:
    """Spans kept in memory: name, start, end, parent and counters."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._open: list[int] = []

    def start(self, name: str, **attrs) -> int:
        parent = self._open[-1] if self._open else None
        self.spans.append(dict(id=len(self.spans), name=name, parent=parent,
                               start=time.perf_counter(), end=None, **attrs))
        self._open.append(len(self.spans) - 1)
        return self._open[-1]

    def end(self, **attrs) -> dict:
        span = self.spans[self._open.pop()]
        span["end"] = time.perf_counter()
        span.update(attrs)
        return span

    def self_time(self, span: dict) -> float:
        """The span's duration minus the part its children cover."""
        kids = [s for s in self.spans if s["parent"] == span["id"]]
        return (span["end"] - span["start"]) - sum(s["end"] - s["start"] for s in kids)

    def dump(self, path: str, **extra) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(dict(spans=self.spans, **extra), f, indent=1)


class ProgressLog:
    """Every StreamingQueryProgress of the session's queries, as parsed
    JSON, plus the ids of terminated queries. Listener events arrive
    asynchronously, so ``wait_terminated`` blocks until a query's final
    event has been delivered."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.progress: list[dict] = []
        self._done: set[str] = set()
        self._cv = threading.Condition()
        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                with log._cv:
                    log.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with log._cv:
                    log._done.add(str(event.runId))
                    log._cv.notify_all()

        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def take(self) -> list[dict]:
        with self._cv:
            out, self.progress = self.progress, []
        return out

    def wait_terminated(self, n_queries: int, timeout_s: float = 60.0) -> None:
        deadline = time.monotonic() + timeout_s
        with self._cv:
            while len(self._done) < n_queries:
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError("streaming query end was not reported")
                self._cv.wait(left)
