"""Spans and per-layer counters for the traced run.

``Tracer`` records a span around each call the benchmark makes into the
package (name, start, end, parent, op id). Spans stay in memory; the
runner writes them out once, when the run ends. A disabled tracer hands out a
shared no-op context, so the untraced run pays one attribute lookup per
boundary.

``LayerProbe`` reads the Spark JVM's own bookkeeping after each traced
op: the application status store (jobs, stages, tasks, executor time,
shuffle, spill, output), the SQL status store (Python-worker and write
metrics of every SQL execution), ``CodegenMetrics``, RDD storage and a
``StreamingQueryListener``. Jobs, stages and SQL executions are
attributed to an op by their submission time falling inside the op's
window, not by job group, so work launched on streaming threads and in
``foreachBatch`` counts too.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


# Per-layer metric -> unit. Counters are per traced op (mean over ops).
LAYER_METRICS = {
    "plans.build_s": "s",
    "collect.arrow_s": "s",
    "pipeline.write_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "codegen.compiles": "count",
    "codegen.compile_ms": "ms",
    "executor.run_ms": "ms",
    "executor.cpu_ms": "ms",
    "executor.gc_ms": "ms",
    "executor.idle_share": "ratio",
    "shuffle.write_bytes": "B",
    "shuffle.read_bytes": "B",
    "spill.bytes": "B",
    "output.bytes": "B",
    "output.files": "count",
    "python.total_ms": "ms",
    "python.boot_ms": "ms",
    "python.init_ms": "ms",
    "python.bytes_sent": "B",
    "sources.decode_7z_mb_per_s": "MB/s",
    "sources.iterparse_mb_per_s": "MB/s",
    "etl.parse_stage_ms": "ms",
    "etl.dedup_write_stage_ms": "ms",
    "etl.parse_task_skew": "ratio",
    "snapshot.shuffled_rows_per_kept_row": "ratio",
    "etl_mb_per_s": "MB/s",
    "parquet_out_ratio": "ratio",
    "stream.batches": "count",
    "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.state_rows": "count",
    "stream.state_commit_ms": "ms",
    "cache.storage_mb": "MB",
    "peak_rss_mb": "MB",
    "session.start_s": "s",
    "catalog.cache_s": "s",
    "warmup_s": "s",
    "warmup.pass_ratio": "ratio",
    "warmup.drift": "ratio",
    "trace.overhead_s": "s",
    "trace.span_coverage": "ratio",
}


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextlib.contextmanager
    def _span(self, name: str):
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def span(self, name: str):
        return self._span(name) if self.enabled else contextlib.nullcontext()

    def self_times(self, op_ids: set[int]) -> dict[str, float]:
        """Seconds per span name, minus the time covered by child spans,
        summed over the given ops."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["op"] in op_ids:
                out[s["name"]] = out.get(s["name"], 0.0) + (
                    s["end"] - s["start"] - child[i]
                )
        return out

    def coverage(self, op_ids: set[int]) -> float:
        """Median over ops of (time in the op span's direct children) /
        (op span duration): how much of an op's wall time the traced
        boundaries account for."""
        ratios = []
        for i, s in enumerate(self.spans):
            if s["op"] in op_ids and s["parent"] is None and s["name"] == "op":
                kids = sum(
                    c["end"] - c["start"] for c in self.spans if c["parent"] == i
                )
                ratios.append(kids / (s["end"] - s["start"]))
        return statistics.median(ratios) if ratios else 0.0


class _StreamProgress(StreamingQueryListener):
    def __init__(self):
        self.events: list[tuple[float, dict]] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        rec = {
            "duration": dict(p.durationMs),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
        }
        with self._lock:
            self.events.append((time.time(), rec))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def between(self, t0: float, t1: float) -> list[dict]:
        with self._lock:
            return [r for t, r in self.events if t0 <= t <= t1]


def _unit_value(text: str) -> float:
    """Parse one SQL-metric display value: '1.2 s', '310 ms', '3.0 KiB',
    '1,234' or the multi-line 'total (min, med, max ...)\\n<value> (...)'."""
    line = text.strip().splitlines()[-1]
    head = line.split(" (")[0].replace(",", "").split()
    if not head:
        return 0.0
    num = float(head[0])
    unit = head[1] if len(head) > 1 else ""
    scale = {
        "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
        "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3,
        "TiB": 1024.0**4,
    }
    return num * scale.get(unit, 1.0)


# SQL-metric display name -> per-layer metric (summed over executions).
_SQL_METRICS = {
    "time to run Python workers": "python.total_ms",
    "time to start Python workers": "python.boot_ms",
    "time to initialize Python workers": "python.init_ms",
    "data sent to Python workers": "python.bytes_sent",
    "number of written files": "output.files",
}


class LayerProbe:
    """Per-op layer counters read from the Spark JVM."""

    def __init__(self, spark, cores: int):
        self.spark = spark
        self.cores = cores
        sc = spark.sparkContext
        self.jvm = sc._jvm
        self.jsc = sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        scala_module = getattr(
            self.jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
        ).__getattr__("MODULE$")
        self.mapper = self.jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self.mapper.registerModule(scala_module)
        self.codegen = (
            self.jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        )
        self.listener = _StreamProgress()
        spark.streams.addListener(self.listener)
        self._empty_list = self.jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(self.jvm.double, 0)
        self.mark()

    def _json(self, obj):
        return json.loads(self.mapper.writeValueAsString(obj))

    def _newest(self, seq, n: int):
        return self._json(seq.take(n)) if n > 0 else []

    def _job_count(self) -> int:
        jobs = self.store.jobsList(None)
        return 0 if jobs.isEmpty() else jobs.head().jobId() + 1

    def _stages(self):
        """Every retained stage, newest first."""
        return self.store.stageList(
            self._empty_list, False, False, self._no_quantiles, self._empty_list
        )

    def _stage_count(self) -> int:
        stages = self._stages()
        return 0 if stages.isEmpty() else stages.head().stageId() + 1

    def mark(self) -> None:
        """Remember where the status stores stand before an op."""
        self.jsc.listenerBus().waitUntilEmpty()
        self.jobs0 = self._job_count()
        self.stages0 = self._stage_count()
        self.execs0 = self.sql_store.executionsCount()
        self.codegen0 = self.codegen.getCount()

    def task_skew(self, stage: dict) -> float:
        tasks = self._json(
            self.store.taskList(stage["stageId"], stage["attemptId"], 100_000)
        )
        d = [t["duration"] for t in tasks if t.get("duration") is not None]
        med = statistics.median(d) if d else 0
        return max(d) / med if med else 0.0

    def read(self, t0: float, t1: float) -> tuple[dict[str, float], list[dict]]:
        """Counters for the op that ran from wall time ``t0`` to ``t1``
        (seconds since the epoch), and its stages."""
        self.jsc.listenerBus().waitUntilEmpty()
        lo, hi = t0 * 1e3 - 1, t1 * 1e3 + 1
        m: dict[str, float] = {}
        def in_window(rows):
            return [
                r for r in rows
                if r.get("submissionTime") and lo <= r["submissionTime"] <= hi
            ]

        jobs = in_window(self._newest(
            self.store.jobsList(None), self._job_count() - self.jobs0
        ))
        stages = in_window(self._newest(
            self._stages(), self._stage_count() - self.stages0
        ))
        m["scheduler.jobs"] = len(jobs)
        m["scheduler.stages"] = len(stages)
        m["scheduler.tasks"] = sum(s["numCompleteTasks"] for s in stages)
        run_ms = sum(s["executorRunTime"] for s in stages)
        m["executor.run_ms"] = run_ms
        m["executor.cpu_ms"] = sum(s["executorCpuTime"] for s in stages) / 1e6
        m["executor.gc_ms"] = sum(s["jvmGcTime"] for s in stages)
        wall_ms = (t1 - t0) * 1e3
        m["executor.idle_share"] = max(0.0, 1.0 - run_ms / (wall_ms * self.cores))
        m["shuffle.write_bytes"] = sum(s["shuffleWriteBytes"] for s in stages)
        m["shuffle.read_bytes"] = sum(s["shuffleReadBytes"] for s in stages)
        m["spill.bytes"] = sum(
            s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages
        )
        m["output.bytes"] = sum(s["outputBytes"] for s in stages)

        for name in _SQL_METRICS.values():
            m[name] = 0.0
        n_exec = self.sql_store.executionsCount()
        execs = in_window(self._json(
            self.sql_store.executionsList(self.execs0, n_exec - self.execs0)
        ))
        seen: set[int] = set()  # a plan lists an accumulator once per node
        for ex in execs:
            values = self._json(self.sql_store.executionMetrics(ex["executionId"]))
            for metric in ex["metrics"]:
                key = _SQL_METRICS.get(metric["name"])
                text = values.get(str(metric["accumulatorId"]))
                if key and text and metric["accumulatorId"] not in seen:
                    seen.add(metric["accumulatorId"])
                    m[key] += _unit_value(text)

        compiles = self.codegen.getCount() - self.codegen0
        m["codegen.compiles"] = compiles
        m["codegen.compile_ms"] = (
            compiles * self.codegen.getSnapshot().getMean() if compiles else 0.0
        )
        m["cache.storage_mb"] = (
            sum(r.memSize() for r in self.jsc.getRDDStorageInfo()) / 1e6
        )

        progress = self.listener.between(t0, time.time())
        m["stream.batches"] = len(progress)
        for key, part in (
            ("stream.add_batch_ms", "addBatch"),
            ("stream.wal_commit_ms", "walCommit"),
            ("stream.commit_offsets_ms", "commitOffsets"),
            ("stream.query_planning_ms", "queryPlanning"),
        ):
            m[key] = sum(p["duration"].get(part, 0) for p in progress)
        m["stream.state_rows"] = sum(p["state_rows"] for p in progress)
        m["stream.state_commit_ms"] = sum(p["state_commit_ms"] for p in progress)
        return m, stages

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)
