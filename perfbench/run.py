#!/usr/bin/env python3
"""Benchmark runner: one seeded workload per invocation.

    python3 perfbench/run.py --workload {wiki_etl,sql_mix,stream_store} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. The runner generates (or re-uses) the
seeded inputs, starts one SparkSession on ``local[4]``, sets the
workload up three times, then drives a closed loop with one client for
about ``--seconds`` seconds (a fixed number of passes over the workload's
op panel, sized from its nominal pass time): each op is one call into
the package plus the step that materialises its result, and is checked
against a truth computed outside timing. The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` half of the timed ops are traced, interleaved with the
untraced half so that both sit at the same point of the warm-up curve,
and the metrics are the per-layer ones. Spans, raw
samples and the environment stamp go to ``.perfbench_out/``.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import random
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

import spans
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("wiki_etl", "sql_mix", "stream_store")
# One client on local[4]: the engine's scoped-conf helpers assume a
# single driver thread, and 4 cores is the reference host.
CORES = 4
# Driver heap limit: the engine default (24g) exceeds a 15 GB host. Only
# the maximum is set, so peak RSS follows the heap the program uses.
DRIVER_MEM = "2g"
SETUPS = 3
OUT_DIR = ".perfbench_out"

END_TO_END_UNITS = {
    "setup_s": "s",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "queries_per_s": "1/s",
    "retained_mb": "MB",
    "verified_ratio": "ratio",
}


def _loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def _package_digest() -> str:
    """Content hash of the package source: identifies the code measured
    even where the checkout is not a git repository."""
    h = hashlib.sha256()
    for base, dirs, files in os.walk(os.path.join(ROOT, "diachronic_spark")):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(base, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def _environment() -> dict:
    import duckdb
    import pyarrow
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except OSError:
        commit = None
    return {
        "cores_host": os.cpu_count(),
        "cores_used": CORES,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_memory": DRIVER_MEM,
        "loadavg_start": _loadavg(),
        "cpu_times_start": _cpu_times(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "commit": commit,
        "package_sha256": _package_digest(),
    }


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _status_kb(pid: int, field: str) -> int:
    """A kB field of /proc/<pid>/status, such as VmHWM or VmRSS."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def _quantile(values: list[float], q: int) -> float:
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class Runner:
    """One invocation: set-up, timed loop, checks and metrics."""

    def __init__(self, args, scratch: str):
        self.args = args
        self.scratch = scratch
        self.tracer = spans.Tracer(bool(args.trace))
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        # (phase, op name, latency): phase is setup1..3, timed or traced
        self.samples: list[tuple[str, str, float]] = []
        self.layer_rows: list[dict] = []
        self.probe = None

    def do(self, op, traced: bool = False) -> float | None:
        """Run one op; return its latency, or None if it failed."""
        tr = self.tracer
        self.attempted += 1
        tr.op_id = self.attempted
        if traced:
            self.probe.mark()
        wall0 = time.time()
        t0 = time.perf_counter()
        try:
            with tr.span("op"):
                result = op.run(tr)
            dt = time.perf_counter() - t0
            err = op.check(result)
        except Exception as e:  # an op that raises counts as failed
            err = f"{op.name}: {type(e).__name__}: {str(e)[:300]}"
        finally:
            tr.op_id = None
        if err:
            self.failed += 1
            self.errors.append(err)
            print(f"perfbench: FAILED {err}", file=sys.stderr)
            return None
        if traced:
            row, stages = self.probe.read(wall0, wall0 + dt)
            row["op"] = self.attempted
            row.update(self._catalyst(result[0]))
            if self.args.workload == "wiki_etl":
                row.update(self._etl_stages(stages))
            self.layer_rows.append(row)
        return dt

    @staticmethod
    def _catalyst(df) -> dict:
        phases = df._jdf.queryExecution().tracker().phases()
        conv = df.sparkSession.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
        got = {k: v.durationMs() for k, v in conv.asJava(phases).items()}
        return {
            f"catalyst.{k}_ms": float(got.get(k, 0))
            for k in ("analysis", "optimization", "planning")
        }

    def _etl_stages(self, stages: list[dict]) -> dict:
        done = [s for s in stages if s.get("completionTime")]
        parse = max(done, key=lambda s: s["shuffleWriteRecords"], default=None)
        writes = [s for s in done if s["outputBytes"] > 0]
        kept = self.inputs["truth"]["snapshot_rows"]
        return {
            "etl.parse_stage_ms": (
                parse["completionTime"] - parse["submissionTime"] if parse else 0
            ),
            "etl.dedup_write_stage_ms": sum(
                s["completionTime"] - s["submissionTime"] for s in writes
            ),
            "etl.parse_task_skew": self.probe.task_skew(parse) if parse else 0.0,
            "snapshot.shuffled_rows_per_kept_row": (
                parse["shuffleWriteRecords"] / kept if parse and kept else 0.0
            ),
        }

    def run(self) -> dict:
        args, tr = self.args, self.tracer
        env = _environment()
        self.inputs = workloads.prepare(args.workload, args.seed)

        from diachronic_spark.session import get_spark

        t0 = time.perf_counter()
        with tr.span("session.start"):
            spark = get_spark(
                "perfbench",
                extra_confs={
                    "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                    "spark.sql.warehouse.dir": os.path.join(self.scratch, "warehouse"),
                    "spark.driver.extraJavaOptions": (
                        # no hsperfdata file under /tmp
                        f"-Djava.io.tmpdir={self.scratch} -XX:-UsePerfData"
                    ),
                    "spark.ui.showConsoleProgress": "false",
                },
            )
            spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        try:
            return self._measure(spark, env, session_s)
        finally:
            if self.probe is not None:
                self.probe.close()
            _stop(spark)

    def _measure(self, spark, env: dict, session_s: float) -> dict:
        args, tr, wl = self.args, self.tracer, workloads
        ops = wl.make_ops(args.workload, spark, self.inputs, self.scratch)

        # Set-up, three times: drop and re-cache the input tables, then one
        # warm-up pass over the panel in a seeded order.
        cache_s, warm_s = [], []
        for r in range(SETUPS):
            t0 = time.perf_counter()
            with tr.span("catalog.cache"):
                wl.cache_tables(spark, self.inputs)
            cache_s.append(time.perf_counter() - t0)
            with tr.span("warmup"):
                warm_s.append(sum(self._cycle(ops, f"setup{r + 1}")))
        setup_s = session_s + statistics.median(
            c + w for c, w in zip(cache_s, warm_s)
        )

        # The timed loop runs whole passes over the panel, so every op is
        # equally represented. A traced run makes a multiple of four passes
        # and traces half of each op's runs (see _cycle).
        passes = max(2, round(args.seconds / workloads.NOMINAL_PASS_S[args.workload]))
        if args.trace:
            self.probe = spans.LayerProbe(spark, CORES)
            passes = 4 * max(1, round(passes / 4))
        t0 = time.perf_counter()
        for p in range(passes):
            self._cycle(ops, "timed", p if args.trace else None)
        self.timed_wall_s = time.perf_counter() - t0
        tr.enabled = bool(args.trace)
        if args.trace and args.workload == "wiki_etl":
            self._source_rates()

        env["java"] = spark._jvm.java.lang.System.getProperty("java.version")
        env["loadavg_end"] = _loadavg()
        # Share of CPU time the hypervisor gave to other guests during the
        # run: a noisy neighbour shows here, not in the load average.
        spent = [b - a for a, b in zip(env.pop("cpu_times_start"), _cpu_times())]
        env["cpu_steal_share"] = spent[7] / max(sum(spent), 1)
        peak_rss_kb = _status_kb(
            spark._jvm.java.lang.ProcessHandle.current().pid(), "VmHWM"
        ) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        metrics = (
            self._layer_metrics(session_s, cache_s, warm_s, peak_rss_kb / 1024.0)
            if args.trace
            else self._end_to_end(setup_s, _retained_mb(spark))
        )
        self._write_artifact(env, metrics, cache_s, warm_s, session_s)
        print(json.dumps({"env": env}))
        if warm_s[-2] and abs(warm_s[-1] / warm_s[-2] - 1) > 0.15:
            print(
                f"perfbench: warm-up not steady: last two set-up passes took "
                f"{warm_s[-2]:.3f} s then {warm_s[-1]:.3f} s",
                file=sys.stderr,
            )
        return metrics

    def _cycle(self, ops, phase: str, pass_no: int | None = None) -> list[float]:
        """One pass over the panel in a seeded order; latencies of the ops
        that succeeded.

        In a traced run's timed pass ``pass_no``, each block of four passes
        runs the panel's even ops untraced, traced, traced, untraced and
        its odd ops the other way round. Every op then has as many traced
        runs as untraced ones, every pass holds both, and a drift that is
        linear in time weighs on both alike.
        """
        order = list(enumerate(ops))
        self.rng.shuffle(order)
        out = []
        for i, op in order:
            traced = False
            if pass_no is not None:
                traced = (0, 1, 1, 0)[pass_no % 4] != i % 2
                self.tracer.enabled = traced
            dt = self.do(op, traced)
            if dt is not None:
                self.samples.append(("traced" if traced else phase, op.name, dt))
                out.append(dt)
        return out

    def _latencies(self, *phases: str) -> list[float]:
        phases = phases or ("timed", "traced")
        return [dt for p, _, dt in self.samples if p in phases]

    def _end_to_end(self, setup_s: float, retained_mb: float) -> dict:
        lat = self._latencies()
        return {
            "setup_s": setup_s,
            "query_p50_s": statistics.median(lat) if lat else 0.0,
            "query_p90_s": _quantile(lat, 90),
            # verified ops per second of the timed phase's wall time,
            # failed ops and checks included
            "queries_per_s": len(lat) / self.timed_wall_s,
            "retained_mb": retained_mb,
            "verified_ratio": (self.attempted - self.failed) / max(self.attempted, 1),
        }

    def _source_rates(self) -> None:
        """Driver-side decode and parse rates of the largest shard, the
        two source layers each parse task runs."""
        import io

        from diachronic_spark.sources.sevenzip import open_7z_stream
        from diachronic_spark.sources.wiki_xml import iterparse_revisions

        path = max(self.inputs["paths"], key=os.path.getsize)
        t0 = time.perf_counter()
        with self.tracer.span("sources.open_7z_stream"):
            xml = open_7z_stream(path).read()
        t1 = time.perf_counter()
        with self.tracer.span("sources.iterparse_revisions"):
            n = sum(1 for _ in iterparse_revisions(io.BytesIO(xml)))
        t2 = time.perf_counter()
        mb = len(xml) / 1e6
        self.source_rates = {
            "sources.decode_7z_mb_per_s": mb / (t1 - t0),
            "sources.iterparse_mb_per_s": mb / (t2 - t1) if n else 0.0,
        }

    def _layer_metrics(self, session_s, cache_s, warm_s, peak_rss_mb) -> dict:
        rows = self.layer_rows
        ops = {r["op"] for r in rows}
        m = {k: 0.0 for k in spans.LAYER_METRICS}
        for key in m:
            vals = [r[key] for r in rows if key in r]
            if vals:
                m[key] = statistics.fmean(vals)
        self_times = self.tracer.self_times(ops)
        n = max(len(ops), 1)
        m["plans.build_s"] = self_times.get("plans.build", 0.0) / n
        m["collect.arrow_s"] = self_times.get("collect.arrow", 0.0) / n
        m["pipeline.write_s"] = self_times.get("pipeline.write", 0.0) / n
        m["peak_rss_mb"] = peak_rss_mb
        m["session.start_s"] = session_s
        m["catalog.cache_s"] = statistics.median(cache_s)
        m["warmup_s"] = statistics.median(warm_s)
        m["warmup.pass_ratio"] = warm_s[-1] / warm_s[-2] if warm_s[-2] else 0.0
        m["warmup.drift"] = self._drift()
        m.update(getattr(self, "source_rates", {}))
        untraced, traced = self._latencies("timed"), self._latencies("traced")
        if untraced and traced:
            m["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
        m["trace.span_coverage"] = self.tracer.coverage(ops)
        if self.args.workload == "wiki_etl" and self._latencies():
            xml = self.inputs["truth"]["xml_bytes"]
            m["etl_mb_per_s"] = xml / 1e6 / statistics.fmean(self._latencies())
            out = os.path.join(self.scratch, "snapshots")
            written = sum(
                os.path.getsize(os.path.join(out, f))
                for f in os.listdir(out) if f.endswith(".parquet")
            )
            m["parquet_out_ratio"] = written / xml
        return m

    def _drift(self) -> float:
        """Median over ops of (first timed latency / last timed latency):
        above 1 means the op was still speeding up, i.e. the warm-up did
        not reach steady state."""
        by_op: dict[str, list[float]] = {}
        for phase, name, dt in self.samples:
            if phase in ("timed", "traced"):
                by_op.setdefault(name, []).append(dt)
        ratios = [v[0] / v[-1] for v in by_op.values() if len(v) >= 2]
        return statistics.median(ratios) if ratios else 0.0

    def _write_artifact(self, env, metrics, cache_s, warm_s, session_s) -> None:
        os.makedirs(OUT_DIR, exist_ok=True)
        a = self.args
        path = os.path.join(OUT_DIR, f"{a.workload}-s{a.seed}-trace{a.trace}.json")
        with open(path, "w") as f:
            json.dump(
                {
                    "env": env,
                    "session_start_s": session_s,
                    "setup_cache_s": cache_s,
                    "setup_warmup_s": warm_s,
                    "samples": self.samples,
                    "errors": self.errors,
                    "layer_rows": self.layer_rows,
                    "spans": self.tracer.spans if a.trace else [],
                },
                f,
            )


def _retained_mb(spark) -> float:
    """Memory the program still holds after the timed loop: the JVM heap
    in use after a full collection, the JVM's non-heap memory in use
    (metaspace, code cache) and the driver Python process's RSS.

    Unlike the JVM's peak RSS, this does not depend on how far the
    collector chose to grow the young generation, which varies from run
    to run by a third.
    """
    mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mx.gc()
    jvm = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    return jvm / 2**20 + _status_kb(os.getpid(), "VmRSS") / 1024


def _stop(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# prctl option: orphaned descendants are re-parented to this process.
PR_SET_CHILD_SUBREAPER = 36


def _adopt_orphans() -> None:
    """Become the parent of every descendant that outlives its own parent,
    such as the Spark launcher's helper shell and the Python worker
    daemon once the JVM has exited, so that ``_reap_children`` can stop
    them and wait for them."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    me, out = os.getpid(), []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            if ppid == me:
                out.append(int(name))
    return out


def _reap_children(grace_s: float = 20.0) -> None:
    """Stop every remaining child process and wait until each has ended:
    SIGTERM first, SIGKILL after ``grace_s`` seconds."""
    deadline = time.monotonic() + grace_s
    signalled: set[tuple[int, int]] = set()
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no child left
        if pid:
            continue
        sig = signal.SIGKILL if time.monotonic() > deadline else signal.SIGTERM
        for child in _children():
            if (child, sig) not in signalled:
                signalled.add((child, sig))
                try:
                    os.kill(child, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "diachronic_spark")):
        print(
            f"perfbench: no diachronic_spark package under {ROOT}; run from a "
            "checkout of the repository",
            file=sys.stderr,
        )
        return 2

    os.chdir(ROOT)
    _adopt_orphans()
    scratch = os.path.abspath(os.path.join(".perfbench_tmp", str(os.getpid())))
    os.makedirs(scratch)
    # Everything the run writes stays in the checkout, and Python workers
    # import the package from it whatever their working directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = scratch
    tempfile.tempdir = scratch
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    sys.path.insert(0, ROOT)
    try:
        runner = Runner(args, scratch)
        metrics = runner.run()
    finally:
        _reap_children()
        shutil.rmtree(scratch, ignore_errors=True)
    units = spans.LAYER_METRICS if args.trace else END_TO_END_UNITS
    result = {
        "correct": runner.failed == 0 and bool(runner._latencies()),
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
