"""Session, timing and statistics helpers shared by the workloads."""

from __future__ import annotations

import math
import os
import resource
import statistics
import tempfile
import time


def start_session(cpus: int, event_log_dir: str | None = None):
    """A SparkSession with ``bench.py``'s settings at ``local[cpus]``, quiet
    on stdout, optionally writing an uncompressed event log."""
    from asf_tools_spark.session import get_spark

    extra = {
        "spark.cleaner.periodicGC.interval": "45s",
        "spark.ui.showConsoleProgress": "false",
        # prepended to the engine's own driver flags: JVM temporary files
        # stay in TMPDIR
        "spark.driver.defaultJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tempfile.gettempdir()}",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus, extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Shut the Py4J gateway down and wait for the driver JVM (and the
    Python workers it started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def noop(df) -> None:
    """Materialize every column of ``df`` without writing anything."""
    df.write.format("noop").mode("overwrite").save()


def timed(fn, *args, **kwargs) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile of ``samples`` that has
    at least ten samples above it. Below twenty samples that percentile
    would not even reach the median, so the maximum is reported instead, as
    the 100th percentile."""
    xs = sorted(samples)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def gmean(samples: list[float]) -> float:
    """Geometric mean: the typical operation time, every operation weighted
    alike however long it takes."""
    return math.exp(sum(map(math.log, samples)) / len(samples))


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus the driver JVM
    (its ``VmHWM``), in MB, so far."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def jvm_gc_seconds(spark) -> float:
    """Total collection time of the driver JVM's garbage collectors."""
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


class Bench:
    """One run of one workload: set-up, warm-up, measurement, output check
    and, with ``trace``, the per-layer metrics.

    A workload object provides ``prepare(spark)`` (generate inputs),
    ``warm(spark)`` (warm-up), ``measure(spark, seconds, tracer=None) ->
    (op_seconds, items, wall_seconds, failed_ops)``, which calls
    ``bench.first_op()`` just before its first timed operation,
    ``probe(spark, seconds, tracer=None)`` (same result; the warm loop the
    tracing overhead is measured on), ``check(spark) -> (checks,
    failed_checks, notes)``, ``after_trace(spark, tracer)`` (counters taken
    once the traced window has closed, so their jobs and time fall outside
    it) and ``layer_metrics(info) -> {name: (value, unit)}``, called once the
    traced session has stopped. ``LAYERS`` maps engine modules to the layer
    names their traced calls are recorded under.
    """

    def __init__(self, seed: int, seconds: float, trace: bool, out_dir: str, started: float):
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.out_dir, self.started = out_dir, started
        self.cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
        self.spark = None
        self.first_op_at = None
        self.notes: list[str] = []

    def session(self, cpus: int | None = None):
        """(Re)start the SparkSession at ``local[cpus]`` and return it."""
        if self.spark is not None:
            self.spark.stop()
        log_dir = os.path.join(self.out_dir, "eventlog") if self.trace else None
        self.session_s, self.spark = timed(start_session, cpus or self.cpus, log_dir)
        return self.spark

    def first_op(self) -> None:
        """Mark the start of the first timed operation (ends the set-up)."""
        if self.first_op_at is None:
            self.first_op_at = time.time()

    def run(self, w) -> dict:
        self.session()
        session_s = self.session_s
        prepare_s, _ = timed(w.prepare, self.spark)
        warm_s, _ = timed(w.warm, self.spark)
        self.notes.append(
            f"set-up: session {session_s:.2f} s, inputs {prepare_s:.2f} s, warm-up {warm_s:.2f} s"
        )

        metrics: dict[str, tuple[float, str]] = {}
        if not self.trace:
            ops, items, wall, failed = w.measure(self.spark, self.seconds)
            n_ops = len(ops)
        else:
            from .spans import Tracer

            # the measurement an untraced run makes, traced: the per-layer
            # metrics come from its window
            tracer = Tracer(self.spark.sparkContext)
            tracer.install(w.LAYERS)
            gc0, t0 = jvm_gc_seconds(self.spark), time.time()
            try:
                ops, _, _, failed = w.measure(self.spark, self.seconds, tracer)
            finally:
                tracer.uninstall()
            t1, gc1 = time.time(), jvm_gc_seconds(self.spark)
            w.after_trace(self.spark, tracer)
            # tracing overhead: the workload's probe for half the seconds,
            # untraced, traced (a second tracer, its spans dropped), untraced
            probes = []
            for traced in (False, True, False):
                probe_tracer = Tracer(self.spark.sparkContext) if traced else None
                if traced:
                    probe_tracer.install(w.LAYERS)
                try:
                    probes.append(w.probe(self.spark, self.seconds / 2, probe_tracer))
                finally:
                    if traced:
                        probe_tracer.uninstall()
            failed += sum(p[3] for p in probes)
            n_ops = len(ops) + sum(len(p[0]) for p in probes)
            metrics.update(self._overheads(probes))
            info = {"tracer": tracer, "window": (t0, t1), "gc_s": gc1 - gc0,
                    "app_id": self.spark.sparkContext.applicationId}
        setup_s = self.first_op_at - self.started
        attempted = n_ops + failed
        checks, bad_checks, notes = w.check(self.spark)
        self.notes += notes
        if self.trace:
            metrics.update(self._layers(w, info))
            metrics["session.start_s"] = (session_s, "s")
            for name, unit in PER_LAYER.items():
                metrics.setdefault(name, (0, unit))
        else:
            self.spark.stop()
            value, pct, n = tail(ops)
            self.notes.append(
                f"operation times: median {statistics.median(ops):.3f} s, "
                f"tail {value:.3f} s (the p{pct:.1f} of {n} operations)"
            )
            metrics.update({
                "setup_s": (setup_s, "s"),
                "items_per_s": (items / wall, "1/s"),
                "op_gmean_s": (gmean(ops), "s"),
            })
        failed_total = failed + bad_checks
        return {
            "metrics": metrics, "attempted": attempted + checks, "failed": failed_total,
            "correct": failed_total == 0, "notes": self.notes,
        }

    @staticmethod
    def _overheads(probes) -> dict:
        """Tracing overhead per end-to-end metric from the (untraced, traced,
        untraced) probes, as traced / untraced - 1, against the mean of the
        two untraced probes (a slower traced probe reads positive for every
        metric)."""
        (a_ops, a_items, a_wall, _), (ops, items, wall, _), (c_ops, c_items, c_wall, _) = probes
        return {
            "tracing.items_per_s_overhead": ((a_items / a_wall + c_items / c_wall) / 2 / (items / wall) - 1.0, "ratio"),
            "tracing.op_gmean_s_overhead": (gmean(ops) / statistics.mean([gmean(a_ops), gmean(c_ops)]) - 1.0, "ratio"),
        }

    def _layers(self, w, info) -> dict:
        """Engine totals over the traced window, the workload's layer
        metrics, and the trace file."""
        from . import eventlog

        app_id = info["app_id"]
        rss_mb = peak_rss_mb(self.spark)
        self.spark.stop()  # flushes the event log
        self.spark = None
        log = eventlog.parse(eventlog.find_log(os.path.join(self.out_dir, "eventlog"), app_id))
        t0, t1 = info["window"]
        jobs = eventlog.jobs_in(log, t0, t1)
        tot = eventlog.totals(log, jobs)
        info.update(log=log, jobs=jobs, attribution=eventlog.attribute(log, jobs, info["tracer"].spans))
        out = {
            "spark.jobs": (tot["jobs"], "count"),
            "spark.tasks": (tot["tasks"], "count"),
            "spark.idle_s": (eventlog.idle_seconds(log, jobs, t0, t1), "s"),
            "spark.gc_s": (info["gc_s"], "s"),
            "spark.spill_bytes": (tot["spill_bytes"], "bytes"),
            "spark.shuffle_write_bytes": (tot["shuffle_write_bytes"], "bytes"),
            "spark.driver_peak_rss_mb": (rss_mb, "MB"),
        }
        out.update(w.layer_metrics(info))
        info["tracer"].dump(os.path.join(self.out_dir, "trace.json"), {
            "window": [t0, t1],
            "jobs": {j: {**log["jobs"][j], "attributed_span": info["attribution"][j]} for j in jobs},
            "metrics": {k: v[0] for k, v in out.items()},
        })
        return out


def jobs_under(info: dict, layer: str) -> list[int]:
    """Jobs of the traced window launched inside a span of ``layer``."""
    from .spans import ancestors, layer_of

    spans = info["tracer"].spans
    return [
        j for j, sid in info["attribution"].items()
        if sid is not None and any(layer_of(spans[a]["name"]) == layer for a in ancestors(spans, sid))
    ]


REGISTRY = ("queries", "queries_text", "queries_raster", "queries_grid", "queries_events", "queries_geo")

# Every per-layer metric a traced run reports, with its unit. A workload that
# does not exercise a layer reports 0 for it (nothing was measured there).
PER_LAYER = {
    "session.start_s": "s",
    "spark.jobs": "count", "spark.tasks": "count", "spark.idle_s": "s", "spark.gc_s": "s",
    "spark.spill_bytes": "bytes", "spark.shuffle_write_bytes": "bytes", "spark.driver_peak_rss_mb": "MB",
    "tracing.items_per_s_overhead": "ratio", "tracing.op_gmean_s_overhead": "ratio",
    "sources.pages.self_s": "s", "functions.spatial.self_s": "s",
    "operators.spatial_join.self_s": "s", "plans.assignments.self_s": "s",
    "operators.spatial_join.match_ratio": "ratio", "plans.assignments.shuffle_write_bytes": "bytes",
    "plans.assignments.task_skew": "ratio", "plans.assignments.scaling_eff": "ratio",
    **{f"{m}.{k}": u for m in REGISTRY
       for k, u in (("call_s", "s"), ("sink_s", "s"), ("jobs", "count"), ("shuffle_bytes", "bytes"))},
    "core.io.input_bytes": "bytes",
    "operators.geometry.refine_rows": "count", "operators.geometry.wall_s": "s",
    "operators.graph.wall_s": "s", "operators.graph.jobs": "count",
    "operators.hand.wall_s": "s", "operators.hand.jobs": "count",
    "operators.dedup.wall_s": "s",
    "operators.tiling.wall_s": "s", "operators.tiling.jobs": "count",
    "operators.labeling.wall_s": "s", "operators.labeling.jobs": "count",
    "plans.water_map.self_s": "s", "plans.water_map.jobs": "count",
    "plans.corpus_pipeline.wall_s": "s", "plans.corpus_pipeline.jobs": "count",
    "streaming.near_dup.batch_s": "s", "streaming.near_dup.files_written": "count",
    "streaming.near_dup.bytes_written": "bytes", "streaming.near_dup.store_files": "count",
    "streaming.near_dup.write_amp": "ratio",
    "streaming.geofence.batch_s": "s", "streaming.geofence.files_written": "count",
    "streaming.geofence.bytes_written": "bytes", "streaming.geofence.state_files": "count",
}
