"""tile_assign: the headline page -> tile spatial join, one big codegen job.

Seeded raw pages -> ``sources.pages.geotag_pages`` ->
``plans.assignments.tile_assignments`` against ``page_boxes(seed)`` -> noop
sink. The plan is built once and re-executed per trial, as ``bench.py``
does; an operation is one trial.
"""

from __future__ import annotations

import statistics
import time

from pyspark.sql import functions as F

from .data import page_boxes, raw_pages
from .harness import noop, timed

PAGES = 250_000
WARM_TRIALS = 6  # trial times keep falling for about this many runs (JIT)


class Workload:
    LAYERS = {
        "asf_tools_spark.sources.pages": "sources.pages",
        "asf_tools_spark.functions.spatial": "functions.spatial",
        "asf_tools_spark.operators.spatial_join": "operators.spatial_join",
        "asf_tools_spark.plans.assignments": "plans.assignments",
    }

    def __init__(self, bench):
        self.bench = bench
        self.partitions = 2 * bench.cpus
        self.base_rate = None

    def _plan(self, spark):
        from asf_tools_spark.plans.assignments import tile_assignments
        from asf_tools_spark.sources.pages import geotag_pages

        return tile_assignments(geotag_pages(self.raw), self.boxes)

    def prepare(self, spark):
        self.boxes = page_boxes(self.bench.seed)
        self.raw = raw_pages(spark, PAGES, self.bench.seed, self.partitions)
        self.plan = self._plan(spark)

    def warm(self, spark):
        for _ in range(WARM_TRIALS):
            noop(self.plan)

    def measure(self, spark, seconds, tracer=None):
        if tracer is not None:  # rebuild under the tracer so plan building shows
            with tracer.span("bench.plan"):
                self.plan = self._plan(spark)
        ops = []
        self.bench.first_op()
        t_end = time.perf_counter() + seconds
        t0 = time.perf_counter()
        while not ops or time.perf_counter() < t_end:
            if tracer is not None:
                with tracer.span("bench.trial"):
                    dt, _ = timed(noop, self.plan)
            else:
                dt, _ = timed(noop, self.plan)
            ops.append(dt)
        wall = time.perf_counter() - t0
        self.bench.notes.append("trials: " + " ".join(f"{t:.3f}" for t in ops))
        if tracer is None and self.base_rate is None:
            self.base_rate = PAGES * len(ops) / wall
        return ops, PAGES * len(ops), wall, 0

    def probe(self, spark, seconds, tracer=None):
        return self.measure(spark, seconds, tracer)

    def after_trace(self, spark, tracer):
        pass

    def check(self, spark):
        """Engine output vs an independent point-in-box count: every
        geotagged page tested against every box with a plain non-equi join,
        no cell cover, no salting."""
        from asf_tools_spark.sources.pages import geotag_pages

        boxes = spark.createDataFrame(
            [(b["poly_id"], b["min_lat"], b["min_lon"], b["max_lat"], b["max_lon"]) for b in self.boxes],
            "poly_id int, min_lat double, min_lon double, max_lat double, max_lon double",
        )
        pts = geotag_pages(self.raw).select("lat", "lon", "cell_id")
        want = (
            pts.crossJoin(F.broadcast(boxes))
            .where(F.col("lat").between(F.col("min_lat"), F.col("max_lat"))
                   & F.col("lon").between(F.col("min_lon"), F.col("max_lon")))
            .groupBy("poly_id", "cell_id").agg(F.count(F.lit(1)).alias("n_pages"))
        )
        got = sorted(tuple(r) for r in self.plan.select("poly_id", "cell_id", "n_pages").collect())
        exp = sorted(tuple(r) for r in want.collect())
        ok = got == exp
        notes = [
            f"check: {len(got)} (poly, cell) rows, {sum(r[2] for r in got)} pages assigned; "
            f"independent count {len(exp)} rows, {sum(r[2] for r in exp)} pages -> {'ok' if ok else 'MISMATCH'}"
        ]
        return 1, 0 if ok else 1, notes

    def layer_metrics(self, info):
        from asf_tools_spark.operators.spatial_join import spatial_join_polygons
        from asf_tools_spark.sources.pages import geotag_pages

        from . import eventlog

        log, jobs = info["log"], info["jobs"]
        trials = [s for s in info["tracer"].spans if s["name"] == "bench.trial"]
        trial_jobs = [j for j in jobs if any(s["start"] <= log["jobs"][j]["submit"] <= s["end"] for s in trials)]
        shuffle = eventlog.totals(log, trial_jobs)["shuffle_write_bytes"] / max(len(trials), 1)

        # self time of fused layers: differences of materialized prefixes
        spark = self.bench.session()
        self.prepare(spark)
        geo = geotag_pages(self.raw)
        prefixes = [
            self.raw.select("url"),
            geo.drop("cell_id"),
            geo,
            spatial_join_polygons(geo, self.boxes),
            self.plan,
        ]
        times = []
        for df in prefixes:
            noop(df)
            times.append(statistics.median(timed(noop, df)[0] for _ in range(3)))
        joined = prefixes[3].count()

        # same input at local[1]: scaling efficiency of local[cpus]
        self.prepare(self.bench.session(1))
        noop(self.plan)
        t1 = timed(noop, self.plan)[0]
        self.bench.spark.stop()
        eff = self.base_rate / (self.bench.cpus * PAGES / t1)
        return {
            "sources.pages.self_s": (times[1] - times[0], "s"),
            "functions.spatial.self_s": (times[2] - times[1], "s"),
            "operators.spatial_join.self_s": (times[3] - times[2], "s"),
            "plans.assignments.self_s": (times[4] - times[3], "s"),
            "operators.spatial_join.match_ratio": (joined / PAGES, "ratio"),
            "plans.assignments.shuffle_write_bytes": (shuffle, "bytes"),
            "plans.assignments.task_skew": (eventlog.task_skew(log, trial_jobs), "ratio"),
            "plans.assignments.scaling_eff": (eff, "ratio"),
        }
