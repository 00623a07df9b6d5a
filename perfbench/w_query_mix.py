"""query_mix: passes over a fixed list of many small, driver-bound
operations on seeded inputs.

Many distinct plans, small parquet scans, driver plan-build time, scalar
collects, helper threads and checkpoints. One pass runs, in a fixed order,
on inputs generated from the seed:

- registry queries: ``queries.queries()[name](spark, sf_dir)`` (the call,
  which may run eager jobs) followed by a ``collect()`` of its rows (the
  sink);
- ``plans.water_map.make_water_map_grid`` on a seeded dual-pol scene, with
  its water pixels collected;
- one micro-batch into each of the two streaming sinks (``streams.py``),
  whose stores live for the whole run.

Each of these is one operation. No operation is warmed up: the timed pass is
the first run of every operation in the session, as an ad-hoc user meets it,
so plan building, code generation and JIT compilation count in it (a cold
pass plus a warm one does not fit the run budget; see README.md). The
results of the last timed pass are checked: query rows against
``oracle_sql()`` on DuckDB, water pixels against ``core.watermap_mirror``,
and the streams' outputs over every batch fed against a batch
recomputation.
"""

from __future__ import annotations

import decimal
import math
import os
import time

import numpy as np

from . import streams
from .data import TABLES, water_scene, write_tables
from .harness import REGISTRY, jobs_under, timed
from .spans import engine_modules, layer_self, layer_wall

# one row per engine family the benchmark maps to a layer, and at least one
# row of every registry module (point in polygon, operators.geometry, runs
# in the geofence sink). The order is fixed: in a cold pass each
# operation leaves JIT-compiled code behind for the next, and a seed-permuted
# order moved those savings, and the per-operation times, from run to run.
QUERIES = [
    "pricing_summary",      # queries: TPC-H-style scan
    "geohash_rollup",       # queries_geo
    "pagerank_domains",     # queries_text: operators.graph
    "lpa_communities",      # queries_events: operators.graph
    "flow_direction_grid",  # queries_grid: operators.hand
    "grid_labels",          # queries_grid: operators.labeling
    "orders_by_segment",    # queries_raster
    "corpus_funnel",        # queries_text: plans.corpus_pipeline, operators.dedup
]
WATER_MAP = "water_map"
STREAMS = [streams.NEAR_DUP, streams.GEOFENCE]
PROBE_SKIP = (WATER_MAP, "corpus_funnel", *STREAMS)
SHAPE = (120, 160)
TILE = (24, 32)  # a 5 x 5 tile grid


def family(fn) -> str:
    """Registry module of a query function, e.g. ``queries_geo``."""
    return fn.__module__.rsplit(".", 1)[-1]


def _norm(v):
    if isinstance(v, float):
        return "nan" if v != v else v
    if isinstance(v, (bool, int, decimal.Decimal)):
        return v
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return str(v)


def _coarse(v):
    if isinstance(v, float):
        return float(f"{v:.6g}")
    return tuple(_coarse(x) for x in v) if isinstance(v, tuple) else v


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-4)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(map(_same, a, b))
    return a == b


def same_rows(got: list[tuple], got_cols: list[str], want: list[tuple], want_cols: list[str]) -> bool:
    """Order-insensitive comparison of two results with the same column
    names: exact on every value but floats, which may differ by what
    summation order changes, rounded last digits included (relative 1e-9,
    absolute 1e-4). Both sides are sorted on floats cut to 6 significant
    digits first."""
    if sorted(got_cols) != sorted(want_cols) or len(got) != len(want):
        return False

    def canon(rows, cols):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        rows = [tuple(_norm(r[i]) for i in order) for r in rows]
        return sorted(rows, key=lambda r: repr(_coarse(r)))

    return all(map(_same, canon(got, got_cols), canon(want, want_cols)))


class Workload:
    LAYERS = {
        "asf_tools_spark.core.io": "core.io",
        "asf_tools_spark.operators.geometry": "operators.geometry",
        "asf_tools_spark.operators.graph": "operators.graph",
        "asf_tools_spark.operators.hand": "operators.hand",
        "asf_tools_spark.operators.dedup": "operators.dedup",
        "asf_tools_spark.operators.labeling": "operators.labeling",
        "asf_tools_spark.operators.tiling": "operators.tiling",
        "asf_tools_spark.plans.water_map": "plans.water_map",
        "asf_tools_spark.plans.corpus_pipeline": "plans.corpus_pipeline",
        "asf_tools_spark.streaming.near_dup": "streaming.near_dup",
        "asf_tools_spark.streaming.geofence": "streaming.geofence",
    }
    SINK_SPANS = {
        streams.NEAR_DUP: "streaming.near_dup.NearDupIndexer",
        streams.GEOFENCE: "streaming.geofence.GeofenceAlertIndexer",
    }

    def __init__(self, bench):
        # the engine's default (md5) signature hash: the family the DuckDB
        # oracle reproduces, so the near-dup row is checkable too
        os.environ["SPARK_GRAFT_HASH_FAMILY"] = "md5"
        self.bench = bench
        self.sf_dir = os.path.join(bench.out_dir, "tables")
        self.streams = streams.Streams(os.path.join(bench.out_dir, "streams"), bench.seed)
        self.refine_inputs = []
        self.order = QUERIES + [WATER_MAP] + STREAMS

    def prepare(self, spark):
        from asf_tools_spark import queries as registry
        from asf_tools_spark.operators.tiling import long_grid_df

        self.queries = registry.queries()
        write_tables(self.sf_dir, self.bench.seed)
        self.streams.prepare(spark)
        self.scene = water_scene(*SHAPE, seed=self.bench.seed)
        vv, vh, hand = self.scene
        self.grids = [
            long_grid_df(spark, vv, TILE, pad_value=0.0).persist(),
            long_grid_df(spark, vh, TILE, pad_value=0.0).persist(),
            long_grid_df(spark, hand, TILE, pad_value=np.nan).persist(),
        ]
        for g in self.grids:
            g.count()

    def _run(self, spark, name, qs, tracer):
        """One operation; returns (columns, rows) of a query or water-map
        run, None for a streaming batch (checked at the end)."""
        if name in STREAMS:
            if tracer is None:
                return self.streams.feed(spark, name)
            with tracer.span(self.SINK_SPANS[name]):
                return self.streams.feed(spark, name)
        if name == WATER_MAP:
            from asf_tools_spark.plans.water_map import make_water_map_grid

            wm = make_water_map_grid(*self.grids, SHAPE, tile_shape=TILE)["water_map"]
            return ["row", "col"], [tuple(r) for r in wm.collect()]
        fam = family(qs[name])
        if tracer is None:
            df = qs[name](spark, self.sf_dir)
            return df.columns, [tuple(r) for r in df.collect()]
        with tracer.span(f"{fam}.call"):
            df = qs[name](spark, self.sf_dir)
        with tracer.span(f"{fam}.sink"):
            return df.columns, [tuple(r) for r in df.collect()]

    def _pass(self, spark, tracer=None, names=None):
        """One pass over ``names`` (default: every operation); the traced
        pass of ``measure`` also lists each sink's files around its call."""
        qs = self.queries
        ops, failed, rows = {}, 0, {}
        if names is None:
            self.streams.next_batch()
        record_io = tracer is not None and names is None
        for name in names or self.order:
            before = self.streams.snapshot(name) if record_io and name in STREAMS else None
            t0 = time.perf_counter()
            try:
                rows[name] = self._run(spark, name, qs, tracer)
            except Exception as e:  # a failed operation counts and the pass goes on
                failed += 1
                self.bench.notes.append(f"{name} failed: {type(e).__name__}: {str(e)[:200]}")
                continue
            ops[name] = time.perf_counter() - t0
            if before is not None:
                self.streams.record_io(name, before)
        return ops, failed, rows

    def warm(self, spark):
        """No operation is warmed up (see the module docstring). One plain
        scan, join and aggregate over two of the tables pays Spark SQL's
        one-off start-up (parquet reader, shuffle, code generation), which
        would otherwise land on whichever operation the seed puts first."""
        from pyspark.sql import functions as F

        li = spark.read.parquet(os.path.join(self.sf_dir, "lineitem.parquet"))
        orders = spark.read.parquet(os.path.join(self.sf_dir, "orders.parquet"))
        (li.join(orders, li.l_orderkey == orders.o_orderkey)
         .groupBy("o_orderpriority").agg(F.sum("l_quantity")).collect())

    def measure(self, spark, seconds, tracer=None):
        if tracer is not None:
            self._record_refine_inputs()
        return self._passes(spark, seconds, tracer)

    def probe(self, spark, seconds, tracer=None):
        """Passes over the registry queries other than ``corpus_funnel``: the
        cheap operations, so that the three probes of a traced run fit its
        time limit."""
        return self._passes(spark, seconds, tracer, [n for n in self.order if n not in PROBE_SKIP])

    def _passes(self, spark, seconds, tracer=None, names=None):
        ops, failed, passes = [], 0, 0
        self.bench.first_op()
        t0 = time.perf_counter()
        while not passes or time.perf_counter() < t0 + seconds:
            passes += 1
            dt, (p_ops, p_failed, rows) = timed(self._pass, spark, tracer, names)
            if names is None:
                self.rows = rows
            ops += list(p_ops.values())
            failed += p_failed
            self.bench.notes.append(
                f"{'probe ' if names else ''}pass of {len(p_ops)} operations: {dt:.3f} s; "
                + " ".join(f"{k}={v:.2f}" for k, v in p_ops.items())
            )
        return ops, len(ops), time.perf_counter() - t0, failed

    def _record_refine_inputs(self):
        """Swap the traced ``operators.geometry.pip_refine`` for one that also
        keeps its candidate argument, for ``after_trace`` to count (the
        tracer puts the original back when it is uninstalled)."""
        from asf_tools_spark.operators import geometry

        traced = geometry.pip_refine

        def pip_refine(cand, *args, **kwargs):
            self.refine_inputs.append(cand)
            return traced(cand, *args, **kwargs)

        for mod in engine_modules():
            if getattr(mod, "pip_refine", None) is traced:
                mod.pip_refine = pip_refine

    def after_trace(self, spark, tracer):
        """Rows that entered ``pip_refine`` in the traced measurement,
        counted after its window."""
        tracer.count("operators.geometry.refine_rows", sum(c.count() for c in self.refine_inputs))
        self.refine_inputs.clear()

    def check(self, spark):
        """Results of the last timed pass: query rows vs ``oracle_sql()`` on
        DuckDB over the same parquet files (``same_rows``); water pixels vs ``core.watermap_mirror`` on the same scene;
        the streams over every batch fed (``Streams.check``)."""
        import duckdb

        from asf_tools_spark import queries as registry
        from asf_tools_spark.core import watermap_mirror

        oracle = registry.oracle_sql()
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
        checks, bad, notes = 0, 0, []
        for name, ok, note in self.streams.check(spark):
            checks += 1
            bad += not ok
            notes.append(f"check: {name}: {note} -> {'ok' if ok else 'MISMATCH'}")
        for name in self.order:
            if name in STREAMS:
                continue
            checks += 1
            if name not in self.rows:
                bad += 1
                continue
            cols, got = self.rows[name]
            if name == WATER_MAP:
                want_px = watermap_mirror.make_water_map(*self.scene, tile_shape=TILE)["water_map"]
                want = [tuple(int(x) for x in rc) for rc in np.argwhere(want_px)]
                ok = sorted(got) == want
            else:
                tbl = con.execute(oracle[name]).arrow()
                want = [tuple(d[c] for c in tbl.column_names) for d in tbl.to_pylist()]
                ok = same_rows(got, cols, want, tbl.column_names)
            if not ok:
                bad += 1
            notes.append(f"check: {name}: {len(got)} rows vs reference {len(want)} -> {'ok' if ok else 'MISMATCH'}")
        con.close()
        return checks, bad, notes

    def layer_metrics(self, info):
        from . import eventlog

        tracer, log = info["tracer"], info["log"]
        spans = tracer.spans
        out = {}
        for mod in REGISTRY:
            mine = jobs_under(info, mod)
            for part in ("call", "sink"):
                out[f"{mod}.{part}_s"] = (sum(s["end"] - s["start"] for s in spans if s["name"] == f"{mod}.{part}"), "s")
            out[f"{mod}.jobs"] = (len(mine), "count")
            out[f"{mod}.shuffle_bytes"] = (eventlog.totals(log, mine)["shuffle_write_bytes"], "bytes")
        out["core.io.input_bytes"] = (eventlog.totals(log, info["jobs"])["input_bytes"], "bytes")
        out["operators.geometry.refine_rows"] = (tracer.counters.get("operators.geometry.refine_rows", 0), "count")
        for layer in ("operators.geometry", "operators.graph", "operators.hand", "operators.dedup",
                      "operators.tiling", "operators.labeling"):
            out[f"{layer}.wall_s"] = (layer_wall(spans, layer), "s")
        for layer in ("operators.graph", "operators.hand", "operators.tiling", "operators.labeling",
                      "plans.water_map"):
            out[f"{layer}.jobs"] = (len(jobs_under(info, layer)), "count")
        out["plans.water_map.self_s"] = (layer_self(spans, "plans.water_map"), "s")
        out["plans.corpus_pipeline.wall_s"] = (layer_wall(spans, "plans.corpus_pipeline"), "s")
        out["plans.corpus_pipeline.jobs"] = (len(jobs_under(info, "plans.corpus_pipeline")), "count")
        for name, span_name in self.SINK_SPANS.items():
            layer = span_name.rsplit(".", 1)[0]
            calls = [s["end"] - s["start"] for s in spans if s["name"] == span_name]
            io = self.streams.io[name]
            out[f"{layer}.batch_s"] = (sum(calls) / len(calls), "s")
            out[f"{layer}.files_written"] = (io["files_written"], "count")
            out[f"{layer}.bytes_written"] = (io["bytes_written"], "bytes")
        out["streaming.near_dup.store_files"] = (self.streams.io[streams.NEAR_DUP]["store_files"], "count")
        io = self.streams.io[streams.NEAR_DUP]
        out["streaming.near_dup.write_amp"] = (io["bytes_written"] / io["input_bytes"], "ratio")
        out["streaming.geofence.state_files"] = (self.streams.io[streams.GEOFENCE]["store_files"], "count")
        return out
