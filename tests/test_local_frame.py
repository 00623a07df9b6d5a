"""core.frames.local_frame: driver-built tables as Arrow LocalRelations.

Every schema the engine builds a driver-side table with must come out of
``local_frame`` exactly as ``spark.createDataFrame(rows, schema)`` made it
(schema and rows), as a ``LocalRelation`` whose collect runs no Spark job.
"""

from __future__ import annotations

import datetime as dt
import math
import re
import uuid
from pathlib import Path

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from asf_tools_spark.core.frames import local_frame
from asf_tools_spark.core.tiles import grid_to_long
from asf_tools_spark.operators.graph import _rank_schema, pagerank
from asf_tools_spark.operators.labeling import _LABEL_SCHEMA
from asf_tools_spark.operators.spatial_join import polygon_cover_df
from asf_tools_spark.operators.tiling import long_grid_df
from asf_tools_spark.sources.lineage import LINEAGE_SCHEMA
from asf_tools_spark.sources.polygons import watershed_boxes, watershed_polygons
from asf_tools_spark.streaming.geofence import ALERTS_SCHEMA

PACKAGE = Path(__file__).resolve().parents[1] / "asf_tools_spark"
NAN = float("nan")

# (schema, rows): every schema a driver-side table is built with, with rows
# covering NULL, NaN, negative and nested values where the type allows
CASES = [
    ("poly_id int, cell_id long", [(1, 2**40), (-3, None)]),
    ("poly_id int, row long, col long", [(0, 5, 7), (None, -1, 2**33)]),
    (
        "poly_id int, cell_id long, min_lat double, min_lon double, max_lat double, max_lon double",
        [(4, 9, -1.5, 2.25, NAN, None)],
    ),
    ("target_id int, t_lat double, t_lon double, cell_id long", [(0, 40.0, -74.0, 123)]),
    ("_mk long, _mc long", [(5, 1), (1, 1)]),
    ("_mk string, _mc string", [("b", "a"), ("a", "a")]),
    ("row int, col int, gb double", [(1, 2, 0.5), (3, 4, NAN)]),
    ("d8 int, dr int, dc int", [(0, 0, 1), (7, -1, 1)]),
    (
        "q_id long, list_id int, lut array<array<double>>",
        [(1, 0, [[0.0, 1.5], [2.0]]), (2, 1, [[], [NAN]]), (3, None, None)],
    ),
    ("q_id long, lut array<array<double>>", [(1, [[1.0, 2.0], [3.0, 4.0]])]),
    ("node string, hops long", [("n0", 0), ("n1", 3)]),
    ("node string, hub double, auth double", [("a", 1.0, 0.25)]),
    ("node string, cost double", [("a", 2.0), ("b", None)]),
    ("node string", [("n0",)]),
    ("term string", [("water",), ("",)]),
    ("label long, root long", [(3, 1), (1, 1)]),
    ("q double", [(0.5,), (0.99,)]),
    ("tile_id long", [(0,), (24,)]),
    ("_fidx int, _w double", [(0, -0.125), (4095, 1e-300)]),
    ("poly_id int, idx int, lon double, lat double", [(1, 0, -120.5, 45.25)]),
    ("poly_id int, x1 double, y1 double, x2 double, y2 double", [(1, 0.0, 0.0, 1.0, 1.0)]),
    ("off int, kw double", [(-2, 1.0), (0, 3.0)]),
    ("stage string, n_docs long", [("input", 500), ("near_dedup", 0)]),
    ("tile_id long, row int, col int, value double, valid boolean", [(0, 1, 2, NAN, False), (0, 1, 3, 1.5, None)]),
    (LINEAGE_SCHEMA, [("job", "2024", 10, 0.5, 1.7e9, "committed")]),
    (_LABEL_SCHEMA, [(1, 2, 3), (4, 5, None)]),
    (_rank_schema(LongType()), [(7, 0.15)]),
    (ALERTS_SCHEMA, []),
]


def _same(a, b) -> bool:
    """Row-list equality with NaN == NaN (repr keeps every double exactly)."""
    return repr(a) == repr(b)


def _plan_node(df) -> str:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


def _jobs_during(spark, fn) -> list[int]:
    """Ids of the Spark jobs ``fn`` started, counted under a fresh job group
    once the listener bus has delivered every event."""
    sc = spark.sparkContext
    group = f"local-frame-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "local_frame job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("schema,rows", CASES, ids=[str(i) for i in range(len(CASES))])
def test_matches_pickled_create(spark, schema, rows):
    for data in (rows, []):
        old = spark.createDataFrame(data, schema)
        new = local_frame(spark, data, schema)
        assert new.schema == old.schema
        assert _same(new.collect(), old.collect())
        assert _plan_node(new) == "LocalRelation"


def test_pandas_input_matches_arrow_pandas_create(spark):
    """A pandas frame converts as ``createDataFrame(pdf)`` did under the
    engine's Arrow setting: NaN in a float column becomes NULL."""
    arr = np.ma.MaskedArray(np.arange(12.0).reshape(3, 4), mask=np.eye(3, 4, dtype=bool))
    old = spark.createDataFrame(pd.DataFrame(grid_to_long(arr, (2, 2), np.nan))).select(
        F.col("tile_id").cast("long"), F.col("row").cast("int"), F.col("col").cast("int"),
        F.col("value").cast("double"), F.col("valid").cast("boolean"),
    )
    new = long_grid_df(spark, arr, (2, 2), pad_value=np.nan)
    assert new.schema == old.schema
    assert _same(sorted(new.collect()), sorted(old.collect()))
    # 3 masked pixels + the 4 of the padding row
    assert new.where(F.col("value").isNull()).count() == 7
    assert _plan_node(new) == "LocalRelation"


def test_row_width_mismatch_raises(spark):
    with pytest.raises(ValueError, match="schema has 2 fields"):
        local_frame(spark, [(1, 2, 3)], "a int, b int")


def test_timestamps(spark):
    aware = [(1, 2, dt.datetime(2024, 3, 1, 12, 30, tzinfo=dt.timezone.utc), "enter", 0)]
    old = spark.createDataFrame(aware, ALERTS_SCHEMA)
    new = local_frame(spark, aware, ALERTS_SCHEMA)
    assert new.schema == old.schema
    assert new.collect() == old.collect()
    with pytest.raises(TypeError, match="naive datetime"):
        local_frame(spark, [(1, 2, dt.datetime(2024, 3, 1), "enter", 0)], ALERTS_SCHEMA)


def test_build_sides_collect_without_jobs(spark):
    covers = [polygon_cover_df(spark, watershed_boxes(), 8), polygon_cover_df(spark, watershed_polygons(), 8)]
    assert [c.columns for c in covers] == [
        ["poly_id", "cell_id", "min_lat", "min_lon", "max_lat", "max_lon"],
        ["poly_id", "cell_id"],
    ]
    edges = local_frame(spark, [("a", "b"), ("b", "c"), ("c", "a"), ("c", "b")], "src string, dst string")
    ranks = pagerank(edges)  # driver-solved: 4 edges << local_threshold
    for df in covers + [ranks]:
        assert _plan_node(df) == "LocalRelation"
        assert _jobs_during(spark, df.collect) == []
    got = {r.node: r.rank for r in ranks.collect()}
    assert set(got) == {"a", "b", "c"} and all(math.isfinite(v) for v in got.values())
    # the count is live: the pickled path's collect does start a job
    pickled = spark.createDataFrame([(1, 2)], "poly_id int, cell_id long")
    assert len(_jobs_during(spark, pickled.collect)) >= 1


def test_no_pickled_create_in_package():
    """Driver-built tables go through core/frames.py only: a bare
    createDataFrame elsewhere in the package would bring back the
    pickled-RDD build side and its per-execution job."""
    offenders = [
        f"{p.relative_to(PACKAGE)}:{i}"
        for p in sorted(PACKAGE.rglob("*.py"))
        if p.relative_to(PACKAGE).as_posix() != "core/frames.py"
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if re.search(r"createDataFrame\(", line)
    ]
    assert offenders == []
