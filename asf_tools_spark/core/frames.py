"""Driver-built DataFrames as Arrow ``LocalRelation``s.

Every small table the engine builds on the driver (polygon covers, ring
edges, box bounds, lookup tables, graph/labeling results solved locally)
goes through :func:`local_frame`. ``spark.createDataFrame(list, schema)``
would pickle the rows into a ``LogicalRDD``, so every execution of a plan
holding it (and every broadcast of it) first runs a Spark job just to
unpickle them. An Arrow table below
``spark.sql.execution.arrow.localRelationThreshold`` becomes a
``LocalRelation`` instead: its rows live in the plan, and collecting,
broadcasting or scanning it runs no job. Above the threshold Spark itself
ships the Arrow batches to the executors.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Sequence

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, TimestampType, _parse_datatype_string


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence] | pd.DataFrame, schema: str | StructType
) -> DataFrame:
    """``rows`` (a sequence of row tuples, or a pandas DataFrame whose
    columns are named as in ``schema``) as a DataFrame of exactly
    ``schema`` (DDL string or ``StructType``), built from one Arrow table.

    Row values convert as the pickle path converts them (``None`` -> NULL,
    NaN stays NaN); a pandas frame converts as pandas-to-Arrow does (NaN in
    a float column -> NULL). A non-empty ``timestamp`` column must hold
    timezone-aware datetimes (``TypeError`` otherwise)."""
    struct = _parse_datatype_string(schema) if isinstance(schema, str) else schema
    arrow_schema = to_arrow_schema(struct)
    if isinstance(rows, pd.DataFrame):
        table = pa.Table.from_pandas(rows, schema=arrow_schema, preserve_index=False)
    else:
        cols = list(zip(*rows)) if len(rows) else [()] * len(struct.fields)
        if len(cols) != len(struct.fields):
            raise ValueError(
                f"local_frame: rows have {len(cols)} values, schema has {len(struct.fields)} fields"
            )
        for field, values in zip(struct.fields, cols):
            # Arrow would read a naive datetime as UTC wall-clock time, the
            # pickle path as the driver's local time: refuse to pick one
            if isinstance(field.dataType, TimestampType) and any(
                isinstance(v, _dt.datetime) and v.tzinfo is None for v in values
            ):
                raise TypeError(
                    f"local_frame: column {field.name!r} holds a naive datetime; "
                    "pass timezone-aware datetimes"
                )
        table = pa.Table.from_arrays(
            [pa.array(values, type=f.type) for values, f in zip(cols, arrow_schema)],
            schema=arrow_schema,
        )
    return spark.createDataFrame(table, struct)
