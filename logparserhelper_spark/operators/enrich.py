"""Enrichment — broadcast-hash joins against tiny dimensions.

The reference has no joins (SURVEY.md §2 Table B); these are the north-rule
additions: role/tool lookups plus the pattern-bank dimension (class name,
sink, color — the reference's O5 class tagging as data). All dims are
O(10-10^3) rows, so every join is pinned ``F.broadcast`` — AQE must never
demote them to a shuffle join at any input scale. Left joins preserve
unmatched lookups as nulls (tested).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logparserhelper_spark.banks import PatternBank
from logparserhelper_spark.colors import color_for


BANK_DIM_SCHEMA = pa.schema(
    [
        ("pattern_id", pa.int32()),
        ("pattern_name", pa.string()),
        ("pattern", pa.string()),
        ("sink", pa.string()),
        ("color", pa.string()),
    ]
)


def bank_dim(spark: SparkSession, bank: PatternBank) -> DataFrame:
    """The pattern bank as a dimension: (pattern_id, pattern_name, pattern,
    sink, color). Color is the reference's palette[i % 10]
    (utils/color_utils.py:18). Built from an Arrow table, so the plan is a
    ``LocalRelation`` with Arrow conversion on or off: a Python row list
    would plan as a ``LogicalRDD`` of pickled rows, and every query that
    broadcasts the dim would run a Python task to unpickle it."""
    rows = [
        {
            "pattern_id": e.pattern_id,
            "pattern_name": e.name,
            "pattern": e.pattern,
            "sink": e.sink,
            "color": color_for(e.pattern_id),
        }
        for e in bank.entries
    ]
    return spark.createDataFrame(pa.Table.from_pylist(rows, schema=BANK_DIM_SCHEMA))


def enrich(
    df: DataFrame,
    role_dim: DataFrame | None = None,
    tool_dim: DataFrame | None = None,
) -> DataFrame:
    """Left-join role/tool dimensions, broadcast-pinned."""
    out = df
    if role_dim is not None:
        out = out.join(F.broadcast(role_dim), on="role", how="left")
    if tool_dim is not None:
        out = out.join(F.broadcast(tool_dim), on="tool", how="left")
    return out
