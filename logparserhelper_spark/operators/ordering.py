"""Stable turn ordering + dedup.

The reference addresses the document by global char offset, so line (=turn)
order is semantic (core/regex_highlighter.py:11,23-24). The transcript table
may contain duplicated ``(conv_id, turn_idx)`` pairs; "per-turn text equality
under stable turn ordering" (BASELINE.json input_hint) therefore needs a
documented total order. Tiebreak, per SURVEY.md §7: the winning row for a
``(conv_id, turn_idx)`` key is the minimum of ``(role, ts, text)`` —
deterministic, engine-independent, reproducible by the pure-Python oracle.

Two strategies, proven equivalent in tests:

- ``agg`` (default): ``groupBy(conv_id, turn_idx).min(struct(role, ts, text,
  tool))``. Spark's partial (map-side) aggregation means the shuffle carries
  at most one candidate row per key per map task — at 10^12 turns this is
  strictly cheaper than a window, which must shuffle + sort every duplicate.
- ``window``: row_number over (conv_id, turn_idx) ordered by the tiebreak —
  kept as the readable spec of the semantics.

On a production Iceberg table bucketed by conv_id, either strategy's shuffle
disappears (storage-partitioned aggregation); in the sandbox the shuffle is
the one unavoidable exchange before parsing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

TRANSCRIPT_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
DEDUP_STRATEGIES = ("agg", "window")


def stable_order_dedup(df: DataFrame, strategy: str = "agg") -> DataFrame:
    """One row per (conv_id, turn_idx), winner = min(role, ts, text)."""
    if strategy == "agg":
        # struct comparison is lexicographic over fields, so min(struct(role,
        # ts, text, tool)) picks exactly the (role, ts, text) tiebreak winner;
        # tool participates only on full ties, deterministically.
        winner = F.min(F.struct("role", "ts", "text", "tool")).alias("w")
        out = df.groupBy("conv_id", "turn_idx").agg(winner)
        return out.select(
            "conv_id",
            "turn_idx",
            F.col("w.role").alias("role"),
            F.col("w.text").alias("text"),
            F.col("w.tool").alias("tool"),
            F.col("w.ts").alias("ts"),
        ).select(*TRANSCRIPT_COLS)
    if strategy == "window":
        w = Window.partitionBy("conv_id", "turn_idx").orderBy("role", "ts", "text", "tool")
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .select(*TRANSCRIPT_COLS)
        )
    raise ValueError(f"unknown dedup strategy: {strategy}")
