"""Structured Streaming lift of the parse -> route stage.

The batch operators O4/O7 are stateless per-turn maps, so they lift directly
onto a streaming DataFrame (SURVEY.md §2 Table B design note): the same fused
normalize+extract Arrow UDF, the same explode_outer routing, the same
broadcast bank dim. Late data is handled with an event-time watermark on
``ts``; windowed per-sink counts use update-capable stateful aggregation.

At production scale the source is Kafka / an Iceberg CDC stream and the sink
is ``foreachBatch`` -> Iceberg MERGE (exactly-once via idempotent commits,
same property the batch pipeline relies on); in the sandbox the tests drive
it with a file source and a memory sink via ``processAllAvailable``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logparserhelper_spark.banks import PatternBank, TransformBank
from logparserhelper_spark.operators.extract import make_parse_normalize_udf


def stream_parse_route(
    stream_df: DataFrame,
    bank: PatternBank,
    bank_dim_df: DataFrame,
    tbank: TransformBank | None = None,
) -> DataFrame:
    """Streaming turns -> routed span rows (multicast, unmatched
    first-class). Identical semantics to the batch path; tested equal."""
    pn = make_parse_normalize_udf(bank, tbank)
    out = stream_df.withColumn("_pn", pn(F.col("text")))
    out = out.select(
        *stream_df.columns,
        F.col("_pn.norm_text").alias("norm_text"),
        F.explode_outer("_pn.spans").alias("_s"),
    ).select(
        *stream_df.columns,
        "norm_text",
        F.col("_s.pattern_id").alias("pattern_id"),
        F.col("_s.start").alias("start"),
        F.col("_s.end").alias("end"),
        F.col("_s.match").alias("match"),
    )
    dim = bank_dim_df.select("pattern_id", "pattern_name", "sink", "color")
    return out.join(F.broadcast(dim), "pattern_id", "left").withColumn(
        "sink", F.coalesce(F.col("sink"), F.lit("unmatched"))
    )


def stream_sink_counts(
    routed_stream: DataFrame,
    watermark: str = "1 hour",
    window: str = "10 minutes",
) -> DataFrame:
    """Windowed per-sink pattern frequency over event time with a watermark
    for late data — the streaming analogue of sink_pattern_freq."""
    return (
        routed_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "sink", "pattern_id")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "sink",
            "pattern_id",
            "n_rows",
        )
    )
