"""Sources — transcripts fact table and dimensions.

O1 in the reference is a whole-file UTF-8 read (gui/app_window.py:37-51);
here the primary source is a columnar table scan with an explicit schema so
Catalyst gets pushdown/pruning. Production target is an Iceberg table
(`spark.read.table`) partitioned by days(ts) + bucket(conv_id) — the bucket
layout is what lets the dedup/rollup shuffles disappear at 10^12 turns. The
sandbox has no Iceberg catalog, so the parquet path is the default and the
table path is gated.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logparserhelper_spark.sinks.hadoop_table import _local_path

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)
# the declared dimension schemas (datagen writes these): reading with a
# schema launches no job to infer one from the parquet footer
ROLE_DIM_SCHEMA = "role string, role_kind string, is_human boolean"
TOOL_DIM_SCHEMA = "tool string, tool_family string, is_side_effecting boolean"

# the time-travel suffix must be ANCHORED (@v<digits> / @ref:<name> /
# @ts:<epoch-ms|iso> at end): a path merely containing '@v' (user@vm01/...)
# is a path, not a reference
_SNAPSHOT_SUFFIX = re.compile(r"@(?:v(\d+)|ref:([A-Za-z0-9._-]+)|ts:([0-9TZ:.+-]+))$")


def split_snapshot_suffix(addr: str) -> tuple[str, str]:
    """``addr`` split into its base and its snapshot suffix (``@vN``,
    ``@ref:<name>`` or ``@ts:<ms-or-iso>``; '' when it has none). The
    suffix comes off first, since ``@ref:`` and ``@ts:`` hold colons of
    their own."""
    m = _SNAPSHOT_SUFFIX.search(addr)
    return (addr[: m.start()], m.group(0)) if m else (addr, "")


def read_transcripts(spark: SparkSession, path_or_table: str) -> DataFrame:
    """Read the transcripts table. Accepts:
    - a directory containing ``transcripts.parquet``,
    - a parquet file/dir path,
    - a ``table:<location>[@vN|@ref:name|@ts:ms-or-iso]`` snapshot
      table (sinks/hadoop_table.py), read at the current or a pinned
      snapshot,
    - a ``catalog:<warehouse>:<ns.tbl>[suffix]`` identifier in a
      filesystem catalog (sinks/catalog.py), resolved to its ``table:``
      location with the same suffixes,
    - an ``iceberg:<catalog.table>`` reference (requires a configured
      catalog; not available in the sandbox image)."""
    if path_or_table.startswith("iceberg:"):
        return spark.read.table(path_or_table.split(":", 1)[1])
    if path_or_table.startswith("catalog:"):
        # ``catalog:<warehouse>:<ns.tbl>[@vN|@ref:name|@ts:..]`` — filesystem-
        # catalog addressing (sinks/catalog.py); maps the identifier to
        # its warehouse path and falls through to the ``table:`` branch
        # (identifier parts are validated, so they can never traverse
        # outside the warehouse)
        from logparserhelper_spark.sinks.catalog import ident_location

        rest, suffix = split_snapshot_suffix(path_or_table.split(":", 1)[1])
        wh, _, ident = rest.rpartition(":")
        if not wh:
            raise ValueError(
                "catalog source is catalog:<warehouse>:<ns.tbl>[@vN]"
            )
        return read_transcripts(
            spark, "table:" + ident_location(wh, ident) + suffix
        )
    if path_or_table.startswith("table:"):
        # the snapshot-table shim (sinks/hadoop_table.py): the executable
        # stand-in for the Iceberg input table — manifest-planned scan,
        # snapshot-consistent reads. Suffix ``@v<N>`` time-travels;
        # ``@ref:<name>`` reads a named tag or branch head (the
        # audit/repro pin: "the corpus as model X saw it").
        from logparserhelper_spark.sinks.hadoop_table import HadoopTable

        loc, suffix = split_snapshot_suffix(path_or_table.split(":", 1)[1])
        pin = _SNAPSHOT_SUFFIX.match(suffix)
        version, ref, at_ms = pin.groups() if pin else (None, None, None)
        df = HadoopTable(spark, loc).read(
            version=None if version is None else int(version), ref=ref, at_ms=at_ms
        )
        return df.select(*[f.name for f in TRANSCRIPT_SCHEMA.fields])
    p = path_or_table
    local = _local_path(p)  # a file: URI names a local directory too
    if os.path.isdir(local) and os.path.exists(os.path.join(local, "transcripts.parquet")):
        p = os.path.join(p, "transcripts.parquet")
    df = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(p)
    return df


def read_dim(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    """A dimension table; with ``schema`` (ROLE_DIM_SCHEMA, TOOL_DIM_SCHEMA)
    the read launches no schema-inference job."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def read_transcripts_csv(spark: SparkSession, path: str) -> DataFrame:
    """Transcripts from headered CSV (explicit schema — no inference pass,
    which would double-scan the input at scale)."""
    return (
        spark.read.schema(TRANSCRIPT_SCHEMA)
        .option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss[.SSSSSS]")
        .csv(path)
    )


def read_transcripts_json(spark: SparkSession, path: str) -> DataFrame:
    """Transcripts from JSON Lines (explicit schema; malformed rows go to
    null columns under the default PERMISSIVE mode — the pipeline's
    quarantine filter picks them up, matching the reference's
    degrade-don't-fail loading)."""
    return spark.read.schema(TRANSCRIPT_SCHEMA).json(path)


def read_transcripts_orc(spark: SparkSession, path: str) -> DataFrame:
    """Transcripts from ORC (Spark-native columnar alternative to parquet;
    same explicit schema so no inference pass, same predicate/column
    pushdown behavior — `PushedFilters` reaches the ORC scan exactly like
    the parquet one, pinned in tests)."""
    return spark.read.schema(TRANSCRIPT_SCHEMA).orc(path)


def read_text_logs_as_transcripts(spark: SparkSession, path: str) -> DataFrame:
    """Dev-mode source: raw text log files as a transcripts-shaped DataFrame
    (one conversation per file, one line per turn) — the Spark equivalent of
    the reference's load_log (gui/app_window.py:43-48).

    Each file is read whole (``wholetext``) and split into lines with
    ``posexplode``, so ``turn_idx`` is the exact file line number regardless
    of how many splits the file would otherwise span. (A window over
    ``monotonically_increasing_id`` is NOT order-safe here: Spark packs file
    splits into partitions sorted by split size, so partition ids do not
    follow file offsets for files larger than maxPartitionBytes.) Whole-file
    rows cap the practical file size — this is the dev source; the production
    source is the table scan above."""
    raw = (
        spark.read.text(path, wholetext=True)
        .select(F.input_file_name().alias("_file"), "value")
        # an empty file reads as one '' row; the line reader emits no rows
        # for it, so neither do we (a legitimately empty FIRST line of a
        # non-empty file is preserved — its file value is not '')
        .filter(F.col("value") != "")
    )
    # split on \r\n, lone \r, or \n (Hadoop LineRecordReader's three line
    # endings); drop the phantom element a trailing terminator produces so
    # row count matches line count
    lines = F.split(F.col("value"), r"\r\n|\r|\n")
    lines = F.when(
        (F.size(lines) > 1) & (F.element_at(lines, -1) == ""),
        F.slice(lines, 1, F.size(lines) - 1),
    ).otherwise(lines)
    return raw.select(
        F.regexp_replace(
            F.element_at(F.split(F.col("_file"), "/"), -1), r"\.[a-z]+$", ""
        ).alias("conv_id"),
        F.posexplode(lines).alias("turn_idx", "text"),
    ).select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.lit("system").alias("role"),
        "text",
        F.lit(None).cast("string").alias("tool"),
        (
            F.lit("2025-06-06 00:00:00").cast("timestamp")
            + F.make_interval(secs=F.col("turn_idx"))
        ).alias("ts"),
    )
