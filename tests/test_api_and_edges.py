"""Convenience-API parity tests + pipeline edge cases (empty input, Unicode
text, bank swap)."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from logparserhelper_spark import api, oracle
from logparserhelper_spark.banks import TransformBank, TransformEntry, bank_from_dicts
from logparserhelper_spark.defaults import default_pattern_bank
from logparserhelper_spark.pipeline import PipelineConfig, run_pipeline

BANK = default_pattern_bank()


def test_highlight_matches_oracle_with_colors():
    text = "start 2025-06-06 01:02:03,123 and 01/02/2025 03:04:05 end"
    hs = api.highlight(text)
    exp = oracle.extract_spans(text, BANK)
    assert [(h.pattern_id, h.start, h.end, h.match) for h in hs] == exp
    assert {h.pattern_id: h.color for h in hs}[4] == "#9467bd"  # palette[4]
    assert {h.name for h in hs} >= {"HDFS Timestamp", "Zookeeper Timestamp"}


def test_preview_transformations_fallback_and_disabled():
    tb = TransformBank(
        entries=(
            TransformEntry(pattern=r"\d+", sample="a 12", replacement="<N>"),
            TransformEntry(pattern="(bad", sample="keep", replacement="X"),
            TransformEntry(pattern=r"x", sample="x", replacement="y", enabled=False),
        )
    )
    rows = api.preview_transformations(tb)
    assert rows[0]["example"] == "a <N>"
    assert rows[1]["example"] == "keep"  # re.error -> raw sample
    assert rows[2]["enabled"] is False and rows[2]["example"] == "y"


def _write_transcripts(path: str, rows: list[tuple]) -> str:
    import datetime as dt

    os.makedirs(path, exist_ok=True)
    cols = list(zip(*rows)) if rows else [[], [], [], [], [], []]
    table = pa.table(
        {
            "conv_id": pa.array(cols[0], pa.string()),
            "turn_idx": pa.array(cols[1], pa.int32()),
            "role": pa.array(cols[2], pa.string()),
            "text": pa.array(cols[3], pa.string()),
            "tool": pa.array(cols[4], pa.string()),
            "ts": pa.array(cols[5], pa.timestamp("us", tz="UTC")),
        }
    )
    pq.write_table(table, os.path.join(path, "transcripts.parquet"))
    return path


def test_pipeline_empty_input(spark, tmp_path):
    d = _write_transcripts(str(tmp_path / "empty"), [])
    out = str(tmp_path / "out_empty")
    cfg = PipelineConfig(input_path=d, out_dir=out, transform_bank=None, n_buckets=2)
    metrics = run_pipeline(spark, cfg)
    assert all(
        b["turns_in"] == 0 for b in metrics["buckets"].values() if isinstance(b, dict)
    )
    # empty partitionBy write commits only _SUCCESS (no data files) — the
    # bucket is committed, and schema-bearing outputs read back as 0 rows
    for k in (0, 1):
        assert os.path.exists(os.path.join(out, "routed", f"bucket={k}", "_SUCCESS"))
    freq = spark.read.parquet(os.path.join(out, "aggregates", "sink_pattern_freq"))
    assert freq.count() == 0
    assert spark.read.parquet(os.path.join(out, "turns")).count() == 0


def test_pipeline_unicode_text(spark, tmp_path):
    import datetime as dt

    ts = dt.datetime(2025, 6, 6, tzinfo=dt.timezone.utc)
    rows = [
        ("c1", 0, "user", "Ошибка в 2025-06-06T01:02:03 журнале 🚀", None, ts),
        ("c1", 1, "assistant", "naïve café — 01/02/2025 03:04:05 ✓", None, ts),
        ("c1", 2, "user", "χωρίς ημερομηνία εδώ", None, ts),
    ]
    d = _write_transcripts(str(tmp_path / "uni"), rows)
    out = str(tmp_path / "out_uni")
    cfg = PipelineConfig(input_path=d, out_dir=out, transform_bank=None, n_buckets=1)
    run_pipeline(spark, cfg)
    routed = spark.read.parquet(os.path.join(out, "routed"))
    got = {
        (r.turn_idx, r.pattern_id, r.start, r.end, r.match)
        for r in routed.filter(F.col("pattern_id").isNotNull()).collect()
    }
    exp = set()
    for _, ti, _, text, _, _ in rows:
        for pid, s, e, m in oracle.extract_spans(text, BANK):
            exp.add((ti, pid, s, e, m))
    assert got == exp and len(got) >= 3  # code-point offsets agree w/ Python
    # unmatched Greek turn routed to unmatched
    assert routed.filter((F.col("turn_idx") == 2) & (F.col("sink") == "unmatched")).count() == 1


def test_pipeline_custom_bank_version_isolation(spark, tmp_path):
    import datetime as dt

    ts = dt.datetime(2025, 6, 6, tzinfo=dt.timezone.utc)
    rows = [("c1", 0, "user", "num 42 here", None, ts)]
    d = _write_transcripts(str(tmp_path / "cb"), rows)
    bank = bank_from_dicts([{"name": "Number", "pattern": r"\d+"}])
    out = str(tmp_path / "out_cb")
    cfg = PipelineConfig(
        input_path=d, out_dir=out, pattern_bank=bank, transform_bank=None, n_buckets=1
    )
    run_pipeline(spark, cfg)
    routed = spark.read.parquet(os.path.join(out, "routed"))
    r = routed.filter(F.col("pattern_id").isNotNull()).collect()[0]
    assert (r.sink, r.match, r.bank_version) == ("number", "42", bank.version)


def test_pipeline_quarantines_malformed_rows(spark, tmp_path):
    import datetime as dt

    ts = dt.datetime(2025, 6, 6, tzinfo=dt.timezone.utc)
    rows = [
        ("c1", 0, "user", "ok 2025-06-06T01:02:03", None, ts),
        (None, 1, "user", "null conv", None, ts),
        ("c1", None, "user", "null idx", None, ts),
        ("c1", 2, None, "null role", None, ts),
        ("c1", 3, "user", "null ts", None, None),
        ("c1", 4, "user", None, None, ts),  # null TEXT is fine -> unmatched
    ]
    d = _write_transcripts(str(tmp_path / "mal"), rows)
    out = str(tmp_path / "out_mal")
    cfg = PipelineConfig(input_path=d, out_dir=out, transform_bank=None, n_buckets=1)
    run_pipeline(spark, cfg)
    rejected = spark.read.parquet(os.path.join(out, "rejected"))
    assert rejected.count() == 4
    turns = spark.read.parquet(os.path.join(out, "turns"))
    assert turns.count() == 2  # the valid row + the null-text row
    routed = spark.read.parquet(os.path.join(out, "routed"))
    assert routed.filter((F.col("turn_idx") == 4) & (F.col("sink") == "unmatched")).count() == 1
    assert routed.filter(F.col("pattern_id") == 0).count() == 1  # ISO matched


def test_csv_json_sources_roundtrip(spark, tmp_path):
    """CSV and JSON-lines transcript sources read back row-identical to the
    parquet source (explicit schema, no inference scan)."""
    from logparserhelper_spark.datagen import generate_transcripts
    from logparserhelper_spark.sources.transcripts import (
        read_transcripts,
        read_transcripts_csv,
        read_transcripts_json,
    )

    d = generate_transcripts(str(tmp_path / "fmt"), "tiny")
    base = read_transcripts(spark, d)
    csv_dir, json_dir = str(tmp_path / "csv"), str(tmp_path / "json")
    base.write.mode("overwrite").option("header", "true").option(
        "timestampFormat", "yyyy-MM-dd HH:mm:ss[.SSSSSS]"
    ).csv(csv_dir)
    base.write.mode("overwrite").json(json_dir)

    key = lambda r: (r.conv_id, r.turn_idx, r.role, r.text, r.tool, r.ts)
    exp = sorted(map(key, base.collect()))
    got_csv = sorted(map(key, read_transcripts_csv(spark, csv_dir).collect()))
    got_json = sorted(map(key, read_transcripts_json(spark, json_dir).collect()))
    assert got_json == exp
    assert got_csv == exp


def test_stale_quarantine_cleared_on_clean_rerun(spark, tmp_path):
    """A re-run whose input no longer has malformed rows must remove the
    previous attempt's quarantine output (outputs are pure functions of the
    current input — no phantom rejected rows)."""
    import datetime as dt

    ts = dt.datetime(2025, 6, 6, tzinfo=dt.timezone.utc)
    dirty = [("c1", 0, "user", "ok", None, ts), (None, 1, "user", "bad", None, ts)]
    clean = [("c1", 0, "user", "ok", None, ts), ("c2", 1, "user", "ok2", None, ts)]
    d = _write_transcripts(str(tmp_path / "redo"), dirty)
    out = str(tmp_path / "out_redo")
    cfg = PipelineConfig(input_path=d, out_dir=out, transform_bank=None, n_buckets=1)
    run_pipeline(spark, cfg)
    assert spark.read.parquet(os.path.join(out, "rejected")).count() == 1

    # same path, fixed data; wipe the progress marker to force recompute
    _write_transcripts(d, clean)
    for fn in os.listdir(os.path.join(out, "_progress")):
        if fn.startswith("bucket_"):
            os.remove(os.path.join(out, "_progress", fn))
    run_pipeline(spark, cfg)
    assert not os.path.isdir(os.path.join(out, "rejected", "bucket=0"))


def test_write_table_parquet_path_partitions(spark, tmp_path):
    """The non-Iceberg write_table branch: partition_by lands as a Hive
    layout and rows round-trip."""
    from logparserhelper_spark.sinks.writer import write_table
    from pyspark.sql import functions as F2

    df = spark.range(0, 100).select(
        (F2.col("id") % 3).cast("string").alias("p"), F2.col("id").alias("v")
    )
    target = str(tmp_path / "wt")
    write_table(df, target, partition_by=["p"])
    back = spark.read.parquet(target)
    assert back.count() == 100
    assert sorted(os.listdir(target))[0:1] == ["_SUCCESS"] or any(
        d.startswith("p=") for d in os.listdir(target)
    )
    # partition-column values are type-inferred on read (strings -> ints)
    assert {str(r.p) for r in back.select("p").distinct().collect()} == {"0", "1", "2"}


def test_orc_source_roundtrip_and_pushdown(spark, tmp_path):
    """ORC transcript source: row-identical round trip AND the same
    pushdown behavior the parquet scan is held to — a role filter reaches
    the ORC reader (PushedFilters) and a 2-column projection prunes the
    ReadSchema."""
    from logparserhelper_spark.datagen import generate_transcripts
    from logparserhelper_spark.sources.transcripts import (
        read_transcripts,
        read_transcripts_orc,
    )
    from pyspark.sql import functions as F

    d = generate_transcripts(str(tmp_path / "fmt_orc"), "tiny")
    base = read_transcripts(spark, d)
    orc_dir = str(tmp_path / "orc")
    base.write.mode("overwrite").orc(orc_dir)

    got = read_transcripts_orc(spark, orc_dir)
    key = lambda r: (r.conv_id, r.turn_idx, r.role, r.text, r.tool, r.ts)
    assert sorted(map(key, got.collect())) == sorted(map(key, base.collect()))

    q = got.filter(F.col("role") == "tool").select("conv_id", "turn_idx")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "role" in plan.split("PushedFilters")[1][:120]
    assert "ReadSchema: struct<conv_id:string,turn_idx:int" in plan


def test_parallel_generator_deterministic_and_readable(spark, tmp_path):
    """The sharded capacity-scale generator: shard rngs keyed by
    "seed:shard_lo" make output independent of worker scheduling (two runs
    byte-identical), the dataset-directory layout resolves through the
    normal transcript source, and per-conversation turn counts follow the
    same global length plan as the sequential generator."""
    import glob
    import hashlib

    from logparserhelper_spark.datagen import (
        conversation_lengths,
        generate_transcripts_parallel,
    )
    from logparserhelper_spark.sources.transcripts import read_transcripts

    d1 = generate_transcripts_parallel(str(tmp_path / "p1"), "tiny", n_procs=3)
    d2 = generate_transcripts_parallel(str(tmp_path / "p2"), "tiny", n_procs=3)
    h = lambda d: [
        hashlib.md5(open(f, "rb").read()).hexdigest()
        for f in sorted(glob.glob(d + "/transcripts.parquet/*.parquet"))
    ]
    assert h(d1) == h(d2) and len(h(d1)) == 3

    # regenerating with FEWER shards must not leave stale shard files from
    # the wider run mixed into the dataset (rows would exceed the manifest)
    import json

    d3 = generate_transcripts_parallel(str(tmp_path / "p1"), "tiny", n_procs=2, force=True)
    n_files = len(glob.glob(d3 + "/transcripts.parquet/*.parquet"))
    manifest_rows = json.load(open(d3 + "/_MANIFEST.json"))["rows"]
    assert n_files == 2
    assert read_transcripts(spark, d3).count() == manifest_rows
    generate_transcripts_parallel(str(tmp_path / "p1"), "tiny", n_procs=3, force=True)

    df = read_transcripts(spark, d1)
    lens = conversation_lengths(40, 1.6)
    base = df.filter(~(F.col("ts").cast("string").endswith(".5")))  # drop dup rows
    got = {r.conv_id: r.n for r in base.groupBy("conv_id").agg(F.count("*").alias("n")).collect()}
    assert got == {f"conv-{i:08d}": int(lens[i]) for i in range(40)}


def test_byte_size_accepts_spark_size_suffixes():
    """_scaled reads spark.sql.files.maxPartitionBytes in any legal form."""
    from logparserhelper_spark.plans.contract_queries import _byte_size

    assert _byte_size("134217728") == 134217728
    assert _byte_size("64m") == 64 << 20
    assert _byte_size("1g") == 1 << 30
    assert _byte_size("128MB") == 128 << 20
    with pytest.raises(ValueError):
        _byte_size("lots")
