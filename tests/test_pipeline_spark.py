"""Ring 2 — Spark pipeline vs pure-Python oracle (SURVEY.md §5).

Asserts, on the deterministic tiny transcripts table:
- per-turn text equality (and norm_text equality) under stable ordering,
- routed-row equality per sink (exact row sets, order-insensitive),
- per-sink aggregate-count equality,
- lineage conservation,
- dedup strategy equivalence (agg == window),
- enrich null-preservation,
- resume: injected failure + restart == one-shot run,
- publish resumes like a bucket: a rerun over a finished out_dir launches no
  Spark job, and a missing marker, bucket or aggregate table re-publishes,
- reference corpora as transcripts reproduce the golden matrix.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from logparserhelper_spark.datagen import (
    generate_transcripts,
    reference_corpus_as_transcripts,
)
from logparserhelper_spark.defaults import default_pattern_bank, default_transform_bank
from logparserhelper_spark.operators.ordering import stable_order_dedup
from logparserhelper_spark import pipeline
from logparserhelper_spark.pipeline import (
    AGGREGATE_TABLES,
    PUBLISHED_MARKER,
    InjectedFailure,
    PipelineConfig,
    reset_output,
    run_pipeline,
)
from tests import oracle_pipeline as op

BANK = default_pattern_bank()
TBANK = default_transform_bank()


@pytest.fixture(scope="module")
def tiny_dir(tmp_path_factory):
    return generate_transcripts(str(tmp_path_factory.mktemp("data") / "tiny"), "tiny")


@pytest.fixture(scope="module")
def tiny_out(spark, tiny_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("out") / "pipe")
    cfg = PipelineConfig(
        input_path=tiny_dir,
        out_dir=out,
        transform_bank=TBANK,
        role_dim_path=os.path.join(tiny_dir, "role_dim.parquet"),
        tool_dim_path=os.path.join(tiny_dir, "tool_dim.parquet"),
        n_buckets=3,
    )
    metrics = run_pipeline(spark, cfg)
    return out, metrics


@pytest.fixture(scope="module")
def expected(tiny_dir):
    rows = op.load_rows(os.path.join(tiny_dir, "transcripts.parquet"))
    return op.expected_pipeline(rows, BANK, TBANK)


def _routed(spark, out):
    return spark.read.parquet(os.path.join(out, "routed"))


def _turns(spark, out):
    return spark.read.parquet(os.path.join(out, "turns"))


def test_per_turn_text_equality(spark, tiny_out, expected):
    out, _ = tiny_out
    got = (
        _turns(spark, out)
        .select("conv_id", "turn_idx", "text", "norm_text")
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    exp_turns = expected["turns"]
    assert len(got) == len(exp_turns)
    for g, e in zip(got, exp_turns):
        assert (g.conv_id, g.turn_idx) == (e["conv_id"], e["turn_idx"])
        assert g.text == e["text"]  # byte equality under stable ordering
        assert g.norm_text == expected["norm_text"][(e["conv_id"], e["turn_idx"])]


def test_normalize_replaces_dates(spark, tiny_out):
    out, _ = tiny_out
    n = (
        _turns(spark, out)
        .filter((F.col("n_spans") > 0) & ~F.col("norm_text").contains("<DATE>"))
        .count()
    )
    assert n == 0  # every matched turn's normalized text had its dates tokenized


def test_routed_row_equality_per_sink(spark, tiny_out, expected):
    out, _ = tiny_out
    rows = (
        _routed(spark, out)
        .select("sink", "conv_id", "turn_idx", "pattern_id", "start", "end", "match")
        .collect()
    )
    got: dict[str, set] = {}
    for r in rows:
        got.setdefault(r.sink, set()).add(
            (r.conv_id, r.turn_idx, r.pattern_id, r.start, r.end, r.match)
        )
    assert set(got) == set(expected["routed"])
    for sink in expected["routed"]:
        assert got[sink] == expected["routed"][sink], sink


def test_duplicate_pattern_multicast_sinks(spark, tiny_out, expected):
    out, _ = tiny_out
    # p4 == p5: identical row sets modulo pattern_id in both sinks
    hdfs = {t[:2] + t[3:] for t in expected["routed"]["hdfs-timestamp"]}
    zk = {t[:2] + t[3:] for t in expected["routed"]["zookeeper-timestamp"]}
    assert hdfs == zk and len(hdfs) > 0


def _assert_freq_matches(spark, out, expected):
    got = {
        (r.sink, r.pattern_id, r.pattern_name): (r.n_matches, r.n_turns)
        for r in spark.read.parquet(
            os.path.join(out, "aggregates", "sink_pattern_freq")
        ).collect()
    }
    assert got == expected["sink_pattern_freq"]


def _assert_rollups_match(spark, out, expected):
    got_turns = {
        r.conv_id: r.n_turns
        for r in spark.read.parquet(os.path.join(out, "aggregates", "conv_rollup")).collect()
    }
    assert got_turns == expected["conv_turns"]
    got_m = {
        r.conv_id: (r.n_spans, r.n_matched_turns)
        for r in spark.read.parquet(
            os.path.join(out, "aggregates", "conv_match_rollup")
        ).collect()
    }
    exp_m = {
        c: (expected["conv_spans"].get(c, 0), expected["conv_matched_turns"].get(c, 0))
        for c in expected["conv_turns"]
    }
    # conversations with zero matches still appear (unmatched rows count 0 spans)
    assert got_m == exp_m


def test_sink_pattern_freq_equality(spark, tiny_out, expected):
    _assert_freq_matches(spark, tiny_out[0], expected)


def test_conv_rollups_equality(spark, tiny_out, expected):
    _assert_rollups_match(spark, tiny_out[0], expected)


def test_lineage_conservation(spark, tiny_out, expected):
    out, _ = tiny_out
    lineage = spark.read.parquet(os.path.join(out, "lineage"))
    sums = lineage.agg(
        F.sum("rows_in").alias("rows_in"),
        F.sum("rows_matched").alias("rows_matched"),
        F.sum("rows_routed").alias("rows_routed"),
    ).collect()[0]
    n_turns = len(expected["turns"])
    n_spans = sum(len(v) for k, v in expected["routed"].items() if k != "unmatched")
    n_unmatched = len(expected["routed"]["unmatched"])
    assert sums.rows_in == n_turns
    assert sums.rows_matched == n_spans
    assert sums.rows_routed == n_spans + n_unmatched
    # observed metrics agree with lineage
    _, metrics = tiny_out
    bs = [b for b in metrics["buckets"].values() if isinstance(b, dict)]
    assert sum(b["turns_in"] for b in bs) == n_turns
    assert sum(b["span_rows"] for b in bs) == n_spans


def test_enrich_preserves_unknown_tool_as_null(spark, tiny_dir, tiny_out):
    out, _ = tiny_out
    df = _turns(spark, out)
    # every tool-role row got a tool_family; non-tool rows keep nulls
    assert df.filter((F.col("role") == "tool") & F.col("tool_family").isNull()).count() == 0
    assert df.filter((F.col("role") != "tool") & F.col("tool_family").isNotNull()).count() == 0
    assert df.filter(F.col("role_kind").isNull()).count() == 0


def test_dedup_strategies_equivalent(spark, tiny_dir):
    src = spark.read.parquet(os.path.join(tiny_dir, "transcripts.parquet"))
    a = stable_order_dedup(src, "agg").orderBy("conv_id", "turn_idx").collect()
    w = stable_order_dedup(src, "window").orderBy("conv_id", "turn_idx").collect()
    assert a == w
    assert len(a) == src.select("conv_id", "turn_idx").distinct().count()


def test_resume_after_injected_failure(spark, tiny_dir, tmp_path, expected):
    out = str(tmp_path / "resume")
    cfg = PipelineConfig(
        input_path=tiny_dir,
        out_dir=out,
        transform_bank=TBANK,
        n_buckets=3,
        fail_after_buckets=1,
    )
    with pytest.raises(InjectedFailure):
        run_pipeline(spark, cfg)
    markers = [
        f for f in os.listdir(os.path.join(out, "_progress")) if f.startswith("bucket_")
    ]
    assert len(markers) == 1
    cfg2 = PipelineConfig(
        input_path=tiny_dir, out_dir=out, transform_bank=TBANK, n_buckets=3
    )
    metrics = run_pipeline(spark, cfg2)
    resumed = [k for k, v in metrics["buckets"].items() if v == "resumed"]
    assert len(resumed) == 1
    # final sinks identical to a clean one-shot run (content equality)
    got = {
        (r.sink, r.conv_id, r.turn_idx, r.pattern_id, r.start, r.end, r.match)
        for r in _routed(spark, out)
        .select("sink", "conv_id", "turn_idx", "pattern_id", "start", "end", "match")
        .collect()
    }
    exp = {
        (sink,) + t for sink, ts in expected["routed"].items() for t in ts
    }
    assert got == exp


def test_resume_invalidated_on_config_change(spark, tiny_dir, tmp_path):
    """Committed buckets are only reusable under the exact run fingerprint:
    re-running into the same out_dir with a different bank (E2) or different
    n_buckets must recompute everything, never merge stale partials."""
    from logparserhelper_spark.banks import bank_from_dicts

    out = str(tmp_path / "manifest")
    cfg = PipelineConfig(
        input_path=tiny_dir, out_dir=out, transform_bank=TBANK, n_buckets=2
    )
    run_pipeline(spark, cfg)

    # same fingerprint -> full resume
    again = run_pipeline(spark, cfg)
    assert all(v == "resumed" for v in again["buckets"].values())

    # different bank -> invalidate + recompute under the new version
    nb = bank_from_dicts([{"name": "only-iso", "pattern": r"\d{4}-\d{2}-\d{2}"}])
    cfg_b = PipelineConfig(
        input_path=tiny_dir, out_dir=out, pattern_bank=nb,
        transform_bank=TBANK, n_buckets=2,
    )
    m = run_pipeline(spark, cfg_b)
    assert not any(v == "resumed" for v in m["buckets"].values())
    versions = (
        spark.read.parquet(os.path.join(out, "turns"))
        .select("bank_version").distinct().collect()
    )
    assert [r.bank_version for r in versions] == [nb.version]

    # different n_buckets -> also invalidated (stale partials would merge)
    cfg_n = PipelineConfig(
        input_path=tiny_dir, out_dir=out, pattern_bank=nb,
        transform_bank=TBANK, n_buckets=3,
    )
    m3 = run_pipeline(spark, cfg_n)
    assert not any(v == "resumed" for v in m3["buckets"].values())
    assert len(m3["buckets"]) == 3


def test_resume_invalidated_on_sink_only_edit(spark, tiny_dir, tmp_path, expected):
    """A sink is not part of bank_version (written into every row), but it
    decides where rows route: editing only a sink must recompute, never
    resume routed rows and freq partials carrying the old sink."""
    from dataclasses import replace

    from logparserhelper_spark.banks import PatternBank

    out = str(tmp_path / "sink_edit")
    cfg = PipelineConfig(
        input_path=tiny_dir, out_dir=out, transform_bank=TBANK, n_buckets=2
    )
    run_pipeline(spark, cfg)
    old_sink = "linux-syslog-date"
    assert expected["routed"][old_sink]  # the tiny corpus routes rows there
    nb = PatternBank(tuple(
        replace(e, sink="syslog") if e.sink == old_sink else e for e in BANK.entries
    ))
    assert nb.version == BANK.version and nb.spec() != BANK.spec()

    m = run_pipeline(spark, replace(cfg, pattern_bank=nb))
    assert not any(v == "resumed" for v in m["buckets"].values())
    assert m["publish"] == "ran"
    got: dict[str, set] = {}
    for r in _routed(spark, out).select(
        "sink", "conv_id", "turn_idx", "pattern_id", "start", "end", "match"
    ).collect():
        got.setdefault(r.sink, set()).add(
            (r.conv_id, r.turn_idx, r.pattern_id, r.start, r.end, r.match)
        )
    exp = {("syslog" if k == old_sink else k): v for k, v in expected["routed"].items()}
    assert got == exp
    freq_sinks = {
        r.sink for r in spark.read.parquet(
            os.path.join(out, "aggregates", "sink_pattern_freq")
        ).select("sink").distinct().collect()
    }
    assert "syslog" in freq_sinks and old_sink not in freq_sinks


def _finished_out_dir(spark, tiny_dir, tmp_path, name):
    """A 2-bucket run into a fresh out_dir, run to completion."""
    cfg = PipelineConfig(
        input_path=tiny_dir, out_dir=str(tmp_path / name), transform_bank=TBANK,
        role_dim_path=os.path.join(tiny_dir, "role_dim.parquet"),
        tool_dim_path=os.path.join(tiny_dir, "tool_dim.parquet"),
        n_buckets=2,
    )
    m = run_pipeline(spark, cfg)
    assert m["publish"] == "ran"
    assert os.path.exists(os.path.join(cfg.out_dir, "_progress", PUBLISHED_MARKER))
    return cfg


def _aggregate_files(out):
    """relative path -> bytes of every file of the final aggregate tables."""
    files = {}
    for t in AGGREGATE_TABLES:
        for dirpath, _dirs, names in os.walk(os.path.join(out, "aggregates", t)):
            for n in names:
                path = os.path.join(dirpath, n)
                with open(path, "rb") as f:
                    files[os.path.relpath(path, out)] = f.read()
    return files


def _must_not_run(*_a, **_k):
    raise AssertionError("a rerun over a finished out_dir must not build Spark work")


def test_rerun_over_finished_out_dir_launches_no_spark_job(
    spark, tiny_dir, tmp_path, monkeypatch
):
    cfg = _finished_out_dir(spark, tiny_dir, tmp_path, "finished")
    before = _aggregate_files(cfg.out_dir)
    assert {p.split(os.sep)[1] for p in before} == set(AGGREGATE_TABLES)
    for name in ("_publish", "read_transcripts", "read_dim", "bank_dim"):
        monkeypatch.setattr(pipeline, name, _must_not_run)
    sc = spark.sparkContext
    group = "lph-rerun-no-jobs"
    sc.setJobGroup(group, "rerun over a finished out_dir")
    try:
        m = run_pipeline(spark, cfg)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        spark.range(1).count()  # control: a job in this group is seen
        assert sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == []
    assert all(v == "resumed" for v in m["buckets"].values())
    assert m["publish"] == "skipped"
    assert _aggregate_files(cfg.out_dir) == before
    with open(os.path.join(cfg.out_dir, "metrics.json")) as f:
        assert json.load(f)["publish"] == "skipped"


def test_failed_publish_leaves_no_marker_and_next_run_publishes(
    spark, tiny_dir, tmp_path, monkeypatch, expected
):
    out = str(tmp_path / "publish_crash")
    cfg = PipelineConfig(
        input_path=tiny_dir, out_dir=out, transform_bank=TBANK, n_buckets=2
    )

    def crash(*_a, **_k):
        raise InjectedFailure("publish crashed")

    monkeypatch.setattr(pipeline, "_publish", crash)
    with pytest.raises(InjectedFailure):
        run_pipeline(spark, cfg)
    assert not os.path.exists(os.path.join(out, "_progress", PUBLISHED_MARKER))
    monkeypatch.undo()

    m = run_pipeline(spark, cfg)
    assert all(v == "resumed" for v in m["buckets"].values())
    assert m["publish"] == "ran"
    assert os.path.exists(os.path.join(out, "_progress", PUBLISHED_MARKER))
    _assert_freq_matches(spark, out, expected)
    _assert_rollups_match(spark, out, expected)


def test_missing_bucket_marker_reruns_bucket_and_publish(
    spark, tiny_dir, tmp_path, expected
):
    cfg = _finished_out_dir(spark, tiny_dir, tmp_path, "lost_bucket")
    os.remove(os.path.join(cfg.out_dir, "_progress", "bucket_1.json"))
    m = run_pipeline(spark, cfg)
    assert m["buckets"][0] == "resumed"
    assert isinstance(m["buckets"][1], dict)  # bucket 1 ran again
    assert m["publish"] == "ran"
    _assert_freq_matches(spark, cfg.out_dir, expected)
    _assert_rollups_match(spark, cfg.out_dir, expected)


def test_missing_aggregate_table_republishes(spark, tiny_dir, tmp_path, expected):
    import shutil

    cfg = _finished_out_dir(spark, tiny_dir, tmp_path, "lost_table")
    shutil.rmtree(os.path.join(cfg.out_dir, "aggregates", "conv_rollup"))
    m = run_pipeline(spark, cfg)
    assert all(v == "resumed" for v in m["buckets"].values())
    assert m["publish"] == "ran"
    _assert_freq_matches(spark, cfg.out_dir, expected)
    _assert_rollups_match(spark, cfg.out_dir, expected)


def test_iceberg_writer_builder_carries_partition_spec(spark, tiny_dir):
    """The writeTo builder must receive the partition spec (an Iceberg table
    created without it would be silently unpartitioned). No catalog in the
    sandbox, so assert on builder construction, not execution."""
    from logparserhelper_spark.sinks.writer import iceberg_writer

    df = spark.read.parquet(os.path.join(tiny_dir, "transcripts.parquet"))
    w = iceberg_writer(df, "cat.db.t", partition_by=["role"])
    # DataFrameWriterV2 tracks partitioning on the underlying java builder;
    # reaching createOrReplace() would need a catalog — construction is the
    # testable surface. Building with no partition spec must also work.
    assert w is not None
    assert iceberg_writer(df, "cat.db.t", partition_by=None) is not None


def test_reference_corpus_golden_through_pipeline(spark, tmp_path, reference_corpora):
    # reference_corpora skips the test when the reference logs are absent
    data_dir = reference_corpus_as_transcripts(str(tmp_path / "refdata"))
    out = str(tmp_path / "refout")
    cfg = PipelineConfig(
        input_path=data_dir, out_dir=out, transform_bank=None, n_buckets=1
    )
    run_pipeline(spark, cfg)
    freq = spark.read.parquet(os.path.join(out, "aggregates", "sink_pattern_freq"))
    by_pid = {r.pattern_id: r.n_matches for r in freq.collect() if r.pattern_id is not None}
    golden_path = os.path.join(os.path.dirname(__file__), "golden", "coverage_reference_corpus.json")
    with open(golden_path) as f:
        golden = json.load(f)
    exp_by_pid: dict[int, int] = {}
    for corpus in golden.values():
        for pid, n in corpus["pattern_counts"].items():
            exp_by_pid[int(pid)] = exp_by_pid.get(int(pid), 0) + n
    exp_by_pid = {k: v for k, v in exp_by_pid.items() if v}
    assert by_pid == exp_by_pid  # Linux p7=710, Zookeeper p4=p5=2000
    # per-conversation (= per corpus file) matched-turn golden: Linux 454
    cm = spark.read.parquet(os.path.join(out, "aggregates", "conv_match_rollup"))
    linux = {r.conv_id: r for r in cm.collect()}["Linux_2k"]
    assert linux.n_matched_turns == 454 and linux.n_spans == 710


def test_pipeline_mega_conversation_skew(spark, tmp_path):
    """One conversation holding ~95% of all turns — the skew shape the
    salted rollups and turn-granular parse partitioning claim to survive.
    Asserts correctness (counts + rollup) and that no single task saw the
    whole hot conversation during the parse stage."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import datetime as dt

    n_hot, n_cold_convs = 60000, 50
    rows_conv, rows_idx, rows_text = [], [], []
    for i in range(n_hot):
        rows_conv.append("hot")
        rows_idx.append(i)
        rows_text.append(f"turn {i} at 2025-06-06T01:02:03 ok")
    for c in range(n_cold_convs):
        for i in range(10):
            rows_conv.append(f"cold_{c}")
            rows_idx.append(i)
            rows_text.append(f"cold {c} {i}")
    n = len(rows_conv)
    base_ts = dt.datetime(2025, 6, 6)
    table = pa.table(
        {
            "conv_id": pa.array(rows_conv, pa.string()),
            "turn_idx": pa.array(rows_idx, pa.int32()),
            "role": pa.array(["user"] * n, pa.string()),
            "text": pa.array(rows_text, pa.string()),
            "tool": pa.array([None] * n, pa.string()),
            "ts": pa.array([base_ts] * n, pa.timestamp("us", tz="UTC")),
        }
    )
    d = str(tmp_path / "skew")
    os.makedirs(d, exist_ok=True)
    pq.write_table(table, os.path.join(d, "transcripts.parquet"))

    out = str(tmp_path / "skew_out")
    cfg = PipelineConfig(input_path=d, out_dir=out, transform_bank=None, n_buckets=1)
    metrics = run_pipeline(spark, cfg)
    b = metrics["buckets"][0]
    assert b["turns_in"] == n
    assert b["span_rows"] == n_hot  # every hot turn has exactly one date span

    # rollup correctness under skew (salted two-level agg)
    cr = spark.read.parquet(os.path.join(out, "aggregates", "conv_rollup"))
    got = {r.conv_id: r.n_turns for r in cr.collect()}
    assert got["hot"] == n_hot and got["cold_0"] == 10 and len(got) == n_cold_convs + 1

    # the hot conversation was parsed across many tasks, not one:
    # src_partition_id is stamped inside the parse stage
    turns = spark.read.parquet(os.path.join(out, "turns"))
    n_parts = (
        turns.filter(F.col("conv_id") == "hot")
        .select("src_partition_id")
        .distinct()
        .count()
    )
    assert n_parts >= 4, f"hot conversation parsed in only {n_parts} task(s)"
