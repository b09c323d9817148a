"""Streaming lift tests: the streaming parse->route path must produce the
same routed rows as the batch path on the same input, and windowed per-sink
counts must respect event-time windows."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from logparserhelper_spark.datagen import generate_transcripts
from logparserhelper_spark.defaults import default_pattern_bank
from logparserhelper_spark.operators.enrich import bank_dim
from logparserhelper_spark.sources.transcripts import TRANSCRIPT_SCHEMA
from logparserhelper_spark.streaming.parse_stream import (
    stream_parse_route,
    stream_sink_counts,
)

BANK = default_pattern_bank()


@pytest.fixture(scope="module")
def tiny_dir(tmp_path_factory):
    d = generate_transcripts(str(tmp_path_factory.mktemp("sdata") / "tiny"), "tiny")
    # the file stream source requires a directory of files
    sd = os.path.join(d, "stream_src")
    os.makedirs(sd, exist_ok=True)
    os.link(os.path.join(d, "transcripts.parquet"), os.path.join(sd, "part-0.parquet"))
    return d


def _drain(q):
    q.processAllAvailable()
    q.stop()


def _observed(q, name, field="n_dropped"):
    """Sum of one named observe() metric over the query's progress log
    (a micro-batch with no input rows reports null)."""
    return sum(
        (p.observedMetrics[name][field] or 0)
        for p in q.recentProgress
        if name in p.observedMetrics
    )


def test_stream_matches_batch(spark, tiny_dir):
    bdim = bank_dim(spark, BANK)
    path = os.path.join(tiny_dir, "stream_src")
    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(path)
    routed = stream_parse_route(stream, BANK, bdim)
    q = (
        routed.writeStream.outputMode("append")
        .format("memory")
        .queryName("routed_stream")
        .start()
    )
    _drain(q)
    got = {
        (r.conv_id, r.turn_idx, r.sink, r.pattern_id, r.start, r.end, r.match)
        for r in spark.sql("SELECT * FROM routed_stream").collect()
    }
    batch_src = spark.read.parquet(path)
    batch = stream_parse_route(batch_src, BANK, bdim)  # same fn works on batch DF
    exp = {
        (r.conv_id, r.turn_idx, r.sink, r.pattern_id, r.start, r.end, r.match)
        for r in batch.collect()
    }
    assert got == exp and len(got) > 0


def test_stream_windowed_counts(spark, tiny_dir):
    bdim = bank_dim(spark, BANK)
    path = os.path.join(tiny_dir, "stream_src")
    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(path)
    counts = stream_sink_counts(stream_parse_route(stream, BANK, bdim))
    q = (
        counts.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sink_counts")
        .start()
    )
    _drain(q)
    rows = spark.sql("SELECT * FROM sink_counts").collect()
    assert rows
    # windows are aligned and non-overlapping 10-minute intervals
    for r in rows:
        assert (r.window_end - r.window_start).total_seconds() == 600
    # total routed rows conserved across windows
    batch = stream_parse_route(spark.read.parquet(path), BANK, bdim)
    assert sum(r.n_rows for r in rows) == batch.count()


def test_stateful_conv_rollup_across_batches(spark, tiny_dir, tmp_path):
    """Two micro-batches (maxFilesPerTrigger=1 over two files) must fold into
    cumulative per-conversation state equal to the batch rollup."""
    import pyarrow.parquet as pq
    import pyarrow as pa

    from logparserhelper_spark.streaming.stateful import stateful_conv_rollup

    src = os.path.join(tiny_dir, "transcripts.parquet")
    t = pq.read_table(src)
    half = t.num_rows // 2
    sdir = str(tmp_path / "two_files")
    os.makedirs(sdir)
    pq.write_table(t.slice(0, half), os.path.join(sdir, "a.parquet"))
    pq.write_table(t.slice(half), os.path.join(sdir, "b.parquet"))

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(sdir)
    )
    rolled = stateful_conv_rollup(stream, BANK)
    q = (
        rolled.writeStream.outputMode("update")
        .format("memory")
        .queryName("conv_state")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    _drain(q)
    # latest emitted row per conv (memory sink appends each update)
    rows = spark.sql("SELECT * FROM conv_state").collect()
    latest = {}
    for r in rows:
        prev = latest.get(r.conv_id)
        if prev is None or r.n_turns >= prev.n_turns:
            latest[r.conv_id] = r
    # expected: plain batch computation over the full input (incl. duplicate
    # (conv_id, turn_idx) rows — the stateful op counts raw arriving turns)
    from logparserhelper_spark.operators.extract import make_extract_spans_udf

    batch = spark.read.parquet(src)
    exp = {
        r.conv_id: r
        for r in batch.withColumn("_s", make_extract_spans_udf(BANK)(F.col("text")))
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.size("_s")).alias("n_spans"),
            F.max("turn_idx").alias("max_turn_idx"),
        )
        .collect()
    }
    assert set(latest) == set(exp)
    for cid, e in exp.items():
        g = latest[cid]
        assert (g.n_turns, g.n_spans, g.max_turn_idx) == (
            e.n_turns,
            e.n_spans,
            e.max_turn_idx,
        ), cid
    # state really crossed batches: some conversation appears in both files
    assert any(r.n_turns > e.n_turns for cid, e in exp.items() for r in rows if r.conv_id == cid) or len(rows) > len(exp)


def test_foreach_batch_exactly_once_sink(spark, tiny_dir, tmp_path):
    """The foreachBatch sink commits each micro-batch once: a replayed
    (batch_id, data) pair — Structured Streaming's at-least-once contract —
    is a no-op, so downstream rows are never duplicated."""
    from logparserhelper_spark.streaming.sink import (
        committed_batches,
        exactly_once_parquet_sink,
    )

    out = str(tmp_path / "eo_sink")
    path = os.path.join(tiny_dir, "stream_src")
    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(path)
    sink = exactly_once_parquet_sink(out)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    _drain(q)
    batches = committed_batches(out)
    assert batches  # at least one micro-batch committed
    n_rows = spark.read.parquet(os.path.join(out, "batch_id=*")).count()
    assert n_rows == spark.read.parquet(path).count()

    # simulate the failure-replay: re-deliver an already-committed batch id
    replay_df = spark.read.parquet(path)
    sink(replay_df, max(batches))
    n_after = spark.read.parquet(os.path.join(out, "batch_id=*")).count()
    assert n_after == n_rows  # idempotent: no duplicate rows


def test_foreach_batch_exactly_once_sink_scheme_qualified(spark, tiny_dir, tmp_path):
    """The replay guard end-to-end on a scheme-qualified out_dir: marker
    write-then-rename, the exists() replay check, and the commit listing all
    go through the Hadoop FileSystem resolved from the URI — the exact code
    path an hdfs:// or s3a:// sink takes — not driver-local os.path."""
    from logparserhelper_spark.streaming.sink import (
        committed_batches,
        exactly_once_parquet_sink,
    )

    local_dir = tmp_path / "eo_sink_uri"
    out = "file://" + str(local_dir)
    path = os.path.join(tiny_dir, "stream_src")
    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(path)
    sink = exactly_once_parquet_sink(out)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck_uri"))
        .start()
    )
    _drain(q)
    batches = committed_batches(out, spark)  # Hadoop-FS listing branch
    assert batches
    # the markers really landed on the URI's filesystem (visible locally)
    assert (local_dir / "_batches").is_dir()
    n_rows = spark.read.parquet(out + "/batch_id=*").count()
    assert n_rows == spark.read.parquet(path).count()

    # failure-replay of an already-committed batch id: Hadoop-FS exists()
    # guard makes it a no-op
    sink(spark.read.parquet(path), max(batches))
    assert spark.read.parquet(out + "/batch_id=*").count() == n_rows

    # a FRESH batch id still commits through the same marker path
    nb = max(batches) + 1
    sink(spark.read.parquet(path), nb)
    assert nb in committed_batches(out, spark)
    assert (local_dir / "_batches" / f"{nb}.json").is_file()


def test_streaming_dedup_with_watermark(spark, tiny_dir, tmp_path):
    """dropDuplicates over a keyed stream: duplicated (conv_id, turn_idx)
    input yields each key once in the sink."""
    path = os.path.join(tiny_dir, "stream_src")
    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(path)
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicates(
        ["conv_id", "turn_idx"]
    )
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_stream")
        .option("checkpointLocation", str(tmp_path / "ck_dedup"))
        .start()
    )
    _drain(q)
    got = spark.sql("SELECT conv_id, turn_idx FROM dedup_stream").collect()
    keys = {(r.conv_id, r.turn_idx) for r in got}
    assert len(got) == len(keys)  # exactly one row per key
    batch_keys = {
        (r.conv_id, r.turn_idx)
        for r in spark.read.parquet(path).select("conv_id", "turn_idx").distinct().collect()
    }
    assert keys == batch_keys


def test_streaming_session_window_matches_batch(spark, tiny_dir, tmp_path):
    """The same session_window expression runs under readStream: append mode
    emits each session exactly once when the watermark passes its end; every
    emitted session must equal its batch counterpart, and every batch
    session that closed before the final watermark must have been emitted."""
    from pyspark.sql import functions as F

    path = os.path.join(tiny_dir, "stream_src")
    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(path)
    agg = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy("conv_id", F.session_window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("conv_id", F.col("w.start").alias("ws"), F.col("w.end").alias("we"), "n")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_stream")
        .option("checkpointLocation", str(tmp_path / "ck_sess"))
        .start()
    )
    _drain(q)
    got = {
        (r.conv_id, r.ws): (r.we, r.n)
        for r in spark.sql("SELECT * FROM sess_stream").collect()
    }
    src = spark.read.parquet(path)
    batch = (
        src.groupBy("conv_id", F.session_window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("conv_id", F.col("w.start").alias("ws"), F.col("w.end").alias("we"), "n")
        .collect()
    )
    exp = {(r.conv_id, r.ws): (r.we, r.n) for r in batch}
    # every emitted session is bit-identical to the batch session
    for k, v in got.items():
        assert exp[k] == v, k
    # and every batch session closed before the final watermark was emitted
    max_ts = src.agg(F.max("ts")).collect()[0][0]
    closed = {k for k, (we, _n) in exp.items() if we <= max_ts}
    assert closed <= set(got)
    assert got  # something actually closed on this data


def test_committed_batches_rejects_remote_scheme_without_spark():
    """Marker listing for scheme-qualified sinks must go through the Hadoop
    FileSystem — a local os.listdir would silently report zero commits and
    degrade the replay guard to at-least-once."""
    import pytest as _pytest

    from logparserhelper_spark.streaming.sink import committed_batches

    with _pytest.raises(ValueError, match="URI scheme"):
        committed_batches("s3a://bucket/out")


def test_streaming_hll_equals_batch_sketch(spark, tmp_path):
    """The streaming HLL (constant 256-byte state per group via
    applyInPandasWithState) must converge to EXACTLY the batch
    sketch.hll_distinct output once all micro-batches have folded in —
    same md5 hash, same registers, same estimate."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from logparserhelper_spark.functions.sketch import (
        hll_distinct,
        hll_estimate,
        hll_registers,
        round_half_up,
    )
    from logparserhelper_spark.streaming.stateful import streaming_hll_distinct

    src = "/root/testdata/sf0.001/events.parquet"
    if not os.path.exists(src):
        pytest.skip("driver testdata not present")
    t = pq.read_table(src)
    third = t.num_rows // 3
    sdir = str(tmp_path / "ev_files")
    os.makedirs(sdir)
    pq.write_table(t.slice(0, third), os.path.join(sdir, "a.parquet"))
    pq.write_table(t.slice(third, third), os.path.join(sdir, "b.parquet"))
    pq.write_table(t.slice(2 * third), os.path.join(sdir, "c.parquet"))

    batch_df = spark.read.parquet(src).select("event_type", "user_id").filter(
        F.col("user_id").isNotNull()
    )
    expected = {
        r.event_type: (r.n_registers, r.hll_est)
        for r in hll_distinct(batch_df, "event_type", "user_id").collect()
    }
    # the batch REGISTER table, densified to the same 2^p byte layout the
    # streaming fold keeps as state, and folded through the SHARED Python
    # hll_estimate — one code path on both sides, so every comparison below
    # is exact (no libm tolerance)
    m = 256
    batch_regs: dict[str, np.ndarray] = {}
    for r in hll_registers(batch_df, "event_type", "user_id").collect():
        batch_regs.setdefault(r._g, np.zeros(m, dtype=np.uint8))[r._bucket] = r._M
    expected_exact = {}
    for k, regs in batch_regs.items():
        n_registers, est = hll_estimate(regs, m)
        expected_exact[k] = (n_registers, round_half_up(est, 2), regs.tobytes())

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(sdir)
    )
    out = streaming_hll_distinct(
        stream.filter(F.col("user_id").isNotNull()), "event_type", "user_id"
    )
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("hll_state")
        .option("checkpointLocation", str(tmp_path / "hll_ckpt"))
        .start()
    )
    _drain(q)
    rows = spark.sql("SELECT * FROM hll_state").collect()
    latest = {}
    for r in rows:  # memory sink appends every update; keep the final one
        prev = latest.get(r.group_key)
        if prev is None or r.n_seen >= prev.n_seen:
            latest[r.group_key] = r
    assert set(latest) == set(expected) == set(expected_exact)
    for k, r in latest.items():
        n_reg, est, reg_bytes = expected_exact[k]
        assert bytes(r.registers) == reg_bytes, k  # state: bit-for-bit
        assert r.n_registers == n_reg == expected[k][0], k
        assert r.hll_est == est, k  # shared estimate path: exact equality
        # and the batch JVM-expression estimate agrees with the shared
        # Python fold of the same registers after 2-decimal rounding
        assert abs(expected[k][1] - est) < 5e-3, k


def test_streaming_quantile_sketch_equals_batch(spark, tmp_path):
    """The streaming log-histogram quantile sketch (bounded ~260-triple
    state per group) must converge to EXACTLY the batch sketch: bins
    bit-for-bit against sketch.log_histogram_bins, estimates through the
    shared quantiles_from_bins rule, and the batch Spark-expression
    output itself — no tolerances anywhere."""
    import os

    import pyarrow.parquet as pq

    from logparserhelper_spark.functions.sketch import (
        log_histogram_bins,
        log_histogram_quantiles,
        pack_bins,
        quantiles_from_bins,
    )
    from logparserhelper_spark.streaming.stateful import (
        streaming_log_histogram_quantiles,
    )

    src = "/root/testdata/sf0.001/events.parquet"
    if not os.path.exists(src):
        pytest.skip("driver testdata not present")
    t = pq.read_table(src)
    third = t.num_rows // 3
    sdir = str(tmp_path / "ev_files_q")
    os.makedirs(sdir)
    pq.write_table(t.slice(0, third), os.path.join(sdir, "a.parquet"))
    pq.write_table(t.slice(third, third), os.path.join(sdir, "b.parquet"))
    pq.write_table(t.slice(2 * third), os.path.join(sdir, "c.parquet"))
    # a 4th micro-batch carrying a NULL value for an existing group: the
    # testdata has no null values, so plant one — it must be skipped by
    # the fold (it arrives as NaN in the float64 pandas column, not None)
    import pyarrow as pa

    first_et = t.column("event_type")[0].as_py()
    null_row = pa.table(
        {
            "event_id": pa.array([10**12], "int64"),
            "ts": t.column("ts").slice(0, 1),
            "user_id": pa.array([1], "int64"),
            "event_type": pa.array([first_et]),
            "value": pa.array([None], "float64"),
            "props": pa.array([None], "string"),
        },
        schema=pa.schema([f.remove_metadata() for f in t.schema]),
    )
    pq.write_table(null_row, os.path.join(sdir, "d.parquet"))

    batch_df = spark.read.parquet(src).select("event_type", "value").filter(
        F.col("value").isNotNull()
    )
    batch_bins: dict[str, dict[int, tuple[int, float]]] = {}
    for r in log_histogram_bins(batch_df, "event_type", "value").collect():
        batch_bins.setdefault(r._g, {})[r._bin] = (r._c, r._rep)
    batch_spark = {
        r.event_type: (r.n, r.q50_est, r.q95_est)
        for r in log_histogram_quantiles(batch_df, "event_type", "value").collect()
    }

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(sdir)
    )
    # no null pre-filter on the stream side: SQL NULLs arrive as NaN in the
    # fold's float64 column and the op must skip them itself (regression
    # for the NaN-crash finding; the batch side filters nulls in-plan)
    out = streaming_log_histogram_quantiles(stream, "event_type", "value")
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("q_sketch")
        .option("checkpointLocation", str(tmp_path / "q_ckpt"))
        .start()
    )
    _drain(q)
    rows = spark.sql("SELECT * FROM q_sketch").collect()
    latest = {}
    for r in rows:
        prev = latest.get(r.group_key)
        if prev is None or r.n >= prev.n:
            latest[r.group_key] = r
    assert set(latest) == set(batch_bins) == set(batch_spark)
    for k, r in latest.items():
        assert bytes(r.bins) == pack_bins(batch_bins[k]), k  # state: exact
        n, (e50, e95) = quantiles_from_bins(batch_bins[k], (50, 95))
        assert (r.n, r.q50_est, r.q95_est) == (n, e50, e95), k
        # and the batch Spark-expression output agrees exactly
        assert (r.n, r.q50_est, r.q95_est) == batch_spark[k], k


def test_streaming_lsh_dedup_equals_batch(spark, tmp_path):
    """Incremental LSH dedup: after the whole corpus has streamed through
    (3 micro-batches), the distinct emitted (id_a, id_b) pairs EQUAL batch
    minhash_lsh_pairs over the same corpus, and per-pair emitted band
    counts equal n_shared_bands. Pairs are emitted exactly once (no
    duplicate (band, pair) rows)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from logparserhelper_spark.functions.dedup import minhash_lsh_pairs
    from logparserhelper_spark.plans.contract_queries import _docs_with_planted_dups
    from logparserhelper_spark.streaming.stateful import streaming_lsh_dedup

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("driver testdata not present")
    docs = _docs_with_planted_dups(spark, sf)  # planted exact + near copies
    pdf = docs.toPandas()
    # adversarial edge-whitespace dups: Spark's trim strips only spaces, so
    # '\t'-edged text keeps a leading EMPTY token in its shingles — the
    # Python band-key mirror must reproduce that exactly (regression for
    # the normalization-mirror finding)
    import pandas as _pd

    edge = _pd.DataFrame(
        {
            # the None doc_id row is the NaN-in-the-fold regression: band
            # keys depend only on text, so without the null-id filter the
            # id arrives in the stateful fold as float64 NaN and int(NaN)
            # kills the task — both sides must simply ignore the row
            "doc_id": _pd.array([900001, 900002, 900003, 900004, None], dtype="Int64"),
            # each pair: one clean, one edge-whitespace copy. Spark keeps
            # an EMPTY token for the '\t'/'\n' edge (trim strips only
            # spaces), so the two shingle sets differ — a mirror that
            # str.strip()s all whitespace would wrongly pair them
            "text": [
                "\tthe quick brown fox jumps",
                "the quick brown fox jumps",
                "over the lazy dog tonight",
                "over the lazy dog tonight\n",
                "orphan row with a null id never pairs",
            ],
        }
    )
    pdf = _pd.concat([pdf, edge], ignore_index=True)
    pdf["doc_id"] = pdf["doc_id"].astype("Int64")
    docs = spark.createDataFrame(pdf)  # batch side sees the same corpus
    t = pa.Table.from_pandas(pdf, preserve_index=False)
    third = t.num_rows // 3
    sdir = str(tmp_path / "doc_files")
    os.makedirs(sdir)
    pq.write_table(t.slice(0, third), os.path.join(sdir, "a.parquet"))
    pq.write_table(t.slice(third, third), os.path.join(sdir, "b.parquet"))
    pq.write_table(t.slice(2 * third), os.path.join(sdir, "c.parquet"))

    expected = {
        (r.id_a, r.id_b): r.n_shared_bands
        for r in minhash_lsh_pairs(docs).collect()
    }

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(sdir)
    )
    out = streaming_lsh_dedup(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("lsh_stream")
        .option("checkpointLocation", str(tmp_path / "lsh_ckpt"))
        .start()
    )
    _drain(q)
    assert _observed(q, "lsh_dedup_dropped_ids") == 1  # the null-id row
    rows = spark.sql("SELECT * FROM lsh_stream").collect()
    emitted = [(r.id_a, r.id_b, r.band) for r in rows]
    assert len(emitted) == len(set(emitted))  # exactly-once per (pair, band)
    got: dict = {}
    for a, b, _band in emitted:
        got[(a, b)] = got.get((a, b), 0) + 1
    assert got == expected and expected  # pairs AND band multiplicities


def test_streaming_count_min_equals_batch(spark, tmp_path):
    """The streaming CMS (one long of state per (d, slot); whole sketch
    hard-bounded at depth*width rows) must converge to EXACTLY the batch
    count_min_table after all micro-batches — additive counts, identical
    md5 slots, no tolerances."""
    import os

    import pyarrow.parquet as pq

    from logparserhelper_spark.functions.sketch import count_min_table
    from logparserhelper_spark.streaming.stateful import streaming_count_min

    src = "/root/testdata/sf0.001/events.parquet"
    if not os.path.exists(src):
        pytest.skip("driver testdata not present")
    t = pq.read_table(src)
    third = t.num_rows // 3
    sdir = str(tmp_path / "ev_files_cms")
    os.makedirs(sdir)
    pq.write_table(t.slice(0, third), os.path.join(sdir, "a.parquet"))
    pq.write_table(t.slice(third, third), os.path.join(sdir, "b.parquet"))
    pq.write_table(t.slice(2 * third), os.path.join(sdir, "c.parquet"))

    batch_df = spark.read.parquet(src).filter(F.col("user_id").isNotNull())
    expected = {
        (r.d, r.slot): r.cnt
        for r in count_min_table(
            batch_df.select(F.col("user_id").cast("string").alias("user_id")),
            "user_id",
        ).collect()
    }

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(sdir)
    )
    out = streaming_count_min(stream, "user_id")
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("cms_stream")
        .option("checkpointLocation", str(tmp_path / "cms_ckpt"))
        .start()
    )
    _drain(q)
    rows = spark.sql("SELECT * FROM cms_stream").collect()
    latest = {}
    for r in rows:  # memory sink appends every update; counts only grow
        kk = (r.d, r.slot)
        if kk not in latest or r.cnt > latest[kk]:
            latest[kk] = r.cnt
    assert latest == expected and len(expected) <= 4 * 64


def test_streaming_lsh_dedup_survives_restart(spark, tmp_path):
    """Checkpoint recovery for the incremental dedup: stop the query after
    batch 1, add more data, restart from the SAME checkpoint — the bucket
    state (doc ids seen) is recovered, so the new doc pairs against BOTH
    earlier docs, and the already-emitted pair is NOT re-emitted (exactly
    once across restarts)."""
    import os

    from logparserhelper_spark.streaming.stateful import streaming_lsh_dedup

    t = "the quick brown fox jumps over the lazy dog tonight"
    sdir = str(tmp_path / "docs_restart")
    os.makedirs(sdir)
    ckpt = str(tmp_path / "lsh_restart_ckpt")
    out = str(tmp_path / "lsh_restart_out")  # durable sink: memory sinks
    # cannot recover from a checkpoint

    def run():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(sdir)
        )
        q = (
            streaming_lsh_dedup(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        _drain(q)
        return [
            (r.id_a, r.id_b, r.band) for r in spark.read.parquet(out).collect()
        ]

    spark.createDataFrame([(1, t), (2, t)], "doc_id long, text string").coalesce(
        1
    ).write.mode("append").parquet(sdir)
    first = run()
    assert {(a, b) for a, b, _ in first} == {(1, 2)} and len(first) == 4  # all 4 bands

    spark.createDataFrame([(3, t)], "doc_id long, text string").coalesce(1).write.mode(
        "append"
    ).parquet(sdir)
    # restart from the SAME checkpoint: (1,2) must not re-emit, and doc 3
    # must pair with BOTH ids recovered from bucket state
    cumulative = run()
    second = [p for p in cumulative if p not in set(first)]
    assert {(a, b) for a, b, _ in second} == {(1, 3), (2, 3)}
    assert len(cumulative) == 12  # 3 pairs x 4 bands, each exactly once


def test_streaming_hll_survives_restart(spark, tmp_path):
    """Checkpoint recovery for the HLL registers: stop after the first
    micro-batch, add the rest of the data, restart from the SAME
    checkpoint — the recovered 2^p register state folds the new values in
    and the final registers EQUAL the batch sketch over ALL data,
    bit-for-bit (update-mode output is collected through foreachBatch
    into parquet, since the file sink itself cannot do update mode)."""
    import os

    import pyarrow.parquet as pq

    from logparserhelper_spark.functions.sketch import hll_distinct
    from logparserhelper_spark.streaming.stateful import streaming_hll_distinct

    src = "/root/testdata/sf0.001/events.parquet"
    if not os.path.exists(src):
        pytest.skip("driver testdata not present")
    t = pq.read_table(src)
    half = t.num_rows // 2
    sdir = str(tmp_path / "ev_restart")
    os.makedirs(sdir)
    ckpt = str(tmp_path / "hll_restart_ckpt")
    out = str(tmp_path / "hll_restart_out")

    def run():
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(sdir)
        )
        hll = streaming_hll_distinct(
            stream.filter(F.col("user_id").isNotNull()), "event_type", "user_id"
        )
        q = (
            hll.writeStream.outputMode("update")
            .foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .start()
        )
        _drain(q)

    pq.write_table(t.slice(0, half), os.path.join(sdir, "a.parquet"))
    run()
    pq.write_table(t.slice(half), os.path.join(sdir, "b.parquet"))
    run()  # restart from checkpoint: state must carry batch 1's registers

    rows = spark.read.parquet(out).collect()
    latest = {}
    for r in rows:
        prev = latest.get(r.group_key)
        if prev is None or r.n_seen >= prev.n_seen:
            latest[r.group_key] = r
    batch_df = spark.read.parquet(src).select("event_type", "user_id").filter(
        F.col("user_id").isNotNull()
    )
    import numpy as np

    from logparserhelper_spark.functions.sketch import hll_registers

    m = 256
    expected = {}
    for r in hll_registers(batch_df, "event_type", "user_id").collect():
        expected.setdefault(r._g, np.zeros(m, dtype=np.uint8))[r._bucket] = r._M
    assert set(latest) == set(expected)
    for k, r in latest.items():
        assert bytes(r.registers) == expected[k].tobytes(), k  # bit-for-bit


def test_streaming_url_dedup_equals_batch(spark, tmp_path):
    """Incremental URL dedup: with id-ordered micro-batches (the
    replay/backfill case) the exactly-once first-seen rows EQUAL the batch
    url_dedup representative set — same canonical keys via the shared
    Catalyst expression tree, min-id keep rule, unparseable rows kept as
    singletons with a NULL canonical."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from logparserhelper_spark.functions.urls import url_dedup
    from logparserhelper_spark.plans.contract_queries import _messy_url_col
    from logparserhelper_spark.streaming.stateful import streaming_url_dedup

    docs = spark.range(0, 180).select(
        F.col("id").alias("doc_id"), _messy_url_col().alias("url")
    )
    extra = spark.createDataFrame(
        [
            (900, "not a url at all"),
            (901, "still not a url"),
            (902, "http://[::1]/ipv6-boundary"),
        ],
        "doc_id long, url string",
    )
    docs = docs.unionByName(extra)
    expected = {
        (r.doc_id, r.canonical_url)
        for r in url_dedup(docs).collect()
        if r.is_rep
    }

    pdf = docs.toPandas().sort_values("doc_id").reset_index(drop=True)
    t = pa.Table.from_pandas(pdf, preserve_index=False)
    third = t.num_rows // 3
    sdir = str(tmp_path / "url_files")
    os.makedirs(sdir)
    parts = [
        t.slice(0, third),
        t.slice(third, third),
        t.slice(2 * third),
    ]
    for i, part in enumerate(parts):
        p = os.path.join(sdir, f"{chr(97 + i)}.parquet")
        pq.write_table(part, p)
        # id-ordered ingestion needs deterministic batch order: the file
        # source orders by mtime in MILLISECONDS (NOTES gotcha) — pin them
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    stream = (
        spark.readStream.schema("doc_id long, url string")
        .option("maxFilesPerTrigger", "1")
        .parquet(sdir)
    )
    out = streaming_url_dedup(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("url_dedup_stream")
        .option("checkpointLocation", str(tmp_path / "url_ckpt"))
        .start()
    )
    _drain(q)
    rows = spark.sql("SELECT * FROM url_dedup_stream").collect()
    emitted = [(r.doc_id, r.canonical_url) for r in rows]
    assert len(emitted) == len(set(emitted))  # exactly once per key
    assert set(emitted) == expected and expected
    # the unparseable rows are all kept, each with a NULL canonical
    assert {(900, None), (901, None), (902, None)} <= set(emitted)


def test_streaming_segment_dedup_equals_batch(spark, tmp_path):
    """Incremental segment dedup: with id-ordered micro-batches the
    exactly-once first-seen emissions EQUAL the batch keep-first kept
    set (same segmentation/keying expression tree via segment_rows),
    blank-exempt segments all survive, and per-doc reassembly of the
    emissions reproduces the batch op's rebuilt text."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import Window

    from logparserhelper_spark.functions.segments import (
        segment_dedup,
        segment_rows,
    )
    from logparserhelper_spark.streaming.stateful import (
        streaming_segment_dedup,
    )

    rows = []
    for i in range(120):
        body = f"alpha {i} beta\nunique line {i} here"
        if i % 4 == 0:  # shared boilerplate in a quarter of the docs
            body += "\nCookie Notice Applies"
        if i % 10 == 0:  # blank (exempt) line mid-doc
            body += "\n\r\ntail line {0}".format(i)
        rows.append((i, body))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # expected kept set: the batch keep-first rule over the SAME keying
    segs, _ = segment_rows(docs, "text", "doc_id", "\n", None, 1)
    w = Window.partitionBy("_key").orderBy("_id", "_pos")
    expected = {
        (r["_id"], r["_pos"], r["_seg"])
        for r in segs.withColumn("_rn", F.row_number().over(w))
        .filter(~F.col("_eligible") | (F.col("_rn") == 1))
        .collect()
    }
    batch_docs = {
        r["doc_id"]: r["text"]
        for r in segment_dedup(docs, sep="\n", min_chars=1, keep="first")
        .collect()
        if r["kept_segments"] > 0
    }

    pdf = docs.toPandas().sort_values("doc_id").reset_index(drop=True)
    t = pa.Table.from_pandas(pdf, preserve_index=False)
    third = t.num_rows // 3
    sdir = str(tmp_path / "seg_files")
    os.makedirs(sdir)
    for i, part in enumerate(
        [t.slice(0, third), t.slice(third, third), t.slice(2 * third)]
    ):
        p = os.path.join(sdir, f"{chr(97 + i)}.parquet")
        pq.write_table(part, p)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(sdir)
    )
    out = streaming_segment_dedup(stream, sep="\n", min_chars=1)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("seg_dedup_stream")
        .option("checkpointLocation", str(tmp_path / "seg_ckpt"))
        .start()
    )
    _drain(q)
    emitted = [
        (r.doc_id, r.pos, r.segment)
        for r in spark.sql("SELECT * FROM seg_dedup_stream").collect()
    ]
    assert len(emitted) == len(set(emitted))  # exactly once per key
    assert set(emitted) == expected and expected
    # reassembly parity: per-doc position-ordered join == batch text
    from collections import defaultdict

    by_doc = defaultdict(list)
    for d, p, s in emitted:
        by_doc[d].append((p, s))
    rebuilt = {
        d: "\n".join(s for _, s in sorted(v)) for d, v in by_doc.items()
    }
    assert rebuilt == batch_docs


def test_streaming_segment_dedup_checkpoint_restart(spark, tmp_path):
    """Across a stop/restart from the same checkpoint, already-seen
    segment keys stay suppressed (state recovered) and only genuinely
    new segments emit — the exactly-once frontier claim."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from logparserhelper_spark.streaming.stateful import (
        streaming_segment_dedup,
    )

    sdir = str(tmp_path / "seg2_files")
    os.makedirs(sdir)
    ckpt = str(tmp_path / "seg2_ckpt")

    def write_batch(name, rows, mtime):
        t = pa.Table.from_pydict(
            {"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows]}
        )
        p = os.path.join(sdir, name)
        pq.write_table(t, p)
        os.utime(p, (mtime, mtime))

    write_batch("a.parquet", [(1, "shared line\nonly one")], 1_700_000_000)

    def run(_qname):
        got: list[tuple] = []

        def sink(bdf, _bid):
            got.extend(
                (r.doc_id, r.pos, r.segment) for r in bdf.collect()
            )

        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(sdir)
        )
        q = (
            streaming_segment_dedup(stream, sep="\n", min_chars=1)
            .writeStream.outputMode("update")
            .foreachBatch(sink)  # memory sink cannot recover a checkpoint
            .option("checkpointLocation", ckpt)
            .start()
        )
        _drain(q)
        return set(got)

    first = run("seg2_run1")
    assert first == {(1, 0, "shared line"), (1, 1, "only one")}
    # second run: a dup of the seen line + one new line in a new doc
    write_batch(
        "b.parquet", [(2, "shared line\nbrand new line")], 1_700_000_001
    )
    second = run("seg2_run2")
    # the recovered state suppresses 'shared line'; only the new emits
    assert second == {(2, 1, "brand new line")}


def test_streaming_segment_dedup_non_numeric_ids_dropped(spark, tmp_path):
    """Long-id contract (docstring): a doc id that does not cast to long
    is DROPPED before keying — it must not crash first_seen mid-stream
    (it previously passed the pre-cast isNotNull filter, became null,
    and int(head['doc_id']) raised) — while numeric STRING ids cast and
    flow through normally."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from logparserhelper_spark.streaming.stateful import (
        streaming_segment_dedup,
    )

    sdir = str(tmp_path / "seg_strid")
    os.makedirs(sdir)
    t = pa.table(
        {
            "doc_id": ["7", "not-a-number", "8"],
            "text": ["alpha beta\ngamma", "alpha beta\ndelta", "epsilon zeta"],
        }
    )
    p = os.path.join(sdir, "a.parquet")
    pq.write_table(t, p)
    os.utime(p, (1_700_000_000, 1_700_000_000))

    stream = (
        spark.readStream.schema("doc_id string, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(sdir)
    )
    out = streaming_segment_dedup(stream, sep="\n", min_chars=1)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("seg_dedup_strid")
        .option("checkpointLocation", str(tmp_path / "seg_strid_ckpt"))
        .start()
    )
    _drain(q)
    # the one non-numeric id is counted, not dropped silently
    assert _observed(q, "segment_dedup_dropped_ids") == 1
    emitted = {
        (r.doc_id, r.pos, r.segment)
        for r in spark.sql("SELECT * FROM seg_dedup_strid").collect()
    }
    # the unparseable id's segments are gone (incl. its copy of the
    # shared 'alpha beta' key — a dropped row must not claim state);
    # numeric-string ids cast and dedup normally
    assert emitted == {
        (7, 0, "alpha beta"),
        (7, 1, "gamma"),
        (8, 0, "epsilon zeta"),
    }


def test_streaming_lsh_dedup_non_numeric_ids_dropped(spark, tmp_path):
    """A string doc id that does not cast to long is dropped and counted
    (try_cast: under ANSI mode a plain cast would fail the stream), while
    numeric string ids pair normally."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from logparserhelper_spark.streaming.stateful import streaming_lsh_dedup

    sdir = str(tmp_path / "lsh_strid")
    os.makedirs(sdir)
    text = "the quick brown fox jumps over"
    pq.write_table(
        pa.table({"doc_id": ["7", "not-a-number", "8"], "text": [text] * 3}),
        os.path.join(sdir, "a.parquet"),
    )
    stream = spark.readStream.schema("doc_id string, text string").parquet(sdir)
    q = (
        streaming_lsh_dedup(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("lsh_strid")
        .option("checkpointLocation", str(tmp_path / "lsh_strid_ckpt"))
        .start()
    )
    _drain(q)
    assert _observed(q, "lsh_dedup_dropped_ids") == 1
    pairs = {(r.id_a, r.id_b) for r in spark.sql("SELECT * FROM lsh_strid").collect()}
    assert pairs == {(7, 8)}
