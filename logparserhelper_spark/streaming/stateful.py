"""Custom stateful streaming operator: per-conversation running rollups via
``applyInPandasWithState``.

The batch pipeline's conv rollup is a stateless aggregation; on a stream the
same rollup must carry state across micro-batches (a conversation's turns
arrive over time). State per conv_id = (n_turns, n_spans, max_turn_idx);
each micro-batch folds its rows into the state and emits the updated rollup
row (update semantics — downstream sink MERGEs on conv_id).

At 10^12-turn scale state is partitioned by conv_id across executors and
checkpointed by the streaming engine; the fold is a per-group pandas
reduction over the batch's Arrow data (no per-row Python from the driver).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

from logparserhelper_spark.banks import PatternBank, get_compiled_bank

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("n_turns", T.LongType()),
        T.StructField("n_spans", T.LongType()),
        T.StructField("max_turn_idx", T.IntegerType()),
    ]
)
STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_turns", T.LongType()),
        T.StructField("n_spans", T.LongType()),
        T.StructField("max_turn_idx", T.IntegerType()),
    ]
)


def stateful_conv_rollup(stream_df: DataFrame, bank: PatternBank) -> DataFrame:
    """streaming transcripts -> running per-conversation rollup rows.
    Input needs (conv_id, turn_idx, text)."""
    spec = bank.spec()

    def fold(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        cb = get_compiled_bank(spec)
        n_turns, n_spans, max_idx = (
            state.get if state.exists else (0, 0, -1)
        )
        for pdf in pdfs:
            n_turns += len(pdf)
            n_spans += int(cb.extract_columns(pdf["text"].tolist()).offsets[-1])
            if len(pdf):
                max_idx = max(max_idx, int(pdf["turn_idx"].max()))
        state.update((n_turns, n_spans, max_idx))
        yield pd.DataFrame(
            {
                "conv_id": [key[0]],
                "n_turns": [n_turns],
                "n_spans": [n_spans],
                "max_turn_idx": [max_idx],
            }
        )

    return (
        stream_df.select("conv_id", "turn_idx", "text")
        .groupBy("conv_id")
        .applyInPandasWithState(
            fold,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


HLL_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("group_key", T.StringType()),
        T.StructField("n_seen", T.LongType()),
        T.StructField("n_registers", T.LongType()),
        T.StructField("hll_est", T.DoubleType()),
        # the raw 2^p register bytes: lets consumers (and the batch-parity
        # test) merge or compare sketches register-for-register instead of
        # trusting the scalar estimate
        T.StructField("registers", T.BinaryType()),
    ]
)
HLL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("registers", T.BinaryType()),
        T.StructField("n_seen", T.LongType()),
    ]
)


def streaming_hll_distinct(
    stream_df: DataFrame, group_col: str, value_col: str, p: int = 8
) -> DataFrame:
    """Streaming distinct-count: HyperLogLog registers as
    ``applyInPandasWithState`` state (2^p bytes per group — the whole
    point: state size is CONSTANT regardless of how many distinct values a
    group ever sees, where a streaming dropDuplicates would grow without
    bound). Each micro-batch folds its values' md5 ranks into the register
    maxes and emits the updated estimate (update semantics).

    Uses the SAME hash, rank, and estimate formula as the batch
    ``sketch.hll_distinct`` (via the shared ``hll_rho``/``hll_estimate``
    helpers, rounded HALF_UP like Spark's ROUND), so after all data has
    streamed through, the final emitted registers per group EQUAL the
    batch sketch's bit-for-bit — pinned EXACTLY by tests/test_streaming.py:
    the emitted ``registers`` bytes are compared against the batch
    ``sketch.hll_registers`` table, and the emitted estimate against the
    shared ``hll_estimate`` fold of those same batch registers (one code
    path on both sides, so no libm tolerance is needed)."""
    m = 1 << p
    rest_bits = 32 - p

    def fold(key, pdfs, state):
        import hashlib

        import numpy as np

        from logparserhelper_spark.functions.sketch import (
            hll_estimate,
            hll_rho,
            round_half_up,
        )

        if state.exists:
            regs = np.frombuffer(state.get[0], dtype=np.uint8).copy()
            n = int(state.get[1])
        else:
            regs = np.zeros(m, dtype=np.uint8)
            n = 0
        for pdf in pdfs:
            for v in pdf[value_col]:
                if v is None:
                    continue
                h = int(hashlib.md5(f"h:{v}".encode()).hexdigest()[:8], 16)
                b = h >> rest_bits
                rho = hll_rho(h & ((1 << rest_bits) - 1), rest_bits)
                if rho > regs[b]:
                    regs[b] = rho
                n += 1
        state.update((regs.tobytes(), n))
        n_registers, est = hll_estimate(regs, m)
        yield pd.DataFrame(
            {
                "group_key": [str(key[0])],
                "n_seen": [n],
                "n_registers": [n_registers],
                "hll_est": [round_half_up(est, 2)],
                "registers": [regs.tobytes()],
            }
        )

    return (
        stream_df.select(
            F.col(group_col).cast("string").alias("group_key"),
            # cast JVM-side so the fold hashes the SAME string the batch
            # sketch's md5(concat('h:', cast(v as string))) sees
            F.col(value_col).cast("string").alias(value_col),
        )
        .groupBy("group_key")
        .applyInPandasWithState(
            fold,
            outputStructType=HLL_OUTPUT_SCHEMA,
            stateStructType=HLL_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


LSH_STATE_SCHEMA = T.StructType([T.StructField("ids", T.BinaryType())])
LSH_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("band", T.IntegerType()),
    ]
)


def streaming_lsh_dedup(
    stream_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 12,
    bands: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """Incremental near-duplicate detection — the production ingestion
    shape: each arriving document is checked against every document EVER
    seen in its LSH buckets, without recomputing the corpus. MinHash
    band keys are computed statelessly per row (Python mirror of
    dedup.minhash_signatures: distinct word k-grams of the normalized
    text, per-seed min of md5('<seed>:<shingle>') under STRING order,
    band key = md5 of the '|'-joined band slice — bit-identical to the
    batch columns); the stream then groups by (band, key) and keeps the
    bucket's sorted doc-id set as ``applyInPandasWithState`` state,
    emitting (id_a, id_b, band) exactly once, when the later document
    arrives. After any prefix of the stream, the distinct emitted pairs
    EQUAL batch ``minhash_lsh_pairs`` over the same prefix, and per-pair
    band counts equal n_shared_bands — pinned by tests/test_streaming.py.

    State per bucket is the ids that hashed there (8 bytes each), capped
    at ``max_bucket``: a pathological bucket (empty-text cluster) stops
    emitting new pairs past the cap instead of growing O(corpus) state —
    the same degenerate-bucket reasoning as ngram_jaccard_pairs'
    frequency cap. Parity with batch holds while buckets stay under the
    cap (the batch op would emit quadratic candidates there too)."""
    import hashlib

    rows_per_band = n_hashes // bands

    import re as _re

    _java_ws = _re.compile(r"[ \t\n\x0b\f\r]+")  # Java \s is ASCII-only

    def band_keys(text: str) -> list:
        # bit-faithful mirror of dedup.normalize_text_col + word_shingles:
        # Spark F.trim strips ONLY spaces (0x20) and runs BEFORE the \s+
        # collapse, so '\tfoo' normalizes to ' foo' -> a leading EMPTY
        # token that participates in shingles. Mirroring anything looser
        # (str.strip of all whitespace) silently changes the shingle set.
        if not isinstance(text, str):
            return []
        norm = _java_ws.sub(" ", text.lower().strip(" "))
        toks = norm.split(" ")
        if len(toks) < k:
            return []
        shingles = {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}
        sig = [
            min(hashlib.md5(f"{s}:{sh}".encode()).hexdigest() for sh in shingles)
            for s in range(n_hashes)
        ]
        return [
            hashlib.md5(
                "|".join(sig[b * rows_per_band : (b + 1) * rows_per_band]).encode()
            ).hexdigest()
            for b in range(bands)
        ]

    @F.pandas_udf("array<string>")
    def bk(texts: pd.Series) -> pd.Series:
        return texts.map(band_keys)

    doc_id = F.col(id_col).try_cast("long")

    stacked = (
        # drop null ids BEFORE the band-key explode: band keys depend only
        # on text, so a null id would survive to the fold as float64 NaN
        # (pandas has no long-null) and int(NaN) raises mid-task — the
        # batch minhash_lsh_pairs path tolerates null ids the same way
        # (mirrors the documented null-key handling in streaming_count_min).
        # Filter on the POST-cast value: a non-numeric string id casts to
        # null too, and would otherwise reach the fold as the same NaN
        # (try_cast: under ANSI mode cast would throw mid-stream instead).
        # The dropped rows are counted under the observed metric
        # "lsh_dedup_dropped_ids".
        stream_df.observe(
            "lsh_dedup_dropped_ids",
            F.sum(F.when(doc_id.isNull(), 1).otherwise(0)).alias("n_dropped"),
        )
        .filter(doc_id.isNotNull())
        .select(doc_id.alias("id"), bk(F.col(text_col)).alias("_bks"))
        .select(
            "id", F.posexplode("_bks").alias("band", "key")
        )
    )

    def fold(key, pdfs, state):
        import numpy as np

        seen = (
            np.frombuffer(bytes(state.get[0]), dtype=np.int64)
            if state.exists
            else np.array([], dtype=np.int64)
        )
        known = set(int(x) for x in seen)
        out_a, out_b = [], []
        band = int(key[0])
        for pdf in pdfs:
            for i in sorted(int(x) for x in pdf["id"]):
                if i in known or len(known) >= max_bucket:
                    continue
                for j in known:
                    lo, hi = (j, i) if j < i else (i, j)
                    out_a.append(lo)
                    out_b.append(hi)
                known.add(i)
        state.update((np.array(sorted(known), dtype=np.int64).tobytes(),))
        if out_a:
            yield pd.DataFrame(
                {"id_a": out_a, "id_b": out_b, "band": [band] * len(out_a)}
            )

    return stacked.groupBy("band", "key").applyInPandasWithState(
        fold,
        outputStructType=LSH_OUTPUT_SCHEMA,
        stateStructType=LSH_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


CMS_STATE_SCHEMA = T.StructType([T.StructField("cnt", T.LongType())])
CMS_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("d", T.IntegerType()),
        T.StructField("slot", T.LongType()),
        T.StructField("cnt", T.LongType()),
    ]
)


def streaming_count_min(
    stream_df: DataFrame, key_col: str, depth: int = 4, width: int = 64
) -> DataFrame:
    """Streaming count-min sketch: slots are computed statelessly per row
    (Python mirror of ``sketch.md5_slot`` — md5('<d>:<value>') first 8 hex
    chars mod width, bit-identical to the batch expression), then ONE long
    of state per (d, slot) group — the whole sketch is a hard-bounded
    depth*width state rows regardless of stream cardinality. Emits the
    updated (d, slot, cnt) rows each micro-batch; counts are additive, so
    after all data has streamed through the final row set EQUALS the
    batch ``count_min_table`` exactly — pinned by tests/test_streaming.py.
    Null keys are dropped (the batch op's md5 of null is null — feed it
    the same filtered input when comparing)."""
    import hashlib

    @F.pandas_udf("array<long>")
    def slots(vals: pd.Series) -> pd.Series:
        return vals.map(
            lambda v: [
                int(hashlib.md5(f"{d}:{v}".encode()).hexdigest()[:8], 16) % width
                for d in range(depth)
            ]
        )

    stacked = (
        stream_df.filter(F.col(key_col).isNotNull())
        .select(slots(F.col(key_col).cast("string")).alias("_s"))
        .select(F.posexplode("_s").alias("d", "slot"))
    )

    def fold(key, pdfs, state):
        cnt = int(state.get[0]) if state.exists else 0
        for pdf in pdfs:
            cnt += len(pdf)
        state.update((cnt,))
        yield pd.DataFrame(
            {"d": [int(key[0])], "slot": [int(key[1])], "cnt": [cnt]}
        )

    return stacked.groupBy("d", "slot").applyInPandasWithState(
        fold,
        outputStructType=CMS_OUTPUT_SCHEMA,
        stateStructType=CMS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


QUANTILE_STATE_SCHEMA = T.StructType([T.StructField("bins", T.BinaryType())])


def streaming_log_histogram_quantiles(
    stream_df: DataFrame,
    group_col: str,
    value_col: str,
    qs: tuple = (50, 95),
) -> DataFrame:
    """Streaming quantiles with BOUNDED state: the partition-invariant
    log-binned histogram (sketch.log_histogram_quantiles) as
    ``applyInPandasWithState`` state — at most ~260 (bin, count, rep)
    triples per group no matter how many values stream through, where a
    raw percentile would buffer every value. Each micro-batch folds its
    values through ``sketch.log_bin_value`` (the Python mirror of the
    batch expression tree) and emits updated estimates via the SHARED
    ``quantiles_from_bins`` rule, so after all data has streamed through
    the emitted bins EQUAL the batch ``log_histogram_bins`` table
    bit-for-bit and the estimates compare exactly — pinned by
    tests/test_streaming.py."""
    out_schema = T.StructType(
        [
            T.StructField("group_key", T.StringType()),
            T.StructField("n", T.LongType()),
            *[T.StructField(f"q{q}_est", T.DoubleType()) for q in qs],
            T.StructField("bins", T.BinaryType()),
        ]
    )

    def fold(key, pdfs, state):
        from logparserhelper_spark.functions.sketch import (
            log_bin_value,
            pack_bins,
            quantiles_from_bins,
            unpack_bins,
        )

        bins = unpack_bins(bytes(state.get[0])) if state.exists else {}
        for pdf in pdfs:
            for v in pdf[value_col]:
                # SQL NULL arrives as NaN in a float64/float32 pandas
                # column, not None — `v != v` catches NaN of every dtype
                # (np.float32 is NOT a Python float subclass, so an
                # isinstance check would miss it). The batch side filters
                # both nulls and NaN data values in-plan, so skipping here
                # keeps the bins bit-identical.
                if v is None or v != v:
                    continue
                b, rep = log_bin_value(float(v))
                c, r = bins.get(b, (0, rep))
                bins[b] = (c + 1, min(r, rep))
        blob = pack_bins(bins)
        state.update((blob,))
        n, ests = quantiles_from_bins(bins, qs)
        yield pd.DataFrame(
            {
                "group_key": [str(key[0])],
                "n": [n],
                **{f"q{q}_est": [e] for q, e in zip(qs, ests)},
                "bins": [blob],
            }
        )

    return (
        stream_df.select(
            F.col(group_col).cast("string").alias("group_key"),
            F.col(value_col).alias(value_col),
        )
        .groupBy("group_key")
        .applyInPandasWithState(
            fold,
            outputStructType=out_schema,
            stateStructType=QUANTILE_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_url_dedup(
    stream_df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental URL-keyed dedup — the crawl-frontier ingestion shape:
    every arriving page is kept iff its CANONICAL url has never been seen,
    across all micro-batches, with one boolean of state per canonical key.

    Canonicalization is the exact same Catalyst expression tree the batch
    op uses (functions/urls.py:canonicalize_url, stateless per row), so
    batch and stream can never disagree on the key — no Python mirror to
    drift. Unparseable rows (canonical NULL) get the batch op's surrogate
    key (sentinel + id), making each its own first-seen singleton; rows
    with NULL ids are dropped (they cannot be addressed by a keep set).

    Emits (doc_id, canonical_url) exactly once per canonical key — the
    batch ``is_rep`` rows — where doc_id is the smallest id in the key's
    FIRST micro-batch (equal to batch min-id when ingestion is id-ordered,
    the replay/backfill case; under arbitrary arrival the kept id is
    first-seen, which is the streaming-native rule). canonical_url is NULL
    on surrogate-keyed rows, like the batch column."""
    from logparserhelper_spark.functions.urls import canonicalize_url

    _SENTINEL = "\x00unparsed\x00"
    canon = canonicalize_url(F.col(url_col))
    keyed = (
        stream_df.filter(F.col(id_col).isNotNull())
        .select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.coalesce(
                canon,
                F.concat(F.lit(_SENTINEL), F.col(id_col).cast("string")),
            ).alias("dedup_key"),
        )
    )

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("canonical_url", T.StringType()),
        ]
    )
    state_schema = T.StructType([T.StructField("seen", T.BooleanType())])

    def first_seen(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            for _ in pdfs:
                pass
            return
        best = None
        for pdf in pdfs:
            m = pdf["doc_id"].min()
            if best is None or m < best:
                best = int(m)
        state.update((True,))
        k = key[0]
        yield pd.DataFrame(
            {
                "doc_id": [best],
                "canonical_url": [None if k.startswith(_SENTINEL) else k],
            }
        )

    return keyed.groupBy("dedup_key").applyInPandasWithState(
        first_seen,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_segment_dedup(
    stream_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    chunk_words: int | None = None,
    min_chars: int = 1,
) -> DataFrame:
    """Incremental CCNet segment dedup — the crawl-ingestion twin of
    functions/segments.py:segment_dedup(keep='first'): every arriving
    document's segments are emitted iff their canonical key has never
    been seen across all micro-batches, with one boolean of state per
    distinct segment key.

    Segmentation, normalization, and keying are the SAME expression tree
    the batch op uses (functions/segments.py:segment_rows — stateless
    per row), so batch and stream can never disagree on a key; there is
    no Python mirror to drift. ``min_chars``-exempt segments (blank
    lines) must ALWAYS survive without consuming shared state, so they
    ride a per-row surrogate key (sentinel + id + pos) and are each
    their own first-seen singleton — the same trick the URL twin uses
    for unparseable rows.

    Emits (doc_id, pos, segment) exactly once per key: within the key's
    FIRST micro-batch the smallest (doc_id, pos) occurrence wins —
    equal to the batch op's global keep-first rule whenever ingestion
    is id-ordered (the replay/backfill case); under arbitrary arrival
    the kept occurrence is first-seen, the streaming-native rule.
    Downstream reassembly is a per-consumer groupBy(doc) in
    foreachBatch (documents are complete within their batch). State is
    one boolean per distinct eligible segment — the same footprint as
    the batch op's shuffle keys; long-running frontiers bound it with
    the engine's state TTL.

    Long-id contract: the emitted ``doc_id`` is LongType, so rows whose
    id does not cast to long are dropped (quarantine semantics) rather
    than passed through as nulls, and counted under the observed metric
    ``segment_dedup_dropped_ids`` — a non-numeric string id previously
    survived the pre-cast isNotNull filter and crashed ``first_seen``
    mid-stream. Corpora with string ids should map them to longs
    upstream (the batch twin, segments.segment_dedup, keeps the
    original id type)."""
    from logparserhelper_spark.functions.segments import segment_rows

    _SENTINEL = "\x00exempt\x00"
    dropped = F.col(id_col).try_cast("long").isNull()
    segs, _joiner = segment_rows(
        stream_df.observe(
            "segment_dedup_dropped_ids",
            F.sum(F.when(dropped, 1).otherwise(0)).alias("n_dropped"),
        ).filter(F.col(id_col).isNotNull()),
        text_col, id_col, sep, chunk_words, min_chars,
    )
    keyed = segs.select(
        # try_cast, not cast: under ANSI mode a malformed string id would
        # throw mid-stream; the contract is quarantine (drop), not crash
        F.col("_id").try_cast("long").alias("doc_id"),
        F.col("_pos").cast("int").alias("pos"),
        F.col("_seg").alias("segment"),
        F.when(
            F.col("_eligible"), F.col("_key")
        ).otherwise(
            F.concat(
                F.lit(_SENTINEL),
                F.col("_id").cast("string"),
                F.lit(":"),
                F.col("_pos").cast("string"),
            )
        ).alias("dedup_key"),
    ).filter(F.col("doc_id").isNotNull())

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("pos", T.IntegerType()),
            T.StructField("segment", T.StringType()),
        ]
    )
    state_schema = T.StructType([T.StructField("seen", T.BooleanType())])

    def first_seen(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if key[0].startswith(_SENTINEL):
            # exempt segment: emit WITHOUT touching state — its surrogate
            # key can never recur, so persisting a row per blank line
            # would grow state with total ingested blanks forever
            for pdf in pdfs:
                yield pdf[["doc_id", "pos", "segment"]]
            return
        if state.exists:
            for _ in pdfs:
                pass
            return
        best = None
        for pdf in pdfs:
            pdf = pdf.sort_values(["doc_id", "pos"])
            head = pdf.iloc[0]
            cand = (int(head["doc_id"]), int(head["pos"]), head["segment"])
            if best is None or (cand[0], cand[1]) < (best[0], best[1]):
                best = cand
        state.update((True,))
        yield pd.DataFrame(
            {"doc_id": [best[0]], "pos": [best[1]], "segment": [best[2]]}
        )

    return keyed.groupBy("dedup_key").applyInPandasWithState(
        first_seen,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
