"""Deduplication for training-data pipelines.

Four families, scale-ranked:

- exact: hash-groupBy on (normalized) content — one shuffle of (hash, id).
- n-gram Jaccard: shingle -> explode -> self-join on shingle -> count.
  Exact pairwise similarity; candidate generation is bounded by shared
  shingles, so the self-join only materializes co-shingled pairs (plus a
  frequency cap on hot shingles to kill the quadratic tail).
- MinHash + LSH: shingle -> per-seed min-hash -> band keys -> bucket join.
  Near-dup candidates in O(n) shuffle volume; verify step recomputes exact
  Jaccard only within buckets. Hashes are md5-based (engine-portable: the
  DuckDB oracle computes identical signatures).
- SimHash: 64-bit signature via per-token hash bit-voting (pandas UDF);
  near-dups = signatures within Hamming distance d, bucketed by d+1
  chunks (pigeonhole: a pair within d agrees on at least one chunk).

All functions take/return DataFrames and never collect.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def normalize_text_col(c):
    """lower + collapse whitespace — the canonical form for exact dedup."""
    return F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Duplicate groups by normalized text: (canonical_id = min id, n_copies,
    member ids). Only groups with >1 member."""
    norm = normalize_text_col(F.col(text_col)).alias("_norm")
    return (
        df.select(F.col(id_col).alias("_id"), norm)
        .groupBy("_norm")
        .agg(
            F.min("_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.sort_array(F.collect_list("_id")).alias("member_ids"),
        )
        .filter(F.col("n_copies") > 1)
        .drop("_norm")
    )


def word_shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  k: int = 3, distinct: bool = True) -> DataFrame:
    """Word k-gram shingles per doc: (id, shingle) — distinct per doc by
    default (set semantics for Jaccard/MinHash); ``distinct=False`` keeps
    one row per POSITION (bag semantics for duplicated-span statistics).
    Built-ins only: split -> transform over index range -> explode. Text
    is normalized (lower, collapsed whitespace) first.

    The words array is materialized in its OWN projection before the
    k-gram transform references it k times per element: inlining the
    split(regexp_replace(...)) tree into the lambda re-evaluates the full
    normalization per element_at and measured ~25x slower at 260k shingles
    (Catalyst does not always CSE duplicated non-cheap subtrees inside
    higher-order functions)."""
    w = df.select(
        F.col(id_col).alias("id"),
        F.split(normalize_text_col(F.col(text_col)), " ").alias("_ws"),
    )
    ws = F.col("_ws")
    n = F.size(ws)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(ws, (i + j + 1).cast("int")) for j in range(k)]),
    )
    if distinct:
        grams = F.array_distinct(grams)
    shingles = F.when(n >= k, grams).otherwise(F.array())
    return w.select("id", F.explode(shingles).alias("shingle"))


def duplicated_ngram_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """Deduplicating-training-data statistics (Lee et al. 2022's cross-doc
    duplicated-text signal, at shingle granularity): for each document, the
    fraction of its word k-gram POSITIONS whose shingle occurs in at least
    2 distinct documents — high fractions flag boilerplate/mirrored text
    that exact- and near-dedup both miss when it is embedded in otherwise
    unique pages.

    Plan: positional shingles (NOT deduped — repeats inside a doc count
    per occurrence) pre-aggregate to (id, shingle, cnt) with map-side
    combine; document frequency is one more count over that table (rows
    per shingle == docs containing it — no COUNT DISTINCT expansion);
    join back on shingle, per-doc sums. Everything is linear in distinct
    (doc, shingle) pairs — no posting lists, no pairs, no all-pairs. Hot
    shingles ("in the of") collapse map-side on the frequency branch and
    rely on AQE skew-join splitting on the probe join.

    The (id, shingle) subtree is evaluated once per consumer (2x): Catalyst
    prunes cnt from the frequency branch, rewriting its inner aggregate to
    a distinct — canonically different from the probe's, so ReuseExchange
    cannot fire (verified on the executed plan). The alternative — a
    count() window over dsc partitioned by shingle — would compute the
    subtree once but has NO partial aggregation: a corpus-hot shingle
    serializes its entire row set into one window task at 100 TB, whereas
    the join formulation keeps both branches map-side-combinable and
    skew-splittable. Two linear scans is the safer trade."""
    shp = word_shingles(df, text_col, id_col, k, distinct=False)
    dsc = shp.groupBy("id", "shingle").agg(F.count(F.lit(1)).alias("cnt"))
    dfreq = dsc.groupBy("shingle").agg(F.count(F.lit(1)).alias("nd"))
    per_doc = (
        dsc.join(dfreq, "shingle")
        .groupBy("id")
        .agg(
            F.sum("cnt").cast("long").alias("n_shingles"),
            F.sum(F.when(F.col("nd") >= 2, F.col("cnt")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_dup"),
        )
    )
    return per_doc.select(
        F.col("id").alias(id_col),
        "n_shingles",
        "n_dup",
        F.round(F.col("n_dup") / F.col("n_shingles"), 6).alias("dup_fraction"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int = 1000,
) -> DataFrame:
    """n-gram Jaccard similar pairs (id_a < id_b, jaccard >= threshold),
    exact over the CAPPED shingle space: shingles with document frequency
    > max_shingle_freq are dropped (they generate quadratic candidates and
    contribute negligible discrimination), and BOTH the intersection and the
    per-doc sizes are computed from the filtered set, so jaccard is the true
    Jaccard of the filtered shingle sets — not a biased-low estimate of the
    unfiltered one. With no shingle above the cap the result is the exact
    unfiltered Jaccard.

    Plan shape: ONE groupBy(shingle) -> collect_list(id) fuses the frequency
    cap with candidate generation (a separate dfreq + join formulation
    recomputed the expensive shingle subtree 6x; every consumer below hangs
    off the same aggregation exchange, which Spark's ReuseExchange
    deduplicates). Pairs are expanded in-plan from each shingle's posting
    list (k^2/2 per shingle, k <= max_shingle_freq — bounded) -> groupBy
    pair count = |A∩B| -> join per-doc (filtered) sizes -> jaccard."""
    sh = word_shingles(df, text_col, id_col, k)
    grouped = (
        sh.groupBy("shingle")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") <= max_shingle_freq)
    )
    sizes = (
        grouped.select(F.explode("ids").alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    # Pair counting is the wall of this operator: sum over shingles of
    # df^2/2 generated pairs (quadratic in shingle document frequency up to
    # the cap), and on natural corpora almost every generated pair is
    # UNIQUE (measured 183M generated -> 164M distinct at the 6M-row sf,
    # mean multiplicity 1.1). Two consequences drive the shape below:
    #
    # 1. A straight explode -> groupBy(id_a, id_b) shuffles one row per
    #    generated pair and its partial aggregation builds ~no-reduction
    #    hash maps of 10^8 keys (spill) before shuffling them anyway.
    #    Instead, each posting-list element ships ONE compact row
    #    (id_a, partners-array): the slice of the SORTED posting list
    #    strictly after its position (ids are distinct per shingle, so
    #    "after p in sorted order" == "> id_a" exactly). Rows shrink from
    #    O(pairs) to O(posting-list elements); bytes stay O(pairs) but as
    #    packed long arrays, not per-row framed pairs.
    # 2. The single exchange hashes on id_a ONLY; the groupBy(id_a, id_b)
    #    after it is satisfied by that clustering (no second exchange), its
    #    hash map is bounded by one doc's partner set (<= sz * cap), and the
    #    size joins + threshold filter run map-side in the same stage.
    #
    # The id_a repartition is cores-scaled and AQE-exempt: byte-based
    # coalescing sees only small posting-list/partner bytes feeding the
    # CPU-bound fan-out+aggregate stage and would collapse it to a handful
    # of tasks (same lesson as the pipeline's parse stage, pipeline.py
    # parse_partitions). A matching explicit repartition on the shingle
    # side was measured a wash and dropped: with the same key and count as
    # the groupBy's exchange it is elided outright, and forcing a distinct
    # count bought nothing — the slice pass is cheap relative to the
    # downstream aggregate.
    n_fan = df.sparkSession.sparkContext.defaultParallelism * 2
    pre = (
        grouped.select(F.posexplode("ids").alias("_p", "id_a"), "ids")
        .select(
            "id_a",
            F.slice(
                F.col("ids"), F.col("_p") + 2,
                F.greatest(F.size("ids") - F.col("_p") - 1, F.lit(0)),
            ).alias("_partners"),
        )
        .filter(F.size("_partners") > 0)
    )
    inter = (
        pre.repartition(n_fan, "id_a")
        .select("id_a", F.explode("_partners").alias("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    # join strategy pinned (guide §3.1): post-aggregation size ESTIMATES are
    # garbage, and at sf1.0 the planner chose to broadcast `inter` — the pair
    # table, the LARGEST relation in the query (up to max_shingle_freq^2/2
    # rows per hot shingle) — which failed the build with >1 GB of serialized
    # task results. `sizes` (one row per doc that kept any shingle) is the
    # provably smaller side: broadcast it explicitly. Beyond broadcastable
    # doc counts (~10^8), drop the hint and let AQE plan an SMJ from runtime
    # sizes — but never leave the choice to pre-execution estimates here.
    out = (
        inter.join(F.broadcast(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a")), "id_a")
        .join(F.broadcast(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b")), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_inter", "sz_a", "sz_b", "jaccard")
    )
    return out


def _minhash_col(seed: int):
    """Portable per-shingle hash: md5 hex of '<seed>:<shingle>' — min over
    the STRING ordering is the signature element. String min is identical in
    Spark, DuckDB, and Python, so oracles can reproduce signatures exactly."""
    return F.md5(F.concat_ws(":", F.lit(str(seed)), F.col("shingle")))


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    k: int = 3, n_hashes: int = 12,
) -> DataFrame:
    """(id, sig_0..sig_{n-1}): per-seed min of md5(seed:shingle). One
    shuffle: groupBy(id) with n_hashes partial min aggregates."""
    sh = word_shingles(df, text_col, id_col, k)
    aggs = [F.min(_minhash_col(s)).alias(f"sig_{s}") for s in range(n_hashes)]
    return sh.groupBy("id").agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    k: int = 3, n_hashes: int = 12, bands: int = 4,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding: signature split into
    ``bands`` bands of n_hashes/bands rows; docs sharing any band key are
    candidates. Returns (id_a, id_b, n_shared_bands). Verify with
    ngram_jaccard_pairs on the candidates for exactness."""
    rows = n_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, k, n_hashes)
    band_cols = [
        F.md5(F.concat_ws("|", *[F.col(f"sig_{b * rows + r}") for r in range(rows)])).alias(f"band_{b}")
        for b in range(bands)
    ]
    banded = sig.select("id", *band_cols)
    stacked = banded.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), F.col(f"band_{b}").alias("key"))
                for b in range(bands)
            ])
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a = stacked.select(F.col("id").alias("id_a"), "band", "key")
    b = stacked.select(F.col("id").alias("id_b"), "band", "key")
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """Connected components over an undirected pair list — the step that
    turns near-dup PAIRS into duplicate CLUSTERS (one canonical doc per
    component). Returns (id, component) with component = min id reachable.

    The iterative-algorithm pattern done Spark-side: each round does (a)
    label propagation — every node takes the min of its own and its
    neighbors' labels (edge join + groupBy-min) — then (b) POINTER
    JUMPING — it also adopts its candidate label's OWN current label
    (labels self-join). The jump doubles the propagated distance per
    round, so convergence is O(log diameter) rounds, not O(diameter): a
    10^4-node path converges in ~14 rounds where plain propagation needs
    10^4 (same shape as the star-contraction bound in Kiveris et al.,
    "Connected Components in MapReduce and Beyond"). Dedup graphs are
    near-stars (2-4 rounds in practice); each round is two bounded
    shuffles of (node, label) pairs, never an adjacency explosion, and a
    giant component's hot label key in the jump join is AQE-skew-split
    territory. localCheckpoint per round truncates the lineage so the
    plan does not grow exponentially. The round count of the last call is
    exposed as ``connected_components.last_rounds`` (capacity budgeting +
    tests); default max_iters=25 therefore covers diameters past 10^6."""
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        # materialize once: every iteration joins edges, and without this
        # the whole upstream pair-generation pipeline re-runs per round
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint()
    )
    converged = False
    rounds = 0
    for _ in range(max_iters):
        rounds += 1
        neighbor_min = (
            edges.join(labels, edges.src == labels.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("component").alias("_nmin"))
        )
        stepped = labels.join(neighbor_min, "id", "left").select(
            "id",
            F.least(
                F.col("component"), F.coalesce("_nmin", F.col("component"))
            ).alias("_cand"),
            F.col("component").alias("_old"),
        )
        # pointer jump: a label is itself a node id, so adopting the
        # label's OWN label shortcuts the path — propagation distance
        # doubles per round (k -> 2k+1), O(log d) total rounds
        jump = labels.select(
            F.col("id").alias("_jid"), F.col("component").alias("_jcomp")
        )
        from pyspark.sql import Observation

        obs = Observation(f"cc_round_{rounds}")
        new_labels = (
            stepped.join(jump, stepped._cand == jump._jid, "left")
            .select(
                "id",
                F.least(
                    F.col("_cand"), F.coalesce("_jcomp", F.col("_cand"))
                ).alias("component"),
                (
                    F.least(F.col("_cand"), F.coalesce("_jcomp", F.col("_cand")))
                    < F.col("_old")
                ).alias("_changed"),
            )
            # the convergence count rides the checkpoint's materialization
            # job via observe() instead of a separate count() action —
            # one job per round, not two
            .observe(obs, F.sum(F.col("_changed").cast("long")).alias("n"))
            .localCheckpoint()
        )
        n_changed = int(obs.get.get("n") or 0)
        # the new round is materialized; drop the previous round's blocks
        # instead of accumulating max_iters label copies in storage
        labels.unpersist()
        labels = new_labels.drop("_changed")
        if n_changed == 0:
            converged = True
            break
    connected_components.last_rounds = rounds
    if not converged:
        # partially-propagated labels would silently fragment clusters
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            "(graph diameter past ~2^max_iters, or a label cycle bug) — "
            "raise max_iters"
        )
    return labels


def duplicate_clusters(
    pairs: DataFrame, a_col: str = "id_a", b_col: str = "id_b"
) -> DataFrame:
    """Near-dup clusters from candidate pairs: (cluster_id = min member,
    n_members, max_member). Only multi-member clusters exist by
    construction (every node appears in >= 1 pair)."""
    cc = connected_components(pairs, a_col, b_col)
    return cc.groupBy(F.col("component").alias("cluster_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.max("id").alias("max_member"),
    )


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per doc (Charikar'02): per-token md5-derived 64-bit
    hash; signature bit b = sign of the sum of (+1/-1) votes across tokens.
    Arrow-batched pandas UDF (bit voting has no built-in form)."""
    import numpy as np

    _bit_idx = np.arange(64, dtype=np.uint64)

    @F.pandas_udf("long")
    def sh(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), dtype=np.uint64)
        for i, t in enumerate(texts.tolist()):
            if not isinstance(t, str) or not t.strip():
                continue
            toks = t.lower().split()
            hs = np.fromiter(
                (
                    int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
                    for tok in toks
                ),
                dtype=np.uint64,
                count=len(toks),
            )
            # unpack token-hash bits into an (n_tokens, 64) 0/1 matrix; vote
            # sum per bit = 2*ones - n; signature bit set iff votes > 0
            ones = ((hs[:, None] >> _bit_idx) & np.uint64(1)).sum(axis=0)
            sig_bits = (2 * ones.astype(np.int64) - len(toks)) > 0
            out[i] = (sig_bits.astype(np.uint64) << _bit_idx).sum(dtype=np.uint64)
        # reinterpret the packed uint64 as signed (Spark long)
        return pd.Series(out.view(np.int64), index=texts.index)

    return df.select(F.col(id_col).alias("id"), sh(F.col(text_col)).alias("simhash"))


def _hash_near_pairs(sig: DataFrame, hash_col: str, max_hamming: int) -> DataFrame:
    """(id_a, id_b, hamming) pairs with Hamming(hash) <= max_hamming over
    an (id, ``hash_col``) table of 64-bit hashes, via chunk bucketing: the
    hash splits into ``max_hamming + 1`` contiguous bit ranges, so by
    pigeonhole any pair within the distance budget agrees exactly on at
    least one chunk (O(n) shuffle; candidates only meet inside a shared
    chunk bucket, never all-pairs). d=3 buckets on 4x16-bit chunks; larger
    budgets widen the explode fan-out (and recall cost) instead of silently
    missing pairs."""
    if not 0 <= max_hamming <= 16:
        # n_chunks = d+1 caps at 17 before chunks shrink below ~4 bits and
        # the buckets stop discriminating (every value collides).
        raise ValueError(f"max_hamming must be in [0, 16], got {max_hamming}")
    n_chunks = max_hamming + 1
    bounds = [round(64 * i / n_chunks) for i in range(n_chunks + 1)]

    def _ckey(c: int):
        width = bounds[c + 1] - bounds[c]
        shifted = F.shiftright(hash_col, bounds[c])
        if width >= 64:  # d=0: the whole hash is the (exact-match) bucket key
            return shifted
        return shifted.bitwiseAND(F.lit((1 << width) - 1))

    chunks = sig.select(
        "id",
        F.col(hash_col).alias("h"),
        F.explode(
            F.array(*[
                F.struct(F.lit(c).alias("chunk"), _ckey(c).alias("ckey"))
                for c in range(n_chunks)
            ])
        ).alias("ck"),
    ).select("id", "h", F.col("ck.chunk").alias("chunk"), F.col("ck.ckey").alias("ckey"))
    a = chunks.select(F.col("id").alias("id_a"), F.col("h").alias("h_a"), "chunk", "ckey")
    b = chunks.select(F.col("id").alias("id_b"), F.col("h").alias("h_b"), "chunk", "ckey")
    cand = (
        a.join(b, ["chunk", "ckey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "h_a", "h_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return cand.withColumn("hamming", hamming).filter(
        F.col("hamming") <= max_hamming
    ).select("id_a", "id_b", "hamming")


def simhash_near_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming, via the banded
    chunk join (_hash_near_pairs: max_hamming + 1 chunks, complete for
    d <= 16)."""
    return _hash_near_pairs(simhash64(df, text_col, id_col), "simhash", max_hamming)
