"""IVF (inverted-file) approximate nearest neighbor — the second scale path
next to SRP-LSH (functions/similarity.py).

- ``kmeans_fit``: Lloyd's iterations as DataFrame ops — assignment is a
  vectorized numpy matmul inside a pandas UDF (Arrow batches), the centroid
  update is a plain groupBy mean. Deterministic (seeded init from a
  deterministic sample). This is the iterative-algorithm pattern: a
  driver-side loop over a small broadcast model, one distributed pass per
  iteration, no RDDs.
- ``ivf_topk``: assign corpus vectors to their nearest centroid (one pass),
  probe the ``nprobe`` nearest lists per query, exact cosine re-rank inside
  the probed lists. Shuffle volume ~ corpus (cluster ids) instead of
  corpus x queries; recall vs brute force is pinned in tests.

At 100 TB the centroid model is trained on a sample (standard IVF practice),
the assignment pass is scan-shaped and embarrassingly parallel, and the
probe join is a broadcast of (query, cluster) pairs against the
cluster-partitioned corpus.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from logparserhelper_spark.functions.similarity import cosine_similarity_col


def _normalize(m: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(m, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return m / n


def kmeans_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 16,
    iters: int = 5,
    seed: int = 42,
    sample_limit: int = 100_000,
) -> np.ndarray:
    """Spherical k-means (cosine) centroids, shape (k, dim). Init = seeded
    choice from a deterministic sample (sorted, then RandomState pick)."""
    sample = np.array(
        df.select(vec_col).limit(sample_limit).toPandas()[vec_col].tolist(),
        dtype=np.float64,
    )
    rs = np.random.RandomState(seed)
    centroids = _normalize(sample[rs.choice(len(sample), size=k, replace=False)])

    for _ in range(iters):
        assigned = with_cluster_ids(df, centroids, vec_col)
        sums = (
            assigned.groupBy("cluster_id")
            .agg(
                F.array(*[
                    F.sum(F.element_at(F.col(vec_col), i + 1).cast("double"))
                    for i in range(centroids.shape[1])
                ]).alias("vec_sum"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        new = centroids.copy()
        for r in sums:
            new[r.cluster_id] = np.array(r.vec_sum) / r.n
        centroids = _normalize(new)
    return centroids


def with_cluster_ids(
    df: DataFrame, centroids: np.ndarray, vec_col: str = "embedding"
) -> DataFrame:
    """Adds ``cluster_id`` = argmax cosine(v, centroid) via a vectorized
    numpy matmul over Arrow batches (centroids captured by closure — a few
    KB, re-broadcast per task by Spark's closure serializer)."""
    c = _normalize(np.asarray(centroids, dtype=np.float64))

    @F.pandas_udf("int")
    def assign(vecs: pd.Series) -> pd.Series:
        m = _normalize(np.array(vecs.tolist(), dtype=np.float64))
        return pd.Series(np.argmax(m @ c.T, axis=1).astype(np.int32), index=vecs.index)

    return df.withColumn("cluster_id", assign(F.col(vec_col)))


def load_centroid_fixture(path: str | None = None) -> np.ndarray:
    """The committed IVF model (data/ivf_centroids_v1.json): unit-norm
    float64 centroids fit once by scripts/fit_ivf_centroids.py. JSON floats
    round-trip exactly (shortest-repr), so every reader sees identical
    doubles — the property the oracle-checkable query path relies on."""
    import json
    import os

    if path is None:
        # zip-safe (spark-submit --py-files): importlib.resources first,
        # filesystem fallback — same pattern as defaults.default_pattern_bank
        try:
            from importlib import resources

            payload = (
                resources.files("logparserhelper_spark")
                .joinpath("data/ivf_centroids_v1.json")
                .read_text(encoding="utf-8")
            )
        except (ImportError, ModuleNotFoundError, FileNotFoundError, NotADirectoryError):
            # resource lookup failed (e.g. odd packaging) -> filesystem
            # fallback below. A corrupt fixture (bad JSON / missing key) must
            # NOT be swallowed: under --py-files the filesystem path doesn't
            # exist and the real cause would surface as an unrelated
            # FileNotFoundError, so JSON/schema errors propagate.
            payload = None
        if payload is not None:
            return np.array(json.loads(payload)["centroids"], dtype=np.float64)
        path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "data",
            "ivf_centroids_v1.json",
        )
    with open(path, "r", encoding="utf-8") as f:
        doc = json.load(f)
    return np.array(doc["centroids"], dtype=np.float64)


def _lit_d(x: float) -> str:
    """A double literal in SQL text that round-trips the value exactly
    (repr is shortest-round-trip; D suffix keeps the parser in DOUBLE)."""
    r = repr(float(x))
    return f"{r}D" if ("e" not in r and "E" not in r) else f"CAST('{r}' AS DOUBLE)"


def _fold_dot_sql(vec: str, centroid: np.ndarray) -> str:
    """Sequential left-fold dot product of an array column with a literal
    centroid — the same fold DuckDB's list_sum performs, so the resulting
    double is bit-identical on both sides (the property the lsh_topk oracle
    established for SRP keys). Emitted as SQL text: the per-element F.lit
    Column form cost one py4j round-trip per centroid element at DataFrame
    BUILD time (driver-side seconds for k x dim literals; same lesson as
    similarity.srp_bucket_key)."""
    arr = ", ".join(_lit_d(x) for x in centroid)
    return (
        f"aggregate(zip_with({vec}, array({arr}), "
        f"(x, y) -> CAST(x AS DOUBLE) * y), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def centroid_dots(vec_col: str, centroids: np.ndarray):
    """array<struct<d: double, nj: int>> of (dot, -index) per centroid.
    ``array_max`` / descending ``sort_array`` on it order by dot first, then
    by -index — i.e. ties break toward the LOWEST centroid index, matching
    the oracle's ORDER BY dot DESC, j ASC. ``vec_col`` is a column NAME
    (the expression is built textually); anything else raises
    ``TypeError``."""
    if not isinstance(vec_col, str):
        raise TypeError(f"vec_col must be a column name, got {type(vec_col).__name__}")
    entries = ", ".join(
        f"named_struct('d', {_fold_dot_sql(vec_col, centroids[j])}, 'nj', {-j})"
        for j in range(centroids.shape[0])
    )
    return F.expr(f"array({entries})")


def ivf_topk_exact(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """IVF probe + re-rank with a FIXED committed model, entirely JVM-side
    (whole-stage-codegen fold dots, no Python workers) and deterministic to
    the bit — the oracle-checkable contract path. Same plan shape as
    ``ivf_topk``: corpus assignment is scan-shaped, the small probed query
    set broadcasts, shuffle volume ~ candidate rows. Prefer this path when
    the model is a deployed artifact (the common production case: fit once
    on a sample, serve many scans); ``ivf_topk`` + ``kmeans_fit`` is the
    in-job-training variant (numpy matmul assignment, faster at large k)."""
    c = _normalize(np.asarray(centroids, dtype=np.float64))
    n_probe = min(nprobe, c.shape[0])

    cc = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    ).withColumn(
        "cluster_id", -F.array_max(centroid_dots("_cv", c))["nj"]
    )
    probes = F.transform(
        F.slice(
            F.sort_array(centroid_dots("_qv", c), asc=False),
            1,
            n_probe,
        ),
        lambda s: -s["nj"],
    )
    qq = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    ).withColumn("cluster_id", F.explode(probes))
    cand = cc.join(F.broadcast(qq), "cluster_id").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = cand.withColumn(
        "cos_sim", F.round(cosine_similarity_col(F.col("_cv"), F.col("_qv")), round_to)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rank").cast("int").alias("rank"))
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Approximate top-k: probe the nprobe nearest centroid lists per query,
    exact cosine re-rank within them. Output (query_id, neighbor_id,
    cos_sim, rank)."""
    c = _normalize(np.asarray(centroids, dtype=np.float64))
    n_probe = min(nprobe, c.shape[0])

    @F.pandas_udf("array<int>")
    def probe_lists(vecs: pd.Series) -> pd.Series:
        m = _normalize(np.array(vecs.tolist(), dtype=np.float64))
        order = np.argsort(-(m @ c.T), axis=1)[:, :n_probe].astype(np.int32)
        return pd.Series(list(order), index=vecs.index)

    cc = with_cluster_ids(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")),
        c,
        "_cv",
    )
    qq = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
        .withColumn("cluster_id", F.explode(probe_lists(F.col("_qv"))))
    )
    cand = cc.join(F.broadcast(qq), "cluster_id").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = cand.withColumn(
        "cos_sim", F.round(cosine_similarity_col(F.col("_cv"), F.col("_qv")), round_to)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rank").cast("int").alias("rank"))
    )


def semdedup(
    df: DataFrame,
    centroids: np.ndarray,
    eps: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup via
    embedding clusters — assign every vector to its nearest centroid, then
    within each cluster mark a vector duplicate when a cluster-mate with a
    SMALLER id has cosine >= ``eps`` (a deterministic stand-in for the
    paper's keep-one-per-near-group rule; the paper keeps a random member,
    which no oracle can replay). Entirely JVM-side: fold-dot assignment is
    scan-shaped whole-stage codegen, and the within-cluster pair join plus
    the cluster-size window share ONE exchange on cluster_id.

    Scale note (the paper's own regime): candidate pairs are quadratic in
    cluster width, so k must grow with N to hold N/k ~ constant — at 100 TB
    that means a larger committed centroid model (fit on a sample), not a
    different algorithm. Output: (vec_id, cluster_id, n_cluster, is_dup).
    """
    c = _normalize(np.asarray(centroids, dtype=np.float64))
    assigned = df.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v")
    ).withColumn(
        "cluster_id", (-F.array_max(centroid_dots("_v", c))["nj"]).cast("int")
    )
    a = assigned.select(
        "cluster_id", F.col("vec_id").alias("a_id"), F.col("_v").alias("_av")
    )
    b = assigned.select(
        "cluster_id", F.col("vec_id").alias("b_id"), F.col("_v").alias("_bv")
    )
    dup = (
        a.join(b, "cluster_id")
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn(
            "cos", F.round(cosine_similarity_col(F.col("_av"), F.col("_bv")), round_to)
        )
        .filter(F.col("cos") >= F.lit(eps))
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    w = Window.partitionBy("cluster_id")
    return (
        assigned.join(dup, "vec_id", "left")
        .withColumn("is_dup", F.coalesce("is_dup", F.lit(False)))
        .withColumn("n_cluster", F.count(F.lit(1)).over(w).cast("long"))
        .select("vec_id", "cluster_id", "n_cluster", "is_dup")
    )
