"""End-to-end parse -> enrich -> route -> aggregate pipeline with
bucket-level checkpoint/resume, lineage, and observed metrics.

Lifecycle (Spark rebuild of the reference's E1 path, SURVEY.md §3):

  read transcripts -> stable-order dedup -> normalize (O7 chain)
    -> fused span extraction (O4, one mapInPandas pass)
    -> enrich (broadcast role/tool/bank dims)
    -> multicast route -> per-sink partitioned write
    -> aggregates (per-sink pattern frequency, per-conversation rollups)
    -> lineage + metrics sinks

Scale/resume design:
- Work is chunked by ``bucket = pmod(xxhash64(conv_id), n_buckets)``. Every
  bucket commits independently (turns, routed rows, lineage) and is recorded
  in a progress manifest; a restart skips committed buckets. Publish (the
  aggregates over the committed turns of all buckets) commits the same way:
  its marker lands after the aggregates are written and is removed before
  the first uncommitted bucket runs, so a restart re-publishes only when a
  bucket ran or the publish itself never finished. A rerun over a finished
  out_dir therefore builds no source, dimension or plan and launches no
  Spark job.
  Outputs are pure functions of (bank version, input), mirroring the
  reference's idempotent full recompute (core/regex_highlighter.py:10) —
  re-running a bucket overwrites it byte-equivalently. On Iceberg this maps
  to REPLACE-partition commits.
- Routing, lineage and the aggregates derive from column-pruned read-backs
  of the *written* turns (parse runs exactly once per turn; hard-part #2 of
  SURVEY.md §7 — no persist + per-sink action fan-out). The aggregates are
  computed once, at publish, over every bucket's turns: counts sum across
  buckets and a conversation lives in exactly one bucket, so there is no
  per-bucket partial to write and merge.
- Lineage is embedded provenance: every routed row carries the source
  partition id and bank version; the lineage table is a groupBy over the
  pruned read-back, and conservation (sum(rows_in) == input turns) is tested.
- Metrics use ``df.observe`` (Observation) on the single parse pass.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from logparserhelper_spark.banks import PatternBank, TransformBank
from logparserhelper_spark.defaults import default_pattern_bank, default_transform_bank
from logparserhelper_spark.operators.aggregate import (
    conv_rollup_from_turns,
    sink_pattern_freq_from_turns,
)
from logparserhelper_spark.operators.enrich import bank_dim, enrich
from logparserhelper_spark.operators.extract import SPAN_ARRAY_TYPE, make_parse_normalize_udf
from logparserhelper_spark.operators.ordering import DEDUP_STRATEGIES, stable_order_dedup
from logparserhelper_spark.sinks.hadoop_table import _local_path
from logparserhelper_spark.sources.transcripts import (
    ROLE_DIM_SCHEMA,
    TOOL_DIM_SCHEMA,
    read_dim,
    read_transcripts,
    split_snapshot_suffix,
)


@dataclass
class PipelineConfig:
    input_path: str
    out_dir: str
    pattern_bank: PatternBank = field(default_factory=default_pattern_bank)
    transform_bank: TransformBank | None = None  # None -> no normalize stage
    role_dim_path: str | None = None
    tool_dim_path: str | None = None
    n_buckets: int = 4
    dedup_strategy: str = "agg"
    salt: int = 16
    # partitions for the parse stage. The input is explicitly repartitioned
    # to this count on (conv_id, turn_idx) BEFORE dedup; the dedup groupBy's
    # clustering requirement is satisfied by that exchange, so dedup + the
    # CPU-bound parse UDF + the turns write all run in the SAME stage with
    # exactly this many tasks — ONE shuffle total (r01 shipped two: the
    # dedup exchange plus a post-dedup salted repartition; eliding the
    # second measured ~18% faster at 3.4M turns). Explicit-N repartitions
    # are exempt from AQE coalescing, which would otherwise size this
    # CPU-bound stage by shuffle BYTES and collapse small-but-expensive
    # inputs into one task (a 60k-turn hot conversation measured 1 task
    # under byte-sized coalescing; (conv_id, turn_idx) hashing spreads it).
    # None -> defaultParallelism, one task per core: every Python-worker
    # task pays a fixed set-up cost (NOTES.md), so more, smaller tasks only
    # add it. 0 -> no explicit repartition (let the dedup exchange + AQE
    # size it — right when the source is already bucket-partitioned, e.g.
    # a conv_id-bucketed Iceberg scan).
    parse_partitions: int | None = None
    # routed-sink format: "parquet" (directory per bucket, the default) or
    # "table" — the snapshot-table shim (sinks/hadoop_table.py): ONE
    # routed table partitioned by (bucket, sink), every bucket commit a
    # REPLACE-partitions snapshot. This is the Iceberg production shape:
    # bucket replay converges by partition replace, readers time-travel
    # per snapshot, and a writer death mid-bucket leaves the table at its
    # previous snapshot (commit-or-nothing) instead of a half-written dir.
    routed_format: str = "parquet"
    # opt-in JVM rlike prefilter for the parse stage: definitely-miss
    # turns (per a provable Java superset of the bank's patterns —
    # operators/prefilter.py) bypass the Python crossing. Output is
    # bit-equal either way; the flag exists because the win depends on
    # the corpus miss rate and the plan gains a branch-union.
    parse_prefilter: bool = False
    # test hook: raise after committing this many buckets (resume test)
    fail_after_buckets: int | None = None


class InjectedFailure(RuntimeError):
    pass


ROUTED_FORMATS = ("parquet", "table")
# the final tables _publish writes under aggregates/
AGGREGATE_TABLES = ("sink_pattern_freq", "conv_rollup", "conv_match_rollup")
PUBLISHED_MARKER = "published.json"
# the turns columns _publish aggregates
PUBLISH_TURNS_SCHEMA = (
    "conv_id string, turn_idx int, ts timestamp, n_spans int, "
    f"spans {SPAN_ARRAY_TYPE.simpleString()}"
)


def _progress_dir(cfg: PipelineConfig) -> str:
    return os.path.join(cfg.out_dir, "_progress")


def _parse_partitions(spark: SparkSession, cfg: PipelineConfig) -> int:
    """The resolved parse-stage partition count: cfg.parse_partitions, or
    the session's default parallelism when unset."""
    if cfg.parse_partitions is not None:
        return cfg.parse_partitions
    return spark.sparkContext.defaultParallelism


def _spec_hash(spec) -> str:
    return hashlib.sha256(json.dumps(spec).encode()).hexdigest()[:16]


def _input_address(addr: str) -> str:
    """The input address as the same string from any working directory: a
    plain path or file: URI becomes an absolute local path, and so does the
    location inside a ``table:`` address or the warehouse inside a
    ``catalog:`` one (snapshot suffix kept); an ``iceberg:`` name is kept
    verbatim."""
    if addr.startswith("iceberg:"):
        return addr
    if addr.startswith("table:"):
        return "table:" + os.path.abspath(_local_path(addr[len("table:"):]))
    if addr.startswith("catalog:"):
        rest, suffix = split_snapshot_suffix(addr[len("catalog:"):])
        wh, sep, ident = rest.rpartition(":")
        if not wh:
            return addr
        return "catalog:" + os.path.abspath(_local_path(wh)) + sep + ident + suffix
    return os.path.abspath(_local_path(addr))


def _run_fingerprint(cfg: PipelineConfig, effective_parse_partitions: int) -> dict:
    """Everything a committed bucket's bytes depend on. Resume is only valid
    when ALL of it matches — otherwise merged outputs would mix versions,
    breaking the 'outputs are pure functions of (bank version, input)'
    invariant. ``bank_spec_hash`` covers the sink mapping, which
    ``bank_version`` (written into every output row) does not: a sink edit
    alone re-routes rows, so it must invalidate too.
    ``effective_parse_partitions`` is the RESOLVED parse partition count
    (cfg.parse_partitions or the session default): committed turns embed
    src_partition_id, which depends on it, so a resume under a different
    parallelism must invalidate rather than mix provenance spaces across
    buckets."""
    tspec = cfg.transform_bank.spec() if cfg.transform_bank is not None else ()
    return {
        "bank_version": cfg.pattern_bank.version,
        "bank_spec_hash": _spec_hash(cfg.pattern_bank.spec()),
        "transform_hash": _spec_hash(tspec),
        "n_buckets": cfg.n_buckets,
        "input_path": _input_address(cfg.input_path),
        "dedup_strategy": cfg.dedup_strategy,
        "salt": cfg.salt,
        "parse_partitions": effective_parse_partitions,
        "routed_format": cfg.routed_format,
        "parse_prefilter": cfg.parse_prefilter,
    }


def _write_marker(cfg: PipelineConfig, name: str, payload: dict) -> None:
    """Atomically write ``_progress/<name>`` (tmp file + rename): a reader
    sees the whole marker or none of it."""
    d = _progress_dir(cfg)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{name}.tmp")
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.rename(tmp, os.path.join(d, name))


def _validate_or_reset_progress(
    cfg: PipelineConfig, effective_parse_partitions: int
) -> None:
    """E2 semantics (edit the bank, re-run): a config/input change makes every
    committed bucket stale, so the whole out_dir is invalidated and recomputed
    (the reference's idempotent full recompute). Same fingerprint -> resume,
    and the manifest is left as it is."""
    fp = _run_fingerprint(cfg, effective_parse_partitions)
    manifest = os.path.join(_progress_dir(cfg), "manifest.json")
    if os.path.exists(manifest):
        try:
            with open(manifest) as f:
                old = json.load(f)
        except (json.JSONDecodeError, OSError):
            old = None
        if old == fp:
            return
        print(
            f"pipeline config changed (was {old}, now {fp}): "
            f"invalidating {cfg.out_dir} for full recompute",
            file=sys.stderr,
        )
        reset_output(cfg)
    _write_marker(cfg, "manifest.json", fp)


def _committed_buckets(cfg: PipelineConfig) -> set[int]:
    d = _progress_dir(cfg)
    if not os.path.isdir(d):
        return set()
    return {
        int(fn[len("bucket_"):-len(".json")])
        for fn in os.listdir(d)
        if fn.startswith("bucket_") and fn.endswith(".json")
    }


def _is_published(cfg: PipelineConfig) -> bool:
    """The publish marker is present and every final aggregate table exists."""
    return os.path.exists(os.path.join(_progress_dir(cfg), PUBLISHED_MARKER)) and all(
        os.path.isdir(os.path.join(cfg.out_dir, "aggregates", t)) for t in AGGREGATE_TABLES
    )


def _check_config(cfg: PipelineConfig) -> None:
    """Reject bad enum values before anything touches out_dir: a changed
    value also changes the run fingerprint, so a later failure would come
    only after the reset had deleted every committed bucket."""
    for name, allowed in (
        ("dedup_strategy", DEDUP_STRATEGIES),
        ("routed_format", ROUTED_FORMATS),
    ):
        value = getattr(cfg, name)
        if value not in allowed:
            raise ValueError(f"{name} must be one of {allowed}, got {value!r}")


def run_pipeline(spark: SparkSession, cfg: PipelineConfig) -> dict:
    t0 = time.monotonic()
    _check_config(cfg)
    # the markers, metrics.json and the reset use os.* calls, which would
    # read a file: URI as a path relative to the driver's working
    # directory; the bare path names the same place for Spark's writes
    cfg = replace(cfg, out_dir=_local_path(cfg.out_dir))
    bank = cfg.pattern_bank
    _validate_or_reset_progress(cfg, _parse_partitions(spark, cfg))
    committed = _committed_buckets(cfg)
    metrics: dict = {"buckets": {}, "bank_version": bank.version}

    src = None  # source and dims are built at the first uncommitted bucket
    done = 0
    for k in range(cfg.n_buckets):
        if k in committed:
            metrics["buckets"][k] = "resumed"
            continue
        if src is None:
            # the published aggregates go stale once a bucket is rewritten:
            # drop the marker first, so a crash from here on re-publishes
            published = os.path.join(_progress_dir(cfg), PUBLISHED_MARKER)
            if os.path.exists(published):
                os.remove(published)
            bdim = bank_dim(spark, bank)
            role_dim = tool_dim = None
            if cfg.role_dim_path:
                role_dim = read_dim(spark, cfg.role_dim_path, ROLE_DIM_SCHEMA)
            if cfg.tool_dim_path:
                tool_dim = read_dim(spark, cfg.tool_dim_path, TOOL_DIM_SCHEMA)
            src = read_transcripts(spark, cfg.input_path)
        bucket_src = src.filter(
            F.pmod(F.xxhash64("conv_id"), F.lit(cfg.n_buckets)) == k
        )
        m = _run_bucket(
            spark, cfg, bucket_src, bank, cfg.transform_bank, bdim, role_dim, tool_dim, k
        )
        _write_marker(cfg, f"bucket_{k}.json", m)  # atomic bucket commit
        metrics["buckets"][k] = m
        done += 1
        if cfg.fail_after_buckets is not None and done >= cfg.fail_after_buckets:
            raise InjectedFailure(f"injected failure after {done} buckets")

    if _is_published(cfg):
        metrics["publish"] = "skipped"
    else:
        _publish(spark, cfg)
        _write_marker(cfg, PUBLISHED_MARKER, {"buckets": list(range(cfg.n_buckets))})
        metrics["publish"] = "ran"
    metrics["wall_sec"] = time.monotonic() - t0
    with open(os.path.join(cfg.out_dir, "metrics.json"), "w") as f:
        json.dump(metrics, f, indent=2, default=str)
    return metrics


def build_turns_plan(
    spark: SparkSession,
    cfg: PipelineConfig,
    bucket_src: DataFrame,
    bank: PatternBank,
    tbank: TransformBank | None,
    role_dim: DataFrame | None,
    tool_dim: DataFrame | None,
) -> DataFrame:
    """The expensive subtree of a bucket as a LAZY DataFrame: one explicit
    (conv_id, turn_idx) exchange feeding dedup -> fused parse/normalize ->
    enrich. Shared by _run_bucket and scripts/plan_snapshots.py so plan
    drift (a lost fusion, an extra shuffle) fails the snapshot check."""
    n_parse = _parse_partitions(spark, cfg)
    if n_parse > 0:
        # pre-dedup: the dedup groupBy reuses this exchange (its clustering
        # requirement is exactly these keys), so no second shuffle follows
        bucket_src = bucket_src.repartition(n_parse, "conv_id", "turn_idx")
    turns = stable_order_dedup(bucket_src, strategy=cfg.dedup_strategy)
    # provenance: the physical partition each turn was parsed in
    turns = turns.withColumn("src_partition_id", F.spark_partition_id())
    # fused O7 normalize + O4 extract: ONE Python crossing per turn. The
    # per-turn sink (text/norm_text/spans once per turn) is the only output
    # the expensive stage writes; routing and every aggregate derive from
    # column-pruned read-backs of it — parse never re-runs, and no span
    # fan-out ever duplicates text bytes (the earlier per-span-row layout
    # measured ~40% slower end-to-end at 3.4M turns).
    pn = make_parse_normalize_udf(bank, tbank)
    pre = None
    if cfg.parse_prefilter:
        from logparserhelper_spark.operators.prefilter import bank_prefilter_regex

        pre = bank_prefilter_regex(bank, tbank)
    if pre is not None:
        # JVM rlike prefilter (operators/prefilter.py): the regex is a
        # provable SUPERSET of "any pattern/transform fires", so rows it
        # rejects are bit-equal to the UDF's identity output and skip the
        # Arrow crossing + Python re entirely — the win is proportional to
        # the corpus miss rate (4 of 6 reference corpora are all-miss).
        # Both branches filter the SAME exchange output (ReusedExchange),
        # so the source is still scanned/shuffled once.
        hit_cond = F.col("text").isNotNull() & F.col("text").rlike(pre)
        hits = turns.filter(hit_cond).withColumn("_pn", pn(F.col("text")))
        misses = turns.filter(~F.coalesce(hit_cond, F.lit(False))).withColumn(
            "_pn",
            F.struct(
                F.col("text").alias("norm_text"),
                F.array().cast(SPAN_ARRAY_TYPE).alias("spans"),
            ),
        )
        turns = hits.unionByName(misses)
    else:
        turns = turns.withColumn("_pn", pn(F.col("text")))
    turns = turns.select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
        "src_partition_id",
        F.col("_pn.norm_text").alias("norm_text"),
        F.col("_pn.spans").alias("spans"),
    ).withColumn("n_spans", F.size("spans")).withColumn(
        "bank_version", F.lit(bank.version)
    )
    turns = enrich(turns, role_dim, tool_dim)
    # stable output schema whether or not enrich dims were supplied
    enrich_types = {
        "role_kind": "string",
        "is_human": "boolean",
        "tool_family": "string",
        "is_side_effecting": "boolean",
    }
    for c, t in enrich_types.items():
        if c not in turns.columns:
            turns = turns.withColumn(c, F.lit(None).cast(t))
    return turns


def build_routed_plan(back: DataFrame, bdim: DataFrame) -> DataFrame:
    """Multicast routing subtree over the turns read-back: explode spans
    (null row for unmatched), broadcast bank-dim join — shuffle-free."""
    dim = bdim.select("pattern_id", "pattern_name", "sink", "color")
    return (
        back.select(
            "conv_id", "turn_idx", "role", "tool", "ts",
            "src_partition_id", "bank_version",
            F.explode_outer("spans").alias("_s"),
        )
        .select(
            "conv_id", "turn_idx", "role", "tool", "ts",
            "src_partition_id", "bank_version",
            F.col("_s.pattern_id").alias("pattern_id"),
            F.col("_s.start").alias("start"),
            F.col("_s.end").alias("end"),
            F.col("_s.match").alias("match"),
        )
        .join(F.broadcast(dim), "pattern_id", "left")
        .withColumn("sink", F.coalesce(F.col("sink"), F.lit("unmatched")))
    )


def _run_bucket(
    spark: SparkSession,
    cfg: PipelineConfig,
    bucket_src: DataFrame,
    bank: PatternBank,
    tbank: TransformBank | None,
    bdim: DataFrame,
    role_dim: DataFrame | None,
    tool_dim: DataFrame | None,
    k: int,
) -> dict:
    turns_dir = os.path.join(cfg.out_dir, "turns", f"bucket={k}")
    routed_dir = os.path.join(cfg.out_dir, "routed", f"bucket={k}")
    lineage_dir = os.path.join(cfg.out_dir, "lineage", f"bucket={k}")
    rejected_dir = os.path.join(cfg.out_dir, "rejected", f"bucket={k}")

    # quarantine malformed rows (null ordering keys) instead of crashing or
    # silently dropping — the pipeline analogue of the reference's
    # degrade-don't-fail bank loading (utils/json_utils.py:10-18). text may
    # be null (parses to no spans); the ordering keys may not. The malformed
    # COUNT rides the main pass via observe(); the quarantine write (a
    # second input scan) only runs when something was actually malformed —
    # clean inputs, the common case, pay nothing.
    malformed_cond = (
        F.col("conv_id").isNull()
        | F.col("turn_idx").isNull()
        | F.col("role").isNull()
        | F.col("ts").isNull()
    )
    bucket_src_raw = bucket_src  # un-observed: the conditional quarantine
    # write below must not re-trigger the observation
    mal_obs = Observation(f"malformed_{k}")
    bucket_src = bucket_src.observe(
        mal_obs,
        F.sum(F.when(malformed_cond, 1).otherwise(0)).alias("n_malformed"),
    ).filter(~malformed_cond)

    turns = build_turns_plan(
        spark, cfg, bucket_src, bank, tbank, role_dim, tool_dim
    )

    obs = Observation(f"bucket_{k}")
    turns = turns.observe(
        obs,
        F.count(F.lit(1)).alias("turns_in"),
        F.sum("n_spans").alias("span_rows"),
        F.approx_count_distinct("conv_id").alias("n_convs"),  # observe() forbids DISTINCT
    )
    turns.write.mode("overwrite").parquet(turns_dir)
    # sum() observes NULL on an empty bucket
    ometrics = {kk: int(vv) if vv is not None else 0 for kk, vv in obs.get.items()}
    try:
        n_malformed = int(mal_obs.get.get("n_malformed") or 0)
    except Exception:
        # with two observe() nodes in one query, the earlier one's metrics
        # row is not registered when the plan degenerates to empty — fall
        # back to an explicit (cheap, empty-input) scan
        n_malformed = bucket_src_raw.filter(malformed_cond).count()
    ometrics["n_malformed"] = n_malformed
    if n_malformed > 0:
        bucket_src_raw.filter(malformed_cond).write.mode("overwrite").parquet(
            rejected_dir
        )
    elif os.path.isdir(rejected_dir):
        # idempotence: a clean re-run must not leave a stale quarantine from
        # a prior uncommitted attempt (re-runs overwrite byte-equivalently)
        shutil.rmtree(rejected_dir)

    # everything below is derived from column-pruned read-backs of turns_dir;
    # the plan's own schema spares a job that would read it from a footer
    back = spark.read.schema(turns.schema).parquet(turns_dir)

    routed = build_routed_plan(back, bdim)
    lineage = (
        back.groupBy("src_partition_id", "bank_version")
        .agg(
            F.count(F.lit(1)).alias("rows_in"),
            F.sum("n_spans").alias("rows_matched"),
            F.sum(F.greatest("n_spans", F.lit(1))).alias("rows_routed"),
        )
        .withColumn("bucket", F.lit(k))
    )
    # routed and lineage are independent read-back jobs over turns_dir, run
    # concurrently. The bucket still commits atomically: the progress marker
    # lands only after both finish.
    if cfg.routed_format == "table":
        # production sink shape: ONE snapshot table partitioned by
        # (bucket, sink); this bucket's commit is a REPLACE-partitions
        # snapshot, so a replayed bucket converges and a mid-write death
        # leaves the table at its previous snapshot (commit-or-nothing) —
        # the Iceberg overwritePartitions contract, via the shim.
        from logparserhelper_spark.sinks.hadoop_table import HadoopTable

        routed_table_loc = os.path.join(cfg.out_dir, "routed_table")

        def _routed_write() -> None:
            # scope=bucket: a REPLAY first clears every (bucket=k, sink=*)
            # partition, so an attempt that lands fewer sinks than the
            # previous one cannot leave the previous attempt's stale
            # partitions live (bucket output is deterministic under the
            # run fingerprint, but the commit no longer relies on that)
            HadoopTable(spark, routed_table_loc).replace_partitions(
                routed.withColumn("bucket", F.lit(k)),
                ["bucket", "sink"],
                scope={"bucket": k},
            )

    else:

        def _routed_write() -> None:
            routed.write.mode("overwrite").partitionBy("sink").parquet(routed_dir)

    _run_concurrently([_routed_write, lambda: lineage.write.mode("overwrite").parquet(lineage_dir)])
    return ometrics


def _run_concurrently(jobs) -> None:
    """Submit independent Spark jobs from threads, so one job's tasks
    back-fill another's tail (on a cluster, the FAIR-pool pattern);
    re-raises the first failure, so a failed bucket is not marked."""
    with ThreadPoolExecutor(max_workers=len(jobs)) as ex:
        for f in [ex.submit(j) for j in jobs]:
            f.result()


def _publish(spark: SparkSession, cfg: PipelineConfig) -> None:
    """Write the final aggregates from the committed turns of every bucket,
    a column-pruned JVM-only scan. Counts sum across buckets and a
    conversation lives in exactly one bucket, so one pass over all turns
    equals merging per-bucket results."""
    out = os.path.join(cfg.out_dir, "aggregates")
    turns = spark.read.schema(PUBLISH_TURNS_SCHEMA).parquet(os.path.join(cfg.out_dir, "turns"))

    def _freq() -> None:
        freq = sink_pattern_freq_from_turns(turns, bank_dim(spark, cfg.pattern_bank))
        freq.coalesce(1).write.mode("overwrite").parquet(os.path.join(out, "sink_pattern_freq"))

    def _rollup() -> None:
        cr = conv_rollup_from_turns(turns, salt=cfg.salt)
        cr.write.mode("overwrite").parquet(os.path.join(out, "conv_rollup"))
        # kept as its own table for output-contract stability; derived from
        # the just-written conv_rollup (a pruned 3-column read-back) instead
        # of aggregating the turns a second time
        (
            spark.read.schema(cr.schema)
            .parquet(os.path.join(out, "conv_rollup"))
            .select("conv_id", "n_spans", "n_matched_turns")
            .write.mode("overwrite")
            .parquet(os.path.join(out, "conv_match_rollup"))
        )

    _run_concurrently([_freq, _rollup])


def reset_output(cfg: PipelineConfig) -> None:
    if os.path.isdir(cfg.out_dir):
        shutil.rmtree(cfg.out_dir)


if __name__ == "__main__":
    import argparse

    from logparserhelper_spark.datagen import generate_transcripts
    from logparserhelper_spark.session import build_session

    p = argparse.ArgumentParser()
    p.add_argument("--scale", default=None, help="generate synthetic input at this scale")
    p.add_argument("--input", default=None, help="existing transcripts dir/path")
    p.add_argument("--out", required=True)
    p.add_argument("--buckets", type=int, default=4)
    p.add_argument("--parallelism", type=int, default=None)
    p.add_argument("--fresh", action="store_true")
    a = p.parse_args()

    if a.input is None:
        if a.scale is None:
            p.error("--scale or --input required")
        a.input = generate_transcripts(f"/tmp/lph_data_{a.scale}", a.scale)

    spark = build_session(parallelism=a.parallelism, app_name="lph-pipeline")
    cfg = PipelineConfig(
        input_path=a.input,
        out_dir=a.out,
        transform_bank=default_transform_bank(),
        role_dim_path=os.path.join(a.input, "role_dim.parquet"),
        tool_dim_path=os.path.join(a.input, "tool_dim.parquet"),
        n_buckets=a.buckets,
    )
    if a.fresh:
        reset_output(cfg)
    m = run_pipeline(spark, cfg)
    print(json.dumps(m, default=str))
    spark.stop()
