"""Physical-plan snapshots for the most expensive queries.

``python scripts/plan_snapshots.py``          — (re)write BENCH/plans/*.txt
``python scripts/plan_snapshots.py --check``  — diff current plans against
the committed snapshots and exit 1 on drift (a lost broadcast, a new
shuffle, a join strategy flip). Plans are normalized (exprIds, plan ids,
codegen ids, absolute paths stripped) so only STRUCTURAL changes show up.

Snapshots are taken at a fixed sf (sf0.01) so scan arguments stay constant
across rounds.
"""

from __future__ import annotations

import argparse
import difflib
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = "/root/testdata/sf0.01"
PLANS_DIR = os.path.join(REPO, "BENCH", "plans")

# the expensive / regression-prone plans (judge-audited set + flagship)
SNAPSHOT_QUERIES = [
    "doc_pattern_coverage",
    "top_customers",
    "minhash_lsh_pairs",
    "ngram_top_similar",
    "embedding_topk",
    "embedding_near_dup",
    "lsh_topk",
    "asof_purchase_last_view",
    "contamination",
    "char_lm_quality",
    # round-5 extra with a regression-prone join plan (resolved from
    # EXTRA_QUERIES): the doc-frequency join must stay partial-aggregated
    # on both branches
    "duplicated_ngram_spans",
]

_NORMALIZERS = [
    (re.compile(r"#\d+"), "#N"),               # exprIds
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id : N]"),
    (re.compile(r"file:[^\],\s]*"), "file:PATH"),
    (re.compile(r"Location: \S+"), "Location: PATH"),
    (re.compile(r"cteId=\d+"), "cteId=N"),
    (re.compile(r"MapPartitionsRDD\[\d+\]"), "MapPartitionsRDD[N]"),
    (re.compile(r"statsEstimate=\S+"), "stats=N"),
]


def normalize(plan: str) -> str:
    for rx, repl in _NORMALIZERS:
        plan = rx.sub(repl, plan)
    return plan


def formatted_plan(spark, df) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def _pipeline_plans(spark) -> dict[str, "object"]:
    """The flagship job's two regression-prone subtrees as LAZY DataFrames
    (shared builders with _run_bucket): the single-exchange fused
    parse stage and the broadcast-join routing stage. Tiny deterministic
    input under /tmp keeps scan arguments stable."""
    from pyspark.sql import functions as F

    from logparserhelper_spark.datagen import generate_transcripts
    from logparserhelper_spark.operators.enrich import bank_dim
    from logparserhelper_spark.pipeline import (
        PipelineConfig,
        build_routed_plan,
        build_turns_plan,
    )
    from logparserhelper_spark.sources.transcripts import read_transcripts

    data_dir = "/tmp/plan_snap_pipeline"
    generate_transcripts(data_dir, scale="tiny")
    cfg = PipelineConfig(
        input_path=os.path.join(data_dir, "transcripts.parquet"),
        out_dir="/tmp/plan_snap_pipeline_out",
        parse_partitions=16,
    )
    src = read_transcripts(spark, cfg.input_path)
    bucket_src = src.filter(
        F.pmod(F.xxhash64("conv_id"), F.lit(cfg.n_buckets)) == 0
    )
    turns = build_turns_plan(
        spark, cfg, bucket_src, cfg.pattern_bank, cfg.transform_bank, None, None
    )
    turns_dir = os.path.join(cfg.out_dir, "turns_snapshot")
    turns.write.mode("overwrite").parquet(turns_dir)
    back = spark.read.schema(turns.schema).parquet(turns_dir)
    routed = build_routed_plan(back, bank_dim(spark, cfg.pattern_bank))
    return {"transcript_pipeline_turns": turns, "transcript_pipeline_routed": routed}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--check", action="store_true")
    args = ap.parse_args()

    from logparserhelper_spark.plans.contract_queries import (
        EXTRA_QUERIES,
        QUERIES,
    )
    from logparserhelper_spark.session import build_session

    spark = build_session(parallelism=8, app_name="plan_snapshots", shuffle_partitions=16)
    drift = 0
    os.makedirs(PLANS_DIR, exist_ok=True)
    pipeline_dfs = _pipeline_plans(spark)
    targets = [(n, None) for n in SNAPSHOT_QUERIES] + [
        (n, df) for n, df in pipeline_dfs.items()
    ]
    for name, pre_built in targets:
        if pre_built is not None:
            df = pre_built
        else:
            fn = QUERIES.get(name) or EXTRA_QUERIES[name]
            df = fn(spark, SF_DIR)
        plan = normalize(formatted_plan(spark, df))
        path = os.path.join(PLANS_DIR, f"{name}.txt")
        if args.check:
            if not os.path.exists(path):
                print(f"MISSING snapshot for {name} — run without --check")
                drift += 1
                continue
            with open(path) as f:
                old = f.read()
            if old != plan:
                drift += 1
                print(f"PLAN DRIFT in {name}:")
                sys.stdout.writelines(
                    difflib.unified_diff(
                        old.splitlines(keepends=True),
                        plan.splitlines(keepends=True),
                        fromfile=f"committed/{name}",
                        tofile=f"current/{name}",
                    )
                )
            else:
                print(f"ok    {name}")
        else:
            with open(path, "w") as f:
                f.write(plan)
            print(f"wrote {path}")
    spark.stop()
    if args.check and drift:
        print(f"{drift} plan(s) drifted")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
