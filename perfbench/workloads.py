"""The benchmark's workloads and the layer ladder of its traced runs.

Each workload is a closed loop with one caller on ``local[nproc/2]``: the
next operation starts only after the previous one returned and its output
was checked. Both report the same end-to-end metrics:

- ``turns_per_s``: input turns over the median wall of the calls that
  yield the complete result: one uninterrupted ``run_pipeline``
  (pipeline_mixed); the run that fails halfway plus the run that resumes
  it (pipeline_resume_table);
- ``resume_s``: median wall of the ``run_pipeline`` call that resumes a
  job whose committed buckets are on disk: after the injected failure at
  half the buckets (pipeline_resume_table); over the one committed bucket
  of the run just finished, i.e. fingerprint check, marker read and
  publish (pipeline_mixed);
- ``out_bytes_per_in_byte``: bytes under ``out_dir`` after the last
  operation over the bytes of the input parquet.

The traced run times the benchmark's own calls into each layer's public
functions (the package is not instrumented) and reports every per-layer
metric on both workloads; the contract queries and the streaming path run
as probes of their own, over a star schema and a small corpus made from the
same seed.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import replace

import pandas as pd
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from logparserhelper_spark.banks import get_compiled_bank, get_compiled_transforms
from logparserhelper_spark.defaults import default_pattern_bank, default_transform_bank
from logparserhelper_spark.operators.aggregate import (
    conv_rollup_from_turns,
    sink_pattern_freq_from_turns,
)
from logparserhelper_spark.operators.enrich import bank_dim
from logparserhelper_spark.operators.extract import normalize_batch_with_span_knowledge
from logparserhelper_spark.operators.ordering import stable_order_dedup
from logparserhelper_spark.pipeline import (
    InjectedFailure,
    PipelineConfig,
    build_routed_plan,
    build_turns_plan,
    reset_output,
    run_pipeline,
)
from logparserhelper_spark.sinks.hadoop_table import HadoopTable
from logparserhelper_spark.sources.transcripts import (
    TRANSCRIPT_SCHEMA,
    read_dim,
    read_transcripts,
)
from logparserhelper_spark.streaming.parse_stream import stream_parse_route
from logparserhelper_spark.streaming.sink import committed_batches, exactly_once_parquet_sink

from perfbench import inputs, oracles, sysprobe

# the headline contract queries (the slice bench.py times)
QUERY_NAMES = [
    "doc_pattern_coverage", "doc_route_counts", "pricing_summary",
    "top_customers", "regional_revenue", "top_suppliers_per_nation",
    "sessionization", "event_type_stats", "minhash_lsh_pairs",
    "ngram_top_similar", "quality_score", "embedding_topk",
]
STREAM_BATCHES = 8  # micro-batches (one file each) in the streaming probe's timed stream
STREAM_FILE_TURNS = 1000  # turns per streamed file
MIN_ITERS = 3  # a median needs at least three operations
# operations run and checked after set-up but not timed: the driver JVM is
# still compiling the planner code every call runs, so the first operation
# is a cold outlier whose wall depends on how far that got
UNTIMED_OPS = 1
MAX_FAILED = 3  # stop looping once this many operations failed


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _identity(s: pd.Series) -> pd.Series:
    return s


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) under path."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def _sink_counts(path: str) -> dict[str, int]:
    """Rows per ``sink`` value of a hive-partitioned parquet directory."""
    col = ds.dataset(path, partitioning="hive").to_table(columns=["sink"]).column("sink")
    return {r["values"]: r["counts"] for r in pc.value_counts(col).to_pylist()}


def _diff(what: str, got, want) -> list[str]:
    return [] if got == want else [f"{what}: got {got} want {want}"]


class Harness:
    """Shared state of one benchmark run: the session, the tracer, the work
    directory and the attempted/failed operation counts."""

    def __init__(self, work: str, tracer, spark=None):
        self.work = work
        self.tracer = tracer
        self.spark = spark
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def fresh(self, *parts: str) -> str:
        p = self.path(*parts)
        shutil.rmtree(p, ignore_errors=True)
        return p

    def attempt(self, what: str, fn) -> None:
        """Runs one operation and its output check; ``fn`` returns the list
        of failed checks. Raising or failing a check counts as failed."""
        self.attempted += 1
        try:
            problems = fn()
        except Exception as e:  # noqa: BLE001 - a failed operation is data
            traceback.print_exc(file=sys.stderr)
            problems = [f"{what} raised {type(e).__name__}: {e}"]
        if problems:
            self.failed += 1
            self.failures.extend(problems[:5])

    def repeat(
        self, seconds: float, what: str, op, min_iters: int = MIN_ITERS, untimed: int = 0
    ) -> dict[str, list[float]]:
        """Closed loop: runs ``op`` (returning its named walls and its failed
        checks) ``untimed`` times, checked but not timed, then for
        ``seconds``, at least ``min_iters`` times; returns, per name and as
        ``total``, the walls of the timed operations that did not raise."""
        walls: dict[str, list[float]] = {}

        def one() -> list[str]:
            named, problems = op()
            for k, v in {**named, "total": sum(named.values())}.items():
                walls.setdefault(k, []).append(v)
            return problems

        for _ in range(untimed):
            self.attempt(f"untimed {what}", lambda: op()[1])
        t_end = time.monotonic() + seconds
        n = 0
        while (n < min_iters or time.monotonic() < t_end) and self.failed < MAX_FAILED:
            self.attempt(what, one)
            n += 1
        return walls

    @contextmanager
    def timed(self, name: str, layer: str, parent: int | None = None):
        """Times one call into a layer: a span when tracing, and a job
        description so Spark's event log folds the jobs under ``name``."""
        sc = self.spark.sparkContext
        sc.setJobDescription(f"perfbench:{name}")
        box: dict = {}
        t0 = time.monotonic()
        try:
            with self.tracer.span(name, layer, parent) as sid:
                box["sid"] = sid
                yield box
        finally:
            box["s"] = time.monotonic() - t0
            sc.setJobDescription(None)


# --- shared layer probes ---------------------------------------------------


BANK_SAMPLE = 50_000  # texts the L0 probe runs over


def bank_layers(texts: list[str], bank, tbank) -> dict:
    """L0: the compiled bank and the skip-aware normalize in plain Python,
    one process, over the workload's own texts (at most ``BANK_SAMPLE``
    of them, evenly spaced), in Arrow-batch-sized chunks."""
    texts = texts[:: max(1, len(texts) // BANK_SAMPLE)][:BANK_SAMPLE]
    spec, tspec = bank.spec(), tbank.spec()
    cb, ct = get_compiled_bank(spec), get_compiled_transforms(tspec)
    chunk = 20000
    spans: list = []
    t0 = time.monotonic()
    for i in range(0, len(texts), chunk):
        spans.extend(cb.extract_batch(texts[i:i + chunk]))
    t_extract = time.monotonic() - t0
    t0 = time.monotonic()
    for i in range(0, len(texts), chunk):
        normalize_batch_with_span_knowledge(texts[i:i + chunk], spans[i:i + chunk], spec, ct)
    t_norm = time.monotonic() - t0
    n = len(texts)
    return {
        "banks.extract_rows_per_s": n / t_extract,
        "banks.normalize_rows_per_s": n / t_norm,
        "banks.matched_row_ratio": sum(1 for s in spans if s) / n,
        "banks.spans_per_row": sum(len(s) for s in spans) / n,
    }


def _return_bytes_per_row(turns_dir: str) -> float:
    """Bytes the parse UDF returns per row: norm_text plus the span fields
    (three int32 and the match string), counted from the written turns."""
    t = ds.dataset(turns_dir, partitioning="hive").to_table(columns=["norm_text", "spans"])
    flat = pc.list_flatten(t.column("spans"))
    total = pc.sum(pc.binary_length(t.column("norm_text"))).as_py() or 0
    total += 12 * len(flat) + (pc.sum(pc.binary_length(pc.struct_field(flat, "match"))).as_py() or 0)
    return total / max(1, t.num_rows)


# --- pipeline workloads ----------------------------------------------------


class _PipelineWorkload:
    turns = 0
    n_buckets = 1
    routed_format = "parquet"

    def __init__(self, h: Harness):
        self.h = h
        self.bank = default_pattern_bank()
        self.tbank = default_transform_bank()

    def cfg(self, corpus_dir: str, out_dir: str, **kw) -> PipelineConfig:
        kw = {"n_buckets": self.n_buckets, "routed_format": self.routed_format, **kw}
        return PipelineConfig(
            input_path=corpus_dir,
            out_dir=out_dir,
            transform_bank=self.tbank,
            role_dim_path=os.path.join(corpus_dir, "role_dim.parquet"),
            tool_dim_path=os.path.join(corpus_dir, "tool_dim.parquet"),
            **kw,
        )

    def prepare(self, seed: int) -> dict:
        self.seed = seed
        self.corpus = inputs.corpus(self.h.path("inputs"), seed, self.turns)
        self.expected, oracle_s = oracles.pipeline_expected(self.corpus["dir"], self.bank)
        self.main = self.cfg(self.corpus["dir"], self.h.path("out", self.name))
        return {"input": self.corpus, "oracle_s": oracle_s}

    def _freq(self, out_dir: str) -> list[list]:
        freq = pq.read_table(os.path.join(out_dir, "aggregates", "sink_pattern_freq"))
        return sorted(
            ([r["sink"], r["pattern_id"], r["pattern_name"], r["n_matches"], r["n_turns"]]
             for r in freq.to_pylist()),
            key=lambda r: (r[0], -1 if r[1] is None else r[1]),
        )

    def _check_output(self, out_dir: str) -> list[str]:
        return _diff("sink_pattern_freq", self._freq(out_dir), self.expected["freq"]) + _diff(
            "routed rows per sink", self._routed_counts(out_dir), self.expected["routed_rows"]
        )

    def _routed_counts(self, out_dir: str) -> dict[str, int]:
        return _sink_counts(os.path.join(out_dir, "routed"))

    def out_bytes_per_in_byte(self) -> float:
        return _dir_stats(self.main.out_dir)[0] / self.corpus["bytes"]

    # -- traced run ---------------------------------------------------------

    def _phases(self, cfg: PipelineConfig, root: str) -> dict:
        """Replays run_pipeline's phases per bucket through the public
        functions: L3 parse + turns write, then L4, the routed, freq, rollup
        and lineage derivations over the read-back, submitted concurrently
        as run_pipeline does."""
        h, spark = self.h, self.h.spark
        bdim = bank_dim(spark, cfg.pattern_bank)
        role_dim, tool_dim = read_dim(spark, cfg.role_dim_path), read_dim(spark, cfg.tool_dim_path)
        src = read_transcripts(spark, cfg.input_path)
        walls: dict[str, list[float]] = {"parse_write": [], "readback": []}
        for k in range(cfg.n_buckets):
            bsrc = src.filter(F.pmod(F.xxhash64("conv_id"), F.lit(cfg.n_buckets)) == k)
            turns_dir = os.path.join(root, "turns", f"bucket={k}")
            with h.timed("pipeline.parse_write", "pipeline") as t:
                build_turns_plan(
                    spark, cfg, bsrc, cfg.pattern_bank, cfg.transform_bank, role_dim, tool_dim
                ).write.mode("overwrite").parquet(turns_dir)
            walls["parse_write"].append(t["s"])
            back = spark.read.parquet(turns_dir)
            lineage = back.groupBy("src_partition_id", "bank_version").agg(
                F.count(F.lit(1)).alias("rows_in"),
                F.sum("n_spans").alias("rows_matched"),
                F.sum(F.greatest("n_spans", F.lit(1))).alias("rows_routed"),
            )
            with h.timed("pipeline.readback", "pipeline") as rb:
                routed = build_routed_plan(back, bdim)

                def routed_write(k=k, routed=routed):
                    with h.timed("sinks.routed_commit", "sinks", rb["sid"]):
                        if cfg.routed_format == "table":
                            HadoopTable(spark, os.path.join(root, "routed_table")).replace_partitions(
                                routed.withColumn("bucket", F.lit(k)), ["bucket", "sink"],
                                scope={"bucket": k},
                            )
                        else:
                            routed.write.mode("overwrite").partitionBy("sink").parquet(
                                os.path.join(root, "routed", f"bucket={k}")
                            )

                def job(name, layer, df, k=k):
                    def run():
                        with h.timed(name, layer, rb["sid"]):
                            df.write.mode("overwrite").parquet(os.path.join(root, name, f"bucket={k}"))
                    return run

                jobs = [
                    routed_write,
                    job("aggregate.freq", "aggregate", sink_pattern_freq_from_turns(back, bdim)),
                    job("aggregate.rollup", "aggregate", conv_rollup_from_turns(back, salt=cfg.salt)),
                    job("pipeline.lineage", "pipeline", lineage),
                ]
                with ThreadPoolExecutor(max_workers=len(jobs)) as ex:
                    for f in [ex.submit(j) for j in jobs]:
                        f.result()
            walls["readback"].append(rb["s"])
        return walls

    def _layers(self, run_wall: float) -> dict:
        """The layer ladder over this workload's input; ``run_wall`` is the
        untraced wall of one uninterrupted run_pipeline call."""
        h, spark, cfg = self.h, self.h.spark, self.main
        out: dict = {}
        texts = pq.read_table(
            os.path.join(cfg.input_path, "transcripts.parquet"), columns=["text"]
        ).column("text").to_pylist()
        with h.tracer.span("banks.l0", "banks"):
            out.update(bank_layers(texts, cfg.pattern_bank, cfg.transform_bank))
        src = read_transcripts(spark, cfg.input_path)
        part = src.repartition(spark.sparkContext.defaultParallelism * 2, "conv_id", "turn_idx")
        with h.timed("sources.scan", "sources") as t:
            noop(src)
        out["sources.scan_s"] = t["s"]
        ident = F.pandas_udf(_identity, "string")
        with h.timed("extract.crossing", "extract") as t:
            noop(part.select(ident(F.col("text")).alias("text")))
        out["extract.crossing_s"] = t["s"]
        with h.timed("ordering.dedup", "ordering") as t:
            noop(stable_order_dedup(part))
        out["ordering.dedup_s"] = t["s"]
        out["ordering.rows_dropped"] = self.corpus["rows"] - self.expected["turns"]
        role_dim, tool_dim = read_dim(spark, cfg.role_dim_path), read_dim(spark, cfg.tool_dim_path)
        spark.profile.clear()
        with h.timed("extract.parse_stage", "extract") as t:
            noop(build_turns_plan(spark, cfg, src, cfg.pattern_bank, cfg.transform_bank,
                                  role_dim, tool_dim))
        out["extract.parse_stage_s"] = t["s"]
        out["extract.udf_body_s"] = sysprobe.udf_body_s(spark, h.fresh("udf_profile"))

        root = h.fresh("phases")
        walls = self._phases(cfg, root)
        out["pipeline.parse_write_s"] = sum(walls["parse_write"])
        out["pipeline.readback_s"] = sum(walls["readback"])
        out["extract.return_bytes_per_row"] = _return_bytes_per_row(os.path.join(root, "turns"))
        back = spark.read.parquet(os.path.join(root, "turns", "bucket=0"))
        bdim = bank_dim(spark, cfg.pattern_bank)
        routed = build_routed_plan(back, bdim)
        for name, layer, df in (
            ("pipeline.routed_write", "pipeline", routed),
            ("aggregate.freq", "aggregate", sink_pattern_freq_from_turns(back, bdim)),
            ("aggregate.rollup", "aggregate", conv_rollup_from_turns(back, salt=cfg.salt)),
        ):
            with h.timed(name, layer) as t:
                df.write.mode("overwrite").parquet(os.path.join(root, "alone", name))
            out[f"{name}_s"] = t["s"]
        # one bucket's routed rows committed to the snapshot table, whatever
        # the workload's own routed format
        with h.timed("sinks.table_commit", "sinks") as t:
            HadoopTable(spark, os.path.join(root, "alone", "routed_table")).replace_partitions(
                routed.withColumn("bucket", F.lit(0)), ["bucket", "sink"], scope={"bucket": 0}
            )
        out["sinks.table_commit_s"] = t["s"]
        # L5: a rerun over the committed out_dir is fingerprint check + publish
        with h.timed("pipeline.publish", "pipeline") as t:
            run_pipeline(spark, cfg)
        out["pipeline.publish_s"] = t["s"]
        phases = out["pipeline.parse_write_s"] + out["pipeline.readback_s"] + t["s"]
        out["pipeline.phase_coverage"] = phases / run_wall
        out["pipeline.bucket_overhead_s"] = (run_wall - phases) / cfg.n_buckets

        turns_bytes = _dir_stats(os.path.join(cfg.out_dir, "turns"))[0]
        routed_dir = "routed_table" if cfg.routed_format == "table" else "routed"
        routed_bytes = _dir_stats(os.path.join(cfg.out_dir, routed_dir))[0]
        out["sinks.turns_bytes_per_turn"] = turns_bytes / self.expected["turns"]
        out["sinks.routed_bytes_per_row"] = routed_bytes / sum(self.expected["routed_rows"].values())
        out["sinks.files_written"] = _dir_stats(cfg.out_dir)[1]

        out.update(QueryProbe(h, self.seed).layers())
        probe = StreamProbe(h, self.seed)
        with h.tracer.span("streaming.warm_up", "streaming"):
            probe.run(1)
        with h.tracer.span("streaming.stream", "streaming"):
            run = probe.run(STREAM_BATCHES)
        out["streaming.batch_s"] = statistics.median(run["latency"])
        out["streaming.commit_s"] = statistics.median(run["commit"])
        return out


class PipelineMixed(_PipelineWorkload):
    """The north-star job: run_pipeline over a datagen corpus with the
    default config (parquet routed sink, transform bank, role/tool dims,
    one bucket)."""

    name = "pipeline_mixed"
    turns = 150_000
    warm_turns = 600
    reruns = 2  # a rerun takes under 1 s; resume_s is the median of all of a run's

    def prepare(self, seed: int) -> dict:
        out = super().prepare(seed)
        self.warm = inputs.corpus(self.h.path("inputs"), seed, self.warm_turns)
        return {**out, "warm_input": self.warm}

    def warm_up(self) -> None:
        run_pipeline(self.h.spark, self.cfg(self.warm["dir"], self.h.fresh("out", "warm")))

    def op(self) -> tuple[dict, list[str]]:
        """One uninterrupted run, then ``reruns`` resumes of the one-bucket
        job whose bucket is committed: more calls over the same out_dir."""
        h, cfg = self.h, self.main
        reset_output(cfg)
        with h.timed("op.run", "pipeline") as run:
            run_pipeline(h.spark, cfg)
        walls, problems = {"run": run["s"]}, []
        for i in range(self.reruns):
            with h.timed("op.resume", "pipeline") as resume:
                m = run_pipeline(h.spark, cfg)
            walls[f"resume.{i}"] = resume["s"]
            problems += _diff("buckets resumed", list(m["buckets"].values()), ["resumed"])
        return walls, problems + self._check_output(cfg.out_dir)

    def measure(self, seconds: float) -> tuple[dict, dict]:
        walls = self.h.repeat(seconds, "run_pipeline", self.op, untimed=UNTIMED_OPS)
        details = {"out_bytes_per_in_byte": self.out_bytes_per_in_byte(), "samples_s": walls}
        if not walls:  # every operation raised
            return {}, details
        reruns = [s for k, v in walls.items() if k.startswith("resume.") for s in v]
        return {"turns_per_s": self.corpus["rows"] / statistics.median(walls["run"]),
                "resume_s": statistics.median(reruns),
                "out_bytes_per_in_byte": details["out_bytes_per_in_byte"]}, details

    def layers(self, untraced: dict[str, list[float]]) -> dict:
        return self._layers(statistics.median(untraced["run"]))


class PipelineResumeTable(_PipelineWorkload):
    """A small input over several buckets into the snapshot-table routed
    sink. One operation is a run with ``fail_after_buckets`` at half the
    buckets, which raises ``InjectedFailure``, then the run that resumes it.
    The set-up's warm-up pass is an uninterrupted run over the same input:
    the resumed output must reproduce its routed table."""

    name = "pipeline_resume_table"
    turns = 2000
    n_buckets = 2
    routed_format = "table"
    ref_hash: dict | None = None

    def warm_up(self) -> None:
        self._uninterrupted()

    def _uninterrupted(self) -> float:
        """Wall of one uninterrupted run into ``out/reference``."""
        ref = replace(self.main, out_dir=self.h.fresh("out", "reference"))
        t0 = time.monotonic()
        run_pipeline(self.h.spark, ref)
        return time.monotonic() - t0

    def _routed_counts(self, out_dir: str) -> dict[str, int]:
        return {sink: n for sink, (n, _h) in self._table_hash(out_dir).items()}

    def _table_hash(self, out_dir: str) -> dict[str, tuple[int, int]]:
        """Per sink: (rows, order-independent row hash) of the routed table."""
        df = HadoopTable(self.h.spark, os.path.join(out_dir, "routed_table")).read()
        h = F.hash(*sorted(df.columns)).cast("long")
        rows = df.groupBy("sink").agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()
        return {r["sink"]: (r["n"], r["h"]) for r in rows}

    def _reference(self) -> dict:
        """Per-sink (rows, row hash) of the warm-up's uninterrupted run,
        once that run is checked against the oracle."""
        out_dir = self.h.path("out", "reference")
        problems = self._check_output(out_dir)
        if problems:
            raise RuntimeError(f"uninterrupted reference run is wrong: {problems}")
        return self._table_hash(out_dir)

    def op(self) -> tuple[dict, list[str]]:
        h, cfg = self.h, self.main
        if self.ref_hash is None:
            self.ref_hash = self._reference()
        reset_output(cfg)
        with h.timed("op.fail", "pipeline") as fail:
            try:
                run_pipeline(h.spark, replace(cfg, fail_after_buckets=self.n_buckets // 2))
            except InjectedFailure:
                pass
            else:
                raise RuntimeError("the injected failure did not fire")
        with h.timed("op.resume", "pipeline") as resume:
            m = run_pipeline(h.spark, cfg)
        resumed = sum(1 for v in m["buckets"].values() if v == "resumed")
        return {"fail": fail["s"], "resume": resume["s"]}, (
            _diff("buckets resumed", resumed, self.n_buckets // 2)
            + _diff("routed table rows and hash", self._table_hash(cfg.out_dir), self.ref_hash)
            + _diff("sink_pattern_freq", self._freq(cfg.out_dir), self.expected["freq"])
        )

    def measure(self, seconds: float) -> tuple[dict, dict]:
        walls = self.h.repeat(seconds, "fail and resume", self.op, untimed=UNTIMED_OPS)
        details = {"out_bytes_per_in_byte": self.out_bytes_per_in_byte(), "samples_s": walls}
        if not walls:  # every operation raised
            return {}, details
        return {"turns_per_s": self.corpus["rows"] / statistics.median(walls["total"]),
                "resume_s": statistics.median(walls["resume"]),
                "out_bytes_per_in_byte": details["out_bytes_per_in_byte"]}, details

    def layers(self, untraced: dict[str, list[float]]) -> dict:
        return self._layers(self._uninterrupted())


# --- contract queries ------------------------------------------------------


class QueryProbe:
    """The 12 headline contract queries over a seeded star schema, each
    collected to the driver once and checked against its DuckDB twin. A
    query's wall includes its planning and code generation."""

    sf = 0.002

    def __init__(self, h: Harness, seed: int):
        from logparserhelper_spark.plans.contract_queries import QUERIES

        self.h = h
        self.queries = {n: QUERIES[n] for n in QUERY_NAMES}
        self.tables = inputs.star_schema(h.path("inputs"), seed, self.sf)
        self.expected, _ = oracles.suite_expected(self.tables["dir"], QUERY_NAMES)

    def layers(self) -> dict:
        h, spark = self.h, self.h.spark
        out = {}
        for name, fn in self.queries.items():

            def collect(name=name, fn=fn) -> list[str]:
                with h.timed(f"query.{name}.collect", "query") as t:
                    rows = [r.asDict() for r in fn(spark, self.tables["dir"]).collect()]
                out[f"query.{name}.collect_s"] = t["s"]
                return _diff(
                    f"{name} (rows, value hash)",
                    [len(rows), oracles.value_hash(rows)],
                    self.expected[name],
                )

            h.attempt(name, collect)
        return out


# --- streaming -------------------------------------------------------------


class StreamProbe:
    """stream_parse_route into exactly_once_parquet_sink over a parquet file
    source, one file per micro-batch; the next file lands only after the
    previous batch committed. The files split a corpus of their own, made
    from the workload's seed."""

    def __init__(self, h: Harness, seed: int):
        self.h = h
        self.bank = default_pattern_bank()
        self.tbank = default_transform_bank()
        corpus = inputs.corpus(h.path("inputs"), seed, STREAM_BATCHES * STREAM_FILE_TURNS)
        self.files = inputs.split_corpus(corpus["dir"], STREAM_BATCHES, STREAM_FILE_TURNS)
        self.expected, _ = oracles.stream_expected(self.files, self.bank)
        self.n_streams = 0

    def run(self, n_files: int) -> dict:
        """Feeds the first ``n_files`` files through one stream, checks every
        batch, and returns per-batch latency (file visible to commit marker
        landed) and sink-call time."""
        h, spark = self.h, self.h.spark
        self.n_streams += 1
        root = h.fresh("stream", str(self.n_streams))
        src, staging, out = (os.path.join(root, d) for d in ("in", "staging", "out"))
        os.makedirs(src)
        os.makedirs(staging)
        sink = exactly_once_parquet_sink(out)
        done = threading.Event()
        commits: dict[int, tuple[float, float]] = {}

        def timed_sink(df, batch_id: int) -> None:
            t0 = time.monotonic()
            sink(df, batch_id)
            commits[batch_id] = (t0, time.monotonic())
            done.set()

        sdf = spark.readStream.schema(TRANSCRIPT_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
        routed = stream_parse_route(sdf, self.bank, bank_dim(spark, self.bank), self.tbank)
        query = (
            routed.writeStream.foreachBatch(timed_sink)
            .option("checkpointLocation", os.path.join(root, "checkpoint"))
            .start()
        )
        visible: list[float] = []
        try:
            for path in self.files[:n_files]:
                name = os.path.basename(path)
                shutil.copyfile(path, os.path.join(staging, name))
                done.clear()
                visible.append(time.monotonic())
                os.rename(os.path.join(staging, name), os.path.join(src, name))
                if not done.wait(120):
                    raise TimeoutError(f"batch for {name} did not commit")
        finally:
            query.stop()
        h.attempted += n_files
        problems = _diff("committed batches", committed_batches(out), set(range(n_files)))
        for i in range(n_files):
            problems += _diff(
                f"batch {i} rows per sink",
                _sink_counts(os.path.join(out, f"batch_id={i}")),
                self.expected[i],
            )
        h.failed += min(len(problems), n_files)
        h.failures.extend(problems[:5])
        return {
            "latency": [commits[i][1] - visible[i] for i in range(n_files)],
            "commit": [commits[i][1] - commits[i][0] for i in range(n_files)],
        }


WORKLOADS = {w.name: w for w in (PipelineMixed, PipelineResumeTable)}
