"""Expected outputs for the output checks, computed without Spark.

Pipeline and stream expectations come from ``logparserhelper_spark.oracle``
(plain Python ``re``, the reference semantics); contract-query expectations
come from each query's DuckDB ``oracle_sql()`` twin, compared by row count
and an order-insensitive value hash as the repo's entry check does. Each
result is cached as JSON per input directory, so a seed pays for it once.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import Counter

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from logparserhelper_spark.banks import PatternBank
from logparserhelper_spark.oracle import extract_spans
from perfbench.sysprobe import spawn_pool

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))
from check_entry import TABLES, value_hash  # noqa: E402  the repo's entry check

UNMATCHED = "unmatched"


def _cached(path: str, compute) -> tuple[dict, float]:
    """(value, seconds spent computing it; 0 when read from the cache)."""
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f), 0.0
    t0 = time.monotonic()
    value = compute()
    with open(path + ".tmp", "w") as f:
        json.dump(value, f)
    os.rename(path + ".tmp", path)
    return value, time.monotonic() - t0


def dedup_texts(transcripts_path: str) -> list[str]:
    """Texts of the deduped turns: per (conv_id, turn_idx) the row with the
    minimum (role, ts, text, tool), the pipeline's documented tiebreak, with
    a null tool ordered as the empty string."""
    keys = ["conv_id", "turn_idx", "role", "ts", "text", "tool"]
    t = pq.read_table(transcripts_path, columns=keys)
    t = t.set_column(keys.index("tool"), "tool", pc.fill_null(t["tool"], ""))
    t = t.sort_by([(k, "ascending") for k in keys])
    conv, idx = t["conv_id"], t["turn_idx"]
    new_key = pc.or_(pc.not_equal(conv[1:], conv[:-1]), pc.not_equal(idx[1:], idx[:-1]))
    first = pa.concat_arrays([pa.array([True])] + new_key.chunks) if t.num_rows else pa.array([], pa.bool_())
    return t["text"].filter(first).to_pylist()


def _route_chunk(args) -> tuple:
    """Routing counts of one chunk of texts (runs in a pool worker)."""
    texts, bank = args
    sink_of = {e.pattern_id: e.sink for e in bank.entries}
    rows: Counter[str] = Counter()
    n_matches: Counter[int] = Counter()
    n_turns: Counter[int] = Counter()
    unmatched = n_spans = 0
    for text in texts:
        spans = extract_spans(text, bank) if text is not None else []
        if not spans:
            unmatched += 1
            continue
        n_spans += len(spans)
        for pid, *_ in spans:
            rows[sink_of[pid]] += 1
            n_matches[pid] += 1
        for pid in {s[0] for s in spans}:
            n_turns[pid] += 1
    return rows, n_matches, n_turns, unmatched, n_spans


def _pool():
    return spawn_pool(len(os.sched_getaffinity(0)))


def routing(texts: list[str], bank: PatternBank, pool) -> dict:
    """Routed rows per sink (one per span, one per unmatched turn) and the
    sink_pattern_freq rows as sorted [sink, pattern_id, name, n_matches,
    n_turns] lists (pattern_id None for the unmatched row). The oracle runs
    on the ``pool``'s processes, one chunk of texts each."""
    n = len(os.sched_getaffinity(0))
    parts = pool.map(_route_chunk, [(texts[i::n], bank) for i in range(n)], chunksize=1)
    rows: Counter[str] = Counter()
    n_matches: Counter[int] = Counter()
    n_turns: Counter[int] = Counter()
    unmatched = n_spans = 0
    for r, m, t, u, k in parts:
        rows.update(r)
        n_matches.update(m)
        n_turns.update(t)
        unmatched += u
        n_spans += k
    sink_of = {e.pattern_id: e.sink for e in bank.entries}
    name_of = {e.pattern_id: e.name for e in bank.entries}
    rows[UNMATCHED] += unmatched
    freq = [[sink_of[p], p, name_of[p], n_matches[p], n_turns[p]] for p in n_matches]
    if unmatched:
        freq.append([UNMATCHED, None, None, unmatched, unmatched])
    return {
        "turns": len(texts),
        "spans": n_spans,
        "routed_rows": dict(rows),
        "freq": sorted(freq, key=lambda r: (r[0], -1 if r[1] is None else r[1])),
    }


def pipeline_expected(corpus_dir: str, bank: PatternBank) -> tuple[dict, float]:
    def compute() -> dict:
        texts = dedup_texts(os.path.join(corpus_dir, "transcripts.parquet"))
        with _pool() as pool:
            return routing(texts, bank, pool)

    return _cached(os.path.join(corpus_dir, "_expected_pipeline.json"), compute)


def stream_expected(files: list[str], bank: PatternBank) -> tuple[list[dict], float]:
    """Per input file, the routed rows per sink (streams do not dedup)."""

    def compute() -> list[dict]:
        with _pool() as pool:
            return [
                routing(pq.read_table(p, columns=["text"]).column("text").to_pylist(), bank, pool)[
                    "routed_rows"
                ]
                for p in files
            ]

    return _cached(os.path.join(os.path.dirname(files[0]), "_expected_stream.json"), compute)


# --- contract queries ------------------------------------------------------

def suite_expected(sf_dir: str, names: list[str]) -> tuple[dict, float]:
    """{query: [row count, value hash]} from the DuckDB oracle twins."""

    def compute() -> dict:
        import duckdb

        from logparserhelper_spark.plans.contract_queries import ORACLES

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
                )
            out = {}
            for name in names:
                rows = con.execute(ORACLES[name]).fetch_arrow_table().to_pylist()
                out[name] = [len(rows), value_hash(rows)]
            return out
        finally:
            con.close()

    return _cached(os.path.join(sf_dir, "_expected_suite.json"), compute)
