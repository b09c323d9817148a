"""Seeded benchmark inputs, generated outside timing and cached per seed.

- transcript corpora come from ``logparserhelper_spark.datagen`` (the same
  row recipe as every other corpus in the repo: ~65% matched turns, ~1 span
  per turn, 0.5% duplicate keys, one conversation 100x the median length);
  the benchmark only picks the conversation count that reaches a target
  turn count and cuts the corpus there, so every seed has the same size;
- the contract-query tables are a small seeded star schema with the column
  names, types and value ranges of the provided sf tables;
- stream inputs are the head of a corpus split into equal parquet files.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from logparserhelper_spark import datagen

SIGMA = 1.6  # datagen's conversation-length spread
# generator shards; fixed, as the shard plan is part of what a seed makes
GEN_PROCS = 4


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def corpus(root: str, seed: int, target_turns: int) -> dict:
    """A datagen transcript corpus of exactly ``target_turns`` rows in one
    parquet file: the conversations that reach the target, the last one cut
    short, generated on ``GEN_PROCS`` processes. Returns {dir, rows, bytes,
    gen_s}; bytes counts ``transcripts.parquet`` only."""
    lens = datagen.conversation_lengths(20 * target_turns // datagen.MEDIAN_TURNS, SIGMA, seed)
    n_convs = int(np.searchsorted(np.cumsum(lens), target_turns)) + 1
    # with fewer than eight conversations datagen moves the skew conversation
    # onto the last one, which can leave the corpus short of the target
    while datagen.conversation_lengths(n_convs, SIGMA, seed).sum() < target_turns:
        n_convs += 1
    scale = f"perfbench-{n_convs}"
    datagen.SCALES.setdefault(scale, (n_convs, SIGMA))
    out = os.path.join(root, f"corpus-{target_turns}-s{seed}-p{GEN_PROCS}")
    path = os.path.join(out, "transcripts.parquet")
    marker = os.path.join(out, "_MANIFEST.json")
    t0 = time.monotonic()
    datagen.generate_transcripts_parallel(out, scale, seed=seed, n_procs=GEN_PROCS)
    with open(marker) as f:
        manifest = json.load(f)
    if os.path.isdir(path):  # fresh: the generator wrote one file per shard
        table = pq.read_table(path).slice(0, target_turns)
        pq.write_table(table, path + ".tmp")
        shutil.rmtree(path)
        os.replace(path + ".tmp", path)
        manifest["rows"] = table.num_rows
        with open(marker, "w") as f:
            json.dump(manifest, f)
    return {
        "dir": out,
        "rows": manifest["rows"],
        "bytes": os.path.getsize(path),
        "gen_s": time.monotonic() - t0,
    }


def split_corpus(corpus_dir: str, n_files: int, rows_per_file: int) -> list[str]:
    """The corpus's first ``n_files * rows_per_file`` turns as ``n_files``
    parquet files, in input order (cached next to the corpus)."""
    out = os.path.join(corpus_dir, f"split-{n_files}x{rows_per_file}")
    paths = [os.path.join(out, f"part-{i:04d}.parquet") for i in range(n_files)]
    if all(os.path.exists(p) for p in paths):
        return paths
    os.makedirs(out, exist_ok=True)
    table = pq.read_table(os.path.join(corpus_dir, "transcripts.parquet"))
    for i, p in enumerate(paths):
        pq.write_table(table.slice(i * rows_per_file, rows_per_file), p + ".tmp")
        os.rename(p + ".tmp", p)
    return paths


# --- contract-query tables -------------------------------------------------

_WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark a "
    "the line sort window order data column join small customer query "
    "stream filter group big vector"
).split()
_LANGS = ["en", "zh", "de", "fr", "es"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _money(rs: np.random.RandomState, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rs.randint(int(lo * 100), int(hi * 100), size=n) / 100.0, 2)


def _days(rs: np.random.RandomState, start: datetime, span_days: int, n: int) -> pa.Array:
    d = rs.randint(0, span_days, size=n)
    base = np.datetime64(start, "us")
    return pa.array(base + d.astype("timedelta64[D]"), pa.timestamp("us"))


def _star_tables(rs: np.random.RandomState, sf: float) -> dict[str, pa.Table]:
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(500, int(1_500_000 * sf))
    n_li = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * sf))
    n_docs = 500
    n_users = max(20, int(15_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rs.randint(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rs, -999.99, 9999.99, n_cust),
        "c_mktsegment": [_SEGMENTS[i] for i in rs.randint(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rs.randint(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rs, -999.99, 9999.99, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [
            f"{_P_ADJ[a]} {_P_NOUN[b]}"
            for a, b in zip(rs.randint(0, 8, n_part), rs.randint(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rs.randint(1, 26, n_part)],
        "p_type": [_P_TYPES[i] for i in rs.randint(0, 6, n_part)],
        "p_size": pa.array(rs.randint(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rs.randint(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rs.randint(0, 3, n_ord)],
        "o_totalprice": _money(rs, 1000, 500_000, n_ord),
        "o_orderdate": _days(rs, datetime(1995, 1, 1), 2404, n_ord),
        "o_orderpriority": [_PRIORITIES[i] for i in rs.randint(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rs.randint(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rs.randint(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rs.randint(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rs.randint(1, 8, n_li), pa.int32()),
        "l_quantity": rs.randint(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rs, 900, 105_000, n_li),
        "l_discount": rs.randint(0, 11, n_li) / 100.0,
        "l_tax": rs.randint(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rs.randint(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rs.randint(0, 2, n_li)],
        "l_shipdate": _days(rs, datetime(1995, 1, 2), 2498, n_li),
    })
    gaps = rs.randint(1, 2 * int(30 * 86400e6 / n_ev), size=n_ev)
    t["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rs.randint(0, n_users, n_ev), pa.int64()),
        "event_type": [_EVENT_TYPES[i] for i in rs.randint(0, 5, n_ev)],
        "value": _money(rs, 0.01, 490.02, n_ev),
        "props": [f'{{"k": {k}}}' for k in rs.randint(0, 100, n_ev)],
    })
    texts = [
        " ".join(_WORDS[w] for w in rs.randint(0, len(_WORDS), size=n))
        for n in rs.randint(8, 96, n_docs)
    ]
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in rs.choice(5, n_docs, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    vecs = (rs.standard_normal((n_docs, 64)) * 0.125).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_docs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rs.randint(0, 10, n_docs), pa.int32()),
    })
    return t


def star_schema(root: str, seed: int, sf: float) -> dict:
    """The ten contract-query tables at scale ``sf`` as one parquet file
    each. Returns {dir, rows, bytes, gen_s}."""
    out = os.path.join(root, f"sf{sf}-s{seed}")
    marker = os.path.join(out, "_MANIFEST.json")
    t0 = time.monotonic()
    if not os.path.exists(marker):
        os.makedirs(out, exist_ok=True)
        tables = _star_tables(np.random.RandomState(seed), sf)
        for name, table in tables.items():
            pq.write_table(table, os.path.join(out, f"{name}.parquet"))
        with open(marker, "w") as f:
            json.dump({n: tb.num_rows for n, tb in tables.items()}, f)
    gen_s = time.monotonic() - t0
    with open(marker) as f:
        rows = json.load(f)
    return {
        "dir": out,
        "rows": rows,
        "bytes": _dir_bytes(out) - os.path.getsize(marker),
        "gen_s": gen_s,
    }
