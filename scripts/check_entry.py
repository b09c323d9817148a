"""Local mimic of the driver's correctness gate: run every
``__spark_entry__.queries()`` entry and its ``oracle_sql()`` twin on the same
sf dir, compare row count, column-name set, and an order-insensitive value
hash. Usage: python scripts/check_entry.py [--sf /root/testdata/sf0.01]
[--only name,name]"""

from __future__ import annotations

import argparse
import hashlib
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _canon(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def value_hash(rows: list[dict]) -> str:
    cols = sorted(rows[0].keys()) if rows else []
    lines = sorted("|".join(_canon(r[c]) for c in cols) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    ap.add_argument(
        "--extras",
        action="store_true",
        help="check EXTRA_QUERIES (operator paths no exposed query covers) instead",
    )
    ap.add_argument(
        "--parallelism", type=int, default=8,
        help="local[N]; pass 2 with --shuffle-partitions 5 for the "
        "adversarial partition-invariance shape (NOTES.md)",
    )
    ap.add_argument("--shuffle-partitions", type=int, default=16)
    args = ap.parse_args()

    import __spark_entry__ as entry_mod
    from logparserhelper_spark.session import build_session

    spark = build_session(
        parallelism=args.parallelism,
        app_name="check_entry",
        shuffle_partitions=args.shuffle_partitions,
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'"
        )

    if args.extras:
        from logparserhelper_spark.plans.contract_queries import (
            EXTRA_ORACLES,
            EXTRA_QUERIES,
        )

        qs, oracles = EXTRA_QUERIES, EXTRA_ORACLES
    else:
        qs = entry_mod.queries()
        oracles = entry_mod.oracle_sql()
    only = set(args.only.split(",")) if args.only else None
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            sdf = fn(spark, args.sf)
            srows = [r.asDict() for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        dt = time.monotonic() - t0
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (rows-only, {dt:.1f}s)")
            continue
        try:
            ddf = con.execute(oracles[name]).fetch_arrow_table()
            drows = ddf.to_pylist()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        scols, dcols = (sorted(srows[0]) if srows else sorted(sdf.columns)), (
            sorted(drows[0]) if drows else sorted(ddf.column_names)
        )
        ok_rows = len(srows) == len(drows)
        ok_cols = scols == dcols
        ok_hash = value_hash(srows) == value_hash(drows)
        if ok_rows and ok_cols and ok_hash:
            print(f"OK    {name}: {len(srows)} rows ({dt:.1f}s)")
        else:
            n_fail += 1
            print(
                f"FAIL  {name}: rows {len(srows)}vs{len(drows)} cols_match={ok_cols} hash_match={ok_hash}"
            )
            if not ok_cols:
                print(f"      spark cols: {scols}\n      duck  cols: {dcols}")
            if ok_cols and not ok_hash:
                s_set = {tuple(_canon(r[c]) for c in scols) for r in srows}
                d_set = {tuple(_canon(r[c]) for c in dcols) for r in drows}
                print(f"      only-spark: {sorted(s_set - d_set)[:3]}")
                print(f"      only-duck : {sorted(d_set - s_set)[:3]}")
    spark.stop()
    print("ALL OK" if n_fail == 0 else f"{n_fail} FAILURES")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
