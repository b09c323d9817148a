"""Timestamp time travel (version_at / read(at_ms=) / @ts: suffixes /
DataSource timestamp_ms — Iceberg's TIMESTAMP AS OF).

Reference parity note: the reference app (MaksimBrezho/logparserhelper)
has no versioning at all (whole-file JSON overwrite,
utils/json_utils.py:21-27); this is Spark-first table surface.
"""

from __future__ import annotations

import time

import pytest

from logparserhelper_spark.sinks.hadoop_table import (
    HadoopTable,
    NoSuchTable,
)
from logparserhelper_spark.sinks.table_sql import table_sql


def _append(spark, t, lo, hi, extra_sleep=0.01):
    t.append(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(lo, hi)], "k int, v string"
        ).coalesce(1)
    )
    time.sleep(extra_sleep)  # distinct commit timestamps (ms resolution)


# ------------------------------------------------------------ timestamps
def test_version_at_boundaries(spark, tmp_path):
    t = HadoopTable(spark, str(tmp_path / "t"))
    _append(spark, t, 0, 5)
    _append(spark, t, 5, 10)
    _append(spark, t, 10, 15)
    ts = {v: t.snapshot(v).timestamp_ms for v in t.versions()}
    assert t.version_at(ts[1]) == 1  # inclusive boundary
    assert t.version_at(ts[2] - 1) == 1
    assert t.version_at(ts[2]) == 2
    assert t.version_at(ts[3] + 10_000) == 3
    with pytest.raises(NoSuchTable):
        t.version_at(ts[1] - 1)
    # read(at_ms=) content matches the resolved snapshot
    rows = t.read(at_ms=ts[2]).count()
    assert rows == 10
    # ISO-8601 string form
    from datetime import datetime, timezone

    iso = datetime.fromtimestamp(ts[2] / 1000, tz=timezone.utc).isoformat()
    assert t.version_at(iso) == 2
    with pytest.raises(ValueError, match="exactly one"):
        t.read(version=1, at_ms=ts[2])
    with pytest.raises(ValueError, match="ISO-8601"):
        t.version_at("not a time")


def test_version_at_after_expiry(spark, tmp_path):
    t = HadoopTable(spark, str(tmp_path / "t"))
    _append(spark, t, 0, 5)
    _append(spark, t, 5, 10)
    ts1 = t.snapshot(1).timestamp_ms
    t.expire_snapshots(keep_last=1)
    with pytest.raises(NoSuchTable):
        t.version_at(ts1)  # the answerable window shrank with expiry


def test_ts_suffix_in_sources_and_catalog(spark, tmp_path):
    from logparserhelper_spark.sinks.catalog import HadoopCatalog

    cat = HadoopCatalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("ns")
    t = cat.create_table("ns.t", "k int, v string")
    _append(spark, t, 0, 5)
    _append(spark, t, 5, 10)
    # the catalog create is v1 (empty), so the 10-row snapshot is the
    # CURRENT version here, not v2
    ts2 = t.snapshot(t.current_version()).timestamp_ms
    _append(spark, t, 10, 15)
    out = table_sql(
        spark, f"SELECT count(*) AS n FROM ns.t@ts:{ts2}", catalog=cat
    )
    assert out.collect()[0].n == 10
