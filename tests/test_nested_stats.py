"""Nested (struct-field) metrics file skipping
(sinks/hadoop_table.py): footer stats are harvested
for struct-chain leaves under their dotted paths, predicate terms on
dotted paths translate to physical paths by NESTED field id, and every
evolution edge (rename, drop/re-add, v3 defaults, pre-mint manifests)
prunes conservatively — a skip must be provable, never guessed.

Reference parity note: the reference app (MaksimBrezho/logparserhelper)
has no columnar metadata at all (whole-file JSON persistence,
utils/json_utils.py:21-27); this is Spark-first table surface.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logparserhelper_spark.sinks.hadoop_table import (
    DataFile,
    HadoopTable,
    _file_pred_match,
)


def _mk(spark, path, with_second=True):
    """Two single-file appends with disjoint nested ranges."""
    t = HadoopTable(spark, str(path))
    d1 = spark.createDataFrame(
        [(i, ("en", i)) for i in range(10)],
        "k int, props struct<lang:string,n:int>",
    ).coalesce(1)
    t.append(d1)
    if with_second:
        d2 = spark.createDataFrame(
            [(i, ("fr", i)) for i in range(100, 110)],
            "k int, props struct<lang:string,n:int>",
        ).coalesce(1)
        t.append(d2)
    return t


def test_nested_stats_harvested_list_leaves_skipped(spark, tmp_path):
    t = HadoopTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, ("en", 5), [1, 2], {"a": 1})],
        "k int, props struct<lang:string,n:int>, arr array<int>, "
        "m map<string,int>",
    ).coalesce(1)
    t.append(df)
    st = t.snapshot().data_files[0].stats
    assert {"k", "props.lang", "props.n"} <= set(st)
    # list/map legs are not scalar-addressable: never harvested
    assert not any("arr" in c or "m." in c for c in st)
    assert st["props.lang"]["min"] == "en" and st["props.n"]["max"] == 5


def test_struct_field_named_list_is_harvested(spark, tmp_path):
    # the eligibility walk is type-based, not a string test on '.list.'
    t = HadoopTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, (7,))], "k int, s struct<list:int>"
    ).coalesce(1)
    t.append(df)
    assert t.snapshot().data_files[0].stats["s.list"]["max"] == 7


def test_nested_range_pruning_and_content(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    assert len(t.plan_files()) == 2
    assert len(t.plan_files(predicate=[("props.n", "<", 50)])) == 1
    assert len(t.plan_files(predicate=[("props.n", ">=", 100)])) == 1
    assert len(t.plan_files(predicate=[("props.lang", "=", "fr")])) == 1
    assert len(t.plan_files(predicate=[("props.lang", "in", ("zz", "ww"))])) == 0
    # pruned read == unpruned filter (the correctness contract)
    a = sorted(
        r.k for r in t.read(predicate=[("props.n", "<", 50)]).collect()
    )
    b = sorted(
        r.k for r in t.read().where(F.col("props.n") < 50).collect()
    )
    assert a == b == list(range(10))


def test_nested_null_count_semantics(spark, tmp_path):
    t = HadoopTable(spark, str(tmp_path / "t"))
    # file A: inner all null (incl. via a NULL parent row); file B: none
    d1 = spark.createDataFrame(
        [(1, (None, 1)), (2, None)],
        "k int, props struct<lang:string,n:int>",
    ).coalesce(1)
    d2 = spark.createDataFrame(
        [(3, ("de", 2))], "k int, props struct<lang:string,n:int>"
    ).coalesce(1)
    t.append(d1)
    t.append(d2)
    # lang is null in every row of file A (a null parent nulls the leaf)
    assert len(t.plan_files(predicate=[("props.lang", "is_not_null", None)])) == 1
    assert len(t.plan_files(predicate=[("props.lang", "=", "de")])) == 1
    assert len(t.plan_files(predicate=[("props.lang", "is_null", None)])) == 1
    rows = t.read(predicate=[("props.lang", "is_null", None)]).collect()
    assert sorted(r.k for r in rows) == [1, 2]


def test_deep_nesting_pruning(spark, tmp_path):
    t = HadoopTable(spark, str(tmp_path / "t"))
    d1 = spark.createDataFrame(
        [(1, ((5,),))], "k int, a struct<b:struct<c:int>>"
    ).coalesce(1)
    d2 = spark.createDataFrame(
        [(2, ((500,),))], "k int, a struct<b:struct<c:int>>"
    ).coalesce(1)
    t.append(d1)
    t.append(d2)
    assert len(t.plan_files(predicate=[("a.b.c", ">", 100)])) == 1
    assert [r.k for r in t.read(predicate=[("a.b.c", ">", 100)]).collect()] == [2]


def test_empty_file_pruned_under_any_predicate(spark, tmp_path):
    t = HadoopTable(spark, str(tmp_path / "t"))
    empty = spark.createDataFrame(
        [], "k int, props struct<lang:string,n:int>"
    )
    t.append(empty.union(
        spark.createDataFrame(
            [(1, ("en", 1))], "k int, props struct<lang:string,n:int>"
        )
    ).coalesce(1))
    # a second, genuinely empty data file
    import pyspark.sql.functions as SF

    t.append(
        spark.createDataFrame(
            [(0, ("x", 0))], "k int, props struct<lang:string,n:int>"
        ).where(SF.lit(False)).coalesce(1)
    )
    zero = [f for f in t.snapshot().data_files if f.records == 0]
    if zero:  # Spark may skip writing an all-empty part; only assert when real
        assert len(t.plan_files(predicate=[("k", ">=", 0)])) == len(
            t.plan_files()
        ) - len(zero)


def test_nested_rename_translation(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", with_second=False)
    t.rename_column("props.n", "num")
    t.rename_column("props", "meta")
    t.append(
        spark.createDataFrame(
            [(i, ("fr", i)) for i in range(100, 110)],
            "k int, meta struct<lang:string,num:int>",
        ).coalesce(1)
    )
    # the pre-rename file prunes under the NEW dotted name (id routed)
    assert len(t.plan_files(predicate=[("meta.num", "<", 50)])) == 1
    assert sorted(
        r.k for r in t.read(predicate=[("meta.num", "<", 50)]).collect()
    ) == list(range(10))
    assert len(t.plan_files(predicate=[("meta.lang", "=", "en")])) == 1


def test_nested_drop_readd_non_resurrection(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.drop_column("props.lang")
    t.add_column("props.lang", "string")
    # old values are unreachable under the fresh id: all files predate
    # it, read NULL, so an equality prunes EVERY file — and the read
    # agrees exactly
    assert len(t.plan_files(predicate=[("props.lang", "=", "en")])) == 0
    assert t.read(predicate=[("props.lang", "=", "en")]).count() == 0
    assert (
        t.read().where(F.col("props.lang") == "en").count() == 0
    )
    # is_null keeps (all rows read null)
    assert len(t.plan_files(predicate=[("props.lang", "is_null", None)])) == 2


def test_nested_default_predates_semantics(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.drop_column("props.lang")
    t.add_column("props.lang", "string", default="xx")
    n_files = len(t.plan_files())
    # default cannot satisfy -> prune; can satisfy -> keep
    assert len(t.plan_files(predicate=[("props.lang", "=", "en")])) == 0
    assert len(t.plan_files(predicate=[("props.lang", "=", "xx")])) == n_files
    assert t.read(predicate=[("props.lang", "=", "xx")]).count() == 20
    assert len(t.plan_files(predicate=[("props.lang", "in", ("xx", "en"))])) == n_files
    assert len(t.plan_files(predicate=[("props.lang", "in", ("en", "zz"))])) == 0
    # null-test terms on a predates-with-default field keep the file
    # (parent-null rows read NULL, the mix is unknown at plan time)
    assert len(t.plan_files(predicate=[("props.lang", "is_null", None)])) == n_files
    assert (
        len(t.plan_files(predicate=[("props.lang", "is_not_null", None)]))
        == n_files
    )


def test_premint_manifest_maps_by_name():
    # a file annotated BEFORE nested ids existed (no "ids" map): nested
    # DDL is refused while such files are live, so relative names map
    # verbatim — stats must still route (and never misread "predates")
    f = DataFile(
        path="p",
        partition={},
        records=10,
        bytes=1,
        stats={"props.n": {"min": 0, "max": 9, "nulls": 0}},
        columns=[
            {"name": "k", "type": "integer", "id": 1},
            {"name": "props", "type": {"type": "struct", "fields": []}, "id": 2},
        ],
    )
    cur_ids = {"k": 1, "props": 2, "props.n": 5}
    assert _file_pred_match(f, [("props.n", "<", 5)], cur_ids) is True
    assert _file_pred_match(f, [("props.n", ">", 9)], cur_ids) is False


def test_rename_column_refuses_dotted_new_name(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", with_second=False)
    with pytest.raises(ValueError, match="invalid name"):
        t.rename_column("props.n", "props.num")
    with pytest.raises(ValueError, match="invalid name"):
        t.rename_column("k", "a.b")


def test_stats_columns_narrowing_applies_to_nested(spark, tmp_path):
    t = HadoopTable(
        spark, str(tmp_path / "t"), stats_columns=["props.n"]
    )
    t.append(
        spark.createDataFrame(
            [(1, ("en", 5))], "k int, props struct<lang:string,n:int>"
        ).coalesce(1)
    )
    st = t.snapshot().data_files[0].stats
    assert set(st) == {"props.n"}


def test_nested_predicate_cow_delete(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.delete([("props.n", "<", 5)])
    assert sorted(r.k for r in t.read().collect()) == list(range(5, 10)) + list(
        range(100, 110)
    )
    # the untouched file was carried, not rewritten
    assert (
        t.snapshot().summary.get("kept_files") is not None
    )
