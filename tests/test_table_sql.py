"""SQL frontend for snapshot-table DDL/DML/maintenance
(sinks/table_sql.py): each statement maps onto exactly one HadoopTable
API call with identical semantics; anything outside the strict grammar
raises rather than half-parsing.

Reference parity note: the reference app (MaksimBrezho/logparserhelper)
has no SQL surface — its persistence is whole-file JSON overwrite
(utils/json_utils.py:21-27).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logparserhelper_spark.sinks.hadoop_table import HadoopTable
from logparserhelper_spark.sinks.table_sql import table_sql


def _mk(spark, path):
    t = HadoopTable(spark, str(path))
    t.append(
        spark.createDataFrame(
            [(i, i * 2, "u%d" % i) for i in range(10)],
            "k int, v int, name string",
        )
    )
    return t


def test_ddl_statements(spark, tmp_path):
    loc = str(tmp_path / "t")
    t = _mk(spark, loc)
    s = table_sql(spark, f"ALTER TABLE '{loc}' RENAME COLUMN v TO value")
    assert s.operation == "evolve-schema"
    assert "value" in t.read().columns
    table_sql(spark, f"ALTER TABLE '{loc}' ALTER COLUMN value TYPE bigint")
    assert dict(t.read().dtypes)["value"] == "bigint"
    table_sql(
        spark, f"ALTER TABLE '{loc}' ADD COLUMN lang string DEFAULT 'en'"
    )
    assert {r.lang for r in t.read().collect()} == {"en"}
    table_sql(spark, f"ALTER TABLE '{loc}' DROP COLUMN name;")
    assert "name" not in t.read().columns
    table_sql(
        spark,
        f"ALTER TABLE '{loc}' SET TBLPROPERTIES "
        "('history.keep-last'='2', 'owner'='corpus')",
    )
    assert t.properties()["owner"] == "corpus"
    table_sql(spark, f"ALTER TABLE '{loc}' UNSET TBLPROPERTIES ('owner')")
    assert "owner" not in t.properties()


def test_delete_and_procedures(spark, tmp_path):
    loc = str(tmp_path / "t")
    t = _mk(spark, loc)
    s = table_sql(
        spark, f"DELETE FROM '{loc}' WHERE k >= 3 AND k <= 4"
    )
    assert s.operation == "delete"
    assert sorted(r.k for r in t.read().collect()) == [0, 1, 2] + list(
        range(5, 10)
    )
    table_sql(spark, f"DELETE FROM '{loc}' WHERE name IS NULL") is None
    # Iceberg procedure names work, with name => value args
    t.append(spark.createDataFrame([(99, 0, "x")], "k int, v int, name string"))
    out = table_sql(spark, f"CALL system.rewrite_data_files('{loc}')")
    assert out is not None and out.operation == "compact"
    dropped = table_sql(
        spark, f"CALL expire_snapshots('{loc}', keep_last => 1, "
        "cleanup_older_than_sec => 0)"
    )
    assert len(t.versions()) == 1 and dropped
    res = table_sql(spark, f"CALL maintain('{loc}', keep_last => 1)")
    assert "expired_versions" in res
    assert table_sql(spark, f"VACUUM '{loc}'") == []
    # rollback procedure
    v = t.current_version()
    t.append(spark.createDataFrame([(100, 0, "y")], "k int, v int, name string"))
    table_sql(
        spark, f"CALL rollback_to_snapshot('{loc}', version => {v})"
    )
    assert 100 not in {r.k for r in t.read().collect()}


def test_strict_grammar(spark, tmp_path):
    loc = str(tmp_path / "t")
    _mk(spark, loc)
    # SELECT is catalog-only (name resolution); path users are steered
    # to the DataSource
    with pytest.raises(ValueError, match="catalog"):
        table_sql(spark, f"SELECT * FROM '{loc}'")
    with pytest.raises(ValueError, match="unsupported"):
        table_sql(spark, f"DELETE FROM '{loc}' WHERE k = 1 OR k = 2")
    with pytest.raises(ValueError, match="unsupported literal"):
        table_sql(spark, f"DELETE FROM '{loc}' WHERE k = abc")
    with pytest.raises(ValueError, match="unknown procedure"):
        table_sql(spark, f"CALL explode('{loc}')")
    # string literals with escaped quotes round-trip
    table_sql(
        spark,
        f"ALTER TABLE '{loc}' SET TBLPROPERTIES ('note'='it''s fine')",
    )
    t = HadoopTable(spark, loc)
    assert t.properties()["note"] == "it's fine"


def test_review_hardening(spark, tmp_path):
    loc = str(tmp_path / "t")
    t = _mk(spark, loc)
    # == is a reachable operator
    s = table_sql(spark, f"DELETE FROM '{loc}' WHERE k == 9")
    assert s is not None and 9 not in {r.k for r in t.read().collect()}
    # strict TBLPROPERTIES: garbage between pairs raises, nothing applies
    with pytest.raises(ValueError, match="TBLPROPERTIES"):
        table_sql(
            spark,
            f"ALTER TABLE '{loc}' SET TBLPROPERTIES "
            "('a'='1' GARBAGE 'b'='2')",
        )
    with pytest.raises(ValueError, match="TBLPROPERTIES"):
        table_sql(
            spark,
            f"ALTER TABLE '{loc}' SET TBLPROPERTIES ('a'='1', 'b')",
        )
    assert "a" not in t.properties()
    with pytest.raises(ValueError, match="TBLPROPERTIES"):
        table_sql(
            spark, f"ALTER TABLE '{loc}' UNSET TBLPROPERTIES ('a' junk)"
        )
    # rollback arg validation
    with pytest.raises(ValueError, match="version =>"):
        table_sql(spark, f"CALL rollback_to_snapshot('{loc}')")
    with pytest.raises(ValueError, match="unknown arguments"):
        table_sql(
            spark,
            f"CALL rollback_to_snapshot('{loc}', version => 1, oops => 2)",
        )


# ------------------------------------------------- IN lists + UPDATE ... SET
def test_delete_in_list(spark, tmp_path):
    loc = str(tmp_path / "t_in")
    t = _mk(spark, loc)
    s = table_sql(spark, f"DELETE FROM '{loc}' WHERE k IN (1, 3, 7)")
    assert s.summary["deleted_records"] == 3
    assert sorted(r.k for r in t.read().collect()) == [0, 2, 4, 5, 6, 8, 9]
    # string members may contain commas and escaped quotes
    t2 = HadoopTable(spark, str(tmp_path / "t_in2"))
    t2.append(
        spark.createDataFrame(
            [("a,b", 1), ("it's", 2), ("c", 3)], "name string, k int"
        )
    )
    table_sql(
        spark,
        f"DELETE FROM '{t2.location}' WHERE name IN ('a,b', 'it''s')",
    )
    assert [r.name for r in t2.read().collect()] == ["c"]


def test_update_statement_roundtrips_vs_api(spark, tmp_path):
    loc = str(tmp_path / "t_upd")
    t = _mk(spark, loc)
    s = table_sql(
        spark,
        f"UPDATE '{loc}' SET v = -1, name = 'x, where y' WHERE k IN (2, 5)",
    )
    assert s.operation == "update" and s.summary["updated_records"] == 2
    got = {r.k: (r.v, r.name) for r in t.read().collect()}
    assert got[2] == (-1, "x, where y") and got[5] == (-1, "x, where y")
    assert got[3] == (6, "u3")  # untouched row intact
    assert t.snapshot().total_records == 10
    # identical to the API call on a twin table
    t2 = _mk(spark, str(tmp_path / "t_upd_api"))
    t2.update([("k", "in", (2, 5))], {"v": -1, "name": "x, where y"})
    assert sorted(map(tuple, t2.read().collect())) == sorted(
        map(tuple, t.read().collect())
    )
    # no-match UPDATE is a no-op, not a commit
    v = t.current_version()
    assert table_sql(spark, f"UPDATE '{loc}' SET v = 0 WHERE k = 99") is None
    assert t.current_version() == v


def test_update_null_predicate_rows_keep_values(spark, tmp_path):
    t = HadoopTable(spark, str(tmp_path / "t_null"))
    t.append(
        spark.createDataFrame(
            [(1, 10), (2, None), (3, 30)], "k int, v int"
        )
    )
    # v > 5 is NULL for k=2: SQL UPDATE changes TRUE rows only
    t.update([("v", ">", 5)], {"v": 0})
    got = {r.k: r.v for r in t.read().collect()}
    assert got == {1: 0, 2: None, 3: 0}


def test_update_partition_source_moves_rows(spark, tmp_path):
    t = HadoopTable(spark, str(tmp_path / "t_part"))
    t.append(
        spark.createDataFrame(
            [("a", 1), ("a", 2), ("b", 3)], "sink string, k int"
        ),
        partition_cols=["sink"],
    )
    t.update([("k", "=", 2)], {"sink": "b"})
    snap = t.snapshot()
    assert sorted(
        (r.sink, r.k) for r in t.read().collect()
    ) == [("a", 1), ("b", 2), ("b", 3)]
    # the moved row's file lives under its NEW partition directory
    moved = [f for f in snap.data_files if f.seq == snap.version]
    assert moved and all(f.partition == {"sink": "b"} for f in moved)


def test_in_and_update_strict_grammar(spark, tmp_path):
    loc = str(tmp_path / "t_strict")
    _mk(spark, loc)
    for bad in [
        f"DELETE FROM '{loc}' WHERE k IN ()",
        f"DELETE FROM '{loc}' WHERE k IN (1,)",
        f"DELETE FROM '{loc}' WHERE k IN (1,,2)",
        f"UPDATE '{loc}' SET WHERE k = 1",
        f"UPDATE '{loc}' SET v = 1",  # no WHERE
        f"UPDATE '{loc}' SET v = 1, v = 2 WHERE k = 1",  # duplicate col
        f"UPDATE '{loc}' SET v = 1 + 2 WHERE k = 1",  # not a literal
    ]:
        with pytest.raises(ValueError):
            table_sql(spark, bad)
    with pytest.raises(ValueError):  # unknown SET column refused by update()
        table_sql(spark, f"UPDATE '{loc}' SET nope = 1 WHERE k = 1")


def test_ref_ddl_tags_and_branches(spark, tmp_path):
    """CREATE/DROP TAG and BRANCH + CALL fast_forward map onto the ref
    API: full WAP cycle through SQL alone."""
    loc = str(tmp_path / "t_refs")
    t = _mk(spark, loc)
    table_sql(spark, f"ALTER TABLE '{loc}' CREATE TAG audit AS OF VERSION 1")
    t.append(spark.createDataFrame([(100, 0, "x")], "k int, v int, name string"))
    assert t.read(ref="audit").count() == 10  # pinned pre-append
    # WAP: branch, write there, publish via fast_forward
    table_sql(spark, f"ALTER TABLE '{loc}' CREATE BRANCH wap")
    t.branch("wap").append(
        spark.createDataFrame([(200, 0, "y")], "k int, v int, name string")
    )
    assert t.read().count() == 11  # main unchanged until publish
    s = table_sql(spark, f"CALL fast_forward('{loc}', name => 'wap')")
    assert s is not None and t.read().count() == 12
    table_sql(spark, f"ALTER TABLE '{loc}' DROP BRANCH wap")
    assert "wap" not in t.branches()
    table_sql(spark, f"ALTER TABLE '{loc}' DROP TAG audit")
    with pytest.raises(ValueError):
        t.read(ref="audit").count()


def test_ref_ddl_strict_grammar(spark, tmp_path):
    loc = str(tmp_path / "t_refs2")
    _mk(spark, loc)
    for bad in [
        # branches fork the CURRENT snapshot only
        f"ALTER TABLE '{loc}' CREATE BRANCH b AS OF VERSION 1",
        f"ALTER TABLE '{loc}' DROP BRANCH ../../evil",
        f"ALTER TABLE '{loc}' CREATE TAG",  # missing name
        f"ALTER TABLE '{loc}' DROP TAG no_such",
    ]:
        with pytest.raises(ValueError):
            table_sql(spark, bad)


def test_describe_and_show_tblproperties(spark, tmp_path):
    loc = str(tmp_path / "t_desc")
    t = _mk(spark, loc)
    t.set_properties({"owner": "me"})
    d = table_sql(spark, f"DESCRIBE '{loc}'")
    cols = {r.name for r in d.collect()}
    assert {"k", "v", "name"} <= cols
    t.rename_column("v", "value")
    d2 = table_sql(spark, f"DESCRIBE TABLE '{loc}'")
    assert "value" in {r.name for r in d2.collect()}
    # time travel shows the pre-rename shape
    d1 = table_sql(
        spark, f"DESCRIBE '{loc}' AS OF VERSION {t.current_version() - 1}"
    )
    assert "v" in {r.name for r in d1.collect()}
    props = table_sql(spark, f"SHOW TBLPROPERTIES '{loc}'")
    assert props["owner"] == "me"


def test_write_ordered_by_property_and_compact(spark, tmp_path):
    from logparserhelper_spark.sinks.hadoop_table import HadoopTable

    loc = str(tmp_path / "tord")
    t = HadoopTable(spark, loc)
    # 4 interleaved single-file appends: id ranges fully overlap, so only
    # a SORTED rewrite lets point predicates prune (cf. test_table_shim)
    for r in range(4):
        t.append(
            spark.createDataFrame(
                [(i,) for i in range(r, 4000, 4)], "id long"
            ).coalesce(1)
        )
    assert len(t.plan_files(predicate=[("id", "=", 7)])) == 4
    table_sql(spark, f"ALTER TABLE '{loc}' WRITE ORDERED BY id")
    assert t.properties()["write.sort.order"] == "id"
    t.compact(target_file_bytes=8 << 10)  # no sort args: property drives
    assert len(t.plan_files(predicate=[("id", "=", 7)])) == 1
    # UNORDERED clears it
    table_sql(spark, f"ALTER TABLE '{loc}' WRITE UNORDERED")
    assert "write.sort.order" not in t.properties()
    # zorder form parses and stores canonically
    table_sql(spark, f"ALTER TABLE '{loc}' WRITE ORDERED BY ZORDER(id, id)")
    assert t.properties()["write.sort.order"] == "zorder(id,id)"
    import pytest as _pytest

    with _pytest.raises(ValueError):
        table_sql(spark, f"ALTER TABLE '{loc}' WRITE ORDERED BY ")


def test_show_create_table_round_trips(spark, tmp_path):
    src = str(tmp_path / "tsrc")
    table_sql(
        spark,
        f"CREATE TABLE '{src}' (id bigint, ts timestamp, tag string) "
        f"PARTITIONED BY (days(ts), bucket(4, id)) "
        f"TBLPROPERTIES ('history.keep-last'='7')",
    )
    ddl = table_sql(spark, f"SHOW CREATE TABLE '{src}'")
    assert "days(ts)" not in ddl  # canonical transform name is day()
    assert "day(ts)" in ddl and "bucket(4, id)" in ddl
    assert "'history.keep-last'='7'" in ddl
    # the emitted statement re-creates an equivalent table elsewhere
    dst = str(tmp_path / "tdst")
    table_sql(spark, ddl.replace(f"'{src}'", f"'{dst}'"))
    from logparserhelper_spark.sinks.hadoop_table import HadoopTable
    from logparserhelper_spark.sinks.partition_spec import spec_to_json

    a, b = HadoopTable(spark, src).snapshot(), HadoopTable(spark, dst).snapshot()
    import json as _json

    sa = {f["name"]: f["type"] for f in _json.loads(a.schema_json)["fields"]}
    sb = {f["name"]: f["type"] for f in _json.loads(b.schema_json)["fields"]}
    assert sa == sb
    assert spec_to_json(a.spec) == spec_to_json(b.spec)
    assert HadoopTable(spark, dst).properties()["history.keep-last"] == "7"


def test_stale_sort_order_property_degrades_to_binpack(spark, tmp_path):
    """write.sort.order names CURRENT schema columns and is not rewritten
    by RENAME COLUMN: after a rename — or a raw SET
    TBLPROPERTIES pointing at a never-existing column — compact() must
    fall back to bin-pack with a warning (the property is advisory), not
    raise on every maintenance call until the property is fixed."""
    import warnings

    from logparserhelper_spark.sinks.hadoop_table import HadoopTable

    loc = str(tmp_path / "tstale")
    t = HadoopTable(spark, loc)
    for r in range(3):
        t.append(
            spark.createDataFrame(
                [(i,) for i in range(r, 300, 3)], "id long"
            ).coalesce(1)
        )
    table_sql(spark, f"ALTER TABLE '{loc}' WRITE ORDERED BY id")
    table_sql(spark, f"ALTER TABLE '{loc}' RENAME COLUMN id TO ident")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        t.compact(target_file_bytes=1 << 20)  # must not raise
    assert any("write.sort.order" in str(x.message) for x in w)
    # content survives the bin-pack rewrite untouched
    got = sorted(r.ident for r in t.read().collect())
    assert got == sorted(range(0, 300))
    # fixing the property via DDL restores sorted compaction
    table_sql(spark, f"ALTER TABLE '{loc}' WRITE ORDERED BY ident")
    with warnings.catch_warnings(record=True) as w2:
        warnings.simplefilter("always")
        t.compact(target_file_bytes=8 << 10)
    assert not any("write.sort.order" in str(x.message) for x in w2)
    assert len(t.plan_files(predicate=[("ident", "=", 7)])) == 1
