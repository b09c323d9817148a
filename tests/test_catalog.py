"""Filesystem catalog (sinks/catalog.py): namespaces, name-addressed
tables, versioned views, SQL-statement surface, and the strict/
conservative identifier resolution rules.

Reference parity note: the reference app (MaksimBrezho/logparserhelper)
has no dataset management — one whole-file JSON overwrite
(utils/json_utils.py:21-27). The catalog is net-new Spark-first surface.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from logparserhelper_spark.sinks.catalog import (
    HadoopCatalog,
    NamespaceNotEmpty,
    NoSuchNamespace,
    NoSuchView,
    TableAlreadyExists,
    create_table_at,
    ident_location,
    split_ident,
)
from logparserhelper_spark.sinks.hadoop_table import HadoopTable, NoSuchTable
from logparserhelper_spark.sinks.table_sql import table_sql


@pytest.fixture()
def cat(spark, tmp_path):
    return HadoopCatalog(spark, str(tmp_path / "wh"))


def _seed(spark, cat, ident="ns.t", rows=5):
    ns = split_ident(ident)[:-1]
    if ns and not cat.namespace_exists(ns):
        cat.create_namespace(ns)
    t = cat.create_table(ident, "k int, v string", partition_by=None)
    t.append(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(rows)], "k int, v string"
        )
    )
    return t


# --------------------------------------------------------------- idents
def test_split_ident_validation():
    assert split_ident("a.b.c") == ("a", "b", "c")
    assert split_ident(("a", "b")) == ("a", "b")
    for bad in ("", "a..b", "a/b", "../x", "a.b-", "a b", ".a", "a."):
        with pytest.raises(ValueError):
            split_ident(bad)


def test_ident_location_pure_mapping(tmp_path):
    assert ident_location(str(tmp_path), "a.b") == str(tmp_path / "a" / "b")
    with pytest.raises(ValueError):
        ident_location(str(tmp_path), "../escape")


# ----------------------------------------------------------- namespaces
def test_namespace_lifecycle(cat):
    cat.create_namespace("a")
    cat.create_namespace("a.b")
    assert cat.namespace_exists("a.b")
    assert cat.list_namespaces() == [("a",)]
    assert cat.list_namespaces("a") == [("a", "b")]
    with pytest.raises(ValueError):
        cat.create_namespace("a")  # already exists
    with pytest.raises(NamespaceNotEmpty):
        cat.drop_namespace("a")  # holds a.b
    cat.drop_namespace("a.b")
    cat.drop_namespace("a")
    assert cat.list_namespaces() == []
    with pytest.raises(NoSuchNamespace):
        cat.drop_namespace("a")
    with pytest.raises(NoSuchNamespace):
        cat.list_namespaces("ghost")


# --------------------------------------------------------------- tables
def test_create_load_read_parity(spark, cat):
    t = _seed(spark, cat)
    # catalog handle and a raw path handle see the same table
    direct = HadoopTable(spark, cat.location("ns.t"))
    a = sorted(r.k for r in t.read().collect())
    b = sorted(r.k for r in direct.read().collect())
    assert a == b == list(range(5))
    assert cat.list_tables("ns") == ["t"]
    assert cat.table_exists("ns.t") and not cat.table_exists("ns.ghost")
    with pytest.raises(NoSuchTable):
        cat.load_table("ns.ghost")


def test_create_table_guards(spark, cat):
    with pytest.raises(NoSuchNamespace):
        cat.create_table("ghost.t", "k int")
    _seed(spark, cat)
    with pytest.raises(TableAlreadyExists):
        cat.create_table("ns.t", "k int")
    # empty table: readable, schema as declared, zero rows
    e = cat.create_table("ns.empty", "a bigint, b string")
    assert e.read().count() == 0
    assert dict(e.read().dtypes) == {"a": "bigint", "b": "string"}


def test_create_table_hidden_spec_and_properties(spark, cat):
    cat.create_namespace("ns")
    t = cat.create_table(
        "ns.h",
        "id bigint, ts timestamp",
        partition_by=["bucket(4, id)"],
        properties={"history.keep-last": "3"},
    )
    assert t.properties()["history.keep-last"] == "3"
    df = spark.createDataFrame([(i,) for i in range(20)], "id bigint").select(
        "id", F.timestamp_seconds(F.lit(0)).alias("ts")
    )
    t.append(df)
    snap = t.snapshot()
    assert [f.transform for f in snap.spec] == ["bucket"]
    assert t.read().count() == 20


def test_drop_table_purge_guard(spark, cat):
    _seed(spark, cat)
    with pytest.raises(ValueError, match="purge"):
        cat.drop_table("ns.t")
    cat.drop_table("ns.t", purge=True)
    assert cat.list_tables("ns") == []
    with pytest.raises(NoSuchTable):
        cat.drop_table("ns.t", purge=True)


def test_rename_table_preserves_snapshots_and_deletes(spark, cat):
    t = _seed(spark, cat)
    # force a merge-on-read position delete so the rename carries a
    # delete file whose file_path entries must stay valid (rel paths)
    t.set_properties({"write.delete.mode": "merge-on-read"})
    t.delete([("k", "=", 2)])
    cat.create_namespace("ns2")
    cat.rename_table("ns.t", "ns2.moved")
    assert cat.list_tables("ns") == []
    m = cat.load_table("ns2.moved")
    assert sorted(r.k for r in m.read().collect()) == [0, 1, 3, 4]
    # history traveled with the directory
    assert len(m.versions()) >= 3
    with pytest.raises(NoSuchTable):
        cat.rename_table("ns.ghost", "ns2.x")
    _seed(spark, cat, "ns.u")
    with pytest.raises(TableAlreadyExists):
        cat.rename_table("ns.u", "ns2.moved")
    with pytest.raises(NoSuchNamespace):
        cat.rename_table("ns.u", "ghost.u")


def test_create_table_at_race_semantics(spark, tmp_path):
    loc = str(tmp_path / "race")
    create_table_at(spark, loc, "k int")
    with pytest.raises(TableAlreadyExists):
        create_table_at(spark, loc, "k int")
    with pytest.raises(ValueError):
        create_table_at(spark, str(tmp_path / "x"))  # neither schema nor data


# ---------------------------------------------------------------- views
def test_view_create_read_versions(spark, cat):
    _seed(spark, cat)
    doc = cat.create_view("ns.low", "SELECT k FROM ns.t WHERE k < 2")
    assert doc["view_version"] == 1
    assert sorted(r.k for r in cat.read_view("ns.low").collect()) == [0, 1]
    with pytest.raises(TableAlreadyExists):
        cat.create_view("ns.low", "SELECT 1")
    doc2 = cat.create_view(
        "ns.low", "SELECT k FROM ns.t WHERE k < 3", replace=True
    )
    assert doc2["view_version"] == 2
    assert cat.view_versions("ns.low") == [1, 2]
    assert sorted(r.k for r in cat.read_view("ns.low").collect()) == [0, 1, 2]
    # old version still loadable
    assert "k < 2" in cat.load_view("ns.low", version=1)["sql"]
    cat.drop_view("ns.low")
    with pytest.raises(NoSuchView):
        cat.read_view("ns.low")
    assert cat.list_views("ns") == []


def test_view_sees_table_changes_lazily(spark, cat):
    t = _seed(spark, cat)
    cat.create_view("ns.all", "SELECT k FROM ns.t")
    t.append(spark.createDataFrame([(99, "x")], "k int, v string"))
    # views resolve at READ time (Iceberg views are late-binding)
    assert 99 in {r.k for r in cat.read_view("ns.all").collect()}


def test_view_default_namespace_bare_name(spark, cat):
    _seed(spark, cat)
    # unqualified FROM t resolves against the view's own namespace
    cat.create_view("ns.bare", "SELECT count(*) AS n FROM t")
    assert cat.read_view("ns.bare").collect()[0].n == 5


def test_view_on_view_and_cycle_guard(spark, cat):
    _seed(spark, cat)
    cat.create_view("ns.a", "SELECT k FROM ns.t")
    cat.create_view("ns.b", "SELECT k FROM ns.a WHERE k > 0")
    assert sorted(r.k for r in cat.read_view("ns.b").collect()) == [1, 2, 3, 4]
    # attempting a cycle: replacing a to read from b would make a->b->a.
    # create_view validates by resolving NOW with `a` already on the seen
    # set, so the cycle is rejected at CREATE time and can never commit.
    with pytest.raises(ValueError, match="cycle"):
        cat.create_view("ns.a", "SELECT k FROM ns.b", replace=True)
    assert cat.view_versions("ns.a") == [1]  # no version landed
    assert sorted(r.k for r in cat.read_view("ns.b").collect()) == [1, 2, 3, 4]


def test_view_validates_at_create(spark, cat):
    cat.create_namespace("ns")
    with pytest.raises(Exception):
        cat.create_view("ns.bad", "SELECT k FROM ns.missing_table")


def test_view_name_collisions(spark, cat):
    _seed(spark, cat)
    with pytest.raises(TableAlreadyExists):
        cat.create_view("ns.t", "SELECT 1")  # a table holds the name
    cat.create_view("ns.v", "SELECT k FROM ns.t")
    with pytest.raises(TableAlreadyExists):
        cat.create_table("ns.v", "k int")  # a view holds the name
    # listings keep kinds apart
    assert cat.list_tables("ns") == ["t"]
    assert cat.list_views("ns") == ["v"]


# --------------------------------------------------- SQL resolution
def test_resolve_longest_prefix_and_aliases(spark, cat):
    _seed(spark, cat)
    # fully-qualified column reference: ns.t resolves, .k stays
    out = cat._run_sql("SELECT ns.t.k FROM ns.t WHERE ns.t.k = 3")
    assert [r.k for r in out.collect()] == [3]
    # alias member access (x.k) must NOT be catalog-bound
    out = cat._run_sql("SELECT x.k FROM ns.t x WHERE x.k = 1")
    assert [r.k for r in out.collect()] == [1]


def test_resolve_masks_string_literals(spark, cat):
    _seed(spark, cat)
    out = cat._run_sql("SELECT 'ns.t' AS s, count(*) AS n FROM ns.t")
    row = out.collect()[0]
    assert row.s == "ns.t" and row.n == 5


def test_resolve_cte_shadows_catalog(spark, cat):
    # a warehouse-ROOT table named t exists — but a CTE of the same
    # name must win inside its query (SQL scoping)
    t = cat.create_table("t", "k int")
    t.append(spark.createDataFrame([(7,)], "k int"))
    out = cat._run_sql("WITH t AS (SELECT 42 AS k) SELECT k FROM t")
    assert [r.k for r in out.collect()] == [42]
    # and without the CTE, the bare root-level name resolves
    out = cat._run_sql("SELECT k FROM t")
    assert [r.k for r in out.collect()] == [7]


def test_select_time_travel_version_and_ref(spark, cat):
    t = _seed(spark, cat)
    t.create_tag("audit")
    t.append(spark.createDataFrame([(50, "z")], "k int, v string"))
    cur = {r.k for r in cat._run_sql("SELECT k FROM ns.t").collect()}
    old = {r.k for r in cat._run_sql("SELECT k FROM ns.t@v2").collect()}
    tag = {r.k for r in cat._run_sql("SELECT k FROM ns.t@ref:audit").collect()}
    assert 50 in cur and 50 not in old and tag == old
    with pytest.raises(ValueError, match="tables, not views"):
        cat.create_view("ns.v0", "SELECT k FROM ns.t")
        cat._run_sql("SELECT k FROM ns.v0@v1")


# ------------------------------------------------------- SQL statements
def test_sql_namespace_and_show(spark, cat):
    table_sql(spark, "CREATE NAMESPACE ops", catalog=cat)
    assert table_sql(spark, "SHOW NAMESPACES", catalog=cat) == ["ops"]
    _seed(spark, cat)
    assert table_sql(spark, "SHOW TABLES IN ns", catalog=cat) == ["t"]
    cat.create_view("ns.v", "SELECT k FROM ns.t")
    assert table_sql(spark, "SHOW VIEWS IN ns", catalog=cat) == ["v"]
    table_sql(spark, "DROP NAMESPACE ops", catalog=cat)
    assert table_sql(spark, "SHOW NAMESPACES", catalog=cat) == ["ns"]


def test_sql_create_table_full_clause(spark, cat):
    table_sql(spark, "CREATE NAMESPACE lake", catalog=cat)
    t = table_sql(
        spark,
        "CREATE TABLE lake.ev (id bigint, kind string, amt decimal(10,2)) "
        "PARTITIONED BY (kind) TBLPROPERTIES ('owner'='me')",
        catalog=cat,
    )
    assert t.properties()["owner"] == "me"
    assert dict(t.read().dtypes)["amt"] == "decimal(10,2)"
    assert t.snapshot().partition_cols == ["kind"]
    with pytest.raises(ValueError, match="tail"):
        table_sql(
            spark,
            "CREATE TABLE lake.bad (k int) JUNK TRAILING",
            catalog=cat,
        )


def test_sql_ctas_insert_select(spark, cat):
    _seed(spark, cat)
    table_sql(
        spark,
        "CREATE TABLE ns.even AS SELECT k, v FROM ns.t WHERE k % 2 = 0",
        catalog=cat,
    )
    assert sorted(
        r.k for r in cat.load_table("ns.even").read().collect()
    ) == [0, 2, 4]
    table_sql(spark, "INSERT INTO ns.even VALUES (10, 'ten')", catalog=cat)
    table_sql(
        spark,
        "INSERT INTO ns.even SELECT k + 100, v FROM ns.t WHERE k = 1",
        catalog=cat,
    )
    assert sorted(
        r.k for r in cat.load_table("ns.even").read().collect()
    ) == [0, 2, 4, 10, 101]
    with pytest.raises(ValueError, match="columns"):
        table_sql(spark, "INSERT INTO ns.even VALUES (1)", catalog=cat)


def test_sql_insert_casts_store_assignment(spark, cat):
    cat.create_namespace("ns")
    cat.create_table("ns.typed", "k bigint, v double")
    table_sql(spark, "INSERT INTO ns.typed VALUES (1, 2)", catalog=cat)
    row = cat.load_table("ns.typed").read().collect()[0]
    assert row.k == 1 and abs(row.v - 2.0) < 1e-12
    assert dict(cat.load_table("ns.typed").read().dtypes) == {
        "k": "bigint",
        "v": "double",
    }


def test_sql_dml_by_identifier(spark, cat):
    _seed(spark, cat)
    table_sql(spark, "DELETE FROM ns.t WHERE k = 0", catalog=cat)
    table_sql(spark, "UPDATE ns.t SET v = 'upd' WHERE k IN (1, 2)", catalog=cat)
    rows = {r.k: r.v for r in cat.load_table("ns.t").read().collect()}
    assert 0 not in rows and rows[1] == "upd" and rows[3] == "v3"
    s = table_sql(spark, "CALL compact(ns.t)", catalog=cat)
    assert s is None or s.operation == "compact"
    table_sql(spark, "ALTER TABLE ns.t ADD COLUMN lang string", catalog=cat)
    assert "lang" in cat.load_table("ns.t").read().columns


def test_sql_merge_with_catalog_source(spark, cat):
    _seed(spark, cat)
    cat.create_namespace("src")
    cat.create_table(
        "src.updates",
        data=spark.createDataFrame(
            [(1, "one"), (50, "fifty")], "k int, v string"
        ),
    )
    table_sql(
        spark,
        """
        MERGE INTO ns.t t USING src.updates s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.v
        WHEN NOT MATCHED THEN INSERT *
        """,
        catalog=cat,
    )
    rows = {r.k: r.v for r in cat.load_table("ns.t").read().collect()}
    assert rows[1] == "one" and rows[50] == "fifty" and rows[2] == "v2"


def test_sql_rename_and_drop(spark, cat):
    _seed(spark, cat)
    table_sql(spark, "ALTER TABLE ns.t RENAME TO ns.t2", catalog=cat)
    assert cat.list_tables("ns") == ["t2"]
    with pytest.raises(ValueError, match="PURGE"):
        table_sql(spark, "DROP TABLE ns.t2", catalog=cat)
    table_sql(spark, "DROP TABLE ns.t2 PURGE", catalog=cat)
    assert cat.list_tables("ns") == []


def test_sql_views(spark, cat):
    _seed(spark, cat)
    table_sql(
        spark,
        "CREATE VIEW ns.small AS SELECT k FROM ns.t WHERE k <= 1",
        catalog=cat,
    )
    out = table_sql(spark, "SELECT * FROM ns.small ORDER BY k", catalog=cat)
    assert [r.k for r in out.collect()] == [0, 1]
    table_sql(
        spark,
        "CREATE OR REPLACE VIEW ns.small AS SELECT k FROM ns.t WHERE k <= 2",
        catalog=cat,
    )
    assert cat.view_versions("ns.small") == [1, 2]
    table_sql(spark, "DROP VIEW ns.small", catalog=cat)
    assert cat.list_views("ns") == []


def test_sql_requires_catalog_for_identifiers(spark, tmp_path):
    with pytest.raises(ValueError, match="catalog"):
        table_sql(spark, "DELETE FROM ns.t WHERE k = 1")
    with pytest.raises(ValueError, match="catalog"):
        table_sql(spark, "SELECT 1")
    with pytest.raises(ValueError, match="catalog"):
        table_sql(spark, "SHOW TABLES")
    # quoted-path statements keep working with no catalog
    loc = str(tmp_path / "p")
    create_table_at(spark, loc, "k int")
    assert HadoopTable(spark, loc).read().count() == 0


def test_sql_create_table_by_path_no_catalog(spark, tmp_path):
    loc = str(tmp_path / "pt")
    t = table_sql(
        spark, f"CREATE TABLE '{loc}' (k int, v string) PARTITIONED BY (v)"
    )
    assert t.snapshot().partition_cols == ["v"]
    with pytest.raises(TableAlreadyExists):
        table_sql(spark, f"CREATE TABLE '{loc}' (k int)")


def test_catalog_sql_entry_point(spark, cat):
    _seed(spark, cat)
    assert cat.sql("SHOW TABLES IN ns") == ["t"]
    assert cat.sql("SELECT count(*) AS n FROM ns.t").collect()[0].n == 5


# ------------------------------------------- DataSource / pipeline source


def test_catalog_scheme_transcripts_source(spark, cat, tmp_path):
    from logparserhelper_spark.datagen import generate_transcripts
    from logparserhelper_spark.sources.transcripts import read_transcripts

    data_dir = generate_transcripts(str(tmp_path / "data"), "tiny")
    raw = read_transcripts(spark, data_dir)
    cat.create_namespace("corpus")
    t = cat.create_table("corpus.turns", raw.schema)
    t.append(raw)
    got = read_transcripts(spark, f"catalog:{cat.warehouse}:corpus.turns")
    assert got.count() == raw.count()
    # time travel through the catalog scheme
    t.append(raw.limit(1))
    old = read_transcripts(spark, f"catalog:{cat.warehouse}:corpus.turns@v2")
    assert old.count() == raw.count()
    with pytest.raises(ValueError, match="catalog:"):
        read_transcripts(spark, "catalog:no_warehouse_part")


def test_catalog_source_ref_and_ts_suffixes(spark, cat, tmp_path):
    """``@ref:<name>`` and ``@ts:<iso>`` carry colons of their own: the
    suffix comes off before the warehouse is split from the identifier."""
    import datetime as dt

    from logparserhelper_spark.datagen import generate_transcripts
    from logparserhelper_spark.sources.transcripts import read_transcripts

    raw = read_transcripts(spark, generate_transcripts(str(tmp_path / "data"), "tiny"))
    cat.create_namespace("corpus")
    t = cat.create_table("corpus.turns", raw.schema)
    t.append(raw)
    t.create_tag("pinned")
    ts_ms = t.snapshot(t.current_version()).timestamp_ms
    iso = dt.datetime.fromtimestamp(ts_ms / 1000, dt.timezone.utc).isoformat(
        timespec="milliseconds"
    ).replace("+00:00", "Z")
    t.append(raw.limit(1))
    n = raw.count()
    base = f"catalog:{cat.warehouse}:corpus.turns"
    assert read_transcripts(spark, base).count() == n + 1
    assert read_transcripts(spark, f"{base}@ref:pinned").count() == n
    assert read_transcripts(spark, f"{base}@ts:{iso}").count() == n


def test_maintain_all_sweeps_fleet(spark, cat):
    _seed(spark, cat, "ns.a")
    _seed(spark, cat, "ns.b")
    cat.create_namespace("ns.sub")
    _seed(spark, cat, "ns.sub.c")
    cat.create_view("ns.v", "SELECT k FROM ns.a")  # views are skipped
    # give table a something to compact (two files, MoR delete)
    ta = cat.load_table("ns.a")
    ta.append(spark.createDataFrame([(50, "x")], "k int, v string"))
    ta.set_properties({"write.delete.mode": "merge-on-read"})
    ta.delete([("k", "=", 0)])
    out = cat.maintain_all()
    assert set(out) == {"ns.a", "ns.b", "ns.sub.c"}
    assert all("error" not in v for v in out.values())
    # content survived maintenance; the MoR delete was materialized
    assert sorted(r.k for r in ta.read().collect()) == list(range(1, 5)) + [50]
    assert not cat.load_table("ns.a").snapshot().delete_files
    # namespace scoping
    out = cat.maintain_all("ns.sub")
    assert set(out) == {"ns.sub.c"}
    with pytest.raises(NoSuchNamespace):
        cat.maintain_all("ghost")


def test_maintain_all_records_errors_and_continues(spark, cat, monkeypatch):
    _seed(spark, cat, "ns.ok")
    _seed(spark, cat, "ns.bad")
    from logparserhelper_spark.sinks import hadoop_table as ht

    orig = ht.HadoopTable.maintain

    def flaky(self, **kw):
        if self.root.endswith("bad"):
            raise RuntimeError("wedged")
        return orig(self, **kw)

    monkeypatch.setattr(ht.HadoopTable, "maintain", flaky)
    out = cat.maintain_all()
    assert out["ns.bad"] == {"error": "RuntimeError: wedged"}
    assert "error" not in out["ns.ok"]
