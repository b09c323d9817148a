"""Full schema evolution on the snapshot table via field ids
(sinks/hadoop_table.py: add_column / rename_column / drop_column /
widen_column): every op is a metadata-only commit; existing files stay
readable forever through their per-file physical-column manifests; reads
project physical -> current by field id (rename -> alias, widen -> cast,
dropped -> omitted, re-added -> fresh id so old values never resurface)
— the Iceberg v2 schema-evolution semantics.

Reference parity note: the reference app (MaksimBrezho/logparserhelper)
has no table layer — its persistence is whole-file JSON overwrite
(utils/json_utils.py:21-27).
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from logparserhelper_spark.sinks.hadoop_table import (
    CompactionConflict,
    HadoopTable,
    _schema_ids,
)


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )


def _mk(spark, path, partitioned=True):
    t = HadoopTable(spark, str(path))
    df = spark.createDataFrame(
        [(i, i * 2, "u%d" % i, "s%d" % (i % 2)) for i in range(10)],
        "k int, v int, name string, sink string",
    )
    t.append(df, partition_cols=["sink"] if partitioned else [])
    return t


# ---------------------------------------------------------------- rename


def test_rename_is_metadata_only_and_reads_old_files(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    v1 = t.current_version()
    files_before = {f.path for f in t.snapshot().files}
    s = t.rename_column("v", "value")
    assert s.operation == "evolve-schema"
    assert {f.path for f in s.files} == files_before  # zero data movement
    got = t.read()
    assert "value" in got.columns and "v" not in got.columns
    assert got.agg(F.sum("value")).first()[0] == sum(i * 2 for i in range(10))
    # time travel reads the OLD shape
    old = t.read(version=v1)
    assert "v" in old.columns and "value" not in old.columns


def test_rename_mixes_old_and_new_files(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.rename_column("v", "value")
    t.append(
        spark.createDataFrame(
            [(100, 200, "u100", "s0")],
            "k int, value int, name string, sink string",
        ),
        partition_cols=["sink"],
    )
    got = _rows(t.read().select("k", "value"))
    assert (100, 200) in got and len(got) == 11
    # field id is preserved across the rename
    ids, _ = _schema_ids(t.snapshot().schema_json)
    assert ids["value"] == 2  # v was field 2 at creation


def test_rename_guards(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    with pytest.raises(ValueError, match="partition layout"):
        t.rename_column("sink", "route")  # identity partition column
    with pytest.raises(ValueError, match="no column"):
        t.rename_column("nope", "x")
    with pytest.raises(ValueError, match="exists"):
        t.rename_column("v", "name")
    # a hidden-spec SOURCE column is protected too
    t2 = HadoopTable(spark, str(tmp_path / "t2"))
    t2.append(
        spark.createDataFrame([(1, 7)], "k int, b int"),
        partition_cols=["bucket(4, b)"],
    )
    with pytest.raises(ValueError, match="partition layout"):
        t2.rename_column("b", "bb")


# ------------------------------------------------------------ drop / add


def test_drop_then_readd_never_resurrects(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.drop_column("name")
    assert "name" not in t.read().columns
    t.add_column("name", "string")
    assert [r[0] for r in t.read().select("name").collect()] == [None] * 10
    # but time travel to the pre-drop snapshot still sees the values
    pre = t.read(version=1)
    assert pre.filter(F.col("name").isNotNull()).count() == 10
    # the re-added field got a FRESH id
    ids, last = _schema_ids(t.snapshot().schema_json)
    assert ids["name"] == last and ids["name"] > 4


def test_add_column_then_write_and_filter_skips_old_files(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.add_column("score", "double")
    t.append(
        spark.createDataFrame(
            [(200, 1, "x", "s1", 0.5)],
            "k int, v int, name string, sink string, score double",
        ),
        partition_cols=["sink"],
    )
    # metrics skipping: files predating the column are provably
    # unmatchable for a comparison predicate
    assert len(t.plan_files(predicate=[("score", ">", 0.0)])) == 1
    assert t.read(predicate=[("score", ">", 0.0)]).count() == 1
    assert t.read(predicate=[("score", "is_null", None)]).count() == 10


# ----------------------------------------------------------------- widen


def test_widen_casts_old_files(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.widen_column("v", "bigint")
    assert dict(t.read().dtypes)["v"] == "bigint"
    assert t.read().agg(F.sum("v")).first()[0] == sum(i * 2 for i in range(10))
    # writes must use the widened type from now on
    t.append(
        spark.createDataFrame(
            [(300, 2**40, "big", "s0")],
            "k int, v long, name string, sink string",
        ),
        partition_cols=["sink"],
    )
    assert t.read().agg(F.max("v")).first()[0] == 2**40
    with pytest.raises(ValueError, match="not a lossless promotion"):
        t.widen_column("name", "int")
    with pytest.raises(ValueError, match="not a lossless promotion"):
        t.widen_column("v", "int")  # narrowing refused (already long)


# -------------------------------------------- interactions with mutations


def test_upsert_and_delete_after_rename(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.rename_column("v", "value")
    t.upsert(
        spark.createDataFrame(
            [(0, 999, "upd", "s0")],
            "k int, value int, name string, sink string",
        ),
        key_cols=["k"],
    )
    got = dict((r.k, r.value) for r in t.read().collect())
    assert got[0] == 999 and got[1] == 2 and len(got) == 10
    t.delete([("value", "=", 999)])
    assert t.read().count() == 9
    assert 0 not in {r.k for r in t.read().collect()}


def test_mor_delete_then_rename_then_read(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.delete([("k", "=", 3)], mode="merge-on-read")
    t.rename_column("v", "value")  # pos-deletes are path-keyed: safe
    assert t.read().count() == 9
    assert 3 not in {r.k for r in t.read().collect()}
    assert t.read().agg(F.sum("value")).first()[0] == sum(
        i * 2 for i in range(10) if i != 3
    )


def test_eq_delete_key_blocks_ddl_until_compact(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.upsert(
        spark.createDataFrame(
            [(1, 111, "m", "s1")],
            "k int, v int, name string, sink string",
        ),
        key_cols=["k"],
        mode="merge-on-read",
    )
    with pytest.raises(ValueError, match="equality-delete key"):
        t.rename_column("k", "key")
    t.compact()  # materializes + retires the delete
    t.rename_column("k", "key")
    got = dict((r.key, r.v) for r in t.read().collect())
    assert got[1] == 111 and len(got) == 10


def test_changelog_across_rename_uses_out_names(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", partitioned=False)
    t.rename_column("v", "value")
    t.append(
        spark.createDataFrame(
            [(50, 51, "new", "s0")],
            "k int, value int, name string, sink string",
        )
    )
    ch = t.read_changes(0)
    assert "value" in ch.columns and "v" not in ch.columns
    ins = ch.filter(F.col("_change_type") == "insert")
    # pre-rename inserts land in the renamed column, with their values
    assert ins.count() == 11
    assert ins.agg(F.sum("value")).first()[0] == sum(
        i * 2 for i in range(10)
    ) + 51
    # the evolve-schema snapshot itself emits no row changes
    assert ch.filter(
        F.col("_change_version") == 2
    ).count() == 0


def test_incremental_scan_spans_evolve_schema(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", partitioned=False)
    v1 = t.current_version()
    t.rename_column("v", "value")
    t.append(
        spark.createDataFrame(
            [(60, 61, "inc", "s1")],
            "k int, value int, name string, sink string",
        )
    )
    inc = t.read_incremental(v1)
    assert _rows(inc.select("k", "value")) == [(60, 61)]


def test_compact_migrates_then_preserves_rows(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    before = _rows(t.read())
    t.rename_column("v", "value")
    t.append(
        spark.createDataFrame(
            [(70, 71, "c", "s0")],
            "k int, value int, name string, sink string",
        ),
        partition_cols=["sink"],
    )
    t.compact(sort_by=["k"])  # SORT strategy rewrites every data file
    after = _rows(t.read().select("k", "value", "name", "sink"))
    assert len(after) == 11
    assert _rows(t.read(version=1)) == before  # time travel intact
    # post-compact files are annotated under the CURRENT names
    for f in t.snapshot().data_files:
        assert any(c["name"] == "value" for c in f.columns)


def test_branch_schema_evolves_independently(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", partitioned=False)
    b = t.create_branch("dev")
    b.rename_column("v", "value")
    assert "value" in b.read().columns
    assert "v" in t.read().columns  # main untouched


# ------------------------------------------------------------ concurrency


def test_concurrent_rename_aborts_inflight_compaction(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", partitioned=False)
    t.append(
        spark.createDataFrame(
            [(i, i, "x%d" % i, "s0") for i in range(5)],
            "k int, v int, name string, sink string",
        )
    )
    snap = t.snapshot()
    rewrite = list(snap.data_files)
    df = t._scan(snap, rewrite, guard=False)
    staged = t._stage(df, snap.partition_cols, snap.spec)
    # a rename lands between the compaction scan and its commit: the
    # staged files' physical names no longer resolve in the new schema
    t.rename_column("v", "value")
    with pytest.raises(CompactionConflict, match="renamed, dropped, or rebound"):
        t._commit_compaction(snap, rewrite, staged, snap.partition_cols)


# ------------------------------------------------------- metadata details


def test_field_ids_persist_and_never_reuse(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", partitioned=False)
    d0 = json.loads(t.snapshot().schema_json)
    assert d0["lph-field-ids"] == {"k": 1, "v": 2, "name": 3, "sink": 4}
    t.drop_column("name")
    t.add_column("extra", "int")
    d1 = json.loads(t.snapshot().schema_json)
    assert d1["lph-field-ids"]["extra"] == 5  # 3 is never reused
    assert d1["lph-last-field-id"] == 5
    # overwrite_all restarts the id space (no old files survive)
    t.overwrite_all(spark.createDataFrame([(1.5,)], "z double"))
    d2 = json.loads(t.snapshot().schema_json)
    assert d2["lph-field-ids"] == {"z": 1}


# ------------------------------------------------------- default values


def test_add_column_with_default_reads_on_old_files(spark, tmp_path):
    """Iceberg v3 initial-default: rows in files that predate the column
    read the default, not null — batch read and predicate skipping
    agree; explicit values and explicit nulls win."""
    t = _mk(spark, tmp_path / "t")
    t.add_column("lang", "string", default="en")
    assert {r.lang for r in t.read().collect()} == {"en"}
    # a later write omitting the column gets the default too (write-
    # default); one writing explicit values keeps them
    t.append(
        spark.createDataFrame(
            [(100, 1, "x", "s0")], "k int, v int, name string, sink string"
        ),
        partition_cols=["sink"],
    )
    t.append(
        spark.createDataFrame(
            [(101, 1, "y", "s1", None), (102, 1, "z", "s1", "fr")],
            "k int, v int, name string, sink string, lang string",
        ),
        partition_cols=["sink"],
    )
    got = {r.k: r.lang for r in t.read().collect()}
    assert got[100] == "en" and got[101] is None and got[102] == "fr"
    # predicate skipping treats predating files as constant-default
    assert t.read(predicate=[("lang", "=", "fr")]).count() == 1
    assert (
        t.read(predicate=[("lang", "=", "en")]).count() == 11
    )  # 10 old + k=100
    assert t.read(predicate=[("lang", "is_null", None)]).count() == 1
    # files provably constant-default are skipped for non-matching values
    n_planned = len(t.plan_files(predicate=[("lang", "=", "fr")]))
    assert n_planned < len(t.snapshot().data_files)


def test_default_survives_rename_and_dies_with_drop(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", partitioned=False)
    t.add_column("score", "double", default=1.5)
    t.rename_column("score", "quality")  # defaults are keyed by field id
    assert {r.quality for r in t.read().collect()} == {1.5}
    t.drop_column("quality")
    t.add_column("quality", "double")  # fresh id: no default attached
    assert {r.quality for r in t.read().collect()} == {None}


def test_default_in_changelog_and_rejected_types(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", partitioned=False)
    t.add_column("lang", "string", default="en")
    ch = t.read_changes(0)
    ins = ch.filter(F.col("_change_type") == "insert")
    assert {r.lang for r in ins.collect()} == {"en"}
    with pytest.raises(ValueError, match="JSON primitive"):
        t.add_column("bad", "string", default=["not", "primitive"])


# ----------------------------------------------- review-hardening cases


def test_changelog_across_overwrite_all_id_restart(spark, tmp_path):
    """overwrite_all restarts the field-id space: a new column that
    happens to reuse id 1 must NOT inherit the old id-1 column's values
    in the changelog (ids are only comparable within one epoch)."""
    t = HadoopTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(7, "a")], "k int, name string"))
    t.overwrite_all(spark.createDataFrame([(1.5,)], "z double"))
    ch = t.read_changes(0)
    by_ver = {
        (r._change_version, r._change_type): r
        for r in ch.collect()
    }
    # the v1 insert aligns by NAME across the epoch break: z is null
    # there, never the old k value coerced into it
    assert by_ver[(1, "insert")].z is None
    assert by_ver[(2, "insert")].z == 1.5
    assert by_ver[(2, "delete")].z is None  # the removed v1 row


def test_default_must_match_column_type(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", partitioned=False)
    with pytest.raises(ValueError, match="not a valid"):
        t.add_column("score", "int", default="oops")
    with pytest.raises(ValueError, match="not a valid"):
        t.add_column("flag", "boolean", default=1)
    with pytest.raises(ValueError, match="not a valid"):
        t.add_column("tiny", "tinyint", default=1000)  # out of range
    t.add_column("score", "int", default=3)  # valid one still works
    assert {r.score for r in t.read().collect()} == {3}


def test_concurrent_rename_readd_conflicts_compaction(spark, tmp_path):
    """The nastier race: rename v->value then re-add a fresh 'v' while a
    compaction is staged. The staged files' 'v' data is PRE-rename id-2
    data; stamping it with the re-added column's fresh id would
    resurrect it — the commit must abort instead."""
    t = _mk(spark, tmp_path / "t", partitioned=False)
    t.append(
        spark.createDataFrame(
            [(50, 51, "x", "s0")], "k int, v int, name string, sink string"
        )
    )
    snap = t.snapshot()
    rewrite = list(snap.data_files)
    staged = t._stage(
        t._scan(snap, rewrite, guard=False), snap.partition_cols, snap.spec
    )
    t.rename_column("v", "value")
    t.add_column("v", "int")  # same NAME alive again, different id
    with pytest.raises(CompactionConflict, match="rebound"):
        t._commit_compaction(snap, rewrite, staged, snap.partition_cols)


def test_append_racing_rename_conflicts_not_forks(spark, tmp_path):
    """A plain append staged under the old schema must CONFLICT when a
    rename lands first — not silently re-add the renamed-away name as a
    phantom new column holding only this write's rows."""
    t = _mk(spark, tmp_path / "t", partitioned=False)
    df = spark.createDataFrame(
        [(60, 61, "r", "s1")], "k int, v int, name string, sink string"
    )
    base = t.snapshot().schema_json
    staged = t._stage(df, [], [])
    t.rename_column("v", "value")
    with pytest.raises(CompactionConflict, match="rebound this write"):
        t._commit(staged, df, "append", [], spec=[], base_schema_json=base)
    # no phantom column was committed
    assert "v" not in t.read().columns


# ------------------------------------------ nested types + maintenance


def test_array_and_binary_columns_roundtrip_and_evolve(spark, tmp_path):
    """The transcripts/documents world carries array<float> embeddings
    and binary payloads: they must round-trip through the table and a
    rename (ids are type-agnostic); stats harvesting
    must skip them without breaking pruning on scalar columns."""
    t = HadoopTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(i, [float(i), i + 0.5], bytes([i, 255 - i])) for i in range(8)],
        "k int, emb array<float>, payload binary",
    )
    t.append(df)
    t.rename_column("emb", "embedding")
    got = {r.k: (list(r.embedding), bytes(r.payload)) for r in t.read().collect()}
    assert got[3] == ([3.0, 3.5], bytes([3, 252]))
    # scalar-column pruning still works alongside unprunable types
    assert len(t.plan_files(predicate=[("k", ">", 100)])) == 0
    # defaults stay refused for non-primitive types
    with pytest.raises(ValueError, match="not a valid"):
        t.add_column("vec", "array<float>", default=1.0)


def test_maintain_compacts_and_expires(spark, tmp_path):
    t = HadoopTable(spark, str(tmp_path / "t"))
    for i in range(4):  # 4 tiny appends -> 4 snapshots, small files
        t.append(
            spark.createDataFrame([(i, "v%d" % i)], "k int, v string")
        )
    t.delete([("k", "=", 2)], mode="merge-on-read")
    before = _rows(t.read())
    out = t.maintain(keep_last=1, orphan_grace_sec=0)
    assert out["compacted_version"] is not None
    assert len(out["expired_versions"]) >= 4
    assert _rows(t.read()) == before  # maintenance never changes rows
    assert not t.snapshot().delete_files  # MoR deletes materialized
    assert len(t.versions()) == 1  # retention applied
    # expired data files were garbage-collected (grace 0)
    live = {f.path for f in t.snapshot().files}
    on_disk = set()
    import os as _os

    for dirpath, _d, names in _os.walk(str(tmp_path / "t" / "data")):
        for n in names:
            if n.endswith(".parquet"):
                on_disk.add(
                    _os.path.relpath(
                        _os.path.join(dirpath, n), str(tmp_path / "t")
                    )
                )
    assert on_disk == live


def test_expire_older_than_keeps_window(spark, tmp_path):
    t = HadoopTable(spark, str(tmp_path / "t"))
    for i in range(3):
        t.append(spark.createDataFrame([(i,)], "k int"))
    cut = t.snapshot(2).timestamp_ms  # v2 commits AT the cut: retained
    dropped = t.expire_snapshots(
        keep_last=1, older_than_ms=cut, cleanup_older_than_sec=0
    )
    assert dropped == [1]
    assert t.versions() == [2, 3]


# ------------------------------------------------------ table properties


def test_properties_cas_carry_and_drive_maintenance(spark, tmp_path):
    import warnings

    t = HadoopTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1,)], "k int"))
    assert t.properties() == {}
    s = t.set_properties({"history.keep-last": 2, "owner": "corpus-team"})
    assert s.operation == "set-properties"
    assert t.properties()["history.keep-last"] == "2"
    # idempotent: same values commit nothing
    v = t.current_version()
    t.set_properties({"owner": "corpus-team"})
    assert t.current_version() == v
    # properties CARRY through every commit kind
    t.append(spark.createDataFrame([(2,)], "k int"))
    t.rename_column("k", "key")
    t.update_spec([])
    assert t.properties()["owner"] == "corpus-team"
    # they drive the defaults: keep-last 2 retains two snapshots
    t.append(spark.createDataFrame([(3,)], "key int"))
    t.expire_snapshots(cleanup_older_than_sec=0)
    assert len(t.versions()) == 2
    # unset
    t.unset_properties("owner")
    assert "owner" not in t.properties()
    # set-properties is metadata-only for incremental/changelog readers
    lo = t.current_version()
    t.set_properties({"x": "1"})
    t.append(spark.createDataFrame([(9,)], "key int"))
    assert [r.key for r in t.read_incremental(lo).collect()] == [9]
    ch = t.read_changes(lo)
    assert ch.filter(F.col("_change_type") == "insert").count() == 1


def test_union_roots_guard_reads_property(spark, tmp_path):
    import warnings

    t = HadoopTable(spark, str(tmp_path / "t"))
    for i in range(4):
        t.append(spark.createDataFrame([(i,)], "k int"))
    t.set_properties({"read.max-union-roots": 2})
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        t.read().count()
    assert any("max_union_roots=2" in str(x.message) for x in w)


def test_compact_target_from_property(spark, tmp_path):
    t = HadoopTable(spark, str(tmp_path / "t"))
    for i in range(3):
        t.append(spark.createDataFrame([(i, "x" * 50)], "k int, v string"))
    # a TINY per-file target from the property: want = ceil(bytes/200)
    # exceeds the file count, so the 3 small files are already compact
    # under the configured target and nothing rewrites
    t.set_properties({"write.target-file-size-bytes": 200})
    assert t.compact() is None
    # an explicit argument still overrides the property (want collapses
    # to 1 under a huge target -> bin-pack to one file)
    assert t.compact(target_file_bytes=1 << 30) is not None
    assert len(t.snapshot().data_files) == 1


def test_struct_column_roundtrip_rename_and_branch_properties(spark, tmp_path):
    """Top-level STRUCT columns flow through the manifests and the id
    projection (nested-field DDL has its own test family below);
    branches inherit the fork point's properties."""
    t = HadoopTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, ("alice", 30)), (2, ("bob", 40))],
        "k int, who struct<name string, age int>",
    )
    t.append(df)
    t.rename_column("who", "person")
    got = {r.k: (r.person.name, r.person.age) for r in t.read().collect()}
    assert got == {1: ("alice", 30), 2: ("bob", 40)}
    # defaults stay refused for struct types
    with pytest.raises(ValueError, match="JSON primitive|not a valid"):
        t.add_column("extra", "struct<a int>", default="x")
    # branches inherit properties from the fork point
    t.set_properties({"owner": "corpus"})
    b = t.create_branch("dev")
    assert b.properties()["owner"] == "corpus"
    b.set_properties({"owner": "dev-team"})
    assert t.properties()["owner"] == "corpus"  # main untouched


# ------------------------------------------------- nested struct evolution
def _mk_struct(spark, path):
    t = HadoopTable(spark, str(path))
    df = spark.createDataFrame(
        [(1, ("alice", 30, ("x", 7))), (2, ("bob", 40, ("y", 9))),
         (3, None)],
        "k int, who struct<name string, age int, "
        "inner struct<tag string, n int>>",
    )
    t.append(df)
    return t


def test_nested_rename_is_metadata_only_and_mixes_files(spark, tmp_path):
    """rename_column('who.name', 'full_name'): metadata-only (file set
    carried by reference), old files read under the new inner name by
    NESTED field id, new files written post-rename mix in exactly, and a
    NULL struct value stays null (the projection must not fabricate a
    struct of nulls)."""
    t = _mk_struct(spark, tmp_path / "t")
    files_before = {f.path for f in t.snapshot().files}
    s = t.rename_column("who.name", "full_name")
    assert s.operation == "evolve-schema"
    assert {f.path for f in s.files} == files_before
    df = t.read()
    assert "full_name" in df.schema["who"].dataType.fieldNames()
    got = {r.k: r.who for r in df.collect()}
    assert got[1].full_name == "alice" and got[1].age == 30
    assert got[1].inner.tag == "x" and got[1].inner.n == 7
    assert got[3] is None  # null struct preserved
    # post-rename write mixes with pre-rename files
    t.append(
        spark.createDataFrame(
            [(4, ("carol", 50, ("z", 1)))],
            "k int, who struct<full_name string, age int, "
            "inner struct<tag string, n int>>",
        )
    )
    got = {r.k: r.who for r in t.read().collect()}
    assert got[2].full_name == "bob" and got[4].full_name == "carol"
    # time travel reads the OLD inner name exactly
    old = t.read(version=1)
    assert "name" in old.schema["who"].dataType.fieldNames()
    assert {r.k: (r.who.name if r.who else None) for r in old.collect()}[
        2
    ] == "bob"
    # deep nesting: rename inside the inner struct
    t.rename_column("who.inner.tag", "label")
    got = {r.k: r.who for r in t.read().collect()}
    assert got[1].inner.label == "x" and got[4].inner.label == "z"


def test_nested_add_with_default_and_drop(spark, tmp_path):
    """add_column('who.city', default=...): old files read the default
    for the inner field; drop_column('who.age') hides the data without
    moving it; both metadata-only."""
    t = _mk_struct(spark, tmp_path / "t")
    t.add_column("who.city", "string", default="unknown")
    got = {r.k: r.who for r in t.read().collect()}
    assert got[1].city == "unknown" and got[2].city == "unknown"
    assert got[3] is None
    # a new write carries the field explicitly
    t.append(
        spark.createDataFrame(
            [(5, ("dave", 60, ("w", 2), "berlin"))],
            "k int, who struct<name string, age int, "
            "inner struct<tag string, n int>, city string>",
        )
    )
    got = {r.k: r.who for r in t.read().collect()}
    assert got[5].city == "berlin" and got[1].city == "unknown"
    s = t.drop_column("who.age")
    assert "age" not in HadoopTable(spark, t.location).read().schema[
        "who"
    ].dataType.fieldNames()
    # files untouched by both ops
    assert s.summary["added_files"] == 0
    # cannot drop a struct's last field / unknown paths raise
    with pytest.raises(ValueError, match="no column"):
        t.drop_column("who.nope")
    with pytest.raises(ValueError, match="not a struct"):
        t.rename_column("k.x", "y")


def test_nested_drop_readd_never_resurrects(spark, tmp_path):
    t = _mk_struct(spark, tmp_path / "t")
    t.drop_column("who.age")
    t.add_column("who.age", "int")
    got = {r.k: r.who for r in t.read().collect()}
    # the re-added inner name has a FRESH id: old values stay buried
    assert got[1].age is None and got[2].age is None
    ids, _ = _schema_ids(t.snapshot().schema_json)
    assert ids["who.age"] != 3  # not the original depth-first id
    # a new write's values DO surface
    t.append(
        spark.createDataFrame(
            [(6, ("eve", ("q", 5), 70))],
            "k int, who struct<name string, "
            "inner struct<tag string, n int>, age int>",
        )
    )
    got = {r.k: r.who for r in t.read().collect()}
    assert got[6].age == 70 and got[1].age is None


def test_nested_widen_casts_old_files(spark, tmp_path):
    t = _mk_struct(spark, tmp_path / "t")
    t.widen_column("who.age", "long")
    df = t.read()
    assert (
        df.schema["who"].dataType["age"].dataType.simpleString() == "bigint"
    )
    got = {r.k: r.who for r in df.collect()}
    assert got[1].age == 30
    with pytest.raises(ValueError, match="lossless"):
        t.widen_column("who.full_name" if False else "who.name", "int")


def test_nested_changelog_aligns_by_inner_id(spark, tmp_path):
    """read_changes across an inner rename emits every row under the OUT
    schema's inner names (a positional cast would break on inner
    add/drop; drop+re-add must emit null)."""
    t = _mk_struct(spark, tmp_path / "t")
    t.rename_column("who.name", "handle")
    t.add_column("who.score", "int", default=5)
    t.upsert(
        spark.createDataFrame(
            [(1, ("ALICE", 30, ("x", 7), 99))],
            "k int, who struct<handle string, age int, "
            "inner struct<tag string, n int>, score int>",
        ),
        key_cols=["k"],
    )
    ch = t.read_changes(0)
    rows = {(r.k, r._change_type): r.who for r in ch.collect()}
    # the v1 insert rows arrive ALIGNED: handle populated from old name,
    # score reads its default
    assert rows[(1, "insert")].handle in ("alice", "ALICE")
    ins_v1 = [
        r for r in ch.collect()
        if r.k == 2 and r._change_type == "insert"
    ]
    assert ins_v1[0].who.handle == "bob" and ins_v1[0].who.score == 5
    # the upsert emits delete(old aligned) + insert(new)
    dels = [r for r in ch.collect() if r._change_type == "delete"]
    assert len(dels) == 1 and dels[0].who.handle == "alice"


def test_nested_ddl_requires_annotated_files_then_compact(spark, tmp_path):
    """A live file whose manifest predates NESTED field ids (r7-era
    metadata) blocks nested DDL with the compact() migration message;
    compact() rewrites it fully annotated and the DDL then lands."""
    t = _mk_struct(spark, tmp_path / "t")
    # simulate an r7-era manifest: strip the nested id maps from the
    # current snapshot's entries and publish as a legacy inline payload
    snap = t.snapshot()
    stripped = []
    for f in snap.files:
        d = f.to_json()
        for c in d.get("columns") or []:
            c.pop("ids", None)
        stripped.append(d)
    legacy = {
        "format_version": 1,
        "version": snap.version + 1,
        "parent": snap.version,
        "operation": "append",
        "timestamp_ms": snap.timestamp_ms,
        "schema_json": snap.schema_json,
        "partition_cols": [],
        "summary": {},
        "files": stripped,
    }
    t._promote(legacy, snap.version + 1)
    t2 = HadoopTable(spark, t.location)
    with pytest.raises(ValueError, match="predate nested field ids"):
        t2.rename_column("who.name", "nom")
    assert t2.compact() is not None
    t2.rename_column("who.name", "nom")
    got = {r.k: r.who for r in t2.read().collect()}
    assert got[1].nom == "alice" and got[3] is None
