"""Merge-on-read row-level deletes (sinks/hadoop_table.py): Iceberg v2
position-delete and equality-delete files, sequence-number applicability,
delete-aware reads/mutations, and compaction that materializes and retires
delete files. Mirrors the Iceberg v2 spec semantics (row-level deletes,
data sequence numbers); reference N/A — the reference app has no sink
beyond whole-file JSON overwrite (utils/json_utils.py:21-27)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from logparserhelper_spark.sinks.hadoop_table import (
    CompactionConflict,
    HadoopTable,
)


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((x is None, x) for x in t),
    )


def _mk(spark, tmp_path, name="t", partitioned=True, n=20):
    loc = str(tmp_path / name)
    t = HadoopTable(spark, loc)
    df = spark.range(n).select(
        F.col("id"),
        (F.col("id") % 4).cast("string").alias("bucket"),
        (F.col("id") * 10).alias("val"),
    )
    t.append(df, ["bucket"] if partitioned else [])
    return t


# ---------------------------------------------------------------- position


def test_mor_delete_no_rewrite_and_content(spark, tmp_path):
    t = _mk(spark, tmp_path)
    before = {f.path for f in t.snapshot().data_files}
    s = t.delete([("id", "<", 5)], mode="merge-on-read")
    assert s is not None and s.operation == "delete"
    # NO data file was rewritten or dropped — only a delete file appeared
    assert {f.path for f in s.data_files} == before
    dels = s.delete_files
    assert len(dels) >= 1
    assert all(f.content == "position-deletes" for f in dels)
    assert sum(f.records for f in dels) == 5
    assert s.summary["deleted_records"] == 5
    assert s.total_records == 15
    got = _rows(t.read().select("id"))
    assert got == [(i,) for i in range(5, 20)]
    # time travel: the pre-delete snapshot still shows every row
    assert len(_rows(t.read(version=1))) == 20


def test_mor_delete_equals_cow_delete(spark, tmp_path):
    a = _mk(spark, tmp_path, "cow")
    b = _mk(spark, tmp_path, "mor")
    pred = [("val", ">=", 70), ("val", "<", 140)]
    a.delete(pred, mode="copy-on-write")
    b.delete(pred, mode="merge-on-read")
    assert _rows(a.read()) == _rows(b.read())


def test_mor_delete_is_idempotent_on_dead_rows(spark, tmp_path):
    """A second delete whose predicate covers already-dead rows records
    only the NEWLY dead ones — total_records stays exact."""
    t = _mk(spark, tmp_path)
    t.delete([("id", "<", 5)], mode="merge-on-read")
    s2 = t.delete([("id", "<", 8)], mode="merge-on-read")
    assert s2.summary["deleted_records"] == 3  # 5,6,7 — not 0-4 again
    assert s2.total_records == 12
    assert t.read().count() == 12
    # nothing matched at all -> no new snapshot
    assert t.delete([("id", "<", 8)], mode="merge-on-read") is None


def test_mor_delete_with_predicate_read(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete([("id", "=", 6)], mode="merge-on-read")
    got = _rows(t.read(predicate=[("id", ">=", 4), ("id", "<", 9)]).select("id"))
    assert got == [(4,), (5,), (7,), (8,)]


# ---------------------------------------------------------------- equality


def test_mor_upsert_matches_cow_upsert(spark, tmp_path):
    a = _mk(spark, tmp_path, "cow")
    b = _mk(spark, tmp_path, "mor")
    upd = spark.createDataFrame(
        [(3, "3", 999), (21, "1", 210)], "id long, bucket string, val long"
    )
    a.upsert(upd, ["id"], mode="copy-on-write")
    s = b.upsert(upd, ["id"], mode="merge-on-read")
    assert _rows(a.read()) == _rows(b.read())
    # MoR wrote no rewrite: every pre-existing data file is still there
    assert {f.path for f in b.snapshot(1).files} <= {
        f.path for f in s.data_files
    }
    eqs = [f for f in s.delete_files if f.content == "equality-deletes"]
    assert eqs and all(f.equality_cols == ["id"] for f in eqs)


def test_mor_upsert_own_inserts_survive_and_latest_wins(spark, tmp_path):
    """Sequence rule: an equality delete applies only to STRICTLY older
    files — the same commit's inserts survive, and stacked upserts keep
    the latest value per key."""
    t = _mk(spark, tmp_path, n=4)
    for v in (100, 200, 300):
        upd = spark.createDataFrame(
            [(2, "2", v)], "id long, bucket string, val long"
        )
        t.upsert(upd, ["id"], mode="merge-on-read")
    got = {r["id"]: r["val"] for r in t.read().collect()}
    assert got[2] == 300 and len(got) == 4


def test_mor_upsert_then_append_same_key_survives(spark, tmp_path):
    """A row appended AFTER the upsert has a HIGHER seq: the older
    equality delete must not reach it."""
    t = _mk(spark, tmp_path, n=4)
    t.upsert(
        spark.createDataFrame([(1, "1", 111)], "id long, bucket string, val long"),
        ["id"],
        mode="merge-on-read",
    )
    t.append(
        spark.createDataFrame([(1, "1", 222)], "id long, bucket string, val long")
    )
    vals = sorted(
        r["val"] for r in t.read().filter(F.col("id") == 1).collect()
    )
    assert vals == [111, 222]  # both post-delete rows live


def test_mor_upsert_duplicate_keys_raise(spark, tmp_path):
    t = _mk(spark, tmp_path, n=4)
    upd = spark.createDataFrame(
        [(1, "1", 5), (1, "1", 6)], "id long, bucket string, val long"
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        t.upsert(upd, ["id"], mode="merge-on-read")


def test_mor_upsert_null_key_matches_null(spark, tmp_path):
    """Iceberg equality deletes match nulls (eqNullSafe): an upsert keyed
    on a nullable column replaces the existing null-key row."""
    loc = str(tmp_path / "tnull")
    t = HadoopTable(spark, loc)
    t.append(
        spark.createDataFrame(
            [(None, 1), ("k", 2)], "key string, val long"
        )
    )
    t.upsert(
        spark.createDataFrame([(None, 10)], "key string, val long"),
        ["key"],
        mode="merge-on-read",
    )
    assert _rows(t.read()) == [("k", 2), (None, 10)]


# ------------------------------------------------- interaction with  CoW ops


def test_cow_ops_do_not_resurrect_mor_deleted_rows(spark, tmp_path):
    """A CoW upsert/delete rewrites files with the existing delete files
    APPLIED — dead rows must not come back in the rewrite."""
    t = _mk(spark, tmp_path)
    t.delete([("id", "=", 4)], mode="merge-on-read")  # kills id=4
    # CoW upsert touching the same file (id=8 lives in bucket 0 too)
    t.upsert(
        spark.createDataFrame([(8, "0", 888)], "id long, bucket string, val long"),
        ["id"],
        mode="copy-on-write",
    )
    ids = {r["id"] for r in t.read().collect()}
    assert 4 not in ids and 8 in ids
    assert t.read().filter("id = 8").first()["val"] == 888
    # the rewrite pruned the pos-delete entries for the rewritten file,
    # so total_records stays exact
    assert t.snapshot().total_records == t.read().count() == 19


def test_replace_partitions_prunes_pos_deletes(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete([("id", "=", 1)], mode="merge-on-read")  # bucket 1
    t.delete([("id", "=", 2)], mode="merge-on-read")  # bucket 2
    # overwrite bucket 1 wholesale: its pos-delete entries must retire,
    # bucket 2's must survive
    new1 = spark.createDataFrame(
        [(100, "1", 0)], "id long, bucket string, val long"
    )
    t.replace_partitions(new1, ["bucket"])
    snap = t.snapshot()
    assert snap.total_records == t.read().count()
    ids = {r["id"] for r in t.read().collect()}
    assert 100 in ids and 2 not in ids and 1 not in ids
    pos = [f for f in snap.delete_files if f.content == "position-deletes"]
    assert sum(f.records for f in pos) == 1  # only the bucket-2 entry left


# ----------------------------------------------------------------- compact


def test_compact_materializes_and_retires_deletes(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete([("id", "<", 3)], mode="merge-on-read")
    t.upsert(
        spark.createDataFrame([(9, "1", 90909)], "id long, bucket string, val long"),
        ["id"],
        mode="merge-on-read",
    )
    before = _rows(t.read())
    pre_v = t.current_version()
    s = t.compact()
    assert s is not None
    assert s.delete_files == []  # every delete file materialized + retired
    assert _rows(t.read()) == before
    assert s.total_records == t.read().count() == 17  # 20 - 3 deleted
    # time travel to the pre-compact snapshot still applies the deletes
    assert _rows(t.read(version=pre_v)) == before


def test_compact_conflicts_with_concurrent_mor_delete(spark, tmp_path):
    """A delete file committed between compaction's scan and its promote
    must abort the compaction — the rewrite never saw it."""
    t = _mk(spark, tmp_path)
    # force a bin-pack trigger: several small appends into one partition
    for i in range(3):
        t.append(
            spark.createDataFrame(
                [(100 + i, "0", i)], "id long, bucket string, val long"
            )
        )
    orig_stage = HadoopTable._stage
    state = {"fired": False}

    def racing_stage(self, df, pcols, spec=None, **kw):
        out = orig_stage(self, df, pcols, spec, **kw)
        if not state["fired"]:
            state["fired"] = True
            racer = HadoopTable(spark, t.location)
            assert (
                racer.delete([("id", "=", 7)], mode="merge-on-read")
                is not None
            )
        return out

    HadoopTable._stage = racing_stage
    try:
        with pytest.raises(CompactionConflict, match="delete file"):
            t.compact(target_file_bytes=1 << 30)
    finally:
        HadoopTable._stage = orig_stage
    # the racer's delete itself is intact
    assert 7 not in {r["id"] for r in t.read().collect()}


def test_cow_upsert_conflicts_with_concurrent_mor_delete(spark, tmp_path):
    t = _mk(spark, tmp_path)
    orig_stage = HadoopTable._stage
    state = {"fired": False}

    def racing_stage(self, df, pcols, spec=None, **kw):
        out = orig_stage(self, df, pcols, spec, **kw)
        if not state["fired"]:
            state["fired"] = True
            HadoopTable(spark, t.location).delete(
                [("id", "=", 19)], mode="merge-on-read"
            )
        return out

    HadoopTable._stage = racing_stage
    try:
        with pytest.raises(CompactionConflict, match="delete file"):
            t.upsert(
                spark.createDataFrame(
                    [(0, "0", 42)], "id long, bucket string, val long"
                ),
                ["id"],
                mode="copy-on-write",
            )
    finally:
        HadoopTable._stage = orig_stage


def test_mor_delete_conflicts_when_referenced_file_compacted(spark, tmp_path):
    """Compaction racing a MoR delete invalidates the recorded ordinals;
    the delete must abort, not land stale coordinates."""
    t = _mk(spark, tmp_path)
    for i in range(3):
        t.append(
            spark.createDataFrame(
                [(200 + i, "0", i)], "id long, bucket string, val long"
            )
        )
    orig_stage = HadoopTable._stage
    state = {"fired": False}

    def racing_stage(self, df, pcols, spec=None, **kw):
        out = orig_stage(self, df, pcols, spec, **kw)
        if not state["fired"]:
            state["fired"] = True
            HadoopTable(spark, t.location).compact(target_file_bytes=1 << 30)
        return out

    HadoopTable._stage = racing_stage
    try:
        with pytest.raises(CompactionConflict, match="re-run delete"):
            t.delete([("id", "=", 200)], mode="merge-on-read")
    finally:
        HadoopTable._stage = orig_stage


# ------------------------------------------------------------ other readers


def test_incremental_scan_unaffected_by_older_deletes(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete([("id", "<", 3)], mode="merge-on-read")
    v = t.current_version()
    t.append(
        spark.createDataFrame([(50, "2", 500)], "id long, bucket string, val long")
    )
    got = _rows(t.read_incremental(v).select("id"))
    assert got == [(50,)]
    # a MoR delete inside the range still refuses (non-append op)
    with pytest.raises(ValueError, match="non-append"):
        t.read_incremental(1)


def test_expire_keeps_delete_files_of_retained_snapshots(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete([("id", "<", 10)], mode="merge-on-read")
    before = _rows(t.read())
    t.expire_snapshots(keep_last=1, cleanup_older_than_sec=0)
    assert _rows(t.read()) == before
    # the delete file is referenced by the retained snapshot -> survived GC
    dels = t.snapshot().delete_files
    assert dels and all(
        os.path.exists(os.path.join(t.root, f.path)) for f in dels
    )


def test_streaming_upsert_sink_exactly_once_latest_wins(spark, tmp_path):
    """table_upsert_sink: a real file-source CDC stream of keyed change
    rows, one file per micro-batch — the table must read as latest row
    per key, replays must no-op, and a genuinely new batch advances the
    high-water mark."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from logparserhelper_spark.sinks.hadoop_table import (
        last_streaming_batch,
        table_upsert_sink,
    )

    sdir = str(tmp_path / "in")
    os.makedirs(sdir)
    # batch files: keys overlap across batches (k1 updated twice)
    batches = [
        [("k1", 1), ("k2", 1)],
        [("k1", 2), ("k3", 1)],
        [("k2", 2), ("k4", 1)],
    ]
    for i, rows in enumerate(batches):
        p = os.path.join(sdir, f"f{i}.parquet")
        pq.write_table(
            pa.table(
                {"key": [r[0] for r in rows], "val": [r[1] for r in rows]}
            ),
            p,
        )
        # the file source orders micro-batches by mtime in MILLISECONDS;
        # three sub-ms writes tie and make "latest wins" nondeterministic
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    loc = str(tmp_path / "tu")
    stream = (
        spark.readStream.schema("key string, val long")
        .option("maxFilesPerTrigger", "1")
        .parquet(sdir)
    )
    q = (
        stream.writeStream.foreachBatch(table_upsert_sink(loc, ["key"]))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    # a loaded box can exceed a short timeout — a partial run here is a
    # spurious failure, not an exactly-once violation
    assert q.awaitTermination(600), "availableNow stream did not finish"
    t = HadoopTable(spark, loc)
    got = {r["key"]: r["val"] for r in t.read().collect()}
    assert got == {"k1": 2, "k2": 2, "k3": 1, "k4": 1}
    assert last_streaming_batch(t) == 2
    v_done = t.current_version()

    # at-least-once redelivery of every batch: all no-ops
    sink = table_upsert_sink(loc, ["key"])
    for b, rows in enumerate(batches):
        sink(
            spark.createDataFrame(rows, "key string, val long"), b
        )
    assert t.current_version() == v_done
    assert {r["key"]: r["val"] for r in t.read().collect()} == got

    # a new batch updates + inserts; then compaction materializes and
    # the result is unchanged
    sink(
        spark.createDataFrame([("k4", 9), ("k5", 1)], "key string, val long"),
        3,
    )
    expect = {"k1": 2, "k2": 2, "k3": 1, "k4": 9, "k5": 1}
    assert {r["key"]: r["val"] for r in t.read().collect()} == expect
    t.compact()
    fresh = HadoopTable(spark, loc)
    assert fresh.snapshot().delete_files == []
    assert {r["key"]: r["val"] for r in fresh.read().collect()} == expect
    # the high-water mark survived compaction: replays still no-op
    v_after = fresh.current_version()
    sink(
        spark.createDataFrame([("k1", 777)], "key string, val long"), 3
    )
    assert fresh.current_version() == v_after
    assert HadoopTable(spark, loc).read().filter(
        "key = 'k1'"
    ).first()["val"] == 2


def test_streaming_upsert_sink_concurrent_delivery_races(spark, tmp_path):
    """Two concurrent deliveries of the SAME batch (zombie + restarted
    driver): exactly one lands — the loser's optimistic retry sees the
    stamped snapshot as its new parent and bails via the precondition."""
    import threading

    from logparserhelper_spark.sinks.hadoop_table import table_upsert_sink

    loc = str(tmp_path / "tr")
    sink = table_upsert_sink(loc, ["key"])
    sink(spark.createDataFrame([("a", 1)], "key string, val long"), 0)

    barrier = threading.Barrier(2)
    errs: list = []

    def deliver():
        df = spark.createDataFrame([("a", 2), ("b", 1)], "key string, val long")
        barrier.wait()
        try:
            sink(df, 1)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    ts = [threading.Thread(target=deliver) for _ in range(2)]
    [x.start() for x in ts]
    [x.join() for x in ts]
    assert not errs
    t = HadoopTable(spark, loc)
    # exactly one batch-1 commit landed: latest-wins content, no dup keys
    assert {r["key"]: r["val"] for r in t.read().collect()} == {
        "a": 2,
        "b": 1,
    }
    assert t.read().groupBy("key").count().filter("count > 1").count() == 0


def test_streaming_upsert_sink_first_batch_dup_keys_raise(spark, tmp_path):
    from logparserhelper_spark.sinks.hadoop_table import table_upsert_sink

    sink = table_upsert_sink(str(tmp_path / "td"), ["key"])
    with pytest.raises(ValueError, match="duplicate keys"):
        sink(
            spark.createDataFrame(
                [("a", 1), ("a", 2)], "key string, val long"
            ),
            0,
        )


def test_manifest_roundtrips_delete_fields(spark, tmp_path):
    t = _mk(spark, tmp_path, n=6)
    t.upsert(
        spark.createDataFrame([(0, "0", 7)], "id long, bucket string, val long"),
        ["id"],
        mode="merge-on-read",
    )
    fresh = HadoopTable(spark, t.location)  # re-read metadata from disk
    s = fresh.snapshot()
    eq = [f for f in s.delete_files if f.content == "equality-deletes"]
    assert eq[0].equality_cols == ["id"] and eq[0].seq == s.version
    assert all(f.seq >= 1 for f in s.files)
    assert _rows(fresh.read()) == _rows(t.read())


# ----------------------------------------------- partition-scoped deletes
def test_partition_scoped_eq_deletes_cut_fan_in(spark, tmp_path):
    """A MoR upsert whose keys cover the spec sources stages its
    equality-delete rows PARTITIONED (one delete file per touched
    partition, manifest tuple stamped — Iceberg's scoped delete files):
    data files in other partitions are provably out of reach, so
    compact() rewrites only the touched partitions, and content is exact
    everywhere — including a same-id row in another partition, which
    must SURVIVE."""
    from logparserhelper_spark.sinks.hadoop_table import _eq_reaches

    t = HadoopTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [("a", 1, "a1"), ("a", 2, "a2"), ("b", 1, "b1"), ("b", 2, "b2"),
             ("c", 1, "c1")],
            "sink string, id long, v string",
        ).coalesce(1),  # one file per partition: untouched partitions
        # are already compact, isolating the delete-materialization set
        partition_cols=["sink"],
    )
    # MoR upsert touching ONLY partition a (key covers the spec source)
    t.upsert(
        spark.createDataFrame([("a", 1, "A1!")], "sink string, id long, v string"),
        key_cols=["sink", "id"],
        mode="merge-on-read",
    )
    snap = t.snapshot()
    (eq,) = [f for f in snap.files if f.content == "equality-deletes"]
    assert eq.partition == {"sink": "a"}  # scoped, not table-wide
    # reach: only partition-a data files with older seq
    older_a = [f for f in snap.data_files
               if f.partition.get("sink") == "a" and f.seq < eq.seq]
    other = [f for f in snap.data_files if f.partition.get("sink") != "a"]
    assert older_a and all(_eq_reaches(eq, f) for f in older_a)
    assert other and not any(_eq_reaches(eq, f) for f in other)
    # content exact: b/c untouched, (b,1) survives despite sharing id=1
    # with the deleted (a,1)
    expect = [("a", 1, "A1!"), ("a", 2, "a2"), ("b", 1, "b1"),
              ("b", 2, "b2"), ("c", 1, "c1")]
    native = sorted(tuple(r) for r in t.read().select("sink", "id", "v").collect())
    assert native == expect
    # compact(): only partition a's files (plus the upsert's own new
    # file, which shares the partition) join the rewrite set
    before_other = {f.path for f in snap.data_files
                    if f.partition.get("sink") != "a"}
    new = t.compact(target_file_bytes=1 << 30)
    assert new is not None
    after_other = {f.path for f in new.data_files
                   if f.partition.get("sink") != "a"}
    assert before_other == after_other  # untouched partitions byte-identical
    assert not [f for f in new.files if f.content != "data"]  # delete retired
    native2 = sorted(tuple(r) for r in t.read().select("sink", "id", "v").collect())
    assert native2 == expect


def test_scoped_eq_delete_hidden_partitioning_and_unscoped_fallback(
    spark, tmp_path
):
    """Scoping composes with hidden partitioning (bucket transform: the
    key column stays in the delete file bytes, the derived value scopes
    the directory); a key set NOT covering the spec sources stages the
    old table-wide delete file."""
    t = HadoopTable(spark, str(tmp_path / "tb"))
    t.append(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(20)], "id long, v string"
        ),
        partition_cols=["bucket(4, id)"],
    )
    t.upsert(
        spark.createDataFrame([(7, "V7!")], "id long, v string"),
        key_cols=["id"],
        mode="merge-on-read",
    )
    snap = t.snapshot()
    (eq,) = [f for f in snap.files if f.content == "equality-deletes"]
    assert set(eq.partition) == {"id_bucket"}  # scoped to 7's bucket
    got = {r.id: r.v for r in t.read().collect()}
    assert got[7] == "V7!" and got[6] == "v6" and len(got) == 20
    # unscoped fallback: keys missing the spec source
    t2 = HadoopTable(spark, str(tmp_path / "tu"))
    t2.append(
        spark.createDataFrame(
            [("a", 1, "x"), ("b", 2, "y")], "sink string, k long, v string"
        ),
        partition_cols=["sink"],
    )
    t2.upsert(
        spark.createDataFrame([(2, "Y!")], "k long, v string").withColumn(
            "sink", F.lit("b")
        ).select("sink", "k", "v"),
        key_cols=["k"],  # does not cover source 'sink'
        mode="merge-on-read",
    )
    (eq2,) = [
        f for f in t2.snapshot().files if f.content == "equality-deletes"
    ]
    assert eq2.partition == {}  # table-wide, the pre-scoping behavior
    got2 = sorted(tuple(r) for r in t2.read().select("sink", "k", "v").collect())
    assert got2 == [("a", 1, "x"), ("b", 2, "Y!")]


# ------------------------------------------------------ merge-on-read UPDATE
def test_update_mor_rewrites_nothing(spark, tmp_path):
    """MoR update: ONE commit = a position-delete file (matched rows'
    coordinates) + a data file (those rows with assignments applied);
    every pre-existing data file is carried untouched; the read agrees
    with the CoW result; compact() materializes."""
    rows = [(i, f"v{i}", i % 3) for i in range(30)]
    t = HadoopTable(spark, str(tmp_path / "mor"))
    t.append(
        spark.createDataFrame(rows, "id long, v string, g int").coalesce(3)
    )
    before = {f.path for f in t.snapshot().data_files}
    s = t.update(
        [("g", "=", 1)], {"v": "UP"}, mode="merge-on-read"
    )
    assert s.operation == "update"
    assert s.summary["updated_records"] == 10
    # nothing rewritten: old data files all carried
    assert before <= {f.path for f in s.data_files}
    kinds = {f.content for f in s.files}
    assert "position-deletes" in kinds
    expect = sorted(
        (i, "UP" if i % 3 == 1 else f"v{i}", i % 3) for i in range(30)
    )
    assert sorted(tuple(r) for r in t.read().collect()) == expect
    assert s.total_records == 30
    # CoW twin produces identical content
    t2 = HadoopTable(spark, str(tmp_path / "cow"))
    t2.append(
        spark.createDataFrame(rows, "id long, v string, g int").coalesce(3)
    )
    t2.update([("g", "=", 1)], {"v": "UP"}, mode="copy-on-write")
    assert sorted(tuple(r) for r in t2.read().collect()) == expect
    # compact materializes: deletes retired, content unchanged
    t.compact(target_file_bytes=1 << 30)
    assert not [f for f in t.snapshot().files if f.content != "data"]
    assert sorted(tuple(r) for r in t.read().collect()) == expect


def test_update_mor_moves_partition_and_changelog(spark, tmp_path):
    """MoR update of a partition-source column lands the updated rows in
    their re-derived partition; the changelog replays to the final
    state; a no-match update is a no-op."""
    t = HadoopTable(spark, str(tmp_path / "mv"))
    t.append(
        spark.createDataFrame(
            [("a", 1), ("a", 2), ("b", 3)], "sink string, k int"
        ),
        partition_cols=["sink"],
    )
    s = t.update([("k", "=", 2)], {"sink": "b"}, mode="merge-on-read")
    new_data = [f for f in s.data_files if f.seq == s.version]
    assert new_data and all(f.partition == {"sink": "b"} for f in new_data)
    assert sorted((r.sink, r.k) for r in t.read().collect()) == [
        ("a", 1), ("b", 2), ("b", 3)
    ]
    assert t.update([("k", "=", 99)], {"sink": "z"},
                    mode="merge-on-read") is None
    # changelog replay-from-empty reproduces the final table
    ch = t.read_changes(0).collect()
    ins = [(r.sink, r.k) for r in ch if r._change_type == "insert"]
    dels = [(r.sink, r.k) for r in ch if r._change_type == "delete"]
    state: dict = {}
    for x in ins:
        state[x] = state.get(x, 0) + 1
    for x in dels:
        state[x] -= 1
    final = sorted(k for k, n in state.items() for _ in range(n))
    assert final == [("a", 1), ("b", 2), ("b", 3)]


def test_write_mode_table_properties(spark, tmp_path):
    """mode=None resolves Iceberg's write.update.mode /
    write.delete.mode / write.merge.mode table properties (explicit arg
    still wins); bad property values raise rather than half-apply."""
    t = HadoopTable(spark, str(tmp_path / "props"))
    t.append(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)], "id long, v string"
        ).coalesce(1)
    )
    t.set_properties({
        "write.update.mode": "merge-on-read",
        "write.delete.mode": "merge-on-read",
        "write.merge.mode": "merge-on-read",
    })
    s = t.update([("id", "=", 3)], {"v": "X"})
    assert s.summary["mode"] == "merge-on-read"
    s = t.delete([("id", "=", 4)])
    assert s.summary["mode"] == "merge-on-read"
    s = t.upsert(
        spark.createDataFrame([(5, "Y")], "id long, v string"),
        key_cols=["id"],
    )
    assert any(f.content == "equality-deletes" for f in s.files)
    got = {r.id: r.v for r in t.read().collect()}
    assert got[3] == "X" and got[5] == "Y" and 4 not in got and len(got) == 9
    # explicit arg overrides the property
    s = t.update([("id", "=", 6)], {"v": "Z"}, mode="copy-on-write")
    assert "position_delete_files" not in s.summary
    t.set_properties({"write.update.mode": "bogus"})
    with pytest.raises(ValueError, match="unknown update mode"):
        t.update([("id", "=", 7)], {"v": "W"})


# ------------------------------------------------------------- CDC sink

def _cdc_write(spark, loc, rows, batch_id, **kw):
    from logparserhelper_spark.sinks.hadoop_table import table_cdc_sink

    sink = table_cdc_sink(loc, ["key"], **kw)
    sink(
        spark.createDataFrame(rows, "key string, val long, op string"),
        batch_id,
    )


def test_cdc_sink_applies_inserts_updates_deletes(spark, tmp_path):
    """Each batch = ONE MoR commit: D keys die, I/U keys replace, all
    atomically; the table reads as current-row-per-key."""
    loc = str(tmp_path / "cdc")
    _cdc_write(
        spark, loc,
        [("k1", 1, "I"), ("k2", 1, "I"), ("k9", 0, "D")], 0,
    )
    t = HadoopTable(spark, loc)
    # first batch: D of a never-held key is a no-op, I rows create
    assert {r["key"]: r["val"] for r in t.read().collect()} == {
        "k1": 1, "k2": 1,
    }
    _cdc_write(
        spark, loc,
        [("k1", 2, "U"), ("k2", 0, "D"), ("k3", 1, "I")], 1,
    )
    assert {r["key"]: r["val"] for r in t.read().collect()} == {
        "k1": 2, "k3": 1,
    }
    s = t.snapshot()
    assert s.summary["mode"] == "merge-on-read"
    assert s.summary["streaming_batch_id"] == 1
    # no rewrite happened: batch-0 data files all still present
    v1_files = {f.path for f in t.snapshot(s.parent).data_files}
    assert v1_files <= {f.path for f in s.data_files}


def test_cdc_sink_replay_is_noop(spark, tmp_path):
    loc = str(tmp_path / "cdcr")
    _cdc_write(spark, loc, [("k1", 1, "I")], 0)
    _cdc_write(spark, loc, [("k1", 2, "U"), ("k2", 1, "I")], 1)
    t = HadoopTable(spark, loc)
    v = t.current_version()
    want = _rows(t.read())
    # redelivery of BOTH batches: no new commit, content unchanged
    _cdc_write(spark, loc, [("k1", 1, "I")], 0)
    _cdc_write(spark, loc, [("k1", 2, "U"), ("k2", 1, "I")], 1)
    assert t.current_version() == v
    assert _rows(t.read()) == want


def test_cdc_sink_validation(spark, tmp_path):
    loc = str(tmp_path / "cdcv")
    with pytest.raises(ValueError, match="op values outside"):
        _cdc_write(spark, loc, [("k1", 1, "X")], 0)
    with pytest.raises(ValueError, match="several changes"):
        _cdc_write(spark, loc, [("k1", 1, "I"), ("k1", 2, "U")], 0)
    with pytest.raises(ValueError, match="op values outside"):
        # NULL op must be refused, not silently treated as a delete
        _cdc_write(spark, loc, [("k1", 1, None)], 0)
    # nothing landed
    assert not HadoopTable(spark, loc).exists()
    # empty delivery commits nothing even on an existing table
    _cdc_write(spark, loc, [("k1", 1, "I")], 0)
    t = HadoopTable(spark, loc)
    v = t.current_version()
    _cdc_write(spark, loc, [], 1)
    assert t.current_version() == v


def test_cdc_sink_delete_only_batch_and_compact(spark, tmp_path):
    loc = str(tmp_path / "cdcd")
    _cdc_write(
        spark, loc, [("k1", 1, "I"), ("k2", 1, "I"), ("k3", 1, "I")], 0
    )
    _cdc_write(spark, loc, [("k1", 0, "D"), ("k3", 0, "D")], 1)
    t = HadoopTable(spark, loc)
    assert {r["key"] for r in t.read().collect()} == {"k2"}
    t.compact()
    assert not any(f.content != "data" for f in t.snapshot().files)
    assert {r["key"] for r in t.read().collect()} == {"k2"}


def test_cdc_sink_streaming_end_to_end(spark, tmp_path):
    """A real file-source change stream through foreachBatch: final
    state is the ops applied in batch order, and a full checkpointed
    re-run replays as no-ops."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from logparserhelper_spark.sinks.hadoop_table import table_cdc_sink

    sdir = str(tmp_path / "in")
    os.makedirs(sdir)
    batches = [
        [("k1", 1, "I"), ("k2", 1, "I")],
        [("k1", 2, "U"), ("k3", 1, "I")],
        [("k2", 0, "D"), ("k4", 1, "I")],
    ]
    for i, rows in enumerate(batches):
        p = os.path.join(sdir, f"f{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    "key": [r[0] for r in rows],
                    "val": [r[1] for r in rows],
                    "op": [r[2] for r in rows],
                }
            ),
            p,
        )
        # distinct mtimes: the file source orders batches by mtime (ms)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    loc = str(tmp_path / "cdct")

    def run_once():
        q = (
            spark.readStream.schema("key string, val long, op string")
            .option("maxFilesPerTrigger", "1")
            .parquet(sdir)
            .writeStream.foreachBatch(table_cdc_sink(loc, ["key"]))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(600), "stream did not finish"

    run_once()
    t = HadoopTable(spark, loc)
    assert {r["key"]: r["val"] for r in t.read().collect()} == {
        "k1": 2, "k3": 1, "k4": 1,
    }
    v = t.current_version()
    run_once()  # checkpoint replay: nothing new
    assert t.current_version() == v


# -------------------------------------------------- rewrite_delete_files

def test_rewrite_delete_files_consolidates_cdc_backlog(spark, tmp_path):
    """N CDC batches accrete N equality-delete files; one
    rewrite_delete_files pass swaps them ALL for a single consolidated
    position-delete file — content identical, data files untouched."""
    loc = str(tmp_path / "rdf")
    _cdc_write(spark, loc, [(f"k{i}", 1, "I") for i in range(6)], 0)
    for b in range(1, 5):
        _cdc_write(
            spark, loc,
            [(f"k{b}", b * 10, "U"), (f"k{5 - b}", 0, "D")][: 2 if b < 3 else 1],
            b,
        )
    t = HadoopTable(spark, loc)
    before = _rows(t.read())
    data_before = {f.path for f in t.snapshot().data_files}
    n_dels = len(t.snapshot().delete_files)
    assert n_dels >= 4
    s = t.rewrite_delete_files()
    assert s is not None and s.operation == "rewrite-deletes"
    dels = s.delete_files
    assert len(dels) == 1 and dels[0].content == "position-deletes"
    assert {f.path for f in s.data_files} == data_before
    assert s.summary["rewritten_delete_files"] == n_dels
    assert _rows(t.read()) == before
    assert s.total_records == t.read().count()
    # batch high-water mark survived the maintenance commit
    from logparserhelper_spark.sinks.hadoop_table import last_streaming_batch
    assert s.summary["streaming_batch_id"] == 4
    _cdc_write(spark, loc, [("k1", 99, "U")], 4)  # replay: still no-op
    assert _rows(t.read()) == before


def test_rewrite_delete_files_mixed_pos_and_eq(spark, tmp_path):
    t = _mk(spark, tmp_path, name="rdm")
    t.delete([("id", "<", 3)], mode="merge-on-read")  # position deletes
    t.upsert(
        spark.createDataFrame(
            [(5, "1", 555)], "id long, bucket string, val long"
        ),
        ["id"],
        mode="merge-on-read",
    )  # equality delete
    before = _rows(t.read())
    s = t.rewrite_delete_files()
    assert len(s.delete_files) == 1
    assert _rows(t.read()) == before
    assert s.summary["dead_records"] == 4  # ids 0,1,2 + old id=5 row


def test_rewrite_delete_files_noops(spark, tmp_path):
    t = _mk(spark, tmp_path, name="rdn")
    assert t.rewrite_delete_files() is None  # no delete files at all
    t.delete([("id", "=", 1)], mode="merge-on-read")
    assert t.rewrite_delete_files(min_count=2) is None  # below threshold
    assert t.rewrite_delete_files(min_count=1) is not None


def test_rewrite_delete_files_is_data_preserving_for_consumers(
    spark, tmp_path
):
    """The changelog emits zero rows for the rewrite version and an
    incremental append range passes over it."""
    t = _mk(spark, tmp_path, name="rdc", partitioned=False, n=6)
    t.delete([("id", "<", 2)], mode="merge-on-read")
    t.delete([("id", "=", 3)], mode="merge-on-read")
    s = t.rewrite_delete_files()
    ch = t.read_changes(s.parent, s.version)
    assert ch.count() == 0
    t.append(spark.createDataFrame([(100, "x", 0)], t.read().schema))
    inc = t.read_incremental(s.parent)  # spans rewrite-deletes + append
    assert {r["id"] for r in inc.collect()} == {100}


def test_rewrite_delete_files_future_rows_unaffected(spark, tmp_path):
    """Rows appended AFTER the conversion are untouched by the new
    position-delete file (it names only old coordinates), matching the
    seq semantics the replaced equality deletes had."""
    t = _mk(spark, tmp_path, name="rdt", n=4)
    t.upsert(
        spark.createDataFrame(
            [(1, "1", 111)], "id long, bucket string, val long"
        ),
        ["id"],
        mode="merge-on-read",
    )
    t.rewrite_delete_files(min_count=1)
    # an append re-adding key 1 must survive (the eq delete would not
    # have reached it either — higher seq)
    t.append(
        spark.createDataFrame(
            [(1, "1", 222)], "id long, bucket string, val long"
        )
    )
    vals = sorted(r["val"] for r in t.read().filter("id = 1").collect())
    assert vals == [111, 222]


def test_rewrite_delete_files_conflicts_with_concurrent_delete(
    spark, tmp_path
):
    t = _mk(spark, tmp_path, name="rdx")
    t.delete([("id", "=", 1)], mode="merge-on-read")
    t.delete([("id", "=", 2)], mode="merge-on-read")
    orig_stage = HadoopTable._stage
    state = {"fired": False}

    def racing_stage(self, df, pcols, spec=None, **kw):
        out = orig_stage(self, df, pcols, spec, **kw)
        if not state["fired"]:
            state["fired"] = True
            racer = HadoopTable(spark, t.location)
            HadoopTable._stage = orig_stage
            try:
                assert (
                    racer.delete([("id", "=", 7)], mode="merge-on-read")
                    is not None
                )
            finally:
                HadoopTable._stage = racing_stage
        return out

    HadoopTable._stage = racing_stage
    try:
        with pytest.raises(CompactionConflict, match="delete-file set"):
            t.rewrite_delete_files()
    finally:
        HadoopTable._stage = orig_stage
    # the racer's delete is intact; a re-run converges
    assert 7 not in {r["id"] for r in t.read().collect()}
    s = t.rewrite_delete_files()
    assert len(s.delete_files) == 1
    assert {r["id"] for r in t.read().collect()} == set(range(20)) - {1, 2, 7}


def test_rewrite_delete_files_sql_procedure(spark, tmp_path):
    from logparserhelper_spark.sinks.table_sql import table_sql

    t = _mk(spark, tmp_path, name="rds")
    t.delete([("id", "=", 1)], mode="merge-on-read")
    t.delete([("id", "=", 2)], mode="merge-on-read")
    s = table_sql(
        spark, f"CALL rewrite_position_delete_files('{t.location}')"
    )
    assert s.operation == "rewrite-deletes"
    assert len(s.delete_files) == 1
