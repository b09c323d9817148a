"""Snapshot-table shim (sinks/hadoop_table.py): commit semantics, REPLACE
partitions, time travel, optimistic concurrency, and the mid-commit
SIGKILL matrix proving commit-or-nothing at every protocol point."""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
import threading

import pytest
from pyspark.sql import functions as F

from logparserhelper_spark.sinks.hadoop_table import (
    CommitConflict,
    HadoopTable,
    NoSuchTable,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((x is None, x) for x in t),
    )


def test_append_read_roundtrip_and_history(spark, tmp_path):
    loc = str(tmp_path / "t1")
    t = HadoopTable(spark, loc)
    assert not t.exists()
    with pytest.raises(NoSuchTable):
        t.current_version()

    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    s1 = t.append(df1)
    assert s1.version == 1 and s1.parent is None and s1.total_records == 2
    df2 = spark.createDataFrame([(3, "c")], "id long, v string")
    s2 = t.append(df2)
    assert s2.version == 2 and s2.parent == 1 and s2.total_records == 3

    assert _rows(t.read()) == [(1, "a"), (2, "b"), (3, "c")]
    # time travel: v1 still reads exactly the first commit
    assert _rows(t.read(version=1)) == [(1, "a"), (2, "b")]
    hist = t.history()
    assert [h["version"] for h in hist] == [1, 2]
    assert all(h["operation"] == "append" for h in hist)
    # schema survives the metadata round-trip
    assert t.read().schema == df1.schema


def test_replace_partitions_dynamic_overwrite(spark, tmp_path):
    """REPLACE semantics: partitions present in the write are swapped
    wholesale, absent partitions are untouched — and replaying the same
    write converges (the bucket-resume exactly-once property)."""
    loc = str(tmp_path / "t2")
    t = HadoopTable(spark, loc)
    base = spark.createDataFrame(
        [("err", 1, "x"), ("err", 2, "y"), ("ok", 3, "z")],
        "sink string, id long, v string",
    )
    t.append(base, partition_cols=["sink"])

    repl = spark.createDataFrame([("err", 9, "new")], "sink string, id long, v string")
    s2 = t.replace_partitions(repl)
    assert s2.operation == "replace"
    assert _rows(t.read()) == [(3, "z", "ok"), (9, "new", "err")] or _rows(
        t.read().select("sink", "id", "v")
    ) == [("err", 9, "new"), ("ok", 3, "z")]

    # replay the same replace: state converges, version advances
    t.replace_partitions(repl)
    assert _rows(t.read().select("sink", "id", "v")) == [
        ("err", 9, "new"),
        ("ok", 3, "z"),
    ]
    assert t.current_version() == 3
    # untouched partition's file is the ORIGINAL (no rewrite of absent partitions)
    ok_files_v1 = {f.path for f in t.snapshot(1).files if f.partition == {"sink": "ok"}}
    ok_files_v3 = {f.path for f in t.snapshot(3).files if f.partition == {"sink": "ok"}}
    assert ok_files_v1 == ok_files_v3

    # partitioning is fixed at table creation (explicit mismatch raises)
    with pytest.raises(ValueError):
        t.append(base, partition_cols=["v"])


def test_manifest_partition_pruning_and_filtered_read(spark, tmp_path):
    loc = str(tmp_path / "t3")
    t = HadoopTable(spark, loc)
    df = spark.createDataFrame(
        [(s, i) for s in ("a", "b", "c") for i in range(4)], "sink string, id long"
    )
    t.append(df, partition_cols=["sink"])
    got = t.read(partition_filter={"sink": "b"})
    assert _rows(got.select("sink", "id")) == [("b", 0), ("b", 1), ("b", 2), ("b", 3)]
    # empty prune result: still a well-typed (empty) DataFrame
    empty = t.read(partition_filter={"sink": "zzz"})
    assert empty.count() == 0
    assert set(empty.columns) == {"sink", "id"}


def test_concurrent_appends_no_lost_update(spark, tmp_path):
    """Optimistic concurrency: two writers racing on the same table must
    both land — conflicts retry against the new parent, never drop rows."""
    loc = str(tmp_path / "t4")
    t0 = HadoopTable(spark, loc)
    t0.append(spark.createDataFrame([(0,)], "id long"))
    errs: list[Exception] = []

    def writer(tag: int):
        try:
            t = HadoopTable(spark, loc)
            for i in range(4):
                t.append(spark.createDataFrame([(tag * 100 + i,)], "id long"))
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(k,)) for k in (1, 2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    assert t0.current_version() == 9  # 1 + 8 appends, versions dense
    assert t0.read().count() == 9
    # direct conflict surface: promoting an already-taken version raises
    snap = t0.snapshot()
    with pytest.raises(CommitConflict):
        t0._promote({"version": snap.version, "parent": snap.parent,
                     "operation": "append", "timestamp_ms": 0,
                     "schema_json": snap.schema_json, "partition_cols": [],
                     "files": []}, snap.version)


def test_expire_snapshots_reclaims_only_dead_files(spark, tmp_path):
    loc = str(tmp_path / "t5")
    t = HadoopTable(spark, loc)
    df_a = spark.createDataFrame([("a", 1)], "sink string, id long")
    df_a2 = spark.createDataFrame([("a", 2)], "sink string, id long")
    t.append(df_a, partition_cols=["sink"])
    t.replace_partitions(df_a2)  # v2: v1's file now only referenced by v1
    dead = {f.path for f in t.snapshot(1).files}
    live = {f.path for f in t.snapshot(2).files}
    dropped = t.expire_snapshots(keep_last=1, cleanup_older_than_sec=0)
    assert dropped == [1]
    root = t.root
    assert all(not os.path.exists(os.path.join(root, p)) for p in dead - live)
    assert all(os.path.exists(os.path.join(root, p)) for p in live)
    assert _rows(t.read().select("sink", "id")) == [("a", 2)]
    with pytest.raises(NoSuchTable):
        t.read(version=1)


_KILL_RUNNER = r"""
import os, sys
sys.path.insert(0, {repo!r})
from logparserhelper_spark.session import build_session
from logparserhelper_spark.sinks.hadoop_table import HadoopTable
spark = build_session(parallelism=2, app_name="shim-kill", shuffle_partitions=2)
t = HadoopTable(spark, {loc!r})
df2 = spark.createDataFrame([("err", 9), ("new", 7)], "sink string, id long")
os.environ["LPH_TABLE_FAULT"] = {fault!r}
print("ATTEMPT", flush=True)
t.replace_partitions(df2)
print("SURVIVED", flush=True)  # only reachable when the fault never fired
"""


@pytest.mark.parametrize(
    "fault,committed",
    [
        ("mid-stage", False),
        ("after-stage", False),
        ("before-manifest-write", False),
        ("after-manifest-write", False),
        ("after-tmp-meta", False),
        ("after-commit", True),
    ],
)
def test_sigkill_mid_commit_is_commit_or_nothing(spark, tmp_path, fault, committed):
    """SIGKILL the writer process at each commit-protocol point. Before the
    atomic metadata promotion the table must read back EXACTLY the prior
    snapshot (staged debris is invisible and reclaimable); after it, the new
    snapshot must be fully live even though the writer died before updating
    the version hint. Then a fresh writer must succeed on the same table."""
    loc = str(tmp_path / f"tk_{fault}")
    t = HadoopTable(spark, loc)
    df1 = spark.createDataFrame(
        [("err", 1), ("ok", 2)], "sink string, id long"
    )
    t.append(df1, partition_cols=["sink"])
    before = _rows(t.read().select("sink", "id"))

    code = _KILL_RUNNER.format(repo=REPO, loc=loc, fault=fault)
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == -9, (proc.returncode, proc.stdout, proc.stderr)
    assert "ATTEMPT" in proc.stdout and "SURVIVED" not in proc.stdout

    t2 = HadoopTable(spark, loc)
    if not committed:
        assert t2.current_version() == 1
        assert _rows(t2.read().select("sink", "id")) == before
        # the died commit's staged files (and any stale temp metadata the
        # kill stranded) are orphans. Under the default in-flight-writer
        # grace period the fresh debris is deliberately RETAINED (it could
        # belong to a live commit); with the grace waived it is reclaimed,
        # and v1 stays intact either way.
        assert t2.cleanup_orphans() == []  # fresh debris inside grace
        t2.cleanup_orphans(older_than_sec=0)
        assert _rows(t2.read().select("sink", "id")) == before
        metas = os.listdir(os.path.join(t2.root, "metadata"))
        assert all(
            m.startswith("v") or m in ("version-hint.text", "manifests")
            for m in metas
        )
        # the grace-waived cleanup also reclaimed any manifest the dead
        # attempt stranded: only v1's manifest remains referenced
        man_dir = os.path.join(t2.root, "metadata", "manifests")
        live_manifests = {p for p, _ in (t2.snapshot().manifests or [])}
        assert {
            os.path.join("metadata", "manifests", m)
            for m in os.listdir(man_dir)
        } == live_manifests
    else:
        # the atomic step happened: v2 is fully live, stale hint is harmless
        assert t2.current_version() == 2
        assert _rows(t2.read().select("sink", "id")) == [
            ("err", 9),
            ("new", 7),
            ("ok", 2),
        ]
        hint = os.path.join(t2.root, "metadata", "version-hint.text")
        assert (not os.path.exists(hint)) or open(hint).read().strip() == "1"

    # recovery: a fresh writer lands the same logical commit successfully
    df2 = spark.createDataFrame([("err", 9), ("new", 7)], "sink string, id long")
    t2.replace_partitions(df2)
    assert _rows(t2.read().select("sink", "id")) == [
        ("err", 9),
        ("new", 7),
        ("ok", 2),
    ]


def test_pipeline_routed_through_snapshot_table(spark, tmp_path):
    """End-to-end production sink shape: the pipeline's routed fan-out
    lands in ONE snapshot table partitioned by (bucket, sink), each bucket
    a REPLACE-partitions commit. An injected failure + resume must (a)
    leave the table at the committed buckets' snapshot, (b) converge to
    the same row set as the parquet routed sink, (c) show the per-bucket
    snapshot history with time travel back to the first bucket."""
    from logparserhelper_spark.datagen import generate_transcripts
    from logparserhelper_spark.defaults import default_transform_bank
    from logparserhelper_spark.pipeline import (
        InjectedFailure,
        PipelineConfig,
        run_pipeline,
    )

    tiny = generate_transcripts(str(tmp_path / "data"), "tiny")
    common = dict(
        input_path=tiny,
        transform_bank=default_transform_bank(),
        role_dim_path=os.path.join(tiny, "role_dim.parquet"),
        tool_dim_path=os.path.join(tiny, "tool_dim.parquet"),
        n_buckets=3,
    )

    out_t = str(tmp_path / "out_table")
    with pytest.raises(InjectedFailure):
        run_pipeline(
            spark,
            PipelineConfig(
                out_dir=out_t, routed_format="table", fail_after_buckets=1, **common
            ),
        )
    t = HadoopTable(spark, os.path.join(out_t, "routed_table"))
    assert t.current_version() == 1  # exactly the committed bucket's snapshot
    v1_rows = t.read().count()

    run_pipeline(spark, PipelineConfig(out_dir=out_t, routed_format="table", **common))
    hist = t.history()
    assert [h["operation"] for h in hist] == ["replace"] * 3
    assert t.read(version=1).count() == v1_rows  # time travel to bucket 0

    out_p = str(tmp_path / "out_parquet")
    run_pipeline(spark, PipelineConfig(out_dir=out_p, **common))
    cols = ["bucket", "sink", "conv_id", "turn_idx", "pattern_id", "start", "end", "match"]
    got = {tuple(r) for r in t.read().select(*cols).collect()}
    # the parquet sink's bucket=<k> dirs surface as a discovered partition col
    exp_df = spark.read.parquet(os.path.join(out_p, "routed"))
    exp = {tuple(r) for r in exp_df.select(*cols).collect()}
    assert got == exp and len(got) > 0

    # replaying one bucket's commit converges (version grows, state equal)
    routed_b0 = t.read(partition_filter={"bucket": "0"})
    t.replace_partitions(routed_b0)
    assert {tuple(r) for r in t.read().select(*cols).collect()} == exp
    assert t.current_version() == 4


def test_read_types_follow_stored_schema_not_dir_inference(spark, tmp_path):
    """Partition values parse under the WRITTEN schema on every read path:
    a string partition value "00" must come back as the string "00" (dir
    inference would coerce it to int 0 — silent corruption) and the
    empty-prune path must agree with the data path on types."""
    loc = str(tmp_path / "t7")
    t = HadoopTable(spark, loc)
    df = spark.createDataFrame(
        [("00", 1), ("7", 2)], "shard string, id long"
    )
    t.append(df, partition_cols=["shard"])
    got = t.read()
    assert got.schema == df.schema
    assert _rows(got.select("shard", "id")) == [("00", 1), ("7", 2)]
    pruned_empty = t.read(partition_filter={"shard": "nope"})
    assert pruned_empty.schema == got.schema
    assert _rows(t.read(partition_filter={"shard": "00"}).select("shard", "id")) == [
        ("00", 1)
    ]


def test_write_table_modes(spark, tmp_path):
    """writer.write_table routes table: targets; modes other than append/
    overwrite are refused (errorifexists semantics are not silently
    downgraded to a partition replace)."""
    from logparserhelper_spark.sinks.writer import write_table

    loc = str(tmp_path / "t8")
    df = spark.createDataFrame([("a", 1)], "sink string, id long")
    write_table(df, f"table:{loc}", partition_by=["sink"])
    write_table(
        spark.createDataFrame([("b", 2)], "sink string, id long"),
        f"table:{loc}",
        partition_by=["sink"],
        mode="append",
    )
    t = HadoopTable(spark, loc)
    assert t.read().count() == 2
    assert [h["operation"] for h in t.history()] == ["replace", "append"]
    with pytest.raises(ValueError, match="append.*overwrite"):
        write_table(df, f"table:{loc}", partition_by=["sink"], mode="error")


def test_compact_binpacks_small_files(spark, tmp_path):
    """compact(): a partition accreting one small file per append is
    rewritten to its target file count; row content is UNCHANGED; compact
    partitions are left byte-identical; a no-op compaction returns None."""
    loc = str(tmp_path / "t9")
    t = HadoopTable(spark, loc)
    for i in range(5):  # 5 appends -> 5 small files in partition "a"
        t.append(
            spark.createDataFrame([("a", i), (None, 100 + i)], "sink string, id long"),
            partition_cols=["sink"],
        )
    before_rows = _rows(t.read().select("sink", "id"))
    snap_before = t.snapshot()
    a_files = [f for f in snap_before.files if f.partition == {"sink": "a"}]
    assert len(a_files) == 5

    new = t.compact()  # default 128MB target -> want=1 per partition
    assert new is not None and new.operation == "compact"
    assert _rows(t.read().select("sink", "id")) == before_rows
    by_part: dict = {}
    for f in new.files:
        by_part.setdefault(f.partition.get("sink"), []).append(f)
    assert len(by_part["a"]) == 1
    # the null partition (manifest key = the literal hive default dir
    # name) also compacted and kept its rows via the null-safe wants join
    assert len(by_part["__HIVE_DEFAULT_PARTITION__"]) == 1
    # nothing left to do -> no new snapshot
    assert t.compact() is None
    assert t.current_version() == new.version

    # multi-file want: a tiny target forces want>1 and the salt bounds the
    # per-partition file count at want
    t2 = HadoopTable(spark, str(tmp_path / "t10"))
    rows = [("x", i, "v" * 200) for i in range(400)]
    for chunk in range(4):
        t2.append(
            spark.createDataFrame(rows[chunk * 100:(chunk + 1) * 100],
                                  "sink string, id long, v string"),
            partition_cols=["sink"],
        )
    total = sum(f.bytes for f in t2.snapshot().files)
    target = total // 2  # want == 2 (ceil(total/target) with 4 files > 2)
    n2 = t2.compact(target_file_bytes=target)
    assert n2 is not None
    assert len(n2.files) <= 3  # want 2-3 files, down from 4
    assert t2.read().count() == 400
    assert {r.id for r in t2.read().select("id").collect()} == set(range(400))


def test_compact_conflict_detection(spark, tmp_path):
    """A commit that replaces a partition between compaction's read and
    its commit must raise CompactionConflict — blindly landing the staged
    rewrite would resurrect the overwritten rows."""
    from logparserhelper_spark.sinks.hadoop_table import CompactionConflict

    loc = str(tmp_path / "t11")
    t = HadoopTable(spark, loc)
    for i in range(3):
        t.append(
            spark.createDataFrame([("a", i)], "sink string, id long"),
            partition_cols=["sink"],
        )
    # simulate the race: replace partition "a" AFTER compact() has chosen
    # its source files, by interposing on _stage
    orig_stage = t._stage

    def racing_stage(df, pcols, spec=None, **kw):
        staged = orig_stage(df, pcols, spec)
        HadoopTable(spark, loc).replace_partitions(
            spark.createDataFrame([("a", 999)], "sink string, id long")
        )
        return staged

    t._stage = racing_stage
    with pytest.raises(CompactionConflict, match="re-run"):
        t.compact()
    # the table holds the concurrent writer's data, not the stale rewrite
    t_clean = HadoopTable(spark, loc)
    assert _rows(t_clean.read().select("sink", "id")) == [("a", 999)]
    # and a fresh compaction over the new snapshot succeeds (single file
    # already -> no-op)
    assert t_clean.compact() is None


def test_additive_schema_evolution(spark, tmp_path):
    """Iceberg-shaped evolution: a write may ADD columns (old files read
    back null there) or OMIT columns (its files read back null there);
    changing a column's type raises; time travel reads each snapshot
    under its own schema."""
    loc = str(tmp_path / "t12")
    t = HadoopTable(spark, loc)
    t.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    # widen: new column lands, old file reads null for it
    t.append(
        spark.createDataFrame([(2, "b", 3.5)], "id long, v string, score double")
    )
    got = {r.id: (r.v, r.score) for r in t.read().collect()}
    assert got == {1: ("a", None), 2: ("b", 3.5)}
    # narrow write: omitted column nulls for the new file only
    t.append(spark.createDataFrame([(3,)], "id long"))
    got = {r.id: (r.v, r.score) for r in t.read().collect()}
    assert got == {1: ("a", None), 2: ("b", 3.5), 3: (None, None)}
    # time travel: v1 still reads under its own (pre-evolution) schema
    assert t.read(version=1).columns == ["id", "v"]
    # type change refused
    with pytest.raises(ValueError, match="schema evolution"):
        t.append(spark.createDataFrame([("x", "y")], "id string, v string"))


def test_streaming_table_batch_sink_exactly_once(spark, tmp_path):
    """table_batch_sink: each micro-batch commit stamps its batch_id in
    the snapshot summary; a replayed batch is a no-op because the guard
    and the data share ONE atomic metadata swap. Driven by a real
    file-source stream, then replay simulated by re-invoking the sink
    with already-committed batch ids."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from logparserhelper_spark.sinks.hadoop_table import (
        last_streaming_batch,
        table_batch_sink,
    )

    sdir = str(tmp_path / "in")
    os.makedirs(sdir)
    for i in range(3):
        pq.write_table(
            pa.table({"id": [i * 10, i * 10 + 1], "sink": ["a", "b"]}),
            os.path.join(sdir, f"f{i}.parquet"),
        )
    loc = str(tmp_path / "t13")
    stream = (
        spark.readStream.schema("id long, sink string")
        .option("maxFilesPerTrigger", "1")
        .parquet(sdir)
    )
    q = (
        stream.writeStream.foreachBatch(table_batch_sink(loc, ["sink"]))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600), "stream did not finish"
    t = HadoopTable(spark, loc)
    assert t.read().count() == 6
    assert last_streaming_batch(t) == 2
    v_done = t.current_version()

    # replay every batch (at-least-once redelivery): all no-ops
    sink = table_batch_sink(loc, ["sink"])
    df0 = spark.createDataFrame([(0, "a"), (1, "b")], "id long, sink string")
    for b in range(3):
        sink(df0, b)
    assert t.current_version() == v_done
    assert t.read().count() == 6
    # a genuinely new batch commits and advances the high-water mark
    sink(spark.createDataFrame([(99, "a")], "id long, sink string"), 3)
    assert last_streaming_batch(HadoopTable(spark, loc)) == 3
    assert t.read().count() == 7


def test_upsert_copy_on_write(spark, tmp_path):
    """upsert(): matched keys replaced, new keys inserted, and ONLY files
    containing a matched key are rewritten — untouched files carry by
    path reference (file-granular copy-on-write, not a table rewrite)."""
    loc = str(tmp_path / "t15")
    t = HadoopTable(spark, loc)
    # three appends -> three files; keys 1-6 spread across them
    t.append(spark.createDataFrame([(1, "a1"), (2, "a2")], "id long, v string"))
    t.append(spark.createDataFrame([(3, "b1"), (4, "b2")], "id long, v string"))
    t.append(spark.createDataFrame([(5, "c1"), (6, "c2")], "id long, v string"))
    files_before = {f.path for f in t.snapshot().files}

    updates = spark.createDataFrame(
        [(2, "A2*"), (3, "B1*"), (99, "NEW")], "id long, v string"
    )
    new = t.upsert(updates, ["id"])
    assert new.operation == "upsert"
    rows = [(r.id, r.v) for r in t.read().collect()]
    assert len(rows) == 7  # no duplicate keys survive the merge
    assert dict(rows) == {
        1: "a1", 2: "A2*", 3: "B1*", 4: "b2", 5: "c1", 6: "c2", 99: "NEW"
    }
    # exactly the files holding key 2 and key 3 were rewritten (one each;
    # every append scattered its 2 rows across several part files, and
    # all the others — including key 1's and key 4's siblings — carry by
    # path reference, file-granular copy-on-write)
    files_after = {f.path for f in new.files}
    carried = files_before & files_after
    assert new.summary["rewritten_files"] == 2
    assert len(carried) == len(files_before) - 2
    assert carried <= files_before
    # upsert with only-new keys rewrites nothing
    n2 = t.upsert(spark.createDataFrame([(100, "X")], "id long, v string"), ["id"])
    assert n2.summary["rewritten_files"] == 0
    assert t.read().count() == 8

    # duplicate keys WITHIN the updates batch: refused (MERGE's
    # multiple-matches rule) — landing both would break key uniqueness
    with pytest.raises(ValueError, match="duplicate keys"):
        t.upsert(
            spark.createDataFrame([(7, "x"), (7, "y")], "id long, v string"), ["id"]
        )

    # a NEW column in updates evolves the schema additively instead of
    # being silently projected away
    t.upsert(
        spark.createDataFrame([(1, "a1+", 0.9)], "id long, v string, score double"),
        ["id"],
    )
    got2 = {r.id: (r.v, r.score) for r in t.read().collect()}
    assert got2[1] == ("a1+", 0.9) and got2[2] == ("A2*", None)

    # conflict rule: a concurrent overwrite of a touched file aborts
    from logparserhelper_spark.sinks.hadoop_table import CompactionConflict

    orig_stage = t._stage

    def racing_stage(df, pcols, spec=None, **kw):
        staged = orig_stage(df, pcols, spec)
        HadoopTable(spark, loc).overwrite_all(
            spark.createDataFrame([(0, "wiped")], "id long, v string")
        )
        return staged

    t._stage = racing_stage
    with pytest.raises(CompactionConflict, match="re-run"):
        t.upsert(spark.createDataFrame([(1, "z")], "id long, v string"), ["id"])
    assert {r.v for r in HadoopTable(spark, loc).read().collect()} == {"wiped"}


def test_upsert_detects_concurrent_append_of_merged_key(spark, tmp_path):
    """Serializable-isolation check: an append that lands a MERGED key
    between the upsert's scan and its commit must abort the upsert —
    keeping the new file while landing the update row would commit
    duplicate keys."""
    from logparserhelper_spark.sinks.hadoop_table import CompactionConflict

    loc = str(tmp_path / "t16")
    t = HadoopTable(spark, loc)
    t.append(spark.createDataFrame([(1, "a")], "id long, v string"))

    orig_stage = t._stage

    def racing_append(df, pcols, spec=None):
        staged = orig_stage(df, pcols)
        HadoopTable(spark, loc).append(
            spark.createDataFrame([(1, "racer")], "id long, v string")
        )
        return staged

    t._stage = racing_append
    with pytest.raises(CompactionConflict, match="merged key"):
        t.upsert(spark.createDataFrame([(1, "mine")], "id long, v string"), ["id"])
    # an UNRELATED concurrent append does not abort
    t2 = HadoopTable(spark, loc)
    orig2 = t2._stage

    def racing_unrelated(df, pcols, spec=None):
        staged = orig2(df, pcols)
        HadoopTable(spark, loc).append(
            spark.createDataFrame([(50, "other")], "id long, v string")
        )
        return staged

    t2._stage = racing_unrelated
    t2.upsert(spark.createDataFrame([(1, "mine2")], "id long, v string"), ["id"])
    rows = sorted((r.id, r.v) for r in HadoopTable(spark, loc).read().collect())
    assert (1, "mine2") in rows and (50, "other") in rows
    assert len([r for r in rows if r[0] == 1]) == 1


def test_streaming_mark_survives_maintenance_and_expiry(spark, tmp_path):
    """The streaming high-water mark carries forward through compact and
    snapshot expiry, so maintenance can never reopen the replay window;
    and the commit precondition (atomic with the swap) refuses a stale
    batch even when invoked directly."""
    from logparserhelper_spark.sinks.hadoop_table import (
        PreconditionFailed,
        last_streaming_batch,
        table_batch_sink,
    )

    loc = str(tmp_path / "t17")
    sink = table_batch_sink(loc)
    for b in range(3):
        sink(spark.createDataFrame([(b,)], "id long"), b)
        sink(spark.createDataFrame([(b,)], "id long"), b)  # immediate replay
    t = HadoopTable(spark, loc)
    assert t.read().count() == 3 and last_streaming_batch(t) == 2

    t.compact()  # maintenance commit without a batch id of its own
    t.expire_snapshots(keep_last=1, cleanup_older_than_sec=0)
    t2 = HadoopTable(spark, loc)
    assert last_streaming_batch(t2) == 2  # carried forward, not lost
    sink(spark.createDataFrame([(99,)], "id long"), 1)  # stale replay
    assert t2.read().count() == 3  # still a no-op after expiry
    sink(spark.createDataFrame([(99,)], "id long"), 3)
    assert t2.read().count() == 4

    # direct precondition surface: a guard that fails raises atomically
    with pytest.raises(PreconditionFailed):
        t2._commit(
            [], spark.createDataFrame([(0,)], "id long"), "append", [],
            precondition=lambda parent: False,
        )


def test_overwrite_all_can_retype_and_anchored_time_travel(spark, tmp_path):
    """overwrite_all keeps no old files, so it may retype columns (the
    supported full-rewrite escape hatch); and the table: source's @v
    suffix only fires when ANCHORED as @v<digits> at the end."""
    from logparserhelper_spark.sources.transcripts import read_transcripts

    loc = str(tmp_path / "t18")
    t = HadoopTable(spark, loc)
    t.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    t.overwrite_all(spark.createDataFrame([("one", "a")], "id string, v string"))
    assert t.read().schema["id"].dataType.simpleString() == "string"

    # a location whose PATH contains '@v' mid-way is just a path
    weird = str(tmp_path / "u@vm01" / "tbl")
    tw = HadoopTable(spark, weird)
    src = spark.createDataFrame(
        [("c1", 0, "user", "hello", None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    tw.append(src)
    tw.append(src.withColumn("text", F.lit("more")))
    assert read_transcripts(spark, f"table:{weird}").count() == 2
    assert read_transcripts(spark, f"table:{weird}@v1").count() == 1
    # @ref:<name> reads a pinned tag (the audit/repro input pin)
    tw.create_tag("first", version=1)
    assert read_transcripts(spark, f"table:{weird}@ref:first").count() == 1
    # ...or a BRANCH head (Iceberg's unified branch-or-tag resolution)
    tw.create_branch("wip")
    tw.branch("wip").append(src.withColumn("text", F.lit("branch-only")))
    assert read_transcripts(spark, f"table:{weird}@ref:wip").count() == 3
    assert read_transcripts(spark, f"table:{weird}").count() == 2


def test_incremental_append_scan(spark, tmp_path):
    """read_incremental(a, b): exactly the rows appended in (a, b];
    ranges crossing a non-append snapshot raise (Iceberg's rule — a
    replace makes 'what was added' ill-defined)."""
    loc = str(tmp_path / "t14")
    t = HadoopTable(spark, loc)
    t.append(spark.createDataFrame([(1,)], "id long"))
    t.append(spark.createDataFrame([(2,), (3,)], "id long"))
    t.append(spark.createDataFrame([(4,)], "id long"))
    assert {r.id for r in t.read_incremental(1).collect()} == {2, 3, 4}
    assert {r.id for r in t.read_incremental(1, 2).collect()} == {2, 3}
    assert {r.id for r in t.read_incremental(2, 3).collect()} == {4}
    assert t.read_incremental(3, 3).count() == 0  # empty delta

    t.overwrite_all(spark.createDataFrame([(9,)], "id long"))
    with pytest.raises(ValueError, match="non-append"):
        t.read_incremental(1)
    # a fresh append AFTER the overwrite is incrementally scannable again
    t.append(spark.createDataFrame([(10,)], "id long"))
    assert {r.id for r in t.read_incremental(4).collect()} == {10}


def test_pipeline_reads_from_snapshot_table_source(spark, tmp_path):
    """End-to-end input-side story: transcripts living IN a snapshot table
    (the north rule's input shape) drive the pipeline via the
    'table:<loc>' source — same routed rows as the parquet path, and a
    '@v<N>' suffix time-travels the input."""
    from logparserhelper_spark.datagen import generate_transcripts
    from logparserhelper_spark.defaults import default_transform_bank
    from logparserhelper_spark.pipeline import PipelineConfig, run_pipeline
    from logparserhelper_spark.sources.transcripts import read_transcripts

    tiny = generate_transcripts(str(tmp_path / "data"), "tiny")
    src = spark.read.parquet(os.path.join(tiny, "transcripts.parquet"))
    loc = str(tmp_path / "tsrc")
    t = HadoopTable(spark, loc)
    half = src.filter(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0)
    t.append(half)      # v1: half the corpus
    t.append(src.subtract(half))  # v2: the rest

    common = dict(
        transform_bank=default_transform_bank(),
        role_dim_path=os.path.join(tiny, "role_dim.parquet"),
        tool_dim_path=os.path.join(tiny, "tool_dim.parquet"),
        n_buckets=2,
    )
    out_t = str(tmp_path / "out_table_src")
    run_pipeline(spark, PipelineConfig(input_path=f"table:{loc}", out_dir=out_t, **common))
    out_p = str(tmp_path / "out_parquet_src")
    run_pipeline(spark, PipelineConfig(input_path=tiny, out_dir=out_p, **common))

    cols = ["sink", "conv_id", "turn_idx", "pattern_id", "start", "end", "match"]
    rows_t = {tuple(r) for r in spark.read.parquet(os.path.join(out_t, "routed")).select(*cols).collect()}
    rows_p = {tuple(r) for r in spark.read.parquet(os.path.join(out_p, "routed")).select(*cols).collect()}
    assert rows_t == rows_p and rows_t

    # time-travel input: @v1 sees only the first half's turns
    v1 = read_transcripts(spark, f"table:{loc}@v1")
    assert v1.count() == half.count()


def test_metadata_is_manifest_list_with_delta_manifests(spark, tmp_path):
    """The committed metadata holds a MANIFEST LIST (paths to immutable
    manifest files), not an inline file list — Iceberg's shape, making
    commit metadata O(commit files): an append carries the parent's
    manifests by path and writes only its own delta; a legacy inline
    metadata file still loads."""
    loc = str(tmp_path / "t6")
    t = HadoopTable(spark, loc)
    df = spark.createDataFrame([("a", 1), ("b", 2)], "sink string, id long")
    t.append(df, partition_cols=["sink"])
    with open(os.path.join(t.root, "metadata", "v1.metadata.json")) as f:
        d = json.load(f)
    assert d["format_version"] == 2 and d["version"] == 1
    assert d["partition_cols"] == ["sink"]
    assert d["summary"]["total_records"] == 2
    assert "files" not in d
    (m1,) = d["manifest_list"]
    assert m1["path"].startswith("metadata/manifests/m-")
    with open(os.path.join(t.root, m1["path"])) as f:
        man = json.load(f)
    assert {f["partition"]["sink"] for f in man["files"]} == {"a", "b"}
    assert all(f["records"] >= 1 and f["bytes"] > 0 for f in man["files"])
    assert m1["n_files"] == len(man["files"]) and m1["records"] == 2

    # append #2: parent manifest carried BY PATH, one new delta manifest
    t.append(
        spark.createDataFrame([("c", 3)], "sink string, id long"),
        partition_cols=["sink"],
    )
    with open(os.path.join(t.root, "metadata", "v2.metadata.json")) as f:
        d2 = json.load(f)
    assert [m["path"] for m in d2["manifest_list"]][0] == m1["path"]
    assert len(d2["manifest_list"]) == 2
    delta = d2["manifest_list"][1]
    assert delta["path"] != m1["path"] and delta["records"] == 1
    # the snapshot object exposes the same structure, flat files intact
    snap = t.snapshot()
    assert [p for p, _ in snap.manifests] == [
        m["path"] for m in d2["manifest_list"]
    ]
    assert len(snap.files) == len(snap.data_files) == 3
    assert _rows(t.read().select("sink", "id")) == [
        ("a", 1), ("b", 2), ("c", 3)
    ]

    # metadata-only commits (properties/DDL) write NO new manifest
    before = set(os.listdir(os.path.join(t.root, "metadata", "manifests")))
    t.set_properties({"history.keep-last": "5"})
    t.rename_column("id", "num")
    after = set(os.listdir(os.path.join(t.root, "metadata", "manifests")))
    assert before == after

    # a LEGACY inline-"files" metadata version still loads exactly
    legacy = {k: v for k, v in d2.items() if k != "manifest_list"}
    legacy["files"] = [f for m in d2["manifest_list"]
                       for f in json.load(open(os.path.join(t.root, m["path"])))["files"]]
    legacy["version"] = t.current_version() + 1
    legacy["parent"] = t.current_version()
    t._promote(legacy, legacy["version"])
    s = HadoopTable(spark, loc).snapshot()
    assert s.manifests is None and len(s.files) == 3
    assert _rows(t.read().select("sink", "id")) == [
        ("a", 1), ("b", 2), ("c", 3)
    ]
    # and the NEXT commit over a legacy parent re-manifests everything
    t.append(
        spark.createDataFrame([("d", 4)], "sink string, id long"),
        partition_cols=["sink"],
    )
    s2 = t.snapshot()
    assert s2.manifests is not None and len(s2.files) == 4


# --------------------------------------------------------------- round 7


def test_file_stats_harvested_at_stage(spark, tmp_path):
    """Every commit records per-file min/max/null-count metrics from the
    parquet footers (Iceberg data-file metrics) — the substrate for
    predicate file skipping."""
    loc = str(tmp_path / "t19")
    t = HadoopTable(spark, loc)
    t.append(
        spark.createDataFrame(
            [(1, "aa", None), (5, "zz", 2.5)], "id long, s string, x double"
        ).coalesce(1)
    )
    (f,) = t.snapshot().files
    assert f.stats is not None
    assert f.stats["id"] == {"min": 1, "max": 5, "nulls": 0}
    # string-encoded bounds carry their type kind (str/ts/date) so the
    # evaluator never compares across encoding domains; numeric bounds
    # stay untagged (cross-kind compares raise TypeError -> file kept)
    assert f.stats["s"] == {"min": "aa", "max": "zz", "nulls": 0, "kind": "str"}
    assert f.stats["x"]["nulls"] == 1 and f.stats["x"]["max"] == 2.5
    # stats survive the metadata JSON round-trip
    t2 = HadoopTable(spark, loc)
    assert t2.snapshot().files[0].stats == f.stats
    # configurable stat-column set: only requested columns harvested
    t3 = HadoopTable(spark, str(tmp_path / "t19b"), stats_columns=["id"])
    t3.append(
        spark.createDataFrame([(7, "q")], "id long, s string").coalesce(1)
    )
    (g,) = t3.snapshot().files
    assert set(g.stats) == {"id"}


def test_manifest_entry_with_retired_blooms_key_loads():
    """Manifests written before bloom filters were retired carry a
    per-file "blooms" entry: it loads (ignored), and is not written back."""
    from logparserhelper_spark.sinks.hadoop_table import DataFile

    old = {
        "path": "data/c1/sink=a/part-0.parquet",
        "partition": {"sink": "a"},
        "records": 3,
        "bytes": 1024,
        "seq": 2,
        "stats": {"id": {"min": 1, "max": 3, "nulls": 0}},
        "columns": [{"name": "id", "type": "long", "id": 1}],
        "blooms": {"id": {"kind": "int", "m": 64, "k": 4, "b": "AAAAAAAAAAA="}},
    }
    f = DataFile.from_json(old)
    assert (f.path, f.partition, f.records, f.seq) == (
        old["path"], {"sink": "a"}, 3, 2
    )
    assert f.stats == old["stats"] and f.columns == old["columns"]
    out = f.to_json()
    assert "blooms" not in out
    assert out == {k: v for k, v in old.items() if k != "blooms"}


def test_predicate_file_skipping(spark, tmp_path):
    """plan_files() drops files whose footer bounds prove no row can
    match; read(predicate=...) returns exactly the filtered rows."""
    loc = str(tmp_path / "t20")
    t = HadoopTable(spark, loc)
    # three appends with disjoint id ranges -> three single-file commits
    for lo in (0, 100, 200):
        t.append(
            spark.createDataFrame(
                [(lo + i, f"v{lo + i}") for i in range(10)],
                "id long, v string",
            ).coalesce(1)
        )
    assert len(t.snapshot().files) == 3
    assert len(t.plan_files(predicate=[("id", ">=", 200)])) == 1
    assert len(t.plan_files(predicate=[("id", "<", 100)])) == 1
    assert len(t.plan_files(predicate=[("id", "=", 105)])) == 1
    assert len(t.plan_files(predicate=[("id", ">", 50)])) == 2
    # conjunction: both terms must be satisfiable in the same file
    assert (
        len(t.plan_files(predicate=[("id", ">=", 100), ("id", "<", 110)])) == 1
    )
    # provably-empty predicate scans zero files but still answers
    assert len(t.plan_files(predicate=[("id", ">", 1000)])) == 0
    assert t.read(predicate=[("id", ">", 1000)]).count() == 0
    # pruning is an optimization, not the filter: rows are exact
    got = sorted(r.id for r in t.read(predicate=[("id", ">=", 195)]).collect())
    assert got == list(range(200, 210))
    # string bounds prune too
    assert len(t.plan_files(predicate=[("v", ">=", "v200")])) < 3
    # unknown column / no stats: keeps everything (never wrong)
    assert len(t.plan_files(predicate=[("nope", "=", 1)])) == 3
    with pytest.raises(ValueError, match="bad predicate"):
        t.plan_files(predicate=[("id", "!=", 1)])


def test_timestamp_predicate_skips_files_by_footer_stats(spark, tmp_path):
    """``timestamp`` columns are written as INT64 microseconds, whose
    footers carry the min/max that INT96 footers lack, so a ``ts`` range
    predicate skips files, and the pruned read equals the unpruned
    filtered read."""
    import datetime as dt

    t = HadoopTable(spark, str(tmp_path / "t_ts"))
    for day in (1, 5, 9):
        t.append(
            spark.createDataFrame(
                [(day * 10 + h, dt.datetime(2024, 1, day, h)) for h in range(5)],
                "id long, ts timestamp",
            ).coalesce(1)
        )
    assert len(t.snapshot().files) == 3
    lo = dt.datetime(2024, 1, 4)
    pred = [("ts", ">=", lo)]
    assert len(t.plan_files(predicate=pred)) == 2
    got = sorted(r.id for r in t.read(predicate=pred).collect())
    want = sorted(r.id for r in t.read().filter(F.col("ts") >= F.lit(lo)).collect())
    assert got == want == [50, 51, 52, 53, 54, 90, 91, 92, 93, 94]


def test_predicate_null_skipping_and_delete_null_semantics(spark, tmp_path):
    """Null-count metrics: is_not_null skips all-null files, is_null skips
    null-free files, comparisons skip all-null files; and DELETE keeps
    NULL-predicate rows (SQL deletes only TRUE rows)."""
    loc = str(tmp_path / "t21")
    t = HadoopTable(spark, loc)
    t.append(
        spark.createDataFrame([(1, None), (2, None)], "id long, x double")
        .coalesce(1)
    )
    t.append(
        spark.createDataFrame([(3, 1.0), (4, 2.0)], "id long, x double")
        .coalesce(1)
    )
    assert len(t.plan_files(predicate=[("x", "is_not_null")])) == 1
    assert len(t.plan_files(predicate=[("x", "is_null")])) == 1
    assert len(t.plan_files(predicate=[("x", ">", 0.0)])) == 1
    # DELETE x > 1.5: the all-null file is never scanned or rewritten;
    # null rows survive in place
    snap = t.delete([("x", ">", 1.5)])
    assert snap is not None and snap.summary["deleted_records"] == 1
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 3]


def test_delete_copy_on_write(spark, tmp_path):
    """Row-level CoW DELETE: only files holding a matching row rewrite,
    a fully-matching file is dropped without rewrite, no-match returns
    None, schema and untouched files carry byte-identically."""
    loc = str(tmp_path / "t22")
    t = HadoopTable(spark, loc)
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string").coalesce(1))
    t.append(spark.createDataFrame([(3, "c"), (4, "d")], "id long, v string").coalesce(1))
    t.append(spark.createDataFrame([(5, "e"), (6, "f")], "id long, v string").coalesce(1))
    before = {f.path for f in t.snapshot().files}

    # partial-file delete: one file rewrites, two carry by reference
    s = t.delete([("id", "=", 3)])
    assert s.operation == "delete" and s.summary["rewritten_files"] == 1
    assert s.summary["deleted_records"] == 1
    after = {f.path for f in s.files}
    assert len(before & after) == 2
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 4, 5, 6]
    assert t.read().schema == t.read(version=1).schema

    # whole-file delete: both rows of the (1,2) file match -> the file is
    # dropped from the manifest; survivors stage writes nothing
    s2 = t.delete([("id", "<=", 2)])
    assert s2.summary["deleted_records"] == 2
    assert sorted(r.id for r in t.read().collect()) == [4, 5, 6]

    # no-match: no new snapshot at all
    v = t.current_version()
    assert t.delete([("id", "=", 999)]) is None
    assert t.current_version() == v
    # time travel still reads the pre-delete state
    assert sorted(r.id for r in t.read(version=3).collect()) == [1, 2, 3, 4, 5, 6]
    with pytest.raises(ValueError, match="predicate"):
        t.delete([])


def test_delete_conflict_detection(spark, tmp_path):
    """DELETE aborts (never blind-retries) when a concurrent commit
    replaced a source file OR added rows matching the predicate — the
    same serializable-isolation rules as upsert."""
    from logparserhelper_spark.sinks.hadoop_table import CompactionConflict

    loc = str(tmp_path / "t23")
    t = HadoopTable(spark, loc)
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))

    orig_stage = t._stage

    def racing_overwrite(df, pcols, spec=None):
        staged = orig_stage(df, pcols)
        HadoopTable(spark, loc).overwrite_all(
            spark.createDataFrame([(9, "wiped")], "id long, v string")
        )
        return staged

    t._stage = racing_overwrite
    with pytest.raises(CompactionConflict, match="re-run delete"):
        t.delete([("id", "=", 1)])
    assert {r.v for r in HadoopTable(spark, loc).read().collect()} == {"wiped"}

    # racing append of a MATCHING row aborts; unrelated append does not
    t2 = HadoopTable(spark, loc)
    orig2 = t2._stage

    def racing_matching(df, pcols, spec=None):
        staged = orig2(df, pcols)
        HadoopTable(spark, loc).append(
            spark.createDataFrame([(9, "late-match")], "id long, v string")
        )
        return staged

    t2._stage = racing_matching
    with pytest.raises(CompactionConflict, match="matching the .*delete"):
        t2.delete([("id", "=", 9)])

    t3 = HadoopTable(spark, loc)
    orig3 = t3._stage

    def racing_unrelated(df, pcols, spec=None):
        staged = orig3(df, pcols)
        HadoopTable(spark, loc).append(
            spark.createDataFrame([(1000, "other")], "id long, v string")
        )
        return staged

    t3._stage = racing_unrelated
    s = t3.delete([("id", "=", 9)])
    assert s is not None
    rows = sorted(r.id for r in HadoopTable(spark, loc).read().collect())
    assert 9 not in rows and 1000 in rows


def test_upsert_large_key_path_matches_broadcast_path(spark, tmp_path):
    """Above broadcast_key_limit the key joins drop the broadcast hint
    (AQE picks the strategy) — content must be identical either way."""
    locA, locB = str(tmp_path / "t24a"), str(tmp_path / "t24b")
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], "id long, v string"
    )
    ups = spark.createDataFrame(
        [(5, "NEW5"), (15, "NEW15"), (100, "NEW100")], "id long, v string"
    )
    ta, tb = HadoopTable(spark, locA), HadoopTable(spark, locB)
    ta.append(base)
    tb.append(base)
    ta.upsert(ups, ["id"])                       # broadcast path (default)
    tb.upsert(ups, ["id"], broadcast_key_limit=0)  # forced shuffle path
    assert _rows(ta.read()) == _rows(tb.read())


def test_read_union_depth_guard_warns(spark, tmp_path):
    """A read spanning more staging roots than max_union_roots warns to
    compact() — the maintenance-cadence guard for the O(commits) union."""
    import warnings as _w

    loc = str(tmp_path / "t25")
    t = HadoopTable(spark, loc, max_union_roots=2)
    for i in range(3):
        t.append(spark.createDataFrame([(i,)], "id long"))
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        assert t.read().count() == 3
    msgs = [str(r.message) for r in rec if r.category is RuntimeWarning]
    assert any("compact()" in m and "3 staging roots" in m for m in msgs)
    # compacting collapses the roots below the guard: no warning
    t.compact()
    with _w.catch_warnings(record=True) as rec2:
        _w.simplefilter("always")
        assert t.read().count() == 3
    assert not [r for r in rec2 if r.category is RuntimeWarning]


def test_cleanup_orphans_reclaims_sidecars(spark, tmp_path):
    """A crashed commit's staging tree (parquet + _SUCCESS + .crc) is
    reclaimed WHOLE — including sidecars — so the dead data/<uuid>/ dir
    actually disappears; live commits keep their markers and checksums."""
    loc = str(tmp_path / "t26")
    t = HadoopTable(spark, loc)
    t.append(spark.createDataFrame([(1,)], "id long"))

    # simulate a commit that died after staging: files exist, no metadata
    env = dict(os.environ, LPH_TABLE_FAULT="after-stage")
    code = (
        "import sys; sys.path.insert(0, %r);"
        "from pyspark.sql import SparkSession;"
        "from logparserhelper_spark.sinks.hadoop_table import HadoopTable;"
        "spark = SparkSession.builder.master('local[2]').getOrCreate();"
        "HadoopTable(spark, %r).append("
        "spark.createDataFrame([(2,)], 'id long'))" % (REPO, loc)
    )
    p = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True
    )
    assert p.returncode != 0  # SIGKILLed mid-protocol
    data_dir = os.path.join(loc, "data")
    roots = sorted(os.listdir(data_dir))
    assert len(roots) == 2  # live root + dead staging root

    removed = t.cleanup_orphans(older_than_sec=0)
    assert removed  # the dead tree went
    live_files = {f.path for f in t.snapshot().files}
    # exactly the live staging root remains, with its sidecars intact
    roots_after = sorted(os.listdir(data_dir))
    assert len(roots_after) == 1
    live_root = os.path.join(data_dir, roots_after[0])
    names = set(os.listdir(live_root))
    assert "_SUCCESS" in names
    assert any(n.endswith(".parquet") for n in names)
    assert all(
        os.path.exists(os.path.join(loc, p_)) for p_ in live_files
    )
    assert _rows(t.read()) == [(1,)]


def test_summary_extra_cannot_clobber_computed_counters(spark, tmp_path):
    """summary_extra is merged exactly once and computed counters land
    last — a caller key can never falsify added_files/added_records."""
    loc = str(tmp_path / "t27")
    t = HadoopTable(spark, loc)
    df = spark.createDataFrame([(1,), (2,)], "id long").coalesce(1)
    s = t.append(df, summary_extra={"added_records": 999, "job": "etl-7"})
    assert s.summary["added_records"] == 2  # the truth, not the caller's
    assert s.summary["job"] == "etl-7"      # benign keys pass through


def test_replace_scope_clears_stale_partitions(spark, tmp_path):
    """Scoped replace: a replay that lands FEWER partitions than the
    prior attempt still clears the prior attempt's whole scope — no
    stale (bucket, sink) partitions survive (the pipeline replay shape)."""
    loc = str(tmp_path / "t28")
    t = HadoopTable(spark, loc)
    first = spark.createDataFrame(
        [(0, "err", 1), (0, "ok", 2), (1, "ok", 3)],
        "bucket int, sink string, id long",
    )
    t.append(first, partition_cols=["bucket", "sink"])

    # replay of bucket 0 produces only sink=ok this time
    replay = spark.createDataFrame(
        [(0, "ok", 20)], "bucket int, sink string, id long"
    )
    # WITHOUT scope the stale (0, err) partition would survive; with
    # scope it is cleared, bucket 1 untouched
    t.replace_partitions(replay, scope={"bucket": 0})
    rows = sorted(
        (r.bucket, r.sink, r.id) for r in t.read().collect()
    )
    assert rows == [(0, "ok", 20), (1, "ok", 3)]

    # staged data outside the scope is refused (also catches a
    # value/dir-string mismatch)
    bad = spark.createDataFrame(
        [(1, "ok", 99)], "bucket int, sink string, id long"
    )
    with pytest.raises(ValueError, match="outside replace scope"):
        t.replace_partitions(bad, scope={"bucket": 0})


def test_compact_sort_by_enables_file_skipping(spark, tmp_path):
    """compact(sort_by=...): the SORT rewrite strategy. Before it, every
    file spans the whole id range (round-robin appends), so metrics
    skipping prunes nothing; after it, files cover near-disjoint id
    slices and a point/range predicate touches a strict subset. Content
    is provably unchanged."""
    loc = str(tmp_path / "tsort")
    t = HadoopTable(spark, loc)
    # 4 appends, each holding ids spread across the full 0..399 range ->
    # every file's (min, max) ~ (chunk, 396+chunk): no skipping possible
    for chunk in range(4):
        rows = [(i, "v" * 100) for i in range(chunk, 400, 4)]
        t.append(spark.createDataFrame(rows, "id long, v string"))
    before_rows = _rows(t.read())
    assert len(t.plan_files(predicate=[("id", "=", 7)])) == 4

    total = sum(f.bytes for f in t.snapshot().files)
    new = t.compact(target_file_bytes=total // 4 + 1, sort_by=["id"])
    assert new is not None and new.operation == "compact"
    assert _rows(t.read()) == before_rows
    n_files = len(new.data_files)
    assert n_files >= 2  # the tiny target forced a multi-file layout
    # every file now covers a narrow slice: a point predicate plans 1 file
    assert len(t.plan_files(predicate=[("id", "=", 7)])) == 1
    # and a range predicate plans only the overlapping slice(s)
    hit = t.plan_files(predicate=[("id", ">=", 300)])
    assert 0 < len(hit) < n_files
    # files are near-disjoint in id: total min/max overlap is zero for a
    # sorted rewrite of a unique key
    spans = sorted(
        (int(f.stats["id"]["min"]), int(f.stats["id"]["max"]))
        for f in new.data_files
    )
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert hi <= lo

    with pytest.raises(ValueError, match="sort/zorder"):
        t.compact(sort_by=["nope"])


def test_compact_sort_by_partitioned_table(spark, tmp_path):
    """Sorted rewrite on a hive-partitioned table: partition layout is
    preserved (pcols lead the range keys), rows unchanged, and skipping
    works on the sort column inside each partition."""
    loc = str(tmp_path / "tsortp")
    t = HadoopTable(spark, loc)
    for chunk in range(3):
        rows = [
            ("a" if i % 2 == 0 else "b", i, "x" * 80)
            for i in range(chunk, 300, 3)
        ]
        t.append(
            spark.createDataFrame(rows, "sink string, id long, v string"),
            partition_cols=["sink"],
        )
    before_rows = _rows(t.read())
    total = sum(f.bytes for f in t.snapshot().files)
    new = t.compact(target_file_bytes=total // 4 + 1, sort_by=["id"])
    assert new is not None
    assert _rows(t.read()) == before_rows
    # partition dirs preserved
    assert {f.partition["sink"] for f in new.data_files} == {"a", "b"}
    # a predicate combining partition pruning and metrics skipping plans
    # fewer files than the partition alone
    part_only = t.plan_files(partition_filter={"sink": "a"})
    both = t.plan_files(
        partition_filter={"sink": "a"}, predicate=[("id", "=", 10)]
    )
    assert len(both) < len(part_only) or len(part_only) == 1


def test_compact_zorder_skips_on_both_columns(spark, tmp_path):
    """compact(zorder_by=[x, y]): after the Z-curve rewrite each file
    covers a small hyper-rectangle, so a point predicate on EITHER
    column alone skips at least half the files — the property a
    lexicographic sort cannot give for the second key. Content
    unchanged."""
    loc = str(tmp_path / "tz")
    t = HadoopTable(spark, loc)
    # an 80x80 grid of (x, y), shuffled before chunking into 4 appends so
    # every file initially spans (nearly) the full range of BOTH columns
    # and min/max skipping can prune nothing pre-rewrite (a plain stride-4
    # round-robin correlates with x = i % 80 because 4 | 80)
    pts = [(i % 80, i // 80, "f" * 60) for i in range(6400)]
    random.Random(7).shuffle(pts)
    for chunk in range(4):
        t.append(
            spark.createDataFrame(pts[chunk::4], "x long, y long, v string")
        )
    before_rows = _rows(t.read())
    n0 = len(t.snapshot().data_files)
    assert len(t.plan_files(predicate=[("x", "=", 7)])) == n0
    assert len(t.plan_files(predicate=[("y", "=", 7)])) == n0

    total = sum(f.bytes for f in t.snapshot().files)
    new = t.compact(target_file_bytes=total // 16 + 1, zorder_by=["x", "y"])
    assert new is not None and new.operation == "compact"
    assert _rows(t.read()) == before_rows
    n = len(new.data_files)
    assert n >= 8  # the tiny target forced a multi-file z-layout
    hit_x = t.plan_files(predicate=[("x", "=", 7)])
    hit_y = t.plan_files(predicate=[("y", "=", 7)])
    assert len(hit_x) <= n // 2 and len(hit_y) <= n // 2
    # correctness of the pruned plans
    assert t.read(predicate=[("x", "=", 7)]).count() == 80
    assert t.read(predicate=[("y", "=", 7)]).count() == 80

    with pytest.raises(ValueError, match="not both"):
        t.compact(sort_by=["x"], zorder_by=["x", "y"])
    with pytest.raises(ValueError, match=">= 2"):
        t.compact(zorder_by=["x"])


def test_compact_zorder_string_prefix(spark, tmp_path):
    """String z-order ranks by the first-6-byte prefix (Iceberg's string
    z-order semantics): after the rewrite a point predicate on EITHER
    the string or the numeric column skips files, and prefix locality
    holds (files cover narrow lexicographic slices). Booleans refuse."""
    loc = str(tmp_path / "tzs")
    t = HadoopTable(spark, loc)
    pts = [
        (i % 80, f"s{i // 80:04d}", i % 2 == 0) for i in range(6400)
    ]
    random.Random(11).shuffle(pts)
    for chunk in range(4):
        t.append(
            spark.createDataFrame(pts[chunk::4], "x long, s string, b boolean")
        )
    before_rows = _rows(t.read())
    n0 = len(t.snapshot().data_files)
    assert len(t.plan_files(predicate=[("s", "=", "s0007")])) == n0
    total = sum(f.bytes for f in t.snapshot().files)
    new = t.compact(target_file_bytes=total // 16 + 1, zorder_by=["x", "s"])
    assert new is not None
    assert _rows(t.read()) == before_rows
    n = len(new.data_files)
    assert n >= 8
    hit_s = t.plan_files(predicate=[("s", "=", "s0007")])
    hit_x = t.plan_files(predicate=[("x", "=", 7)])
    assert len(hit_s) <= n // 2 and len(hit_x) <= n // 2
    assert t.read(predicate=[("s", "=", "s0007")]).count() == 80
    with pytest.raises(ValueError, match="unsupported type"):
        t.compact(zorder_by=["x", "b"])


def test_temporal_kind_pruning_never_wrong(spark, tmp_path):
    """Cross-type-kind metrics comparisons must not prune (ADVICE r7):
    a date column's bound encodes as '2024-01-05' while a timestamp
    predicate constant encodes as '2024-01-05T00:00:00.000000' — pruning
    lexicographically across those domains dropped files whose rows
    Spark's residual date->timestamp coercion matches. Date<->timestamp
    now compares through the exact midnight lift; str-vs-temporal never
    prunes."""
    import datetime as dt

    loc = str(tmp_path / "t_kind")
    t = HadoopTable(spark, loc)
    t.append(
        spark.createDataFrame(
            [(1, dt.date(2024, 1, 5)), (2, dt.date(2024, 1, 7))],
            "id long, d date",
        ).coalesce(1)
    )
    t.append(
        spark.createDataFrame(
            [(3, dt.date(2024, 2, 1)), (4, dt.date(2024, 2, 2))],
            "id long, d date",
        ).coalesce(1)
    )
    # the reproduced bug: a datetime constant against date bounds pruned
    # the matching file (v > hi lexicographically)
    pred = [("d", "=", dt.datetime(2024, 1, 5))]
    assert len(t.plan_files(predicate=pred)) == 1
    assert [r.id for r in t.read(predicate=pred).collect()] == [1]
    # the lift is exact, so same-kind-quality pruning still works
    assert len(t.plan_files(predicate=[("d", ">", dt.datetime(2024, 1, 31))])) == 1
    assert len(
        t.plan_files(predicate=[("d", "<", dt.datetime(2024, 1, 1))])
    ) == 0
    # date constants against date bounds: unchanged exact pruning
    assert len(t.plan_files(predicate=[("d", "=", dt.date(2024, 2, 1))])) == 1

    # timestamp COLUMN with date constant: the other lift direction
    t2 = HadoopTable(spark, str(tmp_path / "t_kind_ts"))
    t2.append(
        spark.createDataFrame(
            [(1, dt.datetime(2024, 1, 5, 12)), (2, dt.datetime(2024, 1, 6))],
            "id long, ts timestamp_ntz",
        ).coalesce(1)
    )
    t2.append(
        spark.createDataFrame(
            [(3, dt.datetime(2024, 3, 1, 1))], "id long, ts timestamp_ntz"
        ).coalesce(1)
    )
    assert len(t2.plan_files(predicate=[("ts", ">=", dt.date(2024, 2, 1))])) == 1
    assert len(t2.plan_files(predicate=[("ts", "<", dt.date(2024, 1, 5))])) == 0
    # a string constant against temporal bounds: never prunes (Spark's
    # cast semantics are not ours to guess), rows still exact via the
    # residual filter
    assert len(t2.plan_files(predicate=[("ts", ">=", "2024-02-01")])) == 2
    got = [r.id for r in t2.read(predicate=[("ts", ">=", "2024-02-01")]).collect()]
    assert got == [3]

    # DELETE with a datetime predicate on a date column: scope not
    # silently narrowed by wrong pruning
    snap = t.delete([("d", "=", dt.datetime(2024, 1, 5))])
    assert snap is not None
    assert sorted(r.id for r in t.read().collect()) == [2, 3, 4]


def test_default_value_pruning_cross_kind_keeps_file(spark, tmp_path):
    """A file predating a defaulted column evaluates predicates against
    the default constant; a cross-kind == comparison silently returns
    False in Python, which wrongly pruned the file — kinds must match
    before the constant-fold decides."""
    import datetime as dt

    loc = str(tmp_path / "t_dflt_kind")
    t = HadoopTable(spark, loc)
    t.append(
        spark.createDataFrame([(1,)], "id long").coalesce(1)
    )
    t.add_column("day", "string", default="2024-01-05")
    # datetime constant vs str default: incomparable kinds -> keep the
    # file (the residual filter decides rows; here the cast of the str
    # default is Spark's business, not the planner's)
    assert len(
        t.plan_files(predicate=[("day", "=", dt.datetime(2024, 1, 5))])
    ) == 1
    # same-kind compare still constant-folds: a non-matching string
    # prunes, the matching one keeps
    assert len(t.plan_files(predicate=[("day", "=", "2024-01-06")])) == 0
    assert len(t.plan_files(predicate=[("day", "=", "2024-01-05")])) == 1


def test_manifest_gc_after_expiry_and_conflict(spark, tmp_path):
    """Manifests are GC'd like data files: one referenced only by expired
    metadata versions (or stranded by a dead commit attempt) is reclaimed
    after the grace period; every manifest a retained snapshot references
    survives, and reads stay exact throughout."""
    loc = str(tmp_path / "t_mgc")
    t = HadoopTable(spark, loc)
    for i in range(4):
        t.append(
            spark.createDataFrame([(i, f"v{i}")], "id long, v string")
            .coalesce(1)
        )
    # compact rewrites everything into one new manifest; the four delta
    # manifests are now referenced ONLY by snapshots 1-4
    assert t.compact(target_file_bytes=1 << 30) is not None
    man_dir = os.path.join(t.root, "metadata", "manifests")
    n_before = len(os.listdir(man_dir))
    assert n_before >= 5
    t.expire_snapshots(keep_last=1, cleanup_older_than_sec=0)
    live = {p for p, _ in t.snapshot().manifests}
    on_disk = {
        os.path.join("metadata", "manifests", m) for m in os.listdir(man_dir)
    }
    assert on_disk == live and len(live) >= 1
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 2, 3]
    # a fresh table handle (cold manifest cache path exercised elsewhere)
    assert HadoopTable(spark, loc).read().count() == 4


def test_compact_task_input_budget_bounds_working_set(spark, tmp_path):
    """Task sizing is budgeted separately from file sizing (VERDICT r7:
    capacity-scale compact spilled 27 GB because task count came from
    target_file_bytes alone): with `compaction.task-input-bytes` binding,
    a rewrite fans out into ceil(input/budget) tasks — more, smaller
    files instead of a spilling task — and re-running compact() on that
    output is a no-op, not a rewrite loop."""
    import hashlib

    loc = str(tmp_path / "t_budget")
    t = HadoopTable(spark, loc)
    # incompressible-ish payload so the post-rewrite byte total stays
    # close to the input total (at real scale compression deltas are
    # percent-level; tiny compressible rows would exaggerate them)
    for i in range(8):
        t.append(
            spark.createDataFrame(
                [
                    (
                        i * 2000 + j,
                        hashlib.sha256(f"{i}/{j}".encode()).hexdigest(),
                    )
                    for j in range(2000)
                ],
                "id long, pad string",
            ).coalesce(1)
        )
    snap = t.snapshot()
    total = sum(f.bytes for f in snap.files)
    assert len(snap.files) == 8
    # budget ~ total/4: a huge file-size target must still split the
    # rewrite into ~4 tasks (never one giant working set)
    t.set_properties({"compaction.task-input-bytes": str(total // 4 + 1)})
    before = _rows(t.read())
    s2 = t.compact(target_file_bytes=1 << 30)
    assert s2 is not None
    n_after = len(s2.data_files)
    assert 2 <= n_after <= 4
    assert _rows(t.read()) == before
    # idempotent: the trigger uses the same effective count
    assert t.compact(target_file_bytes=1 << 30) is None
    # with the default (non-binding) budget the same table bin-packs to 1
    t.set_properties({"compaction.task-input-bytes": str(256 << 20)})
    s3 = t.compact(target_file_bytes=1 << 30)
    assert s3 is not None and len(s3.data_files) == 1
    assert _rows(t.read()) == before
    assert t.compact(target_file_bytes=1 << 30) is None


def test_predicate_in_list_skipping(spark, tmp_path):
    """The ``in`` op (disjunction of equalities): files prune only when
    EVERY member is provably outside their bounds; rows stay exact; an
    empty IN list (or all-NULL members) plans zero files and reads zero
    rows; update()/delete() accept it."""
    loc = str(tmp_path / "t_in")
    t = HadoopTable(spark, loc)
    for lo in (0, 100, 200):
        t.append(
            spark.createDataFrame(
                [(lo + i, f"v{lo + i}") for i in range(10)],
                "id long, v string",
            ).coalesce(1)
        )
    assert len(t.plan_files(predicate=[("id", "in", (5, 7))])) == 1
    assert len(t.plan_files(predicate=[("id", "in", (5, 205))])) == 2
    assert len(t.plan_files(predicate=[("id", "in", (50, 150, 250))])) == 0
    # NULL members strip (they can never make IN true); empty -> nothing
    assert len(t.plan_files(predicate=[("id", "in", (None, 5))])) == 1
    assert len(t.plan_files(predicate=[("id", "in", ())])) == 0
    assert t.read(predicate=[("id", "in", [None])]).count() == 0
    got = sorted(
        r.id for r in t.read(predicate=[("id", "in", [3, 105, 999])]).collect()
    )
    assert got == [3, 105]
    # malformed: scalar value refused
    with pytest.raises(ValueError, match="'in' needs a list"):
        t.plan_files(predicate=[("id", "in", 5)])
    # delete via IN rewrites only the files holding members
    s = t.delete([("id", "in", (3, 205))])
    assert s.summary["deleted_records"] == 2
    assert s.summary["rewritten_files"] == 2
    assert t.read(predicate=[("id", "in", (3, 205))]).count() == 0


def test_rewrite_manifests_consolidates_metadata(spark, tmp_path):
    """rewrite_manifests(): metadata-only consolidation of the
    O(commits) delta manifests into one — file set/rows/schema
    unchanged, time travel intact, incremental + changelog ranges treat
    it as data-preserving, maintain() runs it when the property
    threshold binds, and orphan GC reclaims the replaced manifests once
    no retained version references them."""
    t = HadoopTable(spark, str(tmp_path / "t_rm"))
    for i in range(5):
        t.append(
            spark.createDataFrame([(i, f"v{i}")], "id long, v string")
        )
    snap = t.snapshot()
    assert len(snap.manifests) == 5  # one delta manifest per commit
    before = _rows(t.read())
    assert t.rewrite_manifests(min_count=99) is None  # below threshold
    s = t.rewrite_manifests(min_count=2)
    assert s is not None and s.operation == "rewrite-manifests"
    assert len(s.manifests) == 1
    assert {f.path for f in s.files} == {f.path for f in snap.files}
    assert _rows(t.read()) == before
    assert _rows(t.read(version=snap.version)) == before  # time travel
    # data-preserving for range readers
    assert t.read_incremental(snap.version).count() == 0
    assert t.read_changes(snap.version).count() == 0
    inc = t.read_incremental(2)  # range crosses the rewrite
    assert inc.count() == 3
    # next append carries the ONE manifest + its own delta
    t.append(spark.createDataFrame([(9, "x")], "id long, v string"))
    assert len(t.snapshot().manifests) == 2
    # maintain() triggers it via the property
    # one partition per append: compact() has nothing to bin-pack, so
    # the delta manifests survive into maintain()'s rewrite step
    t2 = HadoopTable(spark, str(tmp_path / "t_rm2"))
    for i in range(4):
        t2.append(
            spark.createDataFrame([(i, f"p{i}")], "id long, p string"),
            partition_cols=["p"],
        )
    t2.set_properties({"commit.manifest.min-count-to-merge": "3"})
    out = t2.maintain()
    assert out["rewrote_manifests_version"] is not None
    assert len(t2.snapshot().manifests) == 1
    assert t2.read().count() == 4
    # expiry + GC reclaim the replaced delta manifests from disk
    man_dir = os.path.join(t2.location, "metadata", "manifests")
    n_disk_before = len(os.listdir(man_dir))
    t2.expire_snapshots(keep_last=1, cleanup_older_than_sec=0)
    assert len(os.listdir(man_dir)) < n_disk_before
    assert t2.read().count() == 4
