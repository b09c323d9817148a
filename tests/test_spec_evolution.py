"""Partition-spec evolution on the snapshot table
(sinks/hadoop_table.py:update_spec): Iceberg's updateSpec — new writes
lay out under the new spec, old files keep their layout and stay exactly
readable, pruning stays conservative-correct per file, compact() is the
layout-migration path, and replace_partitions refuses on mixed layouts.

Reference parity note: the reference app (MaksimBrezho/logparserhelper)
has no table layer — its persistence is whole-file JSON overwrite
(utils/json_utils.py:21-27).
"""

from __future__ import annotations

import pytest

from logparserhelper_spark.sinks.hadoop_table import HadoopTable


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )


def test_evolve_unpartitioned_to_identity(spark, tmp_path):
    t = HadoopTable(spark, str(tmp_path / "t1"))
    t.append(
        spark.createDataFrame(
            [(i, "s%d" % (i % 2), "v%d" % i) for i in range(20)],
            "id long, sink string, v string",
        )
    )
    before = _rows(t.read())
    s = t.update_spec(["sink"])
    assert s.operation == "update-spec"
    assert _rows(t.read()) == before  # metadata-only

    t.append(
        spark.createDataFrame(
            [(100, "s0", "new0"), (101, "s1", "new1")],
            "id long, sink string, v string",
        )
    )
    got = _rows(t.read())
    assert len(got) == 22
    assert (100, "s0", "new0") in got and all(len(r) == 3 for r in got)

    # pruning: new files prune on sink; old files are kept conservatively
    n_total = len(t.plan_files())
    hit = t.plan_files(predicate=[("sink", "=", "s0")])
    old_files = [f for f in t.snapshot().data_files if not f.partition]
    assert all(any(f.path == o.path for o in old_files) or
               f.partition.get("sink") == "s0" for f in hit)
    assert len(hit) < n_total  # the s1-only new file was pruned
    assert t.read(predicate=[("sink", "=", "s0")]).count() == 11

    # idempotent re-apply
    v = t.current_version()
    assert t.update_spec(["sink"]).version == v


def test_evolve_identity_to_unpartitioned_and_back(spark, tmp_path):
    t = HadoopTable(spark, str(tmp_path / "t2"))
    t.append(
        spark.createDataFrame(
            [(1, "a", "x"), (2, "b", "y")], "id long, sink string, v string"
        ),
        partition_cols=["sink"],
    )
    t.update_spec([])
    t.append(
        spark.createDataFrame([(3, "c", "z")], "id long, sink string, v string")
    )
    # old rows reconstruct sink from hive dirs; new rows carry it in-file
    assert _rows(t.read()) == [(1, "a", "x"), (2, "b", "y"), (3, "c", "z")]
    # evolving back to the same identity field is legal: definition equal
    t.update_spec(["sink"])
    t.append(
        spark.createDataFrame([(4, "d", "w")], "id long, sink string, v string")
    )
    assert t.read().count() == 4


def test_collision_and_unknown_column_refused(spark, tmp_path):
    t = HadoopTable(spark, str(tmp_path / "t3"))
    t.append(
        spark.createDataFrame([(i, "v") for i in range(10)], "id long, v string"),
        partition_cols=["bucket(4, id)"],
    )
    with pytest.raises(ValueError, match="collides"):
        t.update_spec(["bucket(8, id)"])  # same derived name id_bucket
    with pytest.raises(ValueError, match="unknown column"):
        t.update_spec(["nope"])
    # after compact() migrates... actually same-name is fine once the old
    # files are gone: evolve away first, compact, then the name is free
    t.update_spec([])
    t.compact(target_file_bytes=1 << 20)
    assert all(not f.partition for f in t.snapshot().data_files)
    t.update_spec(["bucket(8, id)"])
    t.append(spark.createDataFrame([(99, "n")], "id long, v string"))
    assert t.read().count() == 11


def test_replace_refuses_until_compact_migrates(spark, tmp_path):
    t = HadoopTable(spark, str(tmp_path / "t4"))
    t.append(
        spark.createDataFrame(
            [(1, "a", "x"), (2, "b", "y")], "id long, sink string, v string"
        ),
        partition_cols=["sink"],
    )
    t.update_spec(["v"])  # repartition by a different identity column
    with pytest.raises(ValueError, match="evolved partition spec"):
        t.replace_partitions(
            spark.createDataFrame(
                [(9, "a", "x")], "id long, sink string, v string"
            )
        )
    new = t.compact(target_file_bytes=1 << 20)
    assert new is not None
    # migration rewrote every old-layout file into the v-layout
    assert all(
        set(f.partition) == {"v"} for f in t.snapshot().data_files
    )
    assert _rows(t.read()) == [(1, "a", "x"), (2, "b", "y")]
    # dynamic partition replace now works under the new layout: the
    # staged data holds v=x only, so the v=y partition is untouched
    t.replace_partitions(
        spark.createDataFrame([(9, "a", "x")], "id long, sink string, v string")
    )
    assert _rows(t.read()) == [(2, "b", "y"), (9, "a", "x")]


def test_mutations_and_changelog_across_evolution(spark, tmp_path):
    t = HadoopTable(spark, str(tmp_path / "t5"))
    t.append(
        spark.createDataFrame(
            [(i, "s%d" % (i % 2), "v%d" % i) for i in range(10)],
            "id long, sink string, v string",
        ),
        partition_cols=["sink"],
    )
    t.update_spec(["bucket(2, id)"])
    t.append(
        spark.createDataFrame(
            [(10, "s0", "v10")], "id long, sink string, v string"
        )
    )
    v_pre = t.current_version()
    # mutations across mixed layouts
    t.delete([("id", "=", 3)])  # CoW on an old-layout file
    t.upsert(
        spark.createDataFrame(
            [(10, "s0", "NEW")], "id long, sink string, v string"
        ),
        key_cols=["id"],
        mode="merge-on-read",
    )
    got = {r["id"]: r["v"] for r in t.read().collect()}
    assert 3 not in got and got[10] == "NEW" and len(got) == 10

    # changelog: update-spec emits nothing; the rest replays exactly
    ch = t.read_changes(0)
    assert not [
        r for r in ch.collect() if r["_change_version"] == 2
    ]  # v2 = update-spec
    # incremental scan across the update-spec snapshot is well-defined
    inc = t.read_incremental(1, v_pre)
    assert _rows(inc.select("id")) == [(10,)]
