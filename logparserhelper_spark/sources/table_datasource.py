"""Python DataSource API integration for the snapshot table.

Registers the snapshot-table shim (sinks/hadoop_table.py) as a first-class
Spark data source, so table reads participate in Catalyst planning instead
of going through a Python helper method:

    register_table_source(spark)
    df = spark.read.format("snapshot_table").load("/path/to/table")
    stream = (spark.readStream.format("snapshot_table")
                   .option("starting_version", 0).load("/path/to/table"))

Batch reads plan ONE input partition per live data file, so parallelism
tracks the file layout exactly as a native scan's split planning would,
and `pushFilters` (Spark 4.1 Python-data-source filter pushdown) routes
simple comparison predicates into the shim's manifest planning —
partition pruning + footer min/max skipping happen BEFORE tasks launch,
and every filter is also returned to Spark for post-scan re-application,
so pushdown is pruning-only and can never change results. Row-level
delete files (Iceberg v2 merge-on-read) are applied per task: each data
file's partition carries the delete files that can apply to it and the
worker masks dead rows in Arrow before emitting batches — the same
task-local delete application a real Iceberg reader does.

The streaming reader exposes the table as an incremental source with
snapshot-version offsets: `latestOffset` is the current table version,
`partitions(start, end)` are the files ADDED by the append snapshots in
(start, end], and checkpointed offsets make redelivery exactly-once on
restart (Structured Streaming replays the same version range; commits to
the table are atomic so a version range always maps to the same files).
Non-append snapshots inside a microbatch range fail the stream by
default — reading "what was added" across an overwrite is ill-defined —
or are skipped with `.option("skip_non_appends", "true")`, mirroring
Iceberg's `streaming-skip-overwrite-snapshots`.

Writes are first-class too: ``df.write.format("snapshot_table")`` (and
``df.writeStream...``) runs Iceberg's two-phase write protocol through
the Python DataSource writer API — tasks stage immutable parquet (with
footer stats and field-id manifests) under one commit uuid in parallel,
and the driver's ``commit`` performs a single optimistic atomic
metadata swap: append, truncate overwrite, and dynamic partition
replace (``.option("replace_partitions", "true")``); the streaming
writer stamps each microbatch's ``batchId`` as a commit precondition,
making redelivery exactly-once. A failed job publishes nothing (abort +
orphan GC reclaim the staged files).

Workers read parquet with pyarrow directly (no nested Spark session) —
identity partition columns are reconstructed from hive directory values
and cast under the SNAPSHOT schema, never re-inferred, so a string
partition value "00" stays "00".

WHICH READ PATH TO USE: this DataSource is the COMPATIBILITY surface —
it exists so `spark.read.format(...)` / `readStream` / third-party code
that only speaks the DataFrame reader API can reach snapshot tables.
Its scan runs in Python workers (pyarrow, Arrow-vectorized, one
partition per file). Bulk jobs and pipelines should prefer the NATIVE
path — ``HadoopTable.read()`` / ``read_incremental()`` / the pipeline's
``table:`` source — which plans the same manifest subset but scans
through Spark's JVM parquet reader (whole-stage codegen, vectorized
column batches, no Python worker hop). Same rows either way; the native
path is the 100-TB-performance surface.

Reference parity note: the reference app (MaksimBrezho/logparserhelper)
reads whole files into a Tkinter widget (gui/app_window.py:37-51); this
module is the Spark-first replacement surface for table-backed corpora.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

SOURCE_NAME = "snapshot_table"


@dataclass
class TableFilePartition(InputPartition):
    """One live data file plus the delete files that can apply to it.
    Everything a worker needs is inline (paths + the snapshot schema
    json) — workers never touch table metadata, so a concurrent commit
    cannot tear a running scan."""

    file_path: str  # absolute
    rel_path: str  # manifest-relative (the key position deletes use)
    partition: dict[str, str]
    seq: int
    schema_json: str
    pos_delete_paths: list[str] = field(default_factory=list)
    # (absolute path, equality column tuple, delete seq) — pre-filtered
    # driver-side to deletes with seq strictly greater than this file's
    eq_deletes: list[tuple] = field(default_factory=list)
    # schema evolution: physical (as-written) column name -> snapshot
    # column name, resolved driver-side from the file's field-id
    # manifest. EVERY annotated physical column has an entry — stale
    # columns (dropped, or a re-added name whose old id left the schema)
    # map to a sentinel name so a name-based lookup can never read them.
    rename_map: dict[str, str] = field(default_factory=dict)
    # snapshot column name -> default value for columns this file
    # PREDATES (Iceberg v3 initial-default), resolved driver-side
    defaults: dict[str, Any] = field(default_factory=dict)
    # NESTED schema evolution: snapshot column name -> recursive
    # projection spec (hadoop_table._nested_spec) for struct columns
    # whose by-name read would be wrong for this file (inner rename/
    # add/drop/widen, or an inner drop+re-add that must NOT resurrect)
    nested_specs: dict[str, Any] = field(default_factory=dict)


def _parse_partition_value(raw: str, dtype) -> Any:
    """Parse a hive directory value under the SNAPSHOT schema type (the
    same never-re-infer rule as HadoopTable._read_files)."""
    import datetime

    from pyspark.sql import types as T

    if raw == "__HIVE_DEFAULT_PARTITION__":
        return None
    if isinstance(dtype, T.StringType):
        return raw
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return int(raw)
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return float(raw)
    if isinstance(dtype, T.BooleanType):
        return raw.lower() == "true"
    if isinstance(dtype, T.DateType):
        return datetime.date.fromisoformat(raw)
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return datetime.datetime.fromisoformat(raw.replace(" ", "T"))
    raise ValueError(
        f"unsupported partition column type {dtype.simpleString()}"
    )


def _restruct(col, spec, ft):
    """Rebuild a struct Arrow column under the snapshot's inner shape
    per a _nested_spec: renamed inner fields re-key, widened ones cast,
    added ones take their default (else null), dropped/stale ones are
    never read. The parent's null mask is preserved — a null struct must
    stay null, not become a struct of nulls."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    n = len(col)
    children = []
    for cur_name, phys, dv, sub in spec:
        f_t = ft.field(cur_name).type
        if phys is None:
            children.append(
                pa.nulls(n, type=f_t)
                if dv is None
                else pa.array([dv] * n).cast(f_t)
            )
        else:
            ch = col.field(phys)
            if isinstance(ch, pa.ChunkedArray):
                ch = ch.combine_chunks()
            children.append(_restruct(ch, sub, f_t) if sub else ch.cast(f_t))
    return pa.StructArray.from_arrays(
        children,
        fields=[ft.field(i) for i in range(ft.num_fields)],
        mask=pc.is_null(col),
    )


def _read_file_batches(part: TableFilePartition) -> Iterator[Any]:
    """Worker-side scan of one data file: apply merge-on-read deletes,
    reconstruct identity partition columns, emit Arrow batches under the
    snapshot schema."""
    if part is None:
        # planning pruned EVERY file: Spark still schedules one task over
        # a placeholder None partition — an empty scan, not an error
        return
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import to_arrow_schema

    schema = StructType.fromJson(json.loads(part.schema_json))
    arrow_schema = to_arrow_schema(schema)

    table = pq.read_table(part.file_path)
    if part.rename_map:
        table = table.rename_columns(
            [part.rename_map.get(c, c) for c in table.column_names]
        )
    # hive dir values are keyed by PHYSICAL names too: map them through
    # the same rename map (a renamed identity-partition column from an
    # old layout keeps its values; a dropped+readded name maps to the
    # stale sentinel and can never resurrect the old dir values)
    part_vals = {
        part.rename_map.get(k, k): v for k, v in part.partition.items()
    }
    n = table.num_rows

    # --- merge-on-read masking (vectorized — no per-row Python loop) ----
    import numpy as np
    import pyarrow.compute as pc

    mask = None  # lazily allocated: zero-cost when no deletes apply
    for dpath in part.pos_delete_paths:
        dt = pq.read_table(dpath, columns=["file_path", "pos"])
        hits = dt.filter(pc.equal(dt.column("file_path"), part.rel_path))
        if hits.num_rows:
            if mask is None:
                mask = np.ones(n, dtype=bool)
            pos = hits.column("pos").to_numpy(zero_copy_only=False)
            mask[pos[pos < n].astype(np.int64)] = False
    field_by_name = {sf.name: sf for sf in schema.fields}

    def _key_vals(c: str) -> list:
        # an eq-delete key the file PREDATES (or stores as a hive dir)
        # must compare against the ALIGNED value — the same constant the
        # projection emits: dir value, else the column default, else null
        if c in table.column_names:
            return table.column(c).to_pylist()
        if c in part_vals:
            sf = field_by_name.get(c)
            v = (
                _parse_partition_value(part_vals[c], sf.dataType)
                if sf is not None
                else part_vals[c]
            )
            return [v] * n
        return [part.defaults.get(c)] * n

    for dpath, cols, dseq, dconsts in part.eq_deletes:
        if dseq <= part.seq:  # defensive; driver already filtered
            continue
        stored = [c for c in cols if c not in dconsts]
        dt = pq.read_table(dpath, columns=stored or None)

        def _del_vals(c: str) -> list:
            # a partition-scoped delete file's identity keys are dir
            # constants (shipped from its manifest tuple), parsed under
            # the snapshot schema exactly like data-side dir values
            if c in dconsts:
                sf = field_by_name.get(c)
                v = (
                    _parse_partition_value(dconsts[c], sf.dataType)
                    if sf is not None
                    else dconsts[c]
                )
                return [v] * dt.num_rows
            return dt.column(c).to_pylist()

        # to_pylist yields None for nulls on BOTH sides (never NaN), so
        # tuple hashing gives exactly the reader's eqNullSafe semantics
        keys = set(zip(*[_del_vals(c) for c in cols]))
        if not keys:
            continue
        vals = zip(*[_key_vals(c) for c in cols])
        hit = np.fromiter((t in keys for t in vals), dtype=bool, count=n)
        if hit.any():
            if mask is None:
                mask = np.ones(n, dtype=bool)
            mask &= ~hit
    if mask is not None:
        table = table.filter(pa.array(mask))
        n = table.num_rows

    # --- identity partition columns + schema alignment -----------------
    arrays = []
    for sf, af in zip(schema.fields, arrow_schema):
        if sf.name in table.column_names:
            spec = part.nested_specs.get(sf.name)
            col = table.column(sf.name)
            arrays.append(
                _restruct(col, spec, af.type) if spec else col.cast(af.type)
            )
        elif sf.name in part_vals:
            v = _parse_partition_value(part_vals[sf.name], sf.dataType)
            arrays.append(pa.array([v] * n).cast(af.type))
        elif sf.name in part.defaults:
            arrays.append(pa.array([part.defaults[sf.name]] * n).cast(af.type))
        else:
            arrays.append(pa.nulls(n, type=af.type))
    out = pa.table(arrays, schema=arrow_schema)
    for batch in out.to_batches(max_chunksize=1 << 16):
        yield batch


def _filters_to_predicate(filters: list[Filter]) -> list[tuple]:
    """Translate pushed-down Filters into the shim's conjunctive
    ``(col, op, value)`` predicate terms. Only top-level columns and the
    operators plan_files prunes on; anything else is ignored (the filter
    is re-applied by Spark either way — pruning-only pushdown)."""
    out: list[tuple] = []
    ops = {
        EqualTo: "=",
        GreaterThan: ">",
        GreaterThanOrEqual: ">=",
        LessThan: "<",
        LessThanOrEqual: "<=",
    }
    for f in filters:
        op = ops.get(type(f))
        if op is not None and len(f.attribute) == 1:
            v = f.value
            if isinstance(v, (str, int, float, bool)) or hasattr(
                v, "isoformat"
            ):
                out.append((f.attribute[0], op, v))
        elif isinstance(f, In) and len(f.attribute) == 1:
            # NULL members never satisfy IN (they only yield UNKNOWN,
            # which Spark's re-applied filter drops), so strip them —
            # members of unsupported types make the term unpushable
            vals = [v for v in f.value if v is not None]
            if all(
                isinstance(v, (str, int, float, bool))
                or hasattr(v, "isoformat")
                for v in vals
            ):
                out.append((f.attribute[0], "in", tuple(vals)))
        elif isinstance(f, IsNull) and len(f.attribute) == 1:
            out.append((f.attribute[0], "is_null", None))
        elif isinstance(f, IsNotNull) and len(f.attribute) == 1:
            out.append((f.attribute[0], "is_not_null", None))
    return out


def _plan_partitions(
    location: str,
    version: int | None,
    ref: str | None,
    predicate: list[tuple],
    branch: str | None = None,
) -> list[TableFilePartition]:
    """Driver-side scan planning: manifest pruning via plan_files, then
    one InputPartition per surviving data file with its applicable
    delete files attached."""
    import json

    from logparserhelper_spark.sinks.hadoop_table import (
        HadoopTable,
        _eq_reaches,
        _file_defaults,
        _nested_specs,
        _rename_map,
        _schema_defaults,
        _schema_ids,
    )

    t = HadoopTable(None, location, branch=branch)  # pure metadata
    if ref is not None:
        version = t._resolve_ref(ref)
    snap = t.snapshot(version)
    cur_ids, _ = _schema_ids(snap.schema_json)
    cur_defaults = _schema_defaults(snap.schema_json)
    snap_schema = StructType.fromJson(json.loads(snap.schema_json))
    files = t.plan_files(version, predicate=predicate or None)
    root = t.root
    pos = [
        f for f in snap.delete_files if f.content == "position-deletes"
    ]
    eqs = [
        f for f in snap.delete_files if f.content == "equality-deletes"
    ]
    parts = []
    for f in files:
        parts.append(
            TableFilePartition(
                file_path=os.path.join(root, f.path),
                rel_path=f.path,
                partition=dict(f.partition),
                seq=f.seq,
                schema_json=snap.schema_json,
                rename_map=_rename_map(f, cur_ids),
                defaults=_file_defaults(f, cur_ids, cur_defaults),
                nested_specs=_nested_specs(
                    f, cur_ids, snap_schema, cur_defaults
                ),
                pos_delete_paths=[os.path.join(root, d.path) for d in pos],
                eq_deletes=[
                    (
                        os.path.join(root, d.path),
                        tuple(d.equality_cols or ()),
                        d.seq,
                        # identity partition keys live in the delete
                        # file's DIRECTORY, not its bytes: ship the
                        # manifest tuple's constants for the worker
                        {
                            c: d.partition[c]
                            for c in (d.equality_cols or ())
                            if c in d.partition
                        },
                    )
                    for d in eqs
                    if _eq_reaches(d, f)
                ],
            )
        )
    return parts


class _SnapshotTableReader(DataSourceReader):
    def __init__(self, options: dict):
        self.location = options.get("path")
        if not self.location:
            raise ValueError("snapshot_table requires .load(<table path>)")
        v = options.get("version")
        self.version = int(v) if v is not None else None
        self.ref = options.get("ref")
        # .option("branch", name): read a BRANCH head (its own metadata
        # chain — version numbers are branch-chain versions). Tags keep
        # using .option("ref"); branch+version = branch time travel.
        self.branch = options.get("branch")
        ts = options.get("timestamp_ms")
        if ts is not None and self.version is None:
            # TIMESTAMP AS OF: resolve to a concrete version, which then
            # pins like any other load (schema() does the same; this is
            # the explicit-schema fallback)
            from logparserhelper_spark.sinks.hadoop_table import HadoopTable

            self.version = HadoopTable(
                None, self.location, branch=self.branch
            ).version_at(ts)
        if self.version is None:
            # Pin the snapshot ONCE (Iceberg's load-time snapshot
            # pinning). partitions() re-runs at every (re)planning, so
            # resolving "current" there would let a commit between load
            # and action shift the scanned snapshot — and a
            # schema-evolution commit in that window would make workers
            # emit batches under the NEW snapshot's schema while Spark
            # binds the load-time one. DataSource.schema() pins the same
            # version into the options; this is the fallback for the
            # user-supplied-schema path where schema() is never called.
            from logparserhelper_spark.sinks.hadoop_table import HadoopTable

            t = HadoopTable(None, self.location, branch=self.branch)
            self.version = (
                t._resolve_ref(self.ref)
                if self.ref is not None
                else (t.current_version() if t.exists() else None)
            )
        # the pin subsumes the ref (and survives a concurrent drop/
        # re-create of the tag): plan strictly by version from here on
        if self.version is not None:
            self.ref = None
        # file skipping from pushed filters is OPT-IN: Spark caches the
        # planned (read function, partitions) per RELATION and a filtered
        # action overwrites that cache, so a later UNFILTERED action on
        # the same DataFrame would reuse the pruned partition list and
        # silently lose rows (measured on this Spark: filtered count,
        # then plain count on one DataFrame -> 0 rows). Safe under the
        # load-once/query-once pattern — set option prune_files=true
        # there; the default never prunes, only ever scanning extra
        # files that Spark's re-applied filter then discards.
        self.prune_files = (
            str(options.get("prune_files", "false")).lower() == "true"
        )
        self.predicate: list[tuple] = []

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        if self.prune_files:
            self.predicate = _filters_to_predicate(list(filters))
        # pruning-only: every filter is re-applied by Spark post-scan
        return iter(filters)

    def partitions(self) -> list[InputPartition]:
        # consume the pushed predicate: one pushFilters -> partitions
        # pass per planning run, never carried into a later plan
        pred, self.predicate = self.predicate, []
        return _plan_partitions(
            self.location, self.version, self.ref, pred, branch=self.branch
        )

    def read(self, partition: TableFilePartition) -> Iterator[Any]:
        return _read_file_batches(partition)


class _SnapshotTableStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self.location = options.get("path")
        if not self.location:
            raise ValueError("snapshot_table requires .load(<table path>)")
        sv = options.get("starting_version")
        self.starting_version = int(sv) if sv is not None else None
        self.skip_non_appends = (
            str(options.get("skip_non_appends", "false")).lower() == "true"
        )
        self._schema_json: str | None = None

    def _table(self):
        from logparserhelper_spark.sinks.hadoop_table import HadoopTable

        return HadoopTable(None, self.location)

    def _stream_schema(self, t) -> str | None:
        """The stream's FIXED schema (captured at reader construction,
        matching what DataSource.schema() declared): a Structured
        Streaming query's schema cannot change mid-stream, so every
        microbatch's files are projected to this one shape by field id —
        a rename/add/widen committed while the stream runs keeps the
        batches binding correctly instead of emitting the adding
        snapshot's (different) column set."""
        if self._schema_json is None and t.exists():
            self._schema_json = t.snapshot().schema_json
        return self._schema_json

    def initialOffset(self) -> dict:
        if self.starting_version is not None:
            return {"version": self.starting_version}
        t = self._table()
        return {"version": t.current_version() if t.exists() else 0}

    def latestOffset(self) -> dict:
        t = self._table()
        return {"version": t.current_version() if t.exists() else 0}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        t = self._table()
        lo, hi = int(start["version"]), int(end["version"])
        if hi <= lo:
            return []
        base_snaps = []
        for v in range(lo + 1, hi + 1):
            s = t.snapshot(v)
            if s.operation in (
                "update-spec", "evolve-schema", "set-properties",
                "rewrite-manifests"
            ):
                continue  # metadata-only: no files added, always safe
            if s.operation != "append":
                if self.skip_non_appends:
                    continue
                raise ValueError(
                    f"streaming range contains non-append snapshot v{v} "
                    f"({s.operation}); restart from the current version or "
                    "set option skip_non_appends=true"
                )
            base_snaps.append(s)
        import json

        from logparserhelper_spark.sinks.hadoop_table import (
            _file_defaults,
            _nested_specs,
            _rename_map,
            _schema_defaults,
            _schema_epoch,
            _schema_ids,
        )

        fixed = self._stream_schema(t)
        if fixed is None or not base_snaps:
            return []
        fixed_ids, _ = _schema_ids(fixed)
        fixed_defaults = _schema_defaults(fixed)
        fixed_epoch = _schema_epoch(fixed)
        fixed_schema = StructType.fromJson(json.loads(fixed))
        parts: list[InputPartition] = []
        for s in base_snaps:
            prev = {f.path for f in t.snapshot(s.parent).files} if s.parent else set()
            # files project to the stream's FIXED schema by field id —
            # valid within one id epoch; across an epoch restart (an
            # overwrite_all skipped via skip_non_appends) ids are
            # unrelated, so fall back to best-effort name alignment
            same_epoch = _schema_epoch(s.schema_json) == fixed_epoch
            for f in s.files:
                if f.content == "data" and f.path not in prev:
                    parts.append(
                        TableFilePartition(
                            file_path=os.path.join(t.root, f.path),
                            rel_path=f.path,
                            partition=dict(f.partition),
                            seq=f.seq,
                            schema_json=fixed,
                            rename_map=(
                                _rename_map(f, fixed_ids)
                                if same_epoch
                                else {}
                            ),
                            defaults=(
                                _file_defaults(f, fixed_ids, fixed_defaults)
                                if same_epoch
                                else {}
                            ),
                            nested_specs=(
                                _nested_specs(
                                    f, fixed_ids, fixed_schema,
                                    fixed_defaults,
                                )
                                if same_epoch
                                else {}
                            ),
                        )
                    )
        return parts

    def read(self, partition: TableFilePartition) -> Iterator[Any]:
        return _read_file_batches(partition)

    def commit(self, end: dict) -> None:
        pass  # offsets live in the stream checkpoint; nothing table-side


@dataclass
class TableWriteMessage(WriterCommitMessage):
    """Per-task commit message: the manifest entries (DataFile json) for
    the parquet files this task staged. The DRIVER composes them into
    one atomic snapshot commit — exactly Iceberg's two-phase write
    (tasks stage immutable files, a single metadata swap publishes)."""

    entries: list


def _resolve_write_target(options: dict, schema) -> tuple:
    """(location, identity partition cols, base schema_json | None) for
    a write. Existing tables dictate their own partitioning; new tables
    take ``.option("partition_by", "a,b")``. Hidden-partition specs and
    exotic dir-value types are refused — pyarrow and Spark format those
    dir values differently, so round-tripping them through this writer
    would corrupt partition parsing (HadoopTable.append handles them)."""
    from pyspark.sql import types as T

    from logparserhelper_spark.sinks.hadoop_table import HadoopTable

    location = options.get("path")
    if not location:
        raise ValueError("snapshot_table requires .save(<table path>)")
    t = HadoopTable(None, location)
    if t.exists():
        snap = t.snapshot()
        if any(f.transform != "identity" for f in snap.spec):
            raise ValueError(
                "the snapshot_table writer supports identity partitioning "
                "only; use HadoopTable.append for hidden-partition specs"
            )
        pcols, base = snap.partition_cols, snap.schema_json
    else:
        raw = options.get("partition_by")
        pcols = (
            [c.strip() for c in str(raw).split(",") if c.strip()]
            if raw
            else []
        )
        base = None
    names = set(schema.fieldNames())
    for c in pcols:
        if c not in names:
            raise ValueError(
                f"partition column {c!r} is not in the written schema"
            )
        dt = schema[c].dataType
        if not isinstance(
            dt,
            (
                T.StringType,
                T.ByteType,
                T.ShortType,
                T.IntegerType,
                T.LongType,
                T.BooleanType,
            ),
        ):
            raise ValueError(
                f"writer partition column {c!r} has type "
                f"{dt.simpleString()}; only string/integral/boolean dir "
                "values round-trip identically between pyarrow and Spark "
                "— use HadoopTable.append for the rest"
            )
    return location, pcols, base


def _stage_batches(
    location: str,
    commit_uuid: str,
    pcols: list,
    schema,
    iterator,
    bloom_cfg: tuple | None = None,
) -> list:
    """Worker body shared by the batch and streaming writers: stage this
    task's rows as immutable parquet under ``data/<commit uuid>/`` at
    their FINAL paths (published only by the driver's metadata swap) and
    return the manifest entries. Task attempt ids key the basenames, so
    speculative/retried attempts can never collide — a failed attempt's
    files stay unreferenced and are reclaimed by the orphan GC."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark import TaskContext

    from logparserhelper_spark.sinks.hadoop_table import (
        DataFile,
        _collect_stats,
        _df_columns,
        _harvest_blooms,
        _local_path,
    )

    batches = [b for b in iterator if b.num_rows]
    if not batches:
        return []
    tbl = pa.Table.from_batches(batches)
    table_root = _local_path(location)
    stage_root = os.path.join(table_root, "data", commit_uuid)
    task = TaskContext.get().taskAttemptId()
    written: list[str] = []
    if pcols:
        pq.write_to_dataset(
            tbl,
            root_path=stage_root,
            partition_cols=pcols,
            basename_template=f"part-{task}-{{i}}.parquet",
            file_visitor=lambda f: written.append(f.path),
            existing_data_behavior="overwrite_or_ignore",
        )
    else:
        os.makedirs(stage_root, exist_ok=True)
        p = os.path.join(stage_root, f"part-{task}-0.parquet")
        pq.write_table(tbl, p)
        written.append(p)
    phys_columns = _df_columns(schema)
    entries = []
    for abs_p in sorted(written):
        part: dict[str, str] = {}
        rel_dir = os.path.relpath(os.path.dirname(abs_p), stage_root)
        if rel_dir != ".":
            for comp in rel_dir.split(os.sep):
                if "=" in comp:
                    k, _, val = comp.partition("=")
                    from urllib.parse import unquote

                    part[k] = unquote(val)
        pf = pq.ParquetFile(abs_p)
        # the native harvest helper, shipped to the write worker with
        # the driver-resolved config, so DataSource-written files skip
        # identically to native writes (one implementation, no drift)
        blooms = (
            _harvest_blooms(pf, bloom_cfg[0], bloom_cfg[1])
            if bloom_cfg and bloom_cfg[0]
            else {}
        )
        entries.append(
            DataFile(
                path=os.path.relpath(abs_p, table_root),
                partition=part,
                records=pf.metadata.num_rows,
                bytes=os.path.getsize(abs_p),
                stats=_collect_stats(pf, None),
                columns=[dict(c) for c in phys_columns],
                blooms=blooms or None,
            ).to_json()
        )
    return entries


class _SnapshotTableWriter(DataSourceArrowWriter):
    """``df.write.format("snapshot_table")`` — the standard Spark write
    API over the snapshot-commit protocol. ``mode("append")`` appends;
    ``mode("overwrite")`` truncates (``overwrite_all``), or replaces
    just the incoming partitions Iceberg-``overwritePartitions``-style
    with ``.option("replace_partitions", "true")``. Tasks stage files in
    parallel; the driver's ``commit`` is one optimistic atomic metadata
    swap, so a failed job publishes NOTHING (abort + orphan GC reclaim
    the staged files)."""

    def __init__(self, options: dict, schema, overwrite: bool):
        self.location, self.pcols, self.base_schema_json = (
            _resolve_write_target(options, schema)
        )
        self.schema = schema
        self.dynamic = (
            str(options.get("replace_partitions", "false")).lower() == "true"
        )
        if self.dynamic and not overwrite:
            raise ValueError(
                "replace_partitions requires mode('overwrite')"
            )
        if self.dynamic and not self.pcols:
            raise ValueError(
                "replace_partitions needs a partitioned table"
            )
        self.op = (
            "replace"
            if self.dynamic
            else ("overwrite_all" if overwrite else "append")
        )
        self.commit_uuid = __import__("uuid").uuid4().hex[:16]
        # bloom config resolves DRIVER-side (metadata JSON read, no
        # Spark needed) and ships to workers with the write function
        from logparserhelper_spark.sinks.hadoop_table import HadoopTable

        try:
            t = HadoopTable(None, self.location)
            self.bloom_cfg = t._bloom_config()
        except Exception:
            self.bloom_cfg = ([], 16384)

    def write(self, iterator):
        return TableWriteMessage(
            _stage_batches(
                self.location,
                self.commit_uuid,
                self.pcols,
                self.schema,
                iterator,
                self.bloom_cfg,
            )
        )

    def _entries(self, messages) -> list:
        from logparserhelper_spark.sinks.hadoop_table import DataFile

        return [
            DataFile.from_json(d)
            for m in messages
            if m is not None
            for d in m.entries
        ]

    def _df_shim(self):
        import types as _t

        return _t.SimpleNamespace(
            schema=self.schema, columns=self.schema.fieldNames()
        )

    def commit(self, messages) -> None:
        from logparserhelper_spark.sinks.hadoop_table import HadoopTable

        HadoopTable(None, self.location)._commit(
            self._entries(messages),
            self._df_shim(),
            self.op,
            self.pcols,
            base_schema_json=self.base_schema_json,
        )

    def abort(self, messages) -> None:
        # best-effort: staged files are unreferenced either way and the
        # orphan GC reclaims whatever this misses
        from logparserhelper_spark.sinks.hadoop_table import _local_path

        root = _local_path(self.location)
        for e in self._entries(messages):
            try:
                os.unlink(os.path.join(root, e.path))
            except OSError:
                pass


class _SnapshotTableStreamWriter(DataSourceStreamWriter, _SnapshotTableWriter):
    """``df.writeStream.format("snapshot_table")`` — exactly-once
    streaming writes: each microbatch commits atomically with its
    ``batchId`` stamped in the snapshot summary, and the replay guard is
    a commit PRECONDITION inside the optimistic retry loop (same
    protocol as sinks/hadoop_table.table_batch_sink), so an
    at-least-once redelivery is a provable no-op (whose staged files are
    reclaimed immediately, not left to the orphan GC). Output modes:
    append appends; complete/truncate (Spark passes ``overwrite=True``)
    lands each batch as an ``overwrite_all`` — the table always holds
    the latest full result of a streaming aggregation."""

    def __init__(self, options: dict, schema, overwrite: bool):
        _SnapshotTableWriter.__init__(self, options, schema, overwrite=False)
        # set AFTER the batch __init__ (which maps overwrite to its own
        # batch semantics): per-microbatch truncate for complete mode
        self.op = "overwrite_all" if overwrite else "append"

    def write(self, iterator):
        return _SnapshotTableWriter.write(self, iterator)

    def commit(self, messages, batchId: int) -> None:
        from logparserhelper_spark.sinks.hadoop_table import (
            HadoopTable,
            PreconditionFailed,
            _batch_guard,
        )

        t = HadoopTable(None, self.location)
        try:
            t._commit(
                self._entries(messages),
                self._df_shim(),
                self.op,
                self.pcols,
                summary_extra={"streaming_batch_id": int(batchId)},
                precondition=_batch_guard(t, int(batchId)),
                base_schema_json=self.base_schema_json,
            )
        except PreconditionFailed:
            # replay of an already-committed batch: a no-op — and the
            # files this delivery staged are dead on arrival, so unlink
            # them now instead of stranding them until the orphan GC
            _SnapshotTableWriter.abort(self, messages)

    def abort(self, messages, batchId: int) -> None:
        _SnapshotTableWriter.abort(self, messages)


class SnapshotTableDataSource(DataSource):
    """``spark.read.format("snapshot_table")`` — see module docstring."""

    def __init__(self, options):
        super().__init__(options)
        # catalog addressing: .option("warehouse", dir).load("ns.tbl") —
        # the identifier maps to a path once, HERE, so every reader/
        # writer (and their worker-side partitions) sees a plain path.
        wh = self.options.get("warehouse")
        p = self.options.get("path")
        if wh and p:
            from logparserhelper_spark.sinks.catalog import ident_location

            self.options["path"] = ident_location(wh, p)

    @classmethod
    def name(cls) -> str:
        return SOURCE_NAME

    def schema(self) -> StructType:
        import json

        from logparserhelper_spark.sinks.hadoop_table import HadoopTable

        t = HadoopTable(
            None, self.options.get("path"),
            branch=self.options.get("branch"),
        )
        v = self.options.get("version")
        ref = self.options.get("ref")
        ts = self.options.get("timestamp_ms")
        version = int(v) if v is not None else None
        if ref is not None:
            version = t._resolve_ref(ref)
        elif version is None and ts is not None:
            version = t.version_at(ts)
        snap = t.snapshot(version)
        # pin the resolved snapshot for the reader: schema() runs at load
        # time, so this makes the whole scan read the load-time snapshot
        # even when commits land between load and action (reader __init__
        # has the same pin as a fallback for explicit-schema loads)
        self.options["version"] = str(snap.version)
        return StructType.fromJson(json.loads(snap.schema_json))

    def reader(self, schema: StructType) -> DataSourceReader:
        return _SnapshotTableReader(dict(self.options))

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return _SnapshotTableStreamReader(dict(self.options))

    def writer(self, schema: StructType, overwrite: bool):
        return _SnapshotTableWriter(dict(self.options), schema, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool):
        return _SnapshotTableStreamWriter(
            dict(self.options), schema, overwrite
        )


def register_table_source(spark) -> None:
    """Idempotently register the data source on a session. Also enables
    `spark.sql.python.filterPushdown.enabled` — Spark refuses a reader
    that implements pushFilters while the flag is off (default), and the
    pruning-only contract here makes it always safe."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SnapshotTableDataSource)
