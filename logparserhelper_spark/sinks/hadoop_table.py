"""Filesystem snapshot-table shim with Iceberg HadoopTables commit semantics.

The production sink story (north rule) is per-sink **Iceberg** tables whose
REPLACE-partition commits make the pipeline's bucket resume exactly-once.
This sandbox has no network and no Iceberg runtime jar, so the commit path
could never execute — this module is the faithful stand-in: a directory
table format implementing the SAME commit protocol Iceberg's HadoopTables
uses (versioned metadata files, atomic fail-if-exists promotion of the next
version, optimistic-concurrency retry, snapshot time travel), sized down to
inline manifests. Semantics mirrored from the public Apache Iceberg spec and
``HadoopTableOperations`` behavior; no Iceberg code or byte format is used.

Layout::

    <location>/
      data/<commit-uuid>/[col=val/...]*.parquet   # immutable once written
      metadata/manifests/m-<uuid>.json            # immutable file lists
      metadata/v<N>.metadata.json                 # snapshot N: manifest LIST
      metadata/version-hint.text                  # advisory cache of N

Commit protocol (commit-or-nothing, single atomic step):

1. Stage: write the incoming DataFrame's parquet files under a fresh
   ``data/<uuid>/`` directory. Staged files are UNREFERENCED — a crash
   here leaves orphans (reclaimed by :func:`HadoopTable.cleanup_orphans`)
   and the table state untouched.
2. Compose the child snapshot's full file list from the parent snapshot
   per the operation: ``append`` keeps all parent files; ``replace``
   (dynamic partition overwrite — Iceberg ``overwritePartitions``) drops
   parent files whose partition value is present in the staged data;
   ``overwrite_all`` drops everything. Parent manifests whose files all
   survive unchanged are carried into the child's manifest list BY PATH;
   only the delta (added/rewritten entries) is written as one new
   immutable manifest under ``metadata/manifests/`` — commit metadata
   cost is O(commit files), Iceberg's manifest-list shape (_publish).
3. Write the snapshot JSON to a temp name, then promote it to
   ``v<parent+1>.metadata.json`` with ``os.link`` — POSIX hardlink
   creation is atomic and FAILS if the target exists, which is exactly
   the fail-if-exists rename HadoopTables relies on from HDFS. Losing a
   race raises ``CommitConflict``; the public entry points re-read the
   new parent and retry (staged data files stay valid across retries).
4. ``version-hint.text`` is refreshed best-effort AFTER the commit —
   readers never trust it, they list ``metadata/`` for the max version,
   so a torn or stale hint cannot produce a wrong read.

A reader therefore sees either the parent snapshot or the child snapshot,
never a mix, no matter where a writer dies — proven by the kill-tests in
tests/test_table_shim.py (SIGKILL injected at every protocol point via
``LPH_TABLE_FAULT``).

Scale note: commit metadata cost is O(commit files) via the manifest
list (a 10,000-commit append-only table writes ~1 manifest per commit and
each metadata version is O(manifests) JSON); scan PLANNING still loads the
referenced manifests driver-side — O(live files), the same scope real
Iceberg's planner reads from its manifest tree, with an in-process
immutable-manifest cache absorbing repeat loads. At 100 TB the real
Iceberg manifest tree + metastore catalog replaces this module behind the
same ``write_table`` call (sinks/writer.py); nothing above the sink API
changes.
"""

from __future__ import annotations

import json
import os
import time
import re as _re
import uuid
from dataclasses import dataclass, field, replace as _dc_replace
from datetime import datetime, timezone
from typing import Any
from urllib.parse import unquote

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .partition_spec import (
    PartitionField,
    derive_partition_columns,
    identity_spec,
    parse_partition_spec,
    partition_may_match,
    spec_from_json,
    spec_to_json,
)


# branch names become path components under metadata/branches/: keep them
# to a safe charset so no name can escape the directory or collide with
# metadata file patterns
_BRANCH_NAME_RE = _re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,63}$")


class CommitConflict(Exception):
    """Another writer promoted this version first (optimistic concurrency)."""


class CompactionConflict(Exception):
    """A concurrent commit replaced files a compaction was rewriting.
    Re-run the compaction against the new snapshot — retrying the SAME
    staged rewrite would resurrect the overwritten data (lost update)."""


class PreconditionFailed(Exception):
    """A commit precondition evaluated False against the current parent
    snapshot (checked atomically with the optimistic retry loop)."""


class NoSuchTable(Exception):
    pass


def _fault(point: str) -> None:
    """Kill-test hook: die WITHOUT cleanup at a named protocol point when
    LPH_TABLE_FAULT names it — SIGKILL, not an exception, so no finally/
    atexit path can tidy up and mask a broken protocol."""
    if os.environ.get("LPH_TABLE_FAULT") == point:
        import signal

        os.kill(os.getpid(), signal.SIGKILL)


def _parse_ts_ms(v: "int | str") -> int:
    """Epoch millis from an int, a digit string, or ISO-8601 (naive =
    UTC — the session timezone everywhere in this repo)."""
    if isinstance(v, int):
        return v
    s = str(v).strip()
    if s.isdigit():
        return int(s)
    from datetime import datetime, timezone

    try:
        dt = datetime.fromisoformat(s)
    except ValueError:
        raise ValueError(
            f"timestamp {v!r}: epoch millis or ISO-8601 "
            "(2024-01-05T12:00:00)"
        )
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return int(dt.timestamp() * 1000)


def _local_path(location: str) -> str:
    """Filesystem path for a table location (bare path or file:// URI)."""
    if location.startswith("file:"):
        rest = location[len("file:"):]
        while rest.startswith("//"):
            rest = rest[1:]
        return unquote(rest)
    return location


_STATS_MAX_STR = 64  # longer string bounds are dropped, not truncated
_PRED_OPS = {"=", "==", "<", "<=", ">", ">=", "in", "is_null", "is_not_null"}

# ------------------------------------------------------------ field IDs
# Schema evolution beyond column ADDS needs a name-independent column
# identity — Iceberg's field IDs. The shim stores the id assignment as two
# extra top-level keys inside schema_json ("lph-field-ids": name -> id,
# "lph-last-field-id": high-water mark); StructType.fromJson ignores keys
# it does not know, so every existing schema_json consumer keeps working
# untouched. Each data file additionally records its PHYSICAL columns
# (name/type/id as written) in the manifest, so renames, drops, and type
# widenings are metadata-only commits: the read path projects every file
# from its physical shape to the current schema by ID (rename -> alias,
# widen -> cast, dropped -> omitted, later-added -> null), and a column
# re-added after a drop gets a FRESH id so pre-drop values can never
# resurrect under the new column — the Iceberg v2 semantics exactly.

# type widenings whose casts are lossless for every value (the Iceberg
# allowed set for primitive promotions, by Spark typeName)
_WIDEN_OK = {
    ("byte", "short"), ("byte", "integer"), ("byte", "long"),
    ("short", "integer"), ("short", "long"),
    ("integer", "long"),
    ("float", "double"),
}


def _schema_ids(schema_json: str) -> tuple[dict[str, int], int]:
    """(name -> field id, last assigned id) for a snapshot schema. A
    legacy schema_json (written before field ids existed) synthesizes
    POSITIONAL ids — stable across legacy snapshots because the only
    evolution legacy metadata can contain is additive (appended fields
    keep every earlier position); the first DDL commit persists them."""
    d = json.loads(schema_json)
    raw = d.get("lph-field-ids")
    if raw:
        ids = {k: int(v) for k, v in raw.items()}
        return ids, int(d.get("lph-last-field-id", max(ids.values())))
    names = [f["name"] for f in d["fields"]]
    return {n: i + 1 for i, n in enumerate(names)}, len(names)


def _ids_json(
    struct_json_value: dict,
    ids: dict[str, int],
    last_id: int,
    defaults: dict[int, Any] | None = None,
    epoch: str | None = None,
) -> str:
    """Serialize a StructType jsonValue plus the field-id keys (and the
    per-FIELD-ID default values, when any exist — keying defaults by id
    makes them survive renames for free)."""
    out = dict(struct_json_value)
    out["lph-field-ids"] = {k: int(v) for k, v in ids.items()}
    out["lph-last-field-id"] = int(last_id)
    if defaults:
        out["lph-field-defaults"] = {str(k): v for k, v in defaults.items()}
    # id EPOCH: two schemas' field ids are comparable only when their
    # epochs match — overwrite_all restarts the id space (id 1 before
    # and after it are UNRELATED columns), so it mints a fresh epoch
    out["lph-id-epoch"] = epoch or uuid.uuid4().hex[:12]
    return json.dumps(out)


def _schema_epoch(schema_json: str) -> str | None:
    """The schema's id-lineage epoch; None for legacy metadata (whose
    synthesized positional ids never crossed an overwrite and are only
    compared within one retained chain)."""
    return json.loads(schema_json).get("lph-id-epoch")


def _schema_defaults(schema_json: str) -> dict[int, Any]:
    """field id -> default value (Iceberg v3 initial/write default):
    rows in files that PREDATE the field read back the default instead
    of null. JSON-primitive values only (int/float/str/bool)."""
    d = json.loads(schema_json)
    raw = d.get("lph-field-defaults") or {}
    return {int(k): v for k, v in raw.items()}


def _nested_paths(
    fields: list[dict], prefix: str = ""
) -> list[tuple[str, dict]]:
    """(dotted path, field json) for every field NESTED inside a plain
    struct, depth-first — the id-assignment order Iceberg uses. Only
    struct nesting participates (array/map interiors are opaque to the
    shim's evolution: no ids inside them, nested DDL refuses)."""
    out: list[tuple[str, dict]] = []
    for f in fields:
        path = prefix + f["name"]
        t = f["type"]
        if isinstance(t, dict) and t.get("type") == "struct":
            for sub in t["fields"]:
                out.append((path + "." + sub["name"], sub))
            out.extend(_nested_paths(t["fields"], prefix=path + "."))
    return out


def _dotted_tree(fields: list[dict]) -> set[str]:
    """Top-level column names whose struct tree contains a field name
    with a literal '.' — dotted-path id keys would be ambiguous there,
    so those trees keep whole-column (by-name) semantics: no nested ids
    are minted and nested DDL refuses."""
    out: set[str] = set()
    for f in fields:
        t = f["type"]
        if isinstance(t, dict) and t.get("type") == "struct":
            tree = [(f["name"] + "." + s["name"], s) for s in t["fields"]]
            tree += _nested_paths(t["fields"], prefix=f["name"] + ".")
            if "." in f["name"] or any(
                "." in sub["name"] for _p, sub in tree
            ):
                out.add(f["name"])
    return out


def _mint_nested_ids(
    fields: list[dict], ids: dict[str, int], last: int
) -> tuple[dict[str, int], int]:
    """Assign fresh ids to nested struct paths missing from ``ids``
    (stable depth-first order, past the high-water mark — existing ids,
    top-level or nested, are never touched). Called on every schema
    commit and on additive write evolution, so struct columns become
    nested-DDL-capable the first time any schema event happens under
    this code; compact() then migrates pre-existing files' manifests."""
    skip = _dotted_tree(fields)
    for path, _f in _nested_paths(fields):
        if path.split(".", 1)[0] in skip:
            continue
        if ids.get(path) is None:
            last += 1
            ids[path] = last
    return ids, last


def _df_columns(schema) -> list[dict[str, Any]]:
    """Physical-column manifest entries for a staged DataFrame schema:
    [{"name", "type" (Spark type jsonValue), "id" (filled at commit)}].
    Recorded per data file so the file stays readable under every FUTURE
    schema — the mapping key is the id, never the name."""
    return [
        {"name": f.name, "type": f.dataType.jsonValue(), "id": None}
        for f in schema.fields
    ]


def _columns_struct(columns: list[dict[str, Any]]):
    """StructType of a file's recorded physical columns (read schema for
    its staging root — names and types exactly as written)."""
    from pyspark.sql.types import StructField, StructType

    return StructType(
        [
            StructField.fromJson(
                {
                    "name": c["name"],
                    "type": c["type"],
                    "nullable": True,
                    "metadata": {},
                }
            )
            for c in columns
        ]
    )


def _type_rel_paths(tjson, prefix: str = "") -> list[str]:
    """Every dotted path RELATIVE to a column, from its type json tree
    (struct nesting only)."""
    out: list[str] = []
    if isinstance(tjson, dict) and tjson.get("type") == "struct":
        for sub in tjson["fields"]:
            rp = prefix + sub["name"]
            out.append(rp)
            out.extend(_type_rel_paths(sub["type"], rp + "."))
    return out


def _rel_ids_under(
    ids: dict[str, int], top: str
) -> dict[str, int]:
    """The dotted-id map rebased RELATIVE to one top-level column: e.g.
    {'props.lat': 4} -> {'lat': 4} for top='props'."""
    pre = top + "."
    return {k[len(pre):]: v for k, v in ids.items() if k.startswith(pre)}


def _struct_align_expr(
    base,
    phys_type: dict,
    rel_ids: dict[str, int] | None,
    cur_prefix: str,
    cur_dt,
    cur_ids: dict[str, int],
    cur_defaults: dict[int, Any],
    rel_prefix: str = "",
):
    """Project a physically-shaped struct Column onto the CURRENT struct
    type by nested field id (the recursive analogue of the top-level
    physical->current projection): renamed inner fields alias, widened
    ones cast, dropped ones are omitted, later-added ones read their
    default (else null), and a dropped+re-added inner name can never
    resurrect old values (the old physical field's id left the schema).
    ``rel_ids`` maps the FILE's inner paths (relative to the column) to
    ids; None means the file predates nested annotation, where matching
    by NAME is exact (nested DDL refuses while such files are live, so
    no rename/drop can have happened during their lifetime). NULL struct
    values stay null (a plain F.struct would fabricate a row of
    nulls)."""
    phys_fields = phys_type.get("fields", [])
    id_of_phys = {}
    if rel_ids is not None:
        for x in phys_fields:
            fid = rel_ids.get(rel_prefix + x["name"])
            if fid is not None:
                id_of_phys[fid] = x
    inner = []
    for g in cur_dt.fields:
        path = f"{cur_prefix}.{g.name}"
        gid = cur_ids.get(path)
        if rel_ids is None:
            x = next(
                (p for p in phys_fields if p["name"] == g.name), None
            )
        else:
            x = id_of_phys.get(gid) if gid is not None else None
        if x is None:
            dv = cur_defaults.get(gid) if gid is not None else None
            inner.append(F.lit(dv).cast(g.dataType).alias(g.name))
            continue
        child = base.getField(x["name"])
        from pyspark.sql.types import StructType as _St

        if isinstance(g.dataType, _St) and isinstance(x["type"], dict) and (
            x["type"].get("type") == "struct"
        ):
            inner.append(
                _struct_align_expr(
                    child,
                    x["type"],
                    rel_ids,
                    path,
                    g.dataType,
                    cur_ids,
                    cur_defaults,
                    rel_prefix=rel_prefix + x["name"] + ".",
                ).alias(g.name)
            )
        else:
            inner.append(child.cast(g.dataType).alias(g.name))
    return F.when(base.isNotNull(), F.struct(*inner)).otherwise(
        F.lit(None)
    ).cast(cur_dt)


def _struct_trivial(
    entry: dict, sf, cur_ids: dict[str, int]
) -> bool:
    """True when reading this file's struct column BY NAME under the
    current schema is exactly right: the physical type matches the
    current type AND (the file carries no nested-id map — possible only
    if no nested DDL ever ran while it was live, where names are the
    mapping — or every nested id agrees with the current assignment, so
    no inner drop+re-add can be hiding behind equal names)."""
    if entry["type"] != sf.dataType.jsonValue():
        return False
    rel = entry.get("ids")
    if rel is None:
        return True
    for path, fid in _rel_ids_under(cur_ids, sf.name).items():
        if rel.get(path) != fid:
            return False
    return True


def _physical_name(f: "DataFile", col: str, cur_ids: dict[str, int]) -> str | None:
    """The physical (as-written) column name inside data file ``f`` for
    the CURRENT-schema column ``col`` — None when the file predates the
    column (every row reads as null). Legacy files (no column manifest)
    map by name: they can only exist on tables that never ran a DDL op
    (the DDL guards refuse while un-annotated live files exist)."""
    if f.columns is None:
        return col
    fid = cur_ids.get(col)
    for c in f.columns:
        if c.get("id") == fid and fid is not None:
            return c["name"]
    return None


def _physical_nested(
    f: "DataFile", col: str, cur_ids: dict[str, int]
) -> str | None:
    """The physical dotted footer path inside data file ``f`` for the
    CURRENT-schema nested path ``col`` (struct chain) — None when the
    file predates the inner field or its parent column. File manifests
    record each top-level column's nested ids as a RELATIVE dotted map
    (``{"lang": 4}`` under ``props``), so the translation is parent id
    -> physical parent name, then inner id -> physical relative path."""
    top, rel = col.split(".", 1)
    top_id, fid = cur_ids.get(top), cur_ids.get(col)
    if top_id is None or fid is None:
        return None
    for c in f.columns or []:
        if c.get("id") == top_id:
            if "ids" not in c:
                # pre-mint annotation: nested ids are minted by the
                # FIRST nested DDL, so this file's inner names cannot
                # have been renamed — relative names map verbatim (only
                # the parent may carry a top-level rename)
                return c["name"] + "." + rel
            for rname, rid in (c.get("ids") or {}).items():
                if rid == fid:
                    return c["name"] + "." + rname
            return None
    return None


def _file_pred_match(
    f: "DataFile",
    pred: list[tuple],
    cur_ids: dict[str, int],
    defaults: dict[int, Any] | None = None,
) -> bool:
    """Metrics-based skipping under schema evolution: translate each
    predicate term's CURRENT column name to the file's physical name by
    field id before consulting the footer stats. A file that predates
    the column holds one constant for it — its default when the field
    has one (Iceberg v3), else null — so every term is decidable
    outright: provably false skips the file, provably true drops the
    term."""
    terms = []
    for term in pred:  # null-check terms are 2-tuples (no value)
        col, op = term[0], term[1]
        if "." in col:
            # NESTED struct path: exact id translation via the file's
            # relative nested-id maps. Legacy manifests map by name
            # (tables that never ran a DDL op), unknown names stay
            # name-based (missing stats keep the file).
            fid = cur_ids.get(col)
            if f.columns is None or fid is None:
                terms.append(tuple(term))
                continue
            pn = _physical_nested(f, col, cur_ids)
            if pn is not None:
                terms.append((pn, op) + tuple(term[2:]))
                continue
            # the file PREDATES the inner field (or its parent struct).
            dv = (defaults or {}).get(fid)
            if dv is None:
                # no default: the path reads NULL in every row — whether
                # the parent struct predates too (null struct -> null
                # inner) or only the inner field does. Decidable:
                if op == "is_null":
                    continue
                return False
            # predates WITH a v3 default: rows under a non-null parent
            # read dv, parent-null rows read NULL — NOT constant, so
            # only the "dv provably cannot satisfy" direction prunes
            # (NULL never satisfies a comparison either); null-test
            # terms keep the file (the parent-null fraction is unknown).
            if op in ("is_null", "is_not_null"):
                continue
            if op == "in":
                vals = term[2]
                if any(_stat_kind(m) != _stat_kind(dv) for m in vals):
                    continue  # cross-kind member: keep the file
                try:
                    hold = any(dv == m for m in vals)
                except TypeError:
                    continue
                if not hold:
                    return False  # incl. the empty IN list
                continue
            v = term[2]
            if _stat_kind(dv) != _stat_kind(v):
                continue  # cross-kind compare: keep the file
            try:
                hold = {
                    "=": dv == v, "==": dv == v,
                    "<": dv < v, "<=": dv <= v,
                    ">": dv > v, ">=": dv >= v,
                }[op]
            except TypeError:
                continue  # incomparable types: keep the file
            if not hold:
                return False
            continue
        if cur_ids.get(col) is None:
            # unknown name or a derived partition value: keep the term
            # name-based, where missing stats keep the file
            terms.append(tuple(term))
            continue
        pn = _physical_name(f, col, cur_ids)
        if pn is None:
            dv = (defaults or {}).get(cur_ids[col])
            if dv is None:  # schema column the file PREDATES: all null
                if op == "is_null":
                    continue
                return False
            # every row reads the default: evaluate the term against it
            if op == "is_null":
                return False
            if op == "is_not_null":
                continue
            if op == "in":
                vals = term[2]
                if any(_stat_kind(m) != _stat_kind(dv) for m in vals):
                    continue  # cross-kind member: keep the file
                try:
                    hold = any(dv == m for m in vals)
                except TypeError:
                    continue  # incomparable types: keep the file
                if not hold:
                    return False  # incl. the empty IN list: never true
                continue
            v = term[2]
            if _stat_kind(dv) != _stat_kind(v):
                # cross-kind compare (a == between them silently returns
                # False instead of raising): keep the file, never prune
                continue
            try:
                hold = {
                    "=": dv == v, "==": dv == v,
                    "<": dv < v, "<=": dv <= v,
                    ">": dv > v, ">=": dv >= v,
                }[op]
            except TypeError:
                continue  # incomparable types: keep the file (never wrong)
            if not hold:
                return False
            continue
        terms.append((pn, op) + tuple(term[2:]))
    return _file_may_match(f, terms)


def _stat_value(v: Any) -> tuple[bool, Any]:
    """Canonical JSON-storable, order-preserving encoding for a footer
    stat value or a predicate constant — both sides of every pruning
    comparison go through here so they compare in the same domain.
    Timestamps normalize to UTC-naive ISO with FIXED microsecond
    precision (plain ISO is only lexicographically ordered at equal
    precision: '..T00:00:00' < '..T00:00:00.000000' despite being the
    same instant, which would make a >=-prune drop a matching file).
    Returns (ok, encoded); ok=False means "unusable — do not prune".

    Encodings are comparable only WITHIN one type kind (see
    :func:`_stat_kind`): a date encodes as '2024-01-05' while a
    timestamp encodes as '2024-01-05T00:00:00.000000', so comparing
    them lexicographically would wrongly prune files whose rows Spark's
    residual date->timestamp coercion matches. _file_may_match tags
    both sides with their kind and either lifts the date side to the
    midnight timestamp form (exact under Spark's coercion) or refuses
    to prune."""
    import datetime as _dt

    if isinstance(v, bool) or isinstance(v, (int, float)):
        return True, v
    if isinstance(v, str):
        # a truncated bound would need direction-aware rounding (Iceberg
        # truncates min down / max up); dropping the bound is always safe
        return (True, v) if len(v) <= _STATS_MAX_STR else (False, None)
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return True, v.isoformat(timespec="microseconds")
    if isinstance(v, _dt.date):
        return True, v.isoformat()
    return False, None


def _stat_kind(v: Any) -> str | None:
    """Type kind of a raw stat value / predicate constant. Values of
    different kinds do NOT share an encoding domain: pruning must not
    compare them (except the exact date<->timestamp midnight lift).
    datetime is checked before date (it is a date subclass)."""
    import datetime as _dt

    if isinstance(v, bool) or isinstance(v, (int, float)):
        return "num"
    if isinstance(v, str):
        return "str"
    if isinstance(v, _dt.datetime):
        return "ts"
    if isinstance(v, _dt.date):
        return "date"
    return None


def _lift_date(encoded: Any) -> Any:
    """Lift an encoded DATE bound/constant into the timestamp encoding
    domain. Exact, not approximate: Spark's date->timestamp coercion
    maps a date to its midnight instant, so every date-column value
    compares as exactly this timestamp."""
    return None if encoded is None else f"{encoded}T00:00:00.000000"


def _struct_leaf_paths(schema_arrow) -> set[str]:
    """Dotted footer paths of every leaf reachable through STRUCT
    nesting only. List/map/union legs are excluded — their parquet leaf
    paths carry synthetic segments (``arr.list.element``) and a
    predicate cannot address their elements as a scalar column — and
    the walk (not a string test on '.') keeps a struct field literally
    named ``list`` harvestable."""
    import pyarrow as pa

    out: set[str] = set()

    def walk(field, prefix: str) -> None:
        t = field.type
        if pa.types.is_struct(t):
            for i in range(t.num_fields):
                walk(t.field(i), prefix + field.name + ".")
        elif not (
            pa.types.is_list(t)
            or pa.types.is_large_list(t)
            or pa.types.is_fixed_size_list(t)
            or pa.types.is_map(t)
            or pa.types.is_union(t)
        ):
            out.add(prefix + field.name)

    for f in schema_arrow:
        walk(f, "")
    return out


def _collect_stats(pf, stats_columns: list[str] | None):
    """Aggregate per-column min/max/null_count across a parquet file's row
    groups (the footer is already open — metrics are free, the same place
    Iceberg harvests them). Top-level leaves AND struct-nested leaves
    (dotted footer paths — a nested leaf's null count includes rows whose
    parent struct is null, exactly the semantics the evaluator needs);
    list/map elements are not addressable by a predicate and are skipped.
    A row group with non-null values but no usable bounds invalidates
    that bound for the whole file (an all-null group merely contributes
    nulls)."""
    md = pf.metadata
    eligible = _struct_leaf_paths(pf.schema_arrow)
    per: dict[str, dict[str, Any]] = {}
    for rg_i in range(md.num_row_groups):
        rg = md.row_group(rg_i)
        n_rows = rg.num_rows
        for ci in range(rg.num_columns):
            c = rg.column(ci)
            name = c.path_in_schema
            if name not in eligible:
                continue
            if stats_columns is not None and name not in stats_columns:
                continue
            e = per.setdefault(
                name, {"mins": [], "maxs": [], "nulls": 0,
                       "lo": True, "hi": True, "ok": True}
            )
            if not e["ok"]:
                continue
            st = c.statistics
            if st is None or st.null_count is None:
                e["ok"] = False  # no reliable null count -> no stats at all
                continue
            e["nulls"] += st.null_count
            if st.null_count == n_rows:
                continue  # all-null group: no bound contribution
            if not st.has_min_max:
                e["lo"] = e["hi"] = False
                continue
            ok_lo, lo = _stat_value(st.min)
            ok_hi, hi = _stat_value(st.max)
            if e.get("kind") is None:
                e["kind"] = _stat_kind(st.min)
            if ok_lo:
                e["mins"].append(lo)
            else:
                e["lo"] = False
            if ok_hi:
                e["maxs"].append(hi)
            else:
                e["hi"] = False
    out = {}
    for name, e in per.items():
        if not e["ok"]:
            continue
        entry = {
            "min": min(e["mins"]) if e["lo"] and e["mins"] else None,
            "max": max(e["maxs"]) if e["hi"] and e["maxs"] else None,
            "nulls": e["nulls"],
        }
        # the bounds' type kind, recorded for the STRING-ENCODED kinds
        # only (str/ts/date): those share Python's str domain, so a
        # cross-kind comparison would succeed lexicographically and
        # wrongly prune — e.g. a timestamp constant
        # '2024-01-05T00:00:00.000000' against a date bound '2024-01-05'.
        # Numeric bounds need no tag: comparing them against a string-ish
        # constant raises TypeError, which the evaluator already treats
        # as "keep the file".
        if e.get("kind") in ("str", "ts", "date") and (
            entry["min"] is not None or entry["max"] is not None
        ):
            entry["kind"] = e["kind"]
        out[name] = entry
    return out or None


def _zvalue_column(df: DataFrame, cols: list[str]) -> Any:
    """Z-curve key for ``compact(zorder_by=...)``: each column's value is
    linearly scaled to a 16-bit rank between its GLOBAL min and max (one
    single-row agg — bounded driver transfer by construction), and the
    ranks' bits are interleaved JVM-side (shift/and/or chain, stays in
    whole-stage codegen — no UDF). Nulls rank lowest, matching the
    NULLS FIRST order a sort would give. Numeric, date, timestamp, and
    string columns — strings rank by their first-6-utf8-bytes PREFIX
    (right-padded hex -> 48-bit big-endian value, exact in a double),
    exactly Iceberg's string z-order semantics: lexicographic locality
    is preserved, so range/point predicates on the string's leading
    bytes skip files; hashing would have destroyed that locality."""

    def numeric(c: str):
        dt = df.schema[c].dataType.simpleString()
        col = F.col(c)
        if dt.startswith("timestamp"):
            return F.unix_micros(col.cast("timestamp")).cast("double")
        if dt == "date":
            return col.cast("timestamp").cast("double")
        if dt in ("tinyint", "smallint", "int", "bigint", "float",
                  "double") or dt.startswith("decimal"):
            return col.cast("double")
        if dt == "string":
            # first 6 utf8 bytes as a big-endian integer (48 bits —
            # exact in the double mantissa); right-padding the hex
            # keeps prefix order ('ab' < 'abc' < 'ac'), all in codegen.
            # Caveat (same as Iceberg's): values sharing their first 6
            # bytes rank equal — a shared long prefix ('key-00...')
            # makes the column contribute nothing to the curve
            return F.conv(
                F.rpad(F.hex(F.substring(col, 1, 6)), 12, "0"), 16, 10
            ).cast("double")
        raise ValueError(
            f"zorder_by column {c!r} has unsupported type {dt}; "
            "numeric/date/timestamp/string only"
        )

    nums = {c: numeric(c) for c in cols}
    aggs = []
    for i, c in enumerate(cols):
        aggs += [F.min(nums[c]).alias(f"lo{i}"), F.max(nums[c]).alias(f"hi{i}")]
    b = df.agg(*aggs).collect()[0]
    z = F.lit(0).cast("long")
    k = len(cols)
    for i, c in enumerate(cols):
        lo, hi = b[f"lo{i}"], b[f"hi{i}"]
        if lo is None or hi is None or hi == lo:
            continue  # all-null or constant column: contributes nothing
        rank = F.least(
            F.lit(65535),
            F.greatest(
                F.lit(0),
                F.floor((nums[c] - F.lit(lo)) / F.lit(hi - lo) * 65535),
            ),
        )
        rank = F.coalesce(rank, F.lit(0)).cast("long")  # nulls lowest
        for bit in range(16):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(rank, bit).bitwiseAND(F.lit(1)),
                    bit * k + i,
                )
            )
    return z


def _check_predicate(pred) -> list[tuple]:
    terms = []
    for t in pred:
        t = tuple(t)
        if len(t) < 2 or t[1] not in _PRED_OPS:
            raise ValueError(f"bad predicate term {t!r}; ops: {sorted(_PRED_OPS)}")
        if t[1] not in ("is_null", "is_not_null") and len(t) != 3:
            raise ValueError(f"predicate term {t!r} needs a value")
        if t[1] == "in":
            if not isinstance(t[2], (list, tuple, set, frozenset)):
                raise ValueError(
                    f"predicate term {t!r}: 'in' needs a list/tuple of values"
                )
            # NULL members can never make `col IN (...)` TRUE (only
            # UNKNOWN, which reads and deletes both treat as non-match),
            # so drop them; an empty remainder is a provably-false term
            # that every evaluator short-circuits on.
            t = (t[0], "in", tuple(v for v in t[2] if v is not None))
        terms.append(t)
    return terms


def _assigned_cols(schema, assignments: dict[str, Any], cond=None) -> list:
    """The full-schema select list applying ``assignments``: each assigned
    column takes its new value (a literal cast to the column type, or a
    pyspark Column as-is) — conditionally under ``cond`` (copy-on-write:
    non-matching rows keep their values) or unconditionally when ``cond``
    is None (merge-on-read: the input is already only matched rows)."""
    cols = []
    for fld in schema.fields:
        if fld.name in assignments:
            v = assignments[fld.name]
            new_v = v if isinstance(v, Column) else F.lit(v).cast(fld.dataType)
            if cond is not None:
                new_v = F.when(cond, new_v).otherwise(F.col(fld.name))
            cols.append(new_v.alias(fld.name))
        else:
            cols.append(F.col(fld.name))
    return cols


def _in_member_may_match(raw: Any, st: dict, lo: Any, hi: Any) -> bool:
    """Could ``col = raw`` hold for some row given the file's bounds?
    The single-member equality check of :func:`_file_may_match`'s ``=``
    path (same encoding, kind-tagging, and date<->timestamp lift rules),
    used per-member by the ``in`` disjunction. True on any ambiguity."""
    ok_v, v = _stat_value(raw)
    if not ok_v:
        return True
    vk = _stat_kind(raw)
    if vk in ("str", "ts", "date"):
        sk = st.get("kind")
        if sk != vk:
            if {sk, vk} == {"date", "ts"}:
                if vk == "date":
                    v = _lift_date(v)
                else:
                    lo, hi = _lift_date(lo), _lift_date(hi)
            elif vk == "str" and sk is None:
                pass  # legacy untagged bound: numeric raises below (kept)
            else:
                return True  # incomparable encodings: never prune
    try:
        return not (
            (lo is not None and v < lo) or (hi is not None and v > hi)
        )
    except TypeError:
        return True  # stat/constant types don't compare: keep the file


def _file_may_match(f: DataFile, pred: list[tuple]) -> bool:
    """Metrics-based file skipping (Iceberg planner's evaluator): False
    only when some conjunct is PROVABLY false for every row in the file —
    unknown bounds, missing stats, or incomparable types keep the file."""
    if f.records == 0 and pred:
        return False  # an empty file satisfies no predicate
    for term in pred:
        col, op = term[0], term[1]
        if op == "in" and not term[2]:
            return False  # empty IN list: provably false for every row
        st = (f.stats or {}).get(col)
        if st is None:
            continue
        lo, hi, nulls = st.get("min"), st.get("max"), st.get("nulls")
        all_null = f.records > 0 and nulls == f.records
        if op == "is_null":
            if f.records > 0 and nulls == 0:
                return False
            continue
        if op == "is_not_null":
            if all_null:
                return False
            continue
        if all_null:
            return False  # any comparison against only-null values is never true
        if op == "in":
            # disjunction of equalities: prune only when EVERY member is
            # provably outside the file's bounds; any undecidable member
            # keeps the file (the same conservative contract as below)
            if any(_in_member_may_match(m, st, lo, hi) for m in term[2]):
                continue
            return False
        ok_v, v = _stat_value(term[2])
        if not ok_v:
            continue
        vk = _stat_kind(term[2])
        if vk in ("str", "ts", "date"):
            # string-encoded kinds share Python's str domain, so a
            # cross-kind comparison succeeds lexicographically — and is
            # wrong. Only same-kind bounds compare; date<->timestamp
            # gets the exact midnight lift (Spark's coercion); an
            # untagged (legacy numeric-era or pre-kind) bound facing a
            # temporal constant cannot be trusted — keep the file.
            sk = st.get("kind")
            if sk != vk:
                if {sk, vk} == {"date", "ts"}:
                    if vk == "date":
                        v = _lift_date(v)
                    else:
                        lo, hi = _lift_date(lo), _lift_date(hi)
                elif vk == "str" and sk is None:
                    pass  # plain string vs untagged bound: legacy path,
                    # numeric bounds raise TypeError below (file kept)
                else:
                    continue  # incomparable encodings: never prune
        try:
            if op in ("=", "=="):
                if (lo is not None and v < lo) or (hi is not None and v > hi):
                    return False
            elif op == "<":
                if lo is not None and lo >= v:
                    return False
            elif op == "<=":
                if lo is not None and lo > v:
                    return False
            elif op == ">":
                if hi is not None and hi <= v:
                    return False
            elif op == ">=":
                if hi is not None and hi < v:
                    return False
        except TypeError:
            continue  # stat/constant types don't compare: keep the file
    return True


def _pred_expr(pred: list[tuple]):
    """The predicate as a Spark Column — the residual filter applied to
    the pruned scan, so `read(predicate=...)` returns exactly-matching
    rows (pruning is a scan optimization, never the filter itself)."""
    expr = None
    for term in pred:
        c = F.col(term[0])
        op = term[1]
        if op == "is_null":
            e = c.isNull()
        elif op == "is_not_null":
            e = c.isNotNull()
        else:
            v = term[2]
            if op == "in":
                # NULL members were already stripped by _check_predicate;
                # an empty list is the provably-false term
                e = c.isin(list(v)) if v else F.lit(False)
            elif op in ("=", "=="):
                e = c == v
            elif op == "<":
                e = c < v
            elif op == "<=":
                e = c <= v
            elif op == ">":
                e = c > v
            else:
                e = c >= v
        expr = e if expr is None else expr & e
    return expr


@dataclass(frozen=True)
class DataFile:
    path: str  # relative to the table location
    partition: dict[str, str]  # raw hive dir values (url-decoded strings)
    records: int
    bytes: int
    # per-column {"min": v|None, "max": v|None, "nulls": int} harvested from
    # the parquet footer at stage time (Iceberg's data-file metrics). None
    # bounds mean "unknown" — pruning on them is impossible, never wrong.
    stats: dict[str, dict[str, Any]] | None = None
    # Iceberg v2 row-level-delete fields. ``content``: "data",
    # "position-deletes" (rows of (file_path, pos) naming exact dead rows)
    # or "equality-deletes" (rows of the equality columns; a data row
    # matching any of them on ``equality_cols`` is dead). ``seq`` is the
    # data sequence number of the commit that added the file; an equality
    # delete applies only to data files with STRICTLY SMALLER seq (so an
    # upsert's own inserts survive its own delete), a position delete
    # names its targets by path so seq never decides applicability here.
    content: str = "data"
    seq: int = 0
    equality_cols: list[str] | None = None
    # physical column manifest ({"name","type","id"} per column as
    # WRITTEN, ids assigned at commit) — the schema-evolution anchor.
    # None = legacy entry (pre-field-id metadata): readable by name only.
    columns: list[dict[str, Any]] | None = None

    def to_json(self) -> dict[str, Any]:
        d: dict[str, Any] = {
            "path": self.path,
            "partition": self.partition,
            "records": self.records,
            "bytes": self.bytes,
            "seq": self.seq,
        }
        if self.stats is not None:
            d["stats"] = self.stats
        if self.content != "data":
            d["content"] = self.content
        if self.equality_cols is not None:
            d["equality_cols"] = list(self.equality_cols)
        if self.columns is not None:
            d["columns"] = self.columns
        return d

    @staticmethod
    def from_json(d: dict[str, Any]) -> "DataFile":
        # keys of retired features ("blooms", "sketches") in older
        # manifests are ignored
        return DataFile(
            d["path"], dict(d["partition"]), d["records"], d["bytes"],
            d.get("stats"),
            content=d.get("content", "data"),
            seq=d.get("seq", 0),
            equality_cols=d.get("equality_cols"),
            columns=d.get("columns"),
        )


def _eq_reaches(d: "DataFile", f: "DataFile") -> bool:
    """Can equality-delete file ``d`` affect rows of data file ``f``?
    The Iceberg older-seq rule, PLUS partition-scope skipping: a scoped
    delete file (staged partitioned, possible whenever the delete keys
    cover every spec source) can only hold keys whose derived partition
    equals its own tuple, so a data file provably in a DIFFERENT
    partition is out of reach — readers, compact()'s rewrite set and CDC
    scopes all skip it.
    Conservative on any ambiguity (unscoped deletes, old-layout files
    missing a key): reachable."""
    if f.seq >= d.seq:
        return False
    for k, v in (d.partition or {}).items():
        fv = f.partition.get(k)
        if fv is not None and fv != v:
            return False
    return True


@dataclass
class Snapshot:
    version: int
    parent: int | None
    operation: str
    timestamp_ms: int
    schema_json: str
    partition_cols: list[str]
    files: list[DataFile] = field(default_factory=list)
    summary: dict[str, Any] = field(default_factory=dict)
    # hidden-partitioning spec (partition_spec.py). Empty = legacy
    # manifest: every partition column is an identity field.
    partition_spec: list[PartitionField] = field(default_factory=list)
    # table PROPERTIES (Iceberg's key->value config map): carried forward
    # by every commit, mutated only by set/unset_properties. String
    # values only — they are configuration, not data.
    properties: dict[str, str] = field(default_factory=dict)
    # manifest-list structure (Iceberg's manifest tree, one level): the
    # snapshot's files grouped by the immutable manifest file each is
    # recorded in — [(table-root-relative path, files)]. ``files`` above
    # stays the flat concatenation in manifest order. None for legacy
    # (inline-"files") metadata and ad-hoc in-memory snapshots; the next
    # commit over such a parent simply writes one full manifest.
    manifests: "list[tuple[str, tuple[DataFile, ...]]] | None" = None

    @property
    def spec(self) -> list[PartitionField]:
        return self.partition_spec or identity_spec(self.partition_cols)

    @property
    def data_files(self) -> list[DataFile]:
        return [f for f in self.files if f.content == "data"]

    @property
    def delete_files(self) -> list[DataFile]:
        return [f for f in self.files if f.content != "data"]

    @property
    def total_records(self) -> int:
        """Live-row count: data records minus position-delete records.
        EXACT under this module's own invariants — a position delete only
        ever records rows that were live when it committed (the delete
        scan applies existing deletes first), and every rewrite path
        (compact/upsert/delete) prunes position-delete entries whose
        target file left the manifest in the same commit. Equality-delete
        files are NOT subtractable without a scan (Iceberg has the same
        caveat); their row counts are in the commit summaries."""
        return sum(f.records for f in self.data_files) - sum(
            f.records for f in self.files if f.content == "position-deletes"
        )


def _snapshot_payload(snap: Snapshot) -> dict[str, Any]:
    """The metadata-file JSON for a snapshot — ONE serialization for
    every commit path, so a new snapshot field (properties, spec, ...)
    cannot be forgotten by one of them. The file list is NOT inlined:
    the payload references immutable manifest files (written by
    :meth:`HadoopTable._publish` before the promote), so a commit's
    metadata write is O(manifests), not O(table files). Entry counters
    are denormalized for inspection without opening the manifests."""
    assert snap.manifests is not None, "publish composes manifests first"
    return {
        "format_version": 2,
        "version": snap.version,
        "parent": snap.parent,
        "operation": snap.operation,
        "timestamp_ms": snap.timestamp_ms,
        "schema_json": snap.schema_json,
        "partition_cols": snap.partition_cols,
        "partition_spec": spec_to_json(snap.spec),
        "summary": snap.summary,
        "properties": snap.properties,
        "manifest_list": [
            {
                "path": p,
                "n_files": len(mf),
                "records": sum(f.records for f in mf),
                "bytes": sum(f.bytes for f in mf),
            }
            for p, mf in snap.manifests
        ],
    }


# Manifest files are immutable once written (uuid-named, referenced only
# by later metadata commits), so a process-wide cache by absolute path is
# always coherent. Entries are tuples of DataFile objects that are NEVER
# mutated in place — every commit path derives new entries via
# dataclasses.replace — so sharing them across snapshots is safe.
_MANIFEST_CACHE: dict[str, tuple] = {}
_MANIFEST_CACHE_MAX = 1024


def _load_manifest(root: str, rel: str) -> "tuple[DataFile, ...]":
    key = os.path.join(root, rel)
    hit = _MANIFEST_CACHE.get(key)
    if hit is not None:
        return hit
    with open(key) as f:
        d = json.load(f)
    mf = tuple(DataFile.from_json(x) for x in d["files"])
    if len(_MANIFEST_CACHE) >= _MANIFEST_CACHE_MAX:
        _MANIFEST_CACHE.pop(next(iter(_MANIFEST_CACHE)))
    _MANIFEST_CACHE[key] = mf
    return mf


class HadoopTable:
    """One snapshot-versioned table rooted at ``location`` (local path or
    file:// URI — the one filesystem this sandbox can execute; the commit
    step's atomic primitive is pluggable per scheme, see _promote)."""

    def __init__(
        self,
        spark: SparkSession,
        location: str,
        stats_columns: list[str] | None = None,
        max_union_roots: int = 256,
        branch: str | None = None,
    ):
        self.spark = spark
        self.location = location
        self.root = _local_path(location)
        # non-None: this instance is a BRANCH VIEW — same data directory,
        # its own metadata chain under metadata/branches/<name>/ (see
        # create_branch / fast_forward). Validated HERE, not only in
        # create_branch: a name is a path component under metadata/, so
        # an unvalidated one ('../..') could escape the directory.
        if branch is not None and not _BRANCH_NAME_RE.match(branch):
            raise ValueError(f"invalid branch name {branch!r}")
        self.branch_name = branch
        # columns to harvest footer metrics for at write time; None = every
        # eligible top-level leaf column (narrow it on very wide tables —
        # stats are O(stat_cols) JSON per file in the inline manifest)
        self.stats_columns = list(stats_columns) if stats_columns else None
        # maintenance-cadence guard: reads spanning more staging roots than
        # this warn to compact() (each root is one union branch in the plan)
        self.max_union_roots = max_union_roots

    # ---------------------------------------------------------------- paths
    @property
    def _meta_dir(self) -> str:
        if self.branch_name is not None:
            return os.path.join(
                self.root, "metadata", "branches", self.branch_name
            )
        return os.path.join(self.root, "metadata")

    @property
    def _main_meta_dir(self) -> str:
        """The MAIN chain's metadata dir, branch views included — refs
        (tags) and the orphan-liveness scan are table-wide concerns."""
        return os.path.join(self.root, "metadata")

    def _meta_path(self, version: int) -> str:
        return os.path.join(self._meta_dir, f"v{version}.metadata.json")

    # ------------------------------------------------------------- metadata
    def versions(self) -> list[int]:
        if not os.path.isdir(self._meta_dir):
            return []
        out = []
        for name in os.listdir(self._meta_dir):
            if name.startswith("v") and name.endswith(".metadata.json"):
                try:
                    out.append(int(name[1:-len(".metadata.json")]))
                except ValueError:
                    continue
        return sorted(out)

    def current_version(self) -> int:
        vs = self.versions()
        if not vs:
            raise NoSuchTable(self.location)
        return vs[-1]

    def exists(self) -> bool:
        return bool(self.versions())

    def snapshot(
        self, version: int | None = None, ref: str | None = None
    ) -> Snapshot:
        if ref is not None:
            if version is not None:
                raise ValueError("pass version OR ref, not both")
            version = self._resolve_ref(ref)
        v = self.current_version() if version is None else version
        try:
            with open(self._meta_path(v)) as f:
                d = json.load(f)
        except FileNotFoundError:
            raise NoSuchTable(f"{self.location}@v{v}")
        if "manifest_list" in d:
            manifests: list[tuple[str, tuple[DataFile, ...]]] | None = []
            files: list[DataFile] = []
            for ent in d["manifest_list"]:
                mf = _load_manifest(self.root, ent["path"])
                manifests.append((ent["path"], mf))
                files.extend(mf)
        else:  # legacy inline-"files" metadata: still readable forever
            files = [DataFile.from_json(x) for x in d["files"]]
            manifests = None
        return Snapshot(
            version=d["version"],
            parent=d["parent"],
            operation=d["operation"],
            timestamp_ms=d["timestamp_ms"],
            schema_json=d["schema_json"],
            partition_cols=list(d["partition_cols"]),
            files=files,
            summary=dict(d.get("summary") or {}),
            partition_spec=spec_from_json(d.get("partition_spec") or []),
            properties=dict(d.get("properties") or {}),
            manifests=manifests,
        )

    def history(self) -> list[dict[str, Any]]:
        """Snapshot log, oldest first (operation + counts per version)."""
        out = []
        for v in self.versions():
            s = self.snapshot(v)
            out.append(
                {
                    "version": v,
                    "parent": s.parent,
                    "operation": s.operation,
                    "timestamp_ms": s.timestamp_ms,
                    "n_files": len(s.files),
                    "n_records": s.total_records,
                }
            )
        return out

    def inspect(self, name: str, version: int | None = None) -> DataFrame:
        """Metadata tables (Iceberg's ``table$snapshots`` family) as
        DataFrames, so table state is queryable with the same engine as
        table data — join ``files`` against ``partitions`` to find skew,
        filter ``snapshots`` on operation, aggregate file sizes to decide
        a compaction, all in SQL. Built driver-side from the manifest
        (bounded O(files) — the same scope as the inline manifest
        itself; real Iceberg serves these from the manifest tree).

        ``snapshots``  — one row per snapshot: version, parent,
                         operation, committed_at, summary map, file/record
                         counts.
        ``manifests``  — one row per manifest file in the inspected
                         snapshot's manifest list: path, file/record/byte
                         counts (empty for legacy inline metadata).
        ``files``      — one row per live file in the inspected snapshot:
                         content, path, partition map, records, bytes,
                         seq, equality_cols, per-column min/max/null-count
                         maps (stringified bounds, as Iceberg renders
                         them).
        ``partitions`` — data files grouped by partition: file/record/
                         byte totals plus position-delete counts.
        ``history``    — the snapshot log (oldest first).
        ``refs``       — named tags and branches with their pinned/current
                         version.
        ``schema``     — the (time-travelable) current schema with field
                         ids, defaults, and the id epoch — the
                         schema-evolution debugging surface.

        ``version`` time-travels ``files``/``partitions``
        (the other tables are chain-wide). Returns an EMPTY correctly-typed frame
        when there is nothing to list — callers can union/join without
        special-casing a fresh table."""
        spark = self.spark
        if name == "snapshots":
            rows = []
            for v in self.versions():
                s = self.snapshot(v)
                rows.append(
                    (
                        v,
                        s.parent,
                        s.operation,
                        datetime.fromtimestamp(
                            s.timestamp_ms / 1000.0, tz=timezone.utc
                        ).replace(tzinfo=None),
                        {k: str(v2) for k, v2 in s.summary.items()},
                        len(s.data_files),
                        len(s.delete_files),
                        s.total_records,
                    )
                )
            return spark.createDataFrame(
                rows,
                "version int, parent int, operation string, "
                "committed_at timestamp_ntz, summary map<string,string>, "
                "data_files int, delete_files int, records bigint",
            )
        if name == "files":
            snap = (
                self.snapshot(version)
                if self.exists()
                else Snapshot(0, None, "none", 0, "", [])
            )
            rows = []
            for f in snap.files:
                st = f.stats or {}
                rows.append(
                    (
                        f.content,
                        f.path,
                        {k: str(v) for k, v in f.partition.items()},
                        f.records,
                        f.bytes,
                        f.seq,
                        list(f.equality_cols) if f.equality_cols else None,
                        {c: str(s["min"]) for c, s in st.items()
                         if s.get("min") is not None},
                        {c: str(s["max"]) for c, s in st.items()
                         if s.get("max") is not None},
                        {c: int(s["nulls"]) for c, s in st.items()
                         if s.get("nulls") is not None},
                    )
                )
            return spark.createDataFrame(
                rows,
                "content string, path string, partition map<string,string>, "
                "records bigint, bytes bigint, seq bigint, "
                "equality_cols array<string>, lower_bounds map<string,string>, "
                "upper_bounds map<string,string>, "
                "null_counts map<string,bigint>",
            )
        if name == "manifests":
            snap = (
                self.snapshot(version)
                if self.exists()
                else Snapshot(0, None, "none", 0, "", [])
            )
            rows = [
                (
                    p,
                    len(mf),
                    sum(f.records for f in mf),
                    sum(f.bytes for f in mf),
                    sum(1 for f in mf if f.content != "data"),
                )
                for p, mf in (snap.manifests or [])
            ]
            return spark.createDataFrame(
                rows,
                "path string, n_files int, records bigint, bytes bigint, "
                "delete_files int",
            )
        if name == "partitions":
            snap = (
                self.snapshot(version)
                if self.exists()
                else Snapshot(0, None, "none", 0, "", [])
            )
            agg: dict[tuple, list[int]] = {}
            for f in snap.files:
                key = tuple(sorted(f.partition.items()))
                a = agg.setdefault(key, [0, 0, 0, 0])
                if f.content == "data":
                    a[0] += 1
                    a[1] += f.records
                    a[2] += f.bytes
                elif f.content == "position-deletes":
                    a[3] += f.records
            rows = [
                (dict(k), a[0], a[1], a[2], a[3])
                for k, a in sorted(agg.items())
            ]
            return spark.createDataFrame(
                rows,
                "partition map<string,string>, data_file_count int, "
                "record_count bigint, total_bytes bigint, "
                "position_delete_count bigint",
            )
        if name == "history":
            rows = [
                (
                    h["version"],
                    h["parent"],
                    h["operation"],
                    datetime.fromtimestamp(
                        h["timestamp_ms"] / 1000.0, tz=timezone.utc
                    ).replace(tzinfo=None),
                    h["n_files"],
                    h["n_records"],
                )
                for h in self.history()
            ]
            return spark.createDataFrame(
                rows,
                "version int, parent int, operation string, "
                "made_current_at timestamp_ntz, n_files int, "
                "n_records bigint",
            )
        if name == "schema":
            if not self.exists():
                return spark.createDataFrame(
                    [],
                    "name string, field_id int, type string, "
                    "nullable boolean, default string, last_field_id int, "
                    "id_epoch string",
                )
            snap = self.snapshot(version)
            ids, last = _schema_ids(snap.schema_json)
            defaults = _schema_defaults(snap.schema_json)
            epoch = _schema_epoch(snap.schema_json)
            rows = []
            for fld in json.loads(snap.schema_json)["fields"]:
                fid = ids.get(fld["name"])
                dv = defaults.get(fid)
                rows.append(
                    (
                        fld["name"],
                        fid,
                        json.dumps(fld["type"])
                        if not isinstance(fld["type"], str)
                        else fld["type"],
                        bool(fld.get("nullable", True)),
                        None if dv is None else str(dv),
                        last,
                        epoch,
                    )
                )
            return spark.createDataFrame(
                rows,
                "name string, field_id int, type string, nullable boolean, "
                "default string, last_field_id int, id_epoch string",
            )
        if name == "refs":
            rows = [
                (n, str(r.get("type", "tag")), int(r["version"]))
                for n, r in sorted(self.refs().items())
            ] + [
                (b, "branch", self.branch(b).current_version())
                for b in self.branches()
            ]
            return spark.createDataFrame(
                rows, "name string, type string, version int"
            )
        raise ValueError(
            f"unknown metadata table {name!r}; one of snapshots, files, "
            "manifests, partitions, history, refs, schema"
        )

    # ------------------------------------------------------------- refs/tags
    # Named refs, the Iceberg table-metadata ``refs`` map re-expressed for
    # the shim's file-per-version layout: tags live in their own CAS'd
    # chain (metadata/refs-v<K>.json, promoted with the same fail-if-exists
    # hardlink as snapshots, so two concurrent tag writers serialize), and
    # branches are independent snapshot chains under
    # metadata/branches/<name>/ sharing the table's data directory by
    # reference. In real Iceberg both live inside the single table
    # metadata file; the split here keeps every mutation on the same one
    # atomic primitive this sandbox's filesystem offers.

    def _refs_state(self) -> tuple[int, dict[str, Any]]:
        d = self._main_meta_dir
        latest = 0
        if os.path.isdir(d):
            for name in os.listdir(d):
                if name.startswith("refs-v") and name.endswith(".json"):
                    try:
                        latest = max(latest, int(name[len("refs-v"):-5]))
                    except ValueError:
                        continue
        if not latest:
            return 0, {}
        with open(os.path.join(d, f"refs-v{latest}.json")) as f:
            return latest, json.load(f)["refs"]

    def refs(self) -> dict[str, Any]:
        """Current named refs: ``{name: {"type": "tag", "version": N}}``."""
        return self._refs_state()[1]

    def _update_refs(self, mutate) -> dict[str, Any]:
        """CAS loop over the refs chain: ``mutate(dict)`` returns the new
        map (or raises); a concurrent writer landing the next seq first
        just triggers re-read + re-mutate."""
        while True:
            seq, refs = self._refs_state()
            new_refs = mutate(dict(refs))
            d = self._main_meta_dir
            os.makedirs(d, exist_ok=True)
            tmp = os.path.join(d, f".tmp-refs-{uuid.uuid4().hex}.json")
            with open(tmp, "w") as f:
                json.dump({"refs": new_refs, "seq": seq + 1}, f)
                f.flush()
                os.fsync(f.fileno())
            try:
                os.link(tmp, os.path.join(d, f"refs-v{seq + 1}.json"))
                return new_refs
            except FileExistsError:
                continue
            finally:
                os.unlink(tmp)

    def _resolve_ref(self, ref: str) -> int:
        r = self.refs().get(ref)
        if r is None:
            raise ValueError(f"no such ref {ref!r} on table {self.location}")
        return int(r["version"])

    def version_at(self, ts_ms: "int | str") -> int:
        """The snapshot current AS OF a wall-clock instant (Iceberg's
        ``TIMESTAMP AS OF``): the latest retained version whose commit
        timestamp is <= ``ts_ms`` (epoch millis, or an ISO-8601 string —
        naive times are UTC). Reads only metadata headers, never
        manifests. Raises when the instant predates the first retained
        snapshot (expiry can shorten the answerable window — same as
        Iceberg)."""
        ts = _parse_ts_ms(ts_ms)
        best: int | None = None
        for v in self.versions():
            try:
                with open(self._meta_path(v)) as f:
                    d = json.load(f)
            except FileNotFoundError:
                continue  # expired between listing and read
            if d["timestamp_ms"] <= ts:
                best = v  # versions() is ascending: last hit wins
        if best is None:
            raise NoSuchTable(
                f"{self.location} has no retained snapshot at/before "
                f"{ts} ms (first retained is later, or never existed)"
            )
        return best

    def create_tag(self, name: str, version: int | None = None) -> None:
        """Pin a snapshot under an immutable name (Iceberg ``CREATE TAG``):
        ``read(ref=name)`` time-travels to it, and expire_snapshots keeps
        a tagged snapshot alive regardless of ``keep_last`` until the tag
        is dropped — the audit/repro pin a training-data pipeline wants
        (\"the corpus as model X saw it\")."""
        v = self.current_version() if version is None else version
        if not os.path.exists(self._meta_path(v)):
            raise NoSuchTable(f"{self.location}@v{v}")
        if self.branch_name is not None:
            raise ValueError("tags are created on the main table, not a branch")

        def mut(refs: dict[str, Any]) -> dict[str, Any]:
            if name in refs:
                raise ValueError(f"ref {name!r} already exists")
            refs[name] = {
                "type": "tag",
                "version": v,
                "created_ms": int(time.time() * 1000),
            }
            return refs

        self._update_refs(mut)

    def drop_tag(self, name: str) -> None:
        def mut(refs: dict[str, Any]) -> dict[str, Any]:
            if refs.get(name, {}).get("type") != "tag":
                raise ValueError(f"no such tag {name!r}")
            del refs[name]
            return refs

        self._update_refs(mut)

    def read_ref(self, name: str) -> DataFrame:
        return self.read(version=self._resolve_ref(name))

    # ------------------------------------------------------------- rollback
    def rollback(self, version: int) -> Snapshot:
        """Set the table back to an earlier snapshot's state as a NEW
        commit (Iceberg ``rollback_to_snapshot``): the old manifest is
        re-published by reference — no data moves, history is preserved,
        and time travel still sees everything in between. The target
        snapshot must still be retained (not expired)."""
        old = self.snapshot(version)  # raises NoSuchTable if expired
        while True:
            parent = self.snapshot()
            # "already in the target state" covers schema, file list AND
            # partition layout — without the spec terms, rolling back
            # across a metadata-only update_spec commit (same files, same
            # schema, different spec) would silently keep the new spec.
            # Properties are deliberately NOT compared: rollback restores
            # data/layout state but preserves current table config (the
            # non-idempotent path carries parent.properties forward).
            if parent.version == version or (
                parent.schema_json == old.schema_json
                and parent.partition_cols == old.partition_cols
                and spec_to_json(parent.spec) == spec_to_json(old.spec)
                and [f.to_json() for f in parent.files]
                == [f.to_json() for f in old.files]
            ):
                return parent  # already in the target state: idempotent
            new_version = parent.version + 1
            summary = self._inherited_summary(parent, None)
            summary.update(
                {
                    "rolled_back_to": version,
                    "added_files": 0,
                    "kept_files": len(old.files),
                    "added_records": 0,
                }
            )
            new = Snapshot(
                version=new_version,
                parent=parent.version,
                operation="rollback",
                timestamp_ms=int(time.time() * 1000),
                schema_json=old.schema_json,
                partition_cols=old.partition_cols,
                partition_spec=old.spec,
                files=list(old.files),
                summary=summary,
                properties=dict(parent.properties),
            )
            summary["total_records"] = new.total_records
            try:
                # carry: the target's own manifests match the child's
                # file list exactly, so a rollback is metadata-only
                self._publish(new, new_version, carry=(parent, old))
                return new
            except CommitConflict:
                continue

    def update_spec(self, partition_cols: list[str]) -> Snapshot:
        """Partition-spec evolution (Iceberg ``updateSpec``): a
        metadata-only commit that changes how FUTURE writes are laid
        out. Existing files keep their old directory layout and stay
        exactly readable — the scan reconstructs partition values per
        staging root from what is actually on disk, and the planner
        prunes each file only on the spec fields its own partition
        tuple carries (conservative: an old-layout file is simply not
        prunable on new-spec fields, never wrongly pruned).
        ``compact()`` migrates old-layout files into the current spec;
        until then ``replace_partitions`` refuses (matching partition
        tuples across two layouts is ill-defined — the same guard real
        Iceberg's dynamic overwrite hits on an evolved spec).

        A new field may reuse a partition-value NAME that live files
        already carry only if its definition is identical to the
        current spec's same-named field — otherwise pruning old files
        under the new definition would be wrong, so it raises (Iceberg
        tracks per-file spec ids instead; the shim keeps the one
        invariant that makes name-keyed pruning exact)."""
        spec = parse_partition_spec(partition_cols)
        pcols = [f.name for f in spec]
        cur = self.snapshot()
        schema_cols = {
            f["name"] for f in json.loads(cur.schema_json)["fields"]
        }
        for f in spec:
            if f.source not in schema_cols:
                raise ValueError(
                    f"spec field {f.name} sources unknown column "
                    f"{f.source!r}"
                )
        while True:
            parent = self.snapshot()
            live_keys = {
                k for df_ in parent.data_files for k in df_.partition
            }
            # every definition each field name ever had, from the
            # RETAINED snapshot chain (O(versions) metadata reads; this
            # op is rare). A live partition key is re-usable only if its
            # name maps to exactly one historical definition and the new
            # field matches it — otherwise name-keyed pruning of the old
            # files under the new definition could be wrong.
            hist: dict[str, set[str]] = {}
            for v in self.versions():
                for g in self.snapshot(v).spec:
                    hist.setdefault(g.name, set()).add(
                        json.dumps(spec_to_json([g]), sort_keys=True)
                    )
            for f in spec:
                if f.name in live_keys:
                    defs = hist.get(f.name, set())
                    if defs != {json.dumps(spec_to_json([f]), sort_keys=True)}:
                        raise ValueError(
                            f"spec field {f.name} collides with a partition "
                            "value existing files carry under a different "
                            "(or expired) definition; pick a fresh name or "
                            "compact() first"
                        )
            if spec_to_json(parent.spec) == spec_to_json(spec) and (
                parent.partition_cols == pcols
            ):
                return parent  # idempotent
            new_version = parent.version + 1
            summary = self._inherited_summary(parent, None)
            summary.update(
                {
                    "added_files": 0,
                    "kept_files": len(parent.files),
                    "added_records": 0,
                    "new_spec": ",".join(partition_cols) or "(unpartitioned)",
                }
            )
            new = Snapshot(
                version=new_version,
                parent=parent.version,
                operation="update-spec",
                timestamp_ms=int(time.time() * 1000),
                schema_json=parent.schema_json,
                partition_cols=pcols,
                partition_spec=spec,
                files=list(parent.files),
                summary=summary,
                properties=dict(parent.properties),
            )
            summary["total_records"] = new.total_records
            try:
                self._publish(new, new_version, carry=(parent,))
                return new
            except CommitConflict:
                continue

    # ------------------------------------------------------ schema evolution
    # Full Iceberg-style schema evolution via field ids: each op is a
    # METADATA-ONLY commit (operation "evolve-schema", file set carried by
    # reference — zero data movement at any table size). Existing files
    # stay readable forever through their physical-column manifests; time
    # travel to a pre-evolution snapshot reads the old shape exactly.

    def _parse_type(self, t):
        from pyspark.sql import types as T

        if isinstance(t, T.DataType):
            return t
        from pyspark.sql.types import _parse_datatype_string

        return _parse_datatype_string(str(t))

    def _ddl_guard(
        self, parent: Snapshot, col: str | None, op_name: str
    ) -> None:
        """Shared preconditions for schema DDL against the current parent.
        ``col`` (when given) is the column being renamed/dropped/widened:
        it must not anchor the partition layout (identity partition
        column, hidden-transform source, or any live file's partition dir
        name) and must not be an equality-delete key of a live delete
        file (the delete parquet stores keys by that name). Every live
        data file must carry a physical-column manifest — legacy files
        written before field ids are readable by NAME only, so evolving
        names/types over them would corrupt reads; compact() rewrites
        them (annotated) and is the migration path."""
        legacy = [f for f in parent.data_files if f.columns is None]
        if legacy:
            raise ValueError(
                f"{op_name}: {len(legacy)} live data file(s) predate "
                "field-id manifests and are readable by name only; run "
                "compact() to migrate them first"
            )
        if col is None:
            return
        protected = (
            set(parent.partition_cols)
            | {f.source for f in parent.spec}
            | {f.name for f in parent.spec}
        )
        if col in protected:
            raise ValueError(
                f"{op_name}: column {col!r} anchors the partition layout "
                "(identity partition column or hidden-transform source); "
                "evolve the spec away from it first (update_spec)"
            )
        eq_keys = {
            c
            for f in parent.files
            if f.content == "equality-deletes"
            for c in (f.equality_cols or ())
        }
        if col in eq_keys:
            raise ValueError(
                f"{op_name}: column {col!r} is an equality-delete key of "
                "a live delete file; compact() to materialize the deletes "
                "first"
            )

    def _ddl_guard_nested(
        self, parent: Snapshot, path: str, op_name: str
    ) -> None:
        """Preconditions for DDL on a NESTED (dotted) path: the top-level
        column gets the usual protections, the tree must be dotted-name
        unambiguous, and every live data file carrying the column must
        record nested field ids — files staged before nested-evolution
        metadata are readable by inner NAME only, so renaming/dropping
        inner fields over them would corrupt reads; compact() rewrites
        them fully annotated (the same migration contract as top-level
        field ids)."""
        top = path.split(".", 1)[0]
        self._ddl_guard(parent, top, op_name)
        d = json.loads(parent.schema_json)
        if top in _dotted_tree(d["fields"]):
            raise ValueError(
                f"{op_name}: struct tree under {top!r} contains a field "
                "name with a literal '.'; nested evolution is ambiguous "
                "there"
            )
        ids, _ = _schema_ids(parent.schema_json)
        top_id = ids.get(top)
        if not any(k.startswith(top + ".") for k in ids):
            # no nested ids under this column: either not a struct (the
            # path resolver raises the precise error) or an empty tree
            return
        stale = 0
        for f in parent.data_files:
            for c in f.columns or ():
                if c.get("id") == top_id and "ids" not in c:
                    stale += 1
        if stale:
            raise ValueError(
                f"{op_name}: {stale} live data file(s) predate nested "
                f"field ids for {top!r}; run compact() to migrate them "
                "first"
            )

    @staticmethod
    def _resolve_struct_path(
        fields: list[dict], path: str, op_name: str
    ) -> tuple[list[dict], dict | None]:
        """(the containing struct's field list, the leaf field json or
        None when absent) for a dotted path — every intermediate segment
        must be a plain struct column."""
        parts = path.split(".")
        cur = fields
        for seg in parts[:-1]:
            f = next((x for x in cur if x["name"] == seg), None)
            if f is None:
                raise ValueError(f"{op_name}: no column {seg!r} in {path!r}")
            t = f["type"]
            if not (isinstance(t, dict) and t.get("type") == "struct"):
                raise ValueError(
                    f"{op_name}: {seg!r} in {path!r} is not a struct "
                    "column (array/map interiors cannot be evolved)"
                )
            cur = t["fields"]
        return cur, next((x for x in cur if x["name"] == parts[-1]), None)

    def _commit_schema(self, mutate, note: str) -> Snapshot:
        """Optimistic metadata-only schema commit: ``mutate(parent,
        fields, ids, last_id) -> (fields, ids, last_id)`` transforms the
        schema parts (it re-runs against the CURRENT parent on every
        retry, so its guards have no check-then-act window); the file
        list is carried by reference with ids re-stamped nowhere — data
        files keep their physical manifests, which is the whole point."""
        while True:
            parent = self.snapshot()
            d = json.loads(parent.schema_json)
            ids, last = _schema_ids(parent.schema_json)
            defaults = _schema_defaults(parent.schema_json)
            fields = [dict(f) for f in d["fields"]]
            fields, ids, last = mutate(parent, fields, ids, last, defaults)
            ids, last = _mint_nested_ids(fields, ids, last)
            schema_json = _ids_json(
                {"type": "struct", "fields": fields},
                ids,
                last,
                defaults,
                epoch=_schema_epoch(parent.schema_json),
            )
            version = parent.version + 1
            summary = self._inherited_summary(parent, None)
            summary.update(
                {
                    "added_files": 0,
                    "kept_files": len(parent.files),
                    "added_records": 0,
                    "schema_change": note,
                }
            )
            new = Snapshot(
                version=version,
                parent=parent.version,
                operation="evolve-schema",
                timestamp_ms=int(time.time() * 1000),
                schema_json=schema_json,
                partition_cols=parent.partition_cols,
                partition_spec=parent.spec,
                files=list(parent.files),
                summary=summary,
                properties=dict(parent.properties),
            )
            summary["total_records"] = new.total_records
            try:
                self._publish(new, version, carry=(parent,))
                return new
            except CommitConflict:
                continue

    def add_column(self, name: str, dtype, default: Any = None) -> Snapshot:
        """``ALTER TABLE ADD COLUMN`` — nullable. ``default`` (Iceberg
        v3 initial/write default; JSON primitives only) makes rows in
        files that PREDATE the column — and in later writes that OMIT
        it — read back the default instead of null; a file that
        explicitly stores nulls keeps them. Without a default the
        column reads as null everywhere until written. A name
        previously dropped gets a FRESH field id, so the dropped
        column's old values never resurface."""
        dt = self._parse_type(dtype)
        if default is not None:
            if not isinstance(default, (int, float, str, bool)):
                raise ValueError(
                    "add_column: default must be a JSON primitive "
                    "(int/float/str/bool)"
                )
            # the default must be VALID for the column type — a mismatch
            # would surface as silent nulls (lit(v).cast) and wrong
            # metrics skipping
            tn = dt.typeName()
            int_caps = {
                "byte": 2**7, "short": 2**15, "integer": 2**31, "long": 2**63
            }
            ok = (
                (tn == "boolean" and isinstance(default, bool))
                or (
                    tn in int_caps
                    and isinstance(default, int)
                    and not isinstance(default, bool)
                    and -int_caps[tn] <= default < int_caps[tn]
                )
                or (
                    tn in ("float", "double")
                    and isinstance(default, (int, float))
                    and not isinstance(default, bool)
                )
                or (tn == "string" and isinstance(default, str))
            )
            if not ok:
                raise ValueError(
                    f"add_column: default {default!r} is not a valid "
                    f"{dt.simpleString()} value (defaults are supported "
                    "for boolean/integral/floating/string columns)"
                )

        def mutate(parent, fields, ids, last, defaults):
            if "." in name:
                # nested add: append a field INSIDE a struct column —
                # metadata-only; files predating it read the default
                # (else null) for the inner field via the struct
                # projection
                self._ddl_guard_nested(parent, name, "add_column")
                container, leaf = self._resolve_struct_path(
                    fields, name, "add_column"
                )
                if leaf is not None:
                    raise ValueError(f"add_column: column {name!r} exists")
                container.append(
                    {
                        "name": name.rsplit(".", 1)[1],
                        "type": dt.jsonValue(),
                        "nullable": True,
                        "metadata": {},
                    }
                )
                last += 1
                ids[name] = last
                if default is not None:
                    defaults[last] = default
                return fields, ids, last
            if default is not None:
                # defaults are resolved through the field-id manifests:
                # legacy un-annotated files cannot distinguish "predates
                # the column" from "omitted it" — require migration
                self._ddl_guard(parent, None, "add_column(default=...)")
            if any(f["name"] == name for f in fields):
                raise ValueError(f"add_column: column {name!r} exists")
            live_dirs = {
                k for f in parent.data_files for k in f.partition
            }
            if name in live_dirs or name in {
                f.name for f in parent.spec
            }:
                raise ValueError(
                    f"add_column: {name!r} collides with a partition "
                    "value column live files carry"
                )
            fields.append(
                {
                    "name": name,
                    "type": dt.jsonValue(),
                    "nullable": True,
                    "metadata": {},
                }
            )
            last += 1
            ids[name] = last
            if default is not None:
                defaults[last] = default
            return fields, ids, last

        return self._commit_schema(mutate, f"add {name}")

    def rename_column(self, old: str, new: str) -> Snapshot:
        """``ALTER TABLE RENAME COLUMN`` — metadata-only; every file's
        data is found under the new name via its field id."""
        if not new or "/" in new or "=" in new or "." in new:
            # a '.' in the NEW name would collide with the dotted
            # nested-path grammar everywhere (DDL, predicates, stats) —
            # nested renames take the bare inner name
            raise ValueError(f"rename_column: invalid name {new!r}")

        def _rekey(ids, old_path, new_path):
            # nested descendants follow their ancestor's rename: their id
            # KEYS are dotted paths through it (the ids themselves never
            # change — that is the whole point of id-keyed reads)
            ids[new_path] = ids.pop(old_path)
            for k in [k for k in ids if k.startswith(old_path + ".")]:
                ids[new_path + k[len(old_path):]] = ids.pop(k)

        def mutate(parent, fields, ids, last, defaults):
            if "." in old:
                self._ddl_guard_nested(parent, old, "rename_column")
                container, leaf = self._resolve_struct_path(
                    fields, old, "rename_column"
                )
                if leaf is None:
                    raise ValueError(f"rename_column: no column {old!r}")
                if any(x["name"] == new for x in container):
                    raise ValueError(
                        f"rename_column: column "
                        f"{old.rsplit('.', 1)[0]}.{new} exists"
                    )
                leaf["name"] = new
                _rekey(ids, old, old.rsplit(".", 1)[0] + "." + new)
                return fields, ids, last
            self._ddl_guard(parent, old, "rename_column")
            if not any(f["name"] == old for f in fields):
                raise ValueError(f"rename_column: no column {old!r}")
            if any(f["name"] == new for f in fields):
                raise ValueError(f"rename_column: column {new!r} exists")
            live_dirs = {
                k for f in parent.data_files for k in f.partition
            }
            if new in live_dirs or new in {f.name for f in parent.spec}:
                raise ValueError(
                    f"rename_column: {new!r} collides with a partition "
                    "value column live files carry"
                )
            for f in fields:
                if f["name"] == old:
                    f["name"] = new
            _rekey(ids, old, new)
            return fields, ids, last

        return self._commit_schema(mutate, f"rename {old} -> {new}")

    def drop_column(self, name: str) -> Snapshot:
        """``ALTER TABLE DROP COLUMN`` — metadata-only; the bytes stay in
        the files (time travel still reads them) but no current-schema
        read can see them."""

        def _pop_tree(ids, defaults, path):
            for k in [
                k for k in ids if k == path or k.startswith(path + ".")
            ]:
                defaults.pop(ids[k], None)
                ids.pop(k)

        def mutate(parent, fields, ids, last, defaults):
            if "." in name:
                self._ddl_guard_nested(parent, name, "drop_column")
                container, leaf = self._resolve_struct_path(
                    fields, name, "drop_column"
                )
                if leaf is None:
                    raise ValueError(f"drop_column: no column {name!r}")
                if len(container) == 1:
                    raise ValueError(
                        "drop_column: cannot drop a struct's last field "
                        "(drop the struct column instead)"
                    )
                container.remove(leaf)
                _pop_tree(ids, defaults, name)
                return fields, ids, last  # last id NEVER reused
            self._ddl_guard(parent, name, "drop_column")
            if not any(f["name"] == name for f in fields):
                raise ValueError(f"drop_column: no column {name!r}")
            if len(fields) == 1:
                raise ValueError("drop_column: cannot drop the last column")
            fields = [f for f in fields if f["name"] != name]
            _pop_tree(ids, defaults, name)
            return fields, ids, last  # last id NEVER reused

        return self._commit_schema(mutate, f"drop {name}")

    def widen_column(self, name: str, dtype) -> Snapshot:
        """``ALTER TABLE ALTER COLUMN TYPE`` for the lossless promotions
        Iceberg allows (int -> long family, float -> double). Old files
        keep their narrow physical type; the read path casts by field id.
        Writes must use the widened type from then on (the additive rule
        still refuses mismatched writes)."""
        dt = self._parse_type(dtype)

        def mutate(parent, fields, ids, last, defaults):
            from pyspark.sql.types import StructField

            if "." in name:
                self._ddl_guard_nested(parent, name, "widen_column")
                _container, cur = self._resolve_struct_path(
                    fields, name, "widen_column"
                )
            else:
                self._ddl_guard(parent, name, "widen_column")
                cur = next(
                    (f for f in fields if f["name"] == name), None
                )
            if cur is None:
                raise ValueError(f"widen_column: no column {name!r}")
            old_dt = StructField.fromJson(
                {**cur, "nullable": True, "metadata": {}}
            ).dataType
            if (old_dt.typeName(), dt.typeName()) not in _WIDEN_OK:
                raise ValueError(
                    f"widen_column: {old_dt.simpleString()} -> "
                    f"{dt.simpleString()} is not a lossless promotion "
                    f"(allowed: int family upward, float -> double)"
                )
            cur["type"] = dt.jsonValue()
            return fields, ids, last

        return self._commit_schema(mutate, f"widen {name}")

    # ------------------------------------------------------ table properties
    def properties(self) -> dict[str, str]:
        """The table's key->value configuration map (Iceberg table
        properties): carried forward by every commit, mutated only by
        :meth:`set_properties` / :meth:`unset_properties`. Knobs the
        maintenance surface reads (explicit argument > property >
        built-in default):

        - ``write.target-file-size-bytes`` — compact()/maintain() bin
          target (default 128 MiB)
        - ``history.keep-last`` — expire_snapshots()/maintain() snapshot
          retention count (default 1 / maintain 3)
        - ``orphan.grace-sec`` — cleanup_orphans() in-flight-writer
          grace period (default 86400; Iceberg defaults its
          remove_orphan_files retention the same way)
        - ``read.max-union-roots`` — the union-depth maintenance-cadence
          warning threshold
        """
        return dict(self.snapshot().properties) if self.exists() else {}

    def _prop(self, key: str, default):
        if not self.exists():
            return default
        v = self.snapshot().properties.get(key)
        if v is None:
            return default
        return type(default)(v) if default is not None else v

    def set_properties(self, props: dict[str, Any]) -> Snapshot:
        """Set table properties — a metadata-only commit under the same
        optimistic protocol as everything else, so two concurrent
        property writers serialize instead of losing updates."""
        return self._commit_properties(
            {k: str(v) for k, v in props.items()}, drop=()
        )

    def unset_properties(self, *keys: str) -> Snapshot:
        return self._commit_properties({}, drop=keys)

    def _commit_properties(
        self, update: dict[str, str], drop: tuple | list
    ) -> Snapshot:
        while True:
            parent = self.snapshot()
            props = dict(parent.properties)
            props.update(update)
            for k in drop:
                props.pop(k, None)
            if props == parent.properties:
                return parent  # idempotent
            version = parent.version + 1
            summary = self._inherited_summary(parent, None)
            summary.update(
                {
                    "added_files": 0,
                    "kept_files": len(parent.files),
                    "added_records": 0,
                    "properties_changed": ",".join(
                        sorted(set(update) | set(drop))
                    ),
                }
            )
            new = Snapshot(
                version=version,
                parent=parent.version,
                operation="set-properties",
                timestamp_ms=int(time.time() * 1000),
                schema_json=parent.schema_json,
                partition_cols=parent.partition_cols,
                partition_spec=parent.spec,
                files=list(parent.files),
                summary=summary,
                properties=props,
            )
            summary["total_records"] = new.total_records
            try:
                self._publish(new, version, carry=(parent,))
                return new
            except CommitConflict:
                continue

    # ------------------------------------------------------------- branches
    def branch(self, name: str) -> "HadoopTable":
        """A view of this table whose reads and writes use the branch's
        own snapshot chain. Data files are shared with main by reference;
        the orphan scan treats every branch's manifests as live."""
        return HadoopTable(
            self.spark,
            self.location,
            stats_columns=self.stats_columns,
            max_union_roots=self.max_union_roots,
            branch=name,
        )

    def create_branch(self, name: str) -> "HadoopTable":
        """Fork the current MAIN snapshot into a new branch (Iceberg
        ``CREATE BRANCH``): branch v1 carries main's manifest by
        reference and records the fork point; subsequent commits through
        :meth:`branch` land only on the branch. This is the
        write-audit-publish staging area: write to the branch, audit by
        reading it, then :meth:`fast_forward` main to publish."""
        if self.branch_name is not None:
            raise ValueError("create branches from the main table view")
        if not _BRANCH_NAME_RE.match(name):
            raise ValueError(f"invalid branch name {name!r}")
        cur = self.snapshot()
        b = self.branch(name)
        if b.exists():
            raise ValueError(f"branch {name!r} already exists")
        summary = dict(cur.summary)
        summary.update(
            {"forked_from_version": cur.version, "branch": name}
        )
        fork = Snapshot(
            version=1,
            parent=None,
            operation="branch-create",
            timestamp_ms=int(time.time() * 1000),
            schema_json=cur.schema_json,
            partition_cols=cur.partition_cols,
            partition_spec=cur.spec,
            files=list(cur.files),
            summary=summary,
            properties=dict(cur.properties),
        )
        # fail-if-exists: a racing creator loses. The fork carries
        # main's manifests by path (shared metadata/manifests/ dir), so
        # branch creation is metadata-only at any table size.
        b._publish(fork, 1, carry=(cur,))
        return b

    def drop_branch(self, name: str) -> None:
        """Delete a branch's metadata chain. Its exclusive data files
        become orphans and are reclaimed by :meth:`cleanup_orphans`
        after the grace period."""
        if self.branch_name is not None:
            raise ValueError("drop branches from the main table view")
        if not _BRANCH_NAME_RE.match(name):
            # the name is about to become an rmtree path component: an
            # unvalidated '../..' would resolve to (and delete) the table
            raise ValueError(f"invalid branch name {name!r}")
        d = os.path.join(self._main_meta_dir, "branches", name)
        if not os.path.isdir(d):
            raise ValueError(f"no such branch {name!r}")
        import shutil

        shutil.rmtree(d)

    def fast_forward(self, name: str) -> Snapshot:
        """Publish a branch's head onto main (Iceberg ``fast_forward`` —
        the WAP publish step). Requires main to still be at the branch's
        fork point: if main advanced since the fork, a fast-forward
        would silently discard those commits, so it raises
        :class:`CommitConflict` instead (resolve by re-branching from
        current main and replaying, exactly as in Iceberg)."""
        b = self.branch(name)
        if not b.exists():
            raise ValueError(f"no such branch {name!r}")
        fork = b.snapshot(1).summary.get("forked_from_version")
        head = b.snapshot()
        while True:
            parent = self.snapshot()
            if fork is None or parent.version != int(fork):
                raise CommitConflict(
                    f"main is at v{parent.version}, branch {name!r} forked "
                    f"from v{fork}; fast-forward would drop main commits"
                )
            version = parent.version + 1
            summary = dict(head.summary)
            summary.update(
                {
                    "branch": name,
                    "branch_head": head.version,
                    "fast_forwarded_from": int(fork),
                }
            )
            new = Snapshot(
                version=version,
                parent=parent.version,
                operation="fast-forward",
                timestamp_ms=int(time.time() * 1000),
                schema_json=head.schema_json,
                partition_cols=head.partition_cols,
                partition_spec=head.spec,
                files=list(head.files),
                summary=summary,
                properties=dict(head.properties),
            )
            # carry the branch head's manifests by path (shared
            # metadata/manifests/ dir): publishing is metadata-only.
            # CommitConflict propagates: a racing main commit means the
            # fork check must re-run, and it can only fail then — no
            # silent retry
            self._publish(new, version, carry=(head,))
            return self.snapshot(version)

    def branches(self) -> list[str]:
        d = os.path.join(self._main_meta_dir, "branches")
        if not os.path.isdir(d):
            return []
        return sorted(
            n for n in os.listdir(d)
            if os.path.isdir(os.path.join(d, n))
        )

    # ---------------------------------------------------------------- write
    def _stage(
        self,
        df: DataFrame,
        partition_cols: list[str],
        spec: list[PartitionField] | None = None,
        concurrent_writers: int | None = None,
    ) -> list[DataFile]:
        """Write df's parquet under data/<uuid>/ and return the manifest
        entries. Files land at their FINAL paths (never moved — Iceberg
        writes data in place and only the metadata swap publishes them).
        ``spec`` (hidden partitioning) derives the non-identity partition
        value columns before the write; ``partitionBy`` then excludes
        exactly those derived columns from the data files, so the files
        hold only source columns and the layout stays invisible to
        readers.

        ``concurrent_writers``: set Spark's
        ``spark.sql.maxConcurrentOutputFileWriters`` for this write (and
        restore after). With it, the dynamic-partition write STREAMS rows
        to up to N open writers per task instead of first sorting the
        task's whole working set — the sort is the one op that buffers a
        task's full DECOMPRESSED data and spills at capacity scale. Only
        safe when tasks are already clustered to a handful of partition
        values each (compact()'s salted repartition: ~1 group per task),
        because each open parquet writer buffers its own row group;
        Spark falls back to sorting the remainder beyond N."""
        if spec:
            assert partition_cols == [f.name for f in spec]
            df = derive_partition_columns(df, spec)
        # physical-column manifest: the full staged shape (in-file columns
        # AND partition dir columns — the read path feeds both back as one
        # reader schema per staging root); ids are stamped at commit time
        # once the child schema is known
        phys_columns = _df_columns(df.schema)
        commit_id = uuid.uuid4().hex[:16]
        rel_dir = os.path.join("data", commit_id)
        stage_abs = os.path.join(self.root, rel_dir)
        _fault("mid-stage")
        w = df.write.mode("overwrite")
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        _CW = "spark.sql.maxConcurrentOutputFileWriters"
        if concurrent_writers and partition_cols:
            prev = self.spark.conf.get(_CW, None)
            self.spark.conf.set(_CW, str(concurrent_writers))
            try:
                w.parquet(stage_abs)
            finally:
                if prev is None:
                    self.spark.conf.unset(_CW)
                else:
                    self.spark.conf.set(_CW, prev)
        else:
            w.parquet(stage_abs)
        import pyarrow.parquet as pq

        todo: list[tuple[str, dict[str, str]]] = []
        for dirpath, _dirs, names in os.walk(stage_abs):
            part: dict[str, str] = {}
            for comp in os.path.relpath(dirpath, stage_abs).split(os.sep):
                if "=" in comp:
                    k, _, val = comp.partition("=")
                    part[k] = unquote(val)
            for name in sorted(names):
                if name.endswith(".parquet"):
                    todo.append((os.path.join(dirpath, name), part))

        entries = self._harvest_entries(todo, phys_columns)
        _fault("after-stage")
        return entries

    def _harvest_entries(
        self,
        todo: list[tuple[str, dict[str, str]]],
        phys_columns: list[dict[str, Any]],
    ) -> list[DataFile]:
        """Build manifest entries for (abs parquet path, partition tuple)
        pairs: footer stats and the shared physical-column shape, for
        :meth:`_stage`'s just-written files."""
        import pyarrow.parquet as pq

        def harvest(item: tuple[str, dict[str, str]]) -> DataFile:
            abs_p, part = item
            pf = pq.ParquetFile(abs_p)
            return DataFile(
                path=os.path.relpath(abs_p, self.root),
                partition=part,
                records=pf.metadata.num_rows,
                bytes=os.path.getsize(abs_p),
                stats=_collect_stats(pf, self.stats_columns),
                columns=[dict(c) for c in phys_columns],
            )

        # footer harvest is driver-side I/O over O(staged files) — at
        # capacity scale (1000+ files/commit) doing it serially costs
        # tens of seconds of commit wall, so fan out on threads (pyarrow
        # releases the GIL on reads). Order restored by input order so
        # manifests stay deterministic.
        if len(todo) > 8:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=16) as pool:
                return list(pool.map(harvest, todo))
        return [harvest(x) for x in todo]

    def _write_manifest(self, files: list[DataFile]) -> str:
        """Write ONE immutable manifest file under metadata/manifests/
        and return its table-root-relative path. uuid-named and
        referenced only by a LATER metadata promote, so a crash (or a
        lost commit race) leaves an unreferenced manifest for the
        orphan GC — never a torn table. Shared table-wide (branches
        carry main's manifests by path and vice versa)."""
        d = os.path.join(self._main_meta_dir, "manifests")
        os.makedirs(d, exist_ok=True)
        name = f"m-{uuid.uuid4().hex}.json"
        tmp = os.path.join(d, f".tmp-{name}")
        with open(tmp, "w") as f:
            json.dump({"files": [e.to_json() for e in files]}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(d, name))
        return os.path.join("metadata", "manifests", name)

    def _publish(
        self, new: Snapshot, version: int, carry: tuple = ()
    ) -> None:
        """Compose the child snapshot's manifest list and promote its
        metadata — the Iceberg manifest-list shape that makes commit
        cost O(commit files), not O(table files): every manifest of a
        ``carry`` snapshot (the parent; plus e.g. the rollback target)
        whose files ALL survive unchanged in the child is carried into
        the child's manifest list by path; only the leftover (added or
        rewritten) entries are written out, as one new delta manifest.
        An append therefore writes just its own files' JSON; a replace
        or compaction rewrites only the manifests it actually touched
        (exactly Iceberg's manifest-rewrite behavior).

        Raises :class:`CommitConflict` exactly like :meth:`_promote`;
        retry loops re-run the whole composition against the new
        parent (the losing attempt's delta manifest becomes an orphan,
        reclaimed by the GC like any dead staged file)."""
        by_path: dict[str, DataFile] = {}
        for f in new.files:
            by_path[f.path] = f
        assert len(by_path) == len(new.files), "duplicate file path in manifest"
        carried: list[tuple[str, tuple[DataFile, ...]]] = []
        used: set[str] = set()
        seen_m: set[str] = set()
        for snap in carry:
            if snap is None or not snap.manifests:
                continue
            for mpath, mfiles in snap.manifests:
                if mpath in seen_m or not mfiles:
                    continue
                seen_m.add(mpath)
                ok = True
                for f in mfiles:
                    g = by_path.get(f.path)
                    # identity first (kept parent entries ARE the same
                    # objects), field equality as the general rule; a
                    # path already covered by an earlier carried
                    # manifest disqualifies this one (no double refs)
                    if (g is not f and g != f) or f.path in used:
                        ok = False
                        break
                if ok:
                    carried.append((mpath, mfiles))
                    used.update(f.path for f in mfiles)
        delta = [f for f in new.files if f.path not in used]
        _fault("before-manifest-write")
        manifests = carried
        if delta:
            manifests = carried + [(self._write_manifest(delta), tuple(delta))]
        _fault("after-manifest-write")
        new.manifests = manifests
        # flat list in manifest order, so the in-memory snapshot equals
        # what a reader loads back from the committed metadata
        new.files = [f for _, mf in manifests for f in mf]
        self._promote(_snapshot_payload(new), version)

    def _promote(self, payload: dict[str, Any], version: int) -> None:
        """THE atomic commit step: temp JSON -> hardlink to v<version>.
        link(2) fails with EEXIST when the target is already there, which
        is the fail-if-exists rename HadoopTables gets from HDFS; readers
        see the old or the new metadata file, never a partial one."""
        os.makedirs(self._meta_dir, exist_ok=True)
        tmp = os.path.join(self._meta_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump(payload, f)
            f.flush()
            os.fsync(f.fileno())
        _fault("after-tmp-meta")
        try:
            os.link(tmp, self._meta_path(version))
        except FileExistsError:
            raise CommitConflict(f"v{version} already committed")
        finally:
            os.unlink(tmp)
        _fault("after-commit")
        # advisory only — readers list metadata/, they never trust the hint
        hint_tmp = os.path.join(self._meta_dir, f".hint-{uuid.uuid4().hex}")
        with open(hint_tmp, "w") as f:
            f.write(str(version))
        os.replace(hint_tmp, os.path.join(self._meta_dir, "version-hint.text"))

    def _evolve_schema(
        self, parent: "Snapshot | None", df: DataFrame, op: str = "append"
    ) -> str:
        """Schema for the child snapshot. Identical schemas pass through
        exactly (nullability and all). Otherwise ADDITIVE evolution only,
        the Iceberg rule shape: every column keeps its type (changing one
        raises), new columns append, and columns the write omitted stay —
        both directions read back as null for files that lack the column,
        which the parquet reader gives us for free under the merged
        schema. Evolved/omitted columns are marked nullable because old
        (or new) files genuinely hold no value for them."""
        from pyspark.sql.types import StructField, StructType

        new_schema = df.schema
        if parent is None or op == "overwrite_all":
            # a full overwrite keeps NO old files, so there is nothing the
            # old schema must stay readable for — the write's own schema
            # wins outright (the one supported way to retype a column).
            # Field ids restart: no old file survives to care.
            ids = {f.name: i + 1 for i, f in enumerate(new_schema.fields)}
            sj = new_schema.jsonValue()
            ids, last = _mint_nested_ids(sj["fields"], ids, len(ids))
            return _ids_json(sj, ids, last)
        old = StructType.fromJson(json.loads(parent.schema_json))
        if old == new_schema:
            # identical schema passes through — unless struct columns
            # still lack nested field ids (pre-nested-evolution
            # metadata): minting them here is the same additive metadata
            # top-up as appended-column ids, and makes nested DDL
            # reachable on old tables (compact() then migrates files)
            ids0, last0 = _schema_ids(parent.schema_json)
            d0 = json.loads(parent.schema_json)
            ids1, last1 = _mint_nested_ids(d0["fields"], dict(ids0), last0)
            if ids1 == ids0:
                return parent.schema_json
            return _ids_json(
                d0,
                ids1,
                last1,
                _schema_defaults(parent.schema_json),
                epoch=_schema_epoch(parent.schema_json),
            )
        old_by = {f.name: f for f in old.fields}
        new_by = {f.name: f for f in new_schema.fields}
        for name, f in new_by.items():
            if name in old_by and old_by[name].dataType != f.dataType:
                raise ValueError(
                    f"schema evolution cannot change column {name!r}: "
                    f"{old_by[name].dataType.simpleString()} -> "
                    f"{f.dataType.simpleString()} "
                    f"(use widen_column for a lossless promotion)"
                )
        merged = [
            StructField(
                f.name,
                f.dataType,
                nullable=f.nullable
                or f.name not in new_by
                or new_by[f.name].nullable,
            )
            for f in old.fields
        ]
        added = [
            StructField(f.name, f.dataType, nullable=True)
            for f in new_schema.fields
            if f.name not in old_by
        ]
        # existing columns keep their field ids; appended columns get
        # fresh ones past the parent's high-water mark
        ids, last = _schema_ids(parent.schema_json)
        for f in added:
            last += 1
            ids[f.name] = last
        sj = StructType(merged + added).jsonValue()
        ids, last = _mint_nested_ids(sj["fields"], ids, last)
        return _ids_json(
            sj,
            ids,
            last,
            _schema_defaults(parent.schema_json),
            epoch=_schema_epoch(parent.schema_json),
        )

    def _annotate_ids(
        self,
        staged: list[DataFile],
        schema_json: str,
        spec: list[PartitionField],
        conflict: bool = False,
        scan_schema_json: str | None = None,
    ) -> list[DataFile]:
        """Stamp field ids onto staged entries' physical-column manifests
        from the CHILD schema's name -> id map. Hidden-partitioning
        derived columns (dir values, not table fields) legitimately have
        no id. With ``conflict=True`` (the rewrite paths), a name that no
        longer resolves — OR that resolves to a DIFFERENT id than the one
        it had under ``scan_schema_json``, the schema the rewrite scanned
        under — raises :class:`CompactionConflict`: both mean a schema
        commit raced this operation (a plain rename/drop, or the nastier
        rename-then-readd that keeps the name alive while rebinding it to
        a fresh id — stamping the new id would resurrect pre-rename
        values under the re-added column). Names the scan schema did not
        have (columns the rewrite itself introduced) accept whatever id
        the child schema assigned. Without ``conflict`` an unmapped name
        is impossible by construction and asserts."""
        ids, _ = _schema_ids(schema_json)
        scan_ids = (
            _schema_ids(scan_schema_json)[0] if scan_schema_json else {}
        )
        derived = {f.name for f in spec if f.transform != "identity"}
        out = []
        for e in staged:
            if e.content != "data" or e.columns is None:
                out.append(e)
                continue
            cols = []
            for c in e.columns:
                fid = ids.get(c["name"])
                if c["name"] not in derived:
                    rebound = (
                        conflict
                        and scan_ids.get(c["name"]) is not None
                        and fid != scan_ids[c["name"]]
                    )
                    if fid is None or rebound:
                        if conflict:
                            raise CompactionConflict(
                                f"column {c['name']!r} was renamed, "
                                "dropped, or rebound by a concurrent "
                                "schema commit; re-run the operation "
                                "against the new schema"
                            )
                        raise AssertionError(
                            f"staged column {c['name']!r} missing from "
                            "child schema"
                        )
                entry = {**c, "id": fid}
                # nested field ids: stamp the id of every inner struct
                # path this file physically holds, from the child
                # schema's dotted map — the anchor nested renames/drops/
                # widenings project through. A path the child schema
                # cannot name (rebound or dropped by a concurrent nested
                # DDL) conflicts under the same rule as a top column.
                rels = (
                    _type_rel_paths(c["type"])
                    if c["name"] not in derived and fid is not None
                    else []
                )
                rel_ids: dict[str, int] = {}
                for rp in rels:
                    full = f"{c['name']}.{rp}"
                    nid = ids.get(full)
                    if (
                        conflict
                        and scan_ids.get(full) is not None
                        and nid != scan_ids[full]
                    ):
                        raise CompactionConflict(
                            f"nested field {full!r} was renamed, dropped, "
                            "or rebound by a concurrent schema commit; "
                            "re-run the operation against the new schema"
                        )
                    if nid is not None:
                        rel_ids[rp] = nid
                if rel_ids:
                    entry["ids"] = rel_ids
                cols.append(entry)
            out.append(_dc_replace(e, columns=cols))
        return out

    def _inherited_summary(
        self, parent: "Snapshot | None", summary_extra: dict[str, Any] | None
    ) -> dict[str, Any]:
        """Base summary for a child commit: the streaming high-water mark
        CARRIES FORWARD from the parent so snapshot expiry can never lose
        it (an expired chain leaves the newest snapshot still stamped);
        a caller-provided newer batch id overrides."""
        summary: dict[str, Any] = {}
        if parent is not None and "streaming_batch_id" in parent.summary:
            summary["streaming_batch_id"] = parent.summary["streaming_batch_id"]
        if summary_extra:
            summary.update(summary_extra)
        return summary

    def _prune_pos_deletes(
        self, parent: Snapshot, dead: set[str]
    ) -> tuple[set[str], list[DataFile]]:
        """Position-delete hygiene for commits that drop data files:
        entries whose target file leaves the manifest are dead weight —
        harmless at read time (the path never matches a scanned row) but
        they would break ``total_records``' exactness. Returns
        (delete-file paths to drop, replacement entries to stage). A
        position-delete file referencing ONLY dead paths is dropped; one
        referencing a mix is rewritten filtered to the live refs (real
        Iceberg's ``rewrite_position_delete_files``). Driver-side pyarrow:
        a pos-delete file is manifest-scale metadata, not data."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        drop: set[str] = set()
        staged: list[DataFile] = []
        dead_arr = pa.array(sorted(dead))
        for f in parent.files:
            if f.content != "position-deletes":
                continue
            t = pq.read_table(os.path.join(self.root, f.path))
            mask = pc.is_in(t.column("file_path"), value_set=dead_arr)
            n_dead = pc.sum(mask).as_py() or 0
            if n_dead == 0:
                continue
            drop.add(f.path)
            if n_dead < t.num_rows:
                kept = t.filter(pc.invert(mask))
                rel_dir = os.path.join("data", uuid.uuid4().hex[:16])
                os.makedirs(os.path.join(self.root, rel_dir), exist_ok=True)
                rel_p = os.path.join(rel_dir, "pos-deletes-0.parquet")
                out_abs = os.path.join(self.root, rel_p)
                pq.write_table(kept, out_abs)
                staged.append(
                    DataFile(
                        path=rel_p,
                        partition={},
                        records=kept.num_rows,
                        bytes=os.path.getsize(out_abs),
                        stats=None,
                        content="position-deletes",
                        seq=f.seq,
                    )
                )
        return drop, staged

    @staticmethod
    def _drop_dead_eq_deletes(keep: list[DataFile]) -> list[DataFile]:
        """Metadata-only hygiene: an equality-delete file is live iff it
        can still REACH some live data file (strictly smaller seq AND an
        overlapping partition scope — :func:`_eq_reaches`); otherwise it
        is dead weight and leaves the manifest."""
        data = [f for f in keep if f.content == "data"]
        return [
            f
            for f in keep
            if f.content != "equality-deletes"
            or any(_eq_reaches(f, d) for d in data)
        ]

    def _commit(
        self,
        staged: list[DataFile],
        df: DataFrame,
        op: str,
        partition_cols: list[str],
        summary_extra: dict[str, Any] | None = None,
        precondition=None,
        replace_scope: dict[str, str] | None = None,
        spec: list[PartitionField] | None = None,
        base_schema_json: str | None = None,
    ) -> Snapshot:
        """``precondition(parent)`` (optional) is re-evaluated against the
        CURRENT parent on every optimistic retry; returning False raises
        :class:`PreconditionFailed`. Because the metadata swap is atomic,
        a guard expressed this way has no check-then-act window: a racer
        that lands first is visible as the loser's new parent.

        ``base_schema_json`` — the schema the caller's DataFrame was
        written against (captured before staging). If a concurrent DDL
        commit rebound any of the write's column NAMES (rename, drop,
        drop+readd) or restarted the id epoch (overwrite_all) before
        this commit landed, the name-keyed schema merge would silently
        fork the schema (the renamed-away name re-added as a phantom new
        column holding only this write's rows); that raises
        :class:`CompactionConflict` instead — re-run the write against
        the current schema.

        ``replace_scope`` (op="replace" only) widens the drop set from
        "partitions present in the staged data" to "every parent
        partition matching these values" — the ``INSERT OVERWRITE ...
        WHERE`` shape a deterministic replay needs: a replay that
        produces FEWER partitions than the prior attempt still clears
        the prior attempt's whole scope instead of leaving stale
        partitions live. Staged files must all fall inside the scope
        (checked — this also catches a value/dir-string mismatch)."""
        spec = spec if spec is not None else identity_spec(partition_cols)
        spec_json = spec_to_json(spec)
        if replace_scope:
            if op != "replace":
                raise ValueError("replace_scope only applies to op='replace'")
            for e in staged:
                for k, v in replace_scope.items():
                    if e.partition.get(k) != v:
                        raise ValueError(
                            f"staged file {e.path} has {k}="
                            f"{e.partition.get(k)!r}, outside replace scope "
                            f"{replace_scope!r}"
                        )
        while True:
            versions = self.versions()
            parent: Snapshot | None = self.snapshot(versions[-1]) if versions else None
            if precondition is not None and not precondition(parent):
                raise PreconditionFailed(op)
            if (
                base_schema_json is not None
                and parent is not None
                and op != "overwrite_all"
            ):
                b_ids, _ = _schema_ids(base_schema_json)
                p_ids, _ = _schema_ids(parent.schema_json)
                stale = _schema_epoch(base_schema_json) != _schema_epoch(
                    parent.schema_json
                ) or any(
                    b_ids.get(c) is not None and p_ids.get(c) != b_ids[c]
                    for c in df.columns
                ) or any(
                    # nested rebinds under a written struct column: a key
                    # the base had that moved or vanished means a nested
                    # rename/drop raced this write (parent-only keys are
                    # benign — the one-time nested-id mint)
                    p_ids.get(k) != v
                    for k, v in b_ids.items()
                    if "." in k and k.split(".", 1)[0] in df.columns
                )
                if stale:
                    raise CompactionConflict(
                        "a concurrent schema commit rebound this write's "
                        "columns; re-run the write against the current "
                        "schema"
                    )
            if parent is not None and (
                parent.partition_cols != partition_cols
                or spec_to_json(parent.spec) != spec_json
            ):
                raise ValueError(
                    f"partitioning is fixed at table creation unless "
                    f"evolved via update_spec: table has "
                    f"{spec_to_json(parent.spec)}, write used {spec_json}"
                )
            if op == "append":
                keep = parent.files if parent else []
            elif op == "replace":
                # spec evolution guard: partition-tuple matching across
                # two layouts is ill-defined — an old-layout file could
                # logically overlap an incoming partition without either
                # drop rule seeing it. Refuse until compact() migrates.
                names = {f.name for f in spec}
                legacy = [
                    f
                    for f in (parent.files if parent else [])
                    if f.content == "data" and set(f.partition) != names
                ]
                if legacy:
                    raise ValueError(
                        f"replace on evolved partition spec: "
                        f"{len(legacy)} live file(s) use a previous "
                        "layout; run compact() to migrate them first"
                    )
                # delete files have partition={} so neither drop rule can
                # ever match them: a partition replace keeps every delete
                # file (equality deletes still apply to kept older data;
                # position entries for dropped files are pruned below)
                if replace_scope:
                    keep = [
                        f
                        for f in (parent.files if parent else [])
                        if f.content != "data"
                        or not all(
                            f.partition.get(k) == v
                            for k, v in replace_scope.items()
                        )
                    ]
                else:
                    incoming = {
                        tuple(sorted(e.partition.items())) for e in staged
                    }
                    keep = [
                        f
                        for f in (parent.files if parent else [])
                        if f.content != "data"
                        or tuple(sorted(f.partition.items())) not in incoming
                    ]
            elif op == "overwrite_all":
                keep = []
            else:
                raise ValueError(op)
            if op == "replace" and parent is not None:
                dead = {f.path for f in parent.files} - {f.path for f in keep}
                if dead and any(
                    f.content == "position-deletes" for f in keep
                ):
                    drop_del, repl_del = self._prune_pos_deletes(parent, dead)
                    keep = [f for f in keep if f.path not in drop_del]
                    keep.extend(repl_del)
                if dead:
                    keep = self._drop_dead_eq_deletes(keep)
            version = (parent.version + 1) if parent else 1
            child_schema = self._evolve_schema(parent, df, op)
            # staged files inherit the child commit's data sequence number
            # and their physical-column ids (both recomputed per optimistic
            # retry — the version moves and the parent schema may have)
            staged = self._annotate_ids(
                [_dc_replace(e, seq=version) for e in staged],
                child_schema,
                spec,
            )
            # summary_extra is applied exactly once (inside
            # _inherited_summary); the computed counters land LAST so a
            # caller key can never clobber added_files/kept_files/
            # added_records/total_records — those are always the truth
            summary = self._inherited_summary(parent, summary_extra)
            summary.update(
                {
                    "added_files": len(staged),
                    "kept_files": len(keep),
                    "added_records": sum(e.records for e in staged),
                }
            )
            snap = Snapshot(
                version=version,
                parent=parent.version if parent else None,
                operation=op,
                timestamp_ms=int(time.time() * 1000),
                schema_json=child_schema,
                partition_cols=partition_cols,
                files=list(keep) + list(staged),
                summary=summary,
                properties=dict(parent.properties if parent else {}),
                partition_spec=spec,
            )
            summary["total_records"] = snap.total_records
            try:
                self._publish(snap, version, carry=(parent,))
                return snap
            except CommitConflict:
                # another writer landed this version: re-read the new
                # parent and recompose (staged data files remain valid)
                continue

    def append(
        self,
        df: DataFrame,
        partition_cols: list[str] | None = None,
        summary_extra: dict[str, Any] | None = None,
    ) -> Snapshot:
        pcols, spec = self._resolve_pcols(partition_cols)
        base = self.snapshot().schema_json if self.exists() else None
        return self._commit(
            self._stage(df, pcols, spec),
            df,
            "append",
            pcols,
            summary_extra=summary_extra,
            spec=spec,
            base_schema_json=base,
        )

    def replace_partitions(
        self,
        df: DataFrame,
        partition_cols: list[str] | None = None,
        scope: dict[str, Any] | None = None,
    ) -> Snapshot:
        """Dynamic partition overwrite — Iceberg ``overwritePartitions``:
        partitions PRESENT in df are replaced wholesale, absent partitions
        are untouched. The pipeline's bucket resume keys on this: replaying
        a bucket re-lands identical partitions, so the table converges to
        the same state no matter how many times a bucket is retried.

        ``scope`` (partition column -> value) switches to a scoped
        overwrite: ALL parent partitions matching the scope are dropped,
        whether or not the staged data re-lands them — use it when a
        replay may legitimately produce fewer partitions than the prior
        attempt (otherwise the prior attempt's extras would stay live)."""
        pcols, spec = self._resolve_pcols(partition_cols)
        if not pcols:
            raise ValueError("replace_partitions needs partition columns")
        rscope = (
            {k: str(v) for k, v in scope.items()} if scope else None
        )
        base = self.snapshot().schema_json if self.exists() else None
        return self._commit(
            self._stage(df, pcols, spec),
            df,
            "replace",
            pcols,
            replace_scope=rscope,
            spec=spec,
            base_schema_json=base,
        )

    def overwrite_all(
        self, df: DataFrame, partition_cols: list[str] | None = None
    ) -> Snapshot:
        pcols, spec = self._resolve_pcols(partition_cols)
        return self._commit(
            self._stage(df, pcols, spec), df, "overwrite_all", pcols, spec=spec
        )

    def _resolve_pcols(
        self, partition_cols: list[str] | None
    ) -> tuple[list[str], list[PartitionField]]:
        """User partition declarations -> (derived dir-column names, spec).
        Declarations accept hidden-partitioning transforms —
        ``days(ts)``, ``bucket(8, key)``, ``truncate(4, code)`` — as well
        as plain identity column names; omitted means "whatever the
        table already uses"."""
        if partition_cols is not None:
            spec = parse_partition_spec(partition_cols)
            return [f.name for f in spec], spec
        if self.exists():
            snap = self.snapshot()
            return snap.partition_cols, snap.spec
        return [], []

    # ----------------------------------------------------------------- read
    def plan_files(
        self,
        version: int | None = None,
        partition_filter: dict[str, Any] | None = None,
        predicate: list[tuple] | None = None,
    ) -> list[DataFile]:
        """The manifest subset a read would scan (Iceberg ``planFiles``):
        partition pruning first — including HIDDEN-partition pruning,
        where a predicate on a transform's SOURCE column (``ts``,
        ``key``) is inclusively projected onto the derived partition
        values (``ts_day``, ``key_bucket``) exactly as Iceberg's planner
        does — then metrics-based skipping: a file is dropped when some
        predicate conjunct is provably false for every row given its
        footer min/max/null-count. Exposed so callers (and tests) can
        pin exactly how many files a predicate touches. Returns DATA
        files only — delete files are applied by :meth:`read`, never
        scanned as rows."""
        snap = self.snapshot(version)
        files = snap.data_files
        if partition_filter:
            want = {k: str(v) for k, v in partition_filter.items()}
            files = [
                f
                for f in files
                if all(f.partition.get(k) == v for k, v in want.items())
            ]
        if predicate:
            pred = _check_predicate(predicate)
            spec = snap.spec
            cur_ids, _ = _schema_ids(snap.schema_json)
            dfl = _schema_defaults(snap.schema_json)
            files = [
                f
                for f in files
                if partition_may_match(f.partition, spec, pred)
                and _file_pred_match(f, pred, cur_ids, dfl)
            ]
        return files

    def read(
        self,
        version: int | None = None,
        partition_filter: dict[str, Any] | None = None,
        predicate: list[tuple] | None = None,
        ref: str | None = None,
        at_ms: "int | str | None" = None,
    ) -> DataFrame:
        """Snapshot read (time travel via ``version``, a named ``ref``
        — a tag pinned with :meth:`create_tag`, or a BRANCH name, which
        reads that branch's current head, matching Iceberg's unified
        branch-or-tag ref resolution — or ``at_ms``, a wall-clock
        instant resolved through :meth:`version_at`, Iceberg's
        ``TIMESTAMP AS OF``). ``partition_filter``
        prunes at the MANIFEST level — non-matching files never reach the
        scan, the shim-scale analogue of Iceberg's planner pruning.
        ``predicate`` — conjunctive ``(col, op, value)`` terms, ops ``=
        < <= > >= in is_null is_not_null`` (``in`` takes a list/tuple of
        values) — additionally skips files by
        their footer metrics (Iceberg's min/max file skipping) AND is
        applied to the returned rows, so the result is exactly the
        filtered table no matter how much pruning achieved. Row-level
        delete files (merge-on-read) are applied automatically."""
        if at_ms is not None:
            if version is not None or ref is not None:
                raise ValueError("pass exactly one of version/ref/at_ms")
            version = self.version_at(at_ms)
        if ref is not None:
            if version is not None:
                raise ValueError("pass version OR ref, not both")
            if (
                ref not in self.refs()
                and self.branch_name is None
                and ref in self.branches()
            ):
                # tags shadow branches on a name collision (refs() is
                # the authoritative registry, Iceberg's rule too)
                return self.branch(ref).read(
                    partition_filter=partition_filter, predicate=predicate
                )
            version = self._resolve_ref(ref)
        snap = self.snapshot(version)
        files = self.plan_files(version, partition_filter, predicate)
        df = self._scan(snap, files)
        if predicate:
            expr = _pred_expr(_check_predicate(predicate))
            if expr is not None:
                df = df.filter(expr)
        return df

    def read_incremental(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Rows ADDED between two snapshots (exclusive from, inclusive to)
        — the Iceberg incremental append scan: scan only the files present
        in ``to`` but not in ``from``. Like Iceberg, the range must be
        append-only: a replace/overwrite/compact snapshot inside it makes
        "what was added" ill-defined (rows were also removed / rewritten),
        so that raises instead of silently double- or under-counting. The
        downstream-sync pattern: consumers remember the last version they
        processed and pull just the delta — no full-table rescan."""
        to_v = self.current_version() if to_version is None else to_version
        if from_version > to_v:
            raise ValueError(f"from_version {from_version} > to_version {to_v}")
        for v in range(from_version + 1, to_v + 1):
            op = self.snapshot(v).operation
            # update-spec / evolve-schema are metadata-only (file set
            # unchanged): an append range spanning them still has
            # well-defined added rows
            if op not in (
                "append", "update-spec", "evolve-schema", "set-properties",
                "rewrite-manifests", "rewrite-deletes"
            ):
                raise ValueError(
                    f"incremental scan range contains a non-append snapshot "
                    f"v{v} ({op}); read the full snapshot instead"
                )
        to_snap = self.snapshot(to_v)
        base = {f.path for f in self.snapshot(from_version).files}
        # an append-only range can add no delete files, and pre-existing
        # delete files cannot apply to the added data (equality deletes
        # only reach STRICTLY OLDER seqs; position deletes name rows that
        # were live at their own commit) — so a plain scan is exact
        added = [
            f
            for f in to_snap.files
            if f.path not in base and f.content == "data"
        ]
        return self._read_files(to_snap, added)

    def read_changes(
        self, from_version: int = 0, to_version: int | None = None
    ) -> DataFrame:
        """Row-level CDC over a snapshot range (Iceberg's
        ``create_changelog_view``): every row added or removed by each
        snapshot in ``(from_version, to_version]``, tagged with
        ``_change_type`` (``insert`` / ``delete``), ``_change_version``
        and ``_committed_at``. An updated row (upsert) appears as a
        delete + insert pair at the same version, exactly like Iceberg's
        changelog without identifier fields.

        Unlike :meth:`read_incremental` this handles EVERY operation:

        * ``append`` — added files scanned directly (exact: no delete
          file can target rows newer than itself);
        * ``compact`` / data-preserving maintenance — emits nothing (the
          module's liveness invariants guarantee row preservation, which
          also makes changelog reads maintenance-proof);
        * everything else (CoW/MoR delete, upsert, replace, rollback) —
          a SCOPED state diff: only removed files plus files targeted by
          newly added delete files are scanned on both sides, and
          ``exceptAll`` cancels carried-over rows (the multiset diff, so
          duplicate rows cancel one-for-one, never by key). Rows in
          untouched files cannot change visibility, so the scoped diff
          equals the full-table diff at a fraction of the scan.

        100-TB shape: appends stream straight from added files; mutation
        diffs shuffle only the affected-file subset (for equality
        deletes the scope is every older-seq file — inherent, the delete
        key could hide anywhere; Iceberg pays the same). Output column
        set is the ``to`` snapshot's schema + the three meta columns;
        rows from pre-evolution snapshots carry nulls in later-added
        columns."""
        to_v = self.current_version() if to_version is None else to_version
        if from_version > to_v:
            raise ValueError(f"from_version {from_version} > to_version {to_v}")
        out_snap = self.snapshot(to_v) if to_v else None
        pieces: list[DataFrame] = []

        out_ids, _ = _schema_ids(out_snap.schema_json) if out_snap else ({}, 0)
        out_defaults = _schema_defaults(out_snap.schema_json) if out_snap else {}
        out_epoch = _schema_epoch(out_snap.schema_json) if out_snap else None

        def tag(df: DataFrame, ctype: str, s: Snapshot) -> DataFrame:
            # align to the OUT schema BY FIELD ID (schema evolution:
            # rows scanned under snapshot s carry s's column names; a
            # column renamed after s must still land in the out-schema
            # name, an added one null-fills, a dropped one is omitted).
            # Ids are comparable only within one id EPOCH — overwrite_all
            # restarts the id space, so id 1 before and after it are
            # unrelated columns; across epochs (or for legacy metadata
            # with no persisted ids) fall back to name alignment, which
            # is exact there: renames only exist inside an epoch.
            out_fields = json.loads(out_snap.schema_json)["fields"]
            same_epoch = (
                out_epoch is not None
                and _schema_epoch(s.schema_json) == out_epoch
            )
            s_ids, _ = _schema_ids(s.schema_json)
            name_at_s = {fid: n for n, fid in s_ids.items()}
            s_fields = json.loads(s.schema_json)["fields"]
            have = set(df.columns)
            cols = []
            for fld in out_fields:
                if same_epoch:
                    src = name_at_s.get(out_ids.get(fld["name"]))
                else:
                    src = fld["name"]
                from pyspark.sql.types import StructField, StructType

                dt = StructField.fromJson(fld).dataType
                if src is not None and src in have:
                    s_fld = next(
                        (x for x in s_fields if x["name"] == src), None
                    )
                    needs_align = (
                        isinstance(dt, StructType)
                        and s_fld is not None
                        and (
                            s_fld["type"] != fld["type"]
                            or (
                                same_epoch
                                and _rel_ids_under(s_ids, src)
                                != _rel_ids_under(out_ids, fld["name"])
                            )
                        )
                    )
                    if needs_align:
                        # nested evolution inside the range: project the
                        # snapshot-shaped struct onto the out schema by
                        # nested id (a positional cast would mis-bind
                        # after an inner add/drop, and an inner
                        # drop+re-add must read null, not old values)
                        rel = (
                            _rel_ids_under(s_ids, src)
                            if same_epoch
                            else None
                        )
                        cols.append(
                            _struct_align_expr(
                                F.col(src),
                                s_fld["type"],
                                rel,
                                fld["name"],
                                dt,
                                out_ids,
                                out_defaults,
                            ).alias(fld["name"])
                        )
                    else:
                        cols.append(F.col(src).cast(dt).alias(fld["name"]))
                else:
                    # rows predating the column read its default (if any)
                    dv = out_defaults.get(out_ids.get(fld["name"]))
                    cols.append(F.lit(dv).cast(dt).alias(fld["name"]))
            return df.select(
                *cols,
                F.lit(ctype).alias("_change_type"),
                F.lit(s.version).cast("int").alias("_change_version"),
                F.lit(
                    datetime.fromtimestamp(
                        s.timestamp_ms / 1000.0, tz=timezone.utc
                    ).replace(tzinfo=None)
                ).cast("timestamp_ntz").alias("_committed_at"),
            )

        for v in range(from_version + 1, to_v + 1):
            cur = self.snapshot(v)
            prev = (
                self.snapshot(v - 1)
                if v - 1 >= 1
                else Snapshot(0, None, "none", 0, cur.schema_json, [])
            )
            prev_paths = {f.path for f in prev.files}
            cur_paths = {f.path for f in cur.files}
            added_data = [
                f
                for f in cur.data_files
                if f.path not in prev_paths
            ]
            if cur.operation == "append":
                if added_data:
                    pieces.append(
                        tag(self._read_files(cur, added_data), "insert", cur)
                    )
                continue
            if cur.operation in (
                "compact", "update-spec", "evolve-schema", "set-properties",
                "rewrite-manifests", "rewrite-deletes"
            ):
                continue  # data-preserving: zero row-level changes
            removed_data = [
                f for f in prev.data_files if f.path not in cur_paths
            ]
            new_deletes = [
                f for f in cur.delete_files if f.path not in prev_paths
            ]
            # scope: removed files + files the new delete files can reach
            affected_prev = {f.path: f for f in removed_data}
            pos_targets: set[str] = set()
            new_pos = [
                f for f in new_deletes if f.content == "position-deletes"
            ]
            if new_pos:
                rd = self.spark.read.schema(
                    "file_path string, pos bigint"
                ).parquet(
                    *[os.path.join(self.root, f.path) for f in new_pos]
                )
                pos_targets = {
                    r[0]
                    for r in rd.select("file_path").distinct().collect()
                }
            new_eqs = [
                f for f in new_deletes if f.content == "equality-deletes"
            ]
            for f in prev.data_files:
                if f.path in affected_prev:
                    continue
                if f.path in pos_targets or any(
                    _eq_reaches(d, f) for d in new_eqs
                ):
                    affected_prev[f.path] = f
            affected_cur = [
                f
                for f in cur.data_files
                if f.path in affected_prev or f.path not in prev_paths
            ]
            prev_vis = self._scan(
                prev, list(affected_prev.values()), guard=False
            )
            cur_vis = self._scan(cur, affected_cur, guard=False)
            # additive evolution: lift the prev side to cur's column set
            for c in cur_vis.columns:
                if c not in prev_vis.columns:
                    prev_vis = prev_vis.withColumn(
                        c, F.lit(None).cast(dict(cur_vis.dtypes)[c])
                    )
            prev_vis = prev_vis.select(*cur_vis.columns)
            pieces.append(tag(cur_vis.exceptAll(prev_vis), "insert", cur))
            pieces.append(tag(prev_vis.exceptAll(cur_vis), "delete", cur))
        if not pieces:
            from pyspark.sql.types import (
                IntegerType,
                StringType,
                StructField,
                StructType,
                TimestampNTZType,
            )

            base = (
                list(self._empty_schema(out_snap).fields) if out_snap else []
            )
            return self.spark.createDataFrame(
                [],
                StructType(
                    base
                    + [
                        StructField("_change_type", StringType()),
                        StructField("_change_version", IntegerType()),
                        StructField("_committed_at", TimestampNTZType()),
                    ]
                ),
            )
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        return out

    def _read_files(
        self,
        snap: Snapshot,
        files: list[DataFile],
        guard: bool = True,
        with_meta: bool = False,
    ) -> DataFrame:
        """Scan a manifest subset under the snapshot's STORED schema.
        Grouped by staging root so hive partition-dir reconstruction stays
        exact: basePath = data/<uuid> makes Spark rebuild the partition
        columns from the col=val components below it, per group. The
        stored schema is supplied on every group: partition values parse
        under their written type instead of being re-inferred from the
        dir strings (inference would turn a string partition "00" into
        int 0 — silent corruption — and make the empty-prune path and
        the data path disagree on types). Groups then union.

        ``with_meta`` appends two helper columns from Spark's parquet
        ``_metadata``: ``_lph_file`` (the file's path RELATIVE to the
        table root — the manifest's path form) and ``_lph_pos`` (the
        row's ordinal within its file) — the coordinates position-delete
        files are keyed by."""
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        schema = self._empty_schema(snap)
        if with_meta:
            out_schema = StructType(
                list(schema.fields)
                + [
                    StructField("_lph_file", StringType(), False),
                    StructField("_lph_pos", LongType(), False),
                ]
            )
        else:
            out_schema = schema
        if not files:
            return self.spark.createDataFrame([], out_schema)
        by_root: dict[str, list[str]] = {}
        # spec evolution: whether a root needs hive partition-dir
        # reconstruction is decided from ITS files' manifest partition
        # tuples, not from the current spec — an old-layout root keeps
        # its dirs readable after the table evolved away from them
        root_partitioned: dict[str, bool] = {}
        # schema evolution: each root's PHYSICAL column manifest (one
        # _stage call per root, so every file in it shares one shape)
        root_columns: dict[str, list[dict[str, Any]] | None] = {}
        for f in files:
            parts = f.path.split("/")
            root = os.path.join(self.root, *parts[:2])  # data/<uuid>
            by_root.setdefault(root, []).append(os.path.join(self.root, f.path))
            root_partitioned[root] = root_partitioned.get(root, False) or bool(
                f.partition
            )
            if root not in root_columns:
                root_columns[root] = f.columns
        cur_ids, _ = _schema_ids(snap.schema_json)
        cur_defaults = _schema_defaults(snap.schema_json)

        def _trivial(ann: list[dict[str, Any]] | None) -> bool:
            # True when reading this root by NAME under the current schema
            # is exactly right (legacy entries, or annotated files whose
            # physical name/type already match the current field for every
            # current id) — keeps pre-evolution scan plans byte-identical
            if ann is None:
                return True
            by_id = {c.get("id"): c for c in ann if c.get("id") is not None}
            for sf in schema.fields:
                c = by_id.get(cur_ids.get(sf.name))
                if c is None:
                    # file predates the column: the name-based reader
                    # null-fills it — identical to the id projection —
                    # UNLESS a stale same-named physical column exists
                    # (dropped + re-added id) or the field carries a
                    # DEFAULT (null-fill would lose it)
                    if any(x["name"] == sf.name for x in ann):
                        return False
                    if cur_defaults.get(cur_ids.get(sf.name)) is not None:
                        return False
                    continue
                if c["name"] != sf.name or c["type"] != sf.dataType.jsonValue():
                    return False
                if isinstance(sf.dataType, StructType) and not (
                    _struct_trivial(c, sf, cur_ids)
                ):
                    # equal names can hide an inner drop+re-add — only
                    # matching nested ids make a by-name read exact
                    return False
            return True
        max_roots = int(
            snap.properties.get("read.max-union-roots", self.max_union_roots)
        )
        if guard and len(by_root) > max_roots:
            import warnings

            warnings.warn(
                f"table {self.location} read spans {len(by_root)} staging "
                f"roots (> max_union_roots={max_roots}); each is "
                "a union branch in the scan plan — run compact() to collapse "
                "accreted commits (maintenance cadence: roughly every "
                f"{max_roots} commits)",
                RuntimeWarning,
                stacklevel=2,
            )
        out: DataFrame | None = None
        prefix = self.root.rstrip("/") + "/"
        for root, paths in sorted(by_root.items()):
            ann = root_columns[root]
            if _trivial(ann):
                reader = self.spark.read.schema(schema)
                sel = [F.col(f.name) for f in schema.fields]
            else:
                # schema-evolution projection: read the root under its
                # PHYSICAL shape, then map physical -> current by field
                # id (rename -> alias, widen -> lossless cast, dropped ->
                # omitted, later-added -> typed null). A re-added name's
                # old values can never surface: the old physical column's
                # id is not the current field's id.
                reader = self.spark.read.schema(_columns_struct(ann))
                by_id = {
                    c["id"]: c
                    for c in ann
                    if c.get("id") is not None
                }
                sel = []
                for f in schema.fields:
                    c = by_id.get(cur_ids.get(f.name))
                    if c is None:
                        # absent from the file: the field's default when
                        # one exists (Iceberg v3 initial-default), null
                        # otherwise
                        dv = cur_defaults.get(cur_ids.get(f.name))
                        sel.append(
                            F.lit(dv).cast(f.dataType).alias(f.name)
                        )
                    elif isinstance(f.dataType, StructType) and not (
                        _struct_trivial(c, f, cur_ids)
                    ):
                        # nested evolution: rebuild the struct from the
                        # file's physical inner fields by NESTED id
                        sel.append(
                            _struct_align_expr(
                                F.col(c["name"]),
                                c["type"],
                                c.get("ids"),
                                f.name,
                                f.dataType,
                                cur_ids,
                                cur_defaults,
                            ).alias(f.name)
                        )
                    else:
                        sel.append(
                            F.col(c["name"]).cast(f.dataType).alias(f.name)
                        )
            if root_partitioned[root]:
                reader = reader.option("basePath", root)
            part = reader.parquet(*sorted(paths))
            if with_meta:
                # _metadata.file_path is a URI (file:///...); normalize to
                # the on-disk path and strip the table root so it compares
                # against the manifest's RELATIVE paths (portable if the
                # table directory moves — why delete files store rel paths)
                norm = F.regexp_replace(
                    F.col("_metadata.file_path"), r"^[a-zA-Z][\w+.-]*:/+", "/"
                )
                part = part.select(
                    *sel,
                    F.replace(norm, F.lit(prefix), F.lit("")).alias("_lph_file"),
                    F.col("_metadata.row_index").alias("_lph_pos"),
                )
            else:
                # project away hidden-partition dir columns PER ROOT
                # (after spec evolution, roots carry different derived
                # columns) and map physical -> current columns — the
                # union must see one uniform, current-schema shape
                part = part.select(*sel)
            out = part if out is None else out.unionByName(part)
        return out.select(*[f.name for f in out_schema.fields])

    def _scan(
        self,
        snap: Snapshot,
        data_files: list[DataFile],
        with_meta: bool = False,
        guard: bool = True,
    ) -> DataFrame:
        """Scan data files with the snapshot's row-level DELETE FILES
        applied — the Iceberg v2 merge-on-read path. Zero-cost when the
        snapshot holds no delete files: the plan is identical to a plain
        ``_read_files`` scan (no helper columns, no joins), so tables
        that never saw a MoR mutation keep their exact pre-v2 plans."""
        dels = snap.delete_files
        need_meta = with_meta or bool(dels)
        df = self._read_files(snap, data_files, guard=guard, with_meta=need_meta)
        if dels:
            df = self._apply_deletes(snap, df, data_files)
        if need_meta and not with_meta:
            df = df.drop("_lph_file", "_lph_pos")
        return df

    def _apply_deletes(
        self, snap: Snapshot, df: DataFrame, data_files: list[DataFile]
    ) -> DataFrame:
        """Anti-join the snapshot's delete files against a data scan that
        carries ``_lph_file``/``_lph_pos`` helper columns.

        Position deletes name exact (file, row-ordinal) coordinates —
        applicability IS the path match (paths are uuid-unique and never
        reused, so no sequence check is needed). Equality deletes apply
        to rows whose data file's sequence number is STRICTLY smaller
        than the delete file's (the Iceberg v2 rule — an upsert's own
        inserts land at the same seq and survive its own delete); the
        per-row seq comes from a broadcast manifest map, and null key
        values match null delete values (eqNullSafe — Iceberg equality
        deletes match nulls). Delete sides are broadcast when their
        manifest record counts say they are small; above the threshold
        the hint is dropped and AQE picks the strategy."""
        BCAST_ROWS = 4_000_000
        pos = [f for f in snap.delete_files if f.content == "position-deletes"]
        eqs = [f for f in snap.delete_files if f.content == "equality-deletes"]
        if pos:
            rd = self.spark.read.schema("file_path string, pos bigint").parquet(
                *[os.path.join(self.root, f.path) for f in pos]
            )
            if sum(f.records for f in pos) <= BCAST_ROWS:
                rd = F.broadcast(rd)
            df = df.join(
                rd,
                (df["_lph_file"] == rd["file_path"])
                & (df["_lph_pos"] == rd["pos"]),
                "left_anti",
            )
        if eqs:
            # partition-scope fan-in cut: a delete file no scanned data
            # file can reach (older-seq + overlapping partition) never
            # even joins — at plan time, exactly where Iceberg skips it
            eqs = [
                d for d in eqs if any(_eq_reaches(d, f) for f in data_files)
            ]
        if eqs:
            schema = self._empty_schema(snap)
            seq_map = self.spark.createDataFrame(
                [(f.path, f.seq) for f in data_files],
                "_sm_file string, _lph_seq bigint",
            )
            df = df.join(
                F.broadcast(seq_map),
                df["_lph_file"] == seq_map["_sm_file"],
                "left",
            ).drop("_sm_file")
            by_cols: dict[tuple, list[DataFile]] = {}
            for f in eqs:
                by_cols.setdefault(tuple(f.equality_cols or ()), []).append(f)
            for cols, group in sorted(by_cols.items()):
                dd: DataFrame | None = None
                for f in group:
                    part = self.spark.read.parquet(
                        os.path.join(self.root, f.path)
                    )
                    # scoped delete files store identity partition keys
                    # in their DIRECTORY: reconstruct each as the
                    # manifest tuple's constant, cast under the table
                    # schema (never re-inferred)
                    for c in cols:
                        if c in part.columns or c not in f.partition:
                            continue
                        raw = f.partition[c]
                        dt = schema[c].dataType
                        part = part.withColumn(
                            c,
                            F.lit(
                                None
                                if raw == "__HIVE_DEFAULT_PARTITION__"
                                else raw
                            ).cast(dt),
                        )
                    part = part.select(*cols).withColumn(
                        "_del_seq", F.lit(f.seq).cast("bigint")
                    )
                    dd = part if dd is None else dd.unionByName(part)
                if sum(f.records for f in group) <= BCAST_ROWS:
                    dd = F.broadcast(dd)
                cond = df["_lph_seq"] < dd["_del_seq"]
                for c in cols:
                    cond = cond & df[c].eqNullSafe(dd[c])
                df = df.join(dd, cond, "left_anti")
            df = df.drop("_lph_seq")
        return df

    def _empty_schema(self, snap: Snapshot):
        from pyspark.sql.types import StructType

        # schema json round-trips exactly (nullability, ntz timestamps)
        return StructType.fromJson(json.loads(snap.schema_json))

    # ---------------------------------------------------------------- merge
    def upsert(
        self,
        updates: DataFrame,
        key_cols: list[str],
        broadcast_key_limit: int = 2_000_000,
        mode: str | None = None,
        summary_extra: dict[str, Any] | None = None,
        precondition=None,
    ) -> Snapshot:
        """Copy-on-write MERGE keyed on ``key_cols`` (the Iceberg
        ``MERGE INTO ... WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN
        INSERT *`` shape): rows whose key exists are replaced by the
        update row, new keys are inserted — the doc-refresh operation a
        training corpus needs (re-crawled documents land by doc_id
        without rewriting the table).

        File-granular copy-on-write: ONE scan of the current snapshot
        joined against the (broadcast) update keys finds the files that
        contain a matched key; only THOSE files are rewritten (their
        unmatched rows survive verbatim), everything else is carried by
        reference. New columns in ``updates`` evolve the schema
        additively (same rule as append). A duplicate key WITHIN the
        updates batch raises (Iceberg MERGE's multiple-matches rule) —
        silently landing both would leave duplicate keys in the table.

        Isolation: commits under the compaction conflict rule — every
        rewritten source file must still be live at promote time — PLUS
        an added-rows check: files a concurrent commit added since the
        merge scan are scanned for matched keys (they are few), and a
        hit raises :class:`CompactionConflict` too; keeping them while
        also landing the update row would commit duplicate keys (the
        serializable-isolation validation Iceberg MERGE performs).

        ``mode="merge-on-read"`` instead writes NO rewrite at all — the
        Iceberg v2 / Flink-CDC upsert shape: the update rows append as
        new data files and one EQUALITY DELETE file on ``key_cols``
        commits alongside them; old rows die at read time because the
        delete applies to every data file with a strictly smaller
        sequence number, while the same-commit inserts (equal seq)
        survive. No scan of existing data happens at any point — the
        write cost is O(batch), independent of table size, which is why
        streaming CDC sinks use it. Concurrency composes by sequence
        number alone: a racing append that loses the version race lands
        at a HIGHER seq, outside this delete's reach, exactly as a later
        writer should — so no conflict validation is needed. The read
        cost moves to the anti-joins in :meth:`read` until
        :meth:`compact` materializes the deletes."""
        snap = self.snapshot()
        if not key_cols:
            raise ValueError("upsert needs key columns")
        if mode is None:  # Iceberg's write.merge.mode table property
            mode = snap.properties.get("write.merge.mode", "copy-on-write")
        if mode not in ("copy-on-write", "merge-on-read"):
            raise ValueError(f"unknown upsert mode {mode!r}")
        keys = updates.select(*key_cols).dropDuplicates(key_cols)
        # ONE aggregation job answers both planner questions: MERGE's
        # multiple-matches rule (a duplicate key inside the updates batch
        # would land BOTH rows) and the key-set size that decides whether
        # the key joins below may be broadcast. Above broadcast_key_limit
        # the hint is dropped and AQE picks the strategy (shuffle join) —
        # a 10^8-key MERGE must not collect its key set onto the driver.
        kstats = (
            updates.groupBy(*key_cols)
            .count()
            .agg(
                F.count(F.lit(1)).alias("n_keys"),
                F.max("count").alias("max_dup"),
            )
            .first()
        )
        if (kstats["max_dup"] or 0) > 1:
            raise ValueError(
                "updates contain duplicate keys — MERGE requires one "
                "update row per key (dedupe upstream)"
            )
        n_keys = kstats["n_keys"] or 0
        if mode == "merge-on-read":
            return self._upsert_mor(
                snap,
                updates,
                keys,
                key_cols,
                summary_extra=summary_extra,
                precondition=precondition,
            )
        if summary_extra or precondition is not None:
            raise ValueError(
                "summary_extra/precondition are only supported with "
                "mode='merge-on-read' (the streaming upsert sink path)"
            )
        _maybe_bcast = (
            F.broadcast if n_keys <= broadcast_key_limit else (lambda d: d)
        )
        # pass 1 (metadata-cheap): which files hold a matched key — one
        # delete-applied scan carrying _lph_file, semi-joined against the
        # broadcast keys (a row that is already dead must not trigger a
        # rewrite, and must NOT resurrect in the survivors below)
        full = self._scan(snap, snap.data_files, with_meta=True)
        hit_files = {
            r.f
            for r in full.join(_maybe_bcast(keys), key_cols, "left_semi")
            .select(F.col("_lph_file").alias("f"))
            .distinct()
            .collect()
        }
        touched = [f for f in snap.data_files if f.path in hit_files]
        # pass 2: rewrite ONLY the touched files' unmatched survivors,
        # plus every update row. allowMissingColumns both directions:
        # new columns in updates null-fill the survivors (additive
        # evolution), columns updates omitted null-fill the update rows.
        survivors = (
            self._scan(snap, touched).join(
                _maybe_bcast(keys), key_cols, "left_anti"
            )
            if touched
            else None
        )
        rewrite_df = (
            updates
            if survivors is None
            else survivors.unionByName(updates, allowMissingColumns=True)
        )
        staged = self._stage(rewrite_df, snap.partition_cols, snap.spec)
        return self._commit_key_merge(
            snap,
            rewrite_df,
            staged,
            {f.path for f in touched},
            keys,
            key_cols,
            _maybe_bcast,
            "upsert",
        )

    def _commit_key_merge(
        self,
        snap: Snapshot,
        rewrite_df: DataFrame,
        staged: list[DataFile],
        replaced: set[str],
        keys: DataFrame,
        key_cols: list[str],
        _maybe_bcast,
        operation: str,
        extra_summary: dict[str, Any] | None = None,
        any_added_conflicts: bool = False,
    ) -> Snapshot:
        """Shared serializable commit loop for the key-addressed
        copy-on-write merges (:meth:`upsert`, :meth:`merge`): swap the
        ``replaced`` files for the ``staged`` rewrite, conflicting when a
        concurrent commit replaced a source file, added a row-level
        delete file, or added rows carrying a merged key since ``snap``
        (keeping those while also landing the merge rows would commit
        duplicate keys — the serializable-isolation validation Iceberg
        MERGE performs)."""
        base_paths = {f.path for f in snap.files}
        while True:
            parent = self.snapshot()
            live = {f.path for f in parent.files}
            if not replaced <= live:
                raise CompactionConflict(
                    f"{len(replaced - live)} merged source file(s) were "
                    f"replaced by a concurrent commit; re-run {operation}()"
                )
            # serializable-isolation check: concurrently ADDED files that
            # contain a matched key would survive alongside the staged
            # update row -> duplicate keys. Scan just the delta. A
            # concurrently added DELETE file is a conflict outright: the
            # merge scan above never saw it, so the survivors it rewrote
            # may resurrect rows that delete killed.
            added_since = [
                f
                for f in parent.files
                if f.path not in base_paths and f.content == "data"
            ]
            if any(
                f.content != "data" and f.path not in base_paths
                for f in parent.files
            ):
                raise CompactionConflict(
                    "a concurrent commit added row-level delete file(s); "
                    f"re-run {operation}()"
                )
            if added_since and any_added_conflicts:
                # a NOT MATCHED BY SOURCE clause could claim ANY target
                # row, so rows added by a concurrent commit dodged the
                # clause logic whatever their keys are — always conflict
                raise CompactionConflict(
                    f"a concurrent commit added {len(added_since)} "
                    "file(s) while a NOT MATCHED BY SOURCE merge ran; "
                    f"re-run {operation}()"
                )
            if added_since:
                n_hits = (
                    self._read_files(parent, added_since)
                    .join(_maybe_bcast(keys), key_cols, "left_semi")
                    .count()
                )
                if n_hits:
                    raise CompactionConflict(
                        f"a concurrent commit added {n_hits} row(s) with "
                        f"merged key(s); re-run {operation}()"
                    )
            keep = [f for f in parent.files if f.path not in replaced]
            if replaced and any(
                f.content == "position-deletes" for f in keep
            ):
                drop_del, repl_del = self._prune_pos_deletes(parent, replaced)
                keep = [f for f in keep if f.path not in drop_del]
                keep.extend(repl_del)
            if replaced:
                keep = self._drop_dead_eq_deletes(keep)
            version = parent.version + 1
            child_schema = self._evolve_schema(parent, rewrite_df, operation)
            # conflict=True: a schema commit racing between the merge
            # scan and this promote invalidates the staged rewrite
            staged = self._annotate_ids(
                [_dc_replace(e, seq=version) for e in staged],
                child_schema,
                snap.spec,
                conflict=True,
                scan_schema_json=snap.schema_json,
            )
            summary = self._inherited_summary(parent, None)
            summary.update(
                {
                    "rewritten_files": len(replaced),
                    "added_files": len(staged),
                    "kept_files": len(keep),
                }
            )
            if extra_summary:
                summary.update(extra_summary)
            new = Snapshot(
                version=version,
                parent=parent.version,
                operation=operation,
                timestamp_ms=int(time.time() * 1000),
                schema_json=child_schema,
                partition_cols=snap.partition_cols,
                partition_spec=snap.spec,
                files=keep + staged,
                summary=summary,
                properties=dict(parent.properties),
            )
            new.summary["total_records"] = new.total_records
            try:
                self._publish(new, version, carry=(parent,))
                return new
            except CommitConflict:
                continue  # liveness re-checks against the new parent

    def merge(
        self,
        source: DataFrame,
        on: list[str],
        when: list[tuple],
        broadcast_key_limit: int = 2_000_000,
        target_alias: str = "t",
        source_alias: str = "s",
        mode: str | None = None,
    ) -> Snapshot | None:
        """General ``MERGE INTO`` with ordered WHEN clauses — the full
        Iceberg/ANSI shape of which :meth:`upsert` is the common special
        case (``WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN
        INSERT *``). ``on`` is the list of join key columns; ``when`` is
        the ordered clause list, each a ``(kind, condition, payload)``
        tuple:

        - ``("matched_update", cond, assignments)`` — matched rows where
          ``cond`` holds take the assigned values; ``assignments`` maps
          target column -> SQL expression string (may reference both
          aliases, e.g. ``"t.n + s.n"``), or the string ``"*"`` meaning
          every source column overwrites its same-named target column.
        - ``("matched_delete", cond, None)`` — matched rows where
          ``cond`` holds are removed.
        - ``("not_matched_insert", cond, values)`` — source rows that
          matched no target row and satisfy ``cond`` insert; ``values``
          maps target column -> SQL expression over the source alias, or
          ``"*"`` meaning the source row inserts by name (columns the
          source lacks land NULL; NEW source columns evolve the schema
          additively, same rule as append/upsert).
        - ``("nms_update", cond, assignments)`` / ``("nms_delete",
          cond, None)`` — ``WHEN NOT MATCHED BY SOURCE`` (ANSI/Delta/
          Spark 3.4 SQL): TARGET rows with no source match — the
          deletion-sync family ("make the table mirror this source").
          ``SET *`` is refused (no source row to copy). NOTE: any
          NMS clause touches EVERY data file (its condition is an
          arbitrary expression — not plannable), so copy-on-write mode
          rewrites the whole table, exactly as Delta does; prefer
          merge-on-read mode, which writes only the claimed rows.
          Serializability widens accordingly: ANY concurrently added
          row conflicts, not just ones carrying merged keys.

        ``cond`` is a SQL boolean string over ``t.``/``s.`` (or the
        given aliases), or None for unconditional. Per ANSI/Iceberg,
        clauses apply FIRST-MATCH-WINS in list order within their family;
        only the LAST clause of each family (matched / not-matched) may
        omit its condition — an unconditional clause followed by another
        of the same family would make it unreachable, so that raises.
        Matched target rows claimed by no clause are carried unchanged;
        unmatched source rows claimed by no clause are discarded.

        Execution (``mode="copy-on-write"``, the default) is the
        Delta/Iceberg copy-on-write plan: one delete-applied scan
        semi-joined against the (broadcast when small) source key set
        finds the files holding a matched key; a FULL OUTER join between
        just THOSE files' rows and the source applies the clause logic
        row-wise; only touched files rewrite, everything else is carried
        by reference. A source key matching no target row anywhere is
        globally unmatched (its file would have been touched otherwise),
        so the outer join sees every not-matched insert. Duplicate keys
        within the source raise (ANSI MERGE's multiple-matches rule).
        Isolation: serializable, same rules as :meth:`upsert` (shared
        commit loop). Returns the new snapshot, or None when no clause
        changed anything.

        ``mode="merge-on-read"`` rewrites NO existing file: the same
        join computes which live rows each clause claims, then ONE
        commit adds a POSITION-DELETE file naming the claimed rows'
        (file, pos) coordinates plus a data file holding the
        update-clause rows with their new values and the insert-clause
        rows — Iceberg's MoR merge shape (``write.merge.mode``), write
        cost O(claimed rows) instead of O(touched-file bytes). Old row
        versions die at read time through the position-delete anti-join;
        :meth:`compact` materializes later. Unlike :meth:`upsert`'s
        equality-delete MoR path, a general MERGE must still SCAN the
        touched files (clause conditions and assignments reference
        target values), so the saving is on the write side only.
        ``mode=None`` resolves the table's ``write.merge.mode``
        property, default copy-on-write — identical semantics either
        way (a pytest pins CoW/MoR read equivalence clause-for-clause).

        Reference parity note: the reference app has no table mutations
        at all (state is whole-file JSON overwrite,
        utils/json_utils.py:21-27); this is part of the Spark-first
        table surface replacing it."""
        snap = self.snapshot()
        if mode is None:  # Iceberg's write.merge.mode table property
            mode = snap.properties.get("write.merge.mode", "copy-on-write")
        if mode not in ("copy-on-write", "merge-on-read"):
            raise ValueError(f"unknown merge mode {mode!r}")
        mor = mode == "merge-on-read"
        if not on:
            raise ValueError("merge needs join key columns")
        if not when:
            raise ValueError("merge needs at least one WHEN clause")
        schema = self._empty_schema(snap)
        tcols = list(schema.fieldNames())
        scols = list(source.columns)
        for k in on:
            if k not in tcols or k not in scols:
                raise ValueError(
                    f"join key {k!r} must exist in both target and source"
                )
        # three clause families (ANSI/Delta): matched, not-matched
        # (by target), and not-matched-BY-SOURCE — target rows with no
        # source match (the deletion-sync family)
        fam_of = {
            "matched_update": "m",
            "matched_delete": "m",
            "not_matched_insert": "n",
            "nms_update": "b",
            "nms_delete": "b",
        }
        star = any(
            p == "*" for _, _, p in when if isinstance(p, str)
        )
        out_cols = tcols + [c for c in scols if c not in tcols] if star \
            else list(tcols)
        last_of = {}
        for i, (kind, cond, payload) in enumerate(when):
            if kind not in fam_of:
                raise ValueError(
                    f"unknown clause kind {kind!r}; one of {sorted(fam_of)}"
                )
            last_of[fam_of[kind]] = i
        for i, (kind, cond, payload) in enumerate(when):
            if cond is None and i != last_of[fam_of[kind]]:
                raise ValueError(
                    "only the last clause of each family may omit its "
                    f"condition (clause {i} shadows a later one)"
                )
            if kind in ("matched_delete", "nms_delete"):
                if payload is not None:
                    raise ValueError(f"{kind} takes no payload")
            elif kind == "nms_update" and payload == "*":
                raise ValueError(
                    "nms_update cannot SET * — there is no source row "
                    "to copy from; assign explicit expressions"
                )
            elif payload != "*":
                if not isinstance(payload, dict) or not payload:
                    raise ValueError(
                        f"clause {i} payload must be '*' or a non-empty "
                        "dict of column -> SQL expression"
                    )
                bad = [c for c in payload if c not in out_cols]
                if bad:
                    raise ValueError(
                        f"clause {i} assigns unknown column(s) {bad}; "
                        f"target columns: {sorted(tcols)}"
                    )
        for marker in ("_lph_mrg_t", "_lph_mrg_s"):
            if marker in tcols or marker in scols:
                raise ValueError(f"column name {marker!r} is reserved")
        # same one-job key validation as upsert: ANSI multiple-matches
        # rule + the key-set size that decides broadcast strategy
        keys = source.select(*on).dropDuplicates(on)
        kstats = (
            source.groupBy(*on)
            .count()
            .agg(
                F.count(F.lit(1)).alias("n_keys"),
                F.max("count").alias("max_dup"),
            )
            .first()
        )
        if (kstats["max_dup"] or 0) > 1:
            raise ValueError(
                "source contains duplicate keys — MERGE requires one "
                "source row per key (dedupe upstream)"
            )
        n_keys = kstats["n_keys"] or 0
        _maybe_bcast = (
            F.broadcast if n_keys <= broadcast_key_limit else (lambda d: d)
        )
        ta, sa = target_alias, source_alias
        has_insert = any(k == "not_matched_insert" for k, _, _ in when)
        has_nms = any(fam_of[k] == "b" for k, _, _ in when)
        if has_nms:
            # a NOT MATCHED BY SOURCE clause can claim a row in ANY file
            # (clause conditions are arbitrary expressions — not
            # plannable), so every data file is touched. Inherent to the
            # clause family (Delta rewrites the whole table here too);
            # in copy-on-write mode this is a full-table rewrite, in
            # merge-on-read only the claimed rows are written.
            touched = list(snap.data_files)
        else:
            # pass 1 (metadata-cheap): which files hold a matched key —
            # the only full-table scan, and it reads just the key columns
            full = self._scan(snap, snap.data_files, with_meta=True)
            hit_files = {
                r.f
                for r in full.join(_maybe_bcast(keys), on, "left_semi")
                .select(F.col("_lph_file").alias("f"))
                .distinct()
                .collect()
            }
            touched = [f for f in snap.data_files if f.path in hit_files]
        if not touched and not has_insert:
            return None  # no key matched and nothing to insert
        # pass 2: clause logic over touched-rows FULL OUTER JOIN source.
        # MoR keeps the (file, pos) coordinates: claimed rows become
        # position deletes instead of driving a file rewrite.
        tgt = (
            self._scan(snap, touched, with_meta=mor)
            .withColumn("_lph_mrg_t", F.lit(True))
            .alias(ta)
        )
        src = source.withColumn("_lph_mrg_s", F.lit(True)).alias(sa)
        jcond = None
        for k in on:
            # plain equality: NULL keys never match (ANSI MERGE)
            eq = F.col(f"{ta}.`{k}`") == F.col(f"{sa}.`{k}`")
            jcond = eq if jcond is None else jcond & eq
        # no broadcast hint on the FULL source: _maybe_bcast's key-count
        # gate bounds keys, not row width — a 1M-key source with wide
        # payload columns could blow Spark's broadcast limit. AQE's own
        # BYTE-sized threshold decides here; the hint stays on the
        # narrow key-only joins above/below. (A full-outer join could
        # not broadcast-build either side anyway.)
        joined = tgt.join(
            src,
            jcond,
            "full_outer" if has_insert else "left_outer",
        )
        tflag = F.col("_lph_mrg_t").isNotNull()
        sflag = F.col("_lph_mrg_s").isNotNull()
        matched = tflag & sflag
        # first-match-wins clause index, NULL when no clause claims the row
        applied = F.lit(None).cast("int")
        chain = None
        for i, (kind, cond, payload) in enumerate(when):
            base = (
                matched
                if fam_of[kind] == "m"
                else (sflag & ~tflag)
                if fam_of[kind] == "n"
                else (tflag & ~sflag)  # not matched BY SOURCE
            )
            c = base if cond is None else base & F.expr(cond)
            chain = F.when(c, F.lit(i)) if chain is None else \
                chain.when(c, F.lit(i))
        applied = chain
        drop_idxs = [
            i
            for i, (k, _, _) in enumerate(when)
            if k in ("matched_delete", "nms_delete")
        ]
        keep_row = F.when(applied.isNull(), tflag).otherwise(
            ~applied.isin(drop_idxs) if drop_idxs else F.lit(True)
        )

        def _clause_value(i: int, kind: str, payload, c: str):
            if kind == "matched_update" or kind == "nms_update":
                if payload == "*":  # matched_update only (nms refused)
                    return F.col(f"{sa}.`{c}`") if c in scols \
                        else F.col(f"{ta}.`{c}`")
                return F.expr(payload[c]) if c in payload \
                    else (F.col(f"{ta}.`{c}`") if c in tcols
                          else F.lit(None))
            # not_matched_insert
            if payload == "*":
                return F.col(f"{sa}.`{c}`") if c in scols else F.lit(None)
            return F.expr(payload[c]) if c in payload else F.lit(None)

        out = []
        for c in out_cols:
            # fallback: unchanged target value (NULL for new source cols)
            val = F.col(f"{ta}.`{c}`") if c in tcols else \
                F.lit(None).cast(dict(zip(scols, source.schema))[c].dataType)
            vchain = None
            for i, (kind, cond, payload) in enumerate(when):
                if kind in ("matched_delete", "nms_delete"):
                    continue  # deleted rows never reach the select
                v = _clause_value(i, kind, payload, c)
                vchain = F.when(applied == i, v) if vchain is None else \
                    vchain.when(applied == i, v)
            out.append(
                (vchain.otherwise(val) if vchain is not None else val)
                .alias(c)
            )
        if mor:
            claimed = applied.isNotNull()
            write_idxs = [
                i
                for i, (k, _, _) in enumerate(when)
                if k not in ("matched_delete", "nms_delete")
            ]
            insert_df = joined.filter(
                claimed & applied.isin(write_idxs)
            ).select(*out)
            pos_rows = (
                joined.filter(claimed & tflag)
                .select(
                    F.col(f"{ta}.`_lph_file`").alias("file_path"),
                    F.col(f"{ta}.`_lph_pos`").alias("pos"),
                )
                .sort("file_path", "pos")
            )
            return self._merge_mor_commit(
                snap, insert_df, pos_rows, keys, on, _maybe_bcast,
                any_added_conflicts=has_nms,
            )
        rewrite_df = joined.filter(keep_row).select(*out)
        staged = self._stage(rewrite_df, snap.partition_cols, snap.spec)
        if not touched and not staged:
            return None  # insert clauses claimed no source row
        return self._commit_key_merge(
            snap,
            rewrite_df,
            staged,
            {f.path for f in touched},
            keys,
            on,
            _maybe_bcast,
            "merge",
            any_added_conflicts=has_nms,
        )

    def _merge_mor_commit(
        self,
        snap: Snapshot,
        insert_df: DataFrame,
        pos_rows: DataFrame,
        keys: DataFrame,
        key_cols: list[str],
        _maybe_bcast,
        any_added_conflicts: bool = False,
    ) -> Snapshot | None:
        """Merge-on-read MERGE body (see :meth:`merge`): ONE commit adds
        a position-delete file naming every clause-claimed live row plus
        a data file holding the update/insert clause outputs. Conflict
        rules combine :meth:`_update_mor`'s (referenced data files must
        stay live; no concurrent delete files) with
        :meth:`_commit_key_merge`'s serializable added-key check (rows a
        concurrent commit appended carrying a merged key would dodge the
        clause logic -> duplicate keys / missed matches)."""
        staged_del = [
            e
            for e in self._stage_delete_rows(pos_rows, "position-deletes")
            if e.records  # insert-only merges claim no target row
        ]
        n_claimed = sum(e.records for e in staged_del)
        staged_data = [
            e
            for e in self._stage(insert_df, snap.partition_cols, snap.spec)
            if e.records  # delete-only merges write no data rows
        ]
        if n_claimed == 0 and not staged_data:
            return None  # no clause claimed any row
        import pyarrow.parquet as pq

        referenced: set[str] = set()
        for e in staged_del:
            t = pq.read_table(
                os.path.join(self.root, e.path), columns=["file_path"]
            )
            referenced.update(t.column("file_path").to_pylist())
        base_paths = {f.path for f in snap.files}
        while True:
            parent = self.snapshot()
            live_data = {f.path for f in parent.data_files}
            if not referenced <= live_data:
                raise CompactionConflict(
                    f"{len(referenced - live_data)} file(s) this merge "
                    "references were rewritten by a concurrent commit; "
                    "re-run merge()"
                )
            if any(
                f.content != "data" and f.path not in base_paths
                for f in parent.files
            ):
                raise CompactionConflict(
                    "a concurrent commit added row-level delete file(s); "
                    "re-run merge()"
                )
            added_since = [
                f
                for f in parent.files
                if f.path not in base_paths and f.content == "data"
            ]
            if added_since and any_added_conflicts:
                raise CompactionConflict(
                    f"a concurrent commit added {len(added_since)} "
                    "file(s) while a NOT MATCHED BY SOURCE merge ran; "
                    "re-run merge()"
                )
            if added_since:
                n_hits = (
                    self._read_files(parent, added_since)
                    .join(_maybe_bcast(keys), key_cols, "left_semi")
                    .count()
                )
                if n_hits:
                    raise CompactionConflict(
                        f"a concurrent commit added {n_hits} row(s) with "
                        "merged key(s); re-run merge()"
                    )
            version = parent.version + 1
            child_schema = self._evolve_schema(parent, insert_df, "merge")
            staged = self._annotate_ids(
                [_dc_replace(e, seq=version) for e in staged_data],
                child_schema,
                snap.spec,
                conflict=True,
                scan_schema_json=snap.schema_json,
            ) + [_dc_replace(e, seq=version) for e in staged_del]
            summary = self._inherited_summary(parent, None)
            summary.update(
                {
                    "mode": "merge-on-read",
                    "added_files": len(staged_data),
                    "position_delete_files": len(staged_del),
                    "claimed_records": n_claimed,
                    "kept_files": len(parent.files),
                }
            )
            new = Snapshot(
                version=version,
                parent=parent.version,
                operation="merge",
                timestamp_ms=int(time.time() * 1000),
                schema_json=child_schema,
                partition_cols=snap.partition_cols,
                partition_spec=snap.spec,
                files=list(parent.files) + staged,
                summary=summary,
                properties=dict(parent.properties),
            )
            summary["total_records"] = new.total_records
            try:
                self._publish(new, version, carry=(parent,))
                return new
            except CommitConflict:
                continue  # all checks re-run against the new parent

    def _stage_delete_rows(
        self,
        df: DataFrame,
        content: str,
        equality_cols: list[str] | None = None,
        partition_cols: list[str] | None = None,
        spec: list[PartitionField] | None = None,
    ) -> list[DataFile]:
        """Stage delete-file rows (same protocol as data staging: files
        land at final paths, published only by the metadata swap) and tag
        the manifest entries with their delete content type.

        ``partition_cols``/``spec`` (equality deletes only): stage the
        delete rows PARTITIONED under the table's layout, one delete
        file per touched partition, each manifest entry stamped with its
        tuple — Iceberg's partition-scoped delete files. Exact because
        the same ``derive_partition_columns`` the data path uses maps
        each delete key to the one partition its victims can live in;
        readers then skip non-overlapping data files (:func:`_eq_reaches`).
        Identity partition columns land in the DIRECTORY, not the file
        bytes — consumers reconstruct them from the manifest tuple."""
        entries = self._stage(df, partition_cols or [], spec)
        return [
            _dc_replace(
                e,
                content=content,
                equality_cols=list(equality_cols) if equality_cols else None,
                stats=None,  # delete files carry no prunable table stats
                # delete-file columns are contract names (file_path/pos,
                # the equality key set), never schema-evolved
                columns=None,
            )
            for e in entries
        ]

    def _upsert_mor(
        self,
        snap: Snapshot,
        updates: DataFrame,
        keys: DataFrame,
        key_cols: list[str],
        summary_extra: dict[str, Any] | None = None,
        precondition=None,
    ) -> Snapshot:
        """Merge-on-read upsert body (see :meth:`upsert`): append the
        update rows + one equality-delete file on ``key_cols``, one
        commit, no scan of existing data, no conflict validation (seq
        composition makes racing appends correct by construction).
        ``precondition(parent)`` is re-evaluated against the CURRENT
        parent on every optimistic retry (the streaming sink's replay
        guard rides here, atomic with the metadata swap)."""
        staged_data = self._stage(updates, snap.partition_cols, snap.spec)
        # partition-scope the delete file whenever the key columns cover
        # every spec source: each delete key's victims can only live in
        # its own derived partition, so readers skip the rest. Identity
        # partitioning moves those columns into the directory — at least
        # one key column must remain IN the file bytes (parquet cannot
        # store zero columns), else stage unscoped as before.
        identity_names = {
            g.name for g in snap.spec if g.transform == "identity"
        }
        scoped = (
            bool(snap.partition_cols)
            and all(g.source in keys.columns for g in snap.spec)
            and bool(set(keys.columns) - identity_names)
        )
        staged_del = self._stage_delete_rows(
            keys,
            "equality-deletes",
            equality_cols=key_cols,
            partition_cols=snap.partition_cols if scoped else None,
            spec=snap.spec if scoped else None,
        )
        while True:
            parent = self.snapshot()
            if precondition is not None and not precondition(parent):
                raise PreconditionFailed("upsert")
            if parent.partition_cols != snap.partition_cols or spec_to_json(
                parent.spec
            ) != spec_to_json(snap.spec):
                raise ValueError(
                    "table partitioning changed under a concurrent commit"
                )
            version = parent.version + 1
            child_schema = self._evolve_schema(parent, updates, "upsert")
            staged = self._annotate_ids(
                [_dc_replace(e, seq=version) for e in staged_data],
                child_schema,
                snap.spec,
                conflict=True,
                scan_schema_json=snap.schema_json,
            ) + [_dc_replace(e, seq=version) for e in staged_del]
            summary = self._inherited_summary(parent, summary_extra)
            summary.update(
                {
                    "mode": "merge-on-read",
                    "added_files": len(staged_data),
                    "added_records": sum(e.records for e in staged_data),
                    "equality_delete_files": len(staged_del),
                    "equality_delete_records": sum(
                        e.records for e in staged_del
                    ),
                    "kept_files": len(parent.files),
                }
            )
            new = Snapshot(
                version=version,
                parent=parent.version,
                operation="upsert",
                timestamp_ms=int(time.time() * 1000),
                schema_json=child_schema,
                partition_cols=snap.partition_cols,
                partition_spec=snap.spec,
                files=list(parent.files) + staged,
                summary=summary,
                properties=dict(parent.properties),
            )
            summary["total_records"] = new.total_records
            try:
                self._publish(new, version, carry=(parent,))
                return new
            except CommitConflict:
                continue  # higher version = higher seq; still correct

    # --------------------------------------------------------------- delete
    def delete(
        self, predicate: list[tuple], mode: str | None = None
    ) -> Snapshot | None:
        """Row-level ``DELETE FROM ... WHERE``. ``predicate`` is the same
        conjunctive ``(col, op, value)`` form :meth:`read` accepts.

        ``mode=None`` resolves the table's ``write.delete.mode``
        property (Iceberg's knob), default copy-on-write.

        ``mode="copy-on-write"`` rewrites the touched files.
        Three-stage narrowing, so only files that genuinely hold a
        matching row are rewritten: (1) manifest metrics skip files whose
        footer bounds prove no row can match (no scan at all); (2) one
        delete-applied scan of the survivors finds the files with an
        actual LIVE match; (3) only THOSE files rewrite, keeping rows
        where the predicate is false or NULL (SQL DELETE removes only
        rows where the predicate is TRUE). A file whose every row matches
        is simply dropped from the manifest — no rewrite cost.

        ``mode="merge-on-read"`` rewrites NOTHING: the matching rows'
        (file, row-ordinal) coordinates commit as a POSITION DELETE file
        (Iceberg v2), and readers anti-join it until :meth:`compact`
        materializes. Write cost is O(matches), not O(touched-file
        bytes) — the 100-TB shape for small deletes over huge files
        (GDPR erasure, spot redaction). Only rows live at scan time are
        recorded (existing deletes apply first), so no coordinate is
        ever double-recorded and ``total_records`` stays exact.

        Isolation (both modes): serializable, same rules as
        :meth:`upsert` — every rewritten/referenced source file must
        still be live at promote time, files a concurrent commit added
        since the delete scan are checked for matching rows, and a
        concurrently-added delete file conflicts outright (a match
        raises :class:`CompactionConflict`). Returns the new snapshot,
        or None when nothing matched."""
        snap = self.snapshot()
        pred = _check_predicate(predicate)
        if not pred:
            raise ValueError("delete needs a predicate (use overwrite_all "
                             "to clear the table)")
        if mode is None:  # Iceberg's write.delete.mode table property
            mode = snap.properties.get("write.delete.mode", "copy-on-write")
        if mode not in ("copy-on-write", "merge-on-read"):
            raise ValueError(f"unknown delete mode {mode!r}")
        expr = _pred_expr(pred)
        # stage 1: metrics-based skipping — provably-unmatchable files
        # never reach the scan
        cur_ids, _ = _schema_ids(snap.schema_json)
        dfl = _schema_defaults(snap.schema_json)
        candidates = [
            f
            for f in snap.data_files
            if _file_pred_match(f, pred, cur_ids, dfl)
        ]
        if not candidates:
            return None
        if mode == "merge-on-read":
            return self._delete_mor(snap, candidates, pred, expr)
        # stage 2: which candidate files hold a LIVE row where the
        # predicate is actually TRUE (footer bounds are necessary, not
        # sufficient; already-deleted rows must not trigger a rewrite)
        hits = (
            self._scan(snap, candidates, with_meta=True)
            .filter(expr)
            .groupBy(F.col("_lph_file").alias("f"))
            .count()
            .collect()
        )
        hit_files = {r.f for r in hits}
        deleted = sum(r["count"] for r in hits)  # LIVE matching rows only
        touched = [f for f in candidates if f.path in hit_files]
        if not touched:
            return None
        # stage 3: rewrite only the touched files' survivors. NULL
        # predicate rows SURVIVE (DELETE removes TRUE rows only), hence
        # the coalesce — plain ~expr would also drop the NULLs. The scan
        # applies existing delete files, so already-dead rows do not
        # resurrect in the rewrite.
        survivors = self._scan(snap, touched).filter(
            ~F.coalesce(expr, F.lit(False))
        )
        staged = self._stage(survivors, snap.partition_cols, snap.spec)
        return self._commit_cow_rewrite(
            snap,
            pred,
            expr,
            cur_ids,
            dfl,
            staged,
            {f.path for f in touched},
            "delete",
            {"deleted_records": deleted},
        )

    def update(
        self,
        predicate: list[tuple],
        assignments: dict[str, Any],
        mode: str | None = None,
    ) -> Snapshot | None:
        """Row-level ``UPDATE ... SET col = value WHERE ...``.
        ``predicate`` is the same conjunctive ``(col, op, value)`` form
        :meth:`read` and :meth:`delete` accept; ``assignments`` maps
        column name -> new value (a Python literal, cast to the
        column's type, or a pyspark ``Column`` expression).

        ``mode=None`` resolves the table's ``write.update.mode``
        property (Iceberg's knob), default copy-on-write.

        ``mode="copy-on-write"``: same three-stage narrowing
        as :meth:`delete` — footer metrics skip provably-unmatchable
        files, one delete-applied scan finds the files holding a LIVE
        matching row, and only those files rewrite — matching rows take
        the assigned values (predicate NULL rows keep their old values,
        SQL UPDATE changes TRUE rows only), everything else is carried
        byte-for-byte.

        ``mode="merge-on-read"`` rewrites NOTHING: one commit adds a
        POSITION-DELETE file naming the matched live rows' coordinates
        plus a data file holding those rows with the assignments
        applied — Iceberg's MoR update shape, write cost O(matches)
        instead of O(touched-file bytes), the 100-TB form for small
        updates over huge files. :meth:`compact` materializes later.

        Updating a partition SOURCE column is allowed in both modes:
        the staged rows re-derive the partition layout from the new
        values, so rows move to their correct partition (Iceberg's
        hidden-partitioning contract).

        Isolation: serializable, identical conflict rules to
        :meth:`delete`. Returns the new snapshot, or None when nothing
        matched. Changelog readers see delete+insert pairs via
        :meth:`read_changes`' scoped state diff."""
        snap = self.snapshot()
        pred = _check_predicate(predicate)
        if not pred:
            raise ValueError("update needs a predicate (use overwrite_all "
                             "to rewrite the table)")
        if not assignments:
            raise ValueError("update needs at least one SET assignment")
        if mode is None:  # Iceberg's write.update.mode table property
            mode = snap.properties.get("write.update.mode", "copy-on-write")
        if mode not in ("copy-on-write", "merge-on-read"):
            raise ValueError(f"unknown update mode {mode!r}")
        schema = self._empty_schema(snap)
        names = set(schema.fieldNames())
        for c in assignments:
            if c not in names:
                raise ValueError(
                    f"unknown SET column {c!r}; columns: {sorted(names)}"
                )
        expr = _pred_expr(pred)
        cur_ids, _ = _schema_ids(snap.schema_json)
        dfl = _schema_defaults(snap.schema_json)
        candidates = [
            f
            for f in snap.data_files
            if _file_pred_match(f, pred, cur_ids, dfl)
        ]
        if not candidates:
            return None
        if mode == "merge-on-read":
            return self._update_mor(
                snap, candidates, pred, expr, assignments, schema,
                cur_ids, dfl,
            )
        hits = (
            self._scan(snap, candidates, with_meta=True)
            .filter(expr)
            .groupBy(F.col("_lph_file").alias("f"))
            .count()
            .collect()
        )
        hit_files = {r.f for r in hits}
        updated = sum(r["count"] for r in hits)
        touched = [f for f in candidates if f.path in hit_files]
        if not touched:
            return None
        cond = F.coalesce(expr, F.lit(False))
        rewritten = self._scan(snap, touched).select(
            *_assigned_cols(schema, assignments, cond)
        )
        staged = self._stage(rewritten, snap.partition_cols, snap.spec)
        return self._commit_cow_rewrite(
            snap,
            pred,
            expr,
            cur_ids,
            dfl,
            staged,
            {f.path for f in touched},
            "update",
            {"updated_records": updated},
        )

    def _commit_cow_rewrite(
        self,
        snap: Snapshot,
        pred: list[tuple],
        expr,
        cur_ids: dict[str, int],
        dfl: dict[int, Any],
        staged: list[DataFile],
        replaced: set[str],
        operation: str,
        extra_summary: dict[str, Any],
    ) -> Snapshot:
        """Shared serializable commit loop for the copy-on-write
        row-mutation ops (:meth:`delete`, :meth:`update`): swap the
        ``replaced`` files for ``staged`` rewrites, conflicting when a
        concurrent commit replaced a source file, added a row-level
        delete file, or added rows matching ``pred`` since ``snap``."""
        base_paths = {f.path for f in snap.files}
        while True:
            parent = self.snapshot()
            live = {f.path for f in parent.files}
            if not replaced <= live:
                raise CompactionConflict(
                    f"{len(replaced - live)} {operation} source file(s) "
                    f"were replaced by a concurrent commit; re-run "
                    f"{operation}()"
                )
            if any(
                f.content != "data" and f.path not in base_paths
                for f in parent.files
            ):
                raise CompactionConflict(
                    "a concurrent commit added row-level delete file(s); "
                    f"re-run {operation}()"
                )
            added_since = [
                f
                for f in parent.files
                if f.path not in base_paths and f.content == "data"
            ]
            check = [
                f
                for f in added_since
                if _file_pred_match(f, pred, cur_ids, dfl)
            ]
            if check:
                n_hits = (
                    self._read_files(parent, check)
                    .filter(expr)
                    .limit(1)
                    .count()
                )
                if n_hits:
                    raise CompactionConflict(
                        "a concurrent commit added row(s) matching the "
                        f"{operation} predicate; re-run {operation}()"
                    )
            keep = [f for f in parent.files if f.path not in replaced]
            if any(f.content == "position-deletes" for f in keep):
                drop_del, repl_del = self._prune_pos_deletes(parent, replaced)
                keep = [f for f in keep if f.path not in drop_del]
                keep.extend(repl_del)
            keep = self._drop_dead_eq_deletes(keep)
            version = parent.version + 1
            staged = self._annotate_ids(
                [_dc_replace(e, seq=version) for e in staged],
                parent.schema_json,
                snap.spec,
                conflict=True,
                scan_schema_json=snap.schema_json,
            )
            summary = self._inherited_summary(parent, None)
            summary.update(
                {
                    "rewritten_files": len(replaced),
                    "added_files": len(staged),
                    "kept_files": len(keep),
                }
            )
            summary.update(extra_summary)
            new = Snapshot(
                version=version,
                parent=parent.version,
                operation=operation,
                timestamp_ms=int(time.time() * 1000),
                schema_json=parent.schema_json,
                partition_cols=snap.partition_cols,
                partition_spec=snap.spec,
                files=keep + staged,
                summary=summary,
                properties=dict(parent.properties),
            )
            summary["total_records"] = new.total_records
            try:
                self._publish(new, version, carry=(parent,))
                return new
            except CommitConflict:
                continue  # liveness + added-rows checks re-run vs new parent

    def _update_mor(
        self,
        snap: Snapshot,
        candidates: list[DataFile],
        pred: list[tuple],
        expr,
        assignments: dict[str, Any],
        schema,
        cur_ids: dict[str, int],
        dfl: dict[int, Any],
    ) -> Snapshot | None:
        """Merge-on-read update body (see :meth:`update`): ONE commit
        adds a position-delete file naming the matched live rows plus a
        data file holding those rows with the assignments applied —
        write cost O(matches). Position deletes name (file, pos)
        coordinates explicitly, so they can never reach the new data
        file. Same conflict rules as :meth:`_delete_mor`."""
        matched = self._scan(snap, candidates, with_meta=True).filter(expr)
        pos_rows = matched.select(
            F.col("_lph_file").alias("file_path"),
            F.col("_lph_pos").alias("pos"),
        ).sort("file_path", "pos")
        staged_del = self._stage_delete_rows(pos_rows, "position-deletes")
        n_updated = sum(e.records for e in staged_del)
        if n_updated == 0:
            return None
        updated = matched.select(*_assigned_cols(schema, assignments))
        staged_data = self._stage(updated, snap.partition_cols, snap.spec)
        import pyarrow.parquet as pq

        referenced: set[str] = set()
        for e in staged_del:
            t = pq.read_table(
                os.path.join(self.root, e.path), columns=["file_path"]
            )
            referenced.update(t.column("file_path").to_pylist())
        base_paths = {f.path for f in snap.files}
        while True:
            parent = self.snapshot()
            live_data = {f.path for f in parent.data_files}
            if not referenced <= live_data:
                raise CompactionConflict(
                    f"{len(referenced - live_data)} file(s) this update "
                    "references were rewritten by a concurrent commit; "
                    "re-run update()"
                )
            if any(
                f.content != "data" and f.path not in base_paths
                for f in parent.files
            ):
                raise CompactionConflict(
                    "a concurrent commit added row-level delete file(s); "
                    "re-run update()"
                )
            added_since = [
                f
                for f in parent.files
                if f.path not in base_paths and f.content == "data"
            ]
            check = [
                f
                for f in added_since
                if _file_pred_match(f, pred, cur_ids, dfl)
            ]
            if check:
                n_hits = (
                    self._read_files(parent, check).filter(expr).limit(1).count()
                )
                if n_hits:
                    raise CompactionConflict(
                        "a concurrent commit added row(s) matching the "
                        "update predicate; re-run update()"
                    )
            version = parent.version + 1
            staged_del_v = [_dc_replace(e, seq=version) for e in staged_del]
            staged_data_v = self._annotate_ids(
                [_dc_replace(e, seq=version) for e in staged_data],
                parent.schema_json,
                snap.spec,
                conflict=True,
                scan_schema_json=snap.schema_json,
            )
            summary = self._inherited_summary(parent, None)
            summary.update(
                {
                    "mode": "merge-on-read",
                    "added_files": len(staged_data_v),
                    "position_delete_files": len(staged_del_v),
                    "updated_records": n_updated,
                    "kept_files": len(parent.files),
                }
            )
            new = Snapshot(
                version=version,
                parent=parent.version,
                operation="update",
                timestamp_ms=int(time.time() * 1000),
                schema_json=parent.schema_json,
                partition_cols=parent.partition_cols,
                partition_spec=parent.spec,
                files=list(parent.files) + staged_del_v + staged_data_v,
                summary=summary,
                properties=dict(parent.properties),
            )
            summary["total_records"] = new.total_records
            try:
                self._publish(new, version, carry=(parent,))
                return new
            except CommitConflict:
                continue  # all three checks re-run against the new parent

    def _delete_mor(
        self, snap: Snapshot, candidates: list[DataFile], pred: list[tuple], expr
    ) -> Snapshot | None:
        """Merge-on-read delete body (see :meth:`delete`): record the
        matching LIVE rows' (file, pos) coordinates as a position-delete
        file, sorted by (file_path, pos) within each written file (the
        Iceberg pos-delete ordering contract)."""
        cur_ids, _ = _schema_ids(snap.schema_json)
        dfl = _schema_defaults(snap.schema_json)
        matches = (
            self._scan(snap, candidates, with_meta=True)
            .filter(expr)
            .select(
                F.col("_lph_file").alias("file_path"),
                F.col("_lph_pos").alias("pos"),
            )
            .sort("file_path", "pos")
        )
        staged = self._stage_delete_rows(matches, "position-deletes")
        n_deleted = sum(e.records for e in staged)
        if n_deleted == 0:
            return None
        # which data files the recorded coordinates reference — read back
        # from the staged delete files driver-side (they are manifest-scale
        # metadata); those files must still be live at promote time, or the
        # ordinals are meaningless
        import pyarrow.parquet as pq

        referenced: set[str] = set()
        for e in staged:
            t = pq.read_table(
                os.path.join(self.root, e.path), columns=["file_path"]
            )
            referenced.update(t.column("file_path").to_pylist())
        base_paths = {f.path for f in snap.files}
        while True:
            parent = self.snapshot()
            live_data = {f.path for f in parent.data_files}
            if not referenced <= live_data:
                raise CompactionConflict(
                    f"{len(referenced - live_data)} file(s) this delete "
                    "references were rewritten by a concurrent commit; "
                    "re-run delete()"
                )
            if any(
                f.content != "data" and f.path not in base_paths
                for f in parent.files
            ):
                raise CompactionConflict(
                    "a concurrent commit added row-level delete file(s); "
                    "re-run delete()"
                )
            added_since = [
                f
                for f in parent.files
                if f.path not in base_paths and f.content == "data"
            ]
            check = [
                f
                for f in added_since
                if _file_pred_match(f, pred, cur_ids, dfl)
            ]
            if check:
                n_hits = (
                    self._read_files(parent, check).filter(expr).limit(1).count()
                )
                if n_hits:
                    raise CompactionConflict(
                        "a concurrent commit added row(s) matching the "
                        "delete predicate; re-run delete()"
                    )
            version = parent.version + 1
            staged_v = [_dc_replace(e, seq=version) for e in staged]
            summary = self._inherited_summary(parent, None)
            summary.update(
                {
                    "mode": "merge-on-read",
                    "added_files": 0,
                    "position_delete_files": len(staged_v),
                    "deleted_records": n_deleted,
                    "kept_files": len(parent.files),
                }
            )
            new = Snapshot(
                version=version,
                parent=parent.version,
                operation="delete",
                timestamp_ms=int(time.time() * 1000),
                schema_json=parent.schema_json,
                partition_cols=parent.partition_cols,
                partition_spec=parent.spec,
                files=list(parent.files) + staged_v,
                summary=summary,
                properties=dict(parent.properties),
            )
            summary["total_records"] = new.total_records
            try:
                self._publish(new, version, carry=(parent,))
                return new
            except CommitConflict:
                continue  # all three checks re-run against the new parent

    # -------------------------------------------------------------- compact
    def compact(
        self,
        target_file_bytes: int | None = None,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
    ) -> Snapshot | None:
        """Bin-pack small files (Iceberg's rewrite_data_files, shim-scale):
        every partition holding MORE files than ``ceil(total_bytes /
        target)`` is rewritten into ~that many files; already-compact
        partitions are left byte-identical. Returns the new snapshot, or
        None when nothing needed rewriting.

        The small-files problem is the 100-TB motivation: per-bucket
        commits land one file per (task, partition) per run, and a
        long-lived table accretes thousands of KB-scale files per
        partition that crush the scan planner. Compaction is a pure
        rewrite — row content provably unchanged (pinned by test) — and
        commits with its OWN conflict rule: the commit verifies every
        file being replaced is still live in the parent snapshot, and
        raises :class:`CompactionConflict` (rather than retrying) when a
        concurrent writer replaced one — blindly re-landing the staged
        rewrite would resurrect overwritten data.

        Row-level delete files (merge-on-read) are MATERIALIZED here:
        every data file an existing delete file applies to joins the
        rewrite set (position deletes: the referenced files; equality
        deletes: every file with a strictly smaller seq), the rewrite
        scan applies the deletes, and the commit drops delete files that
        no longer apply to anything — compact() is the shim's
        ``rewrite_data_files`` + ``rewrite_position_delete_files`` in
        one maintenance op. A delete file committed CONCURRENTLY with
        the compaction conflicts (the rewrite scan never saw it;
        re-landing would resurrect its rows).

        ``sort_by`` — Iceberg's SORT rewrite strategy: EVERY data file is
        rewritten, range-partitioned then sorted within tasks on the
        given source columns, so each output file covers a narrow,
        near-disjoint slice of the sort key. That is what makes the
        footer min/max file skipping (:meth:`plan_files` ``predicate``)
        actually bite on a non-partition column: after a hash-salted
        bin-pack every file spans the whole value range and metrics
        skipping prunes nothing; after a sorted rewrite a point or range
        predicate on the sort key touches only the files whose slice
        overlaps it. The file-count target is table-global in this mode
        (``ceil(total_bytes / target)`` tasks via repartitionByRange —
        Spark's range partitioner samples the keys, so task boundaries
        track the data distribution and skew splits across tasks).

        ``zorder_by`` — Iceberg's ZORDER rewrite strategy for MULTIPLE
        independent filter columns: a lexicographic sort makes skipping
        perfect on the first key and useless on the rest, while the
        Z-curve interleaves the bits of every key's normalized rank, so
        each output file covers a small hyper-rectangle of the value
        space and a predicate on ANY of the columns skips most files.
        Ranks are 16-bit linear scalings between the column's global min
        and max (one cheap agg over the rewrite scan, JVM-side bit
        interleave — no UDF). Numeric, date, timestamp, and string
        columns (strings rank by their first-6-utf8-byte prefix — see
        :func:`_zvalue_column`); nulls rank lowest. Mutually exclusive
        with ``sort_by``.

        Task sizing is budgeted separately from file sizing: each rewrite
        task's COMPRESSED input is capped at the
        ``compaction.task-input-bytes`` property — by default DERIVED
        from the runtime memory model (0.6*heap/slots * 0.5 /
        ``compaction.expansion-factor``, default 6x decompression), so a
        large ``target_file_bytes`` can never hand one task a working set
        that spills in the partition writer's sort — when the cap binds,
        a partition simply compacts into more, smaller files (still >=
        the bin-pack win; compaction must never be the op that thrashes
        the cluster). The rewrite trigger uses the same effective count,
        so re-running compact() on its own output is a no-op, not a
        rewrite loop."""
        import math

        if target_file_bytes is None:
            target_file_bytes = int(
                self._prop("write.target-file-size-bytes", 128 << 20)
            )
        if sort_by is None and zorder_by is None:
            # table-level sort order (Iceberg's sort-order metadata, set
            # via ALTER TABLE ... WRITE ORDERED BY [ZORDER]): explicit
            # args win, then the property, then unsorted bin-pack
            order = str(self._prop("write.sort.order", "")).strip()
            if order:
                m_z = _re.fullmatch(r"(?i)zorder\s*\((?P<c>[^)]+)\)", order)
                cols = [
                    c.strip()
                    for c in (m_z.group("c") if m_z else order).split(",")
                    if c.strip()
                ]
                # the property names CURRENT schema columns (it is not
                # rewritten by RENAME/DROP COLUMN); after
                # such DDL — or a raw SET TBLPROPERTIES typo — it may name
                # columns the schema no longer has. The property is
                # ADVISORY (unlike Iceberg's id-based sort-order metadata,
                # which survives renames), so a stale value degrades to
                # bin-pack with a warning instead of making every
                # compact()/maintain() raise until the property is fixed.
                cur_cols = {
                    f["name"]
                    for f in json.loads(self.snapshot().schema_json)["fields"]
                }
                missing = [c for c in cols if c not in cur_cols]
                if missing:
                    import warnings

                    warnings.warn(
                        f"write.sort.order={order!r} names column(s) "
                        f"{missing} absent from the current schema "
                        "(renamed or dropped?) — falling back to bin-pack "
                        "compaction; update the property via ALTER TABLE "
                        "... WRITE ORDERED BY",
                        stacklevel=2,
                    )
                elif m_z:
                    zorder_by = cols
                else:
                    sort_by = cols
        # max compressed input bytes one rewrite task may hold: the spill
        # guard for maintenance at capacity scale. The spiller is the
        # dynamic-partition writer's sort, which buffers the task's WHOLE
        # working set decompressed (~5-6x parquet bytes for text-heavy
        # data — measured 5.4x at the 100M-turn capacity run), so the
        # default budget is derived from the memory actually available
        # per task slot rather than a flat constant: with H bytes of
        # heap and C concurrent tasks, unified execution memory is
        # ~0.6*H and a task can safely sort ~half its slot's share —
        # budget = 0.6*H/C * 0.5 / expansion. A flat default either
        # spills on big boxes' data (256 MB compressed ~= 1.4 GB sorted)
        # or wastes file size on small ones; deriving it makes compact()
        # spill-free by construction at ANY heap/core ratio, at the cost
        # of more, smaller files when memory per slot is tight — the
        # documented trade (compaction must never thrash the cluster).
        task_budget = self._prop("compaction.task-input-bytes", None)
        if task_budget is None:
            expansion = float(
                self._prop("compaction.expansion-factor", 6.0)
            )
            try:
                heap = int(
                    self.spark.sparkContext._jvm.java.lang.Runtime
                    .getRuntime().maxMemory()
                )
                slots = max(1, self.spark.sparkContext.defaultParallelism)
                task_budget = max(
                    16 << 20, int(0.6 * heap / slots * 0.5 / expansion)
                )
            except Exception:
                task_budget = 64 << 20  # conservative static fallback
        task_budget = max(1, int(task_budget))

        def _n_tasks(total_bytes: int, want: int | None = None) -> int:
            if want is None:
                want = max(1, math.ceil(total_bytes / target_file_bytes))
            return max(want, math.ceil(total_bytes / task_budget))
        if sort_by and zorder_by:
            raise ValueError("pass sort_by OR zorder_by, not both")
        if zorder_by is not None and len(zorder_by) < 2:
            raise ValueError("zorder_by needs >= 2 columns (use sort_by "
                             "for a single key)")
        snap = self.snapshot()
        if sort_by or zorder_by:
            schema_cols = {f["name"] for f in json.loads(snap.schema_json)["fields"]}
            missing = [c for c in (sort_by or zorder_by) if c not in schema_cols]
            if missing:
                raise ValueError(
                    f"sort/zorder column(s) {missing} not in table schema"
                )
        # data files an existing delete file applies to — they must
        # rewrite (with deletes applied) so the delete files can retire
        affected: set[str] = set()
        if snap.delete_files:
            import pyarrow.parquet as pq

            for f in snap.delete_files:
                if f.content == "position-deletes":
                    t = pq.read_table(
                        os.path.join(self.root, f.path), columns=["file_path"]
                    )
                    affected.update(t.column("file_path").to_pylist())
                else:  # equality-deletes: reachable data files only
                    # (strictly older seq; partition-scoped deletes skip
                    # other partitions — a direct rewrite-set cut)
                    affected.update(
                        d.path
                        for d in snap.data_files
                        if _eq_reaches(f, d)
                    )
        # spec evolution: a file whose partition tuple does not match the
        # CURRENT spec's field names was written under a previous layout —
        # compact() is the migration path, so it always rewrites
        spec_names = {f.name for f in snap.spec}
        affected.update(
            f.path for f in snap.data_files if set(f.partition) != spec_names
        )
        # schema evolution: legacy files with no physical-column manifest
        # are readable by name only — rewrite them (the rewrite stages
        # under the current schema, fully annotated), which is what the
        # DDL guards' "compact() first" migration points at
        affected.update(
            f.path for f in snap.data_files if f.columns is None
        )
        by_part: dict[tuple, list[DataFile]] = {}
        for f in snap.data_files:
            by_part.setdefault(tuple(sorted(f.partition.items())), []).append(f)
        rewrite: list[DataFile] = []
        wants: dict[tuple, int] = {}
        if sort_by or zorder_by:
            rewrite = list(snap.data_files)
            by_part = {}  # sort/zorder mode: table-global task allocation
        for part, fs in by_part.items():
            part_bytes = sum(f.bytes for f in fs)
            by_target = max(1, math.ceil(part_bytes / target_file_bytes))
            want = _n_tasks(part_bytes, by_target)
            # rewrite trigger. When the task budget binds (want >
            # by_target) the post-rewrite count is byte-derived and a
            # compression delta shifts it slightly, so require a
            # MATERIAL win (>= max(2, want/8) fewer files) — otherwise
            # every maintenance pass would re-rewrite the whole
            # partition to save one file. Unbudgeted partitions keep
            # the exact count trigger (re-runs are no-ops either way).
            gain = len(fs) - want
            trigger = (
                gain > 0
                if want == by_target
                else gain >= max(2, want // 8)
            )
            if trigger:
                rw = fs  # bin-pack the whole partition
            else:
                rw = [f for f in fs if f.path in affected]
                if not rw:
                    continue
                want = _n_tasks(sum(f.bytes for f in rw))
            rewrite.extend(rw)
            wants[part] = want
        if not rewrite:
            if snap.delete_files:
                # delete files that apply to nothing (e.g. an equality
                # delete older than every live data file): metadata-only
                # retirement commit
                return self._retire_dead_deletes(snap)
            return None
        # guard=False: compaction IS the remedy the union-depth warning
        # points at — warning here would tell the fixer to run the fix.
        # _scan applies the snapshot's delete files: the rewritten files
        # hold only live rows (delete materialization).
        df = self._scan(snap, rewrite, guard=False)
        pcols = snap.partition_cols
        # hidden partitioning: the scan exposes only SOURCE columns;
        # re-derive the partition value columns so the wants join and the
        # salted repartition below can key on them (identity fields are
        # already present; _stage recomputes the same values at write)
        df = derive_partition_columns(df, snap.spec)
        if sort_by or zorder_by:
            n_tasks = _n_tasks(sum(f.bytes for f in rewrite))
            if zorder_by:
                df = df.withColumn("_lph_z", _zvalue_column(df, zorder_by))
                keys = pcols + ["_lph_z"]
            else:
                keys = pcols + [c for c in sort_by if c not in pcols]
            df = df.repartitionByRange(
                n_tasks, *[F.col(c) for c in keys]
            ).sortWithinPartitions(*[F.col(c) for c in keys])
            if zorder_by:
                # the projection preserves per-partition row order; the
                # helper key never reaches the data files
                df = df.drop("_lph_z")
            staged = self._stage(df, pcols, snap.spec)
            return self._commit_compaction(snap, rewrite, staged, pcols)
        if any(set(f.partition) != spec_names for f in rewrite):
            # spec-evolution migration: old-layout rows re-derive their
            # partition values under the CURRENT spec, so the
            # per-old-partition wants table below cannot key them —
            # allocate table-globally over the rewrite set instead
            # (range partitioner samples the new keys, skew splits)
            n_tasks = _n_tasks(sum(f.bytes for f in rewrite))
            if pcols:
                df = df.repartitionByRange(n_tasks, *[F.col(c) for c in pcols])
            else:
                df = df.repartition(n_tasks)
            staged = self._stage(df, pcols, snap.spec, concurrent_writers=16)
            return self._commit_compaction(snap, rewrite, staged, pcols)
        n_tasks = sum(wants.values())
        if pcols:
            # salt the repartition so one oversized partition still splits
            # into its ``want`` files; everything for one (partition, salt)
            # lands in one task -> per-partition file count <= want. The
            # wants table joins back on the TYPED partition columns
            # (manifest strings cast under the stored schema — the same
            # parse the read path applies to dir names) with a null-safe
            # condition so a __HIVE_DEFAULT_PARTITION__ (null) partition
            # keeps its rows.
            want_rows = [
                tuple(
                    None if dict(part)[c] == "__HIVE_DEFAULT_PARTITION__"
                    else dict(part)[c]
                    for c in pcols
                )
                + (w,)
                for part, w in wants.items()
            ]
            raw_schema = ", ".join(f"{c} string" for c in pcols) + ", _want int"
            wants_df = self.spark.createDataFrame(want_rows, raw_schema)
            # cast the wants keys to the partition columns' types as they
            # exist on the (derived) scan df — for identity fields that is
            # the stored-schema type, for transform fields the derived
            # expression's type (string date buckets, long hash buckets)
            types = {c: df.schema[c].dataType for c in pcols}
            for c in pcols:
                wants_df = wants_df.withColumn(c, F.col(c).cast(types[c]))
            data_cols = [c for c in df.columns if c not in pcols]
            cond = None
            for c in pcols:
                eq = df[c].eqNullSafe(wants_df[c])
                cond = eq if cond is None else (cond & eq)
            df = (
                df.join(F.broadcast(wants_df), cond)
                .drop(*[wants_df[c] for c in pcols])
                .withColumn(
                    "_salt",
                    # pmod is already non-negative for any long input; an
                    # abs() here would be the one term able to overflow
                    # (abs(Long.MIN_VALUE)) under ANSI mode
                    F.pmod(
                        F.xxhash64(*[F.col(c) for c in data_cols]),
                        F.col("_want"),
                    ),
                )
                .repartition(n_tasks, *pcols, "_salt")
                .drop("_want", "_salt")
            )
        else:
            df = df.repartition(n_tasks)
        # tasks are clustered to ~one (partition, salt) group each, so
        # the write streams through concurrent writers instead of
        # sort-buffering the task's whole decompressed working set
        staged = self._stage(df, pcols, snap.spec, concurrent_writers=16)
        return self._commit_compaction(snap, rewrite, staged, pcols)

    def _commit_compaction(
        self,
        snap: Snapshot,
        rewrite: list[DataFile],
        staged: list[DataFile],
        pcols: list[str],
    ) -> Snapshot:
        """Optimistic commit of a compaction rewrite, shared by the
        bin-pack and sorted strategies: verifies every replaced file is
        still live and no unseen delete file landed, retires delete
        files the rewrite materialized, and raises
        :class:`CompactionConflict` instead of silently re-landing."""
        replaced = {f.path for f in rewrite}
        base_del_paths = {f.path for f in snap.delete_files}
        while True:
            parent = self.snapshot()
            live = {f.path for f in parent.files}
            if not replaced <= live:
                raise CompactionConflict(
                    f"{len(replaced - live)} source file(s) were replaced "
                    "by a concurrent commit; re-run compact()"
                )
            if any(
                f.content != "data" and f.path not in base_del_paths
                for f in parent.files
            ):
                raise CompactionConflict(
                    "a concurrent commit added row-level delete file(s) "
                    "the rewrite scan never saw; re-run compact()"
                )
            keep = [f for f in parent.files if f.path not in replaced]
            if any(f.content == "position-deletes" for f in keep):
                drop_del, repl_del = self._prune_pos_deletes(parent, replaced)
                keep = [f for f in keep if f.path not in drop_del]
                keep.extend(repl_del)
            keep = self._drop_dead_eq_deletes(keep)
            version = parent.version + 1
            staged = self._annotate_ids(
                [_dc_replace(e, seq=version) for e in staged],
                parent.schema_json,
                snap.spec,
                conflict=True,
                scan_schema_json=snap.schema_json,
            )
            summary = self._inherited_summary(parent, None)
            summary.update(
                {
                    "rewritten_files": len(replaced),
                    "added_files": len(staged),
                    "kept_files": len(keep),
                    "added_records": sum(e.records for e in staged),
                    "retired_delete_files": len(parent.files)
                    - len(keep)
                    - len(replaced),
                }
            )
            new = Snapshot(
                version=version,
                parent=parent.version,
                operation="compact",
                timestamp_ms=int(time.time() * 1000),
                schema_json=parent.schema_json,
                partition_cols=pcols,
                partition_spec=snap.spec,
                files=keep + staged,
                summary=summary,
                properties=dict(parent.properties),
            )
            summary["total_records"] = new.total_records
            try:
                self._publish(new, version, carry=(parent,))
                return new
            except CommitConflict:
                continue  # re-read the new parent; the liveness check re-runs

    def _retire_dead_deletes(self, snap: Snapshot) -> Snapshot | None:
        """Metadata-only commit dropping delete files that apply to no
        live data file (equality deletes older than every data file;
        empty position-delete files). No data moves."""
        while True:
            parent = self.snapshot()
            keep = self._drop_dead_eq_deletes(list(parent.files))
            keep = [
                f
                for f in keep
                if not (f.content == "position-deletes" and f.records == 0)
            ]
            if len(keep) == len(parent.files):
                return None
            version = parent.version + 1
            summary = self._inherited_summary(parent, None)
            summary.update(
                {
                    "rewritten_files": 0,
                    "added_files": 0,
                    "kept_files": len(keep),
                    "retired_delete_files": len(parent.files) - len(keep),
                }
            )
            new = Snapshot(
                version=version,
                parent=parent.version,
                operation="compact",
                timestamp_ms=int(time.time() * 1000),
                schema_json=parent.schema_json,
                partition_cols=parent.partition_cols,
                partition_spec=parent.spec,
                files=keep,
                summary=summary,
                properties=dict(parent.properties),
            )
            summary["total_records"] = new.total_records
            try:
                self._publish(new, version, carry=(parent,))
                return new
            except CommitConflict:
                continue

    # ------------------------------------------------------------ housekeep
    def _main_view(self) -> "HadoopTable":
        """This table's MAIN-chain view (self when not a branch view)."""
        if self.branch_name is None:
            return self
        return HadoopTable(
            self.spark,
            self.location,
            stats_columns=self.stats_columns,
            max_union_roots=self.max_union_roots,
        )

    def _live_files(self) -> set[str]:
        """Every file path referenced by ANY retained snapshot on ANY
        chain — main plus every branch. Branches share the table's data
        directory by reference, so orphan liveness is a table-wide
        concern: a file exclusive to a branch manifest is just as live
        as one on main (Iceberg's remove_orphan_files walks all
        reachable snapshots for the same reason)."""
        return self._live_state()[0]

    def _live_state(self) -> tuple[set[str], set[str]]:
        """(live data-file paths, live manifest paths) across every
        retained snapshot on every chain — one walk serves both the
        data-file GC and the manifest GC (a manifest referenced only by
        expired metadata versions is debris exactly like a dead data
        file)."""
        main = self._main_view()
        views = [main] + [main.branch(b) for b in main.branches()]
        files: set[str] = set()
        manifests: set[str] = set()
        for t in views:
            for v in t.versions():
                s = t.snapshot(v)
                files.update(f.path for f in s.files)
                manifests.update(p for p, _mf in (s.manifests or []))
        return files, manifests

    def cleanup_orphans(
        self, older_than_sec: float | None = None
    ) -> list[str]:
        """Remove data files not referenced by ANY retained snapshot on
        any chain (branches included — see :meth:`_live_files`) — the
        debris of commits that died before their metadata swap.

        ``older_than_sec`` is the in-flight-writer grace period: a LIVE
        commit's staged files are also unreferenced until its atomic
        metadata swap, so reclaiming by liveness alone would race a
        concurrent writer (delete its staged data, then its commit
        publishes a manifest of missing files — the same reason Iceberg's
        remove_orphan_files defaults to a 3-day retention). The default
        is 24h: it must comfortably exceed any plausible staging
        duration — a large bucket's staging write on a busy cluster can
        easily outlive one hour, and reclaiming under a still-running
        writer is exactly the race the grace period exists to prevent.
        Only files whose mtime is older than the grace period are
        deleted; pass 0 when the caller KNOWS no writer is in flight
        (tests, maintenance windows).

        Sidecars: Spark staging also leaves ``_SUCCESS`` markers and
        ``.<name>.crc`` checksums. Ones belonging to LIVE files are kept
        (a ``_SUCCESS`` whose staging root still hosts live files; a
        ``.crc`` whose owner parquet is live); every other non-referenced
        file is reclaimed like real Iceberg's remove_orphan_files — so a
        crashed commit's whole ``data/<uuid>/`` tree actually empties and
        the rmdir sweep can remove it."""
        import time as _time

        if older_than_sec is None:
            older_than_sec = float(self._prop("orphan.grace-sec", 86400.0))
        cutoff = _time.time() - older_than_sec
        live, live_manifests = self._live_state()
        # staging roots (data/<uuid>) that still host live files: their
        # _SUCCESS markers stay
        live_roots = {"/".join(p.split("/")[:2]) for p in live}
        removed = []

        def _old(path: str) -> bool:
            try:
                return os.path.getmtime(path) <= cutoff
            except OSError:
                return False  # vanished concurrently: someone else's problem

        # stale temp metadata (a writer died between its tmp write and the
        # atomic link): invisible to readers, reclaimed here
        if os.path.isdir(self._meta_dir):
            for name in os.listdir(self._meta_dir):
                p = os.path.join(self._meta_dir, name)
                if (name.startswith(".tmp-") or name.startswith(".hint-")) and _old(p):
                    os.unlink(p)
                    removed.append(os.path.join("metadata", name))
        # manifest GC: manifests not referenced by any retained snapshot
        # on any chain (a dead commit attempt's delta, or the sole
        # references expired) are reclaimed under the same grace period
        # — a just-written delta whose metadata promote is still in
        # flight must survive, exactly like staged data files
        man_dir = os.path.join(self._main_meta_dir, "manifests")
        if os.path.isdir(man_dir):
            for name in os.listdir(man_dir):
                rel = os.path.join("metadata", "manifests", name)
                p = os.path.join(man_dir, name)
                if rel not in live_manifests and _old(p):
                    os.unlink(p)
                    removed.append(rel)
        data_dir = os.path.join(self.root, "data")
        if not os.path.isdir(data_dir):
            return removed
        for dirpath, _dirs, names in os.walk(data_dir, topdown=False):
            for name in names:
                abs_p = os.path.join(dirpath, name)
                rel_p = os.path.relpath(abs_p, self.root)
                if rel_p in live:
                    continue
                rel_dir = os.path.dirname(rel_p)
                if name == "_SUCCESS" and rel_dir in live_roots:
                    continue  # marker of a commit whose data is still live
                if name.startswith(".") and name.endswith(".crc"):
                    owner = os.path.join(rel_dir, name[1:-len(".crc")])
                    if owner in live:
                        continue  # checksum sidecar of a live file
                if _old(abs_p):
                    os.unlink(abs_p)
                    removed.append(rel_p)
            if not os.listdir(dirpath):
                os.rmdir(dirpath)
        return removed

    def expire_snapshots(
        self,
        keep_last: int | None = None,
        cleanup_older_than_sec: float | None = None,
        older_than_ms: int | None = None,
    ) -> list[int]:
        """Drop old snapshots, then reclaim files only they referenced.
        Retention composes like Iceberg's ``expireSnapshots``: the newest
        ``keep_last`` snapshots are always kept, ``older_than_ms`` (when
        given) additionally keeps every snapshot committed AT or after
        that timestamp (so only strictly-older ones expire — the
        time-travel window SLAs are written in), and snapshots pinned by
        a tag (:meth:`create_tag`) are ALWAYS retained regardless — the
        Iceberg ref-retention rule that makes tags durable audit/repro
        pins — until the tag is dropped. Expiry is metadata-first
        (unlink the version files, THEN collect garbage) so a crash
        mid-expiry can strand files but never break a retained snapshot.
        The cleanup keeps :meth:`cleanup_orphans`' in-flight-writer
        grace period — freshly-expired files younger than it are
        reclaimed by the next cleanup instead."""
        if keep_last is None:
            keep_last = int(self._prop("history.keep-last", 1))
        vs = self.versions()
        drop = vs[:-keep_last] if keep_last > 0 else vs
        if older_than_ms is not None:
            drop = [
                v
                for v in drop
                if self.snapshot(v).timestamp_ms < older_than_ms
            ]
        if self.branch_name is None:
            pinned = {
                int(r["version"])
                for r in self.refs().values()
                if r.get("type") == "tag"
            }
            drop = [v for v in drop if v not in pinned]
        for v in drop:
            os.unlink(self._meta_path(v))
        self.cleanup_orphans(older_than_sec=cleanup_older_than_sec)
        return drop

    def rewrite_delete_files(self, min_count: int = 2) -> Snapshot | None:
        """Consolidate the snapshot's row-level delete files into ONE
        position-delete file WITHOUT rewriting any data (Iceberg's
        ``rewrite_position_delete_files`` — the minor compaction a
        CDC-fed table needs between full :meth:`compact` passes): every
        streaming upsert/CDC micro-batch accretes one equality-delete
        file, and each one costs readers an eqNullSafe anti-join, so a
        1000-batch table pays 1000 join sides per scan. This op scans
        just the data files the delete files can still REACH, resolves
        the currently-dead rows to explicit (file, pos) coordinates,
        and swaps every delete file for one consolidated position-delete
        file — after which every scan pays a single coordinate
        anti-join. Exact by immutability: data files never change, so
        "dead now" is "dead forever"; rows appended later carry higher
        sequence numbers the replaced equality deletes never reached
        anyway. Dangling entries (coordinates of data files a rewrite
        already removed) drop out in the same pass.

        Data-preserving: live rows are untouched, so the changelog
        treats it like compact/rewrite-manifests (zero row-level
        changes) and incremental append scans pass over it (it adds no
        data files). No-op below ``min_count`` delete files. Conflicts
        (serializable): any concurrent commit that removed a data file
        or touched the delete-file set since the scan aborts — plain
        appends compose fine and merely retry the CAS.

        Reference parity note: reference N/A — its only persistence is
        whole-file JSON overwrite (utils/json_utils.py:21-27)."""
        snap = self.snapshot()
        dels = snap.delete_files
        if len(dels) < max(1, min_count):
            return None
        pos = [f for f in dels if f.content == "position-deletes"]
        targets: set[str] = set()
        if pos:
            rd = self.spark.read.schema(
                "file_path string, pos bigint"
            ).parquet(*[os.path.join(self.root, f.path) for f in pos])
            targets = {
                r["file_path"]
                for r in rd.select("file_path").distinct().collect()
            }
        eqs = [f for f in dels if f.content == "equality-deletes"]
        affected = [
            f
            for f in snap.data_files
            if f.path in targets or any(_eq_reaches(d, f) for d in eqs)
        ]
        staged_del: list[DataFile] = []
        if affected:
            # column-pruned scan: the liveness computation only needs the
            # coordinates plus the equality-delete KEY columns — at 100-TB
            # scale the difference between "read the key columns of the
            # affected files" and "read their full rows" is the whole cost
            # of this op
            key_cols = sorted(
                {c for d in eqs for c in (d.equality_cols or [])}
            )
            slim = self._read_files(snap, affected, with_meta=True).select(
                "_lph_file", "_lph_pos", *key_cols
            )
            # both exceptAll sides derive from this scan — persist it so
            # the affected files (and the delete anti-joins) read once,
            # not twice; spills to disk if the key columns outgrow memory
            from pyspark import StorageLevel

            slim = slim.persist(StorageLevel.MEMORY_AND_DISK)
            try:
                live = self._apply_deletes(snap, slim, affected)
                dead = (
                    slim.select(
                        F.col("_lph_file").alias("file_path"),
                        F.col("_lph_pos").alias("pos"),
                    )
                    .exceptAll(
                        live.select(
                            F.col("_lph_file").alias("file_path"),
                            F.col("_lph_pos").alias("pos"),
                        )
                    )
                    .sort("file_path", "pos")
                )
                staged_del = [
                    e
                    for e in self._stage_delete_rows(dead, "position-deletes")
                    if e.records
                ]
            finally:
                slim.unpersist()
        replaced = {f.path for f in dels}
        base_data = {f.path for f in snap.data_files}
        n_dead = sum(e.records for e in staged_del)
        while True:
            parent = self.snapshot()
            if {f.path for f in parent.delete_files} != replaced:
                raise CompactionConflict(
                    "the delete-file set changed under a concurrent "
                    "commit; re-run rewrite_delete_files()"
                )
            if not base_data <= {p.path for p in parent.data_files}:
                raise CompactionConflict(
                    "a concurrent commit removed data file(s) this "
                    "rewrite scanned; re-run rewrite_delete_files()"
                )
            version = parent.version + 1
            keep = [f for f in parent.files if f.path not in replaced]
            staged = [_dc_replace(e, seq=version) for e in staged_del]
            summary = self._inherited_summary(parent, None)
            summary.update(
                {
                    "rewritten_delete_files": len(dels),
                    "position_delete_files": len(staged),
                    "dead_records": n_dead,
                    "kept_files": len(keep),
                    "added_files": 0,
                }
            )
            new = Snapshot(
                version=version,
                parent=parent.version,
                operation="rewrite-deletes",
                timestamp_ms=int(time.time() * 1000),
                schema_json=parent.schema_json,
                partition_cols=parent.partition_cols,
                partition_spec=parent.spec,
                files=keep + staged,
                summary=summary,
                properties=dict(parent.properties),
            )
            summary["total_records"] = new.total_records
            try:
                self._publish(new, version, carry=(parent,))
                return new
            except CommitConflict:
                continue  # both checks re-run against the new parent

    def rewrite_manifests(self, min_count: int | None = None) -> Snapshot | None:
        """Consolidate the snapshot's manifest list into ONE manifest
        (Iceberg's ``rewrite_manifests``): a metadata-only commit — file
        set, schema, spec, and properties all unchanged, zero data
        movement. The delta-manifest commit model writes one manifest
        per commit, so a long-lived table accretes O(commits) manifest
        files and snapshot loads pay one JSON read each; this op
        amortizes them back to one. No-op (returns None) below
        ``min_count`` manifests (default: the
        ``commit.manifest.min-count-to-merge`` property, 16) or on
        legacy inline-files metadata. Serializable via the normal CAS —
        losing a race re-composes against the new parent; the replaced
        manifests stay referenced by OLDER snapshot versions until
        expiry, then the orphan GC reclaims them."""
        while True:
            parent = self.snapshot()
            threshold = (
                min_count
                if min_count is not None
                else int(self._prop("commit.manifest.min-count-to-merge", 16))
            )
            if not parent.manifests or len(parent.manifests) < max(2, threshold):
                return None
            version = parent.version + 1
            summary = self._inherited_summary(parent, None)
            summary.update(
                {
                    "rewritten_manifests": len(parent.manifests),
                    "kept_files": len(parent.files),
                    "added_files": 0,
                }
            )
            new = Snapshot(
                version=version,
                parent=parent.version,
                operation="rewrite-manifests",
                timestamp_ms=int(time.time() * 1000),
                schema_json=parent.schema_json,
                partition_cols=parent.partition_cols,
                partition_spec=parent.spec,
                files=list(parent.files),
                summary=summary,
                properties=dict(parent.properties),
            )
            summary["total_records"] = new.total_records
            try:
                # carry NOTHING: _publish then writes the entire file set
                # as one fresh manifest — the consolidation
                self._publish(new, version, carry=())
                return new
            except CommitConflict:
                continue  # re-compose against the new parent

    def maintain(
        self,
        target_file_bytes: int | None = None,
        keep_last: int | None = None,
        older_than_ms: int | None = None,
        orphan_grace_sec: float | None = None,
    ) -> dict[str, Any]:
        """One maintenance pass — the operational cadence loop a
        long-lived table needs, in dependency order:

        1. :meth:`compact` — bin-pack small files, materialize + retire
           row-level delete files, migrate old-layout / legacy files
           (the union-depth guard in ``_read_files`` points here);
        2. :meth:`expire_snapshots` — retention-window snapshot expiry
           (tags always survive), which also runs the orphan cleanup
           under the in-flight-writer grace period.

        Returns a summary dict. Raises :class:`CompactionConflict` when
        a concurrent writer raced the compaction — re-run the pass (the
        expiry half is unconditionally safe, so nothing is half-done in
        a way a re-run cannot finish). Cadence guidance at 100 TB: run
        roughly every ``max_union_roots`` commits per table; each half
        is snapshot-atomic, so maintenance never blocks readers or
        writers beyond the optimistic-commit conflict rules."""
        if keep_last is None:
            keep_last = int(self._prop("history.keep-last", 3))
        out: dict[str, Any] = {}
        snap = self.compact(target_file_bytes=target_file_bytes)
        out["compacted_version"] = snap.version if snap is not None else None
        rm = self.rewrite_manifests()
        out["rewrote_manifests_version"] = rm.version if rm is not None else None
        out["expired_versions"] = self.expire_snapshots(
            keep_last=keep_last,
            cleanup_older_than_sec=orphan_grace_sec,
            older_than_ms=older_than_ms,
        )
        return out


def last_streaming_batch(table: HadoopTable) -> int | None:
    """Newest ``streaming_batch_id`` recorded in any snapshot summary,
    scanning newest-first (replayed batches land nothing, so the newest
    stamped snapshot carries the high-water mark)."""
    for v in reversed(table.versions()):
        b = table.snapshot(v).summary.get("streaming_batch_id")
        if b is not None:
            return int(b)
    return None


def _batch_guard(table: HadoopTable, batch_id: int):
    """Replay-guard commit precondition for streaming table sinks: the
    batch may land only while its id is above the table's stamped
    high-water mark (which carries forward through every commit)."""

    def not_yet_committed(parent: Snapshot | None) -> bool:
        if parent is None:
            return True
        last = parent.summary.get("streaming_batch_id")
        if last is None:
            # legacy chain without carry-forward: fall back to a scan
            last = last_streaming_batch(table)
        return last is None or int(batch_id) > int(last)

    return not_yet_committed


def table_batch_sink(table_loc: str, partition_cols: list[str] | None = None):
    """Exactly-once Structured Streaming sink into a snapshot table — the
    Iceberg streaming-write protocol the directory sink's docstring
    points at (streaming/sink.py): ``foreachBatch`` is at-least-once, so
    each micro-batch commit stamps its ``batch_id`` into the snapshot
    summary, and a replayed (batch_id <= high-water-mark) batch is a
    no-op. The guard is a commit PRECONDITION evaluated inside the
    optimistic retry loop, atomic with the metadata swap — two
    concurrent deliveries of the same batch (zombie driver + restarted
    driver, the canonical at-least-once race) cannot both land: the
    loser's retry sees the winner's stamped snapshot as its new parent
    and bails. The high-water mark carries forward through every
    subsequent commit (compact/upsert/expiry included), so snapshot
    maintenance can never reopen the replay window."""

    def write(df: DataFrame, batch_id: int) -> None:
        t = HadoopTable(df.sparkSession, table_loc)
        not_yet_committed = _batch_guard(t, batch_id)

        # cheap pre-check: the common replay (sequential redelivery after
        # restart) returns before staging any data. Correctness does NOT
        # rest on it — the precondition below re-checks atomically with
        # the metadata swap; a racer that slips past here only strands
        # staged orphans for cleanup_orphans.
        if t.exists() and not not_yet_committed(t.snapshot()):
            return
        pcols, spec = t._resolve_pcols(partition_cols)
        try:
            t._commit(
                t._stage(df, pcols, spec),
                df,
                "append",
                pcols,
                summary_extra={"streaming_batch_id": int(batch_id)},
                precondition=not_yet_committed,
                spec=spec,
            )
        except PreconditionFailed:
            return  # replay after failure: this batch is already committed

    return write


def table_upsert_sink(
    table_loc: str,
    key_cols: list[str],
    partition_cols: list[str] | None = None,
):
    """Exactly-once Structured Streaming UPSERT sink — the Flink/Iceberg
    CDC write shape on top of the merge-on-read machinery: each
    micro-batch lands as new data files plus one equality-delete file on
    ``key_cols`` (``upsert(mode="merge-on-read")``), so the table always
    reads as "latest row per key" with O(batch) write cost regardless of
    table size. Use ``foreachBatch(table_upsert_sink(...))``.

    Exactly-once: identical replay protocol to :func:`table_batch_sink` —
    the batch id stamps the snapshot summary, the replay guard is a
    commit PRECONDITION inside the optimistic retry loop (atomic with
    the metadata swap; two concurrent deliveries of one batch cannot
    both land), and the high-water mark carries forward through
    compact/expiry so maintenance never reopens the replay window.

    Batch contract: one row per key per micro-batch (the MERGE
    multiple-matches rule — raise, don't guess which duplicate wins);
    dedupe upstream with ``dropDuplicates`` against an ordering column
    if the source can emit several changes per key per batch. The first
    batch creates the table with ``partition_cols``. Run
    :meth:`HadoopTable.compact` on a maintenance cadence to materialize
    the accreted delete files back into plain data files."""

    def write(df: DataFrame, batch_id: int) -> None:
        t = HadoopTable(df.sparkSession, table_loc)
        not_yet_committed = _batch_guard(t, batch_id)
        if not t.exists():
            # first batch: plain append-create (nothing older to delete);
            # the precondition still guards a concurrent first delivery.
            # Enforce the same one-row-per-key contract the upsert path
            # checks, so a dup in batch 0 fails loudly too.
            dup = (
                df.groupBy(*key_cols)
                .count()
                .filter(F.col("count") > 1)
                .limit(1)
                .count()
            )
            if dup:
                raise ValueError(
                    "updates contain duplicate keys — MERGE requires one "
                    "update row per key (dedupe upstream)"
                )
            pcols, spec = t._resolve_pcols(list(partition_cols or []))
            try:
                t._commit(
                    t._stage(df, pcols, spec),
                    df,
                    "append",
                    pcols,
                    summary_extra={"streaming_batch_id": int(batch_id)},
                    precondition=not_yet_committed,
                    spec=spec,
                )
            except PreconditionFailed:
                pass
            return
        if not not_yet_committed(t.snapshot()):
            return  # cheap pre-check; the precondition is the guarantee
        try:
            t.upsert(
                df,
                key_cols,
                mode="merge-on-read",
                summary_extra={"streaming_batch_id": int(batch_id)},
                precondition=not_yet_committed,
            )
        except PreconditionFailed:
            return  # replay after failure: this batch is already committed

    return write


def table_cdc_sink(
    table_loc: str,
    key_cols: list[str],
    op_col: str = "op",
    partition_cols: list[str] | None = None,
    upsert_ops: tuple[str, ...] = ("I", "U"),
    delete_ops: tuple[str, ...] = ("D",),
):
    """Exactly-once Structured Streaming CDC sink: a change stream whose
    rows carry an ``op_col`` marker (``I``/``U`` insert-or-update,
    ``D`` delete — debezium-style) applies to the snapshot table as ONE
    merge-on-read commit per micro-batch: an equality-delete file on
    ALL changed keys (a ``D`` key's old row simply dies; an ``I``/``U``
    key's old row dies and its new row lands in the same commit's data
    files, which the strictly-smaller-seq rule protects), so the table
    always reads as "current row per key, deletes applied" with
    O(batch) write cost — the full Flink-CDC / Iceberg upsert-with-
    deletes shape that :func:`table_upsert_sink` covers only the
    I/U half of. Use ``foreachBatch(table_cdc_sink(...))``.

    Exactly-once: same replay protocol as :func:`table_batch_sink`
    (batch id stamped in the snapshot summary, the guard a commit
    PRECONDITION atomic with the metadata swap). Batch contract: one
    change per key per micro-batch (the MERGE multiple-matches rule) —
    collapse to the LAST change per key upstream when the source can
    emit several. Unknown op values raise rather than guess. Deleting
    a key the table never held is a no-op, per CDC convention. Run
    :meth:`HadoopTable.compact` on a maintenance cadence to
    materialize the accreted delete files.

    Reference parity note: the reference app has no streaming or CDC
    surface at all (state is whole-file JSON overwrite,
    utils/json_utils.py:21-27); this sink is part of the Spark-first
    replacement surface."""
    ops_all = tuple(upsert_ops) + tuple(delete_ops)

    def write(df: DataFrame, batch_id: int) -> None:
        if op_col not in df.columns:
            raise ValueError(f"CDC batch lacks the op column {op_col!r}")
        for k in key_cols:
            if k == op_col:
                raise ValueError("op_col cannot be a key column")
        t = HadoopTable(df.sparkSession, table_loc)
        not_yet_committed = _batch_guard(t, batch_id)
        # one validation job: op domain + the one-change-per-key rule
        vstats = (
            df.groupBy(*key_cols)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.max(
                    # NULL op must count as bad: isin yields NULL there
                    # (and max ignores nulls), so a NULL-op row would
                    # otherwise slip through as an implicit delete
                    (
                        ~F.coalesce(
                            F.col(op_col).isin(*ops_all), F.lit(False)
                        )
                    ).cast("int")
                ).alias("bad"),
            )
            .agg(F.max("n").alias("max_dup"), F.max("bad").alias("any_bad"))
            .first()
        )
        if vstats["max_dup"] is None:
            return  # empty delivery: nothing to commit
        if vstats["any_bad"]:
            raise ValueError(
                f"CDC batch contains op values outside {sorted(ops_all)}"
            )
        if (vstats["max_dup"] or 0) > 1:
            raise ValueError(
                "CDC batch contains several changes for one key — collapse "
                "to the last change per key upstream"
            )
        iu = df.filter(F.col(op_col).isin(*upsert_ops)).drop(op_col)
        if not t.exists():
            # first batch creates the table from its I/U rows (deletes
            # of never-held keys are no-ops); the precondition still
            # guards a concurrent first delivery
            pcols, spec = t._resolve_pcols(list(partition_cols or []))
            try:
                t._commit(
                    t._stage(iu, pcols, spec),
                    iu,
                    "append",
                    pcols,
                    summary_extra={"streaming_batch_id": int(batch_id)},
                    precondition=not_yet_committed,
                    spec=spec,
                )
            except PreconditionFailed:
                pass
            return
        if not not_yet_committed(t.snapshot()):
            return  # cheap pre-check; the precondition is the guarantee
        keys = df.select(*key_cols).dropDuplicates(key_cols)
        try:
            t._upsert_mor(
                t.snapshot(),
                iu,
                keys,
                list(key_cols),
                summary_extra={"streaming_batch_id": int(batch_id)},
                precondition=not_yet_committed,
            )
        except PreconditionFailed:
            return  # replay after failure: this batch is already committed

    return write
