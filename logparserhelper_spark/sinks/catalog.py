"""Filesystem catalog for snapshot tables — the HadoopCatalog analogue.

Everything so far addresses tables by PATH. Real lakehouse users address
them by NAME through a catalog (``analytics.events``), and the public
Apache Iceberg spec ships exactly one catalog that needs nothing but a
filesystem: HadoopCatalog — a warehouse directory whose subdirectories
are namespaces and whose table directories are recognized by their
``metadata/`` chain. :class:`HadoopCatalog` implements that model over
:class:`~logparserhelper_spark.sinks.hadoop_table.HadoopTable`:

- **Namespaces** are nested directories (``a.b.c`` -> ``a/b/c``). Every
  identifier part must match ``[A-Za-z_][A-Za-z0-9_]*`` — validated at
  parse time, so an identifier can never traverse outside the warehouse.
- **Tables** are directories holding ``metadata/v*.metadata.json`` (the
  snapshot-table layout, unchanged — a table created by path and one
  created through the catalog are the same thing, and
  :meth:`load_table` returns a plain :class:`HadoopTable`).
- **Views** (the Iceberg view spec, simplified) are directories holding
  versioned ``metadata/view-v*.json`` documents: SQL text + the view's
  default namespace + the captured schema. ``CREATE OR REPLACE`` adds a
  version; old versions stay readable (:meth:`view_versions`).
- **rename_table** is supported HERE although Iceberg's HadoopCatalog
  refuses it: this shim stores every manifest/data/delete path RELATIVE
  to the table root (see ``DataFile.path``), so a same-filesystem
  ``os.rename`` of the directory is atomic AND leaves every snapshot
  readable. The divergence is deliberate and documented.

Name resolution for SQL (:meth:`read_view`, :func:`resolve_sql`, and the
``SELECT`` path of :func:`~logparserhelper_spark.sinks.table_sql.table_sql`)
is textual but STRICT: only identifiers that actually resolve in the
catalog are substituted (longest dotted prefix wins, so ``ns.t.col``
resolves ``ns.t`` and keeps ``.col``), string literals and backquoted
identifiers are masked first, and an unresolvable name is left for Spark
to bind (temp views, CTEs). Time travel uses the same anchored suffixes
as the pipeline source: ``ns.t@v3`` / ``ns.t@ref:audit`` /
``ns.t@ts:<epoch-ms|iso>`` (``TIMESTAMP AS OF``).

Reference parity note: the reference app (MaksimBrezho/logparserhelper)
has no multi-dataset management at all — its one persistence unit is a
whole-file JSON overwrite (utils/json_utils.py:21-27). The catalog is
part of the Spark-first table surface a 100-TB deployment needs: table
discovery, namespacing, and name-addressed SQL without a metastore.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import time
import uuid
from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession

from .hadoop_table import HadoopTable, NoSuchTable, _local_path

_PART_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


class NoSuchNamespace(Exception):
    pass


class NamespaceNotEmpty(Exception):
    pass


class TableAlreadyExists(Exception):
    pass


class NoSuchView(Exception):
    pass


def split_ident(ident: "str | Iterable[str]") -> tuple[str, ...]:
    """Validated identifier parts. Accepts ``"a.b.c"`` or a sequence.
    Raises on empty/invalid parts — the validation IS the path-escape
    guard (no part can be ``..``, contain ``/``, or start with a dot)."""
    parts = (
        tuple(ident.split("."))
        if isinstance(ident, str)
        else tuple(str(p) for p in ident)
    )
    if not parts or not all(_PART_RE.match(p) for p in parts):
        raise ValueError(
            f"invalid identifier {ident!r}: dot-separated "
            "[A-Za-z_][A-Za-z0-9_]* parts"
        )
    return parts


def ident_location(warehouse: str, ident: "str | Iterable[str]") -> str:
    """Warehouse-relative location for an identifier (pure path mapping;
    used by the ``catalog:`` transcript source, which resolves names
    without constructing a catalog)."""
    return os.path.join(_local_path(warehouse), *split_ident(ident))


def create_table_at(
    spark: SparkSession,
    location: str,
    schema=None,
    partition_by: list[str] | None = None,
    properties: dict[str, Any] | None = None,
    data: DataFrame | None = None,
) -> HadoopTable:
    """Create a table at a path: empty with ``schema`` (Spark DDL string
    or StructType), or CTAS-style from ``data``. Atomic against a racing
    creator — the first commit carries a parent-is-None precondition, so
    exactly one creator wins and the loser gets
    :class:`TableAlreadyExists`, never a silent append-merge."""
    from .hadoop_table import PreconditionFailed

    if (schema is None) == (data is None):
        raise ValueError("pass exactly one of schema/data")
    t = HadoopTable(spark, location)
    if t.exists():
        raise TableAlreadyExists(location)
    df = data if data is not None else spark.createDataFrame([], schema)
    pcols, spec = t._resolve_pcols(partition_by)
    try:
        t._commit(
            t._stage(df, pcols, spec) if data is not None else [],
            df,
            "append",
            pcols,
            precondition=lambda parent: parent is None,
            spec=spec,
            summary_extra={"created-by": "catalog"},
        )
    except PreconditionFailed:
        raise TableAlreadyExists(location)
    if properties:
        t.set_properties(properties)
    return t


class HadoopCatalog:
    """Name-addressed tables, namespaces, and views under one warehouse
    directory. All state IS the directory tree — two processes pointing
    at the same warehouse see the same catalog with no coordination
    beyond the table layer's own atomic commits."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = _local_path(warehouse)
        os.makedirs(self.warehouse, exist_ok=True)

    # ------------------------------------------------------------- paths
    def _path(self, parts: tuple[str, ...]) -> str:
        return os.path.join(self.warehouse, *parts)

    def location(self, ident: "str | Iterable[str]") -> str:
        """The filesystem location an identifier maps to (whether or not
        anything exists there yet)."""
        return self._path(split_ident(ident))

    @staticmethod
    def _is_table_dir(path: str) -> bool:
        md = os.path.join(path, "metadata")
        if not os.path.isdir(md):
            return False
        for name in os.listdir(md):
            if name.startswith("v") and name.endswith(".metadata.json"):
                return True
        return False

    @staticmethod
    def _is_view_dir(path: str) -> bool:
        md = os.path.join(path, "metadata")
        if not os.path.isdir(md):
            return False
        for name in os.listdir(md):
            if name.startswith("view-v") and name.endswith(".json"):
                return True
        return False

    # -------------------------------------------------------- namespaces
    def create_namespace(self, ident: "str | Iterable[str]") -> None:
        parts = split_ident(ident)
        path = self._path(parts)
        if os.path.isdir(path):
            raise ValueError(f"namespace {'.'.join(parts)} already exists")
        os.makedirs(path)

    def namespace_exists(self, ident: "str | Iterable[str]") -> bool:
        path = self._path(split_ident(ident))
        return (
            os.path.isdir(path)
            and not self._is_table_dir(path)
            and not self._is_view_dir(path)
        )

    def drop_namespace(self, ident: "str | Iterable[str]") -> None:
        parts = split_ident(ident)
        path = self._path(parts)
        if not self.namespace_exists(parts):
            raise NoSuchNamespace(".".join(parts))
        if os.listdir(path):
            raise NamespaceNotEmpty(
                f"namespace {'.'.join(parts)} is not empty"
            )
        os.rmdir(path)

    def list_namespaces(
        self, parent: "str | Iterable[str]" = ()
    ) -> list[tuple[str, ...]]:
        pparts = split_ident(parent) if parent else ()
        base = self._path(pparts) if pparts else self.warehouse
        if not os.path.isdir(base) or (
            pparts and not self.namespace_exists(pparts)
        ):
            raise NoSuchNamespace(".".join(pparts) or "<root>")
        out = []
        for name in sorted(os.listdir(base)):
            p = os.path.join(base, name)
            if (
                _PART_RE.match(name)
                and os.path.isdir(p)
                and not self._is_table_dir(p)
                and not self._is_view_dir(p)
            ):
                out.append(pparts + (name,))
        return out

    def _list_kind(
        self, namespace: "str | Iterable[str]", want_view: bool
    ) -> list[str]:
        pparts = split_ident(namespace) if namespace else ()
        base = self._path(pparts) if pparts else self.warehouse
        if pparts and not self.namespace_exists(pparts):
            raise NoSuchNamespace(".".join(pparts))
        out = []
        for name in sorted(os.listdir(base)):
            p = os.path.join(base, name)
            if not _PART_RE.match(name) or not os.path.isdir(p):
                continue
            if (self._is_view_dir(p) if want_view else self._is_table_dir(p)):
                out.append(name)
        return out

    # ------------------------------------------------------------ tables
    def list_tables(self, namespace: "str | Iterable[str]" = ()) -> list[str]:
        return self._list_kind(namespace, want_view=False)

    def table_exists(self, ident: "str | Iterable[str]") -> bool:
        return self._is_table_dir(self._path(split_ident(ident)))

    def load_table(self, ident: "str | Iterable[str]", **kw) -> HadoopTable:
        parts = split_ident(ident)
        path = self._path(parts)
        if not self._is_table_dir(path):
            raise NoSuchTable(".".join(parts))
        return HadoopTable(self.spark, path, **kw)

    def create_table(
        self,
        ident: "str | Iterable[str]",
        schema=None,
        partition_by: list[str] | None = None,
        properties: dict[str, Any] | None = None,
        data: DataFrame | None = None,
    ) -> HadoopTable:
        """Create a table: EMPTY with ``schema`` (Spark DDL string or
        StructType) or CTAS-style from ``data``; optional partition spec
        (identity names or hidden transforms — ``["days(ts)",
        "bucket(8, user)"]``). Atomic against a racing creator via a
        parent-is-None commit precondition (see
        :func:`create_table_at`)."""
        parts = split_ident(ident)
        if len(parts) > 1 and not self.namespace_exists(parts[:-1]):
            raise NoSuchNamespace(".".join(parts[:-1]))
        path = self._path(parts)
        if self._is_view_dir(path):
            raise TableAlreadyExists(".".join(parts))
        return create_table_at(
            self.spark,
            path,
            schema,
            partition_by=partition_by,
            properties=properties,
            data=data,
        )

    def drop_table(
        self, ident: "str | Iterable[str]", purge: bool = False
    ) -> None:
        """Remove a table. The directory IS the table (path-identity
        catalog), so dropping deletes data — require ``purge=True`` to
        make that explicit; without it this refuses, never half-drops."""
        parts = split_ident(ident)
        path = self._path(parts)
        if not self._is_table_dir(path):
            raise NoSuchTable(".".join(parts))
        if not purge:
            raise ValueError(
                "drop_table deletes the table directory (data included) "
                "in a filesystem catalog; pass purge=True to confirm"
            )
        shutil.rmtree(path)

    def rename_table(
        self, src: "str | Iterable[str]", dst: "str | Iterable[str]"
    ) -> None:
        """Atomic same-filesystem move (``os.rename``). Safe because the
        table layer stores ONLY relative paths in manifests and delete
        files; snapshots, branches, and tags all travel with the
        directory. (Iceberg's HadoopCatalog refuses rename because its
        metadata embeds absolute paths — this shim's doesn't.)"""
        sparts, dparts = split_ident(src), split_ident(dst)
        spath, dpath = self._path(sparts), self._path(dparts)
        if not self._is_table_dir(spath):
            raise NoSuchTable(".".join(sparts))
        if len(dparts) > 1 and not self.namespace_exists(dparts[:-1]):
            raise NoSuchNamespace(".".join(dparts[:-1]))
        if os.path.exists(dpath):
            raise TableAlreadyExists(".".join(dparts))
        os.rename(spath, dpath)

    # ------------------------------------------------------------- views
    def _view_meta_dir(self, parts: tuple[str, ...]) -> str:
        return os.path.join(self._path(parts), "metadata")

    def view_exists(self, ident: "str | Iterable[str]") -> bool:
        return self._is_view_dir(self._path(split_ident(ident)))

    def view_versions(self, ident: "str | Iterable[str]") -> list[int]:
        parts = split_ident(ident)
        md = self._view_meta_dir(parts)
        if not self._is_view_dir(self._path(parts)):
            raise NoSuchView(".".join(parts))
        out = []
        for name in os.listdir(md):
            m = re.fullmatch(r"view-v(\d+)\.json", name)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def load_view(
        self, ident: "str | Iterable[str]", version: int | None = None
    ) -> dict[str, Any]:
        parts = split_ident(ident)
        vs = self.view_versions(parts)
        v = vs[-1] if version is None else version
        if v not in vs:
            raise NoSuchView(f"{'.'.join(parts)}@view-v{v}")
        with open(
            os.path.join(self._view_meta_dir(parts), f"view-v{v}.json")
        ) as f:
            return json.load(f)

    def create_view(
        self,
        ident: "str | Iterable[str]",
        sql: str,
        replace: bool = False,
    ) -> dict[str, Any]:
        """Store a versioned SQL view. The SQL is resolved NOW (tables
        it names must exist) — creation validates, and the captured
        schema is stored for inspection. ``replace=True`` adds a new
        version; the promote is an atomic ``os.link`` fail-if-exists, so
        two racing replacers serialize and neither clobbers the other."""
        parts = split_ident(ident)
        if len(parts) > 1 and not self.namespace_exists(parts[:-1]):
            raise NoSuchNamespace(".".join(parts[:-1]))
        path = self._path(parts)
        if self._is_table_dir(path):
            raise TableAlreadyExists(f"{'.'.join(parts)} is a table")
        exists = self._is_view_dir(path)
        if exists and not replace:
            raise TableAlreadyExists(f"view {'.'.join(parts)} exists")
        default_ns = parts[:-1]
        df = self._run_sql(sql, default_ns, _seen=frozenset({parts}))
        doc = {
            "view_version": (self.view_versions(parts)[-1] + 1) if exists else 1,
            "sql": sql,
            "default_namespace": list(default_ns),
            "schema_json": df.schema.json(),
            "timestamp_ms": int(time.time() * 1000),
        }
        md = self._view_meta_dir(parts)
        os.makedirs(md, exist_ok=True)
        while True:
            tmp = os.path.join(md, f".view-{uuid.uuid4().hex}.tmp")
            with open(tmp, "w") as f:
                json.dump(doc, f)
            final = os.path.join(md, f"view-v{doc['view_version']}.json")
            try:
                os.link(tmp, final)  # atomic fail-if-exists promote
                os.unlink(tmp)
                return doc
            except FileExistsError:
                os.unlink(tmp)
                if not replace:
                    raise TableAlreadyExists(f"view {'.'.join(parts)} exists")
                doc["view_version"] += 1  # racer landed; take the next slot

    def drop_view(self, ident: "str | Iterable[str]") -> None:
        parts = split_ident(ident)
        path = self._path(parts)
        if not self._is_view_dir(path):
            raise NoSuchView(".".join(parts))
        shutil.rmtree(path)

    def list_views(self, namespace: "str | Iterable[str]" = ()) -> list[str]:
        return self._list_kind(namespace, want_view=True)

    def read_view(
        self, ident: "str | Iterable[str]", version: int | None = None
    ) -> DataFrame:
        parts = split_ident(ident)
        doc = self.load_view(parts, version)
        return self._run_sql(
            doc["sql"],
            tuple(doc["default_namespace"]),
            _seen=frozenset({parts}),
        )

    # --------------------------------------------------- SQL resolution
    def _run_sql(
        self,
        sql: str,
        default_ns: tuple[str, ...] = (),
        _seen: frozenset = frozenset(),
    ) -> DataFrame:
        return self.spark.sql(self.resolve_sql(sql, default_ns, _seen))

    def _bind(
        self,
        parts: tuple[str, ...],
        version: int | None,
        ref: str | None,
        _seen: frozenset,
        at_ms: str | None = None,
    ) -> str:
        """Register (once per distinct target) a temp view over the
        table snapshot / view and return its name."""
        key = hashlib.sha1(
            json.dumps(
                [self.warehouse, list(parts), version, ref, at_ms]
            ).encode()
        ).hexdigest()[:16]
        name = f"lph_cat_{key}"
        path = self._path(parts)
        if self._is_table_dir(path):
            df = HadoopTable(self.spark, path).read(
                version=version, ref=ref, at_ms=at_ms
            )
        else:  # view (caller checked one of the two)
            if parts in _seen:
                raise ValueError(
                    f"view cycle through {'.'.join(parts)}"
                )
            if version is not None or ref is not None or at_ms is not None:
                raise ValueError(
                    "time-travel suffixes apply to tables, not views"
                )
            doc = self.load_view(parts)
            df = self._run_sql(
                doc["sql"],
                tuple(doc["default_namespace"]),
                _seen=_seen | {parts},
            )
        df.createOrReplaceTempView(name)
        return name

    def resolve_sql(
        self,
        sql: str,
        default_ns: "str | Iterable[str]" = (),
        _seen: frozenset = frozenset(),
    ) -> str:
        """Rewrite catalog identifiers in ``sql`` to registered temp
        views so plain ``spark.sql`` can run it. Strict and conservative:

        - string literals and backquoted identifiers are masked first;
        - dotted identifiers resolve by LONGEST known prefix (so
          ``ns.t.col`` binds the table ``ns.t`` and keeps ``.col``);
        - a single-part name directly after FROM/JOIN resolves against
          ``default_ns`` (the Iceberg view rule) when it exists there;
        - anything unresolvable is left untouched for Spark to bind
          (CTEs, temp views, functions);
        - anchored ``@v<N>`` / ``@ref:<name>`` suffixes time-travel a
          TABLE reference exactly like the pipeline's ``table:`` source.
        """
        dns = split_ident(default_ns) if default_ns else ()

        masked: list[str] = []

        def _mask(m: re.Match) -> str:
            masked.append(m.group(0))
            return f"\x00{len(masked) - 1}\x00"

        body = re.sub(r"'(?:[^']|'')*'|`[^`]*`", _mask, sql)

        def _try(parts: tuple[str, ...], v, r, ts=None) -> str | None:
            p = self._path(parts)
            if self._is_table_dir(p) or self._is_view_dir(p):
                return self._bind(parts, v, r, _seen, at_ms=ts)
            return None

        def _sub_dotted(m: re.Match) -> str:
            tok = m.group("ident")
            v = int(m.group("v")) if m.group("v") else None
            r = m.group("ref")
            ts = m.group("ts")
            parts = tuple(tok.split("."))
            try:
                split_ident(parts)
            except ValueError:
                return m.group(0)
            for cut in range(len(parts), 1, -1):
                # time travel belongs to the FULL token only
                tv, tr, tt = (v, r, ts) if cut == len(parts) else (None,) * 3
                name = _try(parts[:cut], tv, tr, tt)
                if name is not None:
                    rest = "".join("." + p for p in parts[cut:])
                    if rest and (v is not None or r is not None or ts is not None):
                        return m.group(0)  # suffix on a column ref: leave
                    return name + rest
            return m.group(0)

        body = re.sub(
            r"(?<![\w.\x00])(?P<ident>[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)+)"
            r"(?:@v(?P<v>\d+)|@ref:(?P<ref>[A-Za-z0-9._-]+)|@ts:(?P<ts>[0-9TZ:.+-]+))?(?![\w.(])",
            _sub_dotted,
            body,
        )

        # CTE names shadow catalog names (SQL scoping): collect them so
        # a bare FROM/JOIN reference to one is never catalog-bound
        cte_names = {
            m.group(1).lower()
            for m in re.finditer(
                r"(?i)(?:\bWITH|,)\s*([A-Za-z_]\w*)\s+AS\s*\(", body
            )
        }

        def _sub_bare(m: re.Match) -> str:
            tok = m.group("ident")
            if tok.startswith("lph_cat_") or tok.lower() in cte_names:
                return m.group(0)
            v = int(m.group("v")) if m.group("v") else None
            r = m.group("ref")
            # dns + (tok,) with an empty dns IS the warehouse-root lookup
            name = _try(dns + (tok,), v, r, m.group("ts"))
            if name is None:
                return m.group(0)
            return m.group("kw") + name

        body = re.sub(
            r"(?P<kw>\b(?:FROM|JOIN)\s+)(?P<ident>[A-Za-z_]\w*)"
            r"(?:@v(?P<v>\d+)|@ref:(?P<ref>[A-Za-z0-9._-]+)|@ts:(?P<ts>[0-9TZ:.+-]+))?(?![\w.(])",
            _sub_bare,
            body,
            flags=re.IGNORECASE,
        )

        return re.sub(
            r"\x00(\d+)\x00", lambda m: masked[int(m.group(1))], body
        )

    # ------------------------------------------------------- maintenance
    def maintain_all(
        self, namespace: "str | Iterable[str]" = (), **kw
    ) -> dict[str, dict[str, Any]]:
        """One :meth:`HadoopTable.maintain` pass over EVERY table under
        ``namespace`` (recursively; default = the whole warehouse) — the
        fleet cadence job: compact, expire, GC, each table under its own
        properties. A table whose maintenance raises records the error
        and the sweep continues (one wedged table must not starve the
        fleet); kwargs pass through to ``maintain``."""
        pparts = split_ident(namespace) if namespace else ()
        out: dict[str, dict[str, Any]] = {}

        def sweep(parts: tuple[str, ...]) -> None:
            base = self._path(parts) if parts else self.warehouse
            for name in sorted(os.listdir(base)):
                if not _PART_RE.match(name):
                    continue
                p = os.path.join(base, name)
                if not os.path.isdir(p):
                    continue
                child = parts + (name,)
                if self._is_table_dir(p):
                    ident = ".".join(child)
                    try:
                        out[ident] = HadoopTable(self.spark, p).maintain(**kw)
                    except Exception as e:  # noqa: BLE001 — recorded, not lost
                        out[ident] = {"error": f"{type(e).__name__}: {e}"}
                elif not self._is_view_dir(p):
                    sweep(child)

        if pparts and not self.namespace_exists(pparts):
            raise NoSuchNamespace(".".join(pparts))
        sweep(pparts)
        return out

    def sql(self, statement: str) -> Any:
        """Catalog-bound statement entry point: DDL/DML through
        :func:`~logparserhelper_spark.sinks.table_sql.table_sql` with
        this catalog for identifier addressing; SELECT resolved here."""
        from .table_sql import table_sql

        return table_sql(self.spark, statement, catalog=self)
