"""SQL frontend for snapshot-table DDL, DML, and maintenance.

Spark's own SQL parser only reaches catalog tables, and this sandbox has
no Iceberg catalog — so the statements an Iceberg user types every day
(``ALTER TABLE``, ``DELETE FROM``, ``CALL system.rewrite_data_files``)
need a path-addressed frontend to be usable against the snapshot-table
shim. :func:`table_sql` maps a practical subset of that surface onto the
:class:`~logparserhelper_spark.sinks.hadoop_table.HadoopTable` API — one
statement, one atomic commit, same semantics as calling the method:

    table_sql(spark, "ALTER TABLE '/data/t' RENAME COLUMN v TO value")
    table_sql(spark, "ALTER TABLE '/data/t' ADD COLUMN lang string DEFAULT 'en'")
    table_sql(spark, "ALTER TABLE '/data/t' ALTER COLUMN v TYPE bigint")
    table_sql(spark, "ALTER TABLE '/data/t' DROP COLUMN tmp")
    table_sql(spark, "ALTER TABLE '/data/t' SET TBLPROPERTIES ('history.keep-last'='3')")
    table_sql(spark, "ALTER TABLE '/data/t' UNSET TBLPROPERTIES ('owner')")
    table_sql(spark, "ALTER TABLE '/data/t' WRITE ORDERED BY ts, user_id")
    table_sql(spark, "ALTER TABLE '/data/t' WRITE ORDERED BY ZORDER(a, b)")
    table_sql(spark, "ALTER TABLE '/data/t' WRITE UNORDERED")
    table_sql(spark, "ALTER TABLE '/data/t' CREATE TAG audit_v3 AS OF VERSION 3")
    table_sql(spark, "ALTER TABLE '/data/t' CREATE BRANCH wap")
    table_sql(spark, "CALL fast_forward('/data/t', name => 'wap')")
    table_sql(spark, "ALTER TABLE '/data/t' DROP BRANCH wap")
    table_sql(spark, "DELETE FROM '/data/t' WHERE k = 3 AND v IS NOT NULL")
    table_sql(spark, "DELETE FROM '/data/t' WHERE k IN (3, 5, 8)")
    table_sql(spark, "UPDATE '/data/t' SET v = 'x', n = 0 WHERE k IN (1, 2)")
    table_sql(spark, '''
        MERGE INTO '/data/t' t USING updates_view s ON t.k = s.k
        WHEN MATCHED AND s.op = 'del' THEN DELETE
        WHEN MATCHED THEN UPDATE SET v = s.v, n = t.n + 1
        WHEN NOT MATCHED THEN INSERT *
        WHEN NOT MATCHED BY SOURCE THEN DELETE
    ''')
    table_sql(spark, "DESCRIBE '/data/t' [AS OF VERSION 3]")
    table_sql(spark, "SHOW TBLPROPERTIES '/data/t'")
    table_sql(spark, "CALL compact('/data/t')")
    table_sql(spark, "CALL expire_snapshots('/data/t', keep_last => 2)")
    table_sql(spark, "CALL maintain('/data/t')")
    table_sql(spark, "VACUUM '/data/t'")

With ``catalog=HadoopCatalog(spark, warehouse)`` every ``'<loc>'``
position above ALSO accepts a dotted identifier (``analytics.events``),
and the catalog statement family becomes available:

    table_sql(spark, "CREATE NAMESPACE analytics", catalog=cat)
    table_sql(spark, "SHOW NAMESPACES | TABLES IN ns | VIEWS IN ns", catalog=cat)
    table_sql(spark, "CREATE TABLE ns.t (k bigint, v string) "
                     "PARTITIONED BY (bucket(8, k)) "
                     "TBLPROPERTIES ('owner'='me')", catalog=cat)
    table_sql(spark, "CREATE TABLE ns.t2 AS SELECT ... FROM ns.t", catalog=cat)
    table_sql(spark, "INSERT INTO ns.t VALUES (1, 'x')", catalog=cat)
    table_sql(spark, "ALTER TABLE ns.t RENAME TO ns.t3", catalog=cat)
    table_sql(spark, "DROP TABLE ns.t3 PURGE", catalog=cat)
    table_sql(spark, "CREATE [OR REPLACE] VIEW ns.v AS SELECT ...", catalog=cat)
    table_sql(spark, "SELECT ... FROM ns.t@v3 ...", catalog=cat)  # time travel

The grammar is deliberately small and STRICT: anything outside it raises
``ValueError`` with the supported shapes, never a silent partial parse.
``DELETE``/``UPDATE`` predicates are the same conjunctive ``col op
literal`` / ``col IN (lit, ...)`` / ``col IS [NOT] NULL`` terms the
table's ``read``/``delete``/``update`` accept — exactly what manifests
can plan. ``UPDATE`` maps onto :meth:`HadoopTable.update` (copy-on-write
row rewrite, serializable). Path-addressed SELECT is not routed here:
``HadoopTable(spark, path).read()`` already gives full Spark SQL over
a table read; catalog-bound SELECT resolves names/time-travel via
:meth:`HadoopCatalog.resolve_sql` and runs plain ``spark.sql``.

Reference parity note: the reference app (MaksimBrezho/logparserhelper)
persists state by whole-file JSON overwrite (utils/json_utils.py:21-27);
this module is part of the Spark-first table surface replacing it.
"""

from __future__ import annotations

import os
import re
import shutil
from typing import Any

from .catalog import create_table_at
from .hadoop_table import HadoopTable, NoSuchTable, _local_path

_IDENT = r"[A-Za-z_][A-Za-z0-9_]*"
# a statement target: quoted path OR (catalog-resolved) dotted identifier
_LOC = (
    r"(?:'(?P<loc>[^']+)'"
    r"|(?P<tid>[A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)*))"
)
# column types accepted by ALTER ADD/ALTER COLUMN — Spark DDL strings,
# possibly parameterized (decimal(10,2), array<float>)
_TYPE = r"(?P<type>[A-Za-z_][A-Za-z0-9_]*(?:\s*[<(][^)>]*[)>])?)"


def _literal(tok: str) -> Any:
    """Parse one SQL literal: 'string', integer, float, TRUE/FALSE, NULL."""
    t = tok.strip()
    if re.fullmatch(r"'(?:[^']|'')*'", t):
        return t[1:-1].replace("''", "'")
    low = t.lower()
    if low == "null":
        return None
    if low in ("true", "false"):
        return low == "true"
    if re.fullmatch(r"[+-]?\d+", t):
        return int(t)
    if re.fullmatch(r"[+-]?\d*\.\d+(?:[eE][+-]?\d+)?", t):
        return float(t)
    raise ValueError(f"unsupported literal {tok!r}")


def _parse_literal_list(text: str) -> list:
    """A comma-separated literal list (the body of ``IN (...)``) —
    quote-aware, so string literals may contain commas; STRICT (trailing
    commas, empty slots, and junk all raise)."""
    toks: list = []
    pat = re.compile(rf"\s*((?:{_QSTR})|[^,']+?)\s*(,|$)")
    pos, tail_comma = 0, False
    while pos < len(text):
        m = pat.match(text, pos)
        if not m or m.end() == pos:
            raise ValueError(f"bad literal list {text!r}")
        toks.append(_literal(m.group(1)))
        tail_comma = m.group(2) == ","
        pos = m.end()
    if not toks or tail_comma:
        raise ValueError(f"bad literal list {text!r}")
    return toks


def _parse_predicate(text: str) -> list[tuple]:
    """Conjunctive WHERE clause -> the shim's (col, op, value) terms."""
    terms: list[tuple] = []
    for part in re.split(r"(?i)\s+AND\s+", text.strip()):
        m = re.fullmatch(
            rf"({_IDENT})\s+IS\s+NOT\s+NULL", part.strip(), re.I
        )
        if m:
            terms.append((m.group(1), "is_not_null", None))
            continue
        m = re.fullmatch(rf"({_IDENT})\s+IS\s+NULL", part.strip(), re.I)
        if m:
            terms.append((m.group(1), "is_null", None))
            continue
        m = re.fullmatch(
            rf"({_IDENT})\s+IN\s*\((?P<vals>.*)\)", part.strip(), re.I
        )
        if m:
            terms.append(
                (m.group(1), "in", tuple(_parse_literal_list(m.group("vals"))))
            )
            continue
        m = re.fullmatch(
            rf"({_IDENT})\s*(==|<=|>=|=|<|>)\s*(\S.*)", part.strip()
        )
        if m:
            terms.append((m.group(1), m.group(2), _literal(m.group(3))))
            continue
        raise ValueError(
            f"unsupported predicate term {part.strip()!r}; terms are "
            "'col <op> literal' (= < <= > >=), 'col IN (lit, ...)', or "
            "'col IS [NOT] NULL', joined by AND"
        )
    return terms


def _split_where(text: str) -> tuple[str, str]:
    """Split ``<head> WHERE <pred>`` at the first WHERE keyword OUTSIDE
    string literals (a ``SET v = ' where '`` assignment must not split
    there)."""
    i, n = 0, len(text)
    while i < n:
        if text[i] == "'":
            m = re.match(_QSTR, text[i:])
            if not m:
                raise ValueError(f"unterminated string literal in {text!r}")
            i += m.end()
            continue
        m = re.match(r"(?i)\s+WHERE\s+", text[i:])
        if m:
            return text[:i], text[i + m.end():]
        i += 1
    raise ValueError("statement needs a WHERE clause")


def _parse_assignments(text: str) -> dict:
    """``SET col = literal [, col = literal ...]`` — quote-aware comma
    split; STRICT (duplicates, trailing commas, and junk all raise)."""
    out: dict = {}
    pat = re.compile(
        rf"\s*({_IDENT})\s*=\s*((?:{_QSTR})|[^,']+?)\s*(,|$)"
    )
    pos, tail_comma = 0, False
    while pos < len(text):
        m = pat.match(text, pos)
        if not m or m.end() == pos:
            raise ValueError(
                f"bad SET clause {text!r}; use col = literal, joined by commas"
            )
        col = m.group(1)
        if col in out:
            raise ValueError(f"duplicate SET column {col!r}")
        out[col] = _literal(m.group(2))
        tail_comma = m.group(3) == ","
        pos = m.end()
    if not out or tail_comma:
        raise ValueError(
            f"bad SET clause {text!r}; use col = literal, joined by commas"
        )
    return out


_QSTR = r"'(?:[^']|'')*'"
_PAIR = rf"{_QSTR}\s*=\s*{_QSTR}"


def _parse_prop_pairs(text: str) -> dict[str, str]:
    # STRICT: the whole list must be well-formed pairs — findall-style
    # extraction would silently skip garbage between them
    if not re.fullmatch(rf"\s*{_PAIR}\s*(?:,\s*{_PAIR}\s*)*", text):
        raise ValueError(
            "SET TBLPROPERTIES needs ('key'='value', ...) pairs"
        )
    pairs = re.findall(rf"({_QSTR})\s*=\s*({_QSTR})", text)
    return {
        k[1:-1].replace("''", "'"): v[1:-1].replace("''", "'")
        for k, v in pairs
    }


def _split_top_level(text: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` at paren depth 0 and outside string literals —
    a SET/VALUES list whose expressions contain ``f(a, b)`` calls or
    quoted commas must not split inside them. STRICT: unbalanced parens
    and unterminated strings raise."""
    parts, buf, depth, i, n = [], [], 0, 0, len(text)
    while i < n:
        ch = text[i]
        if ch == "'":
            m = re.match(_QSTR, text[i:])
            if not m:
                raise ValueError(f"unterminated string literal in {text!r}")
            buf.append(text[i:i + m.end()])
            i += m.end()
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth < 0:
                raise ValueError(f"unbalanced parentheses in {text!r}")
        if ch == sep and depth == 0:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
        i += 1
    if depth:
        raise ValueError(f"unbalanced parentheses in {text!r}")
    parts.append("".join(buf))
    return parts


def _find_keyword(text: str, word: str, start: int = 0) -> int:
    """Index of the first occurrence of keyword ``word`` at paren depth 0
    and outside string literals, or -1."""
    pat = re.compile(rf"(?i)\b{word}\b")
    i, depth, n = start, 0, len(text)
    while i < n:
        ch = text[i]
        if ch == "'":
            m = re.match(_QSTR, text[i:])
            if not m:
                raise ValueError(f"unterminated string literal in {text!r}")
            i += m.end()
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth = max(0, depth - 1)
        if depth == 0:
            m = pat.match(text, i)
            if m:
                return i
        i += 1
    return -1


def _match_paren(text: str, open_at: int) -> int:
    """Index of the ``)`` matching ``text[open_at] == '('``, skipping
    single-quoted literals. Raises on imbalance."""
    if text[open_at] != "(":
        raise ValueError("internal: _match_paren not at a paren")
    depth = 0
    i = open_at
    while i < len(text):
        ch = text[i]
        if ch == "'":
            i += 1
            while i < len(text):
                if text[i] == "'":
                    if i + 1 < len(text) and text[i + 1] == "'":
                        i += 2
                        continue
                    break
                i += 1
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return i
        i += 1
    raise ValueError("unbalanced parentheses in statement")


def _target(spark, m: "re.Match", catalog) -> HadoopTable:
    """The table a matched statement addresses: quoted group -> path,
    identifier group -> catalog lookup (which validates existence)."""
    loc = m.group("loc")
    if loc is not None:
        return HadoopTable(spark, loc)
    if catalog is None:
        raise ValueError(
            f"bare identifier {m.group('tid')!r} needs a catalog: "
            "table_sql(spark, stmt, catalog=HadoopCatalog(spark, wh)) "
            "or quote a path ('/dir/table')"
        )
    return catalog.load_table(m.group("tid"))


def _target_location(m: "re.Match", catalog) -> str:
    """Like :func:`_target` but for statements that may CREATE the
    table (no existence requirement)."""
    loc = m.group("loc")
    if loc is not None:
        return loc
    if catalog is None:
        raise ValueError(
            f"bare identifier {m.group('tid')!r} needs a catalog"
        )
    return catalog.location(m.group("tid"))


def _resolve_query(spark, sql: str, catalog):
    """A SELECT/VALUES/WITH query body: catalog identifiers resolved
    when a catalog is bound, plain Spark SQL otherwise."""
    if catalog is not None:
        return spark.sql(catalog.resolve_sql(sql))
    return spark.sql(sql)


def _parse_merge(spark, stmt: str, catalog=None):
    """``MERGE INTO '<loc>' [AS] t USING <view> [AS] s ON t.k = s.k [AND
    ...] WHEN ...`` — maps onto :meth:`HadoopTable.merge`. The source is
    a registered temp view (register the DataFrame first); conditions
    and SET/VALUES expressions are passed through to Spark SQL, so they
    may be any expression over the two aliases."""
    m = re.match(
        rf"(?is)MERGE\s+INTO\s+{_LOC}\s+(?:AS\s+)?(?P<ta>{_IDENT})\s+"
        rf"USING\s+(?P<view>{_IDENT}(?:\.{_IDENT})*)\s+"
        rf"(?:AS\s+)?(?P<sa>{_IDENT})\s+ON\s+",
        stmt,
    )
    if not m:
        raise ValueError(
            "MERGE shape: MERGE INTO '<loc>' [AS] t USING <view> [AS] s "
            "ON t.k = s.k [AND ...] WHEN ..."
        )
    ta, sa, view = m.group("ta"), m.group("sa"), m.group("view")
    table = _target(spark, m, catalog)
    rest = stmt[m.end():]
    w = _find_keyword(rest, "WHEN")
    if w < 0:
        raise ValueError("MERGE needs at least one WHEN clause")
    on_text, clause_text = rest[:w], rest[w:]
    on: list[str] = []
    for term in re.split(r"(?i)\s+AND\s+", on_text.strip()):
        tm = re.fullmatch(
            rf"({_IDENT})\s*\.\s*({_IDENT})\s*=\s*"
            rf"({_IDENT})\s*\.\s*({_IDENT})",
            term.strip(),
        )
        ok = tm and {tm.group(1), tm.group(3)} == {ta, sa} and (
            tm.group(2) == tm.group(4)
        )
        if not ok:
            raise ValueError(
                f"unsupported ON term {term.strip()!r}; MERGE keys are "
                f"equi-join terms {ta}.col = {sa}.col on the SAME column "
                "name, joined by AND"
            )
        on.append(tm.group(2))
    when: list[tuple] = []
    # split the clause tail into WHEN ... chunks at depth 0
    bounds = []
    pos = 0
    while True:
        nxt = _find_keyword(clause_text, "WHEN", pos)
        if nxt < 0:
            break
        bounds.append(nxt)
        pos = nxt + 4
    chunks = [
        clause_text[b:e].strip()
        for b, e in zip(bounds, bounds[1:] + [len(clause_text)])
    ]
    for chunk in chunks:
        cm = re.match(
            r"(?is)WHEN\s+(?P<neg>NOT\s+)?MATCHED"
            r"(?:\s+BY\s+(?P<by>SOURCE|TARGET))?\s*(?P<tail>.*)",
            chunk,
        )
        if not cm:
            raise ValueError(f"bad WHEN clause {chunk!r}")
        not_matched = bool(cm.group("neg"))
        by = (cm.group("by") or "").upper()
        if by and not not_matched:
            raise ValueError(
                f"WHEN MATCHED takes no BY qualifier: {chunk!r}"
            )
        # NOT MATCHED [BY TARGET] = insert family; NOT MATCHED BY SOURCE
        # = target rows without a source match (deletion-sync family)
        by_source = not_matched and by == "SOURCE"
        tail = cm.group("tail").strip()
        cond = None
        am = re.match(r"(?is)AND\s+(?P<rest>.+)", tail)
        if am:
            t = _find_keyword(am.group("rest"), "THEN")
            if t < 0:
                raise ValueError(f"WHEN clause missing THEN: {chunk!r}")
            cond = am.group("rest")[:t].strip()
            tail = am.group("rest")[t:].strip()
        if not re.match(r"(?i)THEN\b", tail):
            raise ValueError(f"WHEN clause missing THEN: {chunk!r}")
        action = tail[4:].strip()
        if not_matched and not by_source:
            im = re.fullmatch(r"(?is)INSERT\s+\*", action)
            if im:
                when.append(("not_matched_insert", cond, "*"))
                continue
            im = re.fullmatch(
                r"(?is)INSERT\s*\((?P<cols>[^)]*)\)\s*"
                r"VALUES\s*\((?P<vals>.*)\)",
                action,
            )
            if not im:
                raise ValueError(
                    "NOT MATCHED action is INSERT * or "
                    f"INSERT (cols) VALUES (exprs), got {action!r}"
                )
            cols = [c.strip() for c in im.group("cols").split(",")]
            vals = [v.strip() for v in _split_top_level(im.group("vals"))]
            if len(cols) != len(vals) or not all(
                re.fullmatch(_IDENT, c) for c in cols
            ) or not all(vals):
                raise ValueError(
                    f"INSERT column/value lists do not line up in {action!r}"
                )
            if len(set(cols)) != len(cols):
                raise ValueError(f"duplicate INSERT column in {action!r}")
            when.append(("not_matched_insert", cond, dict(zip(cols, vals))))
            continue
        # MATCHED and NOT MATCHED BY SOURCE share the action grammar
        # (UPDATE SET / DELETE) under different clause kinds
        kind_del = "nms_delete" if by_source else "matched_delete"
        kind_upd = "nms_update" if by_source else "matched_update"
        fam = "NOT MATCHED BY SOURCE" if by_source else "MATCHED"
        if re.fullmatch(r"(?i)DELETE", action):
            when.append((kind_del, cond, None))
            continue
        um = re.match(r"(?is)UPDATE\s+SET\s+(?P<sets>.+)", action)
        if not um:
            raise ValueError(
                f"{fam} action is UPDATE SET ... or DELETE, "
                f"got {action!r}"
            )
        sets = um.group("sets").strip()
        if sets == "*":
            if by_source:
                raise ValueError(
                    "NOT MATCHED BY SOURCE cannot UPDATE SET * — there "
                    "is no source row to copy from"
                )
            when.append(("matched_update", cond, "*"))
            continue
        assigns: dict[str, str] = {}
        for part in _split_top_level(sets):
            pm = re.fullmatch(
                rf"(?s)\s*({_IDENT})\s*=\s*(\S.*?)\s*", part
            )
            if not pm:
                raise ValueError(
                    f"bad SET assignment {part.strip()!r}; use "
                    "col = <expr>, joined by commas"
                )
            col = pm.group(1)
            if col in assigns:
                raise ValueError(f"duplicate SET column {col!r}")
            assigns[col] = pm.group(2)
        if not assigns:
            raise ValueError("UPDATE SET needs at least one assignment")
        when.append((kind_upd, cond, assigns))
    # the USING source: a catalog table/view name when one resolves,
    # else a registered Spark temp view (the pre-catalog behavior)
    if catalog is not None and catalog.table_exists(view):
        src = catalog.load_table(view).read()
    elif catalog is not None and catalog.view_exists(view):
        src = catalog.read_view(view)
    else:
        src = spark.table(view)
    return table.merge(src, on, when, target_alias=ta, source_alias=sa)


def table_sql(spark, statement: str, catalog=None) -> Any:
    """Execute one statement against a path-addressed snapshot table —
    or, with ``catalog=HadoopCatalog(...)``, against NAME-addressed
    tables (every ``'<loc>'`` position also accepts a dotted identifier,
    and the namespace/table/view lifecycle statements plus SELECT become
    available). Returns whatever the underlying API returns (a Snapshot
    for commits, a DataFrame for queries/SHOW, a list for expiry/vacuum,
    a dict for maintain, None for a no-op delete)."""
    stmt = statement.strip().rstrip(";").strip()

    _DOTTED = rf"{_IDENT}(?:\.{_IDENT})*"

    def _need_catalog():
        if catalog is None:
            raise ValueError(
                "this statement needs a catalog: "
                "table_sql(spark, stmt, catalog=HadoopCatalog(spark, wh))"
            )
        return catalog

    if re.match(r"(?i)(?:SELECT|WITH)\b", stmt):
        if catalog is None:
            raise ValueError(
                "SELECT needs a catalog for name resolution — "
                "table_sql(spark, stmt, catalog=HadoopCatalog(spark, wh)); "
                "for path-addressed reads use "
                "HadoopTable(spark, path).read() instead"
            )
        return catalog._run_sql(stmt)

    m = re.fullmatch(
        rf"(?i)(?P<op>CREATE|DROP)\s+NAMESPACE\s+(?P<ns>{_DOTTED})", stmt
    )
    if m:
        c = _need_catalog()
        if m.group("op").upper() == "CREATE":
            c.create_namespace(m.group("ns"))
        else:
            c.drop_namespace(m.group("ns"))
        return None

    m = re.fullmatch(
        rf"(?i)SHOW\s+(?P<kind>NAMESPACES|TABLES|VIEWS)"
        rf"(?:\s+IN\s+(?P<ns>{_DOTTED}))?",
        stmt,
    )
    if m:
        c = _need_catalog()
        ns = m.group("ns") or ()
        kind = m.group("kind").upper()
        if kind == "NAMESPACES":
            return [".".join(p) for p in c.list_namespaces(ns)]
        if kind == "TABLES":
            return c.list_tables(ns)
        return c.list_views(ns)

    m = re.fullmatch(
        rf"(?i)DESCRIBE\s+(?:TABLE\s+)?{_LOC}"
        rf"(?:\s+AS\s+OF\s+VERSION\s+(?P<v>\d+))?",
        stmt,
    )
    if m:
        t = _target(spark, m, catalog)
        v = int(m.group("v")) if m.group("v") else None
        return t.inspect("schema", version=v)

    m = re.fullmatch(rf"(?i)SHOW\s+TBLPROPERTIES\s+{_LOC}", stmt)
    if m:
        return _target(spark, m, catalog).properties()

    m = re.fullmatch(rf"(?i)SHOW\s+CREATE\s+TABLE\s+{_LOC}", stmt)
    if m:
        # a statement this frontend itself accepts, so the output
        # round-trips: CREATE TABLE <t> (cols) [PARTITIONED BY (...)]
        # [TBLPROPERTIES (...)] — hidden transforms render in the same
        # days(ts)/bucket(8, key) grammar CREATE parses
        import json as _json

        from pyspark.sql.types import StructType as _St

        t = _target(spark, m, catalog)
        snap = t.snapshot()
        st = _St.fromJson(_json.loads(snap.schema_json))
        cols = ",\n  ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in st.fields
        )
        target = (
            m.group("tid") if m.group("tid") else f"'{m.group('loc')}'"
        )
        out = f"CREATE TABLE {target} (\n  {cols}\n)"
        if snap.spec:
            rendered = []
            for pf in snap.spec:
                if pf.transform == "identity":
                    rendered.append(pf.source)
                elif pf.param is not None:
                    rendered.append(f"{pf.transform}({pf.param}, {pf.source})")
                else:
                    rendered.append(f"{pf.transform}({pf.source})")
            out += f"\nPARTITIONED BY ({', '.join(rendered)})"
        props = t.properties()
        if props:
            pairs = ", ".join(
                "'{}'='{}'".format(k.replace("'", "''"),
                                   str(v).replace("'", "''"))
                for k, v in sorted(props.items())
            )
            out += f"\nTBLPROPERTIES ({pairs})"
        return out

    m = re.match(rf"(?is)CREATE\s+TABLE\s+{_LOC}\s*\(", stmt)
    if m:
        close = _match_paren(stmt, m.end() - 1)
        cols_ddl = stmt[m.end():close].strip()
        tail = stmt[close + 1:].strip()
        parts_list = None
        props = None
        pm = re.match(r"(?is)PARTITIONED\s+BY\s*\(", tail)
        if pm:
            # depth-aware: transform declarations carry their own parens
            # (days(ts), bucket(8, k)) — [^)]+ would stop at the first ')'
            pclose = _match_paren(tail, pm.end() - 1)
            parts_list = [
                p.strip()
                for p in _split_top_level(tail[pm.end():pclose])
                if p.strip()
            ]
            tail = tail[pclose + 1:].strip()
        if tail:
            tm = re.fullmatch(
                r"(?is)TBLPROPERTIES\s*\((?P<pairs>.+)\)", tail
            )
            if not tm:
                raise ValueError(
                    f"unsupported CREATE TABLE tail {tail!r}; supported: "
                    "[PARTITIONED BY (...)] [TBLPROPERTIES (...)]"
                )
            props = _parse_prop_pairs(tm.group("pairs"))
        if catalog is not None and m.group("tid"):
            return catalog.create_table(
                m.group("tid"), cols_ddl,
                partition_by=parts_list, properties=props,
            )
        return create_table_at(
            spark, _target_location(m, catalog), cols_ddl,
            partition_by=parts_list, properties=props,
        )

    m = re.match(
        rf"(?is)CREATE\s+TABLE\s+{_LOC}\s+"
        # one paren-nesting level inside: transform declarations like
        # days(ts) / bucket(8, k) carry their own parens
        rf"(?:PARTITIONED\s+BY\s*\((?P<parts>(?:[^()]|\([^()]*\))+)\)\s+)?"
        rf"AS\s+(?P<q>(?:SELECT|WITH|VALUES)\b.*)",
        stmt,
    )
    if m:
        df = _resolve_query(spark, m.group("q"), catalog)
        parts_list = (
            [p.strip() for p in _split_top_level(m.group("parts")) if p.strip()]
            if m.group("parts")
            else None
        )
        if catalog is not None and m.group("tid"):
            return catalog.create_table(
                m.group("tid"), data=df, partition_by=parts_list
            )
        return create_table_at(
            spark, _target_location(m, catalog), data=df,
            partition_by=parts_list,
        )

    m = re.fullmatch(
        rf"(?is)DROP\s+TABLE\s+{_LOC}(?P<purge>\s+PURGE)?", stmt
    )
    if m:
        if not m.group("purge"):
            raise ValueError(
                "DROP TABLE deletes the table directory (data included) "
                "in a filesystem catalog; write DROP TABLE ... PURGE to "
                "confirm"
            )
        if m.group("tid"):
            _need_catalog().drop_table(m.group("tid"), purge=True)
            return None
        t = _target(spark, m, catalog)
        if not t.exists():
            raise NoSuchTable(m.group("loc"))
        shutil.rmtree(t.root)
        return None

    m = re.fullmatch(
        rf"(?is)ALTER\s+TABLE\s+{_LOC}\s+RENAME\s+TO\s+"
        rf"(?:'(?P<dloc>[^']+)'|(?P<dtid>{_DOTTED}))",
        stmt,
    )
    if m:
        if m.group("tid") and m.group("dtid") and catalog is not None:
            catalog.rename_table(m.group("tid"), m.group("dtid"))
            return None
        if m.group("dtid") and catalog is None:
            raise ValueError("bare identifier destination needs a catalog")
        t = _target(spark, m, catalog)
        if not t.exists():
            raise NoSuchTable(t.location)
        dst = (
            catalog.location(m.group("dtid"))
            if m.group("dtid")
            else _local_path(m.group("dloc"))
        )
        if os.path.exists(dst):
            raise ValueError(f"rename destination {dst!r} exists")
        os.rename(t.root, dst)
        return None

    m = re.fullmatch(
        rf"(?is)CREATE\s+(?P<repl>OR\s+REPLACE\s+)?VIEW\s+"
        rf"(?P<vid>{_DOTTED})\s+AS\s+(?P<q>.+)",
        stmt,
    )
    if m:
        return _need_catalog().create_view(
            m.group("vid"), m.group("q").strip(),
            replace=bool(m.group("repl")),
        )

    m = re.fullmatch(rf"(?i)DROP\s+VIEW\s+(?P<vid>{_DOTTED})", stmt)
    if m:
        _need_catalog().drop_view(m.group("vid"))
        return None

    m = re.match(
        rf"(?is)INSERT\s+INTO\s+{_LOC}\s+"
        rf"(?P<q>(?:SELECT|WITH|VALUES|TABLE)\b.*)",
        stmt,
    )
    if m:
        t = _target(spark, m, catalog)
        df = _resolve_query(spark, m.group("q"), catalog)
        cur = t._empty_schema(t.snapshot())
        if len(df.columns) != len(cur.fields):
            raise ValueError(
                f"INSERT INTO: query produces {len(df.columns)} columns, "
                f"table has {len(cur.fields)}"
            )
        from pyspark.sql import functions as F

        df = df.select(
            *[
                F.col(c).cast(f.dataType).alias(f.name)
                for c, f in zip(df.columns, cur.fields)
            ]
        )
        return t.append(df)

    m = re.fullmatch(
        rf"(?i)ALTER\s+TABLE\s+{_LOC}\s+RENAME\s+COLUMN\s+"
        rf"(?P<old>{_IDENT})\s+TO\s+(?P<new>{_IDENT})",
        stmt,
    )
    if m:
        t = _target(spark, m, catalog)
        return t.rename_column(m.group("old"), m.group("new"))

    m = re.fullmatch(
        rf"(?i)ALTER\s+TABLE\s+{_LOC}\s+ADD\s+COLUMN\s+"
        rf"(?P<col>{_IDENT})\s+{_TYPE}"
        rf"(?:\s+DEFAULT\s+(?P<default>\S.*))?",
        stmt,
    )
    if m:
        t = _target(spark, m, catalog)
        default = (
            _literal(m.group("default"))
            if m.group("default") is not None
            else None
        )
        return t.add_column(m.group("col"), m.group("type"), default=default)

    m = re.fullmatch(
        rf"(?i)ALTER\s+TABLE\s+{_LOC}\s+DROP\s+COLUMN\s+(?P<col>{_IDENT})",
        stmt,
    )
    if m:
        return _target(spark, m, catalog).drop_column(m.group("col"))

    m = re.fullmatch(
        rf"(?i)ALTER\s+TABLE\s+{_LOC}\s+ALTER\s+COLUMN\s+"
        rf"(?P<col>{_IDENT})\s+TYPE\s+{_TYPE}",
        stmt,
    )
    if m:
        t = _target(spark, m, catalog)
        return t.widen_column(m.group("col"), m.group("type"))

    m = re.fullmatch(
        rf"(?i)ALTER\s+TABLE\s+{_LOC}\s+SET\s+TBLPROPERTIES\s*"
        rf"\((?P<pairs>.+)\)",
        stmt,
    )
    if m:
        t = _target(spark, m, catalog)
        return t.set_properties(_parse_prop_pairs(m.group("pairs")))

    m = re.fullmatch(
        rf"(?i)ALTER\s+TABLE\s+{_LOC}\s+WRITE\s+"
        rf"(?:(?P<un>UNORDERED)|ORDERED\s+BY\s+"
        rf"(?:(?P<z>ZORDER)\s*\((?P<zc>[^)]+)\)|(?P<cols>.+)))",
        stmt,
    )
    if m:
        # Iceberg's table sort-order DDL -> the write.sort.order property
        # compact() resolves when called without explicit sort args
        t = _target(spark, m, catalog)
        if m.group("un"):
            return t.unset_properties("write.sort.order")
        if m.group("z"):
            cols = [c.strip() for c in m.group("zc").split(",") if c.strip()]
            if len(cols) < 2:
                # compact() hard-refuses single-column zorder (a Z-curve
                # of one key is just a sort) — rejecting at declaration
                # time keeps the property from poisoning maintenance
                raise ValueError(
                    "WRITE ORDERED BY ZORDER needs >= 2 columns; use "
                    "WRITE ORDERED BY <col> for a single-key sort order"
                )
            value = f"zorder({','.join(cols)})"
        else:
            cols = [c.strip() for c in m.group("cols").split(",") if c.strip()]
            value = ",".join(cols)
        if not cols or not all(
            re.fullmatch(_IDENT, c) or re.fullmatch(rf"{_IDENT}\.{_IDENT}", c)
            for c in cols
        ):
            raise ValueError(
                f"WRITE ORDERED BY needs a comma-separated column list, got "
                f"{m.group('zc') or m.group('cols')!r}"
            )
        return t.set_properties({"write.sort.order": value})

    m = re.fullmatch(
        rf"(?i)ALTER\s+TABLE\s+{_LOC}\s+UNSET\s+TBLPROPERTIES\s*"
        rf"\((?P<keys>.+)\)",
        stmt,
    )
    if m:
        if not re.fullmatch(
            rf"\s*{_QSTR}\s*(?:,\s*{_QSTR}\s*)*", m.group("keys")
        ):
            raise ValueError("UNSET TBLPROPERTIES needs ('key', ...) keys")
        keys = [
            k.replace("''", "'")
            for k in re.findall(r"'((?:[^']|'')*)'", m.group("keys"))
        ]
        return _target(spark, m, catalog).unset_properties(*keys)

    m = re.fullmatch(
        rf"(?i)ALTER\s+TABLE\s+{_LOC}\s+CREATE\s+"
        rf"(?P<kind>BRANCH|TAG)\s+(?P<name>{_IDENT})"
        rf"(?:\s+AS\s+OF\s+VERSION\s+(?P<v>\d+))?",
        stmt,
    )
    if m:
        t = _target(spark, m, catalog)
        if m.group("kind").upper() == "TAG":
            v = int(m.group("v")) if m.group("v") else None
            t.create_tag(m.group("name"), version=v)
            return None
        if m.group("v"):
            raise ValueError(
                "CREATE BRANCH forks the CURRENT snapshot (no AS OF "
                "VERSION); rollback first to branch from history"
            )
        t.create_branch(m.group("name"))
        return None

    m = re.fullmatch(
        rf"(?i)ALTER\s+TABLE\s+{_LOC}\s+DROP\s+"
        rf"(?P<kind>BRANCH|TAG)\s+(?P<name>{_IDENT})",
        stmt,
    )
    if m:
        t = _target(spark, m, catalog)
        if m.group("kind").upper() == "TAG":
            t.drop_tag(m.group("name"))
        else:
            t.drop_branch(m.group("name"))
        return None

    m = re.fullmatch(
        rf"(?i)DELETE\s+FROM\s+{_LOC}\s+WHERE\s+(?P<pred>.+)", stmt
    )
    if m:
        t = _target(spark, m, catalog)
        return t.delete(_parse_predicate(m.group("pred")))

    m = re.fullmatch(
        rf"(?i)UPDATE\s+{_LOC}\s+SET\s+(?P<rest>.+)", stmt, re.S
    )
    if m:
        sets, pred = _split_where(m.group("rest"))
        t = _target(spark, m, catalog)
        return t.update(_parse_predicate(pred), _parse_assignments(sets))

    if re.match(r"(?i)MERGE\s+INTO\b", stmt):
        return _parse_merge(spark, stmt, catalog)

    m = re.fullmatch(
        rf"(?i)CALL\s+(?:system\s*\.\s*)?(?P<proc>{_IDENT})\s*"
        rf"\(\s*{_LOC}\s*(?P<args>(?:,[^)]*)?)\)",
        stmt,
    )
    if m:
        t = _target(spark, m, catalog)
        kwargs: dict[str, Any] = {}
        for part in m.group("args").split(","):
            part = part.strip()
            if not part:
                continue
            am = re.fullmatch(rf"({_IDENT})\s*=>\s*(\S.*)", part)
            if not am:
                raise ValueError(
                    f"CALL arguments use name => value, got {part!r}"
                )
            kwargs[am.group(1)] = _literal(am.group(2))
        proc = m.group("proc").lower()
        procs = {
            # the Iceberg procedure names AND the shim's own
            "rewrite_data_files": t.compact,
            "rewrite_manifests": t.rewrite_manifests,
            "rewrite_position_delete_files": t.rewrite_delete_files,
            "rewrite_delete_files": t.rewrite_delete_files,
            "fast_forward": t.fast_forward,
            "compact": t.compact,
            "expire_snapshots": t.expire_snapshots,
            "remove_orphan_files": t.cleanup_orphans,
            "maintain": t.maintain,
            "rollback_to_snapshot": None,  # special-cased below
        }
        if proc == "rollback_to_snapshot":
            if "version" not in kwargs:
                raise ValueError(
                    "rollback_to_snapshot needs version => <N>"
                )
            version = int(kwargs.pop("version"))
            if kwargs:
                raise ValueError(
                    f"rollback_to_snapshot got unknown arguments "
                    f"{sorted(kwargs)}"
                )
            return t.rollback(version)
        if proc not in procs:
            raise ValueError(
                f"unknown procedure {proc!r}; one of "
                f"{sorted(k for k in procs)}"
            )
        return procs[proc](**kwargs)

    m = re.fullmatch(rf"(?i)VACUUM\s+{_LOC}", stmt)
    if m:
        return _target(spark, m, catalog).cleanup_orphans()

    raise ValueError(
        "unsupported statement; supported: ALTER TABLE <t> "
        "RENAME COLUMN a TO b | ADD COLUMN x <type> [DEFAULT lit] | "
        "DROP COLUMN x | ALTER COLUMN x TYPE <type> | SET/UNSET "
        "TBLPROPERTIES (...) | CREATE/DROP BRANCH b | CREATE TAG tg "
        "[AS OF VERSION n] | DROP TAG tg | RENAME TO <t2>; "
        "DELETE FROM <t> WHERE ...; "
        "UPDATE <t> SET col = lit [, ...] WHERE ...; "
        "MERGE INTO <t> t USING <view> s ON t.k = s.k WHEN ...; "
        "CALL <proc>(<t> [, name => value ...]); VACUUM <t>; "
        "CREATE TABLE <t> (cols) [PARTITIONED BY (...)] "
        "[TBLPROPERTIES (...)] | CREATE TABLE <t> AS <query>; "
        "INSERT INTO <t> <query>; DROP TABLE <t> PURGE; "
        "CREATE/DROP NAMESPACE ns; SHOW NAMESPACES/TABLES/VIEWS [IN ns]; "
        "CREATE [OR REPLACE] VIEW ns.v AS <query>; DROP VIEW ns.v; "
        "SELECT ... (catalog-bound). <t> is '<path>' or, with a "
        "catalog, a dotted identifier"
    )
