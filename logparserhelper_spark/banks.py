"""Pattern / transformation banks.

Reference semantics being reproduced (cited file:line in /root/reference):

- Bank file shape ``{"date_patterns": [{"name": str, "pattern": str}, ...]}``
  (data/patterns.json:1-36). Order is semantic: tag/class identity is the
  bank ordinal (core/regex_highlighter.py:16-18) and the color is
  ``palette[i % 10]`` (utils/color_utils.py:18).
- Missing file -> empty bank; JSON/IO error -> empty bank + logged note,
  never a failure (utils/json_utils.py:8-18, 30-39).
- Duplicate pattern strings are allowed, present in the shipped bank
  (p4==p5, p2==p6), and each produces its own full match set — multicast,
  not first-match-wins (core/regex_highlighter.py:16-25).
- Transformation entries ``{pattern, sample, replacement, enabled}``:
  ``replacement`` defaults to "<DATE>" (gui/log_generator.py:42), compile
  errors fall back to the raw input (``re.error`` -> sample,
  gui/log_generator.py:43-46), ``enabled`` defaults True and disabled
  entries are skipped (gui/log_generator.py:47,76-81).

Spark-side design: banks are tiny driver-side objects. They are shipped to
executors by closure capture of a plain tuple (cheap, immutable) and
compiled ONCE per Python worker via a module-level cache keyed by the bank
fingerprint — the reference recompiles on every call
(core/regex_highlighter.py:19); we explicitly do not.
"""

from __future__ import annotations

import hashlib
import json
import re
import sys
from dataclasses import dataclass, field
from typing import NamedTuple

import numpy as np


def _kebab(name: str) -> str:
    """Deterministic sink name from a pattern class name."""
    return re.sub(r"[^a-z0-9]+", "-", name.lower()).strip("-") or "pattern"


@dataclass(frozen=True)
class PatternEntry:
    pattern_id: int  # bank ordinal == class identity (regex_highlighter.py:16)
    name: str
    pattern: str
    sink: str  # kebab-cased name; routing target


@dataclass(frozen=True)
class TransformEntry:
    pattern: str
    sample: str = ""
    replacement: str = "<DATE>"  # reference default (log_generator.py:42)
    enabled: bool = True


@dataclass(frozen=True)
class PatternBank:
    entries: tuple[PatternEntry, ...]

    @property
    def version(self) -> str:
        """Content fingerprint — keys executor-side compile caches and sinks."""
        payload = json.dumps(
            [(e.pattern_id, e.name, e.pattern) for e in self.entries]
        ).encode()
        return hashlib.sha256(payload).hexdigest()[:16]

    def as_rows(self) -> list[tuple[int, str, str, str]]:
        """(pattern_id, name, pattern, sink) rows for a dimension DataFrame."""
        return [(e.pattern_id, e.name, e.pattern, e.sink) for e in self.entries]

    def spec(self) -> tuple[tuple[int, str, str, str], ...]:
        """Immutable, picklable spec for closure capture into UDFs."""
        return tuple(self.as_rows())


@dataclass(frozen=True)
class TransformBank:
    entries: tuple[TransformEntry, ...] = field(default_factory=tuple)

    def enabled_entries(self) -> tuple[TransformEntry, ...]:
        """Enabled-filter (log_generator.py:47,80): enabled defaults True."""
        return tuple(e for e in self.entries if e.enabled)

    def spec(self) -> tuple[tuple[str, str], ...]:
        """(pattern, replacement) pairs of enabled entries, in bank order."""
        return tuple((e.pattern, e.replacement) for e in self.enabled_entries())


def bank_from_dicts(dicts: list[dict]) -> PatternBank:
    """Build a PatternBank from ``date_patterns``-style dicts, keeping order
    and duplicates (duplicate multicast is a tested reference semantic)."""
    entries = tuple(
        PatternEntry(
            pattern_id=i,
            name=d.get("name", f"pattern_{i}"),
            pattern=d["pattern"],
            sink=_kebab(d.get("name", f"pattern_{i}")),
        )
        for i, d in enumerate(dicts)
    )
    return PatternBank(entries=entries)


def load_pattern_bank(path: str) -> PatternBank:
    """Load a pattern bank with the reference's permissive defaults
    (utils/json_utils.py:8-18): missing/corrupt file -> empty bank."""
    try:
        with open(path, "r", encoding="utf-8") as f:
            data = json.load(f)
    except FileNotFoundError:
        return PatternBank(entries=())
    except (json.JSONDecodeError, OSError) as e:
        print(f"pattern bank read error {path}: {e}", file=sys.stderr)
        return PatternBank(entries=())
    return bank_from_dicts(data.get("date_patterns", []))


def load_transform_bank(path: str) -> TransformBank:
    """Load a transformation bank with reference defaults
    (utils/json_utils.py:30-39): missing/corrupt file -> empty bank."""
    try:
        with open(path, "r", encoding="utf-8") as f:
            data = json.load(f)
    except FileNotFoundError:
        return TransformBank(entries=())
    except (json.JSONDecodeError, OSError) as e:
        print(f"transform bank read error {path}: {e}", file=sys.stderr)
        return TransformBank(entries=())
    entries = tuple(
        TransformEntry(
            pattern=d.get("pattern", ""),
            sample=d.get("sample", ""),
            replacement=d.get("replacement", "<DATE>"),
            enabled=bool(d.get("enabled", True)),
        )
        for d in data.get("transformations", [])
    )
    return TransformBank(entries=entries)


# --------------------------------------------------------------------------
# Executor-side compiled caches.
#
# The reference recompiles every pattern on every highlight call
# (core/regex_highlighter.py:19). At scale that cost lands once per Arrow
# batch, so we cache compiled artifacts per Python worker process, keyed by
# the bank spec itself (hashable tuple). ``functools.lru_cache`` would hold
# strong refs forever; bank count per job is ~1, so a plain dict is fine.
# --------------------------------------------------------------------------

_COMPILED_CACHE: dict = {}

# A pattern is alternation-safe for the combined prefilter unless it uses
# backreferences or named-group refs whose numbering would shift when the
# patterns are OR-ed together.
_UNSAFE_FOR_ALTERNATION = re.compile(r"\\\d|\(\?P=|\\g<")

# Batch-concatenated matching joins a batch's rows with '\n' and runs ONE
# finditer per distinct pattern over the blob (~25% faster than per-row
# calls). That is only equivalent to per-row matching if the pattern cannot
# (a) match any string containing '\n' (so a match can never cross or consume
# the row separator) or (b) anchor to positions that differ between row edges
# and blob edges. Then each row's matches are independent of which rows are
# joined around it, so the literal gate may drop rows before the join. A
# source-level grep gate is not sound — '\n' hides behind \x0A, \012, or
# \u000A escapes and character-class ranges like [\t-\r] — so the gate walks
# the re parse tree instead and rejects on any construct that could touch
# '\n', any string anchor, or anything it does not recognize.
try:
    # CPython parse tree (3.11+); analysis only. Private module — if a
    # future CPython renames it (or an alternate interpreter lacks it),
    # only the batch fast path and the literal gate are lost, never the
    # package import: _pattern_batch_safe then answers False for everything
    # and extraction falls back to per-row matching.
    from re import _parser as _re_parser
except ImportError:  # pragma: no cover - interpreter-dependent
    _re_parser = None

_NL = 0x0A


def _class_matches_newline(items) -> bool:
    """Whether an IN character-class item list can match '\\n'."""
    negate = False
    covered = False
    for op, av in items:
        opname = str(op)
        if opname == "NEGATE":
            negate = True
        elif opname == "LITERAL":
            covered = covered or av == _NL
        elif opname == "RANGE":
            covered = covered or (av[0] <= _NL <= av[1])
        elif opname == "CATEGORY":
            cat = str(av)
            if cat in ("CATEGORY_SPACE", "CATEGORY_NOT_DIGIT", "CATEGORY_NOT_WORD"):
                covered = True
            elif cat not in (
                "CATEGORY_DIGIT", "CATEGORY_WORD", "CATEGORY_NOT_SPACE"
            ):
                return True  # unknown category: assume it can match '\n'
        else:
            return True  # unknown class item: assume it can match '\n'
    return (not covered) if negate else covered


def _nodes_batch_safe(nodes, dotall: bool) -> bool:
    for op, av in nodes:
        opname = str(op)
        if opname == "LITERAL":
            if av == _NL:
                return False
        elif opname == "NOT_LITERAL":
            if av != _NL:
                return False
        elif opname == "IN":
            if _class_matches_newline(av):
                return False
        elif opname == "ANY":
            if dotall:
                return False
        elif opname == "AT":
            # '\b' sees the separator as a non-word char, exactly like a
            # string edge. '\B' does too, except that it never matches an
            # EMPTY string (re.search(r'\B', '') is None) yet matches an
            # empty row between two separators; every other anchor
            # distinguishes blob edges from row edges. All but '\b' are
            # unsafe.
            if str(av) != "AT_BOUNDARY":
                return False
        elif opname in ("MAX_REPEAT", "MIN_REPEAT", "POSSESSIVE_REPEAT"):
            if not _nodes_batch_safe(av[2], dotall):
                return False
        elif opname == "SUBPATTERN":
            _g, add_flags, del_flags, sub = av
            d = (dotall or bool(add_flags & re.S)) and not bool(del_flags & re.S)
            if not _nodes_batch_safe(sub, d):
                return False
        elif opname == "ATOMIC_GROUP":
            if not _nodes_batch_safe(av, dotall):
                return False
        elif opname == "BRANCH":
            for branch in av[1]:
                if not _nodes_batch_safe(branch, dotall):
                    return False
        elif opname in ("ASSERT", "ASSERT_NOT"):
            # lookaround windows crossing a row edge must match the separator
            # itself to differ from per-row behavior; the recursive scan of
            # their contents rules that out.
            if not _nodes_batch_safe(av[1], dotall):
                return False
        elif opname == "GROUPREF_EXISTS":
            _g, yes, no = av
            if not _nodes_batch_safe(yes, dotall):
                return False
            if no is not None and not _nodes_batch_safe(no, dotall):
                return False
        elif opname in ("GROUPREF", "FAILURE"):
            continue  # a backref copies a group scanned where it is defined
        else:
            return False  # unrecognized construct: be conservative
    return True


def _pattern_batch_safe(pattern: str) -> bool:
    if _re_parser is None:
        return False  # no parse tree available: per-row path only
    try:
        parsed = _re_parser.parse(pattern)
    except Exception:
        return False
    if parsed.state.flags & (re.M | re.X | re.I | re.S | re.L):
        # inline global flags change matching semantics in ways the walk
        # does not model (e.g. (?m) anchors, (?i) class coverage) — opt out.
        return False
    return _nodes_batch_safe(parsed, dotall=False)


def _required_literals(pattern: str) -> tuple[str, ...]:
    """The runs of consecutive LITERAL nodes at the top level of the
    pattern's parse tree: every match contains each of them, so a text
    lacking one cannot match. Runs contained in another run are dropped
    (their test is implied). Empty for patterns under global ``re.I``
    (literals match case-insensitively) or ``re.X``, and for patterns
    whose top level has no literal (``x*``, ``a|b``, ``(?i:ab)``)."""
    if _re_parser is None:
        return ()
    try:
        parsed = _re_parser.parse(pattern)
    except Exception:
        return ()
    if parsed.state.flags & (re.I | re.X):
        return ()
    runs: list[str] = []
    run: list[str] = []
    for op, av in parsed:
        if str(op) == "LITERAL":
            run.append(chr(av))
        elif run:
            runs.append("".join(run))
            run = []
    if run:
        runs.append("".join(run))
    distinct = list(dict.fromkeys(runs))
    return tuple(r for r in distinct if not any(r != o and r in o for o in distinct))


def _tree_zero_width_free(nodes) -> bool:
    """No anchors/\\b (AT), no lookarounds (ASSERT/ASSERT_NOT), and no
    SCOPED inline flags ((?i:...) etc. — they live on SUBPATTERN nodes, not
    in state.flags, and silently change what literals/classes can match):
    a pattern with zero-width assertions can gain matches at a replacement
    seam without consuming any replaced character."""
    if _re_parser is None:
        return False
    for op, av in nodes:
        opname = str(op)
        if opname in ("AT", "ASSERT", "ASSERT_NOT"):
            return False
        if opname in ("LITERAL", "NOT_LITERAL", "IN", "ANY", "CATEGORY", "RANGE"):
            continue
        if opname == "SUBPATTERN":
            add_flags, del_flags = av[1], av[2]
            if add_flags or del_flags:
                return False  # scoped (?i:)/(?-i:) etc.: analysis unsound
            if not _tree_zero_width_free(av[3]):
                return False
        elif opname in ("MAX_REPEAT", "MIN_REPEAT", "POSSESSIVE_REPEAT"):
            if not _tree_zero_width_free(av[2]):
                return False
        elif opname == "BRANCH":
            if not all(_tree_zero_width_free(b) for b in av[1]):
                return False
        elif opname == "ATOMIC_GROUP":
            if not _tree_zero_width_free(av):
                return False
        elif opname in ("GROUPREF", "FAILURE"):
            continue
        else:
            return False  # unrecognized construct: fail safe
    return True


_CATEGORY_RX = {
    "CATEGORY_DIGIT": r"\d",
    "CATEGORY_NOT_DIGIT": r"\D",
    "CATEGORY_WORD": r"\w",
    "CATEGORY_NOT_WORD": r"\W",
    "CATEGORY_SPACE": r"\s",
    "CATEGORY_NOT_SPACE": r"\S",
}


def _class_item_matches(op, av, ch: str) -> bool:
    """Whether one IN-class item (or standalone LITERAL/CATEGORY node) can
    match ``ch``. Categories are evaluated by ``re`` ITSELF (str predicates
    like isdigit() are broader than \\d, which made \\D look unable to
    match characters it does match). Unknown -> True (conservative)."""
    code = ord(ch)
    opname = str(op)
    if opname == "LITERAL":
        return av == code
    if opname == "NOT_LITERAL":
        return av != code
    if opname == "RANGE":
        return av[0] <= code <= av[1]
    if opname == "CATEGORY":
        rx = _CATEGORY_RX.get(str(av))
        if rx is None:
            return True
        return re.match(rx, ch) is not None
    return True


def _tree_can_consume(nodes, ch: str) -> bool:
    """Whether ANY consuming position of the pattern could match ``ch``.
    Unknown constructs -> True (conservative). Callers must have rejected
    scoped inline flags and global re.I/re.S/etc. first
    (_tree_zero_width_free + the flag mask in transform_skip_safety) —
    literal comparison here is flag-naive."""
    for op, av in nodes:
        opname = str(op)
        if opname == "ANY":
            if ch != "\n":
                return True
        elif opname in ("LITERAL", "NOT_LITERAL", "CATEGORY", "RANGE"):
            if _class_item_matches(op, av, ch):
                return True
        elif opname == "IN":
            negate = any(str(o) == "NEGATE" for o, _ in av)
            hit = any(
                _class_item_matches(o, a, ch)
                for o, a in av
                if str(o) != "NEGATE"
            )
            if (not hit) if negate else hit:
                return True
        elif opname == "SUBPATTERN":
            if _tree_can_consume(av[3], ch):
                return True
        elif opname in ("MAX_REPEAT", "MIN_REPEAT", "POSSESSIVE_REPEAT"):
            if _tree_can_consume(av[2], ch):
                return True
        elif opname == "BRANCH":
            if any(_tree_can_consume(b, ch) for b in av[1]):
                return True
        elif opname == "ATOMIC_GROUP":
            if _tree_can_consume(av, ch):
                return True
        elif opname in ("AT", "FAILURE"):
            continue
        else:
            return True  # GROUPREF / unknown: fail safe
    return False


def transform_skip_safety(tspec: tuple[tuple[str, str], ...]) -> tuple[bool, ...]:
    """Per enabled transform step: True iff ``sub()`` for that step is
    PROVABLY a no-op on any text whose ORIGINAL form had no match for the
    step's pattern, given only modifications made by EARLIER steps of the
    chain. That is the soundness condition for skipping the step on rows
    where span extraction (computed on the original text) found no match.

    Argument: a match appearing only in the modified text must include at
    least one character position inside an earlier replacement (unchanged
    contiguous regions match iff the original did), or attach to a seam via
    a zero-width assertion. So step i is safe when:
      - its parse tree has no zero-width assertions (no \\b/anchors/
        lookarounds — seam word-boundary flips) and no scoped inline
        flags ((?i:...) — they change class/literal semantics invisibly);
      - every EARLIER step's replacement is a NON-EMPTY constant (no
        backslash templates — output chars unknown; no deletions — a
        deletion joins the flanks and can create a match that consumes no
        replacement character);
      - the pattern cannot consume the first or last character of any
        earlier replacement (a match crossing a seam must consume one);
      - the pattern has no match strictly inside any earlier replacement's
        interior (finite check: re.search on replacement[1:-1]).
    Unknown regex constructs and parse failures fail safe (False =
    always run). The FIRST step is safe whenever its own tree is clean —
    no earlier modifications exist."""
    out: list[bool] = []
    earlier_repls: list[str] = []
    for pattern, repl in tspec:
        if not earlier_repls:
            # no earlier step has modified the text: a no-match-on-original
            # pattern cannot match, full stop
            safe = True
        elif _re_parser is None:
            safe = False
        else:
            safe = True
            try:
                tree = _re_parser.parse(pattern)
                rx = re.compile(pattern)
            except Exception:
                safe = False
            else:
                if tree.state.flags & (re.M | re.X | re.I | re.S | re.L | re.A):
                    # re.A included: ASCII mode narrows \w/\d/\s, and the
                    # consume test evaluates categories with Unicode re —
                    # a (?a) pattern could be declared unable to consume a
                    # replacement char it does match (review repro: (?a)\WZ
                    # vs replacement 'é')
                    safe = False
                elif not _tree_zero_width_free(tree):
                    safe = False
                else:
                    for r in earlier_repls:
                        if "\\" in r:
                            safe = False  # templated: output chars unknown
                            break
                        if not r:
                            # DELETION: splicing out a region joins the two
                            # flanks, which can create a match that consumes
                            # no replacement character at all
                            safe = False
                            break
                        if _tree_can_consume(tree, r[0]) or _tree_can_consume(
                            tree, r[-1]
                        ):
                            safe = False
                            break
                        if len(r) > 2 and rx.search(r[1:-1]):
                            safe = False
                            break
        out.append(safe)
        earlier_repls.append(repl)
    return tuple(out)


class SpanColumns(NamedTuple):
    """A batch's spans as flat columns (``CompiledBank.extract_columns``):
    row ``r`` owns entries ``offsets[r]:offsets[r + 1]`` of the other four."""

    offsets: np.ndarray  # int32, one more than the batch's rows
    pattern_id: np.ndarray  # int32
    start: np.ndarray  # int32
    end: np.ndarray  # int32
    match: list[str]

    def span_lists(self) -> list[list[tuple[int, int, int, str]]]:
        """Per-row lists of (pattern_id, start, end, match) tuples."""
        spans = list(
            zip(self.pattern_id.tolist(), self.start.tolist(), self.end.tolist(), self.match)
        )
        o = self.offsets.tolist()
        return [spans[a:b] for a, b in zip(o, o[1:])]


class CompiledBank:
    """Per-worker compiled form of a PatternBank.

    - ``groups``: list of (compiled_regex, [pattern_ids...]) — one entry per
      DISTINCT pattern string, preserving first-occurrence order. Matching
      runs once per distinct pattern and fans out to every pattern_id that
      shares the string (exactly reproduces duplicate-entry multicast while
      halving the reference bank's work: 8 entries -> 6 distinct).
    - ``prefilter``: a single alternation regex used as a cheap reject test
      (most turns in log corpora match nothing — 4 of 6 reference corpora
      have zero matches). None when any pattern is alternation-unsafe or
      fails to compile.
    - ``bad_ids``: pattern_ids whose regex failed to compile. The reference
      surfaces ``re.error`` only in the transform path (falls back to input,
      log_generator.py:43-46); for matching we skip bad patterns (they can
      match nothing) rather than failing the job.
    - ``literals``: per group, the pattern's required literals
      (``_required_literals``) — the literal gate of the batch kernel
      ``extract_columns``: a row lacking one of them is never scanned by
      that pattern. Every distinct pattern of the shipped bank has some
      (the ISO one needs '-', 'T' and ':'), so each scans only the rows
      that could hold its format; a pattern without any (``x*``, ``a|b``,
      ``(?i)abc``) scans every row.
    - ``group_batch_safe``: per group, whether the pattern may run once over
      the '\\n'-joined batch (``_pattern_batch_safe``); ``batch_safe`` is
      True when every group may.
    """

    def __init__(self, spec: tuple[tuple[int, str, str, str], ...]):
        by_pattern: dict[str, list[int]] = {}
        order: list[str] = []
        names: dict[int, str] = {}
        sinks: dict[int, str] = {}
        for pid, name, pattern, sink in spec:
            names[pid] = name
            sinks[pid] = sink
            if pattern not in by_pattern:
                by_pattern[pattern] = []
                order.append(pattern)
            by_pattern[pattern].append(pid)

        self.groups: list[tuple[re.Pattern, list[int]]] = []
        self.literals: list[tuple[str, ...]] = []
        self.group_batch_safe: list[bool] = []
        self.bad_ids: set[int] = set()
        alternation_ok = True
        branches: list[str] = []
        for pattern in order:
            try:
                rx = re.compile(pattern)
            except re.error:
                self.bad_ids.update(by_pattern[pattern])
                continue
            self.groups.append((rx, by_pattern[pattern]))
            self.literals.append(_required_literals(pattern))
            self.group_batch_safe.append(_pattern_batch_safe(pattern))
            branches.append(f"(?:{pattern})")
            if _UNSAFE_FOR_ALTERNATION.search(pattern):
                alternation_ok = False
        self.batch_safe = all(self.group_batch_safe)

        self.prefilter: re.Pattern | None = None
        if alternation_ok and len(branches) > 1:
            try:
                self.prefilter = re.compile("|".join(branches))
            except re.error:
                self.prefilter = None
        elif len(branches) == 1:
            self.prefilter = self.groups[0][0]

        self.names = names
        self.sinks = sinks

    def extract(self, text: str) -> list[tuple[int, int, int, str]]:
        """All spans over one turn: (pattern_id, start, end, match), in
        (bank-order-of-first-occurrence, position) order. Reproduces O4
        (core/regex_highlighter.py:16-25): patterns independent, overlaps
        across patterns coexist, finditer leftmost-non-overlapping within
        one pattern, duplicates fan out."""
        if text is None:
            # '' deliberately flows through finditer: empty-matchable patterns
            # (x*, \d*) yield an empty match at offset 0, exactly like the
            # reference's per-entry finditer.
            return []
        if self.prefilter is not None and self.prefilter.search(text) is None:
            return []
        out: list[tuple[int, int, int, str]] = []
        for rx, pids in self.groups:
            ms = [(m.start(), m.end(), m.group(0)) for m in rx.finditer(text)]
            if not ms:
                continue
            for pid in pids:
                out.extend((pid, s, e, g) for (s, e, g) in ms)
        out.sort(key=lambda t: (t[0], t[1]))
        return out

    def extract_columns(self, texts: list) -> SpanColumns:
        """The batch kernel: every span of every row as flat columns,
        ordered by (row, pattern_id, start) with each (row, pattern_id)'s
        spans in ``finditer`` order — row ``r``'s spans are
        ``[offsets[r], offsets[r + 1])`` and equal ``extract(texts[r])``
        (``[]`` for a null row).

        Per distinct pattern, the rows lacking one of its required
        literals are dropped first (no match can exist there). A
        batch-safe pattern then runs ONE ``finditer`` over the surviving
        rows joined with '\\n', match offsets mapped back to rows; any
        other pattern runs per surviving row."""
        live = [i for i, t in enumerate(texts) if isinstance(t, str)]
        rows, pids, starts, ends, matches = [], [], [], [], []
        for (rx, group_pids), lits, safe in zip(
            self.groups, self.literals, self.group_batch_safe
        ):
            idx = live
            for lit in lits:
                idx = [i for i in idx if lit in texts[i]]
            if not idx:
                continue
            if safe:
                kept = [texts[i] for i in idx]
                ms = [(m.start(), m.end(), m.group(0)) for m in rx.finditer("\n".join(kept))]
                if not ms:
                    continue
                row0 = np.zeros(len(kept), dtype=np.int64)
                np.cumsum(
                    np.fromiter(map(len, kept), dtype=np.int64, count=len(kept))[:-1] + 1,
                    out=row0[1:],
                )
                s = np.fromiter((m[0] for m in ms), dtype=np.int64, count=len(ms))
                e = np.fromiter((m[1] for m in ms), dtype=np.int64, count=len(ms))
                local = np.searchsorted(row0, s, side="right") - 1
                r = np.asarray(idx, dtype=np.int64)[local]
                s -= row0[local]
                e -= row0[local]
                g = [m[2] for m in ms]
            else:
                ms = [
                    (i, m.start(), m.end(), m.group(0))
                    for i in idx
                    for m in rx.finditer(texts[i])
                ]
                if not ms:
                    continue
                r, s, e, g = (list(c) for c in zip(*ms))
            for pid in group_pids:
                rows.append(r)
                pids.append(np.full(len(g), pid, dtype=np.int64))
                starts.append(s)
                ends.append(e)
                matches.extend(g)
        n = len(texts)
        if not matches:
            empty = np.zeros(0, dtype=np.int32)
            return SpanColumns(np.zeros(n + 1, dtype=np.int32), empty, empty, empty, [])
        row = np.concatenate(rows).astype(np.int64)
        pid = np.concatenate(pids)
        # each (row, pattern_id) run is already in finditer order, so a
        # STABLE sort on (row, pattern_id) alone reproduces extract's order
        rank = pid - pid.min()
        order = np.argsort(row * (int(rank.max()) + 1) + rank, kind="stable")
        offsets = np.zeros(n + 1, dtype=np.int32)
        np.cumsum(np.bincount(row, minlength=n), out=offsets[1:])
        return SpanColumns(
            offsets,
            pid[order].astype(np.int32),
            np.concatenate(starts)[order].astype(np.int32),
            np.concatenate(ends)[order].astype(np.int32),
            [matches[k] for k in order.tolist()],
        )

    def extract_batch(self, texts: list) -> list[list[tuple[int, int, int, str]]]:
        """Per-row span lists over a batch: ``extract_columns`` viewed as
        ``[extract(t) for t in texts]`` (``[]`` for null rows)."""
        return self.extract_columns(texts).span_lists()


def get_compiled_bank(spec: tuple[tuple[int, str, str, str], ...]) -> CompiledBank:
    cb = _COMPILED_CACHE.get(("bank", spec))
    if cb is None:
        cb = CompiledBank(spec)
        _COMPILED_CACHE[("bank", spec)] = cb
    return cb


class CompiledTransforms:
    """Per-worker compiled form of a TransformBank's enabled entries.

    Compile errors are detected once per entry at compile time; a bad entry
    becomes the identity transform (the reference falls back to the raw
    sample on ``re.error``, gui/log_generator.py:43-46)."""

    def __init__(self, spec: tuple[tuple[str, str], ...]):
        self.steps: list[tuple[re.Pattern, str]] = []
        compiled_spec: list[tuple[str, str]] = []
        for pattern, replacement in spec:
            try:
                self.steps.append((re.compile(pattern), replacement))
            except re.error:
                continue  # identity: skip — output text unchanged by this entry
            compiled_spec.append((pattern, replacement))
        # aligned with self.steps (identity entries never modify text, so
        # they are rightly absent from the earlier-replacement analysis)
        self.patterns: tuple[str, ...] = tuple(p for p, _ in compiled_spec)
        self.skip_safe: tuple[bool, ...] = transform_skip_safety(
            tuple(compiled_spec)
        )

    def apply(self, text: str) -> str:
        for rx, repl in self.steps:
            try:
                text = rx.sub(repl, text)
            except re.error:
                # e.g. a replacement template referencing a missing group
                continue
        return text

    def apply_steps(self, text: str, run: list[int]) -> str:
        """Apply only the steps at the given indices, in chain order —
        callers must have established (via ``skip_safe`` + original-text
        match knowledge) that the omitted steps are no-ops."""
        for j in run:
            rx, repl = self.steps[j]
            try:
                text = rx.sub(repl, text)
            except re.error:
                continue
        return text


def get_compiled_transforms(spec: tuple[tuple[str, str], ...]) -> CompiledTransforms:
    ct = _COMPILED_CACHE.get(("tf", spec))
    if ct is None:
        ct = CompiledTransforms(spec)
        _COMPILED_CACHE[("tf", spec)] = ct
    return ct
