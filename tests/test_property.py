"""Property-based ring (SURVEY.md §5): random text x the reference bank —
the deduped+prefiltered CompiledBank must equal the literal per-entry oracle
on arbitrary input, and template substitution must match re.sub."""

from __future__ import annotations

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from logparserhelper_spark import oracle
from logparserhelper_spark.banks import bank_from_dicts, get_compiled_bank
from logparserhelper_spark.defaults import default_pattern_bank

BANK = default_pattern_bank()
CB = get_compiled_bank(BANK.spec())

# text shaped like logs: words, digits, date-ish separators, newlines absent
# (per-turn text), plus fragments engineered near the bank's formats
date_fragment = st.sampled_from(
    [
        "2025-06-06T01:02:03", "2025-06-06 01:02:03,123", "01/02/2025 03:04:05",
        "Jun  9 06:06:19", "Jun 19 06:06:19", "[12/Jun/2025:01:02:03 +0000]",
        "Mon, 9 Jun 2025 01:02:03 +0000", "2025-13-99T99:99:99",
        "99/99/9999 99:99:99", "-06-06 01:02:03", "2025-06-06 01:02:03,12",
    ]
)
chunk = st.one_of(
    st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=20
    ),
    date_fragment,
    st.text(alphabet="0123456789-:/ ,T+", max_size=16),
)
texts = st.lists(chunk, max_size=8).map(" ".join)


@settings(max_examples=300, deadline=None)
@given(texts)
def test_compiled_bank_equals_oracle(text):
    assert CB.extract(text) == oracle.extract_spans(text, BANK)


@settings(max_examples=200, deadline=None)
@given(texts, st.sampled_from([e.pattern for e in BANK.entries] + ["(bad", r"(\d)\1"]))
def test_transform_matches_re_sub(text, pattern):
    got = oracle.apply_transform(text, pattern, "<D>")
    try:
        exp = re.sub(pattern, "<D>", text)
    except re.error:
        exp = text
    assert got == exp


@settings(max_examples=100, deadline=None)
@given(st.lists(st.sampled_from(["a+", r"\d+", "(x", "b{2}", r"\w\w"]), min_size=1, max_size=6), texts)
def test_arbitrary_banks(patterns, text):
    bank = bank_from_dicts([{"name": f"p{i}", "pattern": p} for i, p in enumerate(patterns)])
    cb = get_compiled_bank(bank.spec())
    assert cb.extract(text) == oracle.extract_spans(text, bank)


@settings(max_examples=150, deadline=None)
@given(st.lists(texts, min_size=0, max_size=80))
def test_extract_batch_equals_per_row(batch):
    assert CB.batch_safe
    got = CB.extract_batch(batch)
    exp = [CB.extract(t) for t in batch]
    assert got == exp


def test_batch_safety_gate():
    unsafe = bank_from_dicts([{"name": "anch", "pattern": r"^\d+$"}])
    cbu = get_compiled_bank(unsafe.spec())
    assert not cbu.batch_safe
    # gated fallback still correct for anchored patterns
    batch = ["123", "x123", "456"] * 20
    assert cbu.extract_batch(batch) == [cbu.extract(t) for t in batch]
    ws = bank_from_dicts([{"name": "ws", "pattern": r"a\sb"}])
    assert not get_compiled_bank(ws.spec()).batch_safe


def test_batch_safety_gate_hidden_newlines():
    """Escapes and class ranges that reach '\\n' without any literal token a
    source grep could see (the round-1 gate's blind spots)."""
    hidden = [
        r"\x0A", r"a\012b", r"[\x00-\x7F]+", r"[\t-\r]", r"a(?=[\s\S])",
        r"(?m)^a", r"(?s)a.b", "\\N{LINE FEED}",
    ]
    for p in hidden:
        b = bank_from_dicts([{"name": "h", "pattern": p}])
        cb = get_compiled_bank(b.spec())
        assert not cb.batch_safe, p
        # and the gated fallback is still exactly per-row
        batch = ["a 1 b", "", "a\tb", "xx"] * 10
        assert cb.extract_batch(batch) == [cb.extract(t) for t in batch], p


def test_empty_text_empty_matchable():
    """'' flows through finditer: empty-matchable patterns yield the
    reference's empty match at offset 0 (oracle parity)."""
    b = bank_from_dicts([{"name": "star", "pattern": r"x*"}])
    cb = get_compiled_bank(b.spec())
    assert cb.extract("") == oracle.extract_spans("", b) == [(0, 0, 0, "")]
    assert cb.extract(None) == []
    # batch path agrees, including None rows
    batch = ["", "xx a", None, "b"] * 10
    exp = [cb.extract(t) if isinstance(t, str) else [] for t in batch]
    assert cb.extract_batch(batch) == exp


_ADV_PATTERNS = st.sampled_from(
    [r"a+", r"\d+", r"x*", r"\d*", r"(ab?)*", r"\bjoin\b", r"a.b", r"[a-z]{2}",
     r"a(?!b)", r"(?<=a)b", r"z?"]
)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(_ADV_PATTERNS, min_size=1, max_size=4),
    st.lists(st.one_of(texts, st.just("")), min_size=32, max_size=64),
)
def test_batch_equals_per_row_empty_matchable(patterns, batch):
    bank = bank_from_dicts([{"name": f"p{i}", "pattern": p} for i, p in enumerate(patterns)])
    cb = get_compiled_bank(bank.spec())
    assert cb.batch_safe
    assert cb.extract_batch(batch) == [cb.extract(t) for t in batch]


def test_required_literals():
    """The literal gate's runs: top-level literal runs of each distinct bank
    pattern, minus runs inside a longer one; none under global (?i), inside
    a scoped-flag group, or behind an alternation or a repeat."""
    from logparserhelper_spark.banks import _required_literals

    assert CB.literals == [
        ("-", "T", ":"),
        (", ", ":"),
        ("/", " ", ":"),
        ("[", "/", ":", " ", "]"),
        ("-", " ", ":", ","),
        ("  ", ":"),
    ]
    assert CB.literals == [_required_literals(rx.pattern) for rx, _pids in CB.groups]
    for p in ("(?i)abc", "a|b", "a?", "x*"):
        assert _required_literals(p) == (), p
    assert _required_literals("(?i:ab)c") == ("c",)


_GATE_PATTERNS = st.sampled_from(
    [r"ab+c", r"x\d{2}y", r"(?<=k)v+k", r"w(?!z)\w", r"(?i:q)r", r"é\w*😀",
     r"\bjo(?:in|b)\b", r"m?n", r"st|uv", r"\d*", r"k\B", r"(?i)ab", r"a(?=b)",
     r"[a-c]{2}c", r"𝔸+x"]
)
_gate_text = st.text(alphabet="abcjoinkvwzqQrRé😀𝔸xy0123 stumn", max_size=24)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(_GATE_PATTERNS, min_size=1, max_size=4),
    st.lists(st.one_of(st.none(), _gate_text), max_size=60),
)
def test_literal_gated_batch_equals_per_row(patterns, batch):
    """Banks mixing literals with repeats, lookarounds and scoped flags,
    over batches with rows that lack the literals, non-BMP characters and
    None rows: the gated columnar kernel equals per-row extract."""
    bank = bank_from_dicts([{"name": f"p{i}", "pattern": p} for i, p in enumerate(patterns)])
    cb = get_compiled_bank(bank.spec())
    assert cb.extract_batch(batch) == [cb.extract(t) for t in batch]


def test_non_boundary_runs_per_row():
    r"""r'\B' never matches an empty string, but it matches an empty row
    between two separators of the joined batch, so it is not batch-safe."""
    cb = get_compiled_bank(bank_from_dicts([{"name": "nb", "pattern": r"\B"}]).spec())
    assert not cb.batch_safe
    batch = ["a", "", "!", None] * 10
    assert cb.extract_batch(batch) == [cb.extract(t) for t in batch]


# --- skip-aware normalization == full sequential chain -----------------------

from logparserhelper_spark.banks import get_compiled_transforms  # noqa: E402
from logparserhelper_spark.defaults import default_transform_bank  # noqa: E402
from logparserhelper_spark.operators.extract import (  # noqa: E402
    normalize_batch_with_span_knowledge,
)

TCT = get_compiled_transforms(default_transform_bank().spec())


def _full_chain(text: str) -> str:
    out = text
    for rx, repl in TCT.steps:
        out = rx.sub(repl, out)
    return out


@settings(max_examples=400, deadline=None)
@given(texts)
def test_skip_aware_normalize_equals_full_chain(text):
    spans = [CB.extract(text)]
    got = normalize_batch_with_span_knowledge([text], spans, BANK.spec(), TCT)
    assert got == [_full_chain(text)]


def test_skip_aware_normalize_adversarial_seams():
    """Hand-built seam cases: adjacent timestamps of different patterns,
    duplicate-pattern overlap, pre-existing <DATE> tokens, month-name
    characters abutting a replaced region, and replacement-interior bait."""
    cases = [
        # two different patterns back-to-back (seam between replacements)
        "2025-06-06T01:02:03Jun  9 06:06:19",
        "Jun  9 06:06:192025-06-06 01:02:03,123",
        # duplicate-pattern region (p4 == p5)
        "x 2025-06-06 01:02:03,123 y",
        # literal <DATE> already present around a real timestamp
        "<DATE>2025-06-06T01:02:03<DATE>",
        "pre <DATE 01/02/2025 03:04:05 DATE> post",
        # month-name-ish letters directly before/after a match
        "Mon2025-06-06T01:02:03Tue",
        "DAT2025-06-06T01:02:03E",
        # near-miss fragments that must NOT be replaced
        "2025-06-06T01:02 Jun 9 06:06 01/02/2025",
        # RFC2822 (matchable only via \w{3} word chars) next to ISO
        "Mon, 9 Jun 2025 01:02:03 +0000 2025-06-06T01:02:03",
        # empty and whitespace
        "", "   ",
    ]
    spans = [CB.extract(t) for t in cases]
    got = normalize_batch_with_span_knowledge(cases, spans, BANK.spec(), TCT)
    assert got == [_full_chain(t) for t in cases]


def test_skip_safety_conservative_on_unsafe_chains():
    """Chains the analyzer must refuse to skip: zero-width assertions after
    a replacement, templated replacements, interior/edge-consumable
    replacements. Step 0 is always safe (nothing modified the text yet)."""
    from logparserhelper_spark.banks import transform_skip_safety

    assert transform_skip_safety(((r"\bfoo\b", "<X>"), (r"\bbar\b", "<Y>"))) == (
        True,
        False,
    )
    assert transform_skip_safety(((r"(\d)x", r"\1y"), (r"\d+", "<N>"))) == (
        True,
        False,
    )
    assert transform_skip_safety(((r"\d+", "<9>"), (r"\d+", "<N>"))) == (
        True,
        False,
    )
    assert transform_skip_safety(((r"\d+", "<N>"), (r"[A-Z<]+", "<U>"))) == (
        True,
        False,
    )
    # the shipped default chain is fully skippable
    assert all(TCT.skip_safe)


def test_skip_safety_deletion_and_scoped_flags_unsafe():
    """Code-review repros: an EMPTY earlier replacement (deletion) joins
    flanking characters and can create a later match without consuming any
    replacement char; scoped inline flags change literal semantics the
    analyzer can't see; \\D matches characters str.isdigit() calls digits.
    All three must be marked unsafe — and the skip-aware path must still
    equal the full chain when asked to normalize them."""
    from logparserhelper_spark.banks import (
        bank_from_dicts,
        get_compiled_bank,
        get_compiled_transforms,
        transform_skip_safety,
    )

    # deletion seam: 'b-X' -> (delete '-') -> 'bX' -> '<T>'
    assert transform_skip_safety((("-", ""), ("bX", "<T>"))) == (True, False)
    # scoped ignorecase: replacement 'B' completes '(?i:b)x' on 'qx'->'Bx'
    assert transform_skip_safety((("q", "B"), (r"(?i:b)x", "<T>"))) == (
        True,
        False,
    )
    # \D matches '²' although '²'.isdigit() is True
    assert transform_skip_safety((("5", "²"), (r"\DX", "<T>"))) == (True, False)

    # end-to-end: skip-aware output equals the full chain on the repros
    from logparserhelper_spark.operators.extract import (
        normalize_batch_with_span_knowledge,
    )

    for tspec, text in [
        ((("-", ""), ("bX", "<T>")), "b-X"),
        ((("q", "B"), (r"(?i:b)x", "<T>")), "qx"),
        ((("5", "²"), (r"\DX", "<T>")), "5X"),
    ]:
        bank = bank_from_dicts(
            [{"name": f"p{i}", "pattern": p} for i, (p, _r) in enumerate(tspec)]
        )
        cb = get_compiled_bank(bank.spec())
        ct = get_compiled_transforms(tspec)
        full = text
        for rx, repl in ct.steps:
            full = rx.sub(repl, full)
        got = normalize_batch_with_span_knowledge(
            [text], [cb.extract(text)], bank.spec(), ct
        )
        assert got == [full], (tspec, text, got, full)


def test_skip_aware_normalize_long_document():
    """Multi-KB single row (the asymptotic case the splice path exists
    for): many embedded timestamps across formats, equality with the full
    sequential chain."""
    import random

    rng = random.Random(3)
    frags = [
        "2025-06-06T01:02:03", "2025-06-06 01:02:03,123",
        "01/02/2025 03:04:05", "Jun  9 06:06:19",
        "Mon, 9 Jun 2025 01:02:03 +0000", "plain words here",
        "numbers 123456 and 99:99", "<DATE> literal already",
    ]
    doc = " | ".join(rng.choice(frags) for _ in range(4000))  # ~90KB
    spans = [CB.extract(doc)]
    got = normalize_batch_with_span_knowledge([doc], spans, BANK.spec(), TCT)
    assert got == [_full_chain(doc)]
    assert "<DATE>" in got[0] and "2025-06-06T01:02:03" not in got[0]


# --- multimodal decoder fuzz -------------------------------------------------


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=512))
def test_auto_decode_never_raises(payload):
    """auto_decode on arbitrary bytes (incl. forged BM/P6/RIFF headers) must
    always return FEATURE_DIM finite floats — malformed containers fall back
    to the deterministic fake, never crash the executor."""
    import math

    from logparserhelper_spark.functions.multimodal import FEATURE_DIM, auto_decode

    out = auto_decode(payload)
    assert len(out) == FEATURE_DIM
    assert all(math.isfinite(float(x)) for x in out)


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=256))
def test_auto_decode_forged_magic_never_raises(tail):
    from logparserhelper_spark.functions.multimodal import FEATURE_DIM, auto_decode

    for magic in (b"BM", b"P6", b"RIFF\x00\x00\x00\x00WAVE"):
        out = auto_decode(magic + tail)
        assert len(out) == FEATURE_DIM


def test_skip_safety_ascii_mode_unsafe():
    """(?a) ASCII-mode patterns must not be marked skip-safe: the consume
    test evaluates categories with Unicode re, so under ASCII mode \\W can
    match a replacement char the analyzer says it cannot (review repro)."""
    from logparserhelper_spark.banks import transform_skip_safety

    assert transform_skip_safety((("x", "é"), (r"(?a)\WZ", "<T>"))) == (
        True,
        False,
    )


def test_stratified_sample_keeps_null_strata(spark):
    """NULL stratum / NULL id rows hash under a sentinel instead of being
    silently dropped by concat null-propagation."""
    from logparserhelper_spark.functions.curation import stratified_sample

    df = spark.createDataFrame(
        [(1, "en"), (2, None), (None, "en"), (None, None)] + [(i, "de") for i in range(10, 40)],
        "doc_id long, lang string",
    )
    kept_all = stratified_sample(df, "lang", 1.0, id_col="doc_id")
    assert kept_all.count() == df.count()  # fraction 1.0 keeps EVERY row
    kept_none = stratified_sample(df, "lang", 0.0, id_col="doc_id")
    assert kept_none.count() == 0
    # determinism across calls/partitionings
    a = {tuple(r) for r in stratified_sample(df, "lang", 0.5).collect()}
    b = {tuple(r) for r in stratified_sample(df.repartition(7), "lang", 0.5).collect()}
    assert a == b


# --- randomized-bank fuzz of the full skip/splice/safety stack ---------------

_FUZZ_PATTERNS = [
    r"\d+", r"[a-z]{2}", r"\bfoo\b", r"(?i:bar)", r"x+", r"<\w+>",
    r"\d{2}:\d{2}", r"(ab|cd)", r"q(?=u)", r"(\d)y", r"(bad", r"\W",
]
_FUZZ_REPLS = ["<T>", "", "9", "<A B>", r"\1!", "é", "zz"]


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.tuples(st.sampled_from(_FUZZ_PATTERNS), st.sampled_from(_FUZZ_REPLS)),
        min_size=1,
        max_size=4,
    ),
    st.text(alphabet="abqufoxdy<>TAB 0123456789:é!", max_size=60),
)
def test_random_banks_skip_aware_equals_full_chain(steps, text):
    """Arbitrary small transform chains — including \\b, scoped flags,
    lookahead, deletions, templated replacements, chars the replacements
    contain — where every transform pattern is also a bank pattern: the
    skip/splice machinery must equal the sequential re.sub chain exactly.
    This fuzzes transform_skip_safety's conservatism end-to-end: an unsound
    'safe' verdict shows up here as an output mismatch."""
    from logparserhelper_spark.banks import (
        bank_from_dicts,
        get_compiled_bank,
        get_compiled_transforms,
    )
    from logparserhelper_spark.operators.extract import (
        normalize_batch_with_span_knowledge,
    )

    tspec = tuple(steps)
    bank = bank_from_dicts(
        [{"name": f"p{i}", "pattern": p} for i, (p, _r) in enumerate(tspec)]
    )
    cb = get_compiled_bank(bank.spec())
    ct = get_compiled_transforms(tspec)
    full = ct.apply(text)
    got = normalize_batch_with_span_knowledge(
        [text], [cb.extract(text)], bank.spec(), ct
    )
    assert got == [full], (tspec, text)


# ---------------------------------------------------------------------------
# codec round-trip properties: random images through every container must
# reproduce the SAME features as the plain BMP path (lossless containers) or
# the baseline layout (JPEG transcodes)
# ---------------------------------------------------------------------------

_img_dims = st.tuples(st.integers(1, 19), st.integers(1, 17))


@settings(max_examples=60, deadline=None)
@given(
    _img_dims,
    st.randoms(use_true_random=False),
    st.booleans(),
    st.sampled_from([1, 8, 32773]),
    st.booleans(),
)
def test_property_lossless_containers_agree(dims, rnd, interlaced, tiff_comp, big_endian):
    """PNG (interlaced or not), GIF, and TIFF (any compression/endianness)
    of the same random pixels must yield byte-identical features to BMP."""
    import numpy as np

    from logparserhelper_spark.functions.multimodal import (
        bmp_decode,
        gif_decode,
        make_bmp,
        make_gif,
        make_png,
        make_tiff,
        png_decode,
        tiff_decode,
    )

    w, h = dims
    px = [
        [tuple(rnd.randrange(256) for _ in range(3)) for _ in range(w)]
        for _ in range(h)
    ]
    ref = bmp_decode(make_bmp(w, h, px))
    fp = png_decode(
        make_png(w, h, px, color_type=2, interlaced=interlaced,
                 filters=[rnd.randrange(5) for _ in range(7)])
    )
    assert np.allclose(fp[3:], ref[3:], atol=1e-6)
    ft = tiff_decode(
        make_tiff(w, h, px, compression=tiff_comp,
                  rows_per_strip=rnd.randrange(1, h + 1), big_endian=big_endian)
    )
    assert np.allclose(ft[3:], ref[3:], atol=1e-6)
    # GIF needs a palette: quantize to <=64 distinct colors
    pal = sorted({c for row in px for c in row})[:64]
    pmap = {c: i for i, c in enumerate(pal)}
    idx = [[pmap.get(c, 0) for c in row] for row in px]
    px_q = [[pal[i] for i in row] for row in idx]
    refq = bmp_decode(make_bmp(w, h, px_q))
    fg = gif_decode(make_gif(w, h, pal, idx, interlaced=interlaced))
    assert np.allclose(fg[3:], refq[3:], atol=1e-6)


@settings(max_examples=30, deadline=None)
@given(_img_dims, st.randoms(use_true_random=False), st.booleans(), st.integers(70, 98))
def test_property_jpeg_layouts_agree(dims, rnd, subsample, quality):
    """Progressive and multi-scan-sequential transcodes of the same random
    image must decode EXACTLY equal to the single-scan baseline layout."""
    import numpy as np

    from logparserhelper_spark.functions.jpeg import decode_jpeg, encode_jpeg

    w, h = dims
    img = np.array(
        [[[rnd.randrange(256) for _ in range(3)] for _ in range(w)] for _ in range(h)],
        dtype=np.uint8,
    )
    base = decode_jpeg(encode_jpeg(img, quality=quality, subsample=subsample))
    prog = decode_jpeg(
        encode_jpeg(img, quality=quality, subsample=subsample, progressive=True)
    )
    split = decode_jpeg(
        encode_jpeg(img, quality=quality, subsample=subsample, scan_split=True)
    )
    assert np.array_equal(base, prog)
    assert np.array_equal(base, split)


@settings(max_examples=40, deadline=None)
@given(
    _img_dims,
    st.randoms(use_true_random=False),
    st.booleans(),
    st.sampled_from([1, 8, 32773]),
    st.booleans(),
)
def test_property_pixel_plane_container_invariant(dims, rnd, interlaced, tiff_comp, big_endian):
    """Identical random pixels through BMP / PNG (any filter, Adam7 or
    not) / TIFF (any compression, strip height, byte order) / PPM decode
    to the IDENTICAL pixel plane — a single mis-decoded pixel anywhere
    fails the comparison. Stronger than the 16-float feature ring above."""
    import numpy as np

    from logparserhelper_spark.functions.multimodal import (
        auto_decode_bgr,
        make_bmp,
        make_png,
        make_tiff,
    )

    w, h = dims
    px = [
        [tuple(rnd.randrange(256) for _ in range(3)) for _ in range(w)]
        for _ in range(h)
    ]
    rw, rh, _bpp, ref = auto_decode_bgr(make_bmp(w, h, px))
    assert (rw, rh) == (w, h)
    flat = bytes(v for row in px for c in row for v in c)
    for payload in (
        make_png(w, h, px, color_type=2, interlaced=interlaced,
                 filters=[rnd.randrange(5) for _ in range(7)]),
        make_tiff(w, h, px, compression=tiff_comp,
                  rows_per_strip=rnd.randrange(1, h + 1), big_endian=big_endian),
        b"P6\n%d %d\n255\n" % (w, h) + flat,
    ):
        gw, gh, _bpp, got = auto_decode_bgr(payload)
        assert (gw, gh) == (w, h)
        assert np.array_equal(got, ref)


