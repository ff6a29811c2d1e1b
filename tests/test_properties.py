"""Property-based tests (Hypothesis) over the Spark-free semantic core.

These pin invariants the distributed engine depends on for correctness at
any parallelism: determinism, span well-formedness, splice safety, and
batch-vs-single equivalence (the property that makes Arrow batching a pure
optimization).
"""

from __future__ import annotations

from hypothesis import example, given, settings
from hypothesis import strategies as st

from pii_redactor_spark.core import gazetteers as gz
from pii_redactor_spark.core.detect import (
    _DATE_HE_CONFIDENCE,
    _GAZ_CONFIDENCE,
    _STRUCTURED_CONFIDENCE,
    detect_batch,
    detect_spans,
)
from pii_redactor_spark.core.patterns import COMPILED_DETECT, HEBREW_MONTHS
from pii_redactor_spark.core.langid import classify_batch
from pii_redactor_spark.core.quality import DEFAULT_QUALITY, quality_flags_batch
from pii_redactor_spark.core.redact import redact_simple, redact_typed
from pii_redactor_spark.core.reference_impl import scrub_text

# Text alphabet: Latin, Hebrew, digits, punctuation, whitespace, a few emoji.
_text = st.text(
    alphabet=st.one_of(
        st.characters(min_codepoint=0x20, max_codepoint=0x7E),
        st.characters(min_codepoint=0x5D0, max_codepoint=0x5EA),  # Hebrew
        st.sampled_from("éèüßñá\n\t🎉"),
    ),
    max_size=300,
)


@given(_text)
@settings(max_examples=200, deadline=None)
def test_detect_spans_well_formed(text):
    spans = detect_spans(text)
    prev_end = -1
    for s, e, _kind, _conf in sorted(spans):
        assert 0 <= s < e <= len(text)
        assert s >= prev_end  # non-overlapping
        prev_end = e


@given(_text)
@settings(max_examples=200, deadline=None)
def test_scrub_deterministic_and_total(text):
    a = scrub_text(text)
    b = scrub_text(text)
    assert a.scrubbed == b.scrubbed
    assert a.keep == b.keep
    assert a.lang == b.lang


@given(_text)
@settings(max_examples=200, deadline=None)
def test_redaction_preserves_non_entity_text(text):
    spans = [(s, e, k) for s, e, k, _c in detect_spans(text)]
    typed = redact_typed(text, spans)
    # removing all mask tokens leaves only characters from the original
    leftover = typed
    for mask in ("[NAME_REDACTED]", "[EMAIL_REDACTED]", "[PHONE_REDACTED]",
                 "[ID_REDACTED]", "[REDACTED]"):
        leftover = leftover.replace(mask, "\x00")
    pieces = [p for p in leftover.split("\x00")]
    pos = 0
    for piece in pieces:
        idx = text.find(piece, pos)
        assert idx >= 0, (text, typed, piece)
        pos = idx + len(piece)


@given(_text)
@settings(max_examples=100, deadline=None)
def test_simple_redaction_never_longer_spanwise(text):
    spans = [(s, e, k) for s, e, k, _c in detect_spans(text)]
    simple = redact_simple(text, spans)
    if not spans:
        assert simple == text


@given(st.lists(_text, max_size=20))
@settings(max_examples=50, deadline=None)
def test_batch_equals_single_for_quality_and_langid(texts):
    """Arrow batching must be a pure optimization: scoring N texts together
    gives exactly the per-text results."""
    flags_b, bpc_b, _ = quality_flags_batch(texts, DEFAULT_QUALITY)
    langs_b, confs_b = classify_batch(texts)
    for i, t in enumerate(texts):
        flags_s, bpc_s, _ = quality_flags_batch([t], DEFAULT_QUALITY)
        langs_s, confs_s = classify_batch([t])
        assert flags_b[i] == flags_s[0]
        assert abs(bpc_b[i] - bpc_s[0]) < 1e-9
        assert langs_b[i] == langs_s[0]
        assert abs(confs_b[i] - confs_s[0]) < 1e-9


@given(_text, st.sampled_from([0.0, 0.6, 0.7, 0.85, 0.95, 1.0]))
@settings(max_examples=150, deadline=None)
def test_confidence_threshold_monotone(text, thr):
    """Raising the threshold can only remove spans (the reference's
    precision/recall dial): every span detected at `thr` also appears at
    the default 0.5, and no surviving span scores below `thr`."""
    hi = detect_spans(text, confidence_threshold=thr)
    lo = detect_spans(text, confidence_threshold=0.0)
    assert all(c >= thr for _s, _e, _t, c in hi)
    # spans surviving the high threshold are, span-for-span, a subset of
    # the candidates the permissive run considered (same bank ordering) —
    # check via position containment in the permissive candidate set
    lo_keys = {(s, e, t) for s, e, t, _c in lo}
    for s, e, t, _c in hi:
        assert (s, e, t) in lo_keys or any(
            ls <= s and e <= le for ls, le, _lt, _lc in lo
        )


# --- engine vs independent-oracle differential ------------------------------
# The contract queries hash-check the engine against the oracle walk on the
# fixed testdata corpus; this fuzz extends the same differential to
# arbitrary generated text (PII fragments, sre-special codepoints, NULs),
# guarding both implementations against future drift in either direction.

_pii_fragments = st.sampled_from([
    "john.doe@example.com", "123-45-6789", "(555) 123-4567", "123456789",
    "4532-1234-5678-9012", "01/01/1980", "050-1234567", "AB1234567",
    "John Smith", "אלון כהן", "יוסי כהן", "Evelyn Hartley",
    "רחוב הרצל 45, תל אביב", "12 במרץ 1985", "01-23-45-67-89",
])
_oracle_text = st.one_of(
    _text,
    st.tuples(_text, _pii_fragments, _text).map(
        lambda t: f"{t[0]} {t[1]} {t[2]}"
    ),
    st.sampled_from(["", "\x00", "ıİſKÅ mixed", "   "]),
)


@given(_oracle_text)
@settings(max_examples=300, deadline=None)
def test_engine_matches_independent_oracle_walk(text):
    from pii_redactor_spark.fixtures.oracle_cache import (
        _build_lm,
        _detection_banks,
        _langid_scorers,
        _oracle_keep,
        _oracle_langid,
        _oracle_scrubbed,
        _oracle_scrubbed_simple,
        _oracle_spans,
    )

    if not hasattr(test_engine_matches_independent_oracle_walk, "_ctx"):
        test_engine_matches_independent_oracle_walk._ctx = (
            _detection_banks(), _langid_scorers(), _build_lm()
        )
    banks, (stop_re, marker_re), lm = (
        test_engine_matches_independent_oracle_walk._ctx
    )

    r = scrub_text(text)
    spans = _oracle_spans(text, banks)
    assert [(s, e) for s, e, _t in
            [(en["start"], en["end"], en["entity_type"])
             for en in r.entities]] == spans
    assert r.scrubbed == _oracle_scrubbed(text, spans), text
    assert r.scrubbed_simple == _oracle_scrubbed_simple(text, spans), text
    assert r.lang == _oracle_langid(text, stop_re, marker_re), text
    assert r.keep == _oracle_keep(text, lm), text


# --- batch kernel vs a plain per-text scan -----------------------------------
# detect_batch scans guarded joins of many texts with rewritten fast-scan
# patterns; the reference below scans each text alone with every documented
# bank, unguarded, and resolves overlaps longest-span-wins.
_DOCUMENTED_BANKS = [
    (t, p, _GAZ_CONFIDENCE[t]) for t, p in gz.GAZETTEER_PATTERNS
] + [
    (t, p, _STRUCTURED_CONFIDENCE.get(p.pattern, _DATE_HE_CONFIDENCE))
    for t, p in COMPILED_DETECT
]


def _reference_spans(text, thr):
    cands = [
        (m.start(), m.end(), t, c)
        for t, p, c in _DOCUMENTED_BANKS if c >= thr
        for m in p.finditer(text)
    ]
    kept = []
    # stable sort: equal lengths keep bank-then-position discovery order
    for s, e, t, c in sorted(cands, key=lambda x: x[0] - x[1]):
        if all(e <= ks or s >= ke for ks, ke, _t, _c in kept):
            kept.append((s, e, t, c))
    return sorted(kept)


_GAZ_WORDS = sorted({
    w
    for words in (
        gz.HE_FIRST_NAMES, gz.HE_SURNAMES, gz.HE_CITIES, gz.HE_STREETS,
        HEBREW_MONTHS, gz.HE_FIRST_NAMES_DETECT_EXTRA,
        gz.LATIN_FIRST_DETECT_EXTRA, gz.LATIN_LAST_DETECT_EXTRA,
        *(v for lang in gz.LATIN_NAMES.values() for v in lang.values()),
    )
    for w in words
})
# digits come in runs of one script at a time (ASCII, Arabic-Indic, or the
# astral mathematical digits), so some texts hold no ASCII digit at all
_digit_run = st.sampled_from([
    "0123456789", "".join(map(chr, range(0x660, 0x66A))),
    "".join(map(chr, range(0x1D7CE, 0x1D7D8))),
]).flatmap(lambda ds: st.text(alphabet=ds + "-", min_size=1, max_size=12))
_kernel_text = st.lists(
    st.one_of(
        st.characters(min_codepoint=0x20, max_codepoint=0x7E,
                      blacklist_characters="0123456789"),
        st.sampled_from("\x00\n\t@-./()+*_ "),
        st.characters(min_codepoint=0x5D0, max_codepoint=0x5EA),
        st.sampled_from(_GAZ_WORDS),
        _digit_run,
        _pii_fragments,
    ),
    max_size=30,
).map("".join)


@given(
    st.one_of(
        st.just([]),
        st.lists(_kernel_text, min_size=1, max_size=1),
        st.lists(_kernel_text, min_size=2, max_size=16),
    ),
    st.sampled_from([0.0, 0.5, 0.7, 0.8, 0.9, 0.96, 1.0]),
)
@example([
    "\U0001D7CF\U0001D7D0\U0001D7D1\U0001D7D2\U0001D7D3\U0001D7D4"
    "\U0001D7D5\U0001D7D6\U0001D7D7",                 # astral digits only
    "id \u0663\u0663\u0663-\u0663\u0663-\u0663\u0663\u0663\u0663",  # Arabic-Indic only
    "a\x00123-45-6789\x00John Smith",
], 0.5)
@settings(max_examples=400, deadline=None)
def test_detect_batch_equals_unguarded_per_text_scan(texts, thr):
    assert detect_batch(texts, thr) == [_reference_spans(t, thr) for t in texts]
