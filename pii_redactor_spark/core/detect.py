"""Entity span detection — the rules engine replacing the reference's model.

The reference detects PII with a fine-tuned DistilBERT token classifier
(``/root/reference/src/inference.py:215-253``).  Per the project brief, our
engine replaces the model with deterministic rules: compiled regex for
structured PII and gazetteer alternations for names/addresses
(``core.patterns.COMPILED_DETECT`` + ``core.gazetteers.GAZETTEER_PATTERNS``).

Output mirrors the reference's span contract: ``(start, end)`` character
offsets into the original text, non-overlapping, sorted by start.  Overlaps
are resolved longest-span-wins (ties: bank order), matching the intuition of
the reference's BIO decoding where one token belongs to exactly one entity
(``src/inference.py:283-354``).

Confidence: the reference's ``PIIEntity`` carries a per-span ``confidence``
(min over token probabilities, ``src/inference.py:34-52,338``) and spans
below ``confidence_threshold`` (default 0.5) are dropped before assembly
(``src/inference.py:313-318``).  A rules detector has no logits, so the
analog is *pattern specificity*: how unlikely the pattern is to fire on
non-PII text.  Fully-structured formats (e-mail, SSN, credit card) score
high; ambiguous shapes (bare 9-digit runs, generic dates) score low; the
gazetteer banks sit between (exact-vocabulary match, but common words can
collide).  All defaults are >= 0.5 so the reference-parity corpus is
byte-identical at the default threshold; raising the threshold trades
recall for precision exactly as in the reference.

Execution: ``detect_batch`` is the one detection kernel.  It runs over a
whole Arrow batch — each bank scans, once, the texts its guard admits,
joined into one string — instead of once per row; ``detect_spans`` is its
one-text form.  Per-invocation interpreter overhead, not the regex work,
dominates a per-row loop (Tuplex, VLDB 2019; *Accelerating Python UDFs in
Vectorized Query Execution*, CIDR 2022).
"""

from __future__ import annotations

import re
from bisect import bisect_right
from itertools import accumulate

import numpy as np

from .gazetteers import GAZETTEER_PATTERNS
from .patterns import COMPILED_DETECT
from .quality import flat_codes

try:
    from re import _constants as _sre, _parser
except ImportError:  # Python < 3.11
    import sre_constants as _sre
    import sre_parse as _parser

DEFAULT_CONFIDENCE_THRESHOLD = 0.5  # reference: inference.py:68

# Pattern-specificity scores for the structured bank, keyed by the exact
# pattern string (every DETECT_STRUCTURED entry must appear; import-time
# assert below).  Scale: ~1.0 = the pattern essentially never fires on
# non-PII text, ~0.6 = plausible false positives exist.
_STRUCTURED_CONFIDENCE: dict[str, float] = {
    r"\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}\b": 0.99,  # EMAIL
    r"\b\d{3}-\d{3}-\d{4}\b": 0.95,           # PHONE 3-3-4
    r"\(\d{3}\)\s?\d{3}-\d{4}": 0.97,         # PHONE (area) 3-4
    r"\+\d{1,3}[-.\s]?\d{6,14}\b": 0.90,      # PHONE intl
    r"\b0\d{1,2}-\d{7,8}\b": 0.92,            # PHONE IL
    r"\b\d{2}-\d{3}-\d{4}\b": 0.88,           # PHONE EU 2-3-4
    r"\b\d{2}(?:-\d{2}){4}\b": 0.92,          # PHONE FR pairs
    r"\b\d{3}-\d{2}-\d{4}\b": 0.95,           # SSN
    r"\b\d{9}\b": 0.65,                       # bare 9 digits (ambiguous)
    r"\b\d{4}[-\s]\d{4}[-\s]\d{4}[-\s]\d{4}\b": 0.97,       # credit card
    r"\*{4}[-\s]?\*{4}[-\s]?\*{4}[-\s]?\d{4}\b": 0.99,      # masked card
    r"\b[A-Z]{2}\d{7}\b": 0.85,               # passport
    r"\b[A-Z]{2}\d{14}\b": 0.90,              # IBAN-like
    r"\b\d{2}-\d{3}-\d{6}\b": 0.90,           # IL bank account
    r"\b\d{3}-\d{2}-\d{3}\b": 0.85,           # plate 3-2-3
    r"\b\d{2}-\d{3}-\d{2}\b(?!-)": 0.85,      # plate 2-3-2
    r"\b[A-Z]{2}\d{3}[A-Z]{2}\b": 0.85,       # EU plate
    r"\b\d{1,2}[/.\-]\d{1,2}[/.\-]\d{2,4}\b": 0.70,  # date (often non-PII)
}
# The Hebrew-month date is appended programmatically; give it the same score
# as the numeric date.
_DATE_HE_CONFIDENCE = 0.70
_GAZ_CONFIDENCE = {
    "ADDRESS": 0.90,  # number + street + city from gazetteer: very specific
    "NAME": 0.80,     # exact vocabulary pair, but names are common words
}


# --- Guards ------------------------------------------------------------------
# Exact prefilters.  A bank's guard names the character classes every one of
# its matches contains (a mandatory \d, a literal '@', an ASCII capital or a
# Hebrew letter that no alternative can avoid), read off the parsed pattern
# by ``required_guards``.  A text lacking one of them cannot match the bank,
# so leaving it out of that bank's scan changes no result.  The per-text
# guard bits come from one table lookup over the batch's codepoint array.
HE, UP, DIG, AT = 1, 2, 4, 8  # guard bits
_GUARD_RANGES = {HE: (0x05D0, 0x05EA), UP: (65, 90), DIG: (48, 57), AT: (64, 64)}
_DIGIT_CLASS = [(_sre.CATEGORY, _sre.CATEGORY_DIGIT)]
_HAS_DIGIT = re.compile(r"\d").search


def _item_in(op, av, bit: int) -> bool:
    """Whether one parsed item matches only characters of guard ``bit``."""
    if bit == DIG and op is _sre.IN and av == _DIGIT_CLASS:
        return True
    lo, hi = _GUARD_RANGES[bit]
    if op is _sre.LITERAL:
        return lo <= av <= hi
    if op is _sre.IN:
        return all(
            (o is _sre.LITERAL and lo <= a <= hi)
            or (o is _sre.RANGE and lo <= a[0] and a[1] <= hi)
            for o, a in av
        )
    return False


def _requires(items, bit: int) -> bool:
    """Whether every match of a parsed sequence holds a ``bit`` character.
    A construct not handled here counts as not requiring it: a wider
    guard, never a wrong one."""
    for op, av in items:
        if op is _sre.MAX_REPEAT or op is _sre.MIN_REPEAT:
            found = av[0] >= 1 and _requires(av[2], bit)
        elif op is _sre.SUBPATTERN:
            found = _requires(av[-1], bit)
        elif op is _sre.BRANCH:
            found = all(_requires(alt, bit) for alt in av[1])
        else:
            found = _item_in(op, av, bit)
        if found:
            return True
    return False


def required_guards(pattern: re.Pattern) -> int:
    """The guard bits every match of ``pattern`` needs.  Under IGNORECASE
    an ASCII capital is not needed (``A`` also matches ``a``); digits, '@'
    and Hebrew letters have no case."""
    items = _parser.parse(pattern.pattern, pattern.flags)
    bits = sum(b for b in _GUARD_RANGES if _requires(items, b))
    return bits & ~UP if pattern.flags & re.IGNORECASE else bits


_GUARD_TABLE = None


def _guard_table() -> np.ndarray:
    """Lazy BMP table of guard bits per codepoint; the `\\d` (Unicode Nd)
    bit is built with the guard regex itself, so its verdicts are identical
    by construction."""
    global _GUARD_TABLE
    if _GUARD_TABLE is None:
        table = np.fromiter(
            (_HAS_DIGIT(chr(c)) is not None for c in range(0x10000)),
            dtype=np.uint8, count=0x10000,
        ) * np.uint8(DIG)
        for bit in (HE, UP, AT):
            lo, hi = _GUARD_RANGES[bit]
            table[lo:hi + 1] |= bit
        _GUARD_TABLE = table
    return _GUARD_TABLE


def guard_flags_batch(n: int, codes, text_id) -> np.ndarray:
    """The guard bits (``HE | UP | DIG | AT``) of each text of a batch, as
    a ``uint8`` array, from its flat codepoint array
    (``core.quality.flat_codes``): one table lookup and one OR-reduction
    per text."""
    if not len(codes):
        return np.zeros(n, dtype=np.uint8)
    bits = _guard_table()[np.minimum(codes, 0xFFFF)]
    hi = np.flatnonzero(codes > 0xFFFF)
    if len(hi):
        bits[hi] = [DIG * (_HAS_DIGIT(chr(c)) is not None)
                    for c in codes[hi].tolist()]
    # text i (i > 0) starts at its separator, whose code 0 has no bits; an
    # empty text 0 reduces over the first separator alone
    starts = np.searchsorted(text_id, np.arange(n))
    return np.bitwise_or.reduceat(bits, starts)


# --- Fast-scan forms ---------------------------------------------------------
# sre skips ahead to candidate positions only when a pattern opens with a
# literal, a character class or a branch of literals; after a leading
# assertion it tries a full match at every position.  So the kernel scans
# with a form of each bank that matches exactly the same spans:
# * a leading \b before a word-character atom becomes a lookbehind after
#   the first character (``\b\d{3}-`` -> ``\d(?<!\w[\s\S])\d{2}-``): \b
#   before a word character means "not preceded by a word character";
# * a leading \b before an alternation of literal words moves into the
#   alternatives, grouped by first letter (``\b(?:John|James)`` ->
#   ``(?:J(?<!\w[\s\S])(?:ohn|ames))``).  Alternatives keep their order
#   inside a group, and alternatives with different first letters never
#   match at the same position, so the first-alternative-wins choice holds.
# Any other pattern is scanned as documented.  The tests compare the
# kernel against an unguarded scan of the documented banks.
_NOT_AFTER_WORD = r"(?<!\w[\s\S])"
_LEAD_ATOM = re.compile(
    r"\\b(\\d|\[A-Z\]|\w)(?:\{([1-9]\d*)(?:(,)(\d*))?\})?(?![?+*{])"
)
_WORD = r"\w(?:[^\\()\[\]{}|.*+?^$]|\\[^\w|])*"  # an escaped literal word
_LEAD_WORDS = re.compile(r"\\b\(\?:(%s(?:\|%s)*)\)(?![?+*{])" % (_WORD, _WORD))


def _fast_scan(pattern: str) -> str:
    """The fast-scan form of one bank pattern (comment above)."""
    m = _LEAD_WORDS.match(pattern)
    if m:
        groups: dict[str, list[str]] = {}
        for word in m.group(1).split("|"):
            groups.setdefault(word[0], []).append(word[1:])
        return "(?:%s)%s" % ("|".join(
            f"{c}{_NOT_AFTER_WORD}(?:{'|'.join(tails)})"
            for c, tails in groups.items()
        ), pattern[m.end():])
    m = _LEAD_ATOM.match(pattern)
    if not m:
        return pattern
    atom, lo, comma, hi = m.groups()
    n = int(lo) - 1 if lo else 0
    if comma:
        more = atom + "{%d,%s}" % (n, int(hi) - 1 if hi else "")
    elif n > 1:
        more = atom + "{%d}" % n
    else:
        more = atom * n
    return atom + _NOT_AFTER_WORD + more + pattern[m.end():]


# --- The kernel --------------------------------------------------------------
def _confidence_for(pattern: re.Pattern) -> float:
    if pattern.pattern in _STRUCTURED_CONFIDENCE:
        return _STRUCTURED_CONFIDENCE[pattern.pattern]
    return _DATE_HE_CONFIDENCE  # the appended Hebrew-month date pattern


# Every structured pattern must have an explicit confidence (the Hebrew-date
# fallback applies to exactly one programmatically-built pattern).
assert sum(1 for _, p in COMPILED_DETECT
           if p.pattern not in _STRUCTURED_CONFIDENCE) == 1

# (entity type, fast-scan form, confidence, guard) in bank order: address
# gazetteers before names, then COMPILED_DETECT.  Bank order, then match
# order, is the discovery order that breaks equal-length overlaps.
_BANKS = [
    (t, re.compile(_fast_scan(p.pattern)), conf, required_guards(p))
    for t, p, conf in (
        [(t, p, _GAZ_CONFIDENCE[t]) for t, p in GAZETTEER_PATTERNS]
        + [(t, p, _confidence_for(p)) for t, p in COMPILED_DETECT]
    )
]

Span = tuple[int, int, str, float]


def detect_batch(
    texts: list[str],
    confidence_threshold: float = DEFAULT_CONFIDENCE_THRESHOLD,
    flat: tuple[np.ndarray, np.ndarray] | None = None,
) -> list[list[Span]]:
    """Find all PII spans in each of ``texts``.

    Returns one list per text of ``(start, end, entity_type, confidence)``,
    non-overlapping and sorted by start offset.  Candidates below
    ``confidence_threshold`` are dropped before overlap resolution,
    mirroring the reference's low-confidence token skip
    (``src/inference.py:313-318``).  ``flat`` is the batch's
    ``flat_codes`` pair when the caller already has it.

    Each bank scans the batch once: the texts its guard selects are joined
    with ``\\x00`` — which no bank pattern can consume, so no match crosses
    from one text into the next, and every assertion sees the same
    non-word neighbour it sees at a text's ends — and each match offset is
    mapped back to its row by a binary search over the texts' offsets.
    """
    n = len(texts)
    guards = guard_flags_batch(n, *(flat if flat is not None else flat_codes(texts)))
    joins: dict[int, tuple[list[int], list[int], str]] = {}
    # per row: (start, -len, discovery order, type, conf)
    cands: dict[int, list[tuple[int, int, int, str, float]]] = {}
    order = 0
    for etype, pattern, conf, guard in _BANKS:
        if conf < confidence_threshold:
            continue
        if guard not in joins:
            rows = np.flatnonzero((guards & guard) == guard).tolist()
            picked = [texts[i] for i in rows]
            starts = list(accumulate([len(t) + 1 for t in picked], initial=0))
            joins[guard] = rows, starts, "\x00".join(picked)
        rows, starts, joined = joins[guard]
        for m in pattern.finditer(joined):
            s, e = m.span()
            k = bisect_right(starts, s) - 1
            cands.setdefault(rows[k], []).append(
                (s - starts[k], s - e, order, etype, conf)
            )
            order += 1

    out: list[list[Span]] = [[] for _ in range(n)]
    for r, cand in cands.items():
        # Longest-span-wins overlap resolution: consider candidates by
        # descending length (then discovery order), keep those not
        # overlapping a kept span.
        cand.sort(key=lambda c: (c[1], c[2]))
        kept: list[Span] = []
        for start, neg_len, _, etype, conf in cand:
            end = start - neg_len
            if all(end <= ks or start >= ke for ks, ke, _t, _c in kept):
                kept.append((start, end, etype, conf))
        kept.sort(key=lambda s: s[0])
        out[r] = kept
    return out


def detect_spans(
    text: str,
    confidence_threshold: float = DEFAULT_CONFIDENCE_THRESHOLD,
    flags=None,
) -> list[Span]:
    """``detect_batch`` for one text.  ``flags`` (an entry of
    ``guard_flags_batch``) is accepted and unused: the kernel computes its
    own guards."""
    return detect_batch([text], confidence_threshold)[0]
