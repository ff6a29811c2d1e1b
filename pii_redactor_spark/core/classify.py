"""Entity-type classification — exact parity with the reference.

Reproduces ``PIIRedactor._classify_pii_type``
(``/root/reference/src/inference.py:188-213``): ordered regex bank with
first-match-wins (``re.search``, case-insensitive), then a Hebrew-name
full-match fallback, then an English-name fallback limited to <= 3
whitespace-separated words, else ``"UNKNOWN"``.

Note this runs on the *span text* after detection, and deliberately keeps the
reference's quirks — e.g. accented Latin names (``María García``) fail the
``[A-Za-z]`` name fallback and classify as UNKNOWN, so they take the default
mask rather than ``[NAME_REDACTED]``.
"""

from __future__ import annotations

import re

from .detect import AT, DIG, required_guards
from .patterns import COMPILED_CLASSIFY, ENGLISH_NAME_RE, HEBREW_NAME_RE

# Exact guard: every classify pattern but EMAIL needs a \d and EMAIL needs a
# literal '@', so a span with neither goes straight to the name fallbacks.
assert all(
    required_guards(pat) & (AT if ptype == "EMAIL" else DIG)
    for ptype, pats in COMPILED_CLASSIFY for pat in pats
)
_MAY_MATCH_BANK = re.compile(r"[\d@]").search


def classify_entity(text: str) -> str:
    """Classify a detected PII span's type.  Reference: inference.py:188-213."""
    if _MAY_MATCH_BANK(text):
        for ptype, pats in COMPILED_CLASSIFY:
            for pat in pats:
                if pat.search(text):
                    return ptype

    stripped = text.strip()
    if HEBREW_NAME_RE.match(stripped):
        return "NAME"
    if ENGLISH_NAME_RE.match(stripped) and len(text.split()) <= 3:
        return "NAME"
    return "UNKNOWN"
