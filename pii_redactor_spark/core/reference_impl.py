"""Row-at-a-time oracle: the reference's execution model, one text at a time.

This module mirrors how the reference processes data — strictly per-row
(``for text in texts``, ``/root/reference/src/inference.py:500-508``) — using
the same semantic core as the distributed engine.  It exists for two reasons:

1. Fixture generation computes *expected* outputs with it (golden labels).
2. pytest differentially compares the Arrow-batched Spark pipeline against it:
   the distributed engine must match this oracle byte-for-byte (captions) and
   at F1 >= 0.99 (keep/drop + entities), proving that vectorized execution did
   not change row semantics.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .classify import classify_entity
from .detect import DEFAULT_CONFIDENCE_THRESHOLD, detect_spans
from .langid import classify_batch
from .patterns import DEFAULT_MASK
from .quality import DEFAULT_QUALITY, quality_flags_batch
from .redact import redact_simple, redact_typed


@dataclass
class ScrubResult:
    lang: str
    lang_conf: float
    bits_per_char: float
    n_chars: int
    n_tokens: int
    quality_flags: list[str]
    keep: bool
    entities: list[dict] = field(default_factory=list)
    scrubbed: str = ""          # typed-mask variant (inference.py:356-403)
    scrubbed_simple: str = ""   # single-token variant (simple_inference.py:61-147)
    has_pii: bool = False       # "did redaction change the text" (test_inference.py:160-163)


def scrub_text(
    text: str,
    confidence_threshold: float = DEFAULT_CONFIDENCE_THRESHOLD,
    replacement: str = DEFAULT_MASK,
    preserve_format: bool = True,
) -> ScrubResult:
    """Full per-row pipeline: langid -> quality -> detect -> classify -> splice."""
    langs, confs = classify_batch([text])
    flags, bpc, metrics = quality_flags_batch([text], DEFAULT_QUALITY)

    spans = detect_spans(text or "", confidence_threshold)
    entities = [
        {
            "text": text[s:e],
            "entity_type": classify_entity(text[s:e]),
            "start": s,
            "end": e,
            "confidence": c,
        }
        for s, e, _, c in spans
    ]
    typed_spans = [(en["start"], en["end"], en["entity_type"]) for en in entities]
    scrubbed = redact_typed(text or "", typed_spans, replacement, preserve_format)
    scrubbed_simple = redact_simple(text or "", typed_spans, replacement)

    return ScrubResult(
        lang=str(langs[0]),
        lang_conf=float(confs[0]),
        bits_per_char=float(bpc[0]),
        n_chars=int(metrics["n_chars"][0]),
        n_tokens=int(metrics["n_tokens"][0]),
        quality_flags=flags[0],
        keep=not flags[0],
        entities=entities,
        scrubbed=scrubbed,
        scrubbed_simple=scrubbed_simple,
        has_pii=scrubbed != (text or ""),
    )
