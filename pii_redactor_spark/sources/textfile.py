"""Newline-delimited text file source/sink — the reference's batch-file API.

Reproduces ``BatchProcessor.process_file``
(``/root/reference/src/inference.py:512-539``): read a text file, strip
each line, redact it, write the redacted lines back out.  The reference
loops line-by-line on one machine; here the same surface is
``spark.read -> one Arrow-vectorized redact UDF -> write.text``.

Unlike the full scrub stage, ``process_file`` only *redacts* — no
quality filtering, every line is emitted (inference.py:530-533) — so the
line UDF runs just detect -> classify -> splice.  Detection runs once per
Arrow batch, not once per line: ``core.detect.detect_batch`` scans each
regex bank over the batch's guarded lines joined together, and only the
lines that hold spans go on to classify and splice.

Encoding: ``process_file(encoding=...)`` (inference.py:512) is honored on
both sides.  UTF-8 uses the native text source/sink.  Any other charset
goes through the CSV source/sink configured as a pure line reader/writer
(single ``value`` column, quoting disabled, a control-char separator) —
the only built-in path that decodes/encodes a caller charset (the text
source silently ignores ``encoding`` on read AND write; verified
empirically on this Spark).  Two measured CSV-path limits, made explicit
instead of silent: (1) a payload line containing the \\x01 separator
byte would split — real text in a legacy charset does not contain it;
(2) univocity skips fully-empty rows on BOTH read and write, so blank
lines cannot round-trip through a non-UTF-8 file.  ``blank_lines``
controls that case: ``"error"`` (the default; meaningful for non-UTF-8
only) pre-scans the input JVM-side and raises before any work if a
blank/whitespace-only line exists; ``"drop"`` omits such lines under
EVERY encoding — the usual distributed-corpus contract — so the flag
behaves identically whatever charset is in play.  UTF-8 mode with the
default ``"error"`` preserves blank lines exactly (no error is raised;
the native text path round-trips them).  Besides UTF-8, only the two
ASCII-compatible charsets Spark's CSV source accepts are taken:
ISO-8859-1 and US-ASCII, under any Python alias (``latin-1``).  Every
other name is rejected loudly up front (``_csv_charset``): split reads
and the blank-line probe assume single-byte newline framing, which wide
codecs (UTF-16/32) and EBCDIC break silently, and Spark rejects the
remaining single-byte names mid-job.

Ordering (``ordered=True``, the parity mode): the redaction is a narrow
projection of the scan, so part file ``part-0000i`` is scan partition
``i`` and the part files concatenated in name order are the input, in
order.  No shuffle, sort or sort key; the part count follows Spark's
split confs (``spark.sql.files.maxPartitionBytes``).  Within one file the
scan keeps offset order: all non-tail splits are exactly
``maxPartitionBytes`` and the planner's size-descending sort is stable
(TimSort), so equal splits keep listing order and the smaller tail sorts
after.  Across files that packing interleaves, so for a glob "input
order" is files in lexicographic name order (the sorted ``inputFiles()``
URIs): the ordered path unions one read per file in that order, and
``Union`` keeps its children's partition order (``_literal_path`` makes
each URI a path that reads back exactly that file).  Callers needing
listing order pass files individually.  At 100 TB a caller passes
``ordered=False``: one read of the whole glob, line order across part
files not meaningful (the usual contract for distributed text corpora).
"""

from __future__ import annotations

import functools
import re
import urllib.parse
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from ..core.classify import classify_entity
from ..core.detect import detect_batch
from ..core.redact import redact_typed
from ..operators.scrub import DEFAULT_SCRUB, ScrubConfig


def _is_utf8(encoding: str) -> bool:
    return encoding.replace("-", "").replace("_", "").upper() == "UTF8"


# The ASCII-compatible charsets Spark's CSV source accepts besides UTF-8
# (CSVOptions also lists UTF-16/32, which break newline framing), keyed by
# Python's canonical codec name.
_CSV_CHARSETS = {"iso8859-1": "ISO-8859-1", "ascii": "US-ASCII"}


def _csv_charset(encoding: str) -> str:
    """The Spark charset name the CSV line path reads and writes a
    non-UTF-8 ``encoding`` with; any Python alias (``latin-1``, ``l1``,
    ``646``) maps to its Spark name.

    The non-UTF-8 read/write path and ``_raw_has_blank_line`` assume
    ASCII-compatible newline framing: one line per ``\\n`` byte, the
    ``\\x01`` separator byte never produced by payload re-encoding.  Wide
    charsets (UTF-16/32) and non-ASCII single-byte codecs (EBCDIC) break
    that silently, and every other single-byte name (cp1252, KOI8,
    Shift_JIS) fails inside Spark with ``INVALID_PARAMETER_VALUE.CHARSET``
    after the job has started — so all of them raise ``ValueError`` here,
    before any work.
    """
    import codecs

    try:
        name = codecs.lookup(encoding).name
    except LookupError as e:
        raise ValueError(f"unknown encoding {encoding!r}") from e
    if name not in _CSV_CHARSETS:
        raise ValueError(
            f"encoding {encoding!r} is not supported: the charset path "
            "takes UTF-8 or an ASCII-compatible charset Spark's CSV "
            "source reads and writes (ISO-8859-1, US-ASCII); re-encode "
            "the input as one of those"
        )
    return _CSV_CHARSETS[name]


def read_text_lines(
    spark: SparkSession, input_path: str, encoding: str = "UTF-8"
) -> DataFrame:
    """One ``value`` row per input line, decoded with ``encoding``.

    UTF-8 -> native text source.  Other charsets -> the CSV reader as a
    line reader (explicit one-column schema, quoting off, \\x01 sep):
    the CSV read path decodes ``encoding``; the text source silently
    ignores it on read (UTF-8 only).  Both paths split large files.
    """
    if _is_utf8(encoding):
        return spark.read.text(input_path)
    return (
        spark.read.format("csv")
        .option("encoding", _csv_charset(encoding))
        .option("sep", "\x01")
        .option("quote", "")
        .option("header", False)
        .schema("value string")
        .load(input_path)
        # whitespace-only lines survive as-is; FULLY empty lines are
        # skipped by univocity (see module docstring / blank_lines)
        .na.fill({"value": ""})
    )


# python str.strip() whitespace beyond Java's ASCII \s: Unicode separators
# (Zs/Zl/Zp), NEL, and the information-separator control block.
_BLANK_RE = r"^[\s\p{Z}\x85\x1C-\x1F]*$"


def _raw_has_blank_line(spark: SparkSession, input_path: str) -> bool:
    """Fully-empty lines are invisible after the CSV reader skips them, so
    probe the raw byte stream with the text source: newline framing is
    ASCII-compatible for every single-byte and UTF-8-family charset, so an
    empty raw line is an empty logical line regardless of how the payload
    bytes decode.  (UTF-16/32 corpora fall outside this probe.)"""
    raw = spark.read.text(input_path)
    return bool(raw.where(F.length("value") == 0).limit(1).count())


def redact_lines(texts: list[str], cfg: ScrubConfig = DEFAULT_SCRUB) -> list[str]:
    """process_file's per-line work on one Arrow batch: strip each line,
    detect over the whole batch (``core.detect.detect_batch``), then
    classify and splice the lines that hold spans."""
    lines = [(t or "").strip() for t in texts]
    out: list[str] = []
    for t, spans in zip(lines, detect_batch(lines, cfg.confidence_threshold)):
        if spans:
            typed = [(s, e, classify_entity(t[s:e])) for s, e, _k, _c in spans]
            t = redact_typed(t, typed, cfg.replacement, cfg.preserve_format)
        out.append(t)
    return out


def make_redact_line_udf(cfg: ScrubConfig = DEFAULT_SCRUB):
    @pandas_udf(StringType())
    def _impl(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for series in batches:
            yield pd.Series(
                redact_lines(series.tolist(), cfg), dtype=object
            )

    return _impl.asNondeterministic()


def _literal_path(uri: str) -> str:
    """An ``inputFiles()`` URI as a path that reads back exactly that file:
    percent-decoded (else ``%20`` names a different file) with glob
    metacharacters escaped (else ``[`` or ``{`` in a name globs)."""
    return re.sub(r"([\\\[\]{}*?])", r"\\\1", urllib.parse.unquote(uri))


def scrub_text_file(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    cfg: ScrubConfig = DEFAULT_SCRUB,
    ordered: bool = True,
    encoding: str = "UTF-8",
    blank_lines: str = "error",
) -> DataFrame:
    """Read ``input_path`` (newline-delimited, ``encoding``), redact, write
    ``output_path`` (a Spark text output directory, same ``encoding``).

    ``ordered=True``: part files concatenated in name order are byte-equal
    to redacting the input in order, files taken in lexicographic name
    order (module docstring); one part file per scan partition, no
    shuffle.  ``ordered=False`` reads a glob in one scan, in no defined
    order across files.  ``blank_lines``: ``"drop"`` omits blank/
    whitespace-only lines under every encoding; ``"error"`` (default)
    raises on them for non-UTF-8 encodings (which cannot round-trip
    them) and preserves them exactly under UTF-8 (module docstring).
    Any other ``blank_lines`` value raises ``ValueError`` before any work.
    Returns the written DataFrame.
    """
    if blank_lines not in ("error", "drop"):
        # a typo must not skip the blank-line check: the CSV path would
        # then drop blank lines silently
        raise ValueError(
            f"blank_lines must be 'error' or 'drop', not {blank_lines!r}"
        )
    lines = read_text_lines(spark, input_path, encoding)
    if ordered:
        # one read per file, unioned in name order (module docstring)
        files = sorted(lines.inputFiles())
        if len(files) > 1:
            lines = functools.reduce(DataFrame.union, (
                read_text_lines(spark, _literal_path(f), encoding)
                for f in files
            ))
    if _is_utf8(encoding) and blank_lines == "drop":
        # uniform semantics across encodings: "drop" omits blank/
        # whitespace-only lines in UTF-8 mode too (the CSV charset path
        # drops them structurally; without this the job flag would
        # silently no-op under the default encoding)
        lines = lines.where(~F.col("value").rlike(_BLANK_RE))
    if not _is_utf8(encoding) and blank_lines == "error":
        # the CSV path cannot represent blank lines (module docstring);
        # fail loudly up front instead of silently dropping them.  The
        # reader already skipped fully-empty lines, so probing the decoded
        # lines for whitespace-only content catches both loss modes.
        if lines.where(
            F.col("value").rlike(_BLANK_RE)
        ).limit(1).count() or _raw_has_blank_line(spark, input_path):
            raise ValueError(
                "input contains blank/whitespace-only lines, which cannot "
                "round-trip through a non-UTF-8 text sink (the CSV "
                "charset path skips empty rows); pass blank_lines='drop' "
                "to omit them, or re-encode the input as UTF-8"
            )
    redact = make_redact_line_udf(cfg)
    out = lines.select(redact(F.col("value")).alias("value"))
    if _is_utf8(encoding):
        out.write.mode("overwrite").text(output_path)
    else:
        # the text sink ignores `encoding` (UTF-8 only); the CSV sink is
        # the built-in writer that honors a target charset — same
        # single-column line-writer configuration as the reader.  Empty
        # redacted lines are skipped by univocity (guarded above).
        (
            out.write.mode("overwrite")
            .format("csv")
            .option("encoding", _csv_charset(encoding))
            .option("sep", "\x01")
            .option("quote", "")
            .option("escape", "")
            .save(output_path)
        )
    return out
