"""Text-line file source/sink (reference process_file parity)."""

from __future__ import annotations

import glob

from pii_redactor_spark.core.reference_impl import scrub_text
from pii_redactor_spark.operators.scrub import ScrubConfig
from pii_redactor_spark.sources.textfile import redact_lines, scrub_text_file

from tests.test_reference_parity import CASES


def test_round_trip_byte_equality_on_reference_corpus(spark, tmp_root):
    """process_file semantics end-to-end: write the 17-text corpus as a
    file, scrub through Spark, read back — every line byte-equal to the
    reference scrubbed output, in original order."""
    inp = f"{tmp_root}/corpus_in.txt"
    out = f"{tmp_root}/corpus_out"
    with open(inp, "w", encoding="utf-8") as f:
        for text, _expected, _ in CASES:
            f.write(text + "\n")
    scrub_text_file(spark, inp, out)
    got = _concat_parts(out).splitlines()
    want = [expected for _text, expected, _ in CASES]
    assert got == want


def _concat_parts(out_dir: str, encoding: str = "utf-8") -> str:
    """Ordered-mode contract: part files concatenated in name order ARE the
    output file."""
    parts = sorted(glob.glob(f"{out_dir}/part-*"))
    assert parts
    return "".join(
        open(p, encoding=encoding).read() for p in parts
    )


def test_ordered_distributed_sink_multi_partition_byte_equal(spark, tmp_root):
    """Order-preserving DISTRIBUTED sink: a file large enough to split into
    many read partitions, one part file per split — the name-ordered
    concatenation must be byte-equal to redacting in input order (no
    coalesce(1) single-task sink)."""
    inp = f"{tmp_root}/big_in.txt"
    out = f"{tmp_root}/big_out"
    lines = [f"row {i:06d} mail{i}@x.co padding {'x' * (i % 37)}"
             for i in range(5000)]
    with open(inp, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
    try:
        scrub_text_file(spark, inp, out)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    parts = sorted(glob.glob(f"{out}/part-*"))
    non_empty = [p for p in parts if open(p, "rb").read()]
    assert len(non_empty) > 1  # genuinely distributed write
    want = "".join(scrub_text(l.strip()).scrubbed + "\n" for l in lines)
    assert _concat_parts(out) == want


def _write_multi_file_glob(d: str) -> dict[str, list[str]]:
    """Three files whose size order (b, c, a) differs from their name
    order, two with glob metacharacters and a space in the name."""
    import os

    os.makedirs(d, exist_ok=True)
    files = {
        "a_small.txt": [f"alpha {i} a{i}@x.co" for i in range(5)],
        "b[1]large.txt": [f"beta {i} b{i}@x.co extra padding here {'y' * 40}"
                          for i in range(800)],
        "c_mid {x}.txt": [f"gamma {i}" for i in range(50)],
    }
    for name, lines in files.items():
        with open(os.path.join(d, name), "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
    return files


def test_ordered_multi_file_glob_lexicographic(spark, tmp_root):
    """Multi-file input: output order is files in lexicographic name
    order, each file's lines in offset order — including files of
    different sizes (the split-packing case the advisor flagged) and
    names that hold glob metacharacters and a space."""
    d = f"{tmp_root}/multi_in"
    files = _write_multi_file_glob(d)
    out = f"{tmp_root}/multi_out"
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8192")
    try:
        scrub_text_file(spark, d, out)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    want = "".join(
        scrub_text(l.strip()).scrubbed + "\n"
        for name in sorted(files)
        for l in files[name]
    )
    assert _concat_parts(out) == want


def test_ordered_plan_has_no_exchange_or_sort(spark, tmp_root):
    """The ordered path is one narrow pass: for one file and for the
    3-file glob, the executed plan holds no Exchange and no Sort, the glob
    is a Union of one scan per file, and one file costs one Spark job
    (the write)."""
    from tests.test_pipeline import _job_descriptions
    from tests.test_plans import _plan

    d = f"{tmp_root}/plan_multi_in"
    _write_multi_file_glob(d)
    one = f"{tmp_root}/plan_one_in.txt"
    with open(one, "w", encoding="utf-8") as f:
        f.write("".join(f"line {i} m{i}@x.co\n" for i in range(2000)))
    written = {}
    for inp in (one, d):
        jobs = _job_descriptions(spark, lambda: written.update(
            df=scrub_text_file(spark, inp, f"{tmp_root}/plan_out")
        ))
        plan = _plan(written["df"])
        assert "Exchange" not in plan and "Sort" not in plan, plan
        if inp == one:
            assert len(jobs) == 1, jobs
        else:
            assert "Union" in plan, plan
            assert plan.count("Location: InMemoryFileIndex") == 3, plan


def test_encoding_latin1_round_trip(spark, tmp_root):
    """process_file(encoding=...) parity (reference inference.py:512):
    latin-1 in, latin-1 out, redaction applied, order preserved."""
    inp = f"{tmp_root}/latin_in.txt"
    out = f"{tmp_root}/latin_out"
    lines = [
        "café owner María, mail cafe@muenchen.de",
        "naïve line with no pii ä ö ü",
        "l'été à Paris, tél 01-23-45-67-89",
    ]
    with open(inp, "wb") as f:
        f.write(("\n".join(lines) + "\n").encode("latin-1"))
    scrub_text_file(spark, inp, out, encoding="ISO-8859-1")
    want = "".join(scrub_text(l.strip()).scrubbed + "\n" for l in lines)
    got = _concat_parts(out, encoding="latin-1")
    assert got == want
    assert "[EMAIL_REDACTED]" in got  # redaction really ran


def test_encoding_python_alias_end_to_end(spark, tmp_root):
    """A Python alias of a charset Spark's CSV source accepts
    (``latin-1`` for ISO-8859-1) runs end to end under both
    ``blank_lines`` values: it is passed to Spark under its Spark name."""
    inp = f"{tmp_root}/alias_in.txt"
    lines = ["café owner María, mail cafe@muenchen.de", "",
             "l'été à Paris, tél 01-23-45-67-89"]
    with open(inp, "wb") as f:
        f.write(("\n".join(lines[::2]) + "\n").encode("latin-1"))
    want = "".join(scrub_text(l).scrubbed + "\n" for l in lines if l)
    scrub_text_file(spark, inp, f"{tmp_root}/alias_out", encoding="latin-1")
    assert _concat_parts(f"{tmp_root}/alias_out", encoding="latin-1") == want
    with open(inp, "wb") as f:
        f.write(("\n".join(lines) + "\n").encode("latin-1"))
    scrub_text_file(spark, inp, f"{tmp_root}/alias_drop_out",
                    encoding="latin-1", blank_lines="drop")
    assert _concat_parts(f"{tmp_root}/alias_drop_out",
                         encoding="latin-1") == want


def test_non_ascii_compatible_encodings_rejected(spark, tmp_root):
    """Round-3 advice: UTF-16/32 (wide code units) and EBCDIC (non-ASCII
    single-byte) break the CSV line path's newline framing — they must
    fail loudly up front, never silently corrupt lines at split
    boundaries.  Other single-byte names (cp1252, KOI8, Shift_JIS) fail
    up front too: Spark's CSV source rejects them mid-job.  ISO-8859-1
    and US-ASCII keep working under any alias."""
    import pytest

    from pii_redactor_spark.sources.textfile import (
        _csv_charset,
        read_text_lines,
    )

    inp = f"{tmp_root}/wide_in.txt"
    with open(inp, "wb") as f:
        f.write("hello\nworld\n".encode("utf-16"))
    for bad in ("UTF-16", "utf-32", "UTF-16LE", "cp500", "cp1252", "koi8-r",
                "shift_jis"):
        with pytest.raises(ValueError, match="ASCII-compatible"):
            read_text_lines(spark, inp, encoding=bad)
        with pytest.raises(ValueError, match="ASCII-compatible"):
            scrub_text_file(spark, inp, f"{tmp_root}/wide_out",
                            encoding=bad)
    with pytest.raises(ValueError, match="unknown encoding"):
        _csv_charset("no-such-charset")
    # the ASCII-compatible charsets Spark's CSV source takes, any alias
    for ok in ("ISO-8859-1", "latin-1", "US-ASCII", "ascii"):
        _csv_charset(ok)


def test_encoding_blank_lines_error_and_drop(spark, tmp_root):
    """Blank lines cannot round-trip through the non-UTF-8 CSV charset
    path (univocity skips empty rows on read AND write) — default is a
    loud error; blank_lines='drop' opts into omitting them."""
    import pytest

    inp = f"{tmp_root}/latin_blank_in.txt"
    out = f"{tmp_root}/latin_blank_out"
    lines = ["première ligne", "", "dernière ligne tél 01-23-45-67-89"]
    with open(inp, "wb") as f:
        f.write(("\n".join(lines) + "\n").encode("latin-1"))
    with pytest.raises(ValueError, match="blank"):
        scrub_text_file(spark, inp, out, encoding="ISO-8859-1")
    scrub_text_file(
        spark, inp, out, encoding="ISO-8859-1", blank_lines="drop"
    )
    want = "".join(
        scrub_text(l.strip()).scrubbed + "\n" for l in lines if l.strip()
    )
    assert _concat_parts(out, encoding="latin-1") == want
    # UTF-8 mode is unaffected: blank lines round-trip exactly
    inp8 = f"{tmp_root}/utf8_blank_in.txt"
    out8 = f"{tmp_root}/utf8_blank_out"
    with open(inp8, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    scrub_text_file(spark, inp8, out8)
    want8 = "".join(scrub_text(l.strip()).scrubbed + "\n" for l in lines)
    assert _concat_parts(out8) == want8


def test_blank_lines_rejects_unknown_value(spark, tmp_root):
    """A typo in ``blank_lines`` fails up front instead of skipping the
    blank-line check (the latin-1 CSV path would drop the blank line)."""
    import pytest

    inp = f"{tmp_root}/latin_typo_in.txt"
    with open(inp, "wb") as f:
        f.write("première ligne\n\ndernière ligne\n".encode("latin-1"))
    for bad in ("keep", "Drop", ""):
        with pytest.raises(ValueError, match="blank_lines"):
            scrub_text_file(spark, inp, f"{tmp_root}/latin_typo_out",
                            encoding="latin-1", blank_lines=bad)


def test_redact_lines_strips_like_reference():
    """process_file calls redact(line.strip()) — inference.py:530-533."""
    got = redact_lines(["  a@b.co  ", "\tno pii here\t", ""])
    assert got == ["[EMAIL_REDACTED]", "no pii here", ""]


def test_redact_lines_no_cross_line_match():
    """The batch kernel scans many lines joined together.  No match may
    cross from one line into the next, and each line's ends must act as
    text ends for ``\\b``.  Joined by a space, a newline or nothing, some
    pair below would come out differently."""
    lines = [
        "call (555)", "123-4567",          # (555) 123-4567 across lines
        "My name is John", "Smith here",   # John Smith across lines
        "abc", "123456789",                # abc123456789 has no \b
        "05", "0-1234567",                 # 050-1234567 across lines
        "id\x00123-45-6789",               # a NUL inside one line
    ]
    assert redact_lines(lines) == [
        "call (555)", "123-4567",
        "My name is John", "Smith here",
        "abc", "[ID_REDACTED]",
        "05", "0-1234567",
        "id\x00[ID_REDACTED]",
    ]
    assert redact_lines(["call (555) 123-4567", "John Smith"]) == [
        "call [REDACTED]", "[NAME_REDACTED]",
    ]


def test_textfile_config_plumbs_through(spark, tmp_root):
    inp = f"{tmp_root}/cfg_in.txt"
    out = f"{tmp_root}/cfg_out"
    with open(inp, "w", encoding="utf-8") as f:
        f.write("My name is John Smith, ID 123-45-6789\n")
    scrub_text_file(
        spark, inp, out,
        ScrubConfig(replacement="<PII>", preserve_format=False),
    )
    part = sorted(glob.glob(f"{out}/part-*"))[0]
    with open(part, encoding="utf-8") as f:
        assert f.read().splitlines() == ["My name is <PII>, ID <PII>"]


def test_unordered_mode_same_multiset(spark, tmp_root):
    inp = f"{tmp_root}/uo_in.txt"
    out = f"{tmp_root}/uo_out"
    lines = [f"line {i} mail{i}@x.co" for i in range(200)]
    with open(inp, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    scrub_text_file(spark, inp, out, ordered=False)
    got = sorted(spark.read.text(out).toPandas()["value"])
    want = sorted(scrub_text(l).scrubbed for l in lines)
    assert got == want
