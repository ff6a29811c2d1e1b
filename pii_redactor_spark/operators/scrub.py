"""The scrub stage: one Arrow-vectorized pandas UDF, one narrow pass.

Spark re-expression of the reference's flagship path
(``PIIRedactor.redact``, ``/root/reference/src/inference.py:356-403`` →
SURVEY.md §3.1): the whole langid -> quality -> detect -> classify -> splice
chain is a single ``Iterator[pd.Series] -> Iterator[pd.DataFrame]`` scalar
pandas UDF.  Consequences at scale:

* Only the caption column crosses the JVM<->Python Arrow boundary — image
  ``bytes`` stay JVM-side and are zipped back positionally by the
  ArrowEvalPython node (verify with ``.explain``: the UDF's input is just
  ``caption``).  No shuffle, no join to re-attach bytes.
* The iterator form amortizes per-worker init (compiled regexes, trigram LM)
  across all batches of a partition — the lazy-singleton pattern the reference
  needed but lacked (its BatchProcessor still ran rows one at a time,
  inference.py:500-508).
* Unlike the reference's ``redact_with_info`` which runs inference twice
  (inference.py:420-421), everything is computed once and emitted as one
  struct.
* Each stage runs over the whole batch: langid and quality score one
  shared codepoint array (``core.quality.flat_codes``), and detection is
  one ``core.detect.detect_batch`` call in which each regex bank scans the
  batch's guarded captions once.  Only classify and splice run per row.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..core.classify import classify_entity
from ..core.detect import DEFAULT_CONFIDENCE_THRESHOLD, detect_batch
from ..core.langid import classify_batch
from ..core.patterns import DEFAULT_MASK
from ..core.quality import DEFAULT_QUALITY, flat_codes, quality_flags_batch
from ..core.redact import redact_simple, redact_typed

# Built as objects (not a DDL string) so the module imports without an
# active SparkSession.
from pyspark.sql.types import (  # noqa: E402
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

ENTITY_TYPE = StructType(
    [
        StructField("entity_type", StringType()),
        StructField("text", StringType()),
        StructField("start", IntegerType()),
        StructField("end", IntegerType()),
        # Pattern-specificity analog of the reference's per-span confidence
        # (PIIEntity.confidence, inference.py:34-52) — see core.detect.
        StructField("confidence", DoubleType()),
    ]
)


@dataclass(frozen=True)
class ScrubConfig:
    """Dials the reference exposes on PIIRedactor / redact():
    ``confidence_threshold`` (inference.py:68), ``replacement`` and
    ``preserve_format`` (inference.py:356-360).  Defaults reproduce the
    reference defaults (and round-1 behavior) exactly.  The quality
    thresholds are not a dial: every scrub scores against
    ``core.quality.DEFAULT_QUALITY``."""

    confidence_threshold: float = DEFAULT_CONFIDENCE_THRESHOLD
    replacement: str = DEFAULT_MASK
    preserve_format: bool = True


DEFAULT_SCRUB = ScrubConfig()
SCRUB_SCHEMA = StructType(
    [
        StructField("lang", StringType()),
        StructField("lang_conf", DoubleType()),
        StructField("bits_per_char", DoubleType()),
        StructField("n_chars", IntegerType()),
        StructField("n_tokens", IntegerType()),
        StructField("quality_flags", ArrayType(StringType())),
        StructField("keep", BooleanType()),
        StructField("entities", ArrayType(ENTITY_TYPE)),
        StructField("scrubbed", StringType()),
        StructField("scrubbed_simple", StringType()),
        StructField("has_pii", BooleanType()),
    ]
)


def scrub_batch(
    texts: list[str], cfg: ScrubConfig = DEFAULT_SCRUB
) -> pd.DataFrame:
    """Vectorized scrub of one Arrow batch of captions."""
    flat = flat_codes(texts)
    langs, confs = classify_batch(texts, flat)
    flags, bpc, metrics = quality_flags_batch(texts, DEFAULT_QUALITY, flat)
    spans_col = detect_batch(texts, cfg.confidence_threshold, flat)

    entities_col: list[list[tuple]] = []
    scrubbed_col: list[str] = []
    simple_col: list[str] = []
    has_pii_col: list[bool] = []
    for text, spans in zip(texts, spans_col):
        ents = [
            (classify_entity(text[s:e]), text[s:e], s, e, c)
            for s, e, _, c in spans
        ]
        typed = [(s, e, t) for (t, _, s, e, _c) in ents]
        scrubbed = redact_typed(
            text, typed, cfg.replacement, cfg.preserve_format
        )
        entities_col.append(ents)
        scrubbed_col.append(scrubbed)
        simple_col.append(redact_simple(text, typed, cfg.replacement))
        has_pii_col.append(scrubbed != text)

    return pd.DataFrame(
        {
            "lang": langs,
            "lang_conf": confs,
            "bits_per_char": bpc,
            "n_chars": metrics["n_chars"],
            "n_tokens": metrics["n_tokens"],
            "quality_flags": flags,
            "keep": [not f for f in flags],
            "entities": entities_col,
            "scrubbed": scrubbed_col,
            "scrubbed_simple": simple_col,
            "has_pii": has_pii_col,
        }
    )


def make_scrub_udf(cfg: ScrubConfig = DEFAULT_SCRUB):
    """Build a scrub UDF bound to ``cfg``.

    The config is a small frozen dataclass captured in the closure —
    serialized once with the UDF, not per row.  Marked nondeterministic on
    purpose: a plan that filters on `keep` AND projects `scrubbed` would
    otherwise evaluate the UDF twice (Catalyst duplicates deterministic
    Python UDFs across the Filter/Project boundary — verified with
    .explain: two ArrowEvalPython nodes vs one after this marking).  The
    reference makes the same class of mistake in reverse (redact_with_info
    runs inference twice, inference.py:420-421); we refuse to pay it.
    """

    @pandas_udf(SCRUB_SCHEMA)
    def _impl(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        # Per-executor-process init happens on first use (regexes are
        # compiled at module import; the trigram LM builds lazily inside
        # quality_flags_batch) and is reused across every batch this
        # worker sees.
        for series in batches:
            yield scrub_batch(series.fillna("").tolist(), cfg)

    return _impl.asNondeterministic()


scrub_udf = make_scrub_udf()


def with_scrub(df: DataFrame, cfg: ScrubConfig = DEFAULT_SCRUB) -> DataFrame:
    """Attach scrub results of ``caption`` as flat columns; bytes never
    leave the JVM."""
    udf = scrub_udf if cfg == DEFAULT_SCRUB else make_scrub_udf(cfg)
    return df.withColumn("_scrub", udf(F.col("caption"))).select(
        "*", "_scrub.*"
    ).drop("_scrub")


def parallelize_for_udf(df: DataFrame) -> DataFrame:
    """Ensure the CPU-bound UDF stage has >= 2 partitions per core.

    At 100 TB the scan yields thousands of splits and this is a no-op; on a
    small input (bench/test scale) the scan gives one partition and would
    serialize the whole UDF stage — one round-robin repartition (cheap: the
    table is small precisely when this fires) restores parallelism."""
    target = df.sparkSession.sparkContext.defaultParallelism * 2
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
