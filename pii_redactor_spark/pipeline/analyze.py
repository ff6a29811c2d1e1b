"""Corpus analysis aggregates — the reference's ``analyze_text`` family
(A1–A3, A7, A10 in SURVEY.md §2.4) re-expressed as relational aggregations.

Reference (`/root/reference/src/inference.py:425-466`) computes per-text
dicts in a Python loop: entity count by type, PII character ratio, mean
confidence, entity count.  Here the same statistics are corpus-level
DataFrame aggregates over the decisions table the scrub stage already
produced — no second inference pass (the reference's ``analyze_text`` calls
``predict`` again; we reuse the materialized ``entities`` column).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def entity_type_counts(decisions: DataFrame) -> DataFrame:
    """A1: corpus-wide entity count by type (explode + hash agg)."""
    return (
        decisions.select(F.explode("entities").alias("e"))
        .groupBy(F.col("e.entity_type").alias("entity_type"))
        .agg(F.count("*").alias("n_entities"))
    )


def pii_char_ratio(decisions: DataFrame,
                   caption_col: str = "caption") -> DataFrame:
    """A2: sum(len(entity.text)) / len(caption) per row, plus corpus stats.

    ``F.aggregate`` keeps the per-row reduction JVM-side (higher-order
    function over the entities array — no UDF)."""
    per_row = decisions.withColumn(
        "pii_chars",
        F.aggregate(
            "entities", F.lit(0),
            lambda acc, e: acc + F.length(e["text"]),
        ),
    ).withColumn(
        "pii_ratio",
        F.when(
            F.length(caption_col) > 0,
            F.col("pii_chars") / F.length(caption_col),
        ).otherwise(F.lit(0.0)),
    )
    return per_row.agg(
        F.round(F.avg("pii_ratio"), 6).alias("mean_pii_ratio"),
        F.round(F.max("pii_ratio"), 6).alias("max_pii_ratio"),
        F.sum((F.col("pii_chars") > 0).cast("long")).alias("rows_with_pii"),
        F.count("*").alias("rows_total"),
    )


def mean_confidence(decisions: DataFrame) -> DataFrame:
    """A3: corpus-wide mean entity confidence (reference avg_confidence,
    inference.py:449 — np.mean over entity confidences)."""
    return decisions.select(F.explode("entities").alias("e")).agg(
        F.round(F.avg("e.confidence"), 6).alias("mean_confidence"),
        F.count("*").alias("n_entities"),
    )


def with_analysis(decisions: DataFrame) -> DataFrame:
    """Per-row ``analyze_text`` struct (reference inference.py:425-466):
    ``{total_entities, entity_counts, pii_character_ratio,
    average_confidence}`` — computed from the already-materialized
    ``entities`` column with JVM higher-order functions (no second UDF
    pass; the reference's analyze_text re-runs ``predict``).

    ``entity_counts`` is a map<type, count>; null entity types count under
    "UNKNOWN" (reference :440).  ``average_confidence`` is 0.0 for rows
    with no entities (reference :449's else branch)."""
    ents = F.col("entities")
    etype = lambda e: F.coalesce(e["entity_type"], F.lit("UNKNOWN"))  # noqa: E731
    types = F.array_distinct(F.transform(ents, etype))
    counts = F.transform(
        types,
        lambda t: F.size(F.filter(ents, lambda e: etype(e) == t)),
    )
    pii_chars = F.aggregate(
        ents, F.lit(0), lambda acc, e: acc + F.length(e["text"])
    )
    total_chars = F.length(F.col("caption"))
    avg_conf = F.when(
        F.size(ents) > 0,
        F.aggregate(ents, F.lit(0.0), lambda a, e: a + e["confidence"])
        / F.size(ents),
    ).otherwise(F.lit(0.0))
    return decisions.withColumn(
        "analysis",
        F.struct(
            F.size(ents).alias("total_entities"),
            F.map_from_arrays(types, counts).alias("entity_counts"),
            F.when(total_chars > 0, pii_chars / total_chars)
            .otherwise(F.lit(0.0))
            .alias("pii_character_ratio"),
            avg_conf.alias("average_confidence"),
        ),
    )


def entity_count_histogram(decisions: DataFrame) -> DataFrame:
    """A10: distribution of entities-per-caption."""
    return (
        decisions.withColumn("n", F.size("entities"))
        .groupBy("n")
        .agg(F.count("*").alias("n_rows"))
    )


def error_sample(decisions: DataFrame, labels: DataFrame) -> DataFrame:
    """A7: the reference's error-analysis dump (model_training.py:366-428 —
    first 100 mismatches with context) as a join + filter + limit: rows where
    the engine's scrub disagrees with the oracle labels, with both versions
    side by side for debugging."""
    joined = decisions.join(labels, "image_id")
    return (
        joined.where(
            (F.col("scrubbed") != F.col("scrubbed_expected"))
            | (F.col("keep") != F.col("keep_expected"))
        )
        .select(
            "image_id", "keep", "keep_expected",
            "scrubbed", "scrubbed_expected", "quality_flags",
        )
        .limit(100)
    )
