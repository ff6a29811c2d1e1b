"""spark-submit entry for corpus analysis over a decisions table.

The reference's ``analyze_text`` reporting (``src/inference.py:425-466``)
at corpus scale: run the scrub pipeline first (``jobs/scrub_job.py``),
then point this at its output to get entity counts by type, PII character
ratio stats, mean confidence, and the entities-per-caption histogram —
all computed from the materialized ``entities`` column, no second
inference pass.

    spark-submit --master <cluster-or-local[N]> \
        --py-files dist/pii_redactor_spark.zip \
        jobs/analyze_job.py --decisions <out>/data --output <analysis_dir>
"""

from __future__ import annotations

import argparse


def analyze_to(spark, decisions_path: str, output: str) -> None:
    from pii_redactor_spark.pipeline.analyze import (
        entity_count_histogram,
        entity_type_counts,
        mean_confidence,
        pii_char_ratio,
    )

    dec = spark.read.parquet(decisions_path)
    # decisions carry the scrubbed caption as `caption` (materialize mode)
    # or only metrics columns (decisions mode); pii_char_ratio needs the
    # caption text — fall back to scrubbed length basis when raw is absent
    caption_col = "caption_raw" if "caption_raw" in dec.columns else (
        "caption" if "caption" in dec.columns else "scrubbed"
    )
    if "entities" not in dec.columns:
        raise SystemExit(
            "decisions table has no 'entities' column — run scrub_job in "
            "materialize mode or analyze the in-memory scrub output"
        )
    entity_type_counts(dec).write.mode("overwrite").parquet(
        f"{output}/entity_counts"
    )
    pii_char_ratio(dec, caption_col).write.mode("overwrite").parquet(
        f"{output}/pii_ratio"
    )
    mean_confidence(dec).write.mode("overwrite").parquet(
        f"{output}/mean_confidence"
    )
    entity_count_histogram(dec).write.mode("overwrite").parquet(
        f"{output}/entity_histogram"
    )


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--decisions", required=True,
                   help="decisions table (scrub_job output data dir)")
    p.add_argument("--output", required=True)
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from pii_redactor_spark.session import ENGINE_CONF

    spark = (
        SparkSession.builder.appName("pii-analyze")
        .config(map=ENGINE_CONF)
        .getOrCreate()
    )
    analyze_to(spark, args.decisions, args.output)
    spark.stop()


if __name__ == "__main__":
    main()
