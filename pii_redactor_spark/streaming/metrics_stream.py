"""Windowed streaming metrics with watermarked late-data handling.

Continuous ingest wants continuous counters: keep/drop rates per language per
time window, tolerating events that arrive late (a straggler executor, a
backfilled partition).  Standard Structured Streaming shape, with one fixed
window and delay:

    ingest_ts -> withWatermark(2 minutes) -> groupBy(1-minute window, lang).agg

The watermark bounds state: windows older than (max event time - 2 min) are
finalized and their state dropped — without it, a 10^12-row stream's window
state grows forever.  Rows later than the watermark are dropped from the
aggregation (counted by Spark's numDroppedRows metric).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_decision_metrics(decisions: DataFrame) -> DataFrame:
    """Per-minute, per-language keep/drop counters over a streaming (or
    batch — same plan) decisions DataFrame carrying an ``ingest_ts``
    event-time column; a row more than 2 minutes older than the latest
    event time of the earlier micro-batches is dropped."""
    return (
        decisions.withWatermark("ingest_ts", "2 minutes")
        .groupBy(F.window("ingest_ts", "1 minute").alias("w"), "lang")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.sum((~F.col("keep")).cast("long")).alias("n_dropped"),
            F.sum("n_entities").alias("n_entities"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "lang", "n_rows", "n_kept", "n_dropped", "n_entities",
        )
    )
