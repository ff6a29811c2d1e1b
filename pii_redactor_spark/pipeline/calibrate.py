"""Per-language threshold calibration — the engine's grouped-map operator.

The trigram-LM perplexity threshold (`QualityConfig.max_bits_per_char`) is
global; real corpora want it per language (Hebrew text scores differently
from English under one shared LM).  This module computes per-language
calibration tables with ``groupBy().applyInPandas`` — Spark's grouped-map
shape: each language group arrives as one pandas DataFrame, NumPy computes
quantiles, one summary row leaves.  At 10^12 rows the group count (languages)
is tiny while groups are huge, so this runs as one shuffle keyed on ``lang``
with Arrow-batched group streaming — no driver collect.

(The reference has no analog — its config thresholds are static YAML,
``config.yaml:1-62``; this is a scale-tier addition, same family as A4/A5
benchmark statistics in SURVEY.md §2.4.)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CALIBRATION_SCHEMA = (
    "lang string, n_rows long, bpc_p50 double, bpc_p95 double, "
    "bpc_p99 double, suggested_max_bpc double, chars_p50 double, "
    "chars_p95 double"
)


def _calibrate_group(pdf: pd.DataFrame) -> pd.DataFrame:
    bpc = pdf["bits_per_char"].to_numpy(dtype=np.float64)
    chars = pdf["n_chars"].to_numpy(dtype=np.float64)
    p50, p95, p99 = np.quantile(bpc, [0.5, 0.95, 0.99])
    return pd.DataFrame(
        [{
            "lang": pdf["lang"].iloc[0],
            "n_rows": len(pdf),
            "bpc_p50": float(p50),
            "bpc_p95": float(p95),
            "bpc_p99": float(p99),
            # keep ~95% of in-language mass, with headroom below p99 junk
            "suggested_max_bpc": float(p95 + 0.5 * (p99 - p95)),
            "chars_p50": float(np.quantile(chars, 0.5)),
            "chars_p95": float(np.quantile(chars, 0.95)),
        }]
    )


def calibrate_thresholds(decisions: DataFrame) -> DataFrame:
    """Per-language quality-threshold table from a decisions DataFrame
    (needs columns: lang, bits_per_char, n_chars).

    Exact quantiles; one grouped-map task per language.  Correct, but a
    heavy-hitter language (70% of a skewed corpus) lands on ONE task —
    at 10^12 rows use :func:`calibrate_thresholds_sketched` instead.
    """
    return (
        decisions.select("lang", "bits_per_char", "n_chars")
        .groupBy("lang")
        .applyInPandas(_calibrate_group, schema=CALIBRATION_SCHEMA)
    )


_BPC_MAX = 20.0
_BINS = 2048


def calibrate_thresholds_sketched(decisions: DataFrame) -> DataFrame:
    """Skew-immune calibration: two-phase histogram sketch.

    Phase 1 buckets bits_per_char into 2048 fixed-width bins and counts
    per (lang, bin) — a plain hash aggregate with map-side partial combine,
    so the heavy-hitter language spreads across every input task instead of
    collapsing onto one (the applyInPandas failure mode).  Phase 2 turns the
    tiny (langs x bins) histogram into quantiles with a running-sum window.
    Max quantile error = one bin width (20/2048 ~ 0.01 bits/char) —
    irrelevant for thresholding.  Mirrors `percentile_approx`'s sketch idea
    with an inspectable, mergeable histogram.
    """
    from pyspark.sql import Window

    width = _BPC_MAX / _BINS
    hist = (
        decisions.select("lang", "bits_per_char")
        .withColumn(
            "bin",
            F.least(
                F.floor(F.col("bits_per_char") / width), F.lit(_BINS - 1)
            ).cast("int"),
        )
        .groupBy("lang", "bin")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wl = Window.partitionBy("lang")
    cum = (
        hist.withColumn("cum", F.sum("cnt").over(w))
        .withColumn("total", F.sum("cnt").over(wl))
    )

    def q_edge(q: float):
        # upper edge of the first bin whose cumulative count reaches q*total
        return F.min(
            F.when(
                F.col("cum") >= q * F.col("total"),
                (F.col("bin") + 1) * width,
            )
        )

    out = cum.groupBy("lang").agg(
        F.max("total").alias("n_rows"),
        q_edge(0.50).alias("bpc_p50"),
        q_edge(0.95).alias("bpc_p95"),
        q_edge(0.99).alias("bpc_p99"),
    )
    return out.withColumn(
        "suggested_max_bpc",
        F.col("bpc_p95") + 0.5 * (F.col("bpc_p99") - F.col("bpc_p95")),
    )
