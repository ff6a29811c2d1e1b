"""Stateful streaming dedup — Spark's native streaming ``dropDuplicates``.

A continuously-ingested corpus re-sees the same content (re-crawls, mirror
feeds).  This operator emits only the FIRST occurrence of each content
fingerprint across all micro-batches.  ``dropDuplicates`` on a stream
plans a JVM ``StreamingDeduplicate`` over a hash exchange on ``fp``: the
state store holds the seen fingerprints and lives in the checkpoint, so
dedup survives restarts — the streaming form of
``operators.dedup.dedupe_exact``, with no Python worker.

Scale shape: state is one key per distinct fingerprint, partitioned by
the shuffle on ``fp`` — at 10^12 rows pair with the RocksDB state store
and a watermark (``dropDuplicatesWithinWatermark``) for the re-crawl
horizon; without one, state grows with the distinct content.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_stream(stream: DataFrame, text_col: str = "caption") -> DataFrame:
    """First-occurrence-only stream keyed by content hash (md5):
    ``(image_id, caption, fp)``."""
    return stream.select(
        "image_id", F.col(text_col).alias("caption"),
        F.md5(text_col).alias("fp"),
    ).dropDuplicates(["fp"])
