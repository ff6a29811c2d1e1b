"""Stateful streaming NEAR-dup detection over LSH buckets, and the one
stateful bucket matcher (``match_buckets``) that both near-dup streams
run: captions here (MinHash bands), audio clips in ``audio_stream``
(pigeonhole fingerprint chunks).

Exact near-dup clustering is a global computation (batch:
``operators.dedup.neardup_clusters``); a continuous ingest wants the
streaming approximation: detect, as documents arrive, that a new document
is a likely near-duplicate of one already seen — across micro-batches and
restarts.

Shape: each arrival is keyed into buckets by the same key builders the
batch joins use (``dedup.with_band_keys`` / ``dedup.with_chunk_keys``);
groups are the buckets, and the GroupState per bucket holds the last
``max_per_bucket`` (id, values) pairs — a MinHash signature, or a
64-bit fingerprint as a one-element array.  A new arrival is scored
against every stored entry with the caller's score function and emits a
match event per stored entry that the score accepts.

Semantics (documented, not hidden): match events are AT-LEAST-ONCE per
pair — a pair colliding in several buckets emits from each colliding
bucket, and consumers treat the stream as a monitoring/trigger signal or
dedup on (id, matched_id) downstream.  Caption recall is the banding
collision probability (1 − (1 − j^r)^bands); precision comes from the
signature comparison, not the bucket collision.  At 10^12 rows: RocksDB
state store, ProcessingTimeTimeout TTL for the re-crawl horizon, and
``max_per_bucket`` bounds state per bucket (hot buckets degrade to
most-recent-K, never to unbounded state).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.dedup import minhash_signature, with_band_keys, with_shingles

MATCH_SCHEMA = (
    "id string, matched_id string, band int, est_jaccard double"
)
STATE_SCHEMA = "ids array<string>, vals array<array<bigint>>"

# score(new values, stored values) -> the match score, or None for no match
Score = Callable[[list[int], list[int]], float | None]


def _ints(values: Sequence) -> list[int]:
    return [int(x) for x in values]


def match_buckets(
    keyed: DataFrame, score: Score, match_schema: str, max_per_bucket: int
) -> DataFrame:
    """Match-event stream over ``keyed`` = ``(_id string, vals
    array<bigint>, bucket int, key bigint)``, grouped on (bucket, key):
    each arrival is scored against the last ``max_per_bucket`` entries of
    its group, in arrival order, then stored.  ``match_schema`` is
    ``(id, matched_id, <bucket> int, <score>)``."""
    columns = [f.split()[0] for f in match_schema.split(",")]

    def match_bucket(
        group: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        bucket = int(group[0])
        ids, vals = state.get if state.exists else ([], [])
        ids, vals = list(ids), [_ints(v) for v in vals]
        out: list[tuple] = []
        for pdf in pdfs:
            for _id, v in zip(pdf["_id"], pdf["vals"]):
                v = _ints(v)
                for prev_id, prev in zip(ids, vals):
                    s = score(v, prev)
                    if s is not None:
                        out.append((str(_id), prev_id, bucket, s))
                ids = (ids + [str(_id)])[-max_per_bucket:]
                vals = (vals + [v])[-max_per_bucket:]
        state.update((ids, vals))
        if out:
            yield pd.DataFrame(out, columns=columns)

    return keyed.groupBy(*keyed.columns[2:]).applyInPandasWithState(
        match_bucket,
        outputStructType=match_schema,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def neardup_match_stream(
    stream: DataFrame,
    text_col: str = "caption",
    id_col: str = "image_id",
    n_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
    min_est_jaccard: float = 0.5,
    max_per_bucket: int = 16,
) -> DataFrame:
    """Match-event stream: (id, matched_id, band, est_jaccard) whenever an
    arriving document LSH-collides with a previously seen one and the
    MinHash estimate clears ``min_est_jaccard``."""
    def est_jaccard(sig: list[int], prev: list[int]) -> float | None:
        est = sum(a == b for a, b in zip(sig, prev)) / len(sig)
        return est if est >= min_est_jaccard else None

    sig = with_shingles(stream, text_col, k).select(
        F.col(id_col).alias("_id"),
        minhash_signature(F.col("shingles"), n_hashes).alias("vals"),
    )
    return match_buckets(
        with_band_keys(sig, "vals", n_hashes, bands, "_id", "vals"),
        est_jaccard, MATCH_SCHEMA, max_per_bucket,
    )
