"""Stateful streaming audio NEAR-dup detection — the audio modality's
analog of ``neardup_stream`` (MinHash-LSH over captions), run by the same
stateful bucket matcher, ``neardup_stream.match_buckets``: detect, as
clips arrive, that a new clip is a likely near-duplicate of one already
seen — across micro-batches and restarts.

Shape: each arriving clip's 64-bit spectral fingerprint
(``operators.audio.audio_fingerprints`` — mapInPandas, stateless,
streaming-safe) is exploded into the same ``(chunk, cval)`` pigeonhole
keys the batch join uses (``dedup.with_chunk_keys``): within hamming <=
max_hamming, >= 1 of the (max_hamming + 1) disjoint chunks collides, so
groups are chunk buckets, each holding the last ``max_per_bucket``
fingerprints; the exact popcount score runs only on collisions.

Semantics (same documented contract as the caption stream): match
events are AT-LEAST-ONCE per pair — a pair within distance h collides
in at least one but possibly several chunks; consumers dedup on
(id, matched_id) downstream.  Recall within max_hamming is exact by
pigeonhole, subject only to the ``max_per_bucket`` state bound.
Degenerate fingerprints (``operators.audio.solid_fingerprint``) are
dropped before keying.  Independent silence recordings do NOT cluster
(bandwidth-normalized bands give them near-random bits — measured in the
batch leg), while a gain-scaled copy of the SAME recording matches
exactly, by design: the fingerprint is gain-invariant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.audio import audio_fingerprints, solid_fingerprint
from ..operators.dedup import with_chunk_keys
from .neardup_stream import match_buckets

MATCH_SCHEMA = "id string, matched_id string, chunk int, hamming int"
_MASK = (1 << 64) - 1


def audio_match_stream(
    stream: DataFrame,
    id_col: str = "audio_id",
    max_hamming: int = 4,
    max_per_bucket: int = 32,
) -> DataFrame:
    """Match-event stream: (id, matched_id, chunk, hamming) whenever an
    arriving clip's fingerprint lands within ``max_hamming`` bits of a
    previously seen one.  Input stream: (audio_id, bytes)."""
    def hamming(fp: list[int], prev: list[int]) -> int | None:
        h = ((fp[0] ^ prev[0]) & _MASK).bit_count()
        return h if h <= max_hamming else None

    fps = audio_fingerprints(
        stream.select(F.col(id_col).alias("audio_id"), "bytes")
    ).where(F.col("ok") & solid_fingerprint())
    return match_buckets(
        with_chunk_keys(fps, "fingerprint", max_hamming,
                        F.col("audio_id").alias("_id"),
                        F.array("fingerprint").alias("vals")),
        hamming, MATCH_SCHEMA, max_per_bucket,
    )
