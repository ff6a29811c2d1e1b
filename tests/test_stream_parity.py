"""Batch/stream parity of near-dup detection: fed as ONE micro-batch, with
``max_per_bucket`` at least the row count, each stateful match stream
reports exactly the pairs its batch join finds — both key their buckets
with the same builder and apply the same score."""

from __future__ import annotations

import random

import numpy as np
from pyspark.sql import functions as F

from conftest import drain_available_now
from pii_redactor_spark.fixtures.wav import encode_wav
from test_audio_stream import _chirp


def _one_batch(spark, tmp_root, name, rows, schema, match):
    src = f"{tmp_root}/{name}_src"
    out = f"{tmp_root}/{name}_out"
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite").parquet(src)
    drain_available_now(match(spark.readStream.schema(schema).parquet(src)),
                        out, f"{tmp_root}/{name}_ckpt")
    return spark.read.parquet(out).collect()


def _noisy(x: np.ndarray, seed: int, sigma: float) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return np.clip(x + rng.normal(0, sigma, x.shape), -1, 1).astype(
        np.float32)


def test_audio_stream_pairs_equal_batch_pairs(spark, tmp_root):
    from pii_redactor_spark.operators.audio import (
        audio_fingerprints,
        audio_neardup_pairs,
        solid_fingerprint,
    )
    from pii_redactor_spark.streaming.audio_stream import audio_match_stream

    base, other = _chirp(5), _chirp(9)
    sil1 = np.random.default_rng(1).normal(0, 1e-4, 8000).astype(np.float32)
    sil2 = np.random.default_rng(2).normal(0, 1e-4, 8000).astype(np.float32)
    clips = {"a": base, "b": other, "sil1": sil1, "sil2": sil2,
             "a_noisy": _noisy(base, 77, 0.005),
             "a_noisy2": _noisy(base, 78, 0.01),
             "b_noisy": _noisy(other, 79, 0.005),
             "c": _chirp(11), "c_quiet": 0.5 * _chirp(11)}
    rows = [(k, bytearray(encode_wav(x, 16000))) for k, x in clips.items()]
    rows.append(("poison", bytearray(b"RIFFnope")))
    schema = "audio_id string, bytes binary"

    got = _one_batch(
        spark, tmp_root, "parity_audio", rows, schema,
        lambda s: audio_match_stream(s, max_hamming=4,
                                     max_per_bucket=len(rows)),
    )
    fps = audio_fingerprints(spark.createDataFrame(rows, schema))
    batch = audio_neardup_pairs(fps.where(F.col("ok") & solid_fingerprint()),
                                max_hamming=4).collect()
    stream_pairs = {(frozenset((r["id"], r["matched_id"])), r["hamming"])
                    for r in got}
    batch_pairs = {(frozenset((r["id_a"], r["id_b"])), r["hamming"])
                   for r in batch}
    assert len(batch_pairs) >= 3, batch_pairs
    assert stream_pairs == batch_pairs


BASE_CAPTION = ("the quick brown fox jumps over the lazy dog while the cat "
                "watches from a warm windowsill in the afternoon sun near "
                "the garden")


def _planted_captions() -> list[tuple[str, str]]:
    """``(doc_id, text)``: ``p0``-``p4`` around one caption, 300 random
    ones, and for every tenth a one-word edit (``e``) and a one-word
    prefix (``p``) copy."""
    base = BASE_CAPTION
    rows = [("p0", base), ("p1", base), ("p2", base.replace("lazy", "sleepy")),
            ("p3", base + " today"),
            ("p4", "spark partitions shuffle data across executors")]
    rng = random.Random(7)
    for i in range(300):
        words = [f"w{rng.randrange(300)}" for _ in range(rng.randint(4, 30))]
        rows.append((f"r{i:03d}", " ".join(words)))
        if i % 10 == 0:  # a one-word edit and a one-word prefix
            edit = words[:-1] + ["edited"]
            rows += [(f"r{i:03d}e", " ".join(edit)),
                     (f"r{i:03d}p", " ".join(["new"] + words))]
    return rows


def test_neardup_stream_pairs_equal_batch_lsh_pairs(spark, tmp_root):
    from pii_redactor_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signature,
        with_shingles,
    )
    from pii_redactor_spark.streaming.neardup_stream import (
        neardup_match_stream,
    )

    rows, schema = _planted_captions(), "doc_id string, text string"

    got = _one_batch(
        spark, tmp_root, "parity_neardup", rows, schema,
        lambda s: neardup_match_stream(
            s, text_col="text", id_col="doc_id", n_hashes=32, bands=8,
            min_est_jaccard=0.5, max_per_bucket=len(rows)),
    )
    docs = spark.createDataFrame(rows, schema)
    sigs = {r["doc_id"]: r["sig"] for r in with_shingles(docs).select(
        "doc_id", minhash_signature(F.col("shingles"), 32).alias("sig")
    ).collect()}

    def est(a, b):
        return sum(x == y for x, y in zip(sigs[a], sigs[b])) / 32

    batch_pairs = {
        (frozenset((r["id_a"], r["id_b"])), est(r["id_a"], r["id_b"]))
        for r in minhash_lsh_candidates(docs, n_hashes=32, bands=8).collect()
        if est(r["id_a"], r["id_b"]) >= 0.5
    }
    stream_pairs = {(frozenset((r["id"], r["matched_id"])), r["est_jaccard"])
                    for r in got}
    assert {frozenset(("p0", "p1")), frozenset(("p0", "p2"))} <= {
        p for p, _ in batch_pairs}
    assert stream_pairs == batch_pairs


def test_minhash_estimate_tracks_exact_jaccard(spark):
    """Each signature entry is its own permutation, so the entries of one
    signature differ and the agreement rate of two signatures estimates the
    exact Jaccard of their shingle sets: within 0.15 at 64 hashes for every
    planted pair (p0 against p1-p3, each random caption against its edit
    and its prefix copy)."""
    from pii_redactor_spark.operators.dedup import (
        exact_jaccard,
        minhash_signature,
        with_shingles,
    )

    n = 64
    rows = _planted_captions()
    ids = {doc_id for doc_id, _ in rows}
    pairs = [("p0", p) for p in ("p1", "p2", "p3")] + [
        (d, d + v) for d in sorted(ids) if d + "e" in ids for v in "ep"]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    sigs = {r["doc_id"]: r["sig"] for r in with_shingles(docs).select(
        "doc_id", minhash_signature(F.col("shingles"), n).alias("sig")
    ).collect()}
    assert len(set(sigs["p0"])) == n
    exact = exact_jaccard(
        spark.createDataFrame(pairs, "id_a string, id_b string"), docs
    ).collect()
    assert len(exact) == len(pairs) == 63
    for r in exact:
        a, b = sigs[r["id_a"]], sigs[r["id_b"]]
        est = sum(x == y for x, y in zip(a, b)) / n
        assert abs(est - r["jaccard"]) <= 0.15, (r, est)
