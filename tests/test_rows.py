"""The one poison-row policy (``operators/rows.py``) across the eight
per-row media operators: a NULL or undecodable blob takes its operator's
fallback and never kills the stage, and rows that did not fail come out
exactly as they would alone."""

from __future__ import annotations

import numpy as np
import pytest

from pii_redactor_spark.fixtures.codecs import encode_png, phash64
from pii_redactor_spark.fixtures.wav import encode_wav
from pii_redactor_spark.operators import audio as A
from pii_redactor_spark.operators import vision as V

IMAGE = "image_id string, bytes binary, fmt string, phash long"
AUDIO = "audio_id string, bytes binary"


def _px():
    return np.random.default_rng(5).integers(0, 256, (12, 20, 3),
                                             dtype=np.uint8)


def _wav(seed: int = 1, n: int = 4000, rate: int = 8000) -> bytes:
    x = np.random.default_rng(seed).normal(0, 0.2, n).clip(-1, 1)
    return encode_wav((x * 32767).astype(np.int16), rate)


def _image_rows():
    return [("good", bytearray(encode_png(_px())), "png", phash64(_px())),
            ("null", None, "png", 0)]


def _verify(spark):
    before = spark.createDataFrame(
        [("good", bytearray(encode_png(_px())), "png", 0),
         ("null", bytearray(encode_png(_px())), "png", 0)], IMAGE)
    after = spark.createDataFrame(_image_rows(), IMAGE)
    return V.verify_integrity(after, before)


# operator -> (build the output from a good row and a NULL-bytes row,
#              what the NULL row must come out as; None = no rows)
CASES = {
    "decode_stats": (
        lambda s: V.decode_stats(s.createDataFrame(_image_rows(), IMAGE)),
        {"decoded": False, "w": None, "entropy": None}),
    "resize_images": (
        lambda s: V.resize_images(s.createDataFrame(_image_rows(), IMAGE)),
        {"bytes": None, "w": None, "fmt": "png"}),
    "scrub_image_metadata": (
        lambda s: V.scrub_image_metadata(
            s.createDataFrame(_image_rows(), IMAGE)),
        {"bytes": None, "flag": "corrupt", "had_gps": None}),
    "verify_integrity": (_verify, {"ok": False, "psnr": None}),
    "audio_stats": (
        lambda s: A.audio_stats(s.createDataFrame(
            [("good", bytearray(_wav())), ("null", None)], AUDIO)),
        {"ok": False, "sample_rate": None}),
    "audio_fingerprints": (
        lambda s: A.audio_fingerprints(s.createDataFrame(
            [("good", bytearray(_wav())), ("null", None)], AUDIO)),
        {"ok": False, "fingerprint": None}),
    "chunk_audio": (
        lambda s: A.chunk_audio(s.createDataFrame(
            [("good", bytearray(_wav())), ("null", None)], AUDIO),
            chunk_ms=100),
        None),
    "resample_audio": (
        lambda s: A.resample_audio(s.createDataFrame(
            [("good", bytearray(_wav())), ("null", None)], AUDIO), 16000),
        None),
}


@pytest.mark.parametrize("op", sorted(CASES))
def test_null_bytes_row_takes_fallback(spark, op):
    """A NULL ``bytes`` row used to kill every one of these stages
    (``bytes(None)`` raised outside their narrow except tuples; the
    metadata scrub emitted ``b""``).  Now it takes the fallback and the
    good row beside it is untouched."""
    build, want = CASES[op]
    rows = build(spark).collect()
    key = "image_id" if "image_id" in rows[0].asDict() else "audio_id"
    null = [r for r in rows if r[key] == "null"]
    assert any(r[key] == "good" for r in rows)
    if want is None:
        assert null == []
        return
    (null,) = null
    assert {k: null[k] for k in want} == want


def test_verify_integrity_undecodable_after_row(spark):
    """An after-row that no longer decodes is a failed gate (``ok =
    false``, NULL psnr), not a dead stage; the other pairs still pass."""
    png = bytearray(encode_png(_px()))
    before = spark.createDataFrame(
        [("a", png, "png", 0), ("b", png, "png", 0)], IMAGE)
    after = spark.createDataFrame(
        [("a", png, "png", 0), ("b", bytearray(b"\x89PNG junk"), "png", 0)],
        IMAGE)
    res = {r["image_id"]: r for r in V.verify_integrity(after, before)
           .collect()}
    assert res["a"]["ok"] and res["a"]["psnr"] == 1e9
    assert (res["b"]["ok"], res["b"]["psnr"]) == (False, None)


def test_fingerprint_exact_beside_failed_row(spark):
    """A bigint column holding a NULL beside 64-bit fingerprints in one
    batch must not round them through float64: every fingerprint equals
    the in-process value."""
    clips = [_wav(seed) for seed in range(8)]
    want = {f"c{i}": A._spectral_fingerprint(*A.decode_audio(c))
            for i, c in enumerate(clips)}
    # at least one value float64 cannot hold, or the test proves nothing
    assert any(int(float(v)) != v for v in want.values())
    df = spark.createDataFrame(
        [(k, bytearray(c)) for k, c in zip(want, clips)]
        + [("bad", bytearray(b"RIFFjunk"))],
        AUDIO,
    ).coalesce(1)
    got = {r["audio_id"]: r["fingerprint"]
           for r in A.audio_fingerprints(df).collect()}
    assert got.pop("bad") is None
    assert got == want
