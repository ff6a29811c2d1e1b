"""Cached synthetic WAV corpus for the audio-at-scale bench leg — the
audio analog of ``fixtures/images.py`` (image decode leg) and
``fixtures/dedup_corpus.py`` (dedup leg).

Design goals, same as those modules:

* **Deterministic at any parallelism** — every row is keyed by its id
  (``rng_for(audio_id)``), generated distributed via ``mapInPandas``
  over ``spark.range``, so 1 or 32 executor threads produce identical
  bytes.
* **Planted structure the operators exist for** — the signal-kind wheel
  plants rows for every ``audio_quality_flags`` gate (clipped tones,
  near-silence, 3-channel rows, an 8 kHz bad-rate band, over-long and
  sub-300 ms clips) plus ~1% corrupt rows (truncated / non-RIFF bytes)
  so the poison-row guard is part of the measured path, exactly like a
  real web scrape.
* **Generate-once caching keyed on a source digest** — a change to
  this module or the WAV/FLAC codecs regenerates instead of silently
  timing stale content (``fixtures/cache.py``).

Row mix (per-row independent draws; fractions are expectations):
containers 10% G.711 (mu/A-law), 5% IMA ADPCM, 10% FLAC, remainder PCM
WAV (70% int16, 10% uint8, 10% int32, 10% float32); 70% mono /
25% stereo / 5% 3-channel; rate wheel (16k ×2, 22.05k, 44.1k, 48k, 8k);
signal kinds tone/noise/clipped/silence at 55/25/10/10; durations
log-uniform 0.12-3.0 s (plus a 0.5% over-4-minute band encoded at 8 kHz
mono so the too_long gate fires without bloating the fixture).
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd

from .captions import rng_for
from .flac import encode_flac
from .wav import encode_wav, encode_wav_adpcm, encode_wav_g711

_RATES = (16_000, 16_000, 22_050, 44_100, 48_000, 8_000)
_DTYPES = (np.int16, np.int16, np.int16, np.int16, np.int16,
           np.int16, np.int16, np.uint8, np.int32, np.float32)
CORRUPT_FRAC = 0.01


def _quantize(x: np.ndarray, dtype: type) -> np.ndarray:
    """Float [-1,1] samples -> container dtype (matching _to_float)."""
    if dtype is np.uint8:
        return np.clip(np.round(x * 128.0 + 128.0), 0, 255).astype(np.uint8)
    if dtype is np.int16:
        return np.clip(np.round(x * 32768.0), -32768, 32767).astype(np.int16)
    if dtype is np.int32:
        return np.clip(
            np.round(x * 2147483648.0), -2147483648, 2147483647
        ).astype(np.int32)
    return x.astype(np.float32)


DUP_STRIDE = 20  # row idx % 20 == 19 is a noisy re-encode of idx - 1


def _signal(rng: np.random.Generator) -> tuple[np.ndarray, int, type, str]:
    """Deterministic (samples, rate, dtype, kind) for one row — split out
    so planted duplicate rows can rebuild their BASE row's signal."""
    rate = int(_RATES[rng.integers(0, len(_RATES))])
    dtype = _DTYPES[rng.integers(0, len(_DTYPES))]
    ch_draw = rng.random()
    channels = 1 if ch_draw < 0.70 else (2 if ch_draw < 0.95 else 3)
    if rng.random() < 0.005:
        # too_long band: > 240 s, pinned to 8 kHz mono so one row stays
        # ~0.5 MB instead of tens of MB
        rate, channels = 8_000, 1
        dur_s = float(rng.uniform(245.0, 300.0))
    else:
        dur_s = float(np.exp(rng.uniform(np.log(0.12), np.log(3.0))))
    n = max(1, int(rate * dur_s))
    t = np.arange(n, dtype=np.float64) / rate
    kind_draw = rng.random()
    if kind_draw < 0.55:
        # non-stationary chirps (linear frequency sweep + amplitude
        # envelope): a STATIONARY tone makes the spectral fingerprint's
        # four time segments identical — 16 effective bits — and 11k such
        # clips collide quadratically in the near-dup join; real audio is
        # non-stationary, so the fixture is too
        kind = "tone"
        x = np.zeros(n)
        for _ in range(int(rng.integers(1, 4))):
            f0 = rng.uniform(80.0, 3500.0)
            f1 = f0 * rng.uniform(0.5, 2.0)
            phase = 2 * np.pi * (f0 * t + (f1 - f0) * t * t
                                 / (2 * max(t[-1], 1e-9)))
            env = rng.uniform(0.4, 1.0) + rng.uniform(-0.6, 0.6) * (t / max(
                t[-1], 1e-9))
            x += rng.uniform(0.08, 0.35) * env * np.sin(
                phase + rng.uniform(0, 2 * np.pi)
            )
    elif kind_draw < 0.80:
        kind = "noise"
        x = rng.normal(0.0, rng.uniform(0.03, 0.25), size=n)
    elif kind_draw < 0.90:
        kind = "clipped"  # amplitude > full scale => clipping_ppm fires
        x = rng.uniform(1.3, 2.0) * np.sin(
            2 * np.pi * rng.uniform(100.0, 1000.0) * t
        )
    else:
        kind = "silence"  # < -45 dBFS => silent flag fires
        x = rng.normal(0.0, 1.5e-4, size=n)
    x = np.clip(x, -1.0, 1.0)
    if channels == 1:
        samples = x[:, None]
    else:
        # per-channel gain + tiny delay so channels differ but stay
        # correlated like real stereo
        cols = [x]
        for c in range(1, channels):
            cols.append(np.roll(x, c) * rng.uniform(0.8, 1.0))
        samples = np.stack(cols, axis=1)
    return samples, rate, dtype, kind


def generate_audio_row(audio_id: str) -> dict:
    """One deterministic (audio_id, bytes, kind) row.  Rows whose numeric
    index is ``DUP_STRIDE*k + DUP_STRIDE-1`` are planted NEAR-DUPLICATES:
    a -46 dB-noise re-encode (int16) of row ``idx - 1``'s signal — the
    ground truth for the fingerprint near-dup bench leg."""
    idx = int(audio_id[2:]) if audio_id[2:].isdigit() else -1
    if idx >= 1 and idx % DUP_STRIDE == DUP_STRIDE - 1:
        base_id = f"au{idx - 1:010d}"
        samples, rate, _, _ = _signal(rng_for(base_id + "#wav"))
        rng = rng_for(audio_id + "#dup")
        noisy = np.clip(
            samples + rng.normal(0.0, 0.005, size=samples.shape),
            -1.0, 1.0,
        )
        return {
            "audio_id": audio_id,
            "bytes": encode_wav(_quantize(noisy, np.int16), rate),
            "kind": "dup",
        }
    rng = rng_for(audio_id + "#wav")
    samples, rate, dtype, kind = _signal(rng)
    container = rng.random()
    if container < 0.10:
        # 10% telephony band: G.711 companded containers (format 6/7),
        # so the mu-law/A-law expansion tables are inside the measured
        # decode path — and their planted dups cross CODECS (int16 dup
        # of a companded base), the realistic re-encode scenario
        law = "mulaw" if rng.random() < 0.5 else "alaw"
        data = encode_wav_g711(_quantize(samples, np.int16), rate, law)
    elif container < 0.15:
        # 5% IMA ADPCM band (format 0x11): the sequential per-sample
        # expansion loop is the slowest decode path — keeping it inside
        # the measured corpus makes the leg's throughput honest
        data = encode_wav_adpcm(_quantize(samples, np.int16), rate)
    elif container < 0.25 and samples.shape[0] <= 240 * rate:
        # 10% FLAC band: the dominant lossless container in web audio
        # crawls; Rice/LPC decode is a measured slow path like ADPCM.
        # Lossless => planted dups of a FLAC base cross codecs with
        # byte-identical PCM.  The >240 s too_long rows stay WAV (a
        # 250 s clip costs ~18 s of LPC search to encode).
        data = encode_flac(_quantize(samples, np.int16), rate)
    else:
        data = encode_wav(_quantize(samples, dtype), rate)
    if rng.random() < CORRUPT_FRAC:
        kind = "corrupt"
        data = data[: max(12, len(data) // 2)] if rng.random() < 0.5 \
            else b"\x00" * 64
    return {"audio_id": audio_id, "bytes": data, "kind": kind}


def write_audio_corpus(
    spark, out_dir: str, n_rows: int, partitions: int | None = None
) -> None:
    """Distributed deterministic generation (mapInPandas over a range).

    Partition count bounds ROWS PER TASK at ~64, not tasks per core:
    clips average ~90 KB (and the too_long band is ~4 MB each), so a
    32-partition 20k-row generation builds ~60 MB pandas/Arrow batches
    in 32 concurrent tasks — measured GCLocker death of the whole JVM
    at the default 8 g local-mode heap.  64 rows/task keeps every batch
    ~6 MB and, as a side effect, writes small parquet files that keep
    the decode leg's columnar scan batches bounded too."""
    parts = partitions or max(
        spark.sparkContext.defaultParallelism, (n_rows + 63) // 64
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                generate_audio_row(f"au{int(i):010d}") for i in pdf["id"]
            ]
            yield pd.DataFrame(rows)

    (
        spark.range(0, n_rows, numPartitions=parts)
        .mapInPandas(gen, schema="audio_id string, bytes binary, kind string")
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "audio"))
    )


def ensure_cached_audio_corpus(
    spark, out_dir: str, n_rows: int, partitions: int | None = None
) -> str:
    """Generate-once cached corpus (``fixtures/cache.py``), keyed on this
    module and the WAV/FLAC codecs; returns the audio table path."""
    from .cache import cached, source_digest

    here = os.path.dirname(os.path.abspath(__file__))
    return cached(
        out_dir, "audio",
        lambda: write_audio_corpus(spark, out_dir, n_rows, partitions),
        sources=source_digest(here, ("audio_corpus.py", "wav.py", "flac.py")),
        params=(n_rows, partitions),
    )
