"""Audio operators over binary WAV columns — the audio leg of the
multimodal axis (images: ``operators/vision.py``; video: frame sampling
there too).  Same architecture: decode/measure ONCE at ingest into typed
metadata columns (``audio_stats``), then every corpus-scale gate is a
JVM-expression scan of narrow metadata that never touches the blob
(``audio_quality_flags``); the heavy per-byte work (chunking, resample)
is Arrow-batched ``mapInPandas`` — no row-at-a-time Python anywhere.

Poison rows: every decoding operator here is a per-row function run
through ``operators/rows.py::map_rows``, whose one ``except Exception``
hands a failing row (corrupt or foreign container, NULL bytes) to the
operator's fallback — ``ok = false`` with NULL metrics for
``audio_stats`` / ``audio_fingerprints``, no output rows for
``chunk_audio`` / ``resample_audio`` — so no clip kills a stage.

Determinism note: ``audio_stats`` quantizes its quality metrics to
integers at ingest — clipping as parts-per-million, loudness as
centi-dB — so downstream gates compare exact integers (immune to the
cross-engine double-rounding hazards the contract work documented) and
the metadata table stays compact at 10^12 rows.

Reference parity note: the reference repo (a-agmon/pii-redactor) is
text-only (``src/inference.py`` never opens media); this module serves
the north rule's multimodal axis alongside vision.py.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .rows import map_rows

STATS_SCHEMA = (
    "audio_id string, ok boolean, sample_rate int, channels int, "
    "n_samples bigint, duration_ms bigint, bits int, "
    "clipping_ppm int, rms_centi_db int, zero_cross_permille int"
)

CHUNK_SCHEMA = (
    "audio_id string, chunk_no int, bytes binary, "
    "n_samples bigint, sample_rate int"
)

RESAMPLE_SCHEMA = (
    "audio_id string, bytes binary, n_samples bigint, sample_rate int"
)

_SILENT_CENTI_DB = -9600  # digital-silence floor (< 16-bit LSB)


def decode_audio(data: bytes) -> tuple[np.ndarray, int]:
    """Container-sniffing decode: RIFF/WAVE -> ``fixtures.wav``,
    fLaC -> ``fixtures.flac``.  Same contract both ways — ((n, ch) int
    array, rate), every parse failure a ``ValueError`` — so the
    operators below stay container-agnostic the way ``decode_image``
    dispatches on ``fmt`` for the image axis.  Unknown magic raises
    ``NotImplementedError`` (env-honest refusal, which the operators'
    poison-row policy turns into their fallback row)."""
    head = bytes(data[:4])
    if head == b"RIFF":
        from ..fixtures.wav import decode_wav
        return decode_wav(data)
    if head == b"fLaC":
        from ..fixtures.flac import decode_flac
        return decode_flac(data)
    raise NotImplementedError(
        f"unrecognized audio container magic {head!r} (WAV/FLAC supported)"
    )


def _to_float(arr: np.ndarray) -> np.ndarray:
    """Container samples -> float64 in [-1, 1] (full-scale = 1.0)."""
    if arr.dtype == np.uint8:
        return (arr.astype(np.float64) - 128.0) / 128.0
    if arr.dtype == np.int8:  # FLAC 8-bit is signed (WAV 8-bit is unsigned)
        return arr.astype(np.float64) / 128.0
    if arr.dtype == np.int16:
        return arr.astype(np.float64) / 32768.0
    if arr.dtype == np.int32:
        return arr.astype(np.float64) / 2147483648.0
    return arr.astype(np.float64)  # float32 is already full-scale 1.0


def _measure(samples: np.ndarray, rate: int) -> tuple[int, ...]:
    """Quantized signal stats over a (n, ch) sample array."""
    x = _to_float(samples)
    n, ch = x.shape
    mono = x.mean(axis=1)
    rms = float(np.sqrt(np.mean(np.square(x))))
    rms_centi_db = (
        _SILENT_CENTI_DB if rms <= 0.0
        else max(_SILENT_CENTI_DB, round(2000.0 * math.log10(rms)))
    )
    clipping_ppm = round(1e6 * float(np.mean(np.abs(x) >= 32767 / 32768)))
    zero_cross = (
        0 if n < 2
        else round(1000.0 * float(np.mean(np.signbit(mono[1:])
                                          != np.signbit(mono[:-1]))))
    )
    return (
        rate, ch, n, n * 1000 // rate,
        int(samples.dtype.itemsize) * 8,
        int(clipping_ppm), int(rms_centi_db), int(zero_cross),
    )


def audio_stats(df: DataFrame) -> DataFrame:
    """Decode WAV blobs ONCE into the typed metadata row every later gate
    reads — (rate, channels, samples, duration, bit depth, clipping ppm,
    RMS centi-dB, zero-crossing permille).  A row that fails anywhere
    (corrupt or out-of-scope container, NULL bytes) survives as ok=false
    with NULL metrics (``operators/rows.py``'s poison-row policy, the
    same as ``vision.decode_stats``).  Input: (audio_id, bytes).
    """
    def row(aid, data):
        samples, rate = decode_audio(bytes(data))
        return [(aid, True, *_measure(samples, rate))]

    def failed(aid, data):
        return [(aid, False) + (None,) * 8]

    return map_rows(df.select("audio_id", "bytes"), STATS_SCHEMA,
                    row, failed)


# --- metadata-only quality gate (JVM expressions, blob never read) -----------

AUDIO_QUALITY_FLAGS = (
    "null_metadata", "too_short", "too_long", "bad_rate",
    "bad_channels", "clipped", "silent",
)


@dataclass(frozen=True)
class AudioQualityConfig:
    """Corpus gates for web-scraped audio, LAION-style: every check runs
    on the typed metadata columns ``(sample_rate, channels, duration_ms,
    clipping_ppm, rms_centi_db)`` — never on the waveform — so at 10^12
    rows the gate is a column-pruned scan of five integer columns."""

    min_duration_ms: int = 300
    max_duration_ms: int = 240_000
    rate_allow: tuple[int, ...] = (16_000, 22_050, 44_100, 48_000)
    max_channels: int = 2
    max_clipping_ppm: int = 10_000   # >1% clipped samples => distorted
    min_rms_centi_db: int = -4_500   # quieter than -45 dBFS => silence


DEFAULT_AUDIO_QUALITY = AudioQualityConfig()


def audio_quality_flags(
    cfg: AudioQualityConfig = DEFAULT_AUDIO_QUALITY,
) -> Column:
    """``array<string>`` of failed gate names (empty array = clean clip).

    NULL metadata gets its own explicit flag for the same reason
    ``vision.image_quality_flags`` grew one: every threshold comparison
    evaluates NULL on NULL inputs, and ``array_compact`` would strip
    those — silently PASSING exactly the undecodable rows the gate
    exists to drop.
    """
    dur = F.col("duration_ms")
    cols = ("sample_rate", "channels", "duration_ms",
            "clipping_ppm", "rms_centi_db")
    null_any = F.lit(False)
    for c in cols:
        null_any = null_any | F.col(c).isNull()
    checks = [
        (null_any, "null_metadata"),
        (dur < cfg.min_duration_ms, "too_short"),
        (dur > cfg.max_duration_ms, "too_long"),
        (~F.col("sample_rate").isin(*cfg.rate_allow), "bad_rate"),
        (F.col("channels") > cfg.max_channels, "bad_channels"),
        (F.col("clipping_ppm") > cfg.max_clipping_ppm, "clipped"),
        (F.col("rms_centi_db") < cfg.min_rms_centi_db, "silent"),
    ]
    return F.array_compact(
        F.array(*[
            F.when(cond, F.lit(name)).otherwise(F.lit(None))
            for cond, name in checks
        ])
    )


def with_audio_quality(
    df: DataFrame,
    cfg: AudioQualityConfig = DEFAULT_AUDIO_QUALITY,
    keep_col: str | None = None,
) -> DataFrame:
    """Append ``audio_flags`` and — when ``keep_col`` is given — AND
    "no flags" into the existing keep/drop decision.  Pure projection."""
    out = df.withColumn("audio_flags", audio_quality_flags(cfg))
    if keep_col is not None:
        out = out.withColumn(
            keep_col, F.col(keep_col) & (F.size("audio_flags") == 0)
        )
    return out


# --- spectral fingerprint: audio near-dup via the simhash machinery ----------

FP_SCHEMA = "audio_id string, ok boolean, fingerprint bigint"


def _spectral_fingerprint(samples: np.ndarray, rate: int) -> int:
    """64-bit spectral fingerprint (Haitsma-Kalker-style band-energy
    signs): mono mix -> 4 kHz linear resample -> 256/128 Hann STFT ->
    16 log-spaced bands x 4 time segments -> bit = cell log-energy above
    the clip's own median.  Median-relative bits make the fingerprint
    EXACTLY gain-invariant (a global gain shifts every cell's log energy
    and the median equally) and robust to mild additive noise; the
    64-bit layout is bit-positional like SimHash/phash, so near-dup
    candidates come from the same pigeonhole chunk joins — never an
    all-pairs comparison."""
    x = _to_float(samples).mean(axis=1)
    n = x.shape[0]
    # floor the resampled length at 8 frames' worth (256 + 7*128): the
    # four time segments each need >= 2 STFT frames, else array_split
    # hands mean() an empty slice -> NaN cells -> garbage fingerprint
    m = max(1152, int(round(n * 4000.0 / rate)))
    y = np.interp(np.linspace(0.0, n - 1.0, m), np.arange(n), x)
    win, hop = 256, 128
    n_frames = 1 + (m - win) // hop
    idx = np.arange(win)[None, :] + hop * np.arange(n_frames)[:, None]
    frames = y[idx] * np.hanning(win)[None, :]
    spec = np.abs(np.fft.rfft(frames, axis=1)) ** 2  # (T, 129)
    edges = np.geomspace(2, spec.shape[1] - 1, 17)
    edges = np.maximum.accumulate(np.round(edges).astype(int))
    # bandwidth-NORMALIZED band energy (mean, not sum): geomspace bands
    # widen with frequency, and summing hands every broadband clip the
    # same band-width ramp — measured: 40 white-noise clips collapse to
    # cross-hamming median 4 under sum (64k quadratic pairs in a 2k-clip
    # corpus) vs median 23 under mean, while true noisy re-encodes stay
    # <= 8
    bands = np.stack(
        [
            spec[:, edges[b]:max(edges[b + 1], edges[b] + 1)].mean(axis=1)
            for b in range(16)
        ],
        axis=1,
    )  # (T, 16)
    log_e = np.log(bands + 1e-12)
    qs = np.array_split(log_e, 4, axis=0)
    cells = np.stack([q.mean(axis=0) for q in qs], axis=0)  # (4, 16)
    # clamp to a dynamic-range floor below the clip's peak cell: cells
    # carrying only the noise floor (sparse/tonal content) collapse to
    # ONE stable value instead of ordering randomly around the median —
    # without this, re-encoding a 4-tone clip with -40 dB added noise
    # flips ~24 of the 64 bits (measured), all in empty bands
    cells = np.maximum(cells, cells.max() - 5.0)
    bits = (cells > np.median(cells)).ravel()
    fp = 0
    for b in bits:
        fp = (fp << 1) | int(b)
    return fp - (1 << 64) if fp >= (1 << 63) else fp


def audio_fingerprints(df: DataFrame) -> DataFrame:
    """One 64-bit spectral fingerprint per clip (ingest-time, like
    ``audio_stats``) — the audio analog of the image phash column.
    A row that fails anywhere survives as ok=false with a NULL
    fingerprint.  Input: (audio_id, bytes)."""
    def row(aid, data):
        samples, rate = decode_audio(bytes(data))
        return [(aid, True, _spectral_fingerprint(samples, rate))]

    def failed(aid, data):
        return [(aid, False, None)]

    return map_rows(df.select("audio_id", "bytes"), FP_SCHEMA, row, failed)


def solid_fingerprint() -> Column:
    """True where ``fingerprint`` is not degenerate: 8 to 56 of its 64
    bits set.  All-floor content (digital silence) gives near-constant
    bits, and such clips would pair quadratically in a near-dup join, so
    near-dup consumers drop them first (``audio_neardup_pairs`` itself
    does not filter)."""
    pc = F.bit_count("fingerprint")
    return (pc >= 8) & (pc <= 56)


def audio_neardup_pairs(
    fp_df: DataFrame, max_hamming: int = 6
) -> DataFrame:
    """Near-duplicate clip pairs with hamming(fingerprint) <= max_hamming
    — the stored fingerprint is bit-positional, so this reuses the
    pigeonhole chunk-join from ``dedup.simhash_candidates`` verbatim
    ((h+1) chunk equi-joins, exact ``bit_count`` filter only on
    collisions; recall is exact by pigeonhole).  Input: the
    ``audio_fingerprints`` output (ok=false rows are dropped here)."""
    from .dedup import simhash_candidates

    sim = fp_df.where(F.col("ok")).select(
        "audio_id", F.col("fingerprint").alias("simhash")
    )
    return simhash_candidates(sim, id_col="audio_id",
                              max_hamming=max_hamming)


# --- per-byte stages: chunking + resample (Arrow-batched) ---------------------


def _dropped(aid, data) -> list[tuple]:
    """The per-byte stages' fallback: a clip that fails to decode or
    rewrite yields no rows (``audio_stats`` is where it is accounted)."""
    return []


def chunk_audio(df: DataFrame, chunk_ms: int = 30_000) -> DataFrame:
    """Split each clip into fixed ``chunk_ms`` windows (the audio analog
    of video frame sampling): one output row per chunk, re-encoded as a
    standalone WAV so downstream stages need no container context.  The
    final partial chunk is kept (ASR-style), never zero-padded.  Input:
    (audio_id, bytes); corrupt rows are dropped here — run
    ``audio_stats`` first if they must be accounted.
    """
    from ..fixtures.wav import encode_wav

    if chunk_ms <= 0:
        raise ValueError(f"chunk_ms must be positive, got {chunk_ms}")

    def row(aid, data):
        samples, rate = decode_audio(bytes(data))
        step = max(1, rate * chunk_ms // 1000)
        windows = (samples[lo:lo + step]
                   for lo in range(0, samples.shape[0], step))
        return [(aid, i, encode_wav(win, rate), win.shape[0], rate)
                for i, win in enumerate(windows)]

    return map_rows(df.select("audio_id", "bytes"), CHUNK_SCHEMA,
                    row, _dropped)


def resample_audio(df: DataFrame, target_rate: int) -> DataFrame:
    """Linear-interpolation resample to ``target_rate`` (int16 out) —
    the normalize-before-featurize step ASR/TTS corpora need.  Linear
    interpolation is the honest offline choice (no scipy in this
    environment); its first-order rolloff is documented rather than
    hidden behind a fake windowed-sinc.  Input: (audio_id, bytes);
    output replaces bytes with the resampled WAV.
    """
    from ..fixtures.wav import encode_wav

    if target_rate <= 0:
        raise ValueError(f"bad target rate {target_rate}")

    def row(aid, data):
        samples, rate = decode_audio(bytes(data))
        x = _to_float(samples)
        n = x.shape[0]
        m = max(1, round(n * target_rate / rate))
        # sample-position grid: index i of the output sits at
        # i * (n - 1) / (m - 1) in the input (endpoints pinned)
        if m == 1 or n == 1:
            y = np.repeat(x[:1], m, axis=0)
        else:
            pos = np.linspace(0.0, n - 1.0, m)
            y = np.stack(
                [np.interp(pos, np.arange(n), x[:, c])
                 for c in range(x.shape[1])],
                axis=1,
            )
        pcm = np.clip(np.round(y * 32768.0), -32768, 32767)
        return [(aid, encode_wav(pcm.astype(np.int16), target_rate),
                 m, target_rate)]

    return map_rows(df.select("audio_id", "bytes"), RESAMPLE_SCHEMA,
                    row, _dropped)
