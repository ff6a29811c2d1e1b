"""Image-column operators: decode, feature-extract, resize, integrity.

The multimodal side of the engine (graft cell: pyspark x image).  Images are
opaque ``binary`` columns with typed metadata ``(w, h, fmt)``; every operator
here is a ``mapInPandas`` batch transform — Arrow moves whole column batches
across the JVM<->Python boundary, NumPy does the pixel math, and nothing ever
touches the driver.

Poison rows: ``decode_stats``, ``resize_images``, ``scrub_image_metadata``,
``with_metadata_scrub`` and ``verify_integrity`` are per-row functions run
under ``operators/rows.py``'s one exception policy, so a row that fails
anywhere (corrupt stream, foreign codec, NULL bytes) takes its operator's
fallback row and never kills the stage.  The metadata scrub's fallback
fails closed: NULL bytes, never the original stream.  ``sample_frames``
stays outside it: a foreign video codec is a stage-level refusal.

Codec support (round 4-5): PNG (spec-compliant 8-bit RGB subset), REAL
JPEG/JFIF — baseline AND progressive (SOF2) since round 5 — REAL
GIF89a (round 5: full LZW, interlacing, transparency, animation), and
REAL WebP lossless (round 5: full VP8L — prefix codes, LZ77 +
neighborhood distance map, color cache, meta-prefix groups, all four
transforms incl. palette bundling) all decode for real:
``fixtures/codecs.py`` + ``fixtures/jpeg.py`` + ``fixtures/gif.py`` +
``fixtures/webp.py`` (pure-NumPy T.81 codec: 4:4:4/4:2:0, restart
markers, grayscale, spectral-selection + successive-approximation
progressive scans; the pre-round-4 ``LQI1`` stand-in remains decodable
for old cached fixtures).  Genuinely out-of-scope formats (lossy VP8
WebP, inter-frame video, hierarchical/arithmetic JPEG) raise
``NotImplementedError`` from the same code path — the Spark-side
plumbing (schema, batching, partition flow) is identical and fully
tested either way.

Round 5 adds the image-modality PII pass: ``scrub_image_metadata``
strips Exif GPS / serials / owner tags / thumbnails / XMP by pure byte
surgery (``fixtures/exif.py``) — pixels are never decoded.

Reference parity note: the reference pipeline never decodes pixels (it is
text-only); these operators exist for the north-star's image-integrity gate
(decoded-pixel allclose / PSNR >= 40 dB) and the training-data-pipeline
feature-extraction stages the brief calls for.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..fixtures.codecs import (
    decode_image,
    encode_png,
    phash64,
    psnr,
)
from .rows import guard, map_rows

STATS_SCHEMA = (
    "image_id string, fmt string, w int, h int, decoded boolean, "
    "mean_r double, mean_g double, mean_b double, stddev double, "
    "entropy double, phash_dist int, phash_check boolean"
)

# Stored phash is computed on source pixels before encoding; lossy decode may
# flip a few border-case bits in the 8x8 block-mean comparison.
_LOSSY_PHASH_TOL = 8

RESIZE_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string"
)

INTEGRITY_SCHEMA = (
    "image_id string, fmt string, ok boolean, psnr double"
)


def _entropy(pixels: np.ndarray) -> float:
    hist = np.bincount(pixels.reshape(-1), minlength=256).astype(np.float64)
    p = hist / hist.sum()
    nz = p[p > 0]
    return float(-(nz * np.log2(nz)).sum())


def decode_stats(df: DataFrame, apply_orientation: bool = False) -> DataFrame:
    """Per-image feature extraction: channel means, stddev, entropy, and a
    phash recomputation check against the stored ``phash`` column.

    Input requires columns (image_id, bytes, fmt, phash).  A row that
    fails anywhere (undecodable or foreign format, NULL bytes or phash)
    comes back ``decoded = false`` with null features instead of failing
    the job — at 10^12 rows a poison row must never kill the stage.

    ``apply_orientation=True`` reports w/h/features in DISPLAY orientation
    for JPEGs carrying an Exif orientation tag (a cheap marker walk, no
    extra decode): cameras store sensor-order pixels, and an aspect-ratio
    gate fed sensor w/h silently inverts for every portrait shot.  The
    phash check stays on the raw decode — the stored phash contract is
    encode-time pixels.
    """
    from ..fixtures.exif import normalize_orientation, orientation_of

    def row(iid, data, fmt, ph):
        raw = decode_image(bytes(data), fmt)
        px = raw
        if apply_orientation and fmt == "jpeg":
            px = normalize_orientation(raw, orientation_of(bytes(data)))
        means = px.reshape(-1, 3).mean(axis=0)
        dist = int(
            bin((phash64(raw) ^ int(ph)) & 0xFFFFFFFFFFFFFFFF).count("1")
        )
        tol = _LOSSY_PHASH_TOL if fmt != "png" else 0
        return [(
            iid, fmt, int(px.shape[1]), int(px.shape[0]), True,
            float(means[0]), float(means[1]), float(means[2]),
            float(px.astype(np.float64).std()),
            _entropy(px),
            dist,
            dist <= tol,
        )]

    def undecoded(iid, data, fmt, ph):
        return [(iid, fmt, None, None, False) + (None,) * 7]

    cols = df.select("image_id", "bytes", "fmt", "phash")
    return map_rows(cols, STATS_SCHEMA, row, undecoded)


def resize_images(df: DataFrame, max_side: int = 32) -> DataFrame:
    """Nearest-neighbor downsample to ``max_side`` and re-encode as PNG.

    Upscaling never happens (training pipelines shrink, they don't inflate).
    Output is always lossless PNG: a resize stage must not stack a second
    lossy generation on top of the source's.

    Poison rows (undecodable format/bytes, NULL bytes) pass through
    untouched — original bytes and fmt, null dims — instead of killing
    the stage; a resize stage must not drop data it cannot improve.
    """

    def row(iid, data, fmt):
        px = decode_image(bytes(data), fmt)
        h, w = px.shape[:2]
        scale = max(h, w) / max_side
        if scale > 1:
            ys = (np.arange(int(h / scale)) * scale).astype(int)
            xs = (np.arange(int(w / scale)) * scale).astype(int)
            px = px[ys][:, xs]
        return [(iid, encode_png(px), int(px.shape[1]), int(px.shape[0]),
                 "png")]

    def passthrough(iid, data, fmt):
        return [(iid, data, None, None, fmt)]

    return map_rows(df.select("image_id", "bytes", "fmt"), RESIZE_SCHEMA,
                    row, passthrough)


EXIF_SCRUB_SCHEMA = (
    "image_id string, bytes binary, fmt string, had_exif boolean, "
    "had_gps boolean, had_thumbnail boolean, orientation int, "
    "removed string, flag string"
)


def _metadata_scrub_row(*, strip_device: bool, strip_timestamps: bool):
    """The per-image metadata scrub both operators below run, as a
    ``(row, corrupt)`` pair over ``(image_id, data, fmt)`` whose tuples
    follow ``EXIF_SCRUB_SCHEMA``.

    ``row`` reports ``had_exif`` / ``had_gps`` / ``had_thumbnail`` /
    ``orientation`` and the comma-joined ``removed`` list with ``flag =
    'ok'``; an unknown format passes through with an empty report and
    ``'unsupported_fmt'``.  ``corrupt`` is the fail-closed fallback: NULL
    bytes, all-NULL report, ``'corrupt'`` — a stream the scrubber cannot
    parse never leaves with its original bytes, GPS included.
    """
    from ..fixtures.exif import (
        scrub_exif,
        scrub_gif_metadata,
        scrub_png_metadata,
        scrub_webp_metadata,
    )

    strip = {"strip_device": strip_device,
             "strip_timestamps": strip_timestamps}
    scrubbers = {
        "jpeg": partial(scrub_exif, **strip),
        "png": partial(scrub_png_metadata, **strip),
        "webp": partial(scrub_webp_metadata, **strip),
        "gif": scrub_gif_metadata,
    }

    def row(iid, data, fmt):
        scrub = scrubbers.get(fmt)
        if scrub is None:
            return [(iid, data, fmt, False, False, False, 1, "",
                     "unsupported_fmt")]
        clean, rep = scrub(bytes(data))
        return [(iid, clean, fmt, rep["had_exif"], rep["had_gps"],
                 rep["had_thumbnail"], rep["orientation"],
                 ",".join(rep["removed"]), "ok")]

    def corrupt(iid, data, fmt):
        return [(iid, None, fmt) + (None,) * 5 + ("corrupt",)]

    return row, corrupt


def scrub_image_metadata(
    df: DataFrame,
    *,
    strip_device: bool = False,
    strip_timestamps: bool = False,
) -> DataFrame:
    """Strip PII from image METADATA: GPS IFD, camera/lens serials,
    artist/owner names, MakerNote, the IFD1 thumbnail (pre-crop privacy
    leak), and XMP packets — the image-modality counterpart of the
    caption scrub stage (the reference redacts the same identity
    classes from text: /root/reference/src/inference.py:161-186).

    Pure byte-stream surgery via ``fixtures/exif.py``: the entropy-coded
    pixel data is copied verbatim, so decoded pixels are byte-identical
    and the stage never runs a DCT — at 10^12 images this is a pure
    scan-rewrite pass whose cost is I/O, not compute.  All four corpus
    containers are covered: JPEG (APP1 Exif rebuild + XMP drop), PNG
    (tEXt/zTXt/iTXt drop, eXIf scrub-and-rebuild), WebP (EXIF/XMP chunk
    drop + VP8X flag clear), GIF (comment + XMP application extension
    drop).  Unknown formats pass through with ``flag =
    'unsupported_fmt'``.  A stream that fails to scrub (malformed, NULL)
    fails closed: ``flag = 'corrupt'`` with NULL bytes, never the
    original stream.
    """
    row, corrupt = _metadata_scrub_row(
        strip_device=strip_device, strip_timestamps=strip_timestamps
    )
    return map_rows(df.select("image_id", "bytes", "fmt"),
                    EXIF_SCRUB_SCHEMA, row, corrupt)


META_SCRUB_STRUCT = (
    "struct<bytes: binary, meta_had_gps: boolean, "
    "meta_removed: string, meta_flag: string>"
)


def with_metadata_scrub(
    df: DataFrame,
    *,
    strip_device: bool = False,
    strip_timestamps: bool = False,
) -> DataFrame:
    """Attach the metadata-PII scrub IN PLACE: replaces ``bytes`` (read
    with ``fmt``) with the scrubbed stream and adds ``meta_had_gps`` /
    ``meta_removed`` / ``meta_flag``, passing every other column
    through untouched.

    One struct-returning iterator pandas UDF — no join back, no second
    decode, no shuffle; the pipeline's materialize mode composes this
    with the caption scrub as two ArrowEvalPython nodes over the same
    narrow pass.  It runs ``scrub_image_metadata``'s row under the same
    guard: a stream that fails to scrub gets NULL bytes (``meta_flag =
    'corrupt'``); unknown formats pass through (``'unsupported_fmt'``).
    """
    from pyspark.sql.functions import pandas_udf

    scrub = guard(*_metadata_scrub_row(
        strip_device=strip_device, strip_timestamps=strip_timestamps
    ))

    @pandas_udf(META_SCRUB_STRUCT)
    def _scrub(
        batches: Iterator[tuple[pd.Series, pd.Series]],
    ) -> Iterator[pd.DataFrame]:
        for blobs, fmts in batches:
            recs = [(clean, had_gps, removed, flag)
                    for data, fmt in zip(blobs, fmts)
                    for _, clean, _, _, had_gps, _, _, removed, flag
                    in scrub(None, data, fmt)]
            yield pd.DataFrame(
                recs,
                columns=["bytes", "meta_had_gps", "meta_removed",
                         "meta_flag"],
            )

    scrubbed = df.withColumn(
        "_meta", _scrub.asNondeterministic()(F.col("bytes"), F.col("fmt"))
    )
    return (
        scrubbed.withColumn("bytes", F.col("_meta.bytes"))
        .withColumn("meta_had_gps", F.col("_meta.meta_had_gps"))
        .withColumn("meta_removed", F.col("_meta.meta_removed"))
        .withColumn("meta_flag", F.col("_meta.meta_flag"))
        .drop("_meta")
    )


def verify_integrity(df_after: DataFrame, df_before: DataFrame) -> DataFrame:
    """The north-star image gate as a distributed operator: join the pipeline
    output back to the source on image_id (broadcast-or-shuffle equi join —
    AQE picks) and decode both sides; ``ok`` iff pixels are allclose for
    lossless fmt / PSNR >= 40 dB for lossy fmt.  A pair where
    either side fails to decode (corrupt, foreign format, NULL bytes) is
    ``ok = false`` with NULL ``psnr``.
    """
    before = df_before.select(
        "image_id",
        df_before["bytes"].alias("bytes_before"),
        df_before["fmt"].alias("fmt_before"),
    )
    joined = df_after.select("image_id", "bytes", "fmt").join(
        before, "image_id"
    )

    def row(iid, a, fa, b, fb):
        pa = decode_image(bytes(a), fa)
        pb = decode_image(bytes(b), fb)
        if pa.shape != pb.shape:
            return [(iid, fa, False, 0.0)]
        val = psnr(pa, pb)
        lossless = fa == "png" and fb == "png"
        ok = bool(np.array_equal(pa, pb)) if lossless else bool(
            val >= 40.0
        )
        return [(iid, fa, ok, float(min(val, 1e9)))]

    def undecodable(iid, a, fa, b, fb):
        return [(iid, fa, False, None)]

    return map_rows(joined, INTEGRITY_SCHEMA, row, undecodable)


FRAME_SCHEMA = (
    "video_id string, frame_no int, bytes binary, w int, h int"
)


def split_mjpeg_frames(data: bytes) -> list[bytes]:
    """Split a Motion-JPEG stream (concatenated JFIF frames — the actual
    MJPEG over-HTTP / AVI-payload layout) into per-frame JPEG bytes.

    A real segment walker, not a byte search: segment payloads (DQT at
    low quality) can legally contain the 0xFFD9 byte pair, so EOI is
    located by walking marker segments (skipping their declared lengths)
    and entropy regions (honoring byte stuffing and RSTn) — frame
    boundaries are exact for any baseline stream.  Truncation surfaces
    as ValueError (never IndexError) so stream-level callers can guard
    uniformly."""
    import struct as _struct

    try:
        return _split_mjpeg_inner(data, _struct)
    except (IndexError, KeyError, _struct.error) as e:
        raise ValueError(f"truncated or corrupt MJPEG stream: {e!r}") from e


def _split_mjpeg_inner(data: bytes, _struct) -> list[bytes]:
    frames = []
    n = len(data)
    pos = 0
    while True:
        soi = data.find(b"\xff\xd8", pos)
        if soi < 0:
            break
        p = soi + 2
        end = None
        while p < n - 1:
            if data[p] != 0xFF:
                raise ValueError(f"marker expected at offset {p}")
            m = data[p + 1]
            if m == 0xFF:                      # T.81 fill byte(s)
                p += 1
                continue
            if m == 0xD9:                      # EOI
                end = p + 2
                break
            if m == 0x01 or 0xD0 <= m <= 0xD8:  # TEM/RSTn/spurious SOI
                p += 2
                continue
            (ln,) = _struct.unpack(">H", data[p + 2:p + 4])
            p += 2 + ln
            if m == 0xDA:                      # SOS: then entropy bytes
                while p < n - 1:
                    if data[p] != 0xFF:
                        p += 1
                    elif data[p + 1] == 0x00 or 0xD0 <= data[p + 1] <= 0xD7:
                        p += 2                 # stuffed byte / restart
                    else:
                        break                  # real marker ends entropy
        if end is None:
            raise ValueError("truncated MJPEG stream: frame without EOI")
        frames.append(data[soi:end])
        pos = end
    if not frames:
        raise ValueError("no JFIF frames found in stream")
    return frames


def sample_frames(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame sampling over Motion-JPEG streams — REAL (round 4).

    Input (video_id string, bytes binary, fmt string); fmt ``"mjpeg"``
    streams are split into JFIF frames (``split_mjpeg_frames``) and every
    ``every_n``-th frame is decoded with the real baseline JPEG decoder
    (``fixtures/jpeg.py``) to recover (w, h); the sampled frame's own
    JPEG bytes pass through so downstream stages (quality gates, phash,
    re-encode) work per frame without a second container parse.  Fmt
    ``"gif"`` (round 5) decodes animated GIF89a for real
    (``fixtures/gif.py``): frames are composited per disposal method
    exactly as a viewer shows them, and because a composited frame has
    no standalone byte representation inside the container, sampled
    frames re-encode as lossless PNG.  ``"webp"`` (round 5) does the
    same for animated lossless WebP (``fixtures/webp.py``: ANMF
    sub-rectangles composited per blend/dispose flags; lossy VP8 frames
    refuse).  ``"y4m"`` (round 5) decodes uncompressed YUV4MPEG2
    (``fixtures/y4m.py``: C444/C422/C420*/Cmono planar frames); like
    the composited formats, sampled raw frames re-encode as lossless
    PNG.  Formats needing an inter-frame motion codec
    (H.264/VP9/AV1) still raise ``NotImplementedError`` from the same
    batch path — honest scope, not a silent wrong answer.

    Output: ``(video_id string, frame_no int, bytes binary, w int,
    h int)`` — one row per SAMPLED frame; mapInPandas, bytes never on
    the driver.
    """
    from ..fixtures.gif import decode_gif_frames
    from ..fixtures.jpeg import decode_jpeg
    from ..fixtures.webp import decode_webp_frames
    from ..fixtures.y4m import decode_y4m_frames

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for vid, data, fmt in zip(
                pdf["video_id"], pdf["bytes"], pdf["fmt"]
            ):
                if fmt in ("gif", "webp", "y4m"):
                    decode = {
                        "gif": decode_gif_frames,
                        "webp": decode_webp_frames,
                        "y4m": decode_y4m_frames,
                    }[fmt]
                    for i, px in enumerate(decode(bytes(data))):
                        if i % every_n:
                            continue
                        out.append(
                            (vid, i, encode_png(px),
                             px.shape[1], px.shape[0])
                        )
                    continue
                if fmt != "mjpeg":
                    raise NotImplementedError(
                        f"video fmt {fmt!r}: inter-frame codecs need "
                        "ffmpeg/av, not available in this environment "
                        "(mjpeg, animated gif/webp and y4m streams "
                        "decode for real)"
                    )
                for i, frame in enumerate(
                    split_mjpeg_frames(bytes(data))
                ):
                    if i % every_n:
                        continue
                    px = decode_jpeg(frame)
                    out.append(
                        (vid, i, frame, px.shape[1], px.shape[0])
                    )
            yield pd.DataFrame(
                out, columns=["video_id", "frame_no", "bytes", "w", "h"]
            )

    return df.mapInPandas(gen, schema=FRAME_SCHEMA)


# --- image quality gate (metadata-only, JVM expressions) ---------------------

IMAGE_QUALITY_FLAGS = (
    "null_metadata", "too_small", "extreme_aspect", "bad_format",
    "bytes_implausible",
)


@dataclass(frozen=True)
class ImageQualityConfig:
    """LAION/DataComp-style metadata gates for web-scraped image tables.

    Every check below runs on the typed metadata columns ``(w, h, fmt)`` —
    never on the pixels — so at 10^12 rows the gate is a column-pruned scan
    of three narrow columns; the binary blob is untouched (the plan pin in
    tests asserts ``bytes`` stays out of the read schema).  The optional
    bytes-plausibility check is the one exception and is off by default:
    it needs ``octet_length(bytes)``, i.e. a read of the binary column.
    """

    min_side: int = 64
    max_aspect: float = 4.0
    fmt_allow: tuple[str, ...] = ("png", "jpeg")
    # encoded bytes per pixel outside [lo, hi] => corrupt or decompression
    # bomb; None disables (the default — keeps the gate metadata-only)
    bytes_per_pixel_bounds: tuple[float, float] | None = None


DEFAULT_IMAGE_QUALITY = ImageQualityConfig()


def image_quality_flags(
    cfg: ImageQualityConfig = DEFAULT_IMAGE_QUALITY,
) -> Column:
    """``array<string>`` of failed gate names (empty array = clean image).

    NULL metadata gets its own flag: the size/aspect/format comparisons all
    evaluate NULL on NULL inputs (which ``array_compact`` would strip,
    silently passing exactly the malformed rows a web-scrape gate exists to
    drop), so rows with any NULL in (w, h, fmt) are flagged explicitly.
    """
    w, h = F.col("w"), F.col("h")
    aspect = F.greatest(w, h) / F.least(w, h)
    checks = [
        (w.isNull() | h.isNull() | F.col("fmt").isNull(), "null_metadata"),
        ((F.least(w, h) < cfg.min_side), "too_small"),
        ((aspect > cfg.max_aspect), "extreme_aspect"),
        (~F.col("fmt").isin(*cfg.fmt_allow), "bad_format"),
    ]
    if cfg.bytes_per_pixel_bounds is not None:
        lo, hi = cfg.bytes_per_pixel_bounds
        bpp = F.octet_length("bytes") / (w * h)
        checks.append(((bpp < lo) | (bpp > hi), "bytes_implausible"))
    return F.array_compact(
        F.array(*[
            F.when(cond, F.lit(name)).otherwise(F.lit(None))
            for cond, name in checks
        ])
    )


def with_image_quality(
    df: DataFrame,
    cfg: ImageQualityConfig = DEFAULT_IMAGE_QUALITY,
    keep_col: str | None = None,
) -> DataFrame:
    """Append ``image_flags`` and — when ``keep_col`` is given — AND
    "no flags" into the existing keep/drop decision.  Pure projection."""
    out = df.withColumn("image_flags", image_quality_flags(cfg))
    if keep_col is not None:
        out = out.withColumn(
            keep_col, F.col(keep_col) & (F.size("image_flags") == 0)
        )
    return out


# --- perceptual-hash near-dup (image analog of SimHash dedup) ----------------


def phash_neardup_pairs(
    df: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
    max_hamming: int = 2,
) -> DataFrame:
    """Candidate image pairs with hamming(phash) <= max_hamming.

    The stored 64-bit perceptual hash is bit-positional exactly like a
    SimHash, so this reuses the pigeonhole chunk-join from
    :func:`..dedup.simhash_candidates` verbatim: (max_hamming + 1) chunk
    equi-joins, exact ``bit_count`` filter only on collisions — never an
    all-pairs comparison, and pixels are never decoded (the hash was
    computed once at ingest).  Recall is exact: <= max_hamming differing
    bits across (max_hamming + 1) disjoint chunks leaves >= 1 chunk equal.
    """
    from .dedup import simhash_candidates

    sim = df.select(F.col(id_col), F.col(phash_col).alias("simhash"))
    return simhash_candidates(sim, id_col=id_col, max_hamming=max_hamming)


def dedupe_images_by_phash(
    df: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
    max_hamming: int = 2,
) -> DataFrame:
    """Drop perceptually-duplicate images: connected components over the
    phash pair graph, keep the min-id representative per cluster (the image
    analog of ``dedup.dedupe_near``).  Deterministic under any parallelism;
    the LEFT ANTI join never moves the binary column through a shuffle —
    only ids travel."""
    from .dedup import connected_components

    edges = phash_neardup_pairs(df, id_col, phash_col, max_hamming).select(
        F.col("id_a"), F.col("id_b")
    )
    comp = connected_components(edges, id_col=id_col)
    losers = comp.where(F.col(id_col) != F.col("cluster_id")).select(id_col)
    return df.join(losers, id_col, "left_anti")
