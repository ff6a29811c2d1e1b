"""The synthetic image+caption table and its oracle labels table.

Schema per BASELINE.json ``input_hint``:
``(image_id string, bytes binary, w int, h int, fmt string, caption string,
phash long)`` plus the derived partition column ``phash_prefix``.

Generation is distributed (``mapInPandas`` over ``spark.range``) and keyed per
row, so any executor count yields identical bytes.  The oracle table records
expected outputs computed from the *true* generation-time spans through the
reference's semantics (classify -> mask/splice; boundary-adjust for the simple
variant) — the engine must re-discover those spans at F1 >= 0.99 and match the
scrubbed captions byte-for-byte (FIXTURES.md §2).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from ..core.classify import classify_entity
from ..core.quality import DEFAULT_QUALITY, quality_flags_batch
from ..core.redact import redact_simple, redact_typed
from .captions import CaptionConfig, make_caption, rng_for
from .codecs import encode_lossy, encode_png, phash64, phash_prefix
from .gif import encode_gif
from .webp import encode_webp

_SIZES = [16, 24, 32, 48, 64]
LOSSY_RATIO = 0.2  # FIXTURES.md §1: 20% of rows take the lossy path
# Round 5: 10% of rows are GIF89a (fixtures/gif.py).  GIF is palette-bound
# (<= 256 colors), so these rows carry posterized pixels — 4 levels per
# channel, <= 64 unique colors — and round-trip byte-exact like PNG.  The
# single rng.random() draw below routes the format, so adding the GIF band
# leaves every JPEG row's bytes identical to the round-4 fixture.
GIF_RATIO = 0.1
# Round 5: 10% are WebP lossless (fixtures/webp.py).  VP8L round-trips
# arbitrary RGB byte-exact, so these rows keep their true pixels; the band
# sits after GIF's in the same draw, carving the share out of PNG's and
# leaving the JPEG and GIF rows' bytes untouched.
WEBP_RATIO = 0.1


def make_pixels(rng: np.random.Generator, w: int, h: int) -> np.ndarray:
    """Deterministic raster: oriented gradient + 2-D wave field + noise.

    Diversity matters: phash is a *perceptual* average-hash, and the pipeline
    partitions by its top bits — a homogeneous generator (e.g. one fixed
    gradient direction) collapses every image into a handful of prefixes.
    Random orientation, per-channel polarity and wave frequency spread the
    8x8 block-mean pattern so prefixes distribute like real-world corpora.
    """
    gx = np.linspace(-1, 1, w, dtype=np.float64)
    gy = np.linspace(-1, 1, h, dtype=np.float64)
    theta = rng.uniform(0, 2 * np.pi)
    base = np.cos(theta) * gx[None, :] + np.sin(theta) * gy[:, None]
    fx, fy = rng.uniform(1.0, 9.0, size=2)
    px, py = rng.uniform(0, 2 * np.pi, size=2)
    wave = np.sin(fx * np.pi * gx[None, :] + px) * np.sin(
        fy * np.pi * gy[:, None] + py
    )
    img = np.empty((h, w, 3), dtype=np.float64)
    for ch in range(3):
        polarity = 1.0 if rng.random() < 0.5 else -1.0
        mix = rng.uniform(0.3, 0.7)
        offset = rng.uniform(80, 175)
        img[:, :, ch] = offset + polarity * 70.0 * (
            mix * base + (1 - mix) * wave
        )
    img += rng.normal(0, 12.0, size=(h, w, 3))
    return np.clip(img, 0, 255).astype(np.uint8)


def generate_image_row(image_id: str, cfg: CaptionConfig) -> dict:
    """One row of the images table + caption ground truth (no labels yet)."""
    rng = rng_for(image_id + "#img")
    w = int(_SIZES[rng.integers(0, len(_SIZES))])
    h = int(_SIZES[rng.integers(0, len(_SIZES))])
    pixels = make_pixels(rng, w, h)
    draw = rng.random()
    if draw < LOSSY_RATIO:
        fmt, data = "jpeg", encode_lossy(pixels)
    elif draw < LOSSY_RATIO + GIF_RATIO:
        # palette-bound format: the row's TRUE pixels are the posterized
        # raster (phash and all downstream decode checks use it)
        pixels = (pixels // 64) * 64 + 32
        fmt, data = "gif", encode_gif(pixels)
    elif draw < LOSSY_RATIO + GIF_RATIO + WEBP_RATIO:
        fmt, data = "webp", encode_webp(pixels)
    else:
        fmt, data = "png", encode_png(pixels)
    ph = phash64(pixels)
    cap = make_caption(image_id, cfg)
    return {
        "image_id": image_id,
        "bytes": data,
        "w": w,
        "h": h,
        "fmt": fmt,
        "caption": cap["caption"],
        "phash": ph,
        "phash_prefix": phash_prefix(ph),
        "_lang": cap["lang"],
        "_kind": cap["kind"],
        "_entities": cap["entities"],
    }


def label_rows(rows: list[dict]) -> list[dict]:
    """Oracle labels for a batch of generated rows (true-span semantics)."""
    captions = [r["caption"] for r in rows]
    flags, bpc, _ = quality_flags_batch(captions, DEFAULT_QUALITY)
    out = []
    for r, f in zip(rows, flags):
        text = r["caption"]
        entities = [
            {**e, "entity_type": classify_entity(e["text"])}
            for e in r["_entities"]
        ]
        spans = [(e["start"], e["end"], e["entity_type"]) for e in entities]
        scrubbed = redact_typed(text, spans)
        out.append(
            {
                "image_id": r["image_id"],
                "lang_expected": r["_lang"] if r["_kind"] == "template" else None,
                "kind": r["_kind"],
                "keep_expected": not f,
                "has_pii_expected": scrubbed != text,
                "scrubbed_expected": scrubbed,
                "scrubbed_expected_simple": redact_simple(text, spans),
                "entities": entities,
            }
        )
    return out


def generate_batch(
    ids: list[str], cfg: CaptionConfig
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(images, labels) pandas frames for a list of image_ids."""
    rows = [generate_image_row(i, cfg) for i in ids]
    labels = label_rows(rows)
    img_cols = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash",
                "phash_prefix"]
    images = pd.DataFrame([{k: r[k] for k in img_cols} for r in rows])
    return images, pd.DataFrame(labels)


IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long, phash_prefix int"
)
LABELS_SCHEMA = (
    "image_id string, lang_expected string, kind string, "
    "keep_expected boolean, has_pii_expected boolean, "
    "scrubbed_expected string, scrubbed_expected_simple string, "
    "entities array<struct<entity_type:string, text:string, start:int, end:int>>"
)


def write_fixture_tables(
    spark,
    out_dir: str,
    n_rows: int,
    cfg: CaptionConfig = CaptionConfig(),
    partitions: int | None = None,
) -> tuple[str, str]:
    """Distributed fixture generation: images + labels parquet under out_dir.

    Images are written ``partitionBy(phash_prefix)`` — the Iceberg-style
    layout the pipeline consumes.  Returns (images_path, labels_path).
    """
    parts = partitions or max(spark.sparkContext.defaultParallelism * 2, 8)
    base = spark.range(0, n_rows, 1, parts)

    def gen_combined(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in iterator:
            ids = [f"img{int(i):012d}" for i in pdf["id"]]
            images, labels = generate_batch(ids, cfg)
            labels = labels.drop(columns=["image_id"])
            labels["entities"] = labels["entities"].map(
                lambda es: [
                    (e["entity_type"], e["text"], e["start"], e["end"])
                    for e in es
                ]
            )
            yield pd.concat([images, labels], axis=1)

    images_path = f"{out_dir}/images"
    labels_path = f"{out_dir}/labels"
    staging_path = f"{out_dir}/_staging"
    combined_schema = (
        IMAGES_SCHEMA + ", " + LABELS_SCHEMA.split(", ", 1)[1]
    )
    # ONE generation pass into a staging table (generation is the expensive
    # part — pixels + PNG encode); images/labels are cheap projections of it.
    base.mapInPandas(gen_combined, schema=combined_schema).write.mode(
        "overwrite"
    ).parquet(staging_path)
    staging = spark.read.parquet(staging_path)

    image_cols = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash",
                  "phash_prefix"]
    label_cols = ["image_id", "lang_expected", "kind", "keep_expected",
                  "has_pii_expected", "scrubbed_expected",
                  "scrubbed_expected_simple", "entities"]
    # Cluster rows by phash_prefix BEFORE the partitioned write: without the
    # shuffle every task holds rows of every prefix and the dynamic write
    # emits tasks x prefixes tiny files (the small-files bomb — measured 96 s
    # for 20k rows vs ~10 s after).  Same reasoning holds at 100 TB: one
    # shuffle keyed on the partition column bounds file count by the number
    # of reduce tasks.
    n_write_tasks = max(parts // 4, 8)
    (
        staging.select(*image_cols)
        .repartition(n_write_tasks, "phash_prefix")
        .write.mode("overwrite")
        .partitionBy("phash_prefix")
        .parquet(images_path)
    )
    staging.select(*label_cols).write.mode("overwrite").parquet(labels_path)
    import shutil

    shutil.rmtree(staging_path, ignore_errors=True)
    return images_path, labels_path


# The sources whose bytes determine generated fixture content.  Scoped —
# NOT a package glob — so edits to unrelated fixture-package modules
# (oracle_cache.py is ~400 lines of oracle logic) don't force multi-minute
# benchmark-fixture regeneration.
_GENERATOR_SOURCES = (
    "__init__.py", "captions.py", "codecs.py", "gif.py", "images.py",
    "jpeg.py", "webp.py",
)


def fixture_fingerprint() -> str:
    """Digest of the fixture-generation sources — cache keys derived from
    it invalidate when caption/image/codec generation changes, so
    cross-round benchmark fixtures never silently go stale."""
    import os

    from .cache import source_digest

    here = os.path.dirname(os.path.abspath(__file__))
    return source_digest(here, _GENERATOR_SOURCES)


def _cache_args(n_rows: int, cfg: CaptionConfig | None,
                partitions: int | None) -> dict:
    """The fixture's cache key: generator sources, row count, the
    CaptionConfig (two callers sharing an out_dir with different configs
    must not share a fixture) and the partition layout (it changes the
    written files, which scan benchmarks measure)."""
    import dataclasses

    c = cfg or CaptionConfig()
    return {"sources": fixture_fingerprint(),
            "params": (n_rows, dataclasses.astuple(c), partitions)}


def fixture_is_fresh(
    out_dir: str,
    n_rows: int,
    cfg: CaptionConfig | None = None,
    partitions: int | None = None,
) -> bool:
    """True iff ``ensure_cached_fixture`` with the same arguments would
    serve the cache without generating."""
    from .cache import is_fresh

    return is_fresh(out_dir, "images", **_cache_args(n_rows, cfg, partitions))


def ensure_cached_fixture(
    spark,
    out_dir: str,
    n_rows: int,
    cfg: CaptionConfig | None = None,
    partitions: int | None = None,
) -> str:
    """Generate-once cached fixture table for benchmarks (``fixtures/
    cache.py``); the writers use overwrite mode, so a stale cache
    regenerates in place.  Returns the images path."""
    from .cache import cached

    return cached(
        out_dir, "images",
        lambda: write_fixture_tables(spark, out_dir, n_rows,
                                     cfg or CaptionConfig(),
                                     partitions=partitions),
        **_cache_args(n_rows, cfg, partitions),
    )
