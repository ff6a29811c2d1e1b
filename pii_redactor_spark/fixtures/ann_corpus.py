"""Synthetic at-scale vector corpus for benchmarking the embedding/ANN
family.

Round-4 verdict #3: the dedup family got its 200k-doc measured leg in
round 4; the embedding operators (`neardup_pairs_lsh`, SemDeDup's
within-cell join, `ivf_topk_partitioned`) were still timed only at sf0.1
(500-5k vectors) where fixed overhead dominates.  This module generates
a deterministic >= 1M-vector corpus with the planted structure those
scale paths exist for, cached to parquet through ``fixtures/cache.py``
as ``dedup_corpus`` / ``images``.

Planted structure (mirrors what a web-scale embedding table looks like):

* **clusters** — ids group into clusters of ``CLUSTER_SIZE`` around a
  seeded unit center; member noise scale ``NOISE`` puts within-cluster
  cosine at ~1/(1+NOISE^2) ~ 0.94 — the "semantically same" band
  SemDeDup prunes;
* **planted tight dups** — members 0 and 1 of every cluster carry
  ``NOISE_TIGHT`` noise (cosine ~0.998): the ground-truth pair set for
  the LSH near-dup recall measurement;
* **spread** — cluster centers are i.i.d. on the sphere, so IVF cells
  stay balanced and the partition-pruning story is honest.

Determinism: every vector is ``center(cluster) + noise(id)`` where both
draws come from counter-based NumPy generators seeded with
``SeedSequence([SEED, key])`` — same bytes for any partitioning, any
worker count.  Schema mirrors ``testdata/*/embeddings.parquet``:
(vec_id: long, embedding: array<float>, label: int).
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

DIM = 64
CLUSTER_SIZE = 20
NOISE = 0.25          # within-cluster cosine ~ 1/(1+0.0625) ~ 0.94
NOISE_TIGHT = 0.05    # planted-dup cosine ~ 0.998
SEED = 2024


def _center(cluster: int) -> np.ndarray:
    rng = np.random.default_rng(np.random.SeedSequence([SEED, 7, cluster]))
    c = rng.standard_normal(DIM)
    return c / np.linalg.norm(c)


def ann_bench_corpus(spark: SparkSession, n_rows: int):
    """(vec_id, embedding, label) — label is the cluster id (ground truth
    for recall checks).  Generation is an Arrow-batched mapInPandas pass:
    one cluster-center lookup + one seeded noise draw per row, no data
    ever on the driver."""
    schema = "vec_id long, embedding array<float>, label int"

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        center_cache: dict[int, np.ndarray] = {}
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            out_vecs = []
            labels = []
            for i in ids:
                cluster = int(i) // CLUSTER_SIZE
                c = center_cache.get(cluster)
                if c is None:
                    c = _center(cluster)
                    center_cache[cluster] = c
                s = NOISE_TIGHT if int(i) % CLUSTER_SIZE < 2 else NOISE
                rng = np.random.default_rng(
                    np.random.SeedSequence([SEED, 11, int(i)])
                )
                v = c * np.sqrt(DIM) + s * rng.standard_normal(DIM)
                out_vecs.append(v.astype(np.float32))
                labels.append(cluster)
            yield pd.DataFrame(
                {"vec_id": ids, "embedding": out_vecs, "label": labels}
            )

    return spark.range(n_rows).mapInPandas(gen, schema=schema)


def query_vector(cluster: int) -> list[float]:
    """A query near the given cluster's center (its own noise draw, so it
    is NOT any stored vector) — ground-truth top-k are that cluster's
    members."""
    rng = np.random.default_rng(np.random.SeedSequence([SEED, 13, cluster]))
    v = _center(cluster) * np.sqrt(DIM) + NOISE * rng.standard_normal(DIM)
    return [float(x) for x in v]


def ensure_cached_ann_corpus(
    spark: SparkSession, out_dir: str, n_rows: int, partitions: int = 64
) -> str:
    """Generate-once parquet cache (``fixtures/cache.py``), keyed on this
    module, the row count and the partition count."""
    from .cache import cached, source_digest

    def build():
        ann_bench_corpus(spark, n_rows).repartition(partitions).write.mode(
            "overwrite"
        ).parquet(os.path.join(out_dir, "vecs"))

    here, name = os.path.split(os.path.abspath(__file__))
    return cached(out_dir, "vecs", build,
                  sources=source_digest(here, (name,)),
                  params=(n_rows, partitions))
