"""Synthetic at-scale corpus for benchmarking the dedup family.

Round-3 verdict #2: the dedup/decontamination operators' scale paths
(hot-shingle ``max_df`` cap, winnowed substring sketch, broadcast bench
set, pointer-jumping components) were plan-verified and skew-fixture
tested but never *timed* at a corpus size where they matter — the sf0.1
bench corpus is 5k docs, where fixed overhead dominates.  This module
generates a deterministic 200k+-doc corpus with the structures those
paths exist for, entirely JVM-side (seeded ``xxhash64`` arithmetic, no
Python in the generator), cached to parquet like the 4M-row image
fixture.

Planted structure:

* **near-dup clusters** — the first ``CLUSTERED`` ids form clusters of
  ``CLUSTER_SIZE`` (same seed, one mutated token per member), so the
  Jaccard/cluster operators have real work: ~0.94 Jaccard within a
  cluster, noise across;
* **hot boilerplate** — ~30% of docs share a fixed 12-token prefix whose
  shingles have df ~ 0.3·n ≫ ``max_df``: the salted-chain cap path runs
  on every hot key, at scale;
* **unique body** — 50 tokens drawn from a 50k-word synthetic vocabulary
  keyed on (seed, position), so rare-shingle df stays far below the cap
  and the prefix filter's rare path carries the bulk.

The benchmark-contamination side (``bench_slice``) re-generates every
37th base doc's text: ``decontaminate`` must drop those train docs (and
cluster siblings sharing 5-grams) via the broadcast n-gram set.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CLUSTER_SIZE = 10
CLUSTERED_FRACTION = 0.02  # first 2% of ids form near-dup clusters
BOILERPLATE = " ".join(f"common boiler token b{i}" for i in range(3))
VOCAB = 50_000
TOKENS_PER_DOC = 50


def _text_expr(seed_col: str, mutate_pos: str | None) -> F.Column:
    """50 tokens keyed on (seed, position); optionally one position is
    replaced by a member-unique token (the near-dup mutation)."""
    base = (
        f"transform(sequence(0, {TOKENS_PER_DOC - 1}), "
        f"j -> concat('w', pmod(xxhash64({seed_col}, j), {VOCAB})))"
    )
    if mutate_pos is not None:
        base = (
            f"transform(sequence(0, {TOKENS_PER_DOC - 1}), "
            f"j -> IF(j = {mutate_pos}, concat('m', id), "
            f"concat('w', pmod(xxhash64({seed_col}, j), {VOCAB}))))"
        )
    return F.expr(f"concat_ws(' ', {base})")


def dedup_bench_corpus(spark: SparkSession, n_rows: int) -> DataFrame:
    """(doc_id, text) with the planted structure above — pure expressions,
    deterministic for a given n_rows under any parallelism."""
    n_clustered = int(n_rows * CLUSTERED_FRACTION) // CLUSTER_SIZE
    n_clustered *= CLUSTER_SIZE
    df = spark.range(n_rows).withColumn(
        "_seed",
        F.expr(
            f"IF(id < {n_clustered}, "
            f"CAST(floor(id / {CLUSTER_SIZE}) * 7919 + 1000000000 AS LONG), "
            "id)"
        ),
    )
    body = _text_expr("_seed", mutate_pos=f"pmod(id, {CLUSTER_SIZE})")
    return df.select(
        F.col("id").alias("doc_id"),
        body.alias("_body"),
    ).select(
        "doc_id",
        F.expr(
            f"IF(pmod(doc_id, 10) < 3, concat('{BOILERPLATE}', ' ', _body),"
            " _body)"
        ).alias("text"),
    )


def bench_slice(spark: SparkSession, n_rows: int, every: int = 37,
                limit: int = 500) -> DataFrame:
    """The benchmark set for decontamination: every ``every``-th doc's
    base text (the corpus's OWN seed recipe — including the cluster seed
    for ids in the clustered range — without boilerplate or the member
    mutation), capped at ``limit`` rows: small enough to broadcast, and
    every row genuinely contaminates its source doc (identical body
    minus one token => shared 5-grams), with clustered ids contaminating
    the whole cluster.  Round-4 review fix: the slice previously seeded
    clustered ids with the raw id, producing phantom rows that matched
    no corpus text at all (~22% of the slice at the bench default)."""
    n_clustered = int(n_rows * CLUSTERED_FRACTION) // CLUSTER_SIZE
    n_clustered *= CLUSTER_SIZE
    ids = spark.range(limit).select(
        (F.col("id") * every % n_rows).alias("id")
    ).withColumn(
        "_seed",
        F.expr(
            f"IF(id < {n_clustered}, "
            f"CAST(floor(id / {CLUSTER_SIZE}) * 7919 + 1000000000 AS LONG), "
            "id)"
        ),
    )
    return ids.select(
        F.col("id").alias("doc_id"),
        _text_expr("_seed", mutate_pos=None).alias("text"),
    )


def ensure_cached_dedup_corpus(
    spark: SparkSession, out_dir: str, n_rows: int, partitions: int = 64
) -> str:
    """Generate-once parquet cache (``fixtures/cache.py``), keyed on this
    module, the row count and the partition count."""
    from .cache import cached, source_digest

    def build():
        dedup_bench_corpus(spark, n_rows).repartition(partitions).write.mode(
            "overwrite"
        ).parquet(os.path.join(out_dir, "docs"))

    here, name = os.path.split(os.path.abspath(__file__))
    return cached(out_dir, "docs", build,
                  sources=source_digest(here, (name,)),
                  params=(n_rows, partitions))
