"""Seeded, cached benchmark inputs.

Rows come from the public ``fixtures.images.generate_batch``.  Generating
them is far slower than scrubbing them (pixels and image codecs), so a
seed-independent pool of ``POOL_ROWS`` rows is generated once.  The pool is
cut into windows of ``WINDOW_ROWS`` consecutive ``image_id`` values, and
each window into ``QUARTERS`` batches of 64 of the 256 ``phash_prefix``
values each: one commit group of ``run_pipeline`` at its default
``prefixes_per_commit``.  The fixture's prefixes are heavily skewed (0 and
255 hold about 40% of the rows), so ``quarter_of`` deals the prefixes out
to balance the batches' row counts.  The pool's images table is written
``partitionBy(batch, phash_prefix)``, so each ``batch=<b>`` directory is on
its own a table laid out ``partitionBy(phash_prefix)`` the way
``write_fixture_tables`` lays out its images table: a seed's inputs are
plain paths into the pool, and a new seed costs no Spark job.

A seed chooses a window (its ``image_id`` range) and the order of its
batches.  Its line file holds ``TEXT_LINES`` captions drawn, by the seed,
from the same window, and is written into the run's scratch directory.

The pool directory name carries ``fixture_fingerprint()`` and the sizes, so
a generator change regenerates instead of timing stale rows.  The pool is
built under a temporary name and renamed into place, so a torn build never
validates.  Building runs in its own Spark session, as
``python3 perfbench/inputs.py``, so generation never warms the session a
run measures.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass

import pandas as pd
import pyarrow.parquet as pq

WINDOW_ROWS = 8_000
POOL_WINDOWS = 3
POOL_ROWS = WINDOW_ROWS * POOL_WINDOWS
QUARTERS = 4  # batches per window, about 2k rows each
TEXT_LINES = 200_000


def seed_batches(seed: int) -> list[int]:
    """The batches of the seed's window, in the seed's order."""
    window = (seed * 7919 + 104_729) % POOL_WINDOWS
    return [window * QUARTERS + (seed + k) % QUARTERS for k in range(QUARTERS)]


def quarter_of(counts: dict[int, int]) -> dict[int, int]:
    """Deal all 256 prefixes, largest first, to the quarter with the fewest
    rows that still has room for one more prefix."""
    rows, size, out = [0] * QUARTERS, [0] * QUARTERS, {}
    for p in sorted(range(256), key=lambda p: (-counts.get(p, 0), p)):
        q = min((q for q in range(QUARTERS) if size[q] < 256 // QUARTERS),
                key=lambda q: (rows[q], q))
        rows[q] += counts.get(p, 0)
        size[q] += 1
        out[p] = q
    return out


@dataclass
class Batch:
    images: str  # partitioned parquet table, IMAGES_SCHEMA
    labels: pd.DataFrame  # image_id, caption, keep_expected, scrubbed_expected


@dataclass
class Inputs:
    batches: list[Batch]
    lines: str  # UTF-8 text file, one caption per line
    line_expected: list[str]  # scrubbed_expected of every line, in order


class InputCache:
    def __init__(self, cache_dir: str, fingerprint: str):
        self.dir = cache_dir
        self.pool = os.path.join(
            cache_dir, f"pool-{fingerprint}-{POOL_WINDOWS}x{WINDOW_ROWS}"
        )

    def is_fresh(self) -> bool:
        """Input-cache validation: True iff the pool was built, completely,
        from the current generator sources."""
        return os.path.isdir(self.pool)

    def load(self, seed: int, scratch_dir: str) -> Inputs:
        """The seed's batches with their labels, and its line file."""
        batches = []
        for b in seed_batches(seed):
            labels = pq.read_table(
                os.path.join(self.pool, "labels"),
                columns=["image_id", "caption", "keep_expected",
                         "scrubbed_expected"],
                filters=[("batch", "=", b)],
            ).to_pandas()
            batches.append(
                Batch(os.path.join(self.pool, "images", f"batch={b}"), labels)
            )
        caps = pd.concat([b.labels for b in batches], ignore_index=True)
        # A line must survive the text source's line splitting and the
        # strip() of redact_lines unchanged to be checkable per line.
        usable = caps[
            ~caps["caption"].str.contains("[\n\r]") &
            (caps["caption"] == caps["caption"].str.strip())
        ]
        rng = random.Random(seed)
        picks = [rng.randrange(len(usable)) for _ in range(TEXT_LINES)]
        text = usable["caption"].tolist()
        lines = os.path.join(scratch_dir, "lines.txt")
        with open(lines, "w", encoding="utf-8", newline="\n") as f:
            f.writelines(text[i] + "\n" for i in picks)
        expected = usable["scrubbed_expected"].tolist()
        return Inputs(batches, lines, [expected[i] for i in picks])

    def build(self, spark) -> None:
        """Generate the pool (and drop pools of other generator versions)."""
        from pii_redactor_spark.fixtures.captions import CaptionConfig
        from pii_redactor_spark.fixtures.images import (
            IMAGES_SCHEMA,
            generate_batch,
        )

        os.makedirs(self.dir, exist_ok=True)
        for name in os.listdir(self.dir):
            if os.path.join(self.dir, name) != self.pool:
                shutil.rmtree(os.path.join(self.dir, name), ignore_errors=True)
        if self.is_fresh():
            return
        from pyspark.sql import functions as F

        cfg = CaptionConfig()
        window_rows = WINDOW_ROWS

        # Nested, and using no global of this module, so cloudpickle ships
        # it by value: the Python workers can import pii_redactor_spark but
        # not this benchmark's modules.
        def gen(batches):
            for pdf in batches:
                ids = [f"img{int(i):012d}" for i in pdf["id"]]
                images, labels = generate_batch(ids, cfg)
                images["window"] = (
                    pdf["id"].to_numpy() // window_rows
                ).astype("int32")
                images["keep_expected"] = labels["keep_expected"].to_numpy()
                images["scrubbed_expected"] = (
                    labels["scrubbed_expected"].to_numpy()
                )
                yield images

        schema = (IMAGES_SCHEMA + ", window int, keep_expected boolean, "
                  "scrubbed_expected string")
        tmp = os.path.join(self.dir, ".tmp-pool")
        parts = max(spark.sparkContext.defaultParallelism * 4, 8)
        spark.range(0, POOL_ROWS, 1, parts).mapInPandas(gen, schema) \
            .write.parquet(os.path.join(tmp, "generated"))
        rows = spark.read.parquet(os.path.join(tmp, "generated"))
        counts = dict(rows.groupBy("phash_prefix").count().collect())
        quarter = spark.createDataFrame(
            sorted(quarter_of(counts).items()), "phash_prefix int, quarter int"
        )
        rows = rows.join(F.broadcast(quarter), "phash_prefix").withColumn(
            "batch", F.col("window") * QUARTERS + F.col("quarter")
        ).drop("window", "quarter")
        # One file per (batch, phash_prefix) directory, as write_fixture_tables
        # writes one per phash_prefix directory.
        rows.drop("keep_expected", "scrubbed_expected") \
            .repartition(8, "batch", "phash_prefix") \
            .write.partitionBy("batch", "phash_prefix") \
            .parquet(os.path.join(tmp, "images"))
        rows.select("batch", "image_id", "caption", "keep_expected",
                    "scrubbed_expected") \
            .write.parquet(os.path.join(tmp, "labels"))
        shutil.rmtree(os.path.join(tmp, "generated"))
        os.replace(tmp, self.pool)


def main() -> None:
    from probes import process_tree
    from spark_env import STATE, cpus, jvm_pid, start_session, stop_session

    spark = start_session(cpus(), app_name="perfbench-inputs")
    pid = jvm_pid()
    try:
        from pii_redactor_spark.fixtures.images import fixture_fingerprint

        InputCache(os.path.join(STATE, "cache"), fixture_fingerprint()).build(
            spark
        )
    finally:
        stop_session(spark, set(process_tree(pid)))


if __name__ == "__main__":
    main()
