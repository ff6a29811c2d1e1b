"""SparkSession factory with the engine's scale-oriented defaults.

``ENGINE_CONF`` is what every session runs with, on a multi-executor
cluster too (the ``jobs/*.py`` spark-submit entry points apply it as is):

* AQE on (+skew-join splitting + partition coalescing) — the north-star names
  AQE explicitly for heavy-hitter language buckets.
* Arrow on with a bounded batch size — the scrub UDF streams
  ``Iterator[pd.Series]`` batches; 10k captions/batch keeps Python-side memory
  flat regardless of partition size.
* UTC session time zone, ANSI semantics and zstd parquet.

``get_spark`` adds the local[N] (one JVM) settings: master, driver memory,
UI off, shuffle.partitions sized to cores (overridable; at cluster scale
AQE coalescing from a high initial value replaces it), and
``spark.sql.sources.parallelPartitionDiscovery.threshold``,
raised to ``DRIVER_LISTING_MAX_DIRS`` so a table of up to 256 partition
directories per level (the engine's ``phash_prefix`` fan-out) is listed on
the driver.  At the default of 32, opening such a table runs a Spark listing
job with one task per directory; in local mode those tasks are threads of the
same JVM reading the same disk, so the job is pure fixed cost.  Medians of 10
interleaved opens at local[4] on a 4-vCPU VM, listing job → driver listing:

* 51 ``phash_prefix`` directories: 0.56 → 0.14 s with footer schema
  inference, 0.44 → 0.04 s with the schema given;
* 256 directories, at the cutoff: 1.64 → 0.16 s, and 1.53 → 0.08 s;
* 256 × 2 (``phash_prefix`` × ``keep_part``, materialize mode): 1.74 → 0.29 s,
  and 1.61 → 0.14 s.

Tables with more directories than the cutoff (the IVF store's ``ivf_cell``
fan-out) still get the listing job.  On a cluster over object storage the
parallel listing is the right choice, so the session builders in
``jobs/*.py`` do not set it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Partition directories per table level listed on the driver, not by a job.
DRIVER_LISTING_MAX_DIRS = 256

# The engine settings every session runs with: tests and benchmarks through
# ``get_spark``, and the ``jobs/*.py`` spark-submit entry points as they are.
ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.session.timeZone": "UTC",
    # Pin ANSI semantics (the Spark 4 default) against cluster-level
    # spark-defaults overrides: under legacy ansi=false + sizeOfNull,
    # size(NULL) = -1 flips sign-sensitive expressions (round-3 advice on
    # the toxicity keep-gate).  The expressions themselves are also written
    # NULL-total, so this is belt and braces.
    "spark.sql.ansi.enabled": "true",
    "spark.sql.parquet.compression.codec": "zstd",
}


def get_spark(
    app_name: str = "pii_redactor_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """The local session: ``ENGINE_CONF`` plus the local-only settings
    (master, shuffle partitions, driver memory, UI off, driver listing),
    then ``extra_conf``."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return SparkSession.builder.appName(app_name).config(map={
        **ENGINE_CONF,
        "spark.master": master or f"local[{cpus}]",
        "spark.sql.shuffle.partitions": str(shuffle_partitions or int(cpus)),
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        "spark.sql.sources.parallelPartitionDiscovery.threshold":
            str(DRIVER_LISTING_MAX_DIRS),
        **(extra_conf or {}),
    }).getOrCreate()
