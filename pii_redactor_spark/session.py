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

``get_spark`` also starts the Python workers through
``spark.python.daemon.module = pii_redactor_spark.worker_daemon``.  Spark
puts ``pyspark.zip``, the py4j zip and the spark-core jar ahead of
site-packages on the worker's path, and every task runs
``importlib.invalidate_caches()`` (pyspark 4.1.2
``worker_util.py:144``, in ``setup_spark_files``, called at
``worker.py:3355``).  CPython 3.11's ``zipimporter.invalidate_caches``
re-reads its whole archive directory, and a worker holds 16 zipimporters
over those archives: about 28k entries.  Timed inside 20 tasks at local[4]
on a 4-vCPU VM, the call took 115–212 ms (median 130 ms) a task, and
0.1 ms once the daemon drops the archives from the path, which it does
when an installed pyspark and py4j resolve without them.  It is a local-only
setting: the ``jobs/*.py`` cluster sessions ship this package as
``--py-files``, which are not on the daemon's path when it starts, so it
is not in ``ENGINE_CONF``.  For the same reason ``get_spark`` puts the
package's own directory on the workers' ``PYTHONPATH``
(``spark.executorEnv.PYTHONPATH``; a caller that overrides it must keep
the package importable), so a session started from any working directory
can start its daemon.  (``pythonInitTime`` does not show this cost:
a reused worker takes its ``boot_time`` at ``worker.py:3300`` and then
blocks for its next task, so that metric counts idle time.)

``get_spark`` writes local files through Hadoop's ``RawLocalFileSystem``
(``spark.hadoop.fs.file.impl``), not the checksummed ``LocalFileSystem``,
which adds a ``.crc`` file beside each file it writes.  Without the native
libhadoop, Hadoop 3.4.2 forks a ``chmod`` for every file and directory it
creates (``RawLocalFileSystem.setPermission``): a one-group decisions op
over 48 partitions forked 156 through the wrapper and 107 without it while
it wrote one ``phash_prefix=`` directory per partition.  Writing one
snapshot directory, one part file per task, the same op at local[4] forks
15: one per part file and per task-attempt directory (4 each), the
``_SUCCESS`` marker, and six for the output, snapshot and ``_temporary``
directories.  Local-only too: a cluster writes to object storage or HDFS.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Partition directories per table level listed on the driver, not by a job.
DRIVER_LISTING_MAX_DIRS = 256

# The directory holding this package: on the workers' path, so the daemon
# module resolves whatever the driver's working directory.
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

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
    (master, shuffle partitions, driver memory, UI off, driver listing,
    worker daemon and its path, raw local filesystem), then ``extra_conf``."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return SparkSession.builder.appName(app_name).config(map={
        **ENGINE_CONF,
        "spark.master": master or f"local[{cpus}]",
        "spark.sql.shuffle.partitions": str(shuffle_partitions or int(cpus)),
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        "spark.sql.sources.parallelPartitionDiscovery.threshold":
            str(DRIVER_LISTING_MAX_DIRS),
        "spark.python.daemon.module": "pii_redactor_spark.worker_daemon",
        "spark.executorEnv.PYTHONPATH": PACKAGE_ROOT,
        "spark.hadoop.fs.file.impl": "org.apache.hadoop.fs.RawLocalFileSystem",
        **(extra_conf or {}),
    }).getOrCreate()
