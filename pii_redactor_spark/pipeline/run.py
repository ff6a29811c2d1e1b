"""The flagship job: quality-filter + PII-scrub over the image+caption table.

Physical plan (SURVEY.md §4): one narrow stage —

    FileScan(parquet, pruned) -> [optional salted repartition]
      -> ArrowEvalPython(scrub_udf over caption only)
      -> Project -> write {out}/data/snapshot_id=<id>/ [partitionBy(keep_part)]

* Zero shuffles in the default path; the optional salt repartition is the one
  deliberate shuffle, for caption-length / language heavy-hitter skew
  (north-star: "salted repartitioning and AQE").
* Each commit group writes one fresh directory, ``{out}/data/snapshot_id=<id>/``
  (``<id>`` is the id its manifest commit then assigns); ``phash_prefix`` is a
  data column.  Decisions mode writes one part file per scan task there.
  Materialize mode partitions only by ``keep_part``, so downstream consumers
  read kept rows with pure partition pruning and the dropped fraction costs
  one directory, not a scan.
* Resume: work proceeds in groups of ``phash_prefix`` partitions.  A run
  first removes every snapshot directory the manifest does not list (a
  crash before its commit, an interrupted rollback).  Each group then runs
  two steps:

  1. write: the group's rows into a new snapshot directory, with the
     group's totals observed on the rows it writes (an ``Observation``, not
     a read-back or a second aggregation);
  2. snapshot: the manifest commit of the group's parts and totals, the
     op's only commit point.

  Readers go through the manifest, partition-filtered on ``snapshot_id`` to
  the live snapshots.  Per-partition lineage is read from the committed data
  on demand (``read_lineage``), never written as a second table; neither it
  nor the totals re-runs the scrub UDF.  On restart, committed prefixes are
  skipped (anti-join semantics, SURVEY.md §2.10): ``todo_prefixes`` takes the
  input's prefixes from its ``phash_prefix=`` partition directories, listed
  on the driver, and drops the manifest's committed set, which
  ``storage.committed_parts`` already holds there.  The input must be laid
  out ``partitionBy("phash_prefix")``.
"""

from __future__ import annotations

import uuid

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from typing import TYPE_CHECKING

from ..functions.toxicity import TOXICITY_COLS, ToxicityConfig, with_toxicity
from ..operators.scrub import DEFAULT_SCRUB, ScrubConfig, with_scrub
from ..sources import storage

if TYPE_CHECKING:  # runtime import stays lazy (vision pulls numpy/codecs)
    from ..operators.vision import ImageQualityConfig

DECISION_COLS = [
    "image_id", "phash_prefix", "lang", "lang_conf", "bits_per_char",
    "n_chars", "n_tokens", "quality_flags", "keep", "has_pii", "n_entities",
]


def _counters() -> list[Column]:
    """A part's counters as aggregates over its scrubbed rows: observed on
    the write, and recomputed from the written data by ``read_lineage``."""
    return [
        F.count("*").alias("n_in"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.sum((~F.col("keep")).cast("long")).alias("n_dropped"),
        F.sum("n_entities").alias("n_entities"),
    ]


def todo_prefixes(src: DataFrame, data_path: str) -> tuple[list[int], int]:
    """Uncommitted partition ids in deterministic order, plus done count.

    The resume contract (SURVEY.md §2.10): todo = the input's partitions
    minus committed ones.  Both sets come from the driver: the input's
    ``phash_prefix=`` directories from its file listing
    (``storage.partition_values``, which raises on a source not laid out
    by ``phash_prefix``) and the manifest's committed set; no Spark job.

    Returns ``(todo, n_skipped)`` where ``n_skipped`` counts only committed
    parts that are prefixes of THIS input (a manifest may carry parts from a
    broader earlier run; those are not part of this job's totals).
    """
    done = storage.committed_parts(data_path)
    all_p = sorted(
        int(v) for v in storage.partition_values(src, "phash_prefix")
    )
    todo = [p for p in all_p if p not in done]
    return todo, len(all_p) - len(todo)


def scrub_images(
    df: DataFrame,
    salt_partitions: int | None = None,
    cfg: ScrubConfig = DEFAULT_SCRUB,
    toxicity: ToxicityConfig | None = None,
    image_quality: "ImageQualityConfig | None" = None,
    scrub_metadata: bool = False,
) -> DataFrame:
    """Scrub transform: optional salted repartition, then the UDF stage.

    ``salt_partitions``: when set, repartition by (phash_prefix, salt) to
    break heavy-hitter buckets before the CPU-bound UDF.  At cluster scale
    pick ~4x executor-cores; leave None for the shuffle-free narrow plan.

    ``scrub_metadata=True`` additionally rewrites the image BYTES through
    the metadata-PII scrub (Exif GPS/serials/owner, PNG text chunks,
    WebP EXIF/XMP, GIF comments — ``operators/vision.py::
    with_metadata_scrub``).  Materialize-mode only by design: it is the
    one transform that must touch bytes, and decisions mode exists
    precisely to never do that — pair a decisions run with a later
    bytes pass over kept partitions instead.  A row whose metadata scrub
    failed (``meta_flag = 'corrupt'``, NULL bytes) is never kept.
    """
    if salt_partitions:
        df = df.repartition(
            salt_partitions,
            F.col("phash_prefix"),
            (F.rand(42) * 16).cast("int"),
        )
    if scrub_metadata:
        from ..operators.vision import with_metadata_scrub

        df = with_metadata_scrub(df)
    scrubbed = with_scrub(df, cfg=cfg)
    if scrub_metadata:
        scrubbed = scrubbed.withColumn(
            "keep", F.col("keep") & (F.col("meta_flag") != "corrupt")
        )
    if toxicity is not None:
        # Score the raw caption, mask blocklisted tokens in both scrubbed
        # outputs and AND the gate into ``keep``: a narrow JVM projection,
        # so the plan stays one stage.
        scrubbed = with_toxicity(
            scrubbed,
            "caption",
            cfg=toxicity,
            mask_cols=("scrubbed", "scrubbed_simple"),
            keep_col="keep",
        )
    if image_quality is not None:
        # Payload side of the quality filter: flag too-small / extreme-aspect
        # / off-format images from the typed ``(w, h, fmt)`` columns and AND
        # the result into ``keep``.
        from ..operators.vision import with_image_quality

        scrubbed = with_image_quality(
            scrubbed, cfg=image_quality, keep_col="keep"
        )
    return scrubbed.withColumn("n_entities", F.size("entities"))


def scrub_decisions(
    df: DataFrame,
    salt_partitions: int | None = None,
    cfg: ScrubConfig = DEFAULT_SCRUB,
    toxicity: ToxicityConfig | None = None,
    image_quality: "ImageQualityConfig | None" = None,
) -> DataFrame:
    """The at-scale form of the scrub job: decisions only, bytes untouched.

    Rewriting 100 TB of image bytes that pass through unchanged is the one
    thing a 10^12-row pipeline must never do.  This variant is
    ``scrub_images`` followed by a projection onto the decisions columns:
    Catalyst prunes every column no gate reads out of the scan, so
    parquet/Iceberg never read ``bytes`` from storage (verify: ReadSchema
    in ``.explain`` has no bytes field; pinned in tests/test_plans.py), and
    the output is the small decisions table keyed by ``image_id`` —
    keep/drop + scrubbed caption + quality metrics.  The one gate that
    reads ``bytes`` is the opt-in bytes-plausibility check of
    ``image_quality``: the scan then reads the binary column, its
    documented cost, but the output still drops it.  Consumers apply the
    table with a partition-pruned equi join against the source table (or
    an Iceberg metadata-only row-delete); the pixels stay where they are.
    """
    scrubbed = scrub_images(df, salt_partitions=salt_partitions, cfg=cfg,
                            toxicity=toxicity, image_quality=image_quality)
    extra = [] if toxicity is None else list(TOXICITY_COLS)
    if image_quality is not None:
        extra = [*extra, "image_flags"]
    return scrubbed.select(
        *DECISION_COLS, "scrubbed", "scrubbed_simple", *extra
    )


def run_pipeline(
    spark: SparkSession,
    images_path: str,
    out_dir: str,
    prefixes_per_commit: int = 64,
    salt_partitions: int | None = None,
    materialize_bytes: bool = True,
    scrub_cfg: ScrubConfig = DEFAULT_SCRUB,
    toxicity: ToxicityConfig | None = None,
    image_quality: "ImageQualityConfig | None" = None,
    scrub_metadata: bool = False,
) -> dict:
    """Resumable batch run.  Returns summary counters.

    Each commit group is one snapshot: its rows go into the new directory
    ``{out}/data/snapshot_id=<id>/``, then the manifest commits it.  Before
    the first write, snapshot directories the manifest does not list are
    removed (``storage.remove_orphan_snapshots``), so every group writes a
    directory that does not exist yet and nothing is overwritten.

    ``materialize_bytes=False`` is the at-scale form: the same partition-
    committed loop, but each group runs the column-pruned decisions-only
    transform (bytes never read, never written) and writes one part file
    per scan task — resumable AND pixel-free, per the north rule.  Each run
    gets a fresh ``run_id`` in its snapshots, and so in ``read_lineage``.

    ``scrub_metadata=True`` (materialize mode only — raises otherwise)
    rewrites image bytes through the metadata-PII scrub in the same
    partition-committed loop.
    """
    if scrub_metadata and not materialize_bytes:
        raise ValueError(
            "scrub_metadata requires materialize_bytes=True: decisions "
            "mode never reads or writes image bytes by contract"
        )
    run_id = uuid.uuid4().hex[:12]
    data_path = f"{out_dir}/data"
    storage.remove_orphan_snapshots(data_path)

    src = storage.read_table(spark, images_path)
    todo, n_done = todo_prefixes(src, data_path)

    groups = [
        todo[i:i + prefixes_per_commit]
        for i in range(0, len(todo), prefixes_per_commit)
    ]
    total = {"n_in": 0, "n_kept": 0, "n_dropped": 0, "n_entities": 0}

    for group in groups:
        part = src.where(storage.partition_filter("phash_prefix", group))
        if materialize_bytes:
            result = scrub_images(part, salt_partitions=salt_partitions,
                                  cfg=scrub_cfg, toxicity=toxicity,
                                  image_quality=image_quality,
                                  scrub_metadata=scrub_metadata)
            out = (
                result.withColumn("caption_raw", F.col("caption"))
                .withColumn("caption", F.col("scrubbed"))
                # Partition dirs carry an int 0/1 (partition-column values
                # read back as strings; booleans don't round-trip) while
                # `keep` stays a typed data column.
                .withColumn("keep_part", F.col("keep").cast("int"))
            )
            part_cols = ["keep_part"]
        else:
            out = scrub_decisions(part, salt_partitions=salt_partitions,
                                  cfg=scrub_cfg, toxicity=toxicity,
                                  image_quality=image_quality)
            part_cols = []
        # The group's totals are observed on the rows as the write writes
        # them: no read-back, no second pass, never a second UDF run.
        observed = Observation()
        snapshot_id = storage.next_snapshot_id(storage.read_manifest(data_path))
        storage.write_partitioned(
            out.observe(observed, *_counters()),
            storage.snapshot_dir(data_path, snapshot_id), part_cols,
        )
        sums = observed.get
        group_counters = {k: int(sums[k] or 0) for k in total}
        for k in total:
            total[k] += group_counters[k]
        # Commit point: the manifest snapshot, after the data landed.
        storage.commit_snapshot(data_path, group, group_counters, run_id)

    return {
        "run_id": run_id, "prefixes": len(todo) + n_done,
        "resumed_skipped": n_done, "processed_groups": len(groups),
        **total,
    }


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    """Per-partition lineage, one row per committed part: the analog of
    Iceberg's ``partitions`` metadata table, built on read.

    The counters are a column-pruned ``groupBy(phash_prefix)`` over
    ``{out}/data``, partition-filtered on ``snapshot_id`` to the manifest's
    live snapshots: a part written but never committed (a crash before its
    snapshot) or rolled back has no row and is never scanned.  ``run_id``
    and ``committed_at`` come from the snapshot that last committed the
    part, latest by ``snapshot_id``."""
    data_path = f"{out_dir}/data"
    snaps = sorted(storage.read_manifest(data_path)["snapshots"],
                   key=lambda s: s["snapshot_id"])
    last = {p: s for s in snaps for p in s["parts"]}
    provenance = spark.createDataFrame(
        [(p, s["run_id"], s["committed_at"]) for p, s in last.items()],
        "part_id int, run_id string, committed_at string",
    )
    counters = (
        storage.read_committed(spark, data_path)
        .groupBy(F.col("phash_prefix").alias("part_id"))
        .agg(*_counters())
    )
    return counters.join(provenance, "part_id").select(
        "run_id", F.lit("scrub").alias("stage"), "part_id",
        "n_in", "n_kept", "n_dropped", "n_entities",
        F.to_timestamp("committed_at", "yyyy-MM-dd'T'HH:mm:ssX")
        .alias("committed_at"),
    )


def apply_decisions(src: DataFrame, decisions: DataFrame) -> DataFrame:
    """Consume a decisions table against the untouched source: keep only
    kept rows and swap in the scrubbed caption — the join the decisions
    architecture promises instead of rewriting 100 TB of pixels.

    Both sides carry ``phash_prefix`` (a partition column of the source, a
    data column of ``run_pipeline``'s decisions), so the join key includes
    it: with both sides bucketed (`storage.write_bucketed`) the join
    co-locates by the same key; AQE picks broadcast when the kept set is
    small.
    """
    kept = decisions.where(F.col("keep")).select(
        "image_id", "phash_prefix", "scrubbed"
    )
    return (
        src.join(kept, ["image_id", "phash_prefix"])
        .withColumn("caption_raw", F.col("caption"))
        .withColumn("caption", F.col("scrubbed"))
        .drop("scrubbed")
    )


def read_kept(spark: SparkSession, out_dir: str) -> DataFrame:
    """Kept rows of a materialize run, by partition pruning alone: the live
    snapshot directories, and within each its ``keep_part=1`` directory."""
    return storage.read_committed(spark, f"{out_dir}/data").where(
        F.col("keep_part") == 1
    )


def read_decisions(spark: SparkSession, out_dir: str) -> DataFrame:
    """The decisions columns of every committed row."""
    return storage.read_committed(spark, f"{out_dir}/data").select(
        *DECISION_COLS
    )
