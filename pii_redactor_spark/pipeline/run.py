"""The flagship job: quality-filter + PII-scrub over the image+caption table.

Physical plan (SURVEY.md §4): one narrow stage —

    FileScan(parquet, pruned) -> [optional salted repartition]
      -> ArrowEvalPython(scrub_udf over caption only)
      -> Project -> write partitionBy(phash_prefix, keep)

* Zero shuffles in the default path; the optional salt repartition is the one
  deliberate shuffle, for caption-length / language heavy-hitter skew
  (north-star: "salted repartitioning and AQE").
* Output is partitioned by ``(phash_prefix, keep)`` so downstream consumers
  read kept rows with pure partition pruning and the dropped fraction costs
  one directory, not a scan.
* Resume: work proceeds in groups of ``phash_prefix`` partitions.  Each group
  runs four steps:

  1. write: dynamic partition overwrite of the group's partitions
     (idempotent);
  2. read back: the group's partitions, with the schema just written, so no
     file footer is read to infer it;
  3. lineage append: per-partition counters from the read-back, appended
     with the group's totals observed on the same write (an
     ``Observation``, not a second aggregation);
  4. snapshot: the manifest commit of the group's parts and totals.

  Lineage and totals both come from the written data, never from a second
  run of the scrub UDF.  On restart, committed prefixes are skipped
  (anti-join semantics, SURVEY.md §2.10): ``todo_prefixes`` collects the
  input's distinct prefixes and drops the manifest's committed set, which
  ``storage.committed_parts`` already holds on the driver.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
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


def todo_prefixes(src: DataFrame, data_path: str) -> tuple[list[int], int]:
    """Uncommitted partition ids in deterministic order, plus done count.

    The resume contract (SURVEY.md §2.10): todo = distinct input partitions
    minus committed ones, filtered on the driver against the manifest's
    committed set.

    Returns ``(todo, n_skipped)`` where ``n_skipped`` counts only committed
    parts that are prefixes of THIS input (a manifest may carry parts from a
    broader earlier run; those are not part of this job's totals).
    """
    done = storage.committed_parts(data_path)
    distinct = src.select("phash_prefix").distinct()
    all_p = sorted(r[0] for r in distinct.collect())
    todo = [p for p in all_p if p not in done]
    return todo, len(all_p) - len(todo)


def scrub_images(
    df: DataFrame,
    salt_partitions: int | None = None,
    seed: int = 42,
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
            (F.rand(seed) * 16).cast("int"),
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
    seed: int = 42,
    cfg: ScrubConfig = DEFAULT_SCRUB,
    toxicity: ToxicityConfig | None = None,
    image_quality: "ImageQualityConfig | None" = None,
) -> DataFrame:
    """The at-scale form of the scrub job: decisions only, bytes untouched.

    Rewriting 100 TB of image bytes that pass through unchanged is the one
    thing a 10^12-row pipeline must never do.  This variant projects the
    caption-side columns, then runs ``scrub_images`` over them, so
    parquet/Iceberg column pruning never reads ``bytes`` from storage
    (verify: ReadSchema in ``.explain`` has no bytes field), and the output
    is the small decisions table keyed by ``image_id`` — keep/drop +
    scrubbed caption + quality metrics.  Consumers apply it with a
    partition-pruned equi join against the source table (or an Iceberg
    metadata-only row-delete); the pixels stay where they are.
    """
    # Image-quality gating widens the projection by three narrow int/str
    # metadata columns — still no bytes, still fully column-pruned.  The
    # one exception is the opt-in bytes-plausibility check, which needs
    # octet_length(bytes): the scan then reads the binary column (its
    # documented cost), but DECISION_COLS still drops it from the output.
    if image_quality is None:
        meta = []
    elif image_quality.bytes_per_pixel_bounds is not None:
        meta = ["w", "h", "fmt", "bytes"]
    else:
        meta = ["w", "h", "fmt"]
    pruned = df.select("image_id", "phash_prefix", "caption", *meta)
    scrubbed = scrub_images(pruned, salt_partitions=salt_partitions,
                            seed=seed, cfg=cfg, toxicity=toxicity,
                            image_quality=image_quality)
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

    ``materialize_bytes=False`` is the at-scale form: the same partition-
    committed lineage loop, but each group runs the column-pruned
    decisions-only transform (bytes never read, never written) — resumable
    AND pixel-free, per the north rule.  Each run gets a fresh ``run_id``
    in its lineage and snapshot rows.

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
    metrics_path = f"{out_dir}/metrics"

    src = storage.read_table(spark, images_path)
    todo, n_done = todo_prefixes(src, data_path)

    groups = [
        todo[i:i + prefixes_per_commit]
        for i in range(0, len(todo), prefixes_per_commit)
    ]
    total = {"n_in": 0, "n_kept": 0, "n_dropped": 0, "n_entities": 0}

    for group in groups:
        part = src.where(F.col("phash_prefix").isin(group))
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
            part_cols = ["phash_prefix", "keep_part"]
        else:
            out = scrub_decisions(part, salt_partitions=salt_partitions,
                                  cfg=scrub_cfg, toxicity=toxicity,
                                  image_quality=image_quality)
            part_cols = ["phash_prefix"]
        storage.write_partitioned(out, data_path, part_cols)

        # Counters from the *written* data (column-pruned read; never re-runs
        # the UDF and never touches bytes), read back with the schema just
        # written so no footer is read to infer it.
        written = storage.read_table(
            spark, data_path, schema=out.schema
        ).where(F.col("phash_prefix").isin(group))
        counters = (
            written.groupBy("phash_prefix")
            .agg(
                F.count("*").alias("n_in"),
                F.sum(F.col("keep").cast("long")).alias("n_kept"),
                F.sum((~F.col("keep")).cast("long")).alias("n_dropped"),
                F.sum("n_entities").alias("n_entities"),
            )
        )
        # The group's totals are observed on the lineage rows as the append
        # writes them: no second pass over the counters.
        observed = Observation()
        lineage = counters.select(
            F.lit(run_id).alias("run_id"),
            F.lit("scrub").alias("stage"),
            F.col("phash_prefix").alias("part_id"),
            "n_in", "n_kept", "n_dropped", "n_entities",
            F.current_timestamp().alias("committed_at"),
        ).observe(observed, *(F.sum(k).alias(k) for k in total))
        storage.append_table(lineage, metrics_path)

        sums = observed.get
        group_counters = {k: int(sums[k] or 0) for k in total}
        for k in total:
            total[k] += group_counters[k]
        # Commit point: manifest snapshot AFTER data + lineage both landed.
        storage.commit_snapshot(data_path, group, group_counters, run_id)

    return {
        "run_id": run_id, "prefixes": len(todo) + n_done,
        "resumed_skipped": n_done, "processed_groups": len(groups),
        **total,
    }


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    """Authoritative per-partition lineage: latest row per (stage, part_id).

    The commit protocol is data -> lineage append -> snapshot; a crash inside
    that window leaves an orphan lineage row whose group was never committed,
    and the resumed run appends a fresh one.  Raw `{out}/metrics` is
    append-only history; THIS view (last writer per partition wins) is what
    counters and audits must read.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("stage", "part_id").orderBy(
        F.col("committed_at").desc()
    )
    return (
        storage.read_table(spark, f"{out_dir}/metrics")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def apply_decisions(src: DataFrame, decisions: DataFrame) -> DataFrame:
    """Consume a decisions table against the untouched source: keep only
    kept rows and swap in the scrubbed caption — the join the decisions
    architecture promises instead of rewriting 100 TB of pixels.

    Both sides carry ``phash_prefix``, so the join key includes it: with the
    source partitioned (and/or both sides bucketed — `storage.write_bucketed`)
    the join co-locates by the same key and prunes partitions; AQE picks
    broadcast when the kept set is small.
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
    """Partition-pruned read of kept rows (keep_part is a partition dir)."""
    return storage.read_table(spark, f"{out_dir}/data").where(
        F.col("keep_part") == 1
    )


def read_decisions(spark: SparkSession, out_dir: str) -> DataFrame:
    return storage.read_table(spark, f"{out_dir}/data").select(*DECISION_COLS)
