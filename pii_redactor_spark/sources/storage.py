"""Storage layer: Iceberg-semantics on plain Parquet (swap point).

The north-star targets Iceberg tables.  No Iceberg runtime jar is guaranteed
in this sandbox (no network), so this module provides the identical semantics
on a Parquet layout (SURVEY.md §1.3):

* partitioned writes (``partitionBy``) with *dynamic* partition overwrite —
  re-processing a partition replaces exactly that partition (idempotent
  resume), like an Iceberg ``overwritePartitions``;
* a JSON manifest standing in for Iceberg snapshot metadata: committed
  partition ids + counters, written atomically (tmp + rename) *after* the data
  write succeeds — the commit point;
* one read/write API so swapping in ``spark.read.format("iceberg")`` /
  ``df.writeTo(tbl)`` is a one-module change.

The function-by-function shim↔Iceberg mapping — and the two places the
semantics honestly differ (partition-level vs file-level time travel,
single-writer commits) — is documented in ``docs/ICEBERG_MAPPING.md``.
"""

from __future__ import annotations

import json
import os
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_table(
    spark: SparkSession,
    path: str,
    merge_schema: bool = False,
    schema: StructType | None = None,
) -> DataFrame:
    """Read a table; ``merge_schema=True`` enables Iceberg-style schema
    evolution on the parquet stand-in: files written before a column was
    added are read with that column NULL, and the unified schema is the
    union across file footers.  Off by default because schema merging
    reads every footer at planning time — at 10^6 files that is a real
    planning cost, so callers opt in per read (Iceberg proper keeps the
    schema in table metadata and avoids the scan; the manifest module
    plays that role here for snapshots, not schemas).

    ``schema``, when the caller knows it (it just wrote the table), is used
    as is, partition columns included: no footer is read to infer it, which
    saves the inference job, as Iceberg takes the schema from table
    metadata.  Columns the files lack read as NULL."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(path)


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Write ``df`` partitioned by ``partition_cols``, replacing only the
    partitions it holds (dynamic partition overwrite)."""
    df.write.partitionBy(*partition_cols).mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).parquet(path)


def append_table(df: DataFrame, path: str) -> None:
    df.write.mode("append").parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist as a bucketed managed table (hash-bucketed by ``bucket_cols``).

    Two tables bucketed identically join WITHOUT a shuffle — the physical
    plan's SortMergeJoin has no Exchange on either side (pinned by
    tests/test_bucketing.py).  At 100 TB this is how the decisions table
    joins back to the source for free; with Iceberg the same contract is the
    bucket partition transform.
    """
    spark = df.sparkSession
    if "." in table:
        # A qualified name would make the name-derived path below wrong (and
        # the rmtree dangerous); this layer only manages default-db tables.
        raise ValueError(
            f"write_bucketed expects an unqualified table name, got {table!r}"
        )
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # a previous session's warehouse dir may survive without a catalog entry
    # (in-memory metastore) — clear it or saveAsTable refuses the location.
    # Fail-safe: only a LOCAL path, only when the catalog really has no
    # entry, and only if the directory looks like a Spark table dir
    # (part files / commit markers) — never an arbitrary tree.
    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    loc = os.path.join(warehouse, table.lower())
    if os.path.isdir(loc) and not spark.catalog.tableExists(table):
        entries = os.listdir(loc)
        if all(
            e.startswith(("part-", ".part-", "_SUCCESS", "._SUCCESS",
                          "_committed", "_started", "_temporary"))
            or e.endswith(".parquet")
            for e in entries
        ):
            import shutil

            shutil.rmtree(loc, ignore_errors=True)
        else:
            raise RuntimeError(
                f"refusing to clear {loc}: contents do not look like an "
                f"orphaned managed-table directory"
            )

    writer = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table)


# --- Manifest (Iceberg snapshot stand-in) -----------------------------------

def manifest_path(table_path: str) -> str:
    return os.path.join(table_path, "_manifest.json")


def _write_manifest(table_path: str, manifest: dict) -> dict:
    """The commit step: write ``manifest`` beside the live one, then rename
    it over it, so a reader sees the old manifest or the new one, never a
    torn file (single-FS rename is atomic)."""
    fd, tmp = tempfile.mkstemp(dir=table_path, suffix=".manifest.tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, manifest_path(table_path))
    return manifest


def read_manifest(table_path: str) -> dict:
    p = manifest_path(table_path)
    if not os.path.exists(p):
        return {"snapshots": []}
    with open(p) as f:
        return json.load(f)


def commit_snapshot(table_path: str, committed_parts: list[int],
                    counters: dict, run_id: str) -> dict:
    """Append a snapshot entry; atomic via tmp+rename (single-FS sandbox).

    Ids are ALL-TIME monotonic via a persisted high-water mark: after a
    rollback, new commits continue from the highest id ever issued
    instead of reusing the rolled-back ids — a consumer that recorded a
    snapshot_id can never silently resolve it to different-era data
    (``parts_as_of`` raises on ids no longer in the manifest)."""
    manifest = read_manifest(table_path)
    next_id = max(
        int(manifest.get("last_snapshot_id", 0)),
        max((s["snapshot_id"] for s in manifest["snapshots"]), default=0),
    ) + 1
    manifest["last_snapshot_id"] = next_id
    manifest["snapshots"].append(
        {
            "snapshot_id": next_id,
            "run_id": run_id,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "parts": sorted(committed_parts),
            "counters": counters,
        }
    )
    os.makedirs(table_path, exist_ok=True)
    return _write_manifest(table_path, manifest)


def committed_parts(table_path: str) -> set[int]:
    manifest = read_manifest(table_path)
    parts: set[int] = set()
    for snap in manifest["snapshots"]:
        parts.update(snap["parts"])
    return parts


# --- Snapshot operations (Iceberg metadata-table / time-travel analogs) ------


def snapshots(spark: SparkSession, table_path: str) -> DataFrame:
    """Snapshot metadata as a DataFrame — the Iceberg ``table.snapshots``
    metadata-table analog: (snapshot_id, run_id, committed_at, n_parts,
    counters as JSON)."""
    rows = [
        (
            int(s["snapshot_id"]),
            s.get("run_id", ""),
            s.get("committed_at", ""),
            len(s.get("parts", [])),
            json.dumps(s.get("counters", {}), sort_keys=True),
        )
        for s in read_manifest(table_path)["snapshots"]
    ]
    return spark.createDataFrame(
        rows,
        "snapshot_id int, run_id string, committed_at string, "
        "n_parts int, counters_json string",
    )


def parts_as_of(table_path: str, snapshot_id: int) -> list[int]:
    """Partition ids committed at or before ``snapshot_id``.

    Raises on an id not present in the manifest — it either never
    existed or was rolled back, and serving a silent guess for a
    rolled-back era would be wrong-data, not missing-data."""
    snaps = read_manifest(table_path)["snapshots"]
    if not any(s["snapshot_id"] == snapshot_id for s in snaps):
        raise ValueError(
            f"snapshot {snapshot_id} not in manifest at {table_path} "
            f"(never committed, or removed by rollback)"
        )
    parts: set[int] = set()
    for s in snaps:
        if s["snapshot_id"] <= snapshot_id:
            parts.update(s["parts"])
    return sorted(parts)


def read_table_as_of(
    spark: SparkSession,
    table_path: str,
    snapshot_id: int,
    partition_col: str = "phash_prefix",
) -> DataFrame:
    """Read the table as of ``snapshot_id``: only partitions committed by
    then are scanned — the membership filter lands in the scan's
    PartitionFilters, so later partitions are never read from storage
    (pinned by tests/test_bucketing.py).

    Honest boundary vs real Iceberg: this layout commits *partitions* and
    rewrites them in place (dynamic partition overwrite), so a partition
    RE-committed after ``snapshot_id`` serves its current bytes — the
    partition SET is as-of, the bytes of rewritten partitions are not.
    Full byte-level time travel needs file-retaining snapshots (Iceberg's
    expire-managed data files), which is exactly the swap this module's
    API isolates.  For the primary consumer — resume/rollback of an
    append-style decisions run, where each partition commits once — the
    two semantics coincide.
    """
    from pyspark.sql import functions as F

    parts = parts_as_of(table_path, snapshot_id)
    return read_table(spark, table_path).where(
        F.col(partition_col).isin([int(p) for p in parts])
        if parts
        else F.lit(False)
    )


def rollback_to_snapshot(table_path: str, snapshot_id: int) -> dict:
    """Drop every snapshot after ``snapshot_id`` from the manifest (atomic
    tmp+rename).  The Iceberg ``rollback_to_snapshot`` analog — and fully
    sound in this layout: rolled-back partitions simply leave the
    committed set, so the resumable pipeline's todo recomputes
    and re-overwrites them on the next run (idempotent dynamic partition
    overwrite)."""
    manifest = read_manifest(table_path)
    kept = [
        s for s in manifest["snapshots"] if s["snapshot_id"] <= snapshot_id
    ]
    if len(kept) == len(manifest["snapshots"]):
        return manifest
    # seed the high-water mark from the ids being DROPPED too: a
    # pre-upgrade manifest (no last_snapshot_id key) must not let the
    # next commit reuse a rolled-back id
    manifest["last_snapshot_id"] = max(
        int(manifest.get("last_snapshot_id", 0)),
        max(s["snapshot_id"] for s in manifest["snapshots"]),
    )
    manifest["snapshots"] = kept
    return _write_manifest(table_path, manifest)
