"""Storage layer: Iceberg-semantics on plain Parquet (swap point).

The north-star targets Iceberg tables.  No Iceberg runtime jar is guaranteed
in this sandbox (no network), so this module provides the identical semantics
on a Parquet layout (SURVEY.md §1.3):

* one directory per snapshot, ``<table>/snapshot_id=<id>/``: a commit adds
  its snapshot's files and no live snapshot's files are ever rewritten,
  Iceberg's file-level model (an ``append``).  The id is the one
  ``commit_snapshot`` then assigns (``next_snapshot_id``);
* a JSON manifest standing in for Iceberg snapshot metadata: each
  snapshot's partition ids + counters, written atomically (tmp + rename)
  *after* the data write succeeds — the commit point.  Readers go through
  it: a scan is partition-filtered on ``snapshot_id`` to the live
  snapshots, and a ``snapshot_id=`` directory the manifest does not list
  (a crash before its commit, a rollback) is never read and is removed
  (``remove_orphan_snapshots``, ``rollback_to_snapshot``);
* one read/write API so swapping in ``spark.read.format("iceberg")`` /
  ``df.writeTo(tbl)`` is a one-module change.

The function-by-function shim↔Iceberg mapping — and the place the
semantics honestly differ (single-writer commits) — is documented in
``docs/ICEBERG_MAPPING.md``.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
from urllib.parse import unquote

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def read_table(
    spark: SparkSession, path: str, merge_schema: bool = False
) -> DataFrame:
    """Read a table; ``merge_schema=True`` enables Iceberg-style schema
    evolution on the parquet stand-in: files written before a column was
    added are read with that column NULL, and the unified schema is the
    union across file footers.  Off by default because schema merging
    reads every footer at planning time — at 10^6 files that is a real
    planning cost, so callers opt in per read (Iceberg proper keeps the
    schema in table metadata and avoids the scan; the manifest module
    plays that role here for snapshots, not schemas)."""
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(path)


def partition_values(df: DataFrame, col: str) -> set[str]:
    """The ``col`` values of a table partitioned by ``col``, parsed from the
    ``col=<value>`` directory of each of ``df.inputFiles()``: the listing
    the read already made on the driver, so no Spark job (Iceberg answers
    the same question from its manifest summaries).

    Raises ``ValueError`` on a file outside such a directory and on a NULL
    (``__HIVE_DEFAULT_PARTITION__``) value: a partial answer would drop
    partitions silently."""
    values = set()
    for uri in df.inputFiles():
        dirs = [d for d in uri.split("/")[:-1] if d.startswith(f"{col}=")]
        if not dirs:
            raise ValueError(f"{uri} is not under a {col}= directory")
        # The URI's percent-encoding, then Spark's escaping of the value.
        value = unquote(unquote(dirs[-1][len(col) + 1:]))
        if value == "__HIVE_DEFAULT_PARTITION__":
            raise ValueError(f"{uri} is in the NULL {col} partition")
        values.add(value)
    return values


def partition_filter(col: str, values) -> Column:
    """``col IN (values)`` over integer partition ids as one parsed SQL
    predicate: one JVM call where ``Column.isin`` makes a py4j literal per
    value, for the same plan (an ``INSET`` partition filter)."""
    ids = ", ".join(str(int(v)) for v in values)
    return F.expr(f"`{col}` IN ({ids})" if ids else "false")


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Write ``df`` to ``path``, a directory that does not exist yet,
    partitioned by ``partition_cols``; with none, each task writes one part
    file.  Nothing is overwritten: an existing ``path`` raises."""
    writer = df.write
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)


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

# The partition column of the snapshot directories.
SNAPSHOT_COL = "snapshot_id"


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


def next_snapshot_id(manifest: dict) -> int:
    """The id the next commit to ``manifest``'s table assigns: one above
    the all-time high-water mark (``last_snapshot_id``, or the highest id
    listed, for a manifest written before the mark existed).  A writer puts
    the snapshot's files in ``snapshot_dir`` of this id, then
    ``commit_snapshot`` assigns it: one writer per table."""
    return max(
        int(manifest.get("last_snapshot_id", 0)),
        max((s["snapshot_id"] for s in manifest["snapshots"]), default=0),
    ) + 1


def snapshot_dir(table_path: str, snapshot_id: int) -> str:
    """The directory of snapshot ``snapshot_id``'s files."""
    return os.path.join(table_path, f"{SNAPSHOT_COL}={snapshot_id}")


def commit_snapshot(table_path: str, committed_parts: list[int],
                    counters: dict, run_id: str) -> dict:
    """Append a snapshot entry; atomic via tmp+rename (single-FS sandbox).

    Ids are ALL-TIME monotonic (``next_snapshot_id``): after a rollback,
    new commits continue from the highest id ever issued instead of
    reusing the rolled-back ids — a consumer that recorded a snapshot_id
    can never silently resolve it to different-era data (``parts_as_of``
    raises on ids no longer in the manifest)."""
    manifest = read_manifest(table_path)
    next_id = next_snapshot_id(manifest)
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


def remove_orphan_snapshots(table_path: str) -> None:
    """Remove every ``snapshot_id=`` directory the manifest does not list:
    a snapshot written but never committed (a crash before its commit), or
    one a rollback dropped before crashing ahead of its removal.  The
    Iceberg ``remove_orphan_files`` analog.

    Raises ``ValueError`` on any other directory that is not hidden: a
    table laid out otherwise cannot take snapshot directories beside it."""
    if not os.path.isdir(table_path):
        return
    dirs = {}
    for entry in os.scandir(table_path):
        if entry.is_dir() and not entry.name.startswith(("_", ".")):
            col, _, value = entry.name.partition("=")
            if col != SNAPSHOT_COL or not value.isdigit():
                raise ValueError(
                    f"{entry.path} is not a {SNAPSHOT_COL}= directory"
                )
            dirs[int(value)] = entry.path
    live = {s["snapshot_id"] for s in read_manifest(table_path)["snapshots"]}
    for snapshot_id, path in dirs.items():
        if snapshot_id not in live:
            shutil.rmtree(path)


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


def _snapshots_as_of(table_path: str, snapshot_id: int) -> list[dict]:
    """The manifest's snapshots up to ``snapshot_id``.

    Raises on an id not present in the manifest — it either never
    existed or was rolled back, and serving a silent guess for a
    rolled-back era would be wrong-data, not missing-data."""
    snaps = read_manifest(table_path)["snapshots"]
    if not any(s["snapshot_id"] == snapshot_id for s in snaps):
        raise ValueError(
            f"snapshot {snapshot_id} not in manifest at {table_path} "
            f"(never committed, or removed by rollback)"
        )
    return [s for s in snaps if s["snapshot_id"] <= snapshot_id]


def parts_as_of(table_path: str, snapshot_id: int) -> list[int]:
    """Partition ids committed at or before ``snapshot_id``; raises on an
    id the manifest does not list."""
    return sorted(
        {p for s in _snapshots_as_of(table_path, snapshot_id) for p in s["parts"]}
    )


def read_committed(spark: SparkSession, table_path: str) -> DataFrame:
    """The table as of its latest snapshot: the rows of every snapshot the
    manifest lists, by one ``snapshot_id`` filter that lands in the scan's
    PartitionFilters, so a directory it does not list is never read."""
    ids = [s["snapshot_id"] for s in read_manifest(table_path)["snapshots"]]
    return read_table(spark, table_path).where(
        partition_filter(SNAPSHOT_COL, ids)
    )


def read_table_as_of(
    spark: SparkSession,
    table_path: str,
    snapshot_id: int,
) -> DataFrame:
    """Read the table as of ``snapshot_id``: the files of the live
    snapshots up to it, by a ``snapshot_id`` partition filter, so later
    snapshots' directories are never read (pinned by
    tests/test_pipeline.py).  A commit only adds a snapshot's files and
    none is rewritten, so the read is exact at the file level, as
    Iceberg's.  Raises on an id the manifest does not list."""
    ids = [s["snapshot_id"] for s in _snapshots_as_of(table_path, snapshot_id)]
    return read_table(spark, table_path).where(
        partition_filter(SNAPSHOT_COL, ids)
    )


def rollback_to_snapshot(table_path: str, snapshot_id: int) -> dict:
    """Drop every snapshot after ``snapshot_id`` from the manifest (atomic
    tmp+rename), then remove the dropped snapshots' directories.  The
    Iceberg ``rollback_to_snapshot`` analog plus the expiry of the dropped
    files: the dropped parts leave the committed set, so the resumable
    pipeline's todo recomputes them into a new snapshot on its next run.
    A crash between the swap and the removal leaves directories the
    manifest does not list: no read scans them, and the next
    ``run_pipeline`` removes them (``remove_orphan_snapshots``)."""
    manifest = read_manifest(table_path)
    dropped = [
        s["snapshot_id"] for s in manifest["snapshots"]
        if s["snapshot_id"] > snapshot_id
    ]
    if not dropped:
        return manifest
    # seed the high-water mark from the ids being DROPPED too: a
    # pre-upgrade manifest (no last_snapshot_id key) must not let the
    # next commit reuse a rolled-back id
    manifest["last_snapshot_id"] = next_snapshot_id(manifest) - 1
    manifest["snapshots"] = [
        s for s in manifest["snapshots"] if s["snapshot_id"] <= snapshot_id
    ]
    _write_manifest(table_path, manifest)
    for i in dropped:
        path = snapshot_dir(table_path, i)
        if os.path.isdir(path):
            shutil.rmtree(path)
    return manifest
