"""End-to-end pipeline tests: the acceptance gates from BASELINE.md.

* keep/drop + scrub F1 >= 0.99 vs oracle labels
* caption byte-equality (typed + simple variants)
* image integrity: bytes pass through untouched; decoded PSNR >= 40 dB
* resume: crash after k commits, restart, full coverage, no duplicates
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pii_redactor_spark.fixtures.captions import CaptionConfig
from pii_redactor_spark.fixtures.codecs import decode_image, psnr
from pii_redactor_spark.fixtures.images import write_fixture_tables
from pii_redactor_spark.pipeline.run import read_kept, run_pipeline

N_ROWS = 2000


@pytest.fixture(scope="session")
def fixture_tables(spark, tmp_root):
    images_path, labels_path = write_fixture_tables(
        spark, f"{tmp_root}/fx", N_ROWS, CaptionConfig(), partitions=16
    )
    return images_path, labels_path


@pytest.fixture
def crash_on_call(monkeypatch):
    """``crash_on_call(name, n)``: a context in which ``storage.<name>``
    raises on its n-th call — the crash points of the resume tests."""
    import contextlib

    from pii_redactor_spark.sources import storage

    @contextlib.contextmanager
    def crash(name, n):
        real, calls = getattr(storage, name), []

        def wrapped(*args, **kwargs):
            calls.append(1)
            if len(calls) == n:
                raise RuntimeError(f"injected failure in {name}")
            return real(*args, **kwargs)

        with monkeypatch.context() as m:
            m.setattr(storage, name, wrapped)
            with pytest.raises(RuntimeError, match="injected failure"):
                yield

    return crash


@pytest.fixture(scope="session")
def pipeline_out(spark, tmp_root, fixture_tables):
    images_path, labels_path = fixture_tables
    out = f"{tmp_root}/out"
    summary = run_pipeline(spark, images_path, out, prefixes_per_commit=300)
    return out, labels_path, summary


def _f1(tp: int, fp: int, fn: int) -> float:
    p = tp / (tp + fp) if tp + fp else 0.0
    r = tp / (tp + fn) if tp + fn else 0.0
    return 2 * p * r / (p + r) if p + r else 0.0


def test_fixture_row_count(spark, fixture_tables):
    images_path, labels_path = fixture_tables
    assert spark.read.parquet(images_path).count() == N_ROWS
    assert spark.read.parquet(labels_path).count() == N_ROWS


def test_keep_drop_f1(spark, pipeline_out):
    out, labels_path, summary = pipeline_out
    assert summary["n_in"] == N_ROWS
    data = spark.read.parquet(f"{out}/data")
    labels = spark.read.parquet(labels_path)
    joined = data.join(labels, "image_id")
    agg = joined.agg(
        F.sum((F.col("keep") & F.col("keep_expected")).cast("long")).alias("tp"),
        F.sum((F.col("keep") & ~F.col("keep_expected")).cast("long")).alias("fp"),
        F.sum((~F.col("keep") & F.col("keep_expected")).cast("long")).alias("fn"),
    ).collect()[0]
    f1 = _f1(agg["tp"], agg["fp"], agg["fn"])
    assert f1 >= 0.99, f"keep/drop F1 {f1}"


def test_scrub_byte_equality(spark, pipeline_out):
    out, labels_path, _ = pipeline_out
    data = spark.read.parquet(f"{out}/data")
    labels = spark.read.parquet(labels_path)
    joined = data.join(labels, "image_id")
    bad = joined.where(
        (F.col("scrubbed") != F.col("scrubbed_expected"))
        | (F.col("scrubbed_simple") != F.col("scrubbed_expected_simple"))
    )
    n_bad = bad.count()
    if n_bad:
        for r in bad.select("caption_raw", "scrubbed", "scrubbed_expected").head(5):
            print("RAW   :", r[0])
            print("GOT   :", r[1])
            print("WANT  :", r[2])
    assert n_bad == 0


def test_entity_level_f1(spark, pipeline_out):
    out, labels_path, _ = pipeline_out
    data = spark.read.parquet(f"{out}/data")
    labels = spark.read.parquet(labels_path)
    pred = data.select(
        "image_id", F.explode_outer("entities").alias("e")
    ).select("image_id", "e.start", "e.end")
    truth = labels.select(
        "image_id", F.explode_outer("entities").alias("e")
    ).select("image_id", "e.start", "e.end")
    tp = pred.join(truth, ["image_id", "start", "end"], "inner").count()
    fp = pred.join(truth, ["image_id", "start", "end"], "left_anti").where(
        F.col("start").isNotNull()
    ).count()
    fn = truth.join(pred, ["image_id", "start", "end"], "left_anti").where(
        F.col("start").isNotNull()
    ).count()
    f1 = _f1(tp, fp, fn)
    assert f1 >= 0.99, f"entity F1 {f1} (tp={tp} fp={fp} fn={fn})"


def test_image_bytes_untouched_and_psnr(spark, pipeline_out, fixture_tables):
    out, _, _ = pipeline_out
    images_path, _ = fixture_tables
    kept = read_kept(spark, out).select("image_id", "bytes", "fmt")
    orig = spark.read.parquet(images_path).select(
        "image_id", F.col("bytes").alias("bytes_orig")
    )
    sample = kept.join(orig, "image_id").limit(50).collect()
    assert sample
    for row in sample:
        assert bytes(row["bytes"]) == bytes(row["bytes_orig"])  # passthrough
        px_before = decode_image(bytes(row["bytes_orig"]), row["fmt"])
        px_after = decode_image(bytes(row["bytes"]), row["fmt"])
        assert psnr(px_before, px_after) == float("inf")


def test_lineage_counters_match(spark, pipeline_out):
    out, _, summary = pipeline_out
    metrics = spark.read.parquet(f"{out}/metrics")
    agg = metrics.agg(
        F.sum("n_in"), F.sum("n_kept"), F.sum("n_dropped")
    ).collect()[0]
    assert int(agg[0]) == summary["n_in"] == N_ROWS
    assert int(agg[1]) == summary["n_kept"]
    assert int(agg[2]) == summary["n_dropped"]
    assert summary["n_kept"] + summary["n_dropped"] == N_ROWS
    # sane drop rate given ~12% injected junk
    assert 0.05 < summary["n_dropped"] / N_ROWS < 0.25


def test_crash_between_lineage_and_snapshot(spark, tmp_root, fixture_tables,
                                            crash_on_call):
    """The lineage-append/snapshot-commit crash window: raw metrics gain a
    duplicate row for the uncommitted group; read_lineage dedupes to the
    latest writer and its counters stay exact."""
    from pii_redactor_spark.pipeline.run import read_lineage

    images_path, _ = fixture_tables
    out = f"{tmp_root}/out_window"
    with crash_on_call("commit_snapshot", 1):
        run_pipeline(
            spark, images_path, out, prefixes_per_commit=20,
            materialize_bytes=False,
        )
    # lineage row exists for a group that was never snapshot-committed
    raw_before = spark.read.parquet(f"{out}/metrics").count()
    assert raw_before > 0
    summary = run_pipeline(
        spark, images_path, out, prefixes_per_commit=20,
        materialize_bytes=False,
    )
    assert summary["n_in"] == N_ROWS  # redone group counted exactly once
    raw = spark.read.parquet(f"{out}/metrics")
    lin = read_lineage(spark, out)
    # raw history has duplicates for the redone partitions; the view doesn't
    assert raw.count() > lin.count()
    assert lin.groupBy("part_id").count().where(F.col("count") > 1).count() == 0
    agg = lin.agg(F.sum("n_in")).collect()[0][0]
    assert int(agg) == N_ROWS


def _job_descriptions(spark, action) -> list[str]:
    """Run ``action`` inside a fresh job group; the description of every
    Spark job it started, in job-id order."""
    import uuid

    sc = spark.sparkContext
    group = f"test-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(10_000)
    store = jsc.statusStore()
    out = []
    for job in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        desc = store.job(job).description()
        out.append(desc.get() if desc.isDefined() else "")
    return out


def test_decisions_op_spark_jobs(spark, tmp_root, fixture_tables):
    """A one-group decisions run costs six Spark jobs: input schema, the
    todo distinct (map + result), the data write, and the lineage append
    (map + write) with the group totals observed on it.  Partition
    directories are listed on the driver, the written data is read back
    with its known schema, and the totals take no job of their own."""
    import pyspark

    images_path, _ = fixture_tables
    out = f"{tmp_root}/out_jobcount"
    summary = {}

    def op():
        summary.update(run_pipeline(
            spark, images_path, out, prefixes_per_commit=256,
            materialize_bytes=False,
        ))

    jobs = _job_descriptions(spark, op)
    assert summary["processed_groups"] == 1 and summary["n_in"] == N_ROWS
    listing = [d for d in jobs
               if d.startswith("Listing leaf files and directories")]
    assert not listing, listing
    assert len(jobs) <= 6, jobs
    if pyspark.__version__ == "4.1.2":
        assert len(jobs) == 6, jobs


def test_group_totals_match_lineage_and_data(spark, tmp_root,
                                             fixture_tables):
    """Every snapshot's counters are its group's totals: the sums of the
    group's lineage rows, and the counts of the data under its parts."""
    from pii_redactor_spark.pipeline.run import read_lineage
    from pii_redactor_spark.sources.storage import read_manifest

    images_path, _ = fixture_tables
    out = f"{tmp_root}/out_group_totals"
    run_pipeline(spark, images_path, out, prefixes_per_commit=20,
                 materialize_bytes=False)
    keys = ("n_in", "n_kept", "n_dropped", "n_entities")
    lineage = {r["part_id"]: r for r in read_lineage(spark, out).collect()}
    data = {
        r["phash_prefix"]: r
        for r in spark.read.parquet(f"{out}/data").groupBy("phash_prefix")
        .agg(
            F.count("*").alias("n_in"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.sum((~F.col("keep")).cast("long")).alias("n_dropped"),
            F.sum("n_entities").alias("n_entities"),
        ).collect()
    }
    snaps = read_manifest(f"{out}/data")["snapshots"]
    assert len(snaps) > 1
    assert sum(s["counters"]["n_in"] for s in snaps) == N_ROWS
    for snap in snaps:
        parts = snap["parts"]
        from_lineage = {k: sum(lineage[p][k] for p in parts) for k in keys}
        from_data = {k: sum(data[p][k] for p in parts) for k in keys}
        assert snap["counters"] == from_lineage == from_data, snap


def test_decisions_mode_resumable_and_byte_free(spark, tmp_root, fixture_tables,
                                                crash_on_call):
    """The at-scale mode: same lineage loop, no bytes read or written."""
    images_path, labels_path = fixture_tables
    out = f"{tmp_root}/out_decisions"
    with crash_on_call("write_partitioned", 2):
        run_pipeline(
            spark, images_path, out, prefixes_per_commit=20,
            materialize_bytes=False,
        )
    summary = run_pipeline(
        spark, images_path, out, prefixes_per_commit=20,
        materialize_bytes=False,
    )
    assert summary["resumed_skipped"] > 0
    data = spark.read.parquet(f"{out}/data")
    assert data.count() == N_ROWS
    assert "bytes" not in data.columns
    assert data.groupBy("image_id").count().where(
        F.col("count") > 1).count() == 0
    # decisions agree with the oracle labels (same gate as materialized)
    labels = spark.read.parquet(labels_path)
    bad = data.join(labels, "image_id").where(
        F.col("scrubbed") != F.col("scrubbed_expected")
    ).count()
    assert bad == 0


def test_resume_after_crash(spark, tmp_root, fixture_tables, crash_on_call):
    images_path, _ = fixture_tables
    out = f"{tmp_root}/out_resume"
    with crash_on_call("write_partitioned", 2):
        run_pipeline(spark, images_path, out, prefixes_per_commit=20)
    partial = spark.read.parquet(f"{out}/data").count()
    assert 0 < partial < N_ROWS
    summary = run_pipeline(spark, images_path, out, prefixes_per_commit=20)
    assert summary["resumed_skipped"] > 0
    data = spark.read.parquet(f"{out}/data")
    assert data.count() == N_ROWS
    dupes = data.groupBy("image_id").count().where(F.col("count") > 1).count()
    assert dupes == 0


def test_resume_decisions_many_small_groups(spark, tmp_root, fixture_tables,
                                            crash_on_call):
    """Decisions-mode crash -> resume with prefixes >> prefixes_per_commit:
    the resumed run skips exactly the committed parts and covers the rest
    with no duplicates."""
    from pii_redactor_spark.pipeline.run import todo_prefixes

    images_path, _ = fixture_tables
    out = f"{tmp_root}/out_resume_small_groups"
    with crash_on_call("write_partitioned", 4):
        run_pipeline(
            spark, images_path, out, prefixes_per_commit=5,
            materialize_bytes=False,
        )
    src = spark.read.parquet(images_path)
    todo, done = todo_prefixes(src, f"{out}/data")
    assert done == 15 and len(todo) > 0
    summary = run_pipeline(
        spark, images_path, out, prefixes_per_commit=5,
        materialize_bytes=False,
    )
    assert summary["resumed_skipped"] == 15
    assert summary["prefixes"] == 15 + len(todo)
    data = spark.read.parquet(f"{out}/data")
    assert data.count() == N_ROWS
    assert data.groupBy("image_id").count().where(
        F.col("count") > 1).count() == 0


def test_decisions_with_plain_replacement_config(spark, fixture_tables):
    """ScrubConfig flows through scrub_decisions: preserve_format=False
    masks every entity with the single custom token."""
    from pii_redactor_spark.operators.scrub import ScrubConfig
    from pii_redactor_spark.pipeline.run import scrub_decisions

    images_path, _ = fixture_tables
    src = spark.read.parquet(images_path).limit(200)
    dec = scrub_decisions(
        src, cfg=ScrubConfig(replacement="<PII>", preserve_format=False)
    ).cache()
    with_pii = dec.where(F.col("has_pii"))
    assert with_pii.count() > 0
    typed = with_pii.where(
        F.col("scrubbed").contains("[NAME_REDACTED]")
        | F.col("scrubbed").contains("[EMAIL_REDACTED]")
        | F.col("scrubbed").contains("[PHONE_REDACTED]")
        | F.col("scrubbed").contains("[ID_REDACTED]")
        | F.col("scrubbed").contains("[REDACTED]")
    ).count()
    assert typed == 0
    assert with_pii.where(F.col("scrubbed").contains("<PII>")).count() == \
        with_pii.count()


def test_snapshot_time_travel_and_rollback(spark, tmp_root, fixture_tables):
    """Iceberg-analog snapshot ops on the decisions store: the snapshots
    metadata view, as-of-snapshot partition-pruned reads, and rollback +
    resume (rolled-back partitions leave the committed set and get
    recomputed by the resume todo on the next run)."""
    import contextlib
    import io

    from pii_redactor_spark.sources.storage import (
        parts_as_of,
        read_manifest,
        read_table_as_of,
        rollback_to_snapshot,
        snapshots,
    )

    images_path, _ = fixture_tables
    out = f"{tmp_root}/out_snapshots"
    run_pipeline(
        spark, images_path, out, prefixes_per_commit=5,
        materialize_bytes=False,
    )
    data_path = f"{out}/data"
    manifest = read_manifest(data_path)
    n_snaps = len(manifest["snapshots"])
    assert n_snaps >= 3  # several commit groups

    # metadata view matches the manifest
    meta = snapshots(spark, data_path)
    rows = {r["snapshot_id"]: r for r in meta.collect()}
    assert len(rows) == n_snaps
    assert rows[1]["n_parts"] == 5

    # as-of read: snapshot 1 sees exactly its parts — and the membership
    # filter is a PARTITION filter (later partitions never scanned)
    asof = read_table_as_of(spark, data_path, snapshot_id=1)
    want_parts = set(parts_as_of(data_path, 1))
    got_parts = {
        r["phash_prefix"]
        for r in asof.select("phash_prefix").distinct().collect()
    }
    assert got_parts == want_parts
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        asof.explain(mode="formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters:", 1)[1].split("]", 1)[0]
    assert "phash_prefix" in seg, plan

    full = spark.read.parquet(data_path).count()

    # rollback to snapshot 1: later parts leave the committed set...
    rollback_to_snapshot(data_path, 1)
    assert len(read_manifest(data_path)["snapshots"]) == 1
    # ...a rolled-back snapshot id no longer resolves (wrong-era data
    # must raise, not silently serve)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="rollback"):
        parts_as_of(data_path, 2)
    # ...and resume recomputes exactly them
    summary = run_pipeline(
        spark, images_path, out, prefixes_per_commit=5,
        materialize_bytes=False,
    )
    assert summary["resumed_skipped"] == 5
    assert spark.read.parquet(data_path).count() == full
    data = spark.read.parquet(data_path)
    assert data.groupBy("image_id").count().where(
        F.col("count") > 1).count() == 0
    # ids are all-time monotonic: post-rollback commits continue above
    # the high-water mark instead of reusing the rolled-back ids, so a
    # recorded snapshot_id can never resolve to different-era data
    new_ids = [
        s["snapshot_id"] for s in read_manifest(data_path)["snapshots"]
    ]
    assert new_ids[0] == 1
    assert all(i > n_snaps for i in new_ids[1:]), new_ids
    assert len(new_ids) == len(set(new_ids))


def test_rollback_pre_upgrade_manifest_never_reuses_ids(tmp_root):
    """A manifest written before last_snapshot_id existed must still get
    all-time-monotonic ids across rollback: the high-water mark is seeded
    from the ids being dropped."""
    import json
    import os

    from pii_redactor_spark.sources.storage import (
        commit_snapshot,
        manifest_path,
        read_manifest,
        rollback_to_snapshot,
    )

    path = os.path.join(tmp_root, "old_manifest_table")
    os.makedirs(path, exist_ok=True)
    legacy = {
        "snapshots": [
            {"snapshot_id": i, "run_id": "r", "committed_at": "t",
             "parts": [i], "counters": {}}
            for i in (1, 2, 3)
        ]
    }
    with open(manifest_path(path), "w") as f:
        json.dump(legacy, f)
    rollback_to_snapshot(path, 1)
    m = commit_snapshot(path, [9], {}, "r2")
    ids = [s["snapshot_id"] for s in m["snapshots"]]
    assert ids == [1, 4], ids  # 2 and 3 are never reused
    assert read_manifest(path)["last_snapshot_id"] == 4


def test_schema_evolution_merge_read(spark, tmp_root):
    """Iceberg-style schema evolution on the storage stand-in: a column
    added by later writers is visible through merge_schema=True with NULLs
    for pre-evolution rows, and old snapshots of the data keep reading."""
    from pii_redactor_spark.sources.storage import append_table, read_table

    path = f"{tmp_root}/evolve_tbl"
    v1 = spark.createDataFrame(
        [("a", "cap-a"), ("b", "cap-b")], "image_id string, caption string"
    )
    v1.coalesce(1).write.mode("overwrite").parquet(path)
    v2 = spark.createDataFrame(
        [("c", "cap-c", 0.9)],
        "image_id string, caption string, quality double",
    )
    append_table(v2.coalesce(1), path)

    merged = read_table(spark, path, merge_schema=True)
    assert set(merged.columns) == {"image_id", "caption", "quality"}
    got = {
        (r["image_id"], r["quality"]) for r in merged.collect()
    }
    assert got == {("a", None), ("b", None), ("c", 0.9)}
    # evolution must not break un-merged reads of the same table
    assert read_table(spark, path).count() == 3
