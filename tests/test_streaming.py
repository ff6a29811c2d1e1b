"""Structured Streaming scrub: incremental ingest, exactly-once, parity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pii_redactor_spark.fixtures.captions import CaptionConfig
from pii_redactor_spark.fixtures.images import write_fixture_tables
from pii_redactor_spark.streaming import start_scrub_stream


@pytest.fixture(scope="module")
def stream_dirs(spark, tmp_root):
    base = f"{tmp_root}/stream"
    # batch 1: rows 0..199 (write_fixture_tables overwrites, so generate the
    # two ingest batches into separate dirs and copy files in)
    import glob
    import os
    import shutil

    b1, _ = write_fixture_tables(
        spark, f"{base}/gen1", 200, CaptionConfig(), partitions=4
    )
    input_dir = f"{base}/input"
    os.makedirs(input_dir)
    # flatten partition dirs: streaming file source tracks files, layout is
    # irrelevant for the test; keep phash_prefix as a data column instead
    spark.read.parquet(b1).coalesce(2).write.mode("overwrite").parquet(
        input_dir
    )
    for junk in glob.glob(f"{input_dir}/_SUCCESS"):
        os.remove(junk)
    return base, input_dir


def test_stream_drains_then_extends_without_duplicates(spark, stream_dirs):
    base, input_dir = stream_dirs
    out = f"{base}/out"
    ckpt = f"{base}/ckpt"

    q = start_scrub_stream(spark, input_dir, out, ckpt)
    assert q.awaitTermination(300)
    got = spark.read.parquet(out)
    assert got.count() == 200
    assert got.select("image_id").distinct().count() == 200

    # ingest batch 2: 100 more rows appended to the same dir
    b2, _ = write_fixture_tables(
        spark, f"{base}/gen2", 300, CaptionConfig(), partitions=4
    )
    extra = (
        spark.read.parquet(b2)
        .where(F.col("image_id") >= "img000000000200")
    )
    assert extra.count() == 100
    extra.coalesce(1).write.mode("append").parquet(input_dir)

    # restart from the same checkpoint: only the new files are processed
    q2 = start_scrub_stream(spark, input_dir, out, ckpt)
    assert q2.awaitTermination(300)
    got2 = spark.read.parquet(out)
    assert got2.count() == 300
    dupes = (
        got2.groupBy("image_id").count().where(F.col("count") > 1).count()
    )
    assert dupes == 0


def test_stream_matches_batch_semantics(spark, stream_dirs):
    """Same rows through the streaming plan and the batch plan → identical
    decisions (the scrub stage is stateless, so plans differ only at the
    source node)."""
    base, input_dir = stream_dirs
    from pii_redactor_spark.pipeline.run import scrub_decisions

    batch = scrub_decisions(spark.read.parquet(input_dir)).select(
        "image_id", "keep", "scrubbed"
    )
    streamed = spark.read.parquet(f"{base}/out").select(
        "image_id", "keep", "scrubbed"
    )
    assert batch.count() == streamed.count()
    assert batch.exceptAll(streamed).count() == 0
    assert streamed.exceptAll(batch).count() == 0


def test_stream_scan_never_reads_bytes(spark, stream_dirs):
    """The scrub stream's file scan reads caption-side columns only: the
    last micro-batch's FileScan ReadSchema has no ``bytes``."""
    import contextlib
    import io

    base, input_dir = stream_dirs
    q = start_scrub_stream(
        spark, input_dir, f"{base}/plan_out", f"{base}/plan_ckpt"
    )
    assert q.awaitTermination(300)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain()
    scan = [l for l in buf.getvalue().splitlines() if "ReadSchema" in l]
    assert scan, buf.getvalue()
    assert all("bytes" not in l for l in scan), scan
