from __future__ import annotations

import os
import shutil
import tempfile

import pytest


@pytest.fixture(scope="session")
def spark():
    from pii_redactor_spark.session import get_spark

    s = get_spark(app_name="pii-tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


def drain_available_now(stream_df, out_dir, ckpt, timeout_s=300):
    """Write a streaming frame to parquet with Trigger.AvailableNow and
    block until it terminates.  Asserts the query actually finished —
    ``awaitTermination(timeout)`` returns False on timeout, and silently
    reading partial output while the query still holds the checkpoint is
    exactly the confusing-failure mode this helper exists to prevent."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        finished = q.awaitTermination(timeout_s)
        assert finished, f"streaming query did not finish in {timeout_s}s"
    finally:
        if q.isActive:
            q.stop()


# The checkout these tests run from: its .cache/ holds their scratch tables.
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="session")
def tmp_root():
    cache = os.path.join(REPO, ".cache")
    os.makedirs(cache, exist_ok=True)
    d = tempfile.mkdtemp(prefix="pii_spark_test_", dir=cache)
    yield d
    shutil.rmtree(d, ignore_errors=True)
