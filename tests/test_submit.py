"""Integration test: the pipeline submits via spark-submit --py-files.

Runs the real ``spark-submit`` binary in a clean working directory (so the
package can ONLY come from the --py-files zip) in both job modes.
"""

from __future__ import annotations

import json
import os
import subprocess

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def small_images(spark, tmp_root):
    from pii_redactor_spark.fixtures.captions import CaptionConfig
    from pii_redactor_spark.fixtures.images import write_fixture_tables

    path, _ = write_fixture_tables(
        spark, f"{tmp_root}/submit_fx", 300, CaptionConfig(), partitions=4
    )
    return path


@pytest.fixture(scope="module")
def pyfiles_zip(tmp_root):
    import sys

    sys.path.insert(0, f"{REPO}/tools")
    from make_pyfiles import build

    return build(out=f"{tmp_root}/pii_redactor_spark.zip")


def _submit(pyfiles_zip, args, cwd):
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # package must come from --py-files only
    proc = subprocess.run(
        [
            "spark-submit",
            "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--py-files", pyfiles_zip,
            f"{REPO}/jobs/scrub_job.py",
            *args,
        ],
        capture_output=True, text=True, timeout=420, cwd=cwd, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = [l for l in proc.stdout.splitlines()
             if l.startswith("SCRUB_JOB_SUMMARY ")]
    assert lines, proc.stdout[-2000:]
    return json.loads(lines[-1].split(" ", 1)[1])


def test_submit_decisions_mode(spark, small_images, pyfiles_zip, tmp_root):
    out = f"{tmp_root}/submit_out_decisions"
    summary = _submit(
        pyfiles_zip,
        ["--input", small_images, "--output", out, "--mode", "decisions"],
        cwd=tmp_root,
    )
    assert summary["rows"] == 300
    df = spark.read.parquet(f"{out}/data")
    assert df.count() == 300
    assert "scrubbed" in df.columns and "keep" in df.columns
    assert "bytes" not in df.columns  # decisions table carries no pixels
    from pii_redactor_spark.pipeline.run import read_lineage

    lineage = read_lineage(spark, out)  # from the committed data
    assert lineage.agg({"n_in": "sum"}).collect()[0][0] == 300


def test_submit_materialize_mode(spark, small_images, pyfiles_zip, tmp_root):
    out = f"{tmp_root}/submit_out_mat"
    summary = _submit(
        pyfiles_zip,
        ["--input", small_images, "--output", out, "--mode", "materialize",
         "--prefixes-per-commit", "300"],
        cwd=tmp_root,
    )
    assert summary["n_in"] == 300
    data = spark.read.parquet(f"{out}/data")
    assert data.count() == 300
    assert "bytes" in data.columns


def test_submit_decisions_with_toxicity(spark, small_images, pyfiles_zip,
                                        tmp_root):
    """--toxicity-blocklist @file plumbs a ToxicityConfig through spark-submit:
    the decisions table gains the scoring columns and flagged rows drop."""
    from pyspark.sql import functions as F

    tok = (
        spark.read.parquet(small_images)
        .select(F.explode(F.split("caption", " ")).alias("t"))
        .where(F.length("t") > 2)
        .groupBy("t").count().orderBy(F.desc("count"))
        .first()["t"]
    )
    lex = f"{tmp_root}/lexicon.txt"
    with open(lex, "w", encoding="utf-8") as f:
        f.write(f"# test lexicon\n{tok}\n")
    out = f"{tmp_root}/submit_out_tox"
    summary = _submit(
        pyfiles_zip,
        ["--input", small_images, "--output", out, "--mode", "decisions",
         "--toxicity-blocklist", f"@{lex}",
         "--toxicity-threshold", "0.0001"],
        cwd=tmp_root,
    )
    assert summary["rows"] == 300
    df = spark.read.parquet(f"{out}/data")
    assert {"n_toxic", "toxicity", "toxic_flag"} <= set(df.columns)
    agg = df.agg(
        F.sum("n_toxic").alias("hits"),
        F.sum(F.when(F.col("toxic_flag") & F.col("keep"), 1)
              .otherwise(0)).alias("kept_flagged"),
    ).collect()[0]
    assert agg["hits"] > 0 and agg["kept_flagged"] == 0


def test_table_pins_resolve_from_pyfiles_zip(tmp_path):
    """Round-4 review: the shared-table pin file must ship in the
    --py-files zip AND load through importlib.resources — a plain
    __file__-relative open() can never resolve inside a zip, which
    would break the pin gate on every packaged deployment."""
    import subprocess
    import sys
    import zipfile

    sys.path.insert(0, f"{REPO}/tools")
    import make_pyfiles

    out = str(tmp_path / "pkg.zip")
    make_pyfiles.build(out)
    names = zipfile.ZipFile(out).namelist()
    assert "pii_redactor_spark/fixtures/expected_table_hashes.json" in names
    proc = subprocess.run(
        [sys.executable, "-c",
         "import pii_redactor_spark;"
         "assert '.zip' in pii_redactor_spark.__file__,"
         "pii_redactor_spark.__file__;"
         "from pii_redactor_spark.fixtures.table_pins import"
         " assert_shared_tables_pinned;"
         "assert_shared_tables_pinned();"
         "print('ok')"],
        capture_output=True, text=True, timeout=120,
        cwd=str(tmp_path), env={"PYTHONPATH": out, "PATH": "/usr/bin:/bin"},
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.strip() == "ok"
