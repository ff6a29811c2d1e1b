"""The local-only ``get_spark`` settings.  Its worker daemon: Python workers
import pyspark and py4j from their installed directories, not from Spark's
archives, so a task's ``importlib.invalidate_caches()`` re-reads no archive
directory.  Its raw local filesystem: no checksum file per written file."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

from pyspark.sql import functions as F

from pii_redactor_spark.session import PACKAGE_ROOT
from pii_redactor_spark.worker_daemon import dir_entries


def test_worker_imports_no_archive(spark):
    def probe(_):
        import sys
        import zipimport

        import pyspark

        zips = [p for p, f in sys.path_importer_cache.items()
                if isinstance(f, zipimport.zipimporter)]
        return f"{len(zips)} {pyspark.__file__}"

    got = spark.range(4).repartition(4).rdd.map(probe).collect()
    for line in got:
        n, path = line.split(" ", 1)
        assert n == "0", got
        assert ".zip" not in path and ".jar" not in path, got


def test_daemon_starts_from_any_working_directory(tmp_path):
    """A driver whose working directory does not hold the package (it is
    only on the driver's ``sys.path``) still gets workers: the daemon
    module resolves from the workers' ``PYTHONPATH``."""
    script = (
        f"import sys; sys.path.insert(0, {PACKAGE_ROOT!r})\n"
        "from pii_redactor_spark.session import get_spark\n"
        "s = get_spark(master='local[1]')\n"
        "print(s.sparkContext.parallelize([1, 2], 1)"
        ".map(lambda x: x * 2).collect())\n"
        "s.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                          env=env, capture_output=True, text=True,
                          timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip().splitlines()[-1] == "[2, 4]"


def _package(root, name: str) -> None:
    (root / name).mkdir(parents=True)
    (root / name / "__init__.py").write_text("")


def _archive(path, *names: str) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name in names:
            z.writestr(f"{name}/__init__.py", "")
    return str(path)


def test_dir_entries_drops_archives_only_when_installed(tmp_path):
    site = tmp_path / "site"
    _package(site, "pyspark")
    _package(site, "py4j")
    jar = _archive(tmp_path / "core.jar", "org")
    both = _archive(tmp_path / "pyspark.zip", "pyspark", "py4j")
    path = [both, jar, str(site)]
    assert dir_entries(path) == [str(site)]

    # pyspark or py4j only inside an archive: the path stays as it is
    for only in ("pyspark", "py4j"):
        half = tmp_path / f"no_{only}"
        _package(half, "py4j" if only == "pyspark" else "pyspark")
        path = [both, jar, str(half)]
        assert dir_entries(path) == path


def test_local_write_leaves_no_checksum_files(spark, tmp_path):
    """``get_spark`` writes local files through the raw local filesystem:
    a partitioned write leaves its part files and ``_SUCCESS`` marker and
    no ``.crc`` checksum file beside any of them."""
    out = tmp_path / "t"
    spark.range(40).withColumn("p", F.col("id") % 3).repartition(2) \
        .write.partitionBy("p").parquet(str(out))
    names = [f for _, _, files in os.walk(out) for f in files]
    assert "_SUCCESS" in names and any(n.endswith(".parquet") for n in names)
    assert not [n for n in names if n.endswith(".crc")], names
