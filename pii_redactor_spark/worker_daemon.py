"""The Python worker daemon of ``get_spark`` sessions: ``pyspark.daemon``
over a ``sys.path`` without Spark's archive entries.

Spark starts the daemon with ``pyspark.zip``, the py4j zip and the
spark-core jar ahead of site-packages, and every task's
``importlib.invalidate_caches()`` makes each zipimporter over them re-read
its whole archive directory (see ``session.py``).  When an installed pyspark
and py4j resolve from the directory entries, the archives are dropped
before anything imports pyspark; otherwise the path is left as it is.
Every file entry goes, so a package zip on ``PYTHONPATH`` goes too; code
shipped with ``SparkContext.addPyFile`` is added by each task, after the
fork, and stays.
"""

from __future__ import annotations

import os
import sys
from importlib.machinery import PathFinder


def dir_entries(path: list[str]) -> list[str]:
    """``path`` without its archive (file) entries, if ``pyspark`` and
    ``py4j`` both resolve from the entries left; else ``path`` itself."""
    dirs = [p for p in path if not os.path.isfile(p)]
    if all(PathFinder.find_spec(m, dirs) for m in ("pyspark", "py4j")):
        return dirs
    return path


if __name__ == "__main__":
    kept = dir_entries(sys.path)
    for p in set(sys.path) - set(kept):
        sys.path_importer_cache.pop(p, None)
    sys.path[:] = kept

    import pyspark.daemon

    pyspark.daemon.manager()
