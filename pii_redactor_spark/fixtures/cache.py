"""Generate-once caches: one rule for every fixture, oracle and derived table.

A cache directory holds its data and a ``_DONE`` marker that records the key
the data was built under.  ``cached`` serves the data path while the marker
holds the current key and the data path exists; otherwise it drops the
marker, builds, and writes the marker last, by rename, so a build that dies
part-way never validates.

A key has three parts:

* ``sources`` — what generates the data: a ``source_digest`` of the
  generator's files, or the source text of a derivation function.  An
  unreadable source raises; a constant in its place would never invalidate.
* ``params`` — every parameter the build takes (row count, config,
  partition layout); anything with a deterministic ``repr``.
* ``inputs`` — for a table derived from files, each input file's absolute
  path, size and mtime (a directory counts as every file under it), so a
  rewritten input rebuilds the table.

Standard library only: the benchmark times importing this module.
"""

from __future__ import annotations

import hashlib
import os

MARKER = "_DONE"


def source_digest(directory: str, names) -> str:
    """sha256 over the named files under ``directory``, in order.  Raises
    ``RuntimeError`` when any of them is unreadable (a zip-imported package,
    say): a cache keyed on a partial digest would miss the edits it exists
    to catch."""
    h = hashlib.sha256()
    for name in names:
        path = os.path.join(directory, name)
        try:
            with open(path, "rb") as f:
                h.update(f.read())
        except OSError as e:
            raise RuntimeError(f"cannot key a cache on {path}: {e}") from e
    return h.hexdigest()[:16]


def _file_stamps(path: str):
    path = os.path.abspath(path)
    if not os.path.isdir(path):
        st = os.stat(path)
        yield f"{path}|{st.st_size}|{st.st_mtime_ns}"
        return
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            yield from _file_stamps(os.path.join(root, name))


def _key(sources: str, params, inputs) -> str:
    h = hashlib.sha256(sources.encode())
    h.update(repr(params).encode())
    for path in inputs:
        for stamp in _file_stamps(path):
            h.update(stamp.encode())
    return h.hexdigest()


def _holds(cache_dir: str, path: str, key: str) -> bool:
    if not os.path.exists(path):
        return False
    try:
        with open(os.path.join(cache_dir, MARKER)) as f:
            return f.read() == key
    except OSError:
        return False


def is_fresh(cache_dir: str, data: str, *, sources: str, params=(),
             inputs=()) -> bool:
    """True iff ``cache_dir/data`` exists and the marker holds the key."""
    return _holds(cache_dir, os.path.join(cache_dir, data),
                  _key(sources, params, inputs))


def cached(cache_dir: str, data: str, build, *, sources: str, params=(),
           inputs=()) -> str:
    """Return ``cache_dir/data``, first calling ``build()`` (which writes
    it) unless ``is_fresh`` holds for the same key."""
    path = os.path.join(cache_dir, data)
    key = _key(sources, params, inputs)
    if _holds(cache_dir, path, key):
        return path
    marker = os.path.join(cache_dir, MARKER)
    try:
        os.remove(marker)
    except FileNotFoundError:
        pass
    build()
    os.makedirs(cache_dir, exist_ok=True)
    with open(marker + ".tmp", "w") as f:
        f.write(key)
    os.replace(marker + ".tmp", marker)
    return path
