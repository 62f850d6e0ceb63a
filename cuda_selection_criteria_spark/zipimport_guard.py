"""Keep PySpark task start-up from re-reading unchanged zip archives.

At the start of every task, PySpark's Python worker calls
``importlib.invalidate_caches()`` (``worker_util.setup_spark_files``).
Before CPython 3.12 (gh-103200 made it lazy),
``zipimport.zipimporter.invalidate_caches`` re-reads the whole archive
directory at once, and a worker holds one zipimporter per directory it
imported from a zip. With Spark 4.1 that is 16 once a pandas UDF has
run: 12 for ``pyspark.zip`` (1,328 entries, 7.9 ms a read), 2 for the
``spark-core`` jar that Spark also puts on the worker path (5,359
entries, 33 ms a read) and 2 for py4j's zip. So every task start spent
0.17-0.21 s re-reading them on a 4-core host (CPython 3.11.7), in
every mapInPandas stage.

``install()`` runs when the package is imported, so unpickling any
package UDF installs it in the worker. It replaces the method with one
that keeps the cached directory while the archive's ``(st_ino,
st_size, st_mtime_ns)`` equals the one taken just before its last read.
An archive that changed, is gone, or has not been read since the guard
was installed goes through the original method, so invalidation still
picks up a rewritten zip. A worker's first task runs before the
package is imported and still pays the re-reads once.
"""

from __future__ import annotations

import importlib
import os
import sys
import time
import zipimport

_original = zipimport.zipimporter.invalidate_caches
# archive path -> stat key taken just before its directory was last read;
# per process, like zipimport's own _zip_directory_cache it guards
_read_at: dict[str, tuple[int, int, int]] = {}


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _invalidate_caches(self) -> None:
    key = _stat_key(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and files is not None and _read_at.get(self.archive) == key:
        self._files = files
        return
    _read_at.pop(self.archive, None)
    _original(self)
    if key is not None and self.archive in zipimport._zip_directory_cache:
        _read_at[self.archive] = key


def install() -> None:
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches


def installed() -> bool:
    return zipimport.zipimporter.invalidate_caches is _invalidate_caches


WORKER_PROBE_SCHEMA = "installed boolean, invalidate_s double"


def worker_probe(batches):
    """mapInPandas body: per input batch, one row saying whether the guard
    is installed in this worker and how long one
    ``importlib.invalidate_caches()`` takes there."""
    import pandas as pd

    for _ in batches:
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        dt = time.perf_counter() - t0
        yield pd.DataFrame({"installed": [installed()], "invalidate_s": [dt]})
