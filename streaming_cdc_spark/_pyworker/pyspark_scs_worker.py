"""Python worker entry for engine sessions: ``pyspark.worker.main``
with zip import-cache invalidation that re-reads an archive only when
it changed.

Every Python task (mapInPandas, applyInPandas*, pandas_udf) starts in
pyspark's ``worker_util.setup_spark_files``, which ends in
``importlib.invalidate_caches()``. On Python 3.11 that makes every
cached ``zipimport.zipimporter`` re-parse its whole archive directory
in pure Python. A local worker holds 17-18 of them over four archives
(pyspark.zip with 1,328 entries, py4j, the spark-core jar with 5,359,
and the addPyFile snapshot zip), so each task paid 120-250 ms before
it touched a row. Here an importer keeps its directory while the
archive's ``(st_ino, st_size, st_mtime_ns)`` equals the stat taken
just before that directory was read; a rewritten archive is still
re-read on the next invalidation.

``session.get_spark`` registers this module as
``spark.python.worker.module``. The pyspark daemon imports it once
before forking, so every worker inherits the patch. The daemon honours
only a module whose name starts with ``pyspark`` (pyspark/daemon.py)
and silently falls back to ``pyspark.worker`` for any other name.
"""

import os
import sys
import zipimport

# archive path -> stat key taken just before its cached directory was read
_read_keys: dict[str, tuple[int, int, int] | None] = {}


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _keyed_read_directory(archive, _read=getattr(zipimport, "_read_directory", None)):
    # stat BEFORE reading: a rewrite during the read leaves a stale key,
    # which the next invalidation sees as a change
    key = _stat_key(archive)
    files = _read(archive)
    _read_keys[archive] = key
    return files


def _invalidate_caches(self, _invalidate=getattr(zipimport.zipimporter, "invalidate_caches", None)):
    """Re-read the archive directory only if the archive changed since
    it was last read; otherwise adopt the shared cached directory."""
    files = zipimport._zip_directory_cache.get(self.archive)
    key = _stat_key(self.archive)
    if files is not None and key is not None and _read_keys.get(self.archive) == key:
        self._files = files
    else:
        _invalidate(self)


# ``python -m`` put the JVM's working directory first on sys.path, ahead
# of the addPyFile snapshot that setup_spark_files inserts at index 1.
# From a repository-root cwd, engine code in tasks would then load from
# the live source tree, so source edits could reach a running session.
# Keep the directory, but last.
if sys.path and sys.path[0] in ("", os.getcwd()):
    sys.path.append(sys.path.pop(0))

if hasattr(zipimport.zipimporter, "invalidate_caches") and hasattr(zipimport, "_read_directory"):
    zipimport._read_directory = _keyed_read_directory
    zipimport.zipimporter.invalidate_caches = _invalidate_caches

if __name__ == "__main__":  # spark.python.use.daemon=false runs the module itself
    import runpy

    runpy.run_module("pyspark.worker", run_name="__main__")
else:
    from pyspark.worker import main  # noqa: F401  the daemon calls <module>.main
