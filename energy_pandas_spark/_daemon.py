"""Python worker daemon: pyspark's own, with a zip directory cache that
survives ``importlib.invalidate_caches()``.

Every Python task calls ``importlib.invalidate_caches()`` before it runs
its UDF (``pyspark.worker_util.setup_spark_files``), so that files added
with ``addPyFile`` become importable. On Python 3.11 and 3.12 (checked:
3.12.1) each ``zipimporter`` answers by re-reading its archive's whole
central directory, and the workers hold 14-16 of them for
``$SPARK_HOME/python/lib/pyspark.zip`` (1,328 entries) alone: 170-180 ms
a call, timed in one worker-like process, against 0.15 ms with the
version here. Python 3.13 drops the cached directory instead and
re-reads it at the next import, once per archive per task.

Here an archive is re-read only when its ``(st_mtime_ns, st_size)``
differs from the one recorded when this process last read it. Path
finders for directories are still invalidated as before. The daemon
patches itself before it forks, so every worker inherits the patch.
Run as ``spark.python.daemon.module`` (``make_session`` sets it).
"""

from __future__ import annotations

import os
import zipimport


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _reread_on_change(reread):
    # the archives this process has read so far: those of its imports
    read_at = {a: _stamp(a) for a in zipimport._zip_directory_cache}

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is None or read_at.get(self.archive) != stamp:
            reread(self)
            read_at[self.archive] = stamp
        elif hasattr(self, "_files"):  # <= 3.12: a per-importer copy
            self._files = zipimport._zip_directory_cache.get(self.archive, self._files)

    return invalidate_caches


def main() -> None:
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = _reread_on_change(
        zipimport.zipimporter.invalidate_caches
    )
    daemon.manager()


if __name__ == "__main__":
    # run the copy imported under its package name, so that the patch
    # names this module and not __main__
    from energy_pandas_spark._daemon import main

    main()
