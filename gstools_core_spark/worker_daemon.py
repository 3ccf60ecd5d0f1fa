"""Python-worker daemon: pyspark's stock daemon minus a per-task archive re-read.

``session.get_session`` sets ``spark.python.daemon.module`` to this module,
the hook Spark documents for wrapping ``pyspark.daemon``.  Run as the
daemon, it patches one method, then hands over to
``pyspark.daemon.manager()``; the workers the daemon forks inherit the
patch.  Importing it patches nothing.

Why: every Python task starts with pyspark's ``setup_spark_files``, which
calls ``importlib.invalidate_caches()``.  Python's
``zipimport.zipimporter.invalidate_caches`` re-parses the archive's whole
central directory each time it is called, and a worker holds one
zipimporter per imported pyspark subpackage of ``pyspark.zip`` (1,328
entries).  Measured on a 4-core machine (Python 3.11, Spark 4.1): 16
directory reads per task, 0.16-0.26 s of worker CPU per task even when
the task does nothing.

The patch re-reads an archive only when its ``(st_mtime_ns, st_size)``
differs from the stamp taken just before the last read, or when the stat
fails; otherwise the importer adopts the directory that read produced.  A
rewritten archive is still re-read and a deleted one still empties the
importer, exactly as with the stock method.  A rewrite that keeps both the
size and the mtime is not seen: the same (mtime, size) rule Python uses to
decide whether a cached .pyc is stale.
"""

from __future__ import annotations

import os
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches

# archive path -> (stamp before the read, directory the read produced).
# Per process, like zipimport's own _zip_directory_cache, so that every
# importer of one archive, including those created after the last read,
# shares one read per stamp.
_reads: dict[str, tuple[tuple[int, int], dict]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self) -> None:
    stamp = _stamp(self.archive)
    last = _reads.get(self.archive)
    if last is not None and last[0] == stamp:  # recorded stamps are never None
        self._files = last[1]
        zipimport._zip_directory_cache[self.archive] = last[1]
        return
    _stock_invalidate_caches(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _reads[self.archive] = (stamp, self._files)
    else:
        _reads.pop(self.archive, None)


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _invalidate_caches

    from pyspark import daemon

    daemon.manager()
