"""Reused Python workers keep their zip listings (Python < 3.13 only).

PySpark's worker calls `importlib.invalidate_caches()` at the start of
EVERY task (`pyspark.worker_util.setup_spark_files`). Before Python
3.13 that makes each `zipimport.zipimporter` in
`sys.path_importer_cache` eagerly re-parse its archive's central
directory. A reused worker holds ~17 of them, mostly over pyspark.zip
(1,328 entries), at 6.3 ms a re-parse on 3.11.7 and 12.5 ms on 3.12.1:
~0.2 core-s per task, measured as most of the extraction job's
Python-side cost on small batches. 3.13 re-reads lazily (0.0025 ms);
delete this module once the floor is Python >= 3.13.

`install` (run by the package `__init__`, the one module every
extraction UDF's unpickle imports) records the archive's
(st_mtime_ns, st_size, st_ino) each time a listing is read, and
replaces `zipimporter.invalidate_caches` by a version that calls the
original only when the archive's stat differs from the stamp of its
last read. Import semantics are unchanged: a new py-files archive gets
a new importer (and a fresh read), and a rewritten archive changes its
stat (but see the limit below).

Limit: a listing is invalidated only by a stat change, like
FileFinder's directory-mtime check. An archive rewritten in place
(`ZipFile(path, "w")` keeps the inode) to the same size within the
filesystem's timestamp granularity, or whose mtime is set back, keeps
its old listing, whose offsets then point into the new file. Spark
does not overwrite an added py-file (re-adding a path is ignored),
and session.package_zip writes its archive once per process.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (stat stamp taken before the read, the listing read)
_LISTINGS: dict[str, tuple[tuple[int, int, int] | None, dict]] = {}


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install() -> None:
    """Idempotent; a no-op on Python >= 3.13."""
    if sys.version_info >= (3, 13):
        return
    zi = zipimport.zipimporter
    if zi.invalidate_caches.__module__ == __name__:
        return
    read_directory = zipimport._read_directory
    original = zi.invalidate_caches

    def _read_stamped(archive):
        # stat BEFORE the read: an archive rewritten in between keeps
        # an older stamp than its listing, so the next call re-reads
        stamp = _stamp(archive)
        files = read_directory(archive)
        _LISTINGS[archive] = (stamp, files)
        return files

    def invalidate_caches(self):
        """Re-read the archive's listing only if its stat changed since
        the listing was last read (see bank_statement_pdf_parser_spark
        .zip_listings)."""
        stamp, files = _LISTINGS.get(self.archive, (None, None))
        if (stamp is not None and stamp == _stamp(self.archive)
                and zipimport._zip_directory_cache.get(self.archive)
                is files):
            self._files = files
            return
        original(self)

    zipimport._read_directory = _read_stamped
    zi.invalidate_caches = invalidate_caches
