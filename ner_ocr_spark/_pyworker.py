"""Python-worker start-up guard: stop re-reading unchanged zip archives.

Before every task, pyspark's worker (`worker_util.setup_spark_files`) calls
`importlib.invalidate_caches()`. Below Python 3.13 that calls
`zipimport.zipimporter.invalidate_caches` on every cached zip importer, and
each one re-reads its whole archive directory (`_read_directory`). A worker
importing from `pyspark.zip` holds about sixteen such importers (one per
package prefix), so a reused worker spent 0.2-0.3 s per task re-parsing an
archive that had not changed — about half the task time of an extraction
job on 4 cores.

`install()` replaces the method with one that re-reads an archive only when
its `(st_mtime_ns, st_size)` differs from the last read, or on the first call
for that archive. Every importer of the archive then shares the directory
that read produced, as it does after an unguarded re-read. Python 3.13+
re-reads lazily on its own, so `install()` does nothing there.

The package `__init__` calls `install()`, so every python worker that runs
engine code is guarded from its next task on. A fresh worker's first task
still pays one read (the call happens before any engine code is loaded).
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> ((st_mtime_ns, st_size), directory dict of that read)
_read: dict[str, tuple[tuple[int, int], dict]] = {}


def _make_guarded(reread):
    def invalidate_caches(self):
        # stat BEFORE the read: a recorded directory is never older than
        # its key, so a rewrite racing the read only costs one more read
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:
            key = None
        seen = _read.get(self.archive)
        if key is not None and seen is not None and seen[0] == key:
            self._files = seen[1]
            zipimport._zip_directory_cache[self.archive] = seen[1]
            return
        reread(self)
        # a failed read (missing or corrupt archive) is retried next time,
        # exactly as the unguarded method would
        if key is not None and self.archive in zipimport._zip_directory_cache:
            _read[self.archive] = (key, self._files)
        else:
            _read.pop(self.archive, None)

    invalidate_caches.unguarded = reread  # marks the guard: install() runs once
    return invalidate_caches


def install() -> None:
    """Guard `zipimporter.invalidate_caches` (idempotent; a no-op on
    Python >= 3.13)."""
    if sys.version_info >= (3, 13):
        return
    current = zipimport.zipimporter.invalidate_caches
    if not hasattr(current, "unguarded"):
        zipimport.zipimporter.invalidate_caches = _make_guarded(current)
