"""The Python worker daemon of the engine's sessions.

``get_spark`` sets ``spark.python.daemon.module`` to this module, so Spark
starts it (``python -m hadoop_gpu_spark.pyspark_daemon``) in place of
``pyspark.daemon``. It runs pyspark's own ``daemon.manager()`` unchanged,
after one fix to the import system that every forked worker inherits.

Before each task a worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython < 3.12 that makes
every ``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
whole directory, and pyspark's own ``pyspark.zip`` (~1,300 entries) leaves
14-16 of them there: 170-435 ms of every task on a 4-core VM. The fix
re-reads an archive only when ``os.stat`` shows it changed. CPython 3.12
made the invalidation lazy (gh-103200); there this module only starts the
daemon.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def install_zip_invalidation_patch() -> bool:
    """Make ``zipimporter.invalidate_caches`` re-read only changed archives.

    An archive is re-read when its ``(st_mtime_ns, st_size, st_ino)`` differs
    from the stamp taken before its last read, or when it has no cached
    directory; otherwise the importer reuses the shared
    ``zipimport._zip_directory_cache`` entry. Archives first seen later (a
    new zip on ``sys.path``) get a fresh read. Records a stamp for every
    archive already imported from. Returns whether the patch is active:
    never on Python >= 3.12, where it is not needed."""
    if sys.version_info >= (3, 12):
        return False
    original = zipimport.zipimporter.invalidate_caches
    stamps: dict[str, tuple[int, int, int]] = {}

    def invalidate_if_changed(self) -> None:
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        original(self)
        if stamp is None:
            stamps.pop(self.archive, None)
        else:
            stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    importlib.invalidate_caches()
    return True


if __name__ == "__main__":
    install_zip_invalidation_patch()

    from pyspark import daemon

    daemon.manager()
