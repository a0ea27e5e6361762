"""PySpark worker daemon that re-reads a zip archive only when it changed.

Before every task PySpark's worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython 3.11 each
``zipimporter.invalidate_caches`` re-parses the whole central directory
of its archive in pure Python, and a worker holds one zipimporter per
imported pyspark subpackage of ``pyspark.zip`` (1,328 entries): that
re-read was most of the per-task "time to initialize Python workers".

This module wraps ``zipimporter.invalidate_caches`` so an importer
re-reads only when its archive's ``(st_mtime_ns, st_size)`` differs from
what *that importer* saw at its last read. The stamp is per importer,
never per archive: a shared stamp would let one importer keep a stale
directory (wrong offsets) after another one refreshed. A missing archive
always takes the original path. Run it with
``spark.python.daemon.module=jsonextract_spark.worker_daemon``
(``session.build_session`` does so for local masters).
"""

import os
import sys
import zipimport

_read_archive = zipimport.zipimporter.invalidate_caches


def _stamp_of(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self) -> None:
    # stat BEFORE the read: a write racing the read leaves an older
    # stamp, which only costs one more re-read next time
    stamp = _stamp_of(self.archive)
    if stamp is None or stamp != getattr(self, "_archive_stamp", None):
        _read_archive(self)
        self._archive_stamp = stamp


def install() -> None:
    """Patch ``zipimporter`` and stamp (re-read) every live zipimporter."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


def main() -> None:
    # import the daemon (and with it the pyspark worker) first, so the
    # importers it creates are stamped before any worker is forked
    from pyspark import daemon

    install()
    daemon.manager()


if __name__ == "__main__":
    # ``-m`` runs this file as ``__main__``; run the importable copy so
    # the installed wrapper reports this module's real name
    from jsonextract_spark.worker_daemon import main as _main

    _main()
