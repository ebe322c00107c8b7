"""Python-worker daemon for ``get_spark`` sessions (``spark.python.daemon.module``).

Every Python task ends its set-up with ``importlib.invalidate_caches()``,
and on Python 3.11/3.12 each ``zipimporter`` then re-reads its archive's
whole directory: pyspark.zip, once per imported pyspark package. This
daemon guards that reload by the archive's stat, so a task re-reads an
archive only when it changed, then runs the stock ``pyspark.daemon``.
Workers fork from it and inherit the guard.
"""

import importlib
import os
import zipimport

_reload = zipimport.zipimporter.invalidate_caches


def _reload_if_changed(self):
    try:
        st = os.stat(self.archive)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_stamp", None):
        _reload(self)
        self._stamp = stamp


def install():
    zipimport.zipimporter.invalidate_caches = _reload_if_changed


def main():
    from pyspark import daemon

    install()
    importlib.invalidate_caches()  # stamp the daemon's importers once
    daemon.manager()


if __name__ == "__main__":
    # run the named module's copy, so workers see its guard by that name
    from map_reduce_spark.pydaemon import main

    main()
