"""The engine's pyspark daemon: Spark's own, with zip archives re-read
only when they change on disk.

Spark's worker calls ``importlib.invalidate_caches()`` at the start of
every Python task (``pyspark.worker_util.setup_spark_files``). Before
CPython 3.13 every ``zipimport.zipimporter`` answers by re-parsing its
archive's whole central directory, and a worker holds 16 of them (over
``pyspark.zip``, the py4j zip and the spark-core jar). The wrapper below
re-reads an archive only when its (inode, size, mtime) differs from the
one that importer saw at its last re-read; an importer's first call
always re-reads. ``session.get_session`` sets this module as
``spark.python.daemon.module``; workers fork from the daemon, so every
Python task runs with the wrapper.
"""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    try:
        st = os.stat(self.archive)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    if stamp is None or getattr(self, "_read_stamp", None) != stamp:
        _reread(self)
        self._read_stamp = stamp


def main() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    # Run with -m, this file is __main__; install the wrapper from the
    # module's importable name, which is what tasks then report.
    from oeem_etl_spark.worker_daemon import main

    main()
