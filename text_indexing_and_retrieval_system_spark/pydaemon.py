"""The engine's PySpark worker daemon: Spark's own `pyspark.daemon`, with
the zipimport finders dropped between Python tasks.

PySpark 4.1's `worker_util.setup_spark_files` calls
`importlib.invalidate_caches()` at the start of every task. That call
reaches every finder in `sys.path_importer_cache`, and on Python 3.11 a
`zipimport.zipimporter` answers it by re-reading its archive's whole
central directory. A worker holds one such finder per package path it
has imported through an archive: 13 into `pyspark.zip`, 2 into the
spark-core jar and 1 into the py4j zip with PySpark 4.1.2, so on a
4-core x86 box each task spent 100-180 ms of CPU re-reading archives
before its UDF ran.

The cache entries are only a cache. A later import through an archive
makes a new finder, and the new finder takes the archive's directory
from zipimport's own cache without a re-read. So this daemon drops the
zipimporter entries once before it forks any worker, and again after
every task a worker runs; `invalidate_caches()` then finds none.

`session.get_spark` names this module as `spark.python.daemon.module`,
and Spark starts it as `python -m <module> <worker module>`, as it
starts `pyspark.daemon`.
"""

from __future__ import annotations

import sys
import zipimport


def drop_zip_finders() -> int:
    """Remove every zipimporter from `sys.path_importer_cache`; returns
    how many there were."""
    cache = sys.path_importer_cache
    stale = [path for path, finder in cache.items() if isinstance(finder, zipimport.zipimporter)]
    for path in stale:
        del cache[path]
    return len(stale)


def _dropping_finders(worker_main):
    def main(infile, outfile):
        try:
            return worker_main(infile, outfile)
        finally:
            drop_zip_finders()

    return main


def main() -> None:
    # pyspark.daemon picks its worker module from sys.argv at import,
    # and its worker() looks `worker_main` up as a module global per task
    from pyspark import daemon

    daemon.worker_main = _dropping_finders(daemon.worker_main)
    drop_zip_finders()
    daemon.manager()


if __name__ == "__main__":
    main()
