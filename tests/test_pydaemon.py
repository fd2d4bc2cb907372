"""The engine's PySpark daemon (pydaemon): a reused Python worker starts
each task with no zipimport finder cached, so PySpark's per-task
`importlib.invalidate_caches()` re-reads no zip archive."""

import os
import sys
import zipimport

import pyarrow as pa

from text_indexing_and_retrieval_system_spark import pydaemon


def _zip_finders() -> int:
    return sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())


def test_drop_zip_finders_keeps_other_finders():
    cache = sys.path_importer_cache
    fake = "/nonexistent/tirs-test.zip"
    kept = {p: f for p, f in cache.items() if not isinstance(f, zipimport.zipimporter)}
    cache[fake] = zipimport.zipimporter.__new__(zipimport.zipimporter)
    assert pydaemon.drop_zip_finders() >= 1
    assert fake not in cache and _zip_finders() == 0
    assert all(cache.get(p) is f for p, f in kept.items())


def test_reused_worker_starts_tasks_without_zip_finders(spark):
    """Two 8-task mapInArrow jobs: every worker that ran a task of the
    first job starts its tasks of the second with no zipimporter in
    sys.path_importer_cache (Spark's stock daemon leaves 16 there)."""

    def probe(batches):
        n = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"pid": pa.array([os.getpid()], pa.int64()), "zip_finders": pa.array([n], pa.int64())}
        )

    def job():
        rows = spark.range(8, numPartitions=8).mapInArrow(probe, "pid long, zip_finders long")
        return [(r.pid, r.zip_finders) for r in rows.collect()]

    first_pids = {pid for pid, _ in job()}
    reused = [(pid, n) for pid, n in job() if pid in first_pids]
    assert reused
    assert all(n == 0 for _, n in reused), reused
