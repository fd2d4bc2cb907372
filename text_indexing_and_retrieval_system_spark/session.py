"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the local[$SPARK_GRAFT_CPUS] sandbox but expressed so
the same settings make sense on a 1000-executor cluster: AQE on (runtime
skew-join + partition coalescing), Arrow for every Python boundary (the
build's and the query kernel's mapInArrow stages, and toPandas /
createDataFrame from pandas), shuffle partitions sized to the parallelism.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "tirs-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32),
    so ``master=None`` does not defer to spark-submit. Clusters run
    ``scripts/submit_*.py``, which build their own session from the
    spark-submit environment and keep Spark's default Python daemon.

    Python workers start from the engine's daemon (``pydaemon``), which
    keeps each task from re-reading Spark's zip archives.
    """
    # make this package importable in executor Python workers regardless of
    # the caller's cwd (local mode inherits the driver env; on a cluster use
    # spark-submit --py-files with a zip of this package instead)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + pypath if pypath else "")
        )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # one shuffle partition per core locally; on a cluster this should
        # be ~2-3x total cores — callers override via extra_conf.
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        .config("spark.sql.parquet.filterPushdown", "true")
        # keep large IN-lists as exact per-row-group filters (query terms)
        .config("spark.sql.parquet.pushdown.inFilterThreshold", "1000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.python.daemon.module", "text_indexing_and_retrieval_system_spark.pydaemon")
    )
    # shuffle/spill scratch: prefer RAM-backed storage when available —
    # the sandbox has one virtio disk whose IOPS serialize concurrent
    # writers (a real cluster node has NVMe arrays)
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/tirs-spark-local"
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

