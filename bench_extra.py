"""Round-6 optimization instrumentation. bench.py is FROZEN for
measurement; every extra measurement (noop-sink isolation per guide
§1.4, per-entry repeats, index-build stage decomposition, plan capture)
lives here instead.

Usage:
    python bench_extra.py suite [N]      # suite entries, min of N repeats
    python bench_extra.py noop  [N]      # same but noop sink (no count())
    python bench_extra.py build [N]      # bench-shaped index build + per-
                                         # stage manifest seconds
    python bench_extra.py queryphase     # wand_16 / boolean_5 / batch_64
                                         # decomposition on a fresh index
    python bench_extra.py explain <tag>  # .explain("formatted") of every
                                         # suite query -> plans/r06/*_<tag>.txt
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

SUITE = [
    "bm25_topk", "tfidf_topk", "bool_and", "bool_or_not", "phrase_match",
    "word_freq_top50", "term_stats", "dedup_exact", "minhash_signatures",
    "lsh_candidate_pairs", "simhash", "quality_scores", "langid",
    "cosine_topk", "ann_topk_ivf", "embedding_neardup",
    "multimodal_features", "stem_snowball_top50", "pricing_summary",
    "revenue_by_nation", "events_hourly",
]


def get_session():
    from text_indexing_and_retrieval_system_spark.session import (
        get_spark,
        warm_python_workers,
    )

    spark = get_spark(app_name="tirs-bench-extra", master=f"local[{CPUS}]",
                      shuffle_partitions=max(CPUS, 16))
    spark.sparkContext.setLogLevel("ERROR")
    warm_python_workers(spark)
    return spark


def warmup(spark, entry_mod):
    queries = entry_mod.queries()
    queries["token_counts"](spark, SF_DIR).count()
    entry_mod.entry(spark).count()
    return queries


def run_suite(sink: str, repeats: int) -> None:
    spark = get_session()
    import __spark_entry__ as entry_mod

    queries = warmup(spark, entry_mod)
    out: dict[str, list[float]] = {}
    for _ in range(repeats):
        for name in SUITE:
            spark.sparkContext.setJobDescription(name)
            t0 = time.time()
            df = queries[name](spark, SF_DIR)
            if sink == "noop":
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            out.setdefault(name, []).append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
    mins = {k: min(v) for k, v in out.items()}
    print(json.dumps({"sink": sink, "mins": mins,
                      "total_min": round(sum(mins.values()), 3),
                      "samples": out}))
    spark.stop()


def run_build(repeats: int) -> None:
    spark = get_session()
    import __spark_entry__ as entry_mod  # noqa: F401  (ships pkg zip)

    from text_indexing_and_retrieval_system_spark import engine
    from text_indexing_and_retrieval_system_spark.operators.index_build import (
        IndexBuildConfig,
    )
    from text_indexing_and_retrieval_system_spark.operators.segments import Manifests
    from text_indexing_and_retrieval_system_spark.sources.transcripts import (
        generate_transcripts,
    )

    sf = float(os.path.basename(SF_DIR.rstrip("/")).replace("sf", ""))
    n_convs = max(int(8000 * sf / 0.1), 200)
    tdf = generate_transcripts(spark, n_convs, seed=42).persist()
    tdf.count()
    for r in range(repeats):
        tmp = tempfile.mkdtemp(prefix="tirs_bx_idx_")
        try:
            t0 = time.time()
            engine.build(
                spark, tdf, os.path.join(tmp, "idx"),
                IndexBuildConfig(n_segment_chunks=2),
                input_desc=f"bench-{n_convs}",
            )
            total = round(time.time() - t0, 3)
            man = Manifests(os.path.join(tmp, "idx"))
            stages = {}
            for fn in sorted(os.listdir(man.dir)):
                unit = fn[:-5]
                info = man.read(unit)
                if info and "seconds" in info:
                    stages[unit] = round(float(info["seconds"]), 3)
            print(json.dumps({"repeat": r, "build_total": total,
                              "stages": stages}))
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()


def run_queryphase() -> None:
    """Rebuild the bench index once, then time the three query entries
    with per-query breakdown."""
    spark = get_session()
    import random

    import pyspark.sql.functions as F

    import __spark_entry__ as entry_mod  # noqa: F401

    from text_indexing_and_retrieval_system_spark import engine, querygen
    from text_indexing_and_retrieval_system_spark.operators.index_build import (
        IndexBuildConfig,
    )
    from text_indexing_and_retrieval_system_spark.sources.transcripts import (
        generate_transcripts,
    )

    sf = float(os.path.basename(SF_DIR.rstrip("/")).replace("sf", ""))
    n_convs = max(int(8000 * sf / 0.1), 200)
    tmp = tempfile.mkdtemp(prefix="tirs_bx_qp_")
    try:
        tdf = generate_transcripts(spark, n_convs, seed=42).persist()
        tdf.count()
        idx = engine.build(spark, tdf, os.path.join(tmp, "idx"),
                           IndexBuildConfig(n_segment_chunks=2),
                           input_desc=f"bench-{n_convs}")
        lex = (
            spark.read.parquet(os.path.join(tmp, "idx", "lexicon"))
            .orderBy(F.desc("df"), F.asc("term")).limit(2500).toPandas()
        )
        freqs = list(zip(lex["term"], lex["df"]))
        pools = querygen.pools_from_frequencies(
            freqs, querygen.PoolSpec(min_word_freq=3, high=(5, 60),
                                     mid=(61, 400), low=(401, 2400)),
        )
        qs = querygen.generate_queries(pools, n_queries=64, seed=11)
        idx.search_batch(qs[:4], k=50)
        timings: dict = {}
        t0 = time.time()
        idx.search_batch(qs, k=50, timings=timings)
        print(json.dumps({"query_batch_64": round(time.time() - t0, 3),
                          "phases": {k: round(v, 3) for k, v in timings.items()}}))
        bool_qs = qs[:5]
        idx.search_collect(bool_qs[0], k=50)
        lat = []
        t0 = time.time()
        for q in bool_qs:
            t1 = time.time()
            idx.search_collect(q, k=50)
            lat.append(round(time.time() - t1, 3))
        print(json.dumps({"boolean_5_sequential": round(time.time() - t0, 3),
                          "lat": lat}))
        rnd = random.Random(5)
        hot = [t for t in lex["term"][:5] if t]
        rare = [t for t in lex["term"][400:2400] if t]
        wq = [f'"{rnd.choice(rare)}" OR "{rnd.choice(rare)}" OR "{rnd.choice(hot)}"'
              for _ in range(16)]
        lat = []
        t0 = time.time()
        for q in wq:
            t1 = time.time()
            idx.search_collect(q, k=10)
            lat.append(round(time.time() - t1, 3))
        print(json.dumps({"wand_16_sequential": round(time.time() - t0, 3),
                          "lat": lat}))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()


def run_explain(tag: str) -> None:
    spark = get_session()
    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    outdir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "plans", "r06")
    os.makedirs(outdir, exist_ok=True)
    import contextlib
    import io

    for name in sorted(queries):
        try:
            df = queries[name](spark, SF_DIR)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception as e:  # plan capture must not kill the sweep
            plan = f"EXPLAIN FAILED: {e}"
        with open(os.path.join(outdir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
    print(f"wrote plans to {outdir} tag={tag}")
    spark.stop()


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "suite"
    if cmd == "suite":
        run_suite("count", int(sys.argv[2]) if len(sys.argv) > 2 else 2)
    elif cmd == "noop":
        run_suite("noop", int(sys.argv[2]) if len(sys.argv) > 2 else 2)
    elif cmd == "build":
        run_build(int(sys.argv[2]) if len(sys.argv) > 2 else 2)
    elif cmd == "queryphase":
        run_queryphase()
    elif cmd == "explain":
        run_explain(sys.argv[2] if len(sys.argv) > 2 else "before")
    else:
        raise SystemExit(f"unknown command {cmd}")
