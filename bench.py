"""Benchmark harness — prints ONE JSON line with per-query seconds.

Covers the two headline phases of BASELINE.json's metric:
  1. index-build throughput (turns/sec): synthetic transcript corpus →
     full resumable index build (tokenize, segments, blocks, lexicon)
  2. query throughput (q/s): generated boolean/BM25 query batch against
     the built index
plus the operator suite over the driver testdata at $SPARK_GRAFT_SF_DIR
(fulltext, dedup, similarity, text-analysis, relational).

The N→4N scaling pair (local[1] vs local[4] on perfbench's ingest and
query_batch workloads) is produced by scripts/scaling_pair.py.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def preflight_load_check(max_load_per_core: float = 0.25) -> None:
    """Warn loudly when the box is not idle — a contaminated run cost
    round 3 its round-over-round story (BENCH_r03 apparent regression
    was a verification job overlapping the bench). Warn-only: the driver
    runs this unattended, so bailing would drop the round's artifact."""
    try:
        load1 = os.getloadavg()[0]
        ncpu = os.cpu_count() or 1
    except OSError:
        return
    if load1 > max_load_per_core * ncpu:
        print(
            f"WARNING: loadavg {load1:.1f} on {ncpu} cpus — box is not idle; "
            "bench numbers will be contaminated. Re-run when quiet.",
            file=sys.stderr,
        )


SUITE = [
    "bm25_topk", "tfidf_topk", "bool_and", "bool_or_not", "phrase_match",
    "word_freq_top50", "term_stats", "dedup_exact", "minhash_signatures",
    "lsh_candidate_pairs", "simhash", "quality_scores", "langid",
    "cosine_topk", "ann_topk_ivf", "embedding_neardup",
    "multimodal_features", "stem_snowball_top50", "pricing_summary",
    "revenue_by_nation", "events_hourly",
]


def warm_build(spark) -> None:
    """Untimed build + queries that pay the index pipeline's one-time JVM
    costs (whole-stage codegen, JIT of the shuffle/sort/parquet-writer
    paths, Python-worker start-up). Measured: the first build in a fresh
    process runs 2-4x its steady state (18 s vs 4.6 s at the sf0.1 bench
    geometry; successive builds converge 8.5 -> 6.4 -> 4.8 -> 4.0 as C2
    JIT tiers kick in). The corpus must be big enough to reach tiered
    compilation of the hot loops: after a 1500-conversation warm the
    first full-size build took 5.5 s, after a 100-conversation one 8.5 s."""
    import pyspark.sql.functions as F

    from text_indexing_and_retrieval_system_spark import engine
    from text_indexing_and_retrieval_system_spark.operators.index_build import (
        IndexBuildConfig,
    )
    from text_indexing_and_retrieval_system_spark.sources.transcripts import (
        generate_transcripts,
    )

    tmp = tempfile.mkdtemp(prefix="tirs_warm_build_")
    try:
        idx = engine.build(
            spark,
            generate_transcripts(spark, 1500, seed=7),
            os.path.join(tmp, "idx"),
            IndexBuildConfig(n_segment_chunks=1),
            input_desc="warmup",
        )
        terms = [
            r["term"]
            for r in spark.read.parquet(os.path.join(tmp, "idx", "lexicon"))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(3)
            .collect()
        ]
        idx.search_collect(f'"{terms[0]}" OR "{terms[1]}"', k=5)
        idx.search_batch([f'"{terms[0]}"', f'"{terms[1]}" OR "{terms[2]}"'], k=5)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> None:
    preflight_load_check()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = 0.1
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from text_indexing_and_retrieval_system_spark.session import get_spark

    spark = get_spark(app_name="tirs-bench", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 16))
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    # untimed warm passes (a failure raises: the timed run would fail on
    # the same entry). Spark's codegen cache is keyed on generated source,
    # so running every suite entry once over the smallest same-schema
    # testdata compiles the plans each first timed execution would
    # otherwise pay for (measured 2-3x first-vs-steady on the
    # expression-heavy entries, e.g. lsh_candidate_pairs 2.3 s cold vs
    # 0.96 s steady at sf0.1)
    queries = entry_mod.queries()
    warm_build(spark)
    warm_dir = os.path.join(os.path.dirname(os.path.normpath(sf_dir)), "sf0.001")
    for name in SUITE:
        queries[name](spark, warm_dir).count()

    timings: dict[str, float] = {}
    extra: dict[str, float] = {}

    def timed(name: str, fn):
        t0 = time.time()
        out = fn()
        timings[name] = round(time.time() - t0, 3)
        return out

    # ---- operator suite over driver testdata ----
    # untimed JIT warmup: first execution of the tokenize expression
    # pipeline pays ~3-4 s of JVM codegen/JIT that every later query
    # skips; measured queries should reflect steady state. entry() (same
    # ranked shape at sf0.001) warms the scoring-expression codegen.
    queries["token_counts"](spark, sf_dir).count()
    entry_mod.entry(spark).count()
    for name in SUITE:
        timed(name, lambda n=name: queries[n](spark, sf_dir).count())

    # ---- index build + query batch on transcripts ----
    from text_indexing_and_retrieval_system_spark import engine, querygen
    from text_indexing_and_retrieval_system_spark.operators.index_build import (
        IndexBuildConfig,
    )
    from text_indexing_and_retrieval_system_spark.sources.transcripts import (
        generate_transcripts,
    )

    n_convs = max(int(8000 * sf / 0.1), 200)
    tmp = tempfile.mkdtemp(prefix="tirs_bench_idx_")
    try:
        tdf = generate_transcripts(spark, n_convs, seed=42)
        tdf = tdf.persist()
        n_turns = tdf.count()
        t0 = time.time()
        idx = engine.build(
            spark,
            tdf,
            os.path.join(tmp, "idx"),
            IndexBuildConfig(n_segment_chunks=2),
            input_desc=f"bench-{n_convs}",
        )
        build_sec = time.time() - t0
        timings["index_build"] = round(build_sec, 3)
        extra["n_turns"] = n_turns
        extra["index_build_turns_per_sec"] = round(n_turns / build_sec, 1)

        # query batch: frequency pools from the lexicon, 30 queries
        import pyspark.sql.functions as F

        lex = (
            spark.read.parquet(os.path.join(tmp, "idx", "lexicon"))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(2500)
            .toPandas()
        )
        freqs = list(zip(lex["term"], lex["df"]))
        pools = querygen.pools_from_frequencies(
            freqs,
            querygen.PoolSpec(min_word_freq=3, high=(5, 60), mid=(61, 400), low=(401, 2400)),
        )
        qs = querygen.generate_queries(pools, n_queries=64, seed=11)
        idx.search_batch(qs[:4], k=50)  # warm-up
        t0 = time.time()
        res = idx.search_batch(qs, k=50)
        query_sec = time.time() - t0
        timings["query_batch_64"] = round(query_sec, 3)
        extra["query_qps"] = round(len(qs) / query_sec, 2)
        extra["query_hits"] = sum(len(r.docs) for r in res.values())
        # interactive latency: 5 sequential boolean/phrase queries on the
        # set-evaluation kernel
        bool_qs = qs[:5]
        idx.search_collect(bool_qs[0], k=50)  # warm the kernel path
        lat = []
        t0 = time.time()
        for qtext in bool_qs:
            t1 = time.time()
            idx.search_collect(qtext, k=50)
            lat.append(round(time.time() - t1, 3))
        timings["boolean_5_sequential"] = round(time.time() - t0, 3)
        extra["boolean_latency_per_query"] = lat

        # 16 sequential rare|rare|hot disjunctions (high-idf terms fill
        # the top-k next to one hot term), each on the set-evaluation
        # kernel. The kernel decodes every block of a query's terms, so
        # the block keys, counted after the timed loop from the lexicon's
        # n_blocks, report decoded == total and a skip rate of 0.0.
        import random

        rnd = random.Random(5)
        hot = [t for t in lex["term"][:5] if t]
        rare = [t for t in lex["term"][400:2400] if t]
        picks = [(rnd.choice(rare), rnd.choice(rare), rnd.choice(hot)) for _ in range(16)]
        wq = [" OR ".join(f'"{t}"' for t in p) for p in picks]
        t0 = time.time()
        for qtext in wq:
            idx.search_collect(qtext, k=10)
        timings["wand_16_sequential"] = round(time.time() - t0, 3)
        tot = sum(int(idx.lexicon_for(sorted(set(p)))["n_blocks"].sum()) for p in picks)
        extra["wand_blocks_total"] = tot
        extra["wand_blocks_decoded"] = tot
        extra["wand_block_skip_rate"] = 0.0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "tirs_spark_suite_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "extra": extra,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
