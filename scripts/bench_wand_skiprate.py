"""WAND/MaxScore pruning payoff at corpus scale (VERDICT r2 item 3).

Runs the interactive wand path (topk_disjunctive, MaxScore block
skipping + certified cross-bucket theta seeds) for N sequential
free-text queries against the pre-staged 4.84M-turn index and reports:
  - blocks scanned vs decoded (skip rate), via Spark accumulators
  - per-query latency (first-run and steady-state)

Usage: python scripts/bench_wand_skiprate.py [cores] [n_queries]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

STAGE = os.environ.get("TIRS_STAGE", "/dev/shm/tirs_phase_stage/768000")  # size-keyed since round 6


def main(cores: int, n_queries: int) -> None:
    import pyspark.sql.functions as F

    from text_indexing_and_retrieval_system_spark import engine, querygen
    from text_indexing_and_retrieval_system_spark.session import (
        get_spark,
        warm_python_workers,
    )

    spark = get_spark(
        app_name=f"tirs-wand-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=int(os.environ.get("SCALE_SHUFFLE", 128)),
    )
    spark.sparkContext.setLogLevel("ERROR")
    warm_python_workers(spark)
    idx = engine.load(spark, os.path.join(STAGE, "idx"))
    lex = (
        spark.read.parquet(os.path.join(STAGE, "idx", "lexicon"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(3000)
        .toPandas()
    )
    pools = querygen.pools_from_frequencies(
        list(zip(lex["term"], lex["df"])),
        querygen.PoolSpec(min_word_freq=3, high=(5, 60), mid=(61, 400), low=(401, 2800)),
    )
    # pure free-text disjunctions (the wand route): 2-4 terms drawn from
    # the same H/M/L df pools the template generator uses
    import random

    rng = random.Random(19)
    vocab = [
        w
        for key in ("H", "M", "L")
        for w in pools[key]
        if w.isalnum() and w.upper() not in ("AND", "OR", "NOT")
    ]
    qs = [
        " OR ".join(f'"{w}"' for w in rng.sample(vocab, rng.randint(2, 4)))
        for _ in range(n_queries)
    ]

    def run_pass(queries):
        lat, tot, dec = [], 0, 0
        for q in queries:
            t0 = time.time()
            idx.search_collect(q, k=50)
            lat.append(time.time() - t0)
            tot += idx.last_prune_stats["blocks_total"]
            dec += idx.last_prune_stats["blocks_decoded"]
        return lat, tot, dec

    lat1, tot1, dec1 = run_pass(qs)  # first pass: seeds fill as buckets score
    lat2, tot2, dec2 = run_pass(qs)  # warm pass: certified seeds pre-loaded

    # the query shape where block skipping pays: a rare high-idf term OR
    # a very common low-idf term — the rare term's hits set theta above
    # the common term's flat block bounds, so its blocks skip wholesale
    full_lex = (
        spark.read.parquet(os.path.join(STAGE, "idx", "lexicon"))
        .select("term", "df")
        .toPandas()
    )
    rare = list(
        full_lex[(full_lex["df"] >= 2000) & (full_lex["df"] <= 6000)]["term"].head(64)
    )
    common = list(full_lex.nlargest(32, "df")["term"])
    skew_qs = [
        f'"{rng.choice(rare)}" OR "{rng.choice(common)}"' for _ in range(n_queries)
    ]
    def run_pass_k(queries, k):
        lat, tot, dec = [], 0, 0
        for q in queries:
            t0 = time.time()
            idx.search_collect(q, k=k)
            lat.append(time.time() - t0)
            tot += idx.last_prune_stats["blocks_total"]
            dec += idx.last_prune_stats["blocks_decoded"]
        return lat, tot, dec

    # k=10: theta (the per-bucket kth) must clear the common term's tie
    # plateau for blocks to skip — needs >=k rare-term hits per bucket
    lat3, tot3, dec3 = run_pass_k(skew_qs, 10)

    # block-bound flatness: why uniform pool queries cannot skip — the
    # p99/p50 ratio of per-block upper bounds within a term's postings
    import numpy as np

    bl = (
        idx.blocks_for(sorted(rng.sample(vocab, 24)))
        .select("term", F.col("block_max_impact").alias("bound"))
        .toPandas()
    )
    ratios = [
        float(np.percentile(g["bound"], 99) / np.percentile(g["bound"], 50))
        for _, g in bl.groupby("term")
        if len(g) >= 20
    ]

    out = {
        "cores": cores,
        "n_turns": idx.stats["n_docs"],
        "n_queries": len(qs),
        "first_pass": {
            "blocks_scanned": tot1,
            "blocks_decoded": dec1,
            "skip_rate": round(1 - dec1 / max(tot1, 1), 4),
            "lat_avg_s": round(sum(lat1) / len(lat1), 3),
        },
        "warm_pass": {
            "blocks_scanned": tot2,
            "blocks_decoded": dec2,
            "skip_rate": round(1 - dec2 / max(tot2, 1), 4),
            "lat_avg_s": round(sum(lat2) / len(lat2), 3),
            "lat_p95_s": round(sorted(lat2)[int(0.95 * len(lat2))], 3),
        },
        "skewed_rare_or_common": {
            "blocks_scanned": tot3,
            "blocks_decoded": dec3,
            "skip_rate": round(1 - dec3 / max(tot3, 1), 4),
            "lat_avg_s": round(sum(lat3) / len(lat3), 3),
        },
        "block_bound_p99_over_p50": round(
            float(np.mean(ratios)) if ratios else float("nan"), 4
        ),
    }
    print(json.dumps(out))
    spark.stop()


REALISTIC_DIR = "/dev/shm/tirs_r4_realistic"


def main_realistic(cores: int, n_convs: int, n_queries: int = 32) -> None:
    """Skip-rate payoff on STANDARD pool queries over the realistic-
    spread corpus (VERDICT r3 next-#4): era-drifted doc lengths +
    bursty tf give non-flat per-block bounds, and the per-block BMW
    check (wand.score_bucket_pruned) turns them into whole-block skips.
    Builds (and caches) the index at `n_convs` conversations (160k
    convs ~= 1.01M turns), then reports skip rate and latency."""
    import random

    import numpy as np
    import pyspark.sql.functions as F

    from text_indexing_and_retrieval_system_spark import engine, querygen
    from text_indexing_and_retrieval_system_spark.operators.index_build import (
        IndexBuildConfig,
    )
    from text_indexing_and_retrieval_system_spark.session import (
        get_spark,
        warm_python_workers,
    )
    from text_indexing_and_retrieval_system_spark.sources.transcripts import (
        generate_transcripts,
    )

    spark = get_spark(
        app_name=f"tirs-wand-real-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=64,
    )
    spark.sparkContext.setLogLevel("ERROR")
    warm_python_workers(spark)
    d = os.path.join(REALISTIC_DIR, f"idx_{n_convs}")
    build_sec = None
    if not os.path.exists(os.path.join(d, "stats.json")):
        tdf = generate_transcripts(spark, n_convs, seed=42, spread="realistic").persist()
        tdf.count()
        t0 = time.time()
        engine.build(
            spark, tdf, d, IndexBuildConfig(n_segment_chunks=4),
            input_desc=f"realistic-{n_convs}",
        )
        build_sec = round(time.time() - t0, 1)
        tdf.unpersist()
    idx = engine.load(spark, d)
    lex = (
        spark.read.parquet(os.path.join(d, "lexicon"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(3000)
        .toPandas()
    )
    pools = querygen.pools_from_frequencies(
        list(zip(lex["term"], lex["df"])),
        querygen.PoolSpec(min_word_freq=3, high=(5, 60), mid=(61, 400), low=(401, 2800)),
    )
    rng = random.Random(19)
    vocab = [
        w
        for key in ("H", "M", "L")
        for w in pools[key]
        if w.isalnum() and w.upper() not in ("AND", "OR", "NOT")
    ]
    qs = [
        " OR ".join(f'"{w}"' for w in rng.sample(vocab, rng.randint(2, 4)))
        for _ in range(n_queries)
    ]

    def run_pass(k):
        lat, tot, dec = [], 0, 0
        for q in qs:
            t0 = time.time()
            idx.search_collect(q, k=k)
            lat.append(time.time() - t0)
            tot += idx.last_prune_stats["blocks_total"]
            dec += idx.last_prune_stats["blocks_decoded"]
        return lat, tot, dec

    run_pass(10)  # cold pass: block fetch + theta fill
    lat10, tot10, dec10 = run_pass(10)
    lat50, tot50, dec50 = run_pass(50)

    bl = (
        idx.blocks_for(sorted(rng.sample(vocab, 24)))
        .select("term", F.col("block_max_impact").alias("b"))
        .toPandas()
    )
    ratios = [
        float(np.percentile(g["b"], 99) / np.percentile(g["b"], 50))
        for _, g in bl.groupby("term")
        if len(g) >= 10
    ]
    out = {
        "mode": "realistic_spread_pool_queries",
        "cores": cores,
        "n_turns": idx.stats["n_docs"],
        "n_queries": n_queries,
        "build_sec": build_sec,
        "k10": {
            "skip_rate": round(1 - dec10 / max(tot10, 1), 4),
            "blocks_scanned": tot10,
            "blocks_decoded": dec10,
            "lat_avg_s": round(sum(lat10) / len(lat10), 4),
        },
        "k50": {
            "skip_rate": round(1 - dec50 / max(tot50, 1), 4),
            "blocks_scanned": tot50,
            "blocks_decoded": dec50,
            "lat_avg_s": round(sum(lat50) / len(lat50), 4),
        },
        "block_bound_p99_over_p50_median": round(
            float(np.median(ratios)) if ratios else float("nan"), 3
        ),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--realistic":
        main_realistic(
            int(sys.argv[2]) if len(sys.argv) > 2 else 32,
            int(sys.argv[3]) if len(sys.argv) > 3 else 160000,
        )
    else:
        main(
            int(sys.argv[1]) if len(sys.argv) > 1 else 8,
            int(sys.argv[2]) if len(sys.argv) > 2 else 16,
        )
