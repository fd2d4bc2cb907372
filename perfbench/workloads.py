"""The benchmark's workloads. Each one sets up (untimed by the run
clock but reported as ``setup_s``), then runs its operation closed-loop
with one client until ``seconds`` have passed, then checks every answer
against the oracle.

An ``InvertedIndex`` handle's caches are unsynchronized, so a handle
serves one caller at a time: one client, closed loop, ``local[4]``.
"""

from __future__ import annotations

import os
import random
import resource
import statistics
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from text_indexing_and_retrieval_system_spark import engine, querygen
from text_indexing_and_retrieval_system_spark.functions.normalize import (
    normalize_query_terms,
    normalize_to_tokens,
)
from text_indexing_and_retrieval_system_spark.operators.index_build import IndexBuildConfig
from text_indexing_and_retrieval_system_spark.sources.transcripts import (
    TRANSCRIPT_SCHEMA_DDL,
    generate_conversation,
    generate_transcripts,
    generate_transcripts_pandas,
)
from text_indexing_and_retrieval_system_spark.streaming import incremental as inc

from oracle_check import (
    LiveOracle,
    check_lexicon,
    ranked_equivalent,
    read_lexicon,
    same_answer,
    with_doc_ids,
)
from tracing import python_worker_cpu_s

K = 50
BATCH_QUERIES = 64
ADD_CONVS = 200
DELETE_TURNS = 50
BURST_QUERIES = 8
N_PROBES = 8
# bench.py's frequency pools (rank windows over the lexicon by df)
POOL_SPEC = querygen.PoolSpec(min_word_freq=3, high=(5, 60), mid=(61, 400), low=(401, 2400))
TRANSCRIPT_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


@dataclass
class Op:
    kind: str
    op_id: int
    cold: bool = False
    t0: float = 0.0  # epoch seconds
    t1: float = 0.0
    seconds: float = 0.0
    ok: bool = True
    info: dict = field(default_factory=dict)


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    query_seed: int
    seconds: float
    convs: int
    tracer: object | None = None
    ops: list[Op] = field(default_factory=list)
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    e2e: dict = field(default_factory=dict)
    e2e_extra: dict = field(default_factory=dict)  # the same figures under their workload's names
    setup_end: float = 0.0  # perf_counter at the end of set-up
    timed_end: float = 0.0  # ... and at the end of the timed region

    @property
    def traced(self) -> bool:
        return self.tracer is not None

    def run_op(self, kind: str, fn, cold: bool = False, cpu: bool = False, **info) -> Op:
        """Run one operation, timing it and recording it. An exception
        counts as a failed operation and the loop goes on."""
        op = Op(kind, len(self.ops), cold, info=info)
        self.ops.append(op)
        sc = self.spark.sparkContext
        if self.traced:
            sc.setJobGroup(f"op{op.op_id}", kind)
            if cpu:
                op.info["py_cpu0"] = python_worker_cpu_s()
        ctx = self.tracer.op(op.op_id, kind) if self.traced else nullcontext()
        op.t0 = time.time()
        t0 = time.perf_counter()
        try:
            with ctx:
                op.info["result"] = fn()
        except Exception:
            op.ok = False
            self.failed += 1
            self.errors.append(f"{kind} op {op.op_id}: {traceback.format_exc()}")
        op.seconds = time.perf_counter() - t0
        op.t1 = time.time()
        if self.traced:
            if cpu:
                op.info["py_cpu_s"] = python_worker_cpu_s() - op.info.pop("py_cpu0")
            sc.setLocalProperty("spark.jobGroup.id", None)
        return op

    def mismatch(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)

    def end_timed(self) -> float:
        """Close the timed region: remove the trace spans (oracle work is
        never traced) and return the driver's peak RSS so far in MB."""
        self.timed_end = time.perf_counter()
        if self.traced:
            self.tracer.uninstall()
        return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0

    def span(self, name: str):
        return self.tracer.span(name) if self.traced else nullcontext()

    def timed_loop(self, step) -> None:
        """Call ``step(i)`` until the run's seconds are spent (at least once)."""
        deadline = time.perf_counter() + self.seconds
        i = 0
        while i == 0 or time.perf_counter() < deadline:
            step(i)
            i += 1

    def ok_ops(self, kind: str, cold: bool | None = None) -> list[Op]:
        return [
            o for o in self.ops
            if o.kind == kind and o.ok and (cold is None or o.cold == cold)
        ]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith("."):
                total += os.path.getsize(os.path.join(root, f))
    return total


def median_ms(ops: list[Op]) -> float:
    return 1000.0 * statistics.median(o.seconds for o in ops)


# ----------------------------------------------------------------------
# inputs
# ----------------------------------------------------------------------


def cached_corpus(ctx: Ctx, spread: str):
    """Generated transcripts, materialized once: the build then reads a
    cached relation, as bench.py's does. Returns (df, turns, text bytes)."""
    tdf = generate_transcripts(ctx.spark, ctx.convs, seed=ctx.seed, spread=spread).persist()
    row = tdf.agg(F.count("*").alias("n"), F.sum(F.octet_length("text")).alias("b")).collect()[0]
    return tdf, int(row["n"]), int(row["b"])


def query_pools(index_dir: str) -> tuple[dict[str, list[str]], list[str]]:
    """bench.py's H/M/L pools from the index's own lexicon, plus the
    lexicon's terms by descending df. Rank windows shrink with the
    vocabulary so small corpora still fill every pool."""
    lex = pq.read_table(os.path.join(index_dir, "lexicon"), columns=["term", "df"]).to_pandas()
    lex = lex[lex["term"] != ""].sort_values(["df", "term"], ascending=[False, True])
    freqs = list(zip(lex["term"], lex["df"]))
    n_ok = sum(1 for _, d in freqs if d >= POOL_SPEC.min_word_freq)
    scale = min(1.0, n_ok / POOL_SPEC.low[1])
    spec = POOL_SPEC
    if scale < 1.0:
        cut = [max(int(b * scale), i + 1) for i, b in enumerate((5, 60, 61, 400, 401, 2400))]
        spec = querygen.PoolSpec(POOL_SPEC.min_word_freq, tuple(cut[0:2]), tuple(cut[2:4]), tuple(cut[4:6]))
    return querygen.pools_from_frequencies(freqs, spec), [t for t, _ in freqs]


def phrase_pairs(seed: int, spread: str, n_convs: int = 40) -> list[str]:
    """Two adjacent normalized tokens from documents of the corpus."""
    pdf = generate_transcripts_pandas(n_convs, seed=seed, spread=spread)
    pairs = []
    for toks in normalize_to_tokens(pdf["text"]):
        pairs.extend(f"{a} {b}" for a, b in zip(toks, toks[1:]))
    return sorted(set(pairs))


def interactive_stream(pools, terms, phrases, n: int, seed: int) -> list[str]:
    """The 15 templates, one query in eight a two-word PHRASE and one in
    eight a rare|rare|hot disjunction."""
    rng = random.Random(seed)
    templated = querygen.generate_queries(pools, n_queries=n, seed=seed)
    hot = terms[:5]
    rare = terms[len(terms) // 6 : len(terms)] or terms
    out = []
    for i, q in enumerate(templated):
        if i % 8 == 3:
            q = f'PHRASE "{rng.choice(phrases)}"'
        elif i % 8 == 7:
            q = f'"{rng.choice(rare)}" OR "{rng.choice(rare)}" OR "{rng.choice(hot)}"'
        out.append(q)
    return out


def new_conversations(seed: int, lo: int, hi: int, spread: str) -> pd.DataFrame:
    return pd.concat(
        [generate_conversation(i, seed, spread=spread) for i in range(lo, hi)],
        ignore_index=True,
    )


def build_index(ctx: Ctx, tdf, name: str, cfg: IndexBuildConfig, kind: str = "build"):
    path = os.path.join(ctx.work, name)
    op = ctx.run_op(
        kind,
        lambda: engine.build(ctx.spark, tdf, path, cfg, input_desc=f"perfbench-{ctx.seed}"),
        cpu=True,
        index_dir=path,
    )
    if not op.ok:
        raise RuntimeError(f"index build failed: {ctx.errors[-1]}")
    return op.info["result"], op


def run_query(ctx: Ctx, idx, q: str, cold: bool, kind: str = "query", **info) -> Op:
    if ctx.traced:
        idx.last_prune_stats = None
    op = ctx.run_op(kind, lambda: idx.search_collect(q, k=K), cold=cold, query=q, **info)
    if ctx.traced:
        op.info["prune"] = getattr(idx, "last_prune_stats", None)
    return op


def check_queries(ctx: Ctx, oracle, ops: list[Op]) -> None:
    for op in ops:
        if not op.ok:
            continue
        res = op.info["result"]
        if not same_answer(oracle, op.info["query"], res.docs, res.scores, K):
            ctx.mismatch(f"oracle mismatch: {op.info['query']!r}")


# ----------------------------------------------------------------------
# ingest
# ----------------------------------------------------------------------


def ingest(ctx: Ctx) -> None:
    """Repeated full builds of one uniform corpus; probe queries after
    each build on the fresh handle."""
    cfg = IndexBuildConfig(n_segment_chunks=2)  # bench.py's build configuration
    tdf, n_turns, text_bytes = cached_corpus(ctx, "uniform")
    # warm-up build: first-build JIT and Python-worker start-up
    warm, _ = build_index(ctx, tdf, "idx_warm", cfg, kind="setup_build")
    pools, terms = query_pools(warm.dir)
    probes = interactive_stream(pools, terms, phrase_pairs(ctx.seed, "uniform"), N_PROBES, ctx.query_seed)
    ctx.setup_end = time.perf_counter()

    def step(i: int) -> None:
        idx, op = build_index(ctx, tdf, f"idx_{i}", cfg)
        op.info["bytes"] = dir_bytes(idx.dir)
        for j, q in enumerate(probes):
            run_query(ctx, idx, q, cold=j == 0, build=op.op_id)

    ctx.timed_loop(step)
    rss = ctx.end_timed()

    builds = ctx.ok_ops("build")
    ctx.e2e = {
        "ops_per_s": n_turns / statistics.median(o.seconds for o in builds),
        "op_p50_ms": median_ms(builds),
        "cold_query_ms": median_ms(ctx.ok_ops("query", cold=True)),
        "driver_rss_mb": rss,
        "index_bytes_per_text_byte": statistics.median(o.info["bytes"] for o in builds) / text_bytes,
    }
    ctx.e2e_extra = {"build_turns_per_s": ctx.e2e["ops_per_s"], "n_turns": n_turns}

    # ---- oracle (untimed) ----
    oracle = LiveOracle.build(with_doc_ids(generate_transcripts_pandas(ctx.convs, seed=ctx.seed)))
    for op in builds:
        idx = op.info["result"]
        errs = check_lexicon(oracle, read_lexicon(idx.dir), idx.stats)
        if errs:
            ctx.mismatch(f"build {op.op_id}: " + "; ".join(errs))
        check_queries(ctx, oracle, [o for o in ctx.ok_ops("query") if o.info["build"] == op.op_id])
    ctx.e2e_extra["idf_ulp_terms"] = oracle.idf_ulp_terms
    tdf.unpersist()


# ----------------------------------------------------------------------
# query_batch
# ----------------------------------------------------------------------


def query_batch(ctx: Ctx) -> None:
    """Back-to-back search_batch calls of 64 fresh template queries."""
    tdf, _, text_bytes = cached_corpus(ctx, "realistic")
    idx, _ = build_index(ctx, tdf, "idx", IndexBuildConfig(n_segment_chunks=2), kind="setup_build")
    tdf.unpersist()
    pools, _ = query_pools(idx.dir)
    index_bytes = dir_bytes(idx.dir)

    def batch(i: int, cold: bool = False, kind: str = "batch") -> Op:
        nonlocal idx
        if cold:  # a freshly opened handle loads the lexicon and convmap
            idx = engine.load(ctx.spark, idx.dir)
        qs = querygen.generate_queries(pools, n_queries=BATCH_QUERIES, seed=ctx.query_seed * 7919 + i)
        timings: dict = {}
        return ctx.run_op(
            kind,
            lambda: idx.search_batch(qs, k=K, timings=timings),
            cold=cold,
            cpu=True,
            queries=qs,
            timings=timings,
        )

    # the first batch in the process pays the kernel path's JIT and
    # Python-worker start-up; cold_query_ms is the median of the next three
    batch(-4, kind="setup_batch")
    for i in (-3, -2, -1):
        batch(i, cold=True)
    ctx.setup_end = time.perf_counter()
    ctx.timed_loop(batch)
    rss = ctx.end_timed()

    warm = ctx.ok_ops("batch", cold=False)
    n_q = sum(len(set(o.info["queries"])) for o in warm)
    ctx.e2e = {
        "ops_per_s": n_q / sum(o.seconds for o in warm),
        "op_p50_ms": median_ms(warm),
        "cold_query_ms": median_ms(ctx.ok_ops("batch", cold=True)),
        "driver_rss_mb": rss,
        "index_bytes_per_text_byte": index_bytes / text_bytes,
    }
    ctx.e2e_extra = {"batch_qps": ctx.e2e["ops_per_s"], "batch_p50_s": ctx.e2e["op_p50_ms"] / 1000.0}

    # ---- oracle (untimed) ----
    oracle = LiveOracle.build(
        with_doc_ids(generate_transcripts_pandas(ctx.convs, seed=ctx.seed, spread="realistic"))
    )
    errs = check_lexicon(oracle, read_lexicon(idx.dir), idx.stats)
    if errs:
        ctx.mismatch("; ".join(errs))
    ctx.e2e_extra["idf_ulp_terms"] = oracle.idf_ulp_terms
    for op in ctx.ok_ops("setup_batch") + ctx.ok_ops("batch"):
        res = op.info["result"]
        for q in op.info["queries"]:
            if not same_answer(oracle, ranked_equivalent(q), res[q].docs, res[q].scores, K):
                ctx.mismatch(f"oracle mismatch (batch): {q!r}")


# ----------------------------------------------------------------------
# update_mix
# ----------------------------------------------------------------------


def update_mix(ctx: Ctx) -> None:
    """Cycles of add 200 conversations + delete 50 turns, refresh,
    reload, then a burst of interactive queries on the reloaded handle."""
    spread = "realistic"
    tdf, _, _ = cached_corpus(ctx, spread)
    idx, _ = build_index(ctx, tdf, "idx", IndexBuildConfig(n_segment_chunks=2), kind="setup_build")
    tdf.unpersist()
    pools, terms = query_pools(idx.dir)
    phrases = phrase_pairs(ctx.seed, spread)
    live = pq.read_table(os.path.join(idx.dir, "doclen"), columns=["doc_id"]).column(0).to_pylist()
    rng = random.Random(ctx.query_seed)
    # the first query after each reload has one fixed shape (hot OR rare,
    # both in the lexicon) so it always takes the full cold path: lexicon
    # load, block preload, convmap load
    def stable(ts):
        return next(t for t in ts if normalize_query_terms([t], idx.normalize_cfg)[0] == [t])

    cold_probe = f'"{stable(terms)}" OR "{stable(reversed(terms))}"'
    def cycle(c: int, warmup: bool = False) -> None:
        lo = ctx.convs + (c + 1) * ADD_CONVS
        new_pdf = new_conversations(ctx.seed, lo, lo + ADD_CONVS, spread)
        new_df = ctx.spark.createDataFrame(new_pdf[TRANSCRIPT_COLS], schema=TRANSCRIPT_SCHEMA_DDL)
        dels = rng.sample(live, DELETE_TURNS)

        def update():
            with ctx.span("incremental.add_documents"):
                inc.add_documents(ctx.spark, idx.dir, new_df)
            with ctx.span("incremental.delete_documents"):
                inc.delete_documents(ctx.spark, idx.dir, dels)
            with ctx.span("incremental.refresh_postings"):
                inc.refresh_postings(ctx.spark, idx.dir)
            with ctx.span("engine.reload"):
                idx.reload()
            return dict(idx.stats)

        op = ctx.run_op(
            "setup_cycle" if warmup else "cycle", update, cpu=True, new_pdf=new_pdf, dels=dels,
            added_text_bytes=int(new_pdf["text"].str.encode("utf-8").str.len().sum()),
        )
        if op.ok:  # the index's answer, read back for the oracle check
            op.info["lexicon"] = read_lexicon(idx.dir)
        dead = set(dels)
        live[:] = [d for d in live if d not in dead]
        live.extend(with_doc_ids(new_pdf)["doc_id"])
        stream = interactive_stream(pools, terms, phrases, BURST_QUERIES, ctx.query_seed * 7919 + c)
        for j, q in enumerate([cold_probe] + stream):
            run_query(ctx, idx, q, cold=j == 0, kind="setup_query" if warmup else "query", cycle=op.op_id)

    # one untimed cycle and burst: the first refresh and the first queries
    # in a process pay their JIT and Python-worker start-up
    cycle(-1, warmup=True)
    ctx.setup_end = time.perf_counter()
    ctx.timed_loop(cycle)
    rss = ctx.end_timed()
    index_bytes = dir_bytes(idx.dir)

    cycles = ctx.ok_ops("cycle")
    ctx.e2e = {
        # changes per second: a change is one conversation added or one
        # turn deleted (a fixed count per cycle, unlike added turns)
        "ops_per_s": len(cycles) * (ADD_CONVS + DELETE_TURNS) / sum(o.seconds for o in cycles),
        "op_p50_ms": median_ms(cycles),
        "cold_query_ms": median_ms(ctx.ok_ops("query", cold=True)),
        "driver_rss_mb": rss,
    }
    warm = ctx.ok_ops("query", cold=False)
    ctx.e2e_extra = {
        "refresh_s": ctx.e2e["op_p50_ms"] / 1000.0,
        "burst_query_p50_ms": median_ms(warm) if warm else 0.0,
    }

    # ---- oracle (untimed), replayed cycle by cycle ----
    base = with_doc_ids(generate_transcripts_pandas(ctx.convs, seed=ctx.seed, spread=spread))
    texts = dict(zip(base["doc_id"], base["text"]))
    oracle = LiveOracle.build(base)
    for op in ctx.ops:
        if op.kind not in ("setup_cycle", "cycle"):
            continue
        added = with_doc_ids(op.info["new_pdf"])
        texts.update(zip(added["doc_id"], added["text"]))
        oracle.add(added)
        oracle.delete(op.info["dels"], [texts[d] for d in op.info["dels"]])
        if not op.ok:
            continue
        errs = check_lexicon(oracle, op.info["lexicon"], op.info["result"])
        if errs:
            ctx.mismatch(f"cycle {op.op_id}: " + "; ".join(errs))
        check_queries(ctx, oracle, [o for o in ctx.ops if o.info.get("cycle") == op.op_id])
    ctx.e2e_extra["idf_ulp_terms"] = oracle.idf_ulp_terms
    live_bytes = sum(len(texts[d].encode("utf-8")) for d in oracle.doclen)
    ctx.e2e["index_bytes_per_text_byte"] = index_bytes / live_bytes


WORKLOADS = {"ingest": ingest, "query_batch": query_batch, "update_mix": update_mix}
