"""Resumable, manifest-checkpointed index build orchestration, and the
one place that knows how each index table is derived and laid out.

The reference's only "update" story is delete + full rebuild
(`/root/reference/code/indexes/index_custom.py:654-750`). Here every
build stage — and every stage-1 *chunk* (a contiguous conversation
range) — writes to its own directory and records a JSON manifest with
lineage (input, config hash, conv range), row counts, and wall time.
A restarted build skips every manifest-complete unit recorded under its
own config hash (and refuses one recorded under another), so a build
killed mid-way resumes from the last finished chunk and produces an
identical index (verified by tests/test_resume.py).

Stages 2-3 (doclen, stats, postings, lexicon) have one derivation,
`derive_tables`, run once over all segments: the build calls it after
its chunk loop, and `streaming/incremental.py`'s refresh calls it over
the grown, tombstone-filtered segment set. Posting rows therefore never
depend on the chunk count, and a refresh rewrites what a build of the
same live docs writes.

On-disk layout (parquet-catalog fallback for Iceberg — see
sources/catalog.py for the seam):

    index_dir/
      _manifests/<unit>.json
      convmap/              stage0: conv_id -> dense conv_int
      segments/chunk=<i>/   stage1: (doc_id_int, term, tf, dl, positions)
      doclen/               stage2: doc_id_int, doc_id, dl
      stats.json            stage2: n_docs, avgdl, total_tokens, n_convs
      postings/bucket=<b>/  stage3: compressed blocks, term-bucketed,
                            sorted by (term, first_doc) within files
      lexicon/              stage3: term, df, cf, idf, n_blocks
      docs/chunk=<i>/       stage4: doc store for hydration (per-chunk,
                            written FIRST in each pipeline; stage 1
                            tokenizes from it, so raw input is scanned
                            exactly once per build)
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.normalize import NormalizeConfig
from ..sources.provider import ParquetDirProvider, TableProvider
from . import index_build as ib
from . import wand
from .index_build import IndexBuildConfig

# hydration-store column contract (stage 4 / docs/): readers select these
# explicitly so the inferred `chunk=` partition column never leaks out
DOC_COLS = ("doc_id_int", "doc_id", "conv_id", "turn_idx", "role", "text", "tool", "ts")


def term_bucket_py(term: str, n_buckets: int) -> int:
    """md5-prefix bucket — identical in Python and Spark SQL so the query
    side can prune partition directories for a term without a lookup."""
    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:8], 16) % n_buckets


def term_bucket_col(col, n_buckets: int):
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % n_buckets
    ).cast("int")


def parquet_num_rows(path: str) -> int:
    """Row count from parquet footers — no Spark job. Local-FS only (the
    cluster path swaps in the catalog's snapshot summary)."""
    import glob as globmod

    import pyarrow.parquet as pq

    total = 0
    for f in globmod.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        total += pq.ParquetFile(f).metadata.num_rows
    return total


def write_json(path: str, payload: dict) -> None:
    """Replace a JSON file atomically (tmp file + rename): a write that
    fails part-way leaves the previous version readable."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f, indent=2, default=str)
    os.replace(tmp, path)


class Manifests:
    def __init__(self, index_dir: str):
        self.dir = os.path.join(index_dir, "_manifests")
        os.makedirs(self.dir, exist_ok=True)

    def path(self, unit: str) -> str:
        return os.path.join(self.dir, f"{unit}.json")

    def done(self, unit: str, config_hash: str | None = None) -> bool:
        """Whether `unit` completed. With `config_hash` (a build's), a
        completed unit recorded under another config, or under none,
        raises: a resumed build reuses only its own config's units (a
        different chunk count, say, would leave conversations between
        the old and new chunk ranges unindexed)."""
        info = self.read(unit)
        if info is None or info.get("status") != "complete":
            return False
        if config_hash is not None and info.get("config_hash") != config_hash:
            raise ValueError(
                f"index at {os.path.dirname(self.dir)} was built with different config "
                f"({info.get('config_hash')} != {config_hash} in unit {unit}); "
                "delete it or use a new dir"
            )
        return True

    def record(self, unit: str, **info):
        write_json(self.path(unit), {"unit": unit, "status": "complete", **info})

    def read(self, unit: str) -> dict | None:
        p = self.path(unit)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)


# ---------------- doc-id geometry ----------------


def range_shift_for(n_convs: int, n_range_buckets: int) -> int:
    """Doc-id range bucketing (`range_bucket = doc_id_int >> range_shift`)
    of every later stage's partitioning. Conv ints are dense in
    [0, n_convs), so it follows from n_convs alone — no data pass."""
    max_doc = (n_convs << ib.TURN_BITS) + (1 << ib.TURN_BITS)
    return max(int(max_doc / max(n_range_buckets, 1)).bit_length(), ib.TURN_BITS)


def kernel_buckets_for(n_convs: int, range_shift: int) -> int:
    """Range buckets the query kernels pack into groups (wand.group_bounds).
    Every doc id is below n_convs << TURN_BITS, so the realized count can
    be below n_range_buckets; counting exactly keeps an always-empty
    bucket from owning a group (a doc outside the count would still score
    exactly, in the first or last group, whose outer bounds are open)."""
    top = max((n_convs << ib.TURN_BITS) - 1, 0)
    return (top >> range_shift) + 1


def doc_range_col(range_shift: int):
    """~n_range_buckets/4 contiguous doc-id ranges (2 more bits than the
    block bucketing): a COMPUTED partitioning column, so the exchange is
    a plain hash repartition (repartitionByRange would add a sampling
    pass over the child per write)."""
    return F.shiftrightunsigned(F.col("doc_id_int"), range_shift + 2)


def doc_range_parts(n_range_buckets: int) -> int:
    """Partition count of the doc-range layout (doclen, docs)."""
    return max(n_range_buckets // 4, 1)


def doc_range_partitioned(df: DataFrame, range_shift: int, n_range_buckets: int) -> DataFrame:
    return df.repartition(doc_range_parts(n_range_buckets), doc_range_col(range_shift))


# ---------------- stage writers ----------------
# Each writes one table through the TableProvider seam. The build writes
# per-chunk docs/segments units (`<table>/chunk=<i>`) and live stage 2-3
# tables; refresh writes staged stage 2-3 tables and swaps them in with
# `commit_staged`.


def write_segment(
    docs: DataFrame, normalize: NormalizeConfig, provider: TableProvider, table: str
) -> int:
    """Stage 1: tokenize docs (doc_id_int, text) into per-doc posting
    rows and write them as one segment. Returns its row count, read from
    the footers (no Spark job)."""
    provider.write(ib.tokenize_to_doc_postings(docs, normalize), table)
    return provider.num_rows(table)


def write_doclen(
    segments: DataFrame,
    convmap: DataFrame,
    range_shift: int,
    n_range_buckets: int,
    provider: TableProvider,
    table: str,
) -> tuple[int, int]:
    """Stage 2: (doc_id_int, doc_id, dl) per doc of `segments`, doc-id
    range partitioned and sorted. Returns (n_docs, total_tokens), which
    ride along with the write via observe()."""
    doclen = (
        segments.groupBy("doc_id_int")
        .agg(F.first("dl").alias("dl"))
        .withColumn("conv_int", F.shiftrightunsigned("doc_id_int", ib.TURN_BITS))
        .withColumn(
            "turn_idx",
            (F.col("doc_id_int") - F.col("conv_int") * (1 << ib.TURN_BITS)).cast("int"),
        )
        .join(convmap, "conv_int")
        .withColumn(
            "doc_id",
            # %04d pads but never truncates (see ib.with_doc_ids)
            F.concat_ws(":", F.col("conv_id"), F.format_string("%04d", "turn_idx")),
        )
        .select("doc_id_int", "doc_id", "dl")
    )
    obs = Observation()
    provider.write(
        doc_range_partitioned(doclen, range_shift, n_range_buckets)
        .observe(obs, F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_tokens"))
        .sortWithinPartitions("doc_id_int"),
        table,
    )
    agg = obs.get
    return agg["n_docs"] or 0, agg["total_tokens"] or 0  # sum is None when empty


def index_stats(n_docs: int, total_tokens: int, n_convs: int) -> dict:
    return {
        "n_docs": n_docs,
        # exact-int sum / exact-int count: bit-identical to a global avg
        "avgdl": total_tokens / n_docs if n_docs else 0.0,
        "total_tokens": total_tokens,
        "n_convs": n_convs,
    }


def write_postings(
    blocks: DataFrame, n_term_buckets: int, provider: TableProvider, table: str
) -> None:
    """Stage 3 postings layout: one dir per term bucket, 4 aligned files
    per dir, each sorted by (term, first_doc). Small row groups: files
    are term-sorted, so per-row-group min/max stats make a query's
    IN(terms) skip everything but the few groups holding its terms."""
    sub_col = term_bucket_col(F.col("term"), n_term_buckets * 4)
    provider.write(
        blocks.withColumn("bucket", term_bucket_col(F.col("term"), n_term_buckets))
        .repartition(n_term_buckets * 4, sub_col)
        .sortWithinPartitions("term", "first_doc"),
        table,
        partition_by=("bucket",),
        options={"parquet.block.size": str(1 << 20)},
    )


def write_lexicon(
    postings: DataFrame, stats: dict, n_term_buckets: int, provider: TableProvider, table: str
) -> None:
    """Stage 3 lexicon, from the written (columnar, payload-pruned)
    postings — cheaper than persisting the block payloads in memory.

    The engine computes BM25 weights from df (wand.bm25_idf) and reads no
    `idf`; the column stays for external readers, written with the same
    function, because Spark's `log` rounds some arguments one ulp away."""
    n_docs = int(stats["n_docs"])

    @F.arrow_udf("double")
    def bm25_idf(df: pa.Array) -> pa.Array:
        return pa.array([wand.bm25_idf(n_docs, d) for d in df.to_pylist()], pa.float64())

    lex = (
        postings.groupBy("term")
        .agg(
            F.sum("n").alias("df"),
            F.sum("sum_tf").alias("cf"),
            F.count("*").alias("n_blocks"),
        )
        .withColumn("idf", bm25_idf("df"))
    )
    provider.write(
        lex.repartition(max(n_term_buckets // 4, 1), "term").sortWithinPartitions("term"),
        table,
    )


# Manifest units of the build's stages 2-3. perfbench/layers.py
# (BUILD_UNITS) reads build layer walls by unit-name prefix:
# `stage2_chunk_` is doclen, `stage3_chunk_` is pack, `stage3_postings`
# is the lexicon. engine.reload and incremental._resolve_cfg also read
# `stage3_postings` (range_shift, config).
DOCLEN_UNIT = "stage2_chunk_all"
PACK_UNIT = "stage3_chunk_all"
LEXICON_UNIT = "stage3_postings"


def derive_tables(
    segments: DataFrame,
    convmap: DataFrame,
    n_convs: int,
    cfg: IndexBuildConfig,
    provider: TableProvider,
    table: Callable[[str], str] = lambda name: name,
    man: Manifests | None = None,
    lineage: dict | None = None,
) -> dict:
    """Stages 2-3 over a segments frame: doclen + stats, postings, then
    the lexicon; returns the stats. Build and refresh both derive their
    tables here. `table` maps a table name to the one written (refresh
    passes the provider's staged names). With `man`, each step is a
    manifest unit that a resumed build skips; the doclen unit records
    n_docs/total_tokens, so the stats survive a resume."""
    range_shift = range_shift_for(n_convs, cfg.n_range_buckets)

    def unit(name: str, step: Callable[[], dict]) -> dict:
        if man is not None and man.done(name, (lineage or {}).get("config_hash")):
            return man.read(name)
        t0 = time.time()
        info = step()
        if man is not None:
            man.record(name, seconds=time.time() - t0, **info, **(lineage or {}))
        return info

    def doclen() -> dict:
        n_docs, total_tokens = write_doclen(
            segments, convmap, range_shift, cfg.n_range_buckets, provider, table("doclen")
        )
        return {"n_docs": n_docs, "total_tokens": total_tokens}

    def pack() -> dict:
        # two shuffles by measurement: pack on (term, range_bucket) —
        # fine-grained, skew-free partitions for the big sort+pack — then
        # re-key the (much smaller) packed blocks to 4 aligned files per
        # bucket dir (a single term-keyed shuffle writing directly was
        # ~40% slower: the dynamic-partition writer re-sorts each task's
        # payload rows by dir)
        blocks = ib.build_blocks(segments, cfg, range_shift)
        write_postings(blocks, cfg.n_term_buckets, provider, table("postings"))
        return {}

    # doclen and block packing both read only the segments — independent
    # jobs, overlapped (guide §2.6): the small doclen write back-fills
    # executors the pack stage's shuffle tail leaves idle
    with ThreadPoolExecutor(max_workers=2) as pool:
        doclen_job = pool.submit(unit, DOCLEN_UNIT, doclen)
        pack_job = pool.submit(unit, PACK_UNIT, pack)
        counts = doclen_job.result()
        pack_job.result()
    stats = index_stats(counts["n_docs"], counts["total_tokens"], n_convs)

    def lexicon() -> dict:
        write_lexicon(
            provider.read(segments.sparkSession, table("postings")),
            stats,
            cfg.n_term_buckets,
            provider,
            table("lexicon"),
        )
        return {"range_shift": range_shift}

    unit(LEXICON_UNIT, lexicon)
    return stats


def _config_hash(cfg: IndexBuildConfig, input_desc: str) -> str:
    return hashlib.md5(
        json.dumps({"cfg": cfg.lineage(), "input": input_desc}, sort_keys=True).encode()
    ).hexdigest()[:12]


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    index_dir: str,
    cfg: IndexBuildConfig = IndexBuildConfig(),
    input_desc: str = "",
    fail_after_chunk: int | None = None,  # test hook: simulate a crash
) -> dict:
    """Run the full (resumable) build; returns the final stats dict."""
    os.makedirs(index_dir, exist_ok=True)
    man = Manifests(index_dir)
    chash = _config_hash(cfg, input_desc)

    t_build0 = time.time()
    lineage = {"config_hash": chash, "input": input_desc, "config": cfg.lineage()}
    store = ParquetDirProvider(index_dir)

    # ---------------- stage 0: conv ids ----------------
    if not man.done("stage0_convmap", chash):
        t0 = time.time()
        n_convs = ib.assign_and_write_convmap(spark, transcripts, store.location("convmap"))
        man.record(
            "stage0_convmap", n_convs=n_convs, seconds=time.time() - t0, **lineage
        )
    convmap = store.read(spark, "convmap")
    n_convs = man.read("stage0_convmap")["n_convs"]

    docs = ib.with_doc_ids(transcripts, convmap)

    n_chunks = cfg.n_segment_chunks
    if n_convs < cfg.chunk_min_convs:
        # deterministic for a given input (n_convs comes from stage 0),
        # so resumes re-derive the same chunk geometry
        n_chunks = 1

    # ---------------- stages 4 and 1: per-chunk pipelines ----------------
    # Chunks are contiguous conversation ranges, so their doc-id sets are
    # disjoint: docs-store write -> tokenize runs per chunk with no global
    # barrier, and a chunk is the resume unit of both. Stages 2-3 then
    # run once over all segments (derive_tables, as refresh does), so the
    # posting rows do not depend on the chunk count.
    #
    # The doc store (stage 4, reference S5 `index_custom.py:203-211`) is
    # folded INTO the chunk pipeline rather than run as a separate
    # full-input job: round-3 measured it as the build's Amdahl floor
    # (~165 s wall at BOTH local[2] and local[8] — a constant tail that
    # caps scaling past ~8 cores). Writing docs/chunk=<i> FIRST and
    # tokenizing from the just-written (columnar, doc_id-sorted) chunk
    # also eliminates the second full scan of the input: the raw input is
    # now read exactly once per build.
    # file/split geometry: stage 1's tokenize parallelism is bounded by
    # the docs chunk's split count, so the write must produce enough
    # row groups for every core to get work (measured: 2 big files per
    # chunk packed into 1-2 scan tasks and built at 0.61 efficiency on
    # the N=2-vs-8 pair; 8 MB row groups + a 16 MB split bin restore
    # ~1.0). Small row groups also sharpen doc_id_int row-group pruning
    # for hydration point-lookups on the sorted store.
    docs_parts_per_chunk = max(
        -(-doc_range_parts(cfg.n_range_buckets) // n_chunks),
        spark.sparkContext.defaultParallelism,
    )
    # Materialized (persisted/cached) input changes the optimal chunk
    # plan: tokenizing from the doc-store read-back exists to avoid a
    # SECOND scan of raw input, but when the input relation is already
    # materialized a re-scan is free — so stage 1 tokenizes straight
    # from it and runs CONCURRENTLY with the stage-4 doc-store write
    # (guide §2.6 "overlap independent jobs"; the two jobs share the
    # cached scan). Cold/remote inputs keep the single-raw-scan order.
    try:
        lvl = transcripts.storageLevel
        input_materialized = bool(lvl.useMemory or lvl.useDisk)
    except Exception:
        input_materialized = False

    def run_chunk(chunk: int) -> None:
        chunk_seg = f"segments/chunk={chunk}"
        chunk_docs = f"docs/chunk={chunk}"
        lo = chunk * n_convs // n_chunks
        hi = (chunk + 1) * n_convs // n_chunks

        def do_stage4() -> None:
            unit4 = f"stage4_chunk_{chunk:03d}"
            if man.done(unit4, chash):
                return
            t0 = time.time()
            part = docs.filter((F.col("conv_int") >= lo) & (F.col("conv_int") < hi))
            store.write(
                part.select(*DOC_COLS)
                # hash on doc_id_int: the doc-range column has too few
                # distinct values INSIDE one chunk to fan out. Files then
                # cover scattered ids, but sortWithinPartitions still makes
                # every row group a near-contiguous id quantile — the
                # row-group min/max pruning hydration relies on is kept
                .repartition(docs_parts_per_chunk, F.col("doc_id_int"))
                .sortWithinPartitions("doc_id_int"),
                chunk_docs,
                options={"parquet.block.size": str(8 << 20)},
            )
            man.record(unit4, conv_range=[lo, hi], seconds=time.time() - t0, **lineage)

        def do_stage1(from_input: bool) -> None:
            unit1 = f"stage1_chunk_{chunk:03d}"
            if man.done(unit1, chash):
                return
            t0 = time.time()
            if from_input:
                part = docs.filter(
                    (F.col("conv_int") >= lo) & (F.col("conv_int") < hi)
                )
            else:
                # tokenize from the chunk's own doc store — column-pruned
                # to (doc_id_int, text); the raw input is not re-scanned
                part = store.read(spark, chunk_docs)
            rows = write_segment(part, cfg.normalize, store, chunk_seg)
            man.record(
                unit1, conv_range=[lo, hi], rows=rows, seconds=time.time() - t0, **lineage
            )

        if input_materialized:
            with ThreadPoolExecutor(max_workers=2) as pool:
                f4 = pool.submit(do_stage4)
                f1 = pool.submit(do_stage1, True)
                f4.result()
                f1.result()
        else:
            do_stage4()
            do_stage1(False)

    # finer scan splits for the build's own reads: the docs chunks are
    # written with 8 MB row groups, and a 16 MB split bin stops Spark
    # from packing them into a couple of fat tokenize tasks (the split
    # count is stage 1's parallelism ceiling). Stages 2-3 run inside the
    # same window. Restored afterwards.
    SPLIT_CONF = "spark.sql.files.maxPartitionBytes"
    prev_split = spark.conf.get(SPLIT_CONF, None)
    spark.conf.set(SPLIT_CONF, str(16 << 20))
    try:
        if fail_after_chunk is not None:
            # test hook path: strictly sequential so the crash point is
            # exact
            for chunk in range(n_chunks):
                run_chunk(chunk)
                if chunk == fail_after_chunk:
                    raise RuntimeError(
                        f"simulated crash after stage1_chunk_{chunk:03d}"
                    )
        else:
            # chunk pipelines are independent — run them concurrently
            # (the Spark scheduler interleaves the jobs; manifests stay
            # per-unit, so resume granularity is unchanged). In-flight
            # pipelines are bounded by the session's parallelism: each
            # pipeline keeps up to ~2 cores of mixed JVM+python work
            # busy, so defaultParallelism/2 saturates without
            # oversubscribing (6 pipelines on a 2-core session measured
            # 25% SLOWER than 2 — python workers of concurrent
            # applyInPandas stages thrash each other's caches)
            width = min(
                n_chunks, max(1, spark.sparkContext.defaultParallelism // 2), 4
            )
            with ThreadPoolExecutor(max_workers=width) as pool:
                list(pool.map(run_chunk, range(n_chunks)))

        # ---------------- stages 2-3: doclen, stats, postings, lexicon ----------------
        stats = derive_tables(
            store.read(spark, "segments").drop("chunk"),
            convmap,
            n_convs,
            cfg,
            store,
            man=man,
            lineage=lineage,
        )
    finally:
        if prev_split is None:
            spark.conf.unset(SPLIT_CONF)
        else:
            spark.conf.set(SPLIT_CONF, prev_split)

    write_json(os.path.join(index_dir, "stats.json"), stats)
    man.record(
        "build",
        seconds_total=time.time() - t_build0,
        stats=stats,
        **lineage,
    )
    return stats
