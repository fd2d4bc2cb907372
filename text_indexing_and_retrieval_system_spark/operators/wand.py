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

One columnar format runs from the postings files to the ranked
winners: score_group reads a group's block columns as one pyarrow table
(inside `mapInArrow` on the distributed leaf, once in-process over the
open range on the driver leaf), the codec decodes the binary columns
from their Arrow buffers, and each group's winners go back as Arrow
list columns that the driver merge reads flat.

There is one group body, boolean_score_bucket: set evaluation of a
batch of query trees, every query shape and every scorer. A group's
blocks are decoded whole and exactly once, in one vectorized pass
(posting lists as vectors, as in a columnar inverted index); at the
sizes this engine serves that pass is all the work there is, so no
block is skipped. A phrase reuses that decode: its words' positions are
decoded on first use, one varbyte pass per word, and matched by
whole-array adjacency. The thresholding survives as the driver merge's
k-th-score cut, which is exact. Scores are accumulated per doc in
ascending term order, matching the oracle bit-for-bit.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
from pyspark.sql import DataFrame

from ..functions import codec

K1 = 1.2
B = 0.75

KERNEL_COLS = ["term", "range_bucket", "first_doc", "last_doc", "payload"]


# Per-posting impact functions of the bucket kernel, (float64 tf, dl,
# avgdl) -> impact. A term occurrence contributes weight * impact, with
# the weight computed on the driver; each expression is the oracle's, so
# scores are bit-identical.
def bm25_impact(tf: np.ndarray, dl: np.ndarray, avgdl: float) -> np.ndarray:
    """BM25 tf-normalization; the weight is bm25_idf."""
    return tf * (K1 + 1.0) / (tf + K1 * ((1.0 - B) + (B * dl.astype(np.float64)) / avgdl))


def bm25_idf(n_docs: int, df: int) -> float:
    """Lucene/ES BM25 idf ln(1 + (N - df + 0.5)/(df + 0.5)), with
    math.log as the oracle computes it: Spark's `log` and numpy's `log`
    round some arguments one ulp apart from it."""
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def tf_impact(tf: np.ndarray, dl: np.ndarray, avgdl: float) -> np.ndarray:
    """Raw tf; the weight is ln(N/df) for TFIDF and 1.0 for WORDCOUNT."""
    return tf


def kernel_groups(spark, n_buckets: int) -> int:
    """Number of kernel groups (= kernel tasks) for `n_buckets` range
    buckets: one per core slot, never more than there are buckets. With
    at least as many cores as buckets this is one group per bucket. A
    Python task costs fixed slot time, so a stage wider than the cores
    pays that overhead in extra waves while doing no more scoring work.
    Most of that time was PySpark re-reading its zip archives at every
    task start, which the engine's daemon (pydaemon) removes; a task
    still waits about 40 ms for its first input batch from the JVM."""
    return max(1, min(n_buckets, spark.sparkContext.defaultParallelism))


def group_bounds(n_groups: int, n_buckets: int) -> list[tuple[int | None, int | None]]:
    """The range buckets [lo, hi) of each of `n_groups` kernel groups
    over `n_buckets` buckets: bucket b belongs to group
    b * n_groups // n_buckets, so each group is a contiguous run of
    whole buckets, and with n_groups <= n_buckets none is empty. The
    first group's lo and the last group's hi are None (open), so a
    bucket outside [0, n_buckets) still lands in a group.

    Packing is EXACT: a group holding several buckets' blocks scores
    like one bigger bucket (doc sets are disjoint), so the bounds only
    ever affect performance, never results. The driver leaf relies on
    the same argument when it scores the whole index as one group, the
    open bound (None, None).

    NOTE (round-5 falsified idea): subdividing a range bucket into
    finer groups (e.g. by first_doc bits) is NOT sound here, even
    though blocks are doc-disjoint per term: a doc's score accumulates
    across ITS QUERY TERMS' blocks, whose first_docs differ per term —
    a sub-bucket split can send them to different groups and emit
    partial scores (caught by test_batch_kernel_split_is_placement_invariant
    before it shipped). Groups must stay unions of whole doc-range
    buckets."""
    cuts = [-(-g * n_buckets // n_groups) for g in range(1, n_groups)]
    return list(zip([None, *cuts], [*cuts, None]))


def _in_range(column: str, lo: int | None, hi: int | None, shift: int = 0) -> pc.Expression:
    """`column >> shift` in [lo, hi), None being an open end."""
    expr = pc.scalar(True)
    if lo is not None:
        expr &= pc.field(column) >= lo << shift
    if hi is not None:
        expr &= pc.field(column) < hi << shift
    return expr


# ONE winner row per (query, kernel group): the group's local top-k as
# two Arrow lists, ranked (score desc, doc asc), global doc ids
BATCH_TOPK_SCHEMA = "query_id int, doc_ids array<bigint>, scores array<double>"


# NOTE (round-5 falsified experiment): a per-process decoded-block cache
# for the batch kernel (payload -> block-relative offsets + impacts,
# misses batch-decoded with first_docs pinned to 0) was implemented and
# interleave-A/B-measured on the 4.85M-turn staged index at 16 cores:
# min 2.05s cached vs 1.75s uncached per 256-query batch — the per-block
# python assembly (dict lookups + 7k-array concatenate) costs more than
# the ONE vectorized codec pass it saves. The vectorized decode stays
# unconditional.
def _decode_terms(blocks: pa.Table, avgdl: float, impact=bm25_impact, universe=None):
    """All of a kernel group's blocks (a table of KERNEL_COLS, plus
    pos_payload for phrases) -> (per_term, base, id_dtype):
    per_term maps term -> (sorted doc ids, impacts, tfs, pos_payloads),
    decoded in ONE vectorized codec pass (codec.unpack_postings_batch) +
    one vectorized `impact` computation over every row — replaces the
    per-block decode loop (~90us/block of numpy setup overhead, which
    dominated the batch kernel at 300k+ blocks per query batch).
    `pos_payloads` is the term's slice of the `pos_payload` column in
    block order (None without that column); only a phrase decodes them
    (_phrase_matcher).

    Doc ids are offsets from `base`: int32 whenever the group's doc span
    (the sorted int64 NOT `universe` included) fits 31 bits. One range
    bucket always does; a group packing several buckets (few cores over
    a very large doc-id space) or an edge group holding buckets beyond
    the count may not, and falls back to global int64 with base=0 —
    slower, same scores. The
    kernel runs entirely in this id space: int32 is ~half the memory
    traffic on a kernel that is bandwidth-bound, identical scores."""
    per_term: dict[str, tuple] = {}
    if not blocks.num_rows:
        return per_term, 0, np.int64
    # gather (every column, payload included) only when out of order
    order = pc.sort_indices(
        blocks, sort_keys=[("term", "ascending"), ("first_doc", "ascending")]
    ).to_numpy()
    if (order[1:] < order[:-1]).any():
        blocks = blocks.take(order)
    first_docs = blocks.column("first_doc").to_numpy()
    lo, hi = int(first_docs.min()), int(pc.max(blocks.column("last_doc")).as_py())
    if universe is not None and universe.size:
        lo, hi = min(lo, int(universe[0])), max(hi, int(universe[-1]))
    local32 = hi - lo < (1 << 31)
    base = lo if local32 else 0
    block_n, docs, tfs, dls = codec.unpack_postings_batch(
        blocks.column("payload"), first_docs=first_docs if local32 else None, base=base
    )
    imp = impact(tfs.astype(np.float64), dls, avgdl)
    terms = blocks.column("term").to_numpy()
    pos = blocks.column("pos_payload") if "pos_payload" in blocks.column_names else None
    block_row_ends = np.cumsum(block_n)
    block_row_starts = block_row_ends - block_n
    term_first_block = np.flatnonzero(np.r_[True, terms[1:] != terms[:-1]])
    bounds = np.r_[term_first_block, len(terms)]
    for i in range(len(term_first_block)):
        b0, b1 = bounds[i], bounds[i + 1]
        r0, r1 = block_row_starts[b0], block_row_ends[b1 - 1]
        per_term[terms[b0]] = (
            docs[r0:r1],
            imp[r0:r1],
            tfs[r0:r1],
            None if pos is None else pos.slice(b0, b1 - b0),
        )
    return per_term, base, np.int32 if local32 else np.int64


def _score(
    per_term: dict[str, tuple],
    term_meta: dict[str, list[tuple[int, float]]],
    k: int,
    matches: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """The one scorer and top-k cut: Σ weight × impact per doc over the
    scoring-term occurrences (term_meta: term -> [(occurrence_idx,
    weight)]; per_term from _decode_terms) -> the top-k (docs, scores) under (score desc, doc asc).
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
            raise ValueError("NOT requires the group's doc-id universe")
        return np.setdiff1d(
            universe,
            _eval_tree(tree[1], term_docs, universe, phrase_eval),
            assume_unique=True,
        )
    if kind == "phrase":
        return phrase_eval(tree[1])
    raise ValueError(f"unknown tree kind: {kind!r}")


def _phrase_matcher(per_term: dict[str, tuple]):
    """Phrase evaluation over one group's decode (_decode_terms): word ->
    docs and tfs come from it, and a word's positions are decoded on
    first use, once per group call, in one pass over its concatenated
    pos_payload (codec.decode_position_rows). Returns ev(words) -> the
    sorted group-local ids of the docs holding the words adjacently."""
    positions: dict[str, tuple[np.ndarray, np.ndarray]] = {}

    def word_positions(w: str) -> tuple[np.ndarray, np.ndarray]:
        """(start offset of each row's positions, all rows' positions)."""
        if w not in positions:
            _, _, tfs, pos_payloads = per_term[w]
            tfs = tfs.astype(np.int64)
            positions[w] = (np.cumsum(tfs) - tfs, codec.decode_position_rows(pos_payloads, tfs))
        return positions[w]

    def enc_positions(w: str, common: np.ndarray) -> np.ndarray:
        """Flatten word w's positions in the common docs into ONE sorted
        array of (doc_ordinal << 32) | position — adjacency then becomes
        whole-array set intersection instead of a per-doc loop.
        Positions are tiny (token offsets within one turn), so `enc - i`
        can never wrap into the previous doc ordinal's range."""
        docs, tfs = per_term[w][0], per_term[w][2]
        starts, flat = word_positions(w)
        rows = np.searchsorted(docs, common)
        lens = tfs[rows].astype(np.int64)
        ords = np.repeat(np.arange(common.size, dtype=np.int64), lens)
        # a row's positions sit consecutively in flat from its start
        shift = np.repeat(starts[rows] - (np.cumsum(lens) - lens), lens)
        return (ords << 32) | flat[shift + np.arange(ords.size)]

    def ev(ws: tuple[str, ...]) -> np.ndarray:
        if any(w not in per_term for w in ws):
            return np.empty(0, dtype=np.int64)
        common = per_term[ws[0]][0]
        for w in ws[1:]:
            common = np.intersect1d(common, per_term[w][0], assume_unique=True)
        if common.size == 0 or len(ws) == 1:
            return common
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


def _list_column(parts: list[np.ndarray], dtype) -> pa.ListArray:
    """One Arrow list per array of `parts`, over their concatenation."""
    offsets = np.cumsum([0, *(p.size for p in parts)], dtype=np.int32)
    return pa.ListArray.from_arrays(offsets, np.concatenate([np.empty(0, dtype), *parts]))


def boolean_score_bucket(
    blocks: pa.Table,
    queries: dict[int, tuple],
    avgdl: float,
    k: int,
    universe=None,
    impact=bm25_impact,
) -> pa.Table:
    """The set-evaluation kernel body: one kernel group's blocks (a
    pyarrow table of KERNEL_COLS) and a batch {query_id: (tree,
    term_meta)} -> its per-query winners as a BATCH_TOPK_SCHEMA table
    (global doc ids), scored with `term_meta` weights times `impact`.
    score_group calls it on the group it read: per group inside
    boolean_topk's mapInArrow, or once in-process on the driver leaf.

    The group is decoded once for the whole batch, and every query —
    phrases included — reads that one decode. A pure disjunction
    matches the union of its scoring terms' docs (no tree evaluation);
    any other tree is set-evaluated. `universe` (sorted int64 doc ids of
    the group) is required when a tree contains NOT; a phrase needs the
    `pos_payload` column."""
    per_term, base, id_dtype = _decode_terms(blocks, avgdl, impact, universe)
    term_docs = {t: v[0] for t, v in per_term.items()}
    if universe is not None:
        universe = (universe - base).astype(id_dtype)
    phrase_eval = _phrase_matcher(per_term)

    qids: list[int] = []
    doc_lists: list[np.ndarray] = []
    score_lists: list[np.ndarray] = []
    for qid, (tree, term_meta) in queries.items():
        matches = (
            None
            if is_disjunction(tree)
            else _eval_tree(tree, term_docs, universe, phrase_eval)
        )
        docs, scores = _score(per_term, term_meta, k, matches)
        if docs.size:
            qids.append(qid)
            doc_lists.append(docs.astype(np.int64) + np.int64(base))
            score_lists.append(scores)
    return pa.table(
        {
            "query_id": pa.array(qids, pa.int32()),
            "doc_ids": _list_column(doc_lists, np.int64),
            "scores": _list_column(score_lists, np.float64),
        }
    )


def score_group(
    postings: pads.Dataset,
    terms: list[str],
    queries: dict[int, tuple],
    avgdl: float,
    k: int,
    bound: tuple[int | None, int | None] = (None, None),
    doclen: pads.Dataset | None = None,
    range_shift: int | None = None,
    *,
    with_positions: bool = False,
    impact=bm25_impact,
) -> pa.Table:
    """One kernel group, read and scored: one pyarrow read of `postings`
    (KERNEL_COLS, plus pos_payload `with_positions`) filtered on
    `term IN terms AND range_bucket in [lo, hi)` (`bound`, None being an
    open end), for NOT one read of `doclen`'s doc ids in
    [lo << range_shift, hi << range_shift) as the group's universe, then
    boolean_score_bucket on the batch `queries`. Each distributed task
    runs it with its group's bound; the driver leaf runs it in-process
    with the open bound, the whole index as one group."""
    lo, hi = bound
    blocks = postings.to_table(
        columns=KERNEL_COLS + (["pos_payload"] if with_positions else []),
        # typed, so that no terms is an empty read, not a type error
        filter=pc.field("term").isin(pa.array(terms, pa.string()))
        & _in_range("range_bucket", lo, hi),
    )
    universe = None
    if doclen is not None:
        ids = doclen.to_table(
            columns=["doc_id_int"], filter=_in_range("doc_id_int", lo, hi, range_shift)
        ).column(0)
        universe = np.sort(ids.to_numpy().astype(np.int64))
    return boolean_score_bucket(blocks, queries, avgdl, k, universe, impact)


def boolean_topk(
    spark,
    postings: pads.Dataset,
    terms: list[str],
    queries,
    avgdl: float,
    k: int,
    bounds: list[tuple[int | None, int | None]],
    doclen: pads.Dataset | None = None,
    range_shift: int | None = None,
    *,
    with_positions: bool = False,
    impact=bm25_impact,
) -> DataFrame:
    """A batch {query_id: (tree, term_meta)} of boolean/phrase queries +
    ranking (`term_meta` weights times `impact`, so any scorer) as ONE
    Spark job of one stage, with no shuffle: task g of
    `spark.range(len(bounds)).mapInArrow` owns the range buckets
    `bounds[g]` (see group_bounds) and runs score_group over them,
    reading `postings` (the files holding `terms`, listed on the
    driver). Returns BATCH_TOPK_SCHEMA rows — each
    group's local top-k per query; the caller merges them
    (merge_query_topk_driver). A single query is a batch of one.

    Cost model: each kernel group is one Python task with fixed slot
    overhead (about 40 ms waiting for its first input batch from the
    JVM, once pydaemon stops the per-task re-read of PySpark's zip
    archives), one read of the batch's term-filtered postings (the files
    are term-major, so every task reads all of the batch's terms and
    keeps its own range buckets) and one pass of the per-query loop
    over the group's decoded terms. The range buckets are packed into
    one group per core slot (kernel_groups): at 4 cores a 32-bucket
    index runs 4 kernel tasks, each looping the batch once over 8
    buckets' postings.

    `queries` may be a plain dict or a pyspark Broadcast of one. Pass a
    Broadcast for big batches: a plain dict is pickled into the UDF
    closure and re-deserialized by EVERY task, while a broadcast value
    is fetched and cached once per executor worker process (measured
    ~0.2 s/task at 8k queries — a pseudo-constant that grew with batch
    size).

    NOT needs the complement universe, so when a tree contains one the
    caller passes the `doclen` table and the `range_shift` of the
    postings' range buckets: task g reads the doc ids of its own range,
    [lo << range_shift, hi << range_shift), so a group's universe is
    exactly its buckets' docs — this also covers groups where the
    queries' tokens have no blocks at all but whose docs still match
    the complement. `with_positions` adds the `pos_payload` column a
    phrase reads."""
    # the mapInArrow function stays unannotated: PySpark 4.1.2 raises
    # UnboundLocalError on a partly annotated Arrow UDF
    def run(batches):
        batch = queries.value if hasattr(queries, "value") else queries
        for ids in batches:
            for g in ids.column(0).to_pylist():
                out = score_group(
                    postings, terms, batch, avgdl, k, bounds[g], doclen, range_shift,
                    with_positions=with_positions, impact=impact,
                )
                yield from out.to_batches()

    n_groups = len(bounds)
    return spark.range(n_groups, numPartitions=n_groups).mapInArrow(run, BATCH_TOPK_SCHEMA)


def merge_query_topk_driver(
    winners: pa.Table, k: int
) -> dict[int, list[tuple[int, float]]]:
    """Driver-side vectorized merge of the per-(query, group) winners (a
    BATCH_TOPK_SCHEMA table, read as the list columns' flat values and
    lengths).

    Two stages, both exact: (1) a per-query k-th-largest-score threshold
    (padded 2D np.partition over the per-row winner lists) prunes the winner
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
    if not winners.num_rows:
        return {}
    counts = pc.list_value_length(winners.column("doc_ids")).to_numpy().astype(np.int64)
    qids_row = winners.column("query_id").to_numpy().astype(np.int64)
    docs = pc.list_flatten(winners.column("doc_ids")).to_numpy()
    scores = pc.list_flatten(winners.column("scores")).to_numpy()
    qids = np.repeat(qids_row, counts)
    uq, qrow = np.unique(qids_row, return_inverse=True)
    totals = np.bincount(qrow, weights=counts).astype(np.int64)
    width = int(totals.max()) if totals.size else 0
    if width > k:
        # column start of each row's list = prefix sum of counts within
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
