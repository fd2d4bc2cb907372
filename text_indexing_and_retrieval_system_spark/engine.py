"""High-level engine: build / load an index directory, answer queries.

Query lifecycle (Spark rebuild of the reference's
`process_custom_query`, `/root/reference/code/indexes/query_processing/
query_processing_engine.py:549-651`):

    query string ──(driver)── parse → AST → token tree + scoring terms
      → set evaluation, every shape and scorer: a pure disjunction
        matches the union of its terms' docs, any other tree is
        set-evaluated in numpy (NOT against the doc-id universe); the
        matches are scored exactly as Σ weight × impact (bm25: idf ×
        BM25 tf-normalization; tfidf: ln(N/df) × tf; wordcount: tf)
      → routing by gate (InvertedIndex._search_rows): driver-local when
        the rows the driver would read (the terms' Σdf, plus the corpus
        size for NOT) fit DRIVER_MAX_ROWS, else one distributed kernel
        job of one stage
      → top-k (score DESC, doc_id_int ASC) → optional hydration join

That gives one leaf body, wand.score_group, and two places to run it:
the driver (_search_kernel_driver_rows, one in-process call over the
open range of doc ids) and the distributed leaf (wand.boolean_topk, one
call per kernel group inside one Spark job of one stage, no shuffle).
The body reads the batch's terms' blocks (and, for NOT, its doc-id
range of doclen/) with pyarrow from the files the handle listed, and
runs the one kernel, wand.boolean_score_bucket, on a batch of query
trees: a single query is a batch of one, and search_batch sends its
whole batch, each query as the disjunction of its scoring terms,
through the distributed leaf. Both leaves merge the kernel's Arrow
winner tables the same way (wand.merge_query_topk_driver) and are
bit-identical in scores and order (the golden suite runs both against
the same oracle). Control crosses driver→executor once per query or
batch on the distributed leaf (plus a dict-lookup id resolution from the
driver-cached convmap), matching SURVEY.md §3.1's target.

Nothing reads an index table through Spark on the query path. The
driver reads the lexicon and the convmap with pyarrow under one rule: a
table whose read columns (summed from the parquet footers) fit
DRIVER_RESIDENT_MAX_BYTES is read whole once per handle; a bigger one
takes one read per call, filtered to the call's terms or conv ints.
Postings and doclen are never resident: every query reads what it
scores.
"""

from __future__ import annotations

import json
import math
import os
import sys
from dataclasses import dataclass

import pandas as pd
import pyarrow as pa
import pyarrow.dataset as pads
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.normalize import NormalizeConfig, normalize_query_terms
from .operators import query_parser as qp
from .operators import wand
from .operators.index_build import IndexBuildConfig
from .operators.segments import Manifests, build_index, kernel_buckets_for, term_bucket_py

SCORERS = ("bm25", "tfidf", "wordcount")


@dataclass
class SearchResult:
    query: str
    docs: list[str]
    scores: list[float]


class InvertedIndex:
    """A built index on disk (postings/lexicon/doclen/docs/stats)."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.dir = index_dir
        self.reload()

    def reload(self) -> None:
        """(Re-)read stats.json + the build manifest and drop every
        driver-resident table. Call after
        `streaming.incremental.refresh_postings` / `add_documents` — a
        handle held across a refresh otherwise serves stale
        n_docs/avgdl/idf, misses new terms and cannot resolve new doc
        ids."""
        stats_path = os.path.join(self.dir, "stats.json")
        if not os.path.exists(stats_path):
            raise FileNotFoundError(
                f"no built index at {self.dir} (missing stats.json — "
                "was it dropped or never built?)"
            )
        with open(stats_path) as f:
            self.stats = json.load(f)
        man = Manifests(self.dir)
        build_info = man.read("build") or man.read("stage3_postings")
        cfg = (build_info or {}).get("config", {})
        self.n_term_buckets = cfg.get("n_term_buckets", 16)
        self.n_range_buckets = cfg.get("n_range_buckets", 32)
        self.store_positions = bool(cfg.get("store_positions", True))
        self.range_shift = None  # doc-id range bucketing of the postings
        for unit in ("refresh_postings", "stage3_postings"):
            info = man.read(unit)
            if info and info.get("range_shift") is not None:
                self.range_shift = int(info["range_shift"])
                break
        if self.range_shift is None:
            raise ValueError(
                f"index at {self.dir} predates doc-id range bucketing — "
                "rebuild it (no postings manifest records a range_shift)"
            )
        self.kernel_buckets = kernel_buckets_for(
            int(self.stats.get("n_convs") or 0), self.range_shift
        )
        norm = cfg.get("normalize", {})
        if norm:
            norm = dict(norm)
            norm["stopword_languages"] = tuple(norm.get("stopword_languages", ()))
            self.normalize_cfg = NormalizeConfig(**norm)
        else:
            self.normalize_cfg = NormalizeConfig()
        # the driver-side index tables, each resident once it fits
        # DRIVER_RESIDENT_MAX_BYTES, else read filtered per call; None =
        # not (yet) resident. The lexicon and convmap turn the lexicon
        # lookup and the doc_id resolution into dict lookups.
        self._full_lex: dict | None = None
        self._convmap: dict[int, str] | None = None
        self._turn_strs: list[str] | None = None
        self._datasets: dict[str, pads.Dataset] = {}
        self._footer_sizes: dict[tuple, int] = {}

    # ------------------------------ scans ------------------------------

    def _require_positions(self) -> None:
        if not self.store_positions:
            raise ValueError(
                f"index at {self.dir} was built with store_positions=False; "
                "phrase queries require positions — rebuild with "
                "store_positions=True"
            )
        if "pos_payload" not in self._dataset("postings").schema.names:
            raise ValueError(
                f"index at {self.dir} predates the split payload/pos_payload "
                "block format — rebuild it (positions were inlined in "
                "`payload` before round 3)"
            )

    LEX_COLS = ["term", "df", "cf", "n_blocks"]
    CONVMAP_COLS = ["conv_int", "conv_id"]
    # the one route gate: a query whose driver-leaf read (its terms'
    # postings, Σdf, plus every doc id when the tree has NOT) is at most
    # this many rows runs in-process instead of paying a Spark job (its
    # scheduling and Python task floor, for microseconds of math at low
    # df). ~8 payload bytes/posting -> <=~32 MB read worst-case; on a
    # 10^12-doc deployment hot terms blow past the cap and take the
    # distributed kernel automatically.
    DRIVER_MAX_ROWS = 4_000_000
    # the one budget of the driver-resident tables (lexicon, convmap): a
    # table whose read columns (parquet footers' uncompressed bytes) fit
    # it is read whole once per handle; a bigger one is read per call,
    # filtered to what the call needs
    DRIVER_RESIDENT_MAX_BYTES = 256 << 20

    def _dataset(self, table: str) -> pads.Dataset:
        """An index table (hive-partitioned parquet) for a driver-side
        pyarrow read: no Spark job, no pandas bookkeeping. Lists the
        table's files once per handle."""
        if table not in self._datasets:
            self._datasets[table] = pads.dataset(
                os.path.join(self.dir, table), format="parquet", partitioning="hive"
            )
        return self._datasets[table]

    def _footer_bytes(self, table: str, cols: list[str]) -> int:
        """Uncompressed bytes of `table`'s columns `cols`, from the parquet
        footers alone, summed once per handle."""
        key = (table, *cols)
        if key not in self._footer_sizes:
            wanted, total = set(cols), 0
            for frag in self._dataset(table).get_fragments():
                meta = frag.metadata
                for i in range(meta.num_row_groups):
                    rg = meta.row_group(i)
                    for j in range(rg.num_columns):
                        col = rg.column(j)
                        if col.path_in_schema in wanted:
                            total += col.total_uncompressed_size
            self._footer_sizes[key] = total
        return self._footer_sizes[key]

    def _fits(self, table: str, cols: list[str]) -> bool:
        return self._footer_bytes(table, cols) <= self.DRIVER_RESIDENT_MAX_BYTES

    def _term_buckets(self, tokens: list[str]) -> pads.Expression:
        """`bucket IN (...)` over the tokens' term buckets."""
        return pads.field("bucket").isin(
            sorted({term_bucket_py(t, self.n_term_buckets) for t in tokens})
        )

    def _term_files(self, tokens: list[str]) -> pads.Dataset:
        """The handle's listing of postings/ pruned to the tokens'
        bucket= dirs, for both leaves to read: no I/O, and every read of
        it, on the driver or in a kernel task, sees the files this handle
        listed."""
        ds = self._dataset("postings")
        frags = list(ds.get_fragments(filter=self._term_buckets(tokens)))
        return pads.FileSystemDataset(frags, ds.schema, ds.format, ds.filesystem)

    def lexicon_for(self, tokens: list[str]) -> pd.DataFrame:
        """The tokens' lexicon rows (LEX_COLS), in token order, unknown
        tokens dropped. A lexicon that fits the budget is read once per
        handle into a term -> (df, cf, n_blocks) dict; a bigger one takes
        one filtered read per call."""
        lex = self._full_lex
        if lex is None:
            resident = self._fits("lexicon", self.LEX_COLS)
            if resident:
                table = self._dataset("lexicon").to_table(columns=self.LEX_COLS)
            else:
                # lexicon/ has no bucket= dirs: its files are sorted by
                # term, so row-group statistics on term do the pruning
                table = self._dataset("lexicon").to_table(
                    columns=self.LEX_COLS,
                    # typed, so that no tokens is an empty read, not a type error
                    filter=pads.field("term").isin(pa.array(tokens, pa.string())),
                )
            pdf = table.to_pandas()
            lex = dict(zip(pdf["term"], zip(pdf["df"], pdf["cf"], pdf["n_blocks"])))
            if resident:
                self._full_lex = lex
        rows = [(t, *lex[t]) for t in tokens if t in lex]
        return pd.DataFrame(rows, columns=self.LEX_COLS)

    def docs(self) -> DataFrame:
        from .operators.segments import DOC_COLS

        # fresh builds write docs/chunk=<i>/ (per-chunk pipeline); select
        # the contract columns so the inferred partition column never
        # leaks
        return self.spark.read.parquet(os.path.join(self.dir, "docs")).select(
            *DOC_COLS
        )

    # ----------------------------- search ------------------------------

    def _query_tokens(self, node: qp.Node) -> tuple[list[tuple[int, str]], list[str]]:
        """(scoring occurrences [(term_idx, token)], all distinct tokens
        incl. under-NOT/phrase for prefetch)."""
        raw_scoring = qp.scoring_terms(node)
        occ: list[tuple[int, str]] = []
        i = 0
        for raw in raw_scoring:
            for tok in normalize_query_terms([raw], self.normalize_cfg)[0]:
                occ.append((i, tok))
                i += 1
        all_raw = qp.collect_positive_terms(node)
        all_tokens: set[str] = set()
        for raw in all_raw:
            all_tokens.update(normalize_query_terms([raw], self.normalize_cfg)[0])
        return occ, sorted(all_tokens)

    def search(
        self,
        query: str,
        k: int = 50,
        scorer: str = "bm25",
        hydrate: bool = False,
    ) -> DataFrame:
        """Returns DataFrame (doc_id, doc_id_int, score[, text...]) of the
        top-k, totally ordered by (score DESC, doc_id_int ASC) — the
        engine-wide tie-break contract: tie-breaking on the doc_id string
        would diverge when one conv_id is a prefix of another."""
        rows = self._search_rows(query, k, scorer)
        out = self.spark.createDataFrame(
            rows, "doc_id string, doc_id_int long, score double"
        )
        if hydrate:
            out = out.join(
                self.docs().select(
                    "doc_id_int", "conv_id", "turn_idx", "role", "text", "tool", "ts"
                ),
                "doc_id_int",
                "left",
            ).orderBy(F.desc("score"), F.asc("doc_id_int"))
        return out

    def _term_weights(self, scorer: str, lex: pd.DataFrame) -> dict[str, float]:
        """term -> scorer weight for the lexicon rows `lex`. The weight
        multiplies the kernel's impact: bm25 wand.bm25_idf, tfidf
        ln(N/df), both computed here from df exactly as the oracle does;
        wordcount 1.0."""
        if scorer == "wordcount":
            return dict.fromkeys(lex["term"], 1.0)
        n_docs = int(self.stats["n_docs"])
        if scorer == "bm25":
            return {t: wand.bm25_idf(n_docs, int(df)) for t, df in zip(lex["term"], lex["df"])}
        return {t: math.log(n_docs / int(df)) for t, df in zip(lex["term"], lex["df"])}

    @staticmethod
    def _term_meta(
        occ: list[tuple[int, str]], weights: dict[str, float]
    ) -> dict[str, list[tuple[int, float]]]:
        """term -> [(occurrence_idx, weight)] for the query's scoring terms
        that have a weight (see _term_weights)."""
        meta: dict[str, list[tuple[int, float]]] = {}
        for i, t in occ:
            if t in weights:
                meta.setdefault(t, []).append((i, weights[t]))
        return meta

    def _search_rows(self, query: str, k: int, scorer: str) -> list[tuple]:
        """Routing by gate, returning the k winner TUPLES — search()
        wraps them in a DataFrame; search_collect() consumes them
        directly (no local-DataFrame round trip).

        Every query set-evaluates its tree and scores the matches
        (wand.score_group), any shape and scorer. The one gate,
        DRIVER_MAX_ROWS, picks where from the rows the driver leaf would
        read: the terms' Σdf, plus every doc id (n_docs) when the tree has
        NOT, whose complement needs the universe. Under it the driver
        leaf scores in-process; everything else runs as one distributed
        kernel job. An unknown scorer raises before any Spark job."""
        if scorer not in SCORERS:
            raise ValueError(f"unknown scorer {scorer!r}; expected one of {SCORERS}")
        node = qp.parse(query)
        occ, all_tokens = self._query_tokens(node)
        tree = wand.normalize_tree(
            node, lambda s: normalize_query_terms([s], self.normalize_cfg)[0]
        )
        lex = self.lexicon_for(all_tokens)
        term_meta = self._term_meta(occ, self._term_weights(scorer, lex))
        rows = int(lex["df"].sum() or 0)
        if wand.tree_has(tree, "not"):
            rows += int(self.stats.get("n_docs") or 0)
        impact = wand.bm25_impact if scorer == "bm25" else wand.tf_impact
        if rows <= self.DRIVER_MAX_ROWS:
            return self._search_kernel_driver_rows(tree, term_meta, all_tokens, k, impact)
        winners = self._boolean_topk_winners({0: (tree, term_meta)}, all_tokens, k, impact)
        return self._resolve(winners.get(0, []))

    def _resolve(self, winners: list[tuple[int, float]]) -> list[tuple]:
        """Ranked (doc_id_int, score) winners -> (doc_id, doc_id_int, score)."""
        id_map = self._doc_ids_for([d for d, _ in winners])
        return [(id_map[d], d, s) for d, s in winners]

    def _boolean_topk_winners(
        self,
        queries: dict[int, tuple],
        tokens: list[str],
        k: int,
        impact=wand.bm25_impact,
        mark=lambda label: None,
    ) -> dict[int, list[tuple[int, float]]]:
        """The distributed set-evaluation leaf: ONE wand.boolean_topk job
        over a batch {query_id: (tree, term_meta)} whose trees use
        `tokens`, then the driver winner merge -> per-query ranked
        (doc_id_int, score) lists. Each kernel task reads its own range
        buckets of the files this handle listed (_term_files), so every
        task sees the snapshot the handle holds until reload(). The
        batch travels as a broadcast: as a plain closure capture it
        would be re-unpickled by every kernel task (grows with batch
        size); as a broadcast it is fetched once per worker process.
        `mark(label)` closes search_batch's timed phases."""
        reads = self._group_reads([tree for tree, _ in queries.values()])
        n_groups = wand.kernel_groups(self.spark, self.kernel_buckets)
        bc = self.spark.sparkContext.broadcast(queries)
        try:
            local = wand.boolean_topk(
                self.spark,
                self._term_files(tokens),
                tokens,
                bc,
                self.stats["avgdl"],
                k,
                wand.group_bounds(n_groups, self.kernel_buckets),
                impact=impact,
                **reads,
            )
            mark("plan")
            table = local.toArrow()
            mark("kernel_and_collect")
        finally:
            bc.unpersist(blocking=False)
        winners = wand.merge_query_topk_driver(table, k)
        mark("driver_merge")
        return winners

    def _group_reads(self, trees: list) -> dict:
        """What wand.score_group reads besides the blocks, for a batch of
        `trees`, alike on both leaves: doclen/ (and the range_shift that
        maps range buckets to doc ids) when a tree has NOT, and the
        positions when one has a phrase."""
        with_positions = any(wand.tree_has(t, "phrase") for t in trees)
        if with_positions:
            self._require_positions()
        needs_universe = any(wand.tree_has(t, "not") for t in trees)
        return {
            "doclen": self._dataset("doclen") if needs_universe else None,
            "range_shift": self.range_shift,
            "with_positions": with_positions,
        }

    def _search_kernel_driver_rows(
        self, tree, term_meta: dict, all_tokens: list[str], k: int, impact
    ) -> list[tuple]:
        """The driver leaf, every query shape: the distributed leaf's
        group body (wand.score_group) run ONCE in-process on a batch of
        one, over the open range of doc ids. Exact by the packing
        argument of wand.group_bounds: the whole index scores like one
        group, so the single call is bit-identical to the per-group
        kernel tasks, without a Spark job's scheduling floor."""
        out = wand.score_group(
            self._term_files(all_tokens),
            all_tokens,
            {0: (tree, term_meta)},
            self.stats["avgdl"],
            k,
            impact=impact,
            **self._group_reads([tree]),
        )
        return self._resolve(wand.merge_query_topk_driver(out, k).get(0, []))

    # Former driver MaxScore leaf and driver block store, kept by name
    # only for perfbench/tracing.py, which wraps them at install; nothing
    # calls them.
    _search_wand_driver_rows = _search_kernel_driver_rows
    _blocks_pdf_for = _maybe_bulk_load_blocks = _search_kernel_driver_rows

    def _doc_ids_for(self, ids: list[int]) -> dict[int, str]:
        """doc_id_int -> doc_id string, never through Spark: the string
        is the conv_id of conv_int = id >> TURN_BITS plus the zero-padded
        turn. A convmap that fits the budget is read once per handle;
        a bigger one takes one read filtered to the ids' conv_ints.
        The strings are interned, so results of separate calls that
        name the same doc share one string."""
        if not ids:
            return {}
        from .operators.index_build import TURN_BITS

        ids = [int(i) for i in ids]
        cm = self._convmap
        if cm is None:
            resident = self._fits("convmap", self.CONVMAP_COLS)
            convs = sorted({i >> TURN_BITS for i in ids})
            table = self._dataset("convmap").to_table(
                columns=self.CONVMAP_COLS,
                filter=None if resident else pads.field("conv_int").isin(convs),
            )
            # stored colon-suffixed: resolution below is one dict lookup
            # + one table index + one concat per id (the f-string loop
            # was ~1.6 us/id — a visible driver-tail constant at 45k ids
            # per 1024-query batch)
            cm = {
                int(c): s + ":"
                for c, s in zip(
                    table.column("conv_int").to_pylist(), table.column("conv_id").to_pylist()
                )
            }
            if resident:
                self._convmap = cm
        tt = self._turn_strs
        if tt is None:
            # %04d: zero-pad to 4 but NEVER truncate — mirrors the
            # build side's format_string("%04d") so conversations with
            # >9,999 turns keep collision-free doc_id strings; the
            # table covers the common low turn indexes, rare higher
            # ones fall back to the formatter
            tt = self._turn_strs = [f"{i:04d}" for i in range(4096)]
        mask = (1 << TURN_BITS) - 1
        return {
            i: sys.intern(
                cm[i >> TURN_BITS] + (tt[t] if (t := i & mask) < 4096 else f"{t:04d}")
            )
            for i in ids
        }

    def search_batch(
        self, queries: list[str], k: int = 50, timings: dict | None = None
    ) -> dict[str, SearchResult]:
        """Batched free-text BM25 top-k: ONE distributed set-evaluation
        pass for all queries (shared block scan + decode). Each query is
        answered as the disjunction of its scoring terms, its normalized
        TERM occurrences (NOT-subtrees excluded) — ranked-retrieval
        semantics; boolean filtering uses search().
        Duplicate query strings are answered once (the result dict is
        keyed by query string). `timings`, when passed, is filled with
        per-phase wall seconds (driver-tail attribution for the scaling
        bench)."""
        import time as _time

        marks = [("start", _time.time())]

        def mark(label: str) -> None:
            marks.append((label, _time.time()))

        queries = list(dict.fromkeys(queries))  # dedupe, keep first-seen order
        nodes = [qp.parse(q) for q in queries]
        # bulk-normalize every raw term across the batch in one vectorized
        # pass (per-term cold normalization costs ~2-4 ms of driver time)
        from .functions.normalize import prime_query_norm_cache

        raw_terms: list[str] = []
        for node in nodes:
            raw_terms.extend(qp.scoring_terms(node))
            raw_terms.extend(qp.collect_positive_terms(node))
        prime_query_norm_cache(raw_terms, self.normalize_cfg)
        mark("parse_normalize")

        occ_by_q = [self._query_tokens(node)[0] for node in nodes]
        all_tokens = sorted({t for occ in occ_by_q for _, t in occ})
        mark("tokens")
        lex = self.lexicon_for(all_tokens)
        mark("lexicon")
        weights = self._term_weights("bm25", lex)
        batch: dict[int, tuple] = {}
        for qid, occ in enumerate(occ_by_q):
            meta = self._term_meta(occ, weights)
            if meta:
                # ranked semantics: the OR of the scoring terms
                batch[qid] = (wand.disjunction(sorted(meta)), meta)
        out = {q: SearchResult(q, [], []) for q in queries}
        if not batch:  # no known term in any query: nothing to score
            return out
        known = sorted({t for _, meta in batch.values() for t in meta})
        per_q_np = self._boolean_topk_winners(batch, known, k, mark=mark)
        need_ids: set[int] = set()
        for rows in per_q_np.values():
            need_ids.update(d for d, _ in rows)
        id_map = self._doc_ids_for(sorted(need_ids))
        mark("id_resolution")
        for qid, rows in per_q_np.items():
            res = out[queries[qid]]
            for d, s in rows:
                res.docs.append(id_map[d])
                res.scores.append(s)
        mark("assemble")
        if timings is not None:
            for (_, t0), (label, t1) in zip(marks, marks[1:]):
                timings[label] = timings.get(label, 0.0) + (t1 - t0)
        return out

    def search_collect(self, query: str, k: int = 50, scorer: str = "bm25") -> SearchResult:
        # every path produces driver-side tuples: no local-DataFrame
        # round trip
        rows = self._search_rows(query, k, scorer)
        return SearchResult(
            query=query, docs=[r[0] for r in rows], scores=[r[2] for r in rows]
        )

    def search_es_shaped(self, query: str, k: int = 50, index_id: str = "tirs") -> dict:
        """ES-shaped hits envelope, the reference's result contract
        (`index_custom.py:789-797`, `query_processing_engine.py:639-645`):
        {"hits": {"total": {...}, "hits": [{_index,_id,_score,_source}]}}."""
        rows = self.search(query, k, hydrate=True).collect()
        hits = [
            {
                "_index": index_id,
                "_id": r["doc_id"],
                "_score": r["score"],
                "_source": {
                    "conv_id": r["conv_id"],
                    "turn_idx": r["turn_idx"],
                    "role": r["role"],
                    "text": r["text"],
                    "tool": r["tool"],
                    "ts": None if r["ts"] is None else str(r["ts"]),
                },
            }
            for r in rows
        ]
        return {
            "hits": {
                "total": {"value": len(hits), "relation": "eq"},
                "hits": hits,
            }
        }


def build(
    spark: SparkSession,
    transcripts: DataFrame,
    index_dir: str,
    cfg: IndexBuildConfig = IndexBuildConfig(),
    input_desc: str = "",
    **kw,
) -> InvertedIndex:
    build_index(spark, transcripts, index_dir, cfg, input_desc, **kw)
    return InvertedIndex(spark, index_dir)


def load(spark: SparkSession, index_dir: str) -> InvertedIndex:
    return InvertedIndex(spark, index_dir)
