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
      → routing by gate (InvertedIndex._search_rows): driver-local over
        cached posting blocks when the terms' Σdf (and, for NOT, the
        corpus size) is under the size gates, else one distributed
        bucket-kernel job
      → top-k (score DESC, doc_id_int ASC) → optional hydration join

That gives two leaves: driver (_search_kernel_driver_rows) and
distributed (wand.boolean_topk). Both run the one kernel body,
wand.boolean_score_bucket, on a batch of query trees: a single query is
a batch of one, and search_batch sends its whole batch, each query as
the disjunction of its scoring terms, through the distributed leaf. The
two are bit-identical in scores and order (the golden suite runs both
against the same oracle). Control crosses driver→executor once per
query or batch on the distributed leaf (plus a dict-lookup id
resolution from the driver-cached convmap), matching SURVEY.md §3.1's
target.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass

import pandas as pd
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
        """(Re-)read stats.json + the build manifest and drop the lexicon
        cache. Call after `streaming.incremental.refresh_postings` /
        `add_documents` — a handle held across a refresh otherwise serves
        stale n_docs/avgdl/idf and keeps negative-caching new terms."""
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
        self._lex_cache: dict[str, dict | None] = {}
        doclen_df = getattr(self, "_doclen_df", None)
        if doclen_df is not None:
            doclen_df.unpersist()
        self._doclen_df = None
        # session-lifetime driver caches (loaded lazily, size-gated): the
        # full lexicon and the convmap turn two per-batch Spark jobs
        # (lexicon lookup, doc_id resolution join) into dict lookups
        self._full_lex: dict | None = None
        self._convmap: dict[int, str] | None = None
        self._turn_strs: list[str] | None = None
        self._postings_df = None
        self._n_terms = None
        # driver-local posting-block cache (the interactive head cache):
        # term -> its block frame, LRU-bounded by payload bytes. Cleared
        # here so a refresh can never serve stale blocks.
        from collections import OrderedDict

        self._block_cache: OrderedDict[tuple, pd.DataFrame] = OrderedDict()
        self._block_cache_bytes = 0
        # one-shot whole-index block preload state (see
        # _maybe_bulk_load_blocks): None = not yet decided, False =
        # over-budget (stay per-term), True = preloaded
        self._bulk_blocks: bool | None = None
        self._bulk_empty: pd.DataFrame | None = None
        self._total_df: int | None = None
        self._doclen_ids_cache = None
        for unit in ("refresh_postings", "stage3_postings"):
            info = man.read(unit)
            if info and info.get("n_terms") is not None:
                self._n_terms = int(info["n_terms"])
                break

    # ------------------------------ scans ------------------------------

    def blocks_for(self, tokens: list[str], with_positions: bool = False) -> DataFrame:
        """Posting blocks for normalized tokens — bucket-dir pruned +
        term predicate pushed to parquet row groups. The reader relation
        is built once per handle (a fresh spark.read.parquet costs a
        1-task schema/footer job per query).

        `with_positions=False` (the ranked/boolean default) drops the
        `pos_payload` column BEFORE any shuffle, so parquet column
        pruning keeps position bytes entirely off the hot path — only
        phrase queries pay for them."""
        if with_positions and not self.store_positions:
            raise ValueError(
                f"index at {self.dir} was built with store_positions=False; "
                "phrase queries require positions — rebuild with "
                "store_positions=True"
            )
        df = self._blocks_relation(with_positions)
        if not tokens:
            return df.filter(F.lit(False))
        return df.filter(self._bucket_term_filter(tokens))

    def _bucket_term_filter(self, tokens: list[str]):
        """`bucket IN (...) AND term IN (...)` over the tokens' term
        buckets, as ONE SQL expression: Column.isin costs a py4j round
        trip PER literal (~1.5 s at 2k terms, pure driver time); expr()
        ships one string and parses JVM-side. Same plan: bucket-dir
        partition pruning plus parquet row-group pushdown on term."""
        buckets = sorted({term_bucket_py(t, self.n_term_buckets) for t in tokens})
        # backslash FIRST, then quote: a term ending in '\' (reachable
        # with remove_punctuation=False) must not escape the closing quote
        quoted = ",".join(
            "'" + t.replace("\\", "\\\\").replace("'", "\\'") + "'" for t in tokens
        )
        return F.expr(
            f"bucket IN ({','.join(map(str, buckets))}) AND term IN ({quoted})"
        )

    def _blocks_relation(self, with_positions: bool) -> DataFrame:
        """The postings block relation (built once per handle), position
        payload dropped before any downstream operator unless requested."""
        if self._postings_df is None:
            self._postings_df = self.spark.read.parquet(
                os.path.join(self.dir, "postings")
            )
            if "pos_payload" not in self._postings_df.columns:
                raise ValueError(
                    f"index at {self.dir} predates the split payload/pos_payload "
                    "block format — rebuild it (positions were inlined in "
                    "`payload` before round 3)"
                )
        df = self._postings_df
        if not with_positions:
            df = df.drop("pos_payload")
        return df

    LEX_COLS = ["term", "df", "cf", "idf", "n_blocks"]
    LEX_DRIVER_CACHE_MAX = 5_000_000  # terms; ~0.5 GB driver budget
    # interactive head-cache gate: queries whose terms' total df is under
    # this run driver-local (one single-stage pruned fetch + in-process
    # scoring) instead of paying a 2-stage shuffle job (~0.4 s of
    # scheduling for microseconds of math at low df). ~8 payload
    # bytes/posting -> <=~32 MB fetched worst-case; on a 10^12-doc
    # deployment hot terms blow past the cap and take the distributed
    # kernel automatically.
    DRIVER_WAND_MAX_DF = 4_000_000
    BLOCK_CACHE_MAX_BYTES = 256 << 20  # driver posting-block LRU budget
    # interactive whole-index preload gate: when the ENTIRE postings
    # table's df total is under this cap (~12 payload bytes/posting ->
    # ~200 MB, inside the block-cache budget), the first driver-local
    # query fetches every block in ONE pruned collect instead of paying
    # a per-query Spark fetch job for each new term (measured
    # ~0.15-0.25 s of scheduling per sequential interactive query at
    # sf0.1 — the dominant cost of the wand_16 suite entry). Big
    # deployments blow past the cap (the 4.84M-turn scaling corpus is
    # ~110M df) and keep per-term fetches + the distributed kernel;
    # gate value is df-based (lexicon stats), not filesystem probing,
    # so it is storage-agnostic.
    BULK_PRELOAD_MAX_DF = 16_000_000
    DRIVER_NOT_MAX_DOCS = 2_000_000  # NOT complement needs the universe
    CONVMAP_DRIVER_CACHE_MAX = 5_000_000  # convs

    @staticmethod
    def _frame_bytes(g: pd.DataFrame) -> int:
        """LRU budget charge for one cached block frame: payload PLUS
        pos_payload when present — position blobs are typically several
        times the doc/tf payload, so counting payload alone let
        phrase-heavy workloads overshoot BLOCK_CACHE_MAX_BYTES."""
        if not len(g):
            return 0
        n = int(g["payload"].map(len).sum())
        if "pos_payload" in g.columns:
            n += int(g["pos_payload"].map(len).sum())
        return n

    def lexicon_for(self, tokens: list[str]) -> pd.DataFrame:
        """Pruned lexicon lookup with a per-instance driver cache
        (vocabulary is Zipfian — repeated query terms hit the cache;
        unknown terms are negatively cached). When the whole vocabulary
        fits the driver (manifest n_terms under the cap — true far beyond
        this sandbox), it is loaded ONCE and every later lookup is a dict
        hit instead of a Spark job; bigger vocabularies keep the pruned
        per-term scan."""
        if (
            self._full_lex is None
            and self._n_terms is not None
            and self._n_terms <= self.LEX_DRIVER_CACHE_MAX
        ):
            pdf = self.spark.read.parquet(
                os.path.join(self.dir, "lexicon")
            ).select(*self.LEX_COLS).toPandas()
            self._full_lex = {r["term"]: r for r in pdf.to_dict("records")}
            self._total_df = int(pdf["df"].sum() or 0)
        if self._full_lex is not None:
            rows = [self._full_lex[t] for t in tokens if t in self._full_lex]
            return pd.DataFrame(rows, columns=self.LEX_COLS)
        missing = [t for t in tokens if t not in self._lex_cache]
        if missing:
            df = self.spark.read.parquet(os.path.join(self.dir, "lexicon"))
            got = (
                df.filter(self._bucket_term_filter(missing))
                .select(*self.LEX_COLS)
                .toPandas()
            )
            for rec in got.to_dict("records"):
                self._lex_cache[rec["term"]] = rec
            for t in missing:
                self._lex_cache.setdefault(t, None)  # negative cache
        rows = [self._lex_cache[t] for t in tokens if self._lex_cache.get(t)]
        return pd.DataFrame(rows, columns=self.LEX_COLS)

    def doclen(self) -> DataFrame:
        """doclen table, persisted for the handle's lifetime — the NOT
        universe of the distributed kernel and the id-resolution fallback
        read it, and interactive serving re-reads it per query otherwise.
        reload() drops the cached relation. (On a 10^12-doc deployment the
        executors' storage tier holds it the same way.)"""
        if self._doclen_df is None:
            self._doclen_df = (
                self.spark.read.parquet(os.path.join(self.dir, "doclen"))
                # the contract columns: doclen/ is flat (build and
                # refresh write it once over all segments), but indexes
                # built before that hold doclen/chunk=<i>/ partitions
                .select("doc_id_int", "doc_id", "dl")
                .persist()
            )
        return self._doclen_df

    def docs(self) -> DataFrame:
        from .operators.segments import DOC_COLS

        # fresh builds write docs/chunk=<i>/ (per-chunk pipeline); select
        # the contract columns so the inferred partition column never
        # leaks (mirrors doclen())
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
        multiplies the kernel's impact: bm25 the lexicon idf, tfidf
        ln(N/df) computed here exactly as the oracle does, wordcount 1.0."""
        if scorer == "bm25":
            return dict(zip(lex["term"], map(float, lex["idf"])))
        if scorer == "tfidf":
            n_docs = int(self.stats["n_docs"])
            return {
                t: math.log(n_docs / int(df)) for t, df in zip(lex["term"], lex["df"])
            }
        return dict.fromkeys(lex["term"], 1.0)

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
        (wand.boolean_score_bucket), any shape and scorer. The gate picks
        where: the interactive head cache (see DRIVER_WAND_MAX_DF) scores
        small-df queries driver-local over cached block frames; NOT needs
        the complement universe (every doc id), so it additionally
        requires a small corpus. Everything else runs as one distributed
        bucket-kernel job. An unknown scorer raises before any Spark job."""
        if scorer not in SCORERS:
            raise ValueError(f"unknown scorer {scorer!r}; expected one of {SCORERS}")
        node = qp.parse(query)
        occ, all_tokens = self._query_tokens(node)
        tree = wand.normalize_tree(
            node, lambda s: normalize_query_terms([s], self.normalize_cfg)[0]
        )
        lex = self.lexicon_for(all_tokens)
        term_meta = self._term_meta(occ, self._term_weights(scorer, lex))
        needs_universe = wand.tree_has(tree, "not")
        driver = int(lex["df"].sum() or 0) <= self.DRIVER_WAND_MAX_DF and (
            not needs_universe
            or int(self.stats.get("n_docs") or 0) <= self.DRIVER_NOT_MAX_DOCS
        )
        impact = wand.bm25_impact if scorer == "bm25" else wand.tf_impact
        has_phrase = wand.tree_has(tree, "phrase")
        if driver:
            return self._search_kernel_driver_rows(
                tree, term_meta, all_tokens, k, has_phrase, needs_universe, impact
            )
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
        (doc_id_int, score) lists. The batch travels as a broadcast: as a
        plain closure capture it would be re-unpickled by every kernel
        task (grows with batch size); as a broadcast it is fetched once
        per worker process. `mark(label)` closes search_batch's timed
        phases."""
        trees = [tree for tree, _ in queries.values()]
        needs_universe = any(wand.tree_has(t, "not") for t in trees)
        with_positions = any(wand.tree_has(t, "phrase") for t in trees)
        bc = self.spark.sparkContext.broadcast(queries)
        try:
            local = wand.boolean_topk(
                self.blocks_for(tokens, with_positions=with_positions),
                bc,
                self.stats["avgdl"],
                k,
                doclen=self.doclen() if needs_universe else None,
                range_shift=self.range_shift,
                n_buckets=self.kernel_buckets,
                impact=impact,
            )
            mark("plan")
            lpdf = local.toPandas()
            mark("kernel_and_collect")
        finally:
            bc.unpersist(blocking=False)
        winners = wand.merge_query_topk_driver(lpdf, k)
        mark("driver_merge")
        return winners

    def _doclen_ids(self) -> "np.ndarray":
        """Sorted int64 doc-id universe, driver-cached (gated by
        DRIVER_NOT_MAX_DOCS at the call site)."""
        if self._doclen_ids_cache is None:
            import numpy as np

            pdf = self.doclen().select("doc_id_int").toPandas()
            self._doclen_ids_cache = np.sort(
                pdf["doc_id_int"].to_numpy(dtype="int64")
            )
        return self._doclen_ids_cache

    def _search_kernel_driver_rows(
        self,
        tree,
        term_meta: dict,
        all_tokens: list[str],
        k: int,
        has_phrase: bool,
        needs_universe: bool,
        impact,
    ) -> list[tuple]:
        """The driver leaf, every query shape: the distributed path's
        kernel body (wand.boolean_score_bucket) called ONCE in-process on a
        batch of one over the whole cached block frame, with the whole
        doc-id universe for NOT. Exact by the packing argument of
        wand._with_slot: a group of whole range buckets scores like one
        bigger bucket, so the single call is bit-identical to the
        per-bucket kernels, without the 2-stage shuffle job's scheduling
        floor."""
        pdf = self._blocks_pdf_for(all_tokens, with_positions=has_phrase)
        if pdf is None:
            pdf = pd.DataFrame(
                columns=list(wand.KERNEL_COLS) + (["pos_payload"] if has_phrase else [])
            )
        out = wand.boolean_score_bucket(
            pdf,
            {0: (tree, term_meta)},
            self.stats["avgdl"],
            k,
            universe=self._doclen_ids() if needs_universe else None,
            impact=impact,
        )
        return self._resolve(wand.merge_query_topk_driver(out, k).get(0, []))

    # Former driver MaxScore leaf, kept by name only for
    # perfbench/tracing.py, which wraps it at install; nothing calls it.
    _search_wand_driver_rows = _search_kernel_driver_rows

    def _blocks_pdf_for(
        self, tokens: list[str], with_positions: bool = False
    ) -> pd.DataFrame | None:
        """Per-term block frames through the driver LRU cache; missing
        terms fetched in ONE single-stage pruned collect (parquet bucket
        dirs + row-group IN pruning; no shuffle, no python workers).
        Position-bearing frames are cached under a separate key so the
        ranked path never carries position bytes. Returns None when no
        token has postings."""
        cols = list(wand.KERNEL_COLS) + (["pos_payload"] if with_positions else [])
        keys = [(t, with_positions) for t in tokens]
        missing = [t for t in tokens if (t, with_positions) not in self._block_cache]
        if missing and not with_positions and self._maybe_bulk_load_blocks():
            # whole index preloaded: a missing term that is absent from
            # the (driver-cached) lexicon has no postings — negative-
            # cache the shared empty frame. A missing term that IS in
            # the lexicon was LRU-EVICTED after the preload and must be
            # re-fetched per-term (treating it as empty would silently
            # drop its postings — caught by test_block_cache_lru_eviction)
            refetch = []
            for t in missing:
                if (t, False) in self._block_cache:
                    continue  # just preloaded
                if t in self._full_lex:
                    refetch.append(t)
                else:
                    self._block_cache[(t, False)] = self._bulk_empty
            missing = refetch
        if missing:
            pdf = (
                self.blocks_for(missing, with_positions=with_positions)
                .select(*cols)
                .toPandas()
            )
            groups = {t: g for t, g in pdf.groupby("term", sort=False)}
            empty = pdf.iloc[0:0]
            for t in missing:
                g = groups.get(t, empty)
                self._block_cache[(t, with_positions)] = g
                self._block_cache_bytes += self._frame_bytes(g)
        frames = []
        for key in keys:
            g = self._block_cache[key]
            self._block_cache.move_to_end(key)  # LRU touch
            if len(g):
                frames.append(g)
        # evict AFTER the lookups: this call's keys were just touched, so
        # the cold end goes first; references held in `frames` stay valid
        # even if an over-budget fetch immediately evicts its own keys
        while (
            self._block_cache_bytes > self.BLOCK_CACHE_MAX_BYTES
            and self._block_cache
        ):
            _, old = self._block_cache.popitem(last=False)
            self._block_cache_bytes -= self._frame_bytes(old)
        if not frames:
            return None
        return pd.concat(frames, ignore_index=True)

    def _maybe_bulk_load_blocks(self) -> bool:
        """One-shot driver preload of ALL posting blocks (no positions)
        into the per-term block cache. Returns True when the cache holds
        the whole index. Gated on the driver-cached lexicon's total df
        (BULK_PRELOAD_MAX_DF) so the decision needs no extra Spark job
        and no filesystem probing; decided once per handle. Positions
        stay per-term — phrase queries are the rare consumer and their
        payloads are several times larger."""
        if self._bulk_blocks is not None:
            return self._bulk_blocks
        if self._full_lex is None or self._total_df is None:
            return False  # lexicon not driver-cached: stay per-term
        if self._total_df > self.BULK_PRELOAD_MAX_DF:
            self._bulk_blocks = False
            return False
        pdf = self._blocks_relation(False).select(*wand.KERNEL_COLS).toPandas()
        # the df gate only estimates size, the LRU charges real bytes: a
        # preload over BLOCK_CACHE_MAX_BYTES would be evicted piecemeal
        # and refetched per term on every later query, so drop it
        if self._block_cache_bytes + self._frame_bytes(pdf) > self.BLOCK_CACHE_MAX_BYTES:
            self._bulk_blocks = False
            return False
        self._bulk_empty = pdf.iloc[0:0]
        for t, g in pdf.groupby("term", sort=False):
            old = self._block_cache.get((t, False))
            if old is not None:  # fetched per-term before the lexicon cached
                self._block_cache_bytes -= self._frame_bytes(old)
            self._block_cache[(t, False)] = g
            self._block_cache_bytes += self._frame_bytes(g)
        self._bulk_blocks = True
        return True

    def _doc_ids_for(self, ids: list[int]) -> dict[int, str]:
        if not ids:
            return {}
        # doc_id strings are derivable from doc_id_int + the convmap
        # (conv_int = id >> TURN_BITS); when the convmap fits the driver
        # it is loaded once and resolution is pure python — no Spark job.
        n_convs = self.stats.get("n_convs")
        if (
            self._convmap is None
            and n_convs is not None
            and n_convs <= self.CONVMAP_DRIVER_CACHE_MAX
        ):
            pdf = self.spark.read.parquet(
                os.path.join(self.dir, "convmap")
            ).toPandas()
            # stored colon-suffixed: resolution below is one dict lookup
            # + one table index + one concat per id (the f-string loop
            # was ~1.6 us/id — a visible driver-tail constant at 45k ids
            # per 1024-query batch)
            self._convmap = {
                int(c): s + ":" for c, s in zip(pdf["conv_int"], pdf["conv_id"])
            }
        if self._convmap is not None:
            from .operators.index_build import TURN_BITS

            cm = self._convmap
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
                i: cm[i >> TURN_BITS]
                + (tt[t] if (t := i & mask) < 4096 else f"{t:04d}")
                for i in map(int, ids)
            }
        if len(ids) <= 256:
            # small: literal IN-list gets parquet min/max pruning
            scan = self.doclen().filter(F.col("doc_id_int").isin(ids))
        else:
            # large: an IN-list of thousands of literals makes Catalyst
            # plan compilation itself the bottleneck (measured ~9 s at
            # 12k ids); broadcast-join a one-column id relation instead
            ids_df = self.spark.createDataFrame(
                [(int(i),) for i in ids], "doc_id_int long"
            )
            scan = self.doclen().join(F.broadcast(ids_df), "doc_id_int")
        got = scan.select("doc_id_int", "doc_id").collect()
        return {r["doc_id_int"]: r["doc_id"] for r in got}

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
        if not all_tokens:
            return {q: SearchResult(q, [], []) for q in queries}
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
        known = sorted({t for _, meta in batch.values() for t in meta})
        per_q_np = self._boolean_topk_winners(batch, known, k, mark=mark)
        need_ids: set[int] = set()
        for rows in per_q_np.values():
            need_ids.update(d for d, _ in rows)
        id_map = self._doc_ids_for(sorted(need_ids))
        mark("id_resolution")
        out = {q: SearchResult(q, [], []) for q in queries}
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

    def search_collect(
        self, query: str, k: int = 50, scorer: str = "bm25", hydrate: bool = False
    ) -> SearchResult:
        if hydrate:
            got = self.search(query, k, scorer=scorer, hydrate=True).collect()
            rows = [(r["doc_id"], r["doc_id_int"], r["score"]) for r in got]
        else:
            # every path produces driver-side tuples — skip the
            # local-DataFrame round trip entirely
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
