"""Answer checking against the package's pure-Python oracle (``oracle.py``).

Every check runs after the timed region. Doc ids must match in order and
scores must be bit-identical.
"""

from __future__ import annotations

import math
import os

import pandas as pd
import pyarrow.parquet as pq

from text_indexing_and_retrieval_system_spark.functions.normalize import normalize_to_tokens
from text_indexing_and_retrieval_system_spark.operators import query_parser as qp
from text_indexing_and_retrieval_system_spark.oracle import OracleIndex


def with_doc_ids(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.copy()
    pdf["doc_id"] = pdf["conv_id"] + ":" + pdf["turn_idx"].map("{:04d}".format)
    return pdf


class LiveOracle(OracleIndex):
    """``OracleIndex`` that follows adds and deletes. ``avgdl`` is cached
    between updates (the parent recomputes it for every scored posting,
    which is quadratic at benchmark sizes); the cached value is the same
    expression, so scores stay bit-identical."""

    _avgdl: float | None = None
    # term -> the index's idf, for terms where it differs from the
    # oracle's by one unit in the last place (set by check_lexicon)
    idf_override: dict = {}
    idf_ulp_terms = 0  # most such terms seen in one check

    def _idf_bm25(self, term: str) -> float:
        got = self.idf_override.get(term)
        return got if got is not None else super()._idf_bm25(term)

    @property
    def avgdl(self) -> float:
        if self._avgdl is None:
            self._avgdl = sum(self.doclen.values()) / max(len(self.doclen), 1)
        return self._avgdl

    def add(self, docs: pd.DataFrame) -> None:
        for doc_id, tokens in zip(docs["doc_id"], normalize_to_tokens(docs["text"], self.cfg)):
            if doc_id in self.doclen:
                continue
            self.doclen[doc_id] = len(tokens)
            for pos, term in enumerate(tokens):
                self.postings.setdefault(term, {}).setdefault(doc_id, []).append(pos)
        self._avgdl = None

    def delete(self, doc_ids: list[str], texts: list[str]) -> None:
        for doc_id, tokens in zip(doc_ids, normalize_to_tokens(pd.Series(texts), self.cfg)):
            if self.doclen.pop(doc_id, None) is None:
                continue
            for term in set(tokens):
                plist = self.postings.get(term)
                if plist is not None:
                    plist.pop(doc_id, None)
                    if not plist:
                        del self.postings[term]
        self._avgdl = None


def ranked_equivalent(query: str) -> str:
    """``search_batch`` has ranked-retrieval semantics: its answer is the
    oracle's answer to the OR of the query's scoring terms."""
    terms = qp.scoring_terms(qp.parse(query))
    return " OR ".join(f'"{t}"' for t in terms)


def same_answer(oracle: OracleIndex, query: str, docs: list, scores: list, k: int) -> bool:
    want = oracle.search(query, k=k)
    return docs == [d for d, _ in want] and scores == [s for _, s in want]


def read_lexicon(index_dir: str) -> pd.DataFrame:
    return pq.read_table(os.path.join(index_dir, "lexicon"), columns=["term", "df", "idf"]).to_pandas()


def check_lexicon(oracle: LiveOracle, lex: pd.DataFrame, stats: dict) -> list[str]:
    """n_docs, avgdl and every term's df and idf against the oracle,
    exactly. The one tolerated difference is an idf one unit in the last
    place away from the oracle's: Spark's ``log`` and Python's
    ``math.log`` round differently for a few arguments. Such terms are
    counted in ``oracle.idf_ulp_terms`` and the oracle then scores with
    the index's idf, so every later score comparison stays bit-exact."""
    errors = []
    if stats["n_docs"] != oracle.n_docs:
        errors.append(f"n_docs {stats['n_docs']} != oracle {oracle.n_docs}")
    if stats["avgdl"] != oracle.avgdl:
        errors.append(f"avgdl {stats['avgdl']!r} != oracle {oracle.avgdl!r}")
    lex = lex[lex["term"] != ""]
    got = {t: int(d) for t, d in zip(lex["term"], lex["df"])}
    want = {t: len(p) for t, p in oracle.postings.items()}
    if got != want:
        diff = sorted(set(got.items()) ^ set(want.items()))[:5]
        errors.append(f"lexicon df differs from oracle ({len(got)} vs {len(want)} terms; e.g. {diff})")
    overrides, bad = {}, []
    n = oracle.n_docs
    for t, df, idf in zip(lex["term"], lex["df"], lex["idf"]):
        py = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        if idf == py:
            continue
        if abs(idf - py) <= math.ulp(py):
            overrides[t] = float(idf)
        else:
            bad.append(f"{t!r}: {idf!r} != oracle {py!r}")
    if bad:
        errors.append(f"idf differs from oracle for {len(bad)} terms, e.g. {bad[:3]}")
    oracle.idf_override = overrides
    oracle.idf_ulp_terms = max(oracle.idf_ulp_terms, len(overrides))
    return errors
