"""Tokenize/normalize pipeline — one vectorized pandas string pass.

Reproduces the reference's fixed preprocessing order — lowercase →
stopword-removal → char-strip → stem → (lemmatize) — documented at
`/root/reference/code/dataset_managers/dataset_news.py:283-308` and
implemented per-step at `preprocessor.py:15-106`, but as ONE vectorized
pandas pass per Arrow batch instead of five per-document Python string
rewrites:

    series of text  →  explode to tokens  →  isin() stopword filter
    →  regex char-strip (str.replace, vectorized)  →  memoized stem over
    unique tokens  →  flat (row id, token) arrays (normalize_flat)

The build's tokenize groups the flat arrays with numpy; the query side
and the oracle regroup them to one token list per text
(normalize_to_tokens). pandas stays here because Python's Unicode `\\w`,
`str.lower` and `str.split` are the tokenizer contract (pyarrow's RE2
`\\w` is ASCII-only).

Equivalences that make this identical to the reference semantics:
- the reference splits/rejoins on whitespace at every step, so token
  boundaries are fixed by the FIRST whitespace split; char-strip never
  introduces whitespace, so per-token stripping is equivalent
  (`preprocessor.py:71-78`).
- tokens that become empty after stripping vanish in the reference's
  final `content.split()` (`index_custom.py:216`); we drop them before
  assigning positions, so positions agree.
- char classes: punctuation/special = not alnum, not space
  (`preprocessor.py:73-75`) → regex `[^\\w\\s]|_` (underscore is not
  alnum); numbers = `\\d`.

The only per-word Python is the memoized Porter stem over *unique*
tokens of a batch (Zipfian vocabulary ⇒ tiny); everything else is
pandas/numpy vectorized. Queries are normalized with the identical
pipeline so index and query vocabularies always agree (the reference's
runtime query preprocessing is a no-op because its query sets are
generated pre-stemmed — `query_processing_engine.py:180-181`).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from .lancaster import MemoLancaster
from .morphy import MemoMorphy
from .porter import MemoStemmer
from .porter2 import MemoPorter2
from .stopwords import stopwords_for


@dataclass(frozen=True)
class NormalizeConfig:
    """Mirrors reference `config.yaml:11-21` preprocessing block."""

    lowercase: bool = True
    remove_punctuation: bool = True
    remove_numbers: bool = True
    remove_special_characters: bool = True
    stopword_languages: tuple[str, ...] = ("english",)
    stemming: str | None = "porter"  # porter | snowball/porter2 | lancaster | None
    lemmatization: str | None = None  # None | morphy (wordnet needs corpus)

    def strip_pattern(self) -> str | None:
        parts = []
        if self.remove_punctuation or self.remove_special_characters:
            parts.append(r"[^\w\s]|_")
        if self.remove_numbers:
            parts.append(r"\d")
        return "|".join(parts) if parts else None


DEFAULT_CONFIG = NormalizeConfig()

_porter2 = MemoPorter2()
_STEMMERS = {
    "porter": MemoStemmer().stem_many,
    "snowball": _porter2.stem_many,
    "porter2": _porter2.stem_many,
    "lancaster": MemoLancaster().stem_many,
}
_lemmatizer = MemoMorphy()


def _map_unique(tokens: pd.Series, fn) -> pd.Series:
    """`fn` (a memoized word list -> word list) over the unique tokens,
    mapped back onto every token."""
    uniq = pd.unique(tokens)
    return tokens.map(dict(zip(uniq, fn(uniq))))


def normalize_flat(texts, cfg: NormalizeConfig = DEFAULT_CONFIG) -> tuple[np.ndarray, np.ndarray]:
    """Texts (a sequence or Arrow string array; None = empty) -> (row
    ids, tokens): every normalized token as one flat array, in row order
    and token order within a row, with the int64 position of its text in
    `texts`. A token's position in its text is its rank among its row's
    tokens. Vectorized; the only Python loop is memoized stemming over
    the batch's unique tokens."""
    if cfg.lemmatization not in (None, "morphy"):
        raise NotImplementedError(
            "lemmatization=wordnet needs a WordNet corpus (unavailable in "
            "this environment); use 'morphy' for the documented rule "
            "approximation; reference default is null (config.yaml:17)"
        )
    s = pd.Series(np.asarray(texts, dtype=object)).fillna("")
    if cfg.lowercase:
        s = s.str.lower()

    tokens = s.str.split()
    exploded = tokens.explode()
    mask_valid = exploded.notna()
    exploded = exploded[mask_valid]

    if cfg.stopword_languages:
        stops: set[str] = set()
        for lang in cfg.stopword_languages:
            stops |= stopwords_for(lang)
        # reference lowercases the word for the membership test
        # (`preprocessor.py:50`) even when lowercase=False upstream
        keep = ~exploded.str.lower().isin(stops)
        exploded = exploded[keep]

    pat = cfg.strip_pattern()
    if pat is not None:
        exploded = exploded.str.replace(pat, "", regex=True)
    exploded = exploded[exploded != ""]

    if cfg.stemming is not None:
        if cfg.stemming not in _STEMMERS:
            raise NotImplementedError(
                f"stemming algorithm {cfg.stemming!r} not available "
                "(porter | snowball/porter2 | lancaster)"
            )
        exploded = _map_unique(exploded, _STEMMERS[cfg.stemming])
    if cfg.lemmatization == "morphy":
        # reference order is stem THEN lemmatize when both are on
        # (preprocessor.py applies them as successive pipeline steps)
        exploded = _map_unique(exploded, _lemmatizer.lemmatize_many)

    return exploded.index.to_numpy(dtype=np.int64), exploded.to_numpy(dtype=object)


def normalize_to_tokens(texts: pd.Series, cfg: NormalizeConfig = DEFAULT_CONFIG) -> pd.Series:
    """Series[str] -> Series[list[str]] of normalized tokens (positions =
    list index): normalize_flat regrouped per text."""
    rows, tokens = normalize_flat(texts, cfg)
    counts = np.bincount(rows, minlength=len(texts))
    ends = np.cumsum(counts)
    starts = ends - counts
    return pd.Series(
        [tokens[a:b].tolist() for a, b in zip(starts, ends)], index=texts.index, dtype=object
    )


_QUERY_NORM_CACHE: dict[tuple[str, NormalizeConfig], tuple[str, ...]] = {}
_QUERY_NORM_CACHE_MAX = 262144


def prime_query_norm_cache(
    terms: list[str], cfg: NormalizeConfig = DEFAULT_CONFIG
) -> None:
    """Bulk-normalize many query terms in ONE vectorized pandas pass and
    prime the per-term cache. The per-term pipeline costs ~2-4 ms of
    pandas overhead COLD, so a 256-query batch with a few hundred fresh
    terms pays >1 s of constant driver time without this (which is pure
    serial floor in the N->4N scaling criterion)."""
    fresh = [t for t in dict.fromkeys(terms) if (t, cfg) not in _QUERY_NORM_CACHE]
    if not fresh:
        return
    lists = normalize_to_tokens(pd.Series(fresh), cfg)
    if len(_QUERY_NORM_CACHE) + len(fresh) > _QUERY_NORM_CACHE_MAX:
        _QUERY_NORM_CACHE.clear()
    for t, toks in zip(fresh, lists):
        _QUERY_NORM_CACHE[(t, cfg)] = tuple(toks)


def normalize_query_terms(
    terms: list[str], cfg: NormalizeConfig = DEFAULT_CONFIG
) -> list[list[str]]:
    """Normalize query terms/phrases with the identical pipeline.

    One token-list per input string (a TERM may normalize to 0, 1, or N
    tokens; a PHRASE body normalizes to its token sequence). Memoized per
    (term, config) — query batches repeat pool terms heavily; callers
    with many queries should prime_query_norm_cache() first.
    """
    if not terms:
        return []
    missing = [t for t in terms if (t, cfg) not in _QUERY_NORM_CACHE]
    if missing:
        prime_query_norm_cache(missing, cfg)
    return [list(_QUERY_NORM_CACHE[(t, cfg)]) for t in terms]
