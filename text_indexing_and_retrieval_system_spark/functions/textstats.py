"""Text analysis for training-data pipelines: token counts, quality
scoring, language-ID heuristic, content fingerprints.

All built-in-function implementations (JVM-side, codegen-friendly) with
ANSI-SQL twins for the driver oracle. The stopword probe list is a fixed
20-word subset of the English list, embedded identically in both
dialects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PROBE_STOPWORDS = (
    "the of and to a in is it you that he was for on are with as his they at".split()
)


def sql_tokens(col):
    """The SQL-parity tokenizer as one array expression: runs of ASCII
    letters and digits, lower-cased — the Spark twin of the DuckDB
    oracles' `list_filter(string_split_regex(lower(regexp_replace(text,
    '[^a-zA-Z0-9]+', ' ', 'g')), ' '), x -> x <> '')`. Delimiters are
    decided BEFORE lower-casing, as there: lower-casing first would turn
    U+212A KELVIN SIGN into `k` and U+0130 into `i` + a combining dot,
    tokens the oracle never sees."""
    return F.filter(
        F.split(F.lower(F.regexp_replace(col, "[^a-zA-Z0-9]+", " ")), " "),
        lambda x: x != "",
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_chars_norm): whitespace-ish token count +
    character count of the raw text."""
    return docs.select(
        "doc_id",
        F.size(sql_tokens(F.col("text"))).alias("n_tokens"),
        F.length("text").alias("n_chars"),
    )


def sql_token_counts() -> str:
    return (
        "select doc_id, len(list_filter(string_split_regex(lower("
        "regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')), ' '), x -> x <> ''))"
        " as n_tokens, length(text) as n_chars from documents"
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, punct_bp, stop_bp, quality_bp):
    length/punctuation/stopword quality heuristic in integer basis
    points (0..10000) — exact integer arithmetic so any SQL engine
    reproduces it bit-for-bit (no float rounding at grid boundaries)."""
    toks = sql_tokens(F.col("text"))
    n_tok = F.size(toks).cast("long")
    n_chars = F.length("text").cast("long")
    n_alnum = F.length(F.regexp_replace("text", "[^a-zA-Z0-9 ]", "")).cast("long")
    stops = F.array([F.lit(w) for w in PROBE_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stops, t))).cast("long")
    punct_bp = ((n_chars - n_alnum) * 10000).cast("long") / F.greatest(n_chars, F.lit(1))
    punct_bp = F.floor(punct_bp).cast("long")
    stop_bp = F.floor((n_stop * 10000) / F.greatest(n_tok, F.lit(1))).cast("long")
    len_bp = F.least(n_tok * 100, F.lit(10000))
    quality_bp = F.floor(
        (len_bp * 50 + (10000 - punct_bp) * 25 + F.least(stop_bp * 5, F.lit(10000)) * 25)
        / 100
    ).cast("long")
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        punct_bp.alias("punct_bp"),
        stop_bp.alias("stop_bp"),
        quality_bp.alias("quality_bp"),
    )


def sql_quality_scores() -> str:
    stops_sql = ", ".join(f"'{w}'" for w in PROBE_STOPWORDS)
    return f"""
with b as (select doc_id,
  list_filter(string_split_regex(lower(regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')), ' '), x -> x <> '') as toks,
  length(text)::bigint as n_chars,
  length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))::bigint as n_alnum
  from documents),
c as (select doc_id, len(toks)::bigint as n_tok, n_chars, n_alnum,
  len(list_filter(toks, t -> t in ({stops_sql})))::bigint as n_stop from b),
bp as (select doc_id, n_tok,
  ((n_chars - n_alnum) * 10000) // greatest(n_chars, 1) as punct_bp,
  (n_stop * 10000) // greatest(n_tok, 1) as stop_bp,
  least(n_tok * 100, 10000) as len_bp
  from c)
select doc_id, n_tok as n_tokens, punct_bp, stop_bp,
  (len_bp * 50 + (10000 - punct_bp) * 25 + least(stop_bp * 5, 10000) * 25) // 100
    as quality_bp
from bp
"""


def langid(docs: DataFrame, threshold_bp: int = 800) -> DataFrame:
    """(doc_id, stop_hit_bp, lang_pred): n-gram-free heuristic —
    English-stopword hit rate in basis points; >= threshold_bp → 'en'.
    (A real pipeline swaps in fastText etc.; the Spark plumbing is
    identical.) Integer arithmetic for exact SQL parity."""
    toks = sql_tokens(F.col("text"))
    stops = F.array([F.lit(w) for w in PROBE_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stops, t))).cast("long")
    bp = F.floor((n_stop * 10000) / F.greatest(F.size(toks).cast("long"), F.lit(1))).cast(
        "long"
    )
    return docs.select(
        "doc_id",
        bp.alias("stop_hit_bp"),
        F.when(bp >= threshold_bp, F.lit("en")).otherwise(F.lit("other")).alias("lang_pred"),
    )


def sql_langid(threshold_bp: int = 800) -> str:
    stops_sql = ", ".join(f"'{w}'" for w in PROBE_STOPWORDS)
    return f"""
with b as (select doc_id,
  list_filter(string_split_regex(lower(regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')), ' '), x -> x <> '') as toks
  from documents),
c as (select doc_id,
  (len(list_filter(toks, t -> t in ({stops_sql})))::bigint * 10000)
    // greatest(len(toks), 1) as stop_hit_bp from b)
select doc_id, stop_hit_bp,
  case when stop_hit_bp >= {threshold_bp} then 'en' else 'other' end as lang_pred
from c
"""


def content_fingerprint(docs: DataFrame) -> DataFrame:
    """(doc_id, fingerprint): md5 of the normalized token stream —
    whitespace/punctuation-insensitive exact-content identity (the
    hash-based cousin of a rolling-hash fingerprint; see
    rolling_fingerprint for the windowed variant)."""
    norm = F.concat_ws(" ", sql_tokens(F.col("text")))
    return docs.select("doc_id", F.md5(norm).alias("fingerprint"))


def sql_content_fingerprint() -> str:
    return (
        "select doc_id, md5(array_to_string(list_filter(string_split_regex(lower("
        "regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')), ' '), x -> x <> ''), ' '))"
        " as fingerprint from documents"
    )


def rolling_fingerprints(docs: DataFrame, window: int = 8) -> DataFrame:
    """(doc_id, n_windows, min_fp): winnowing-style windowed fingerprints
    — md5 per token window, min selected (deterministic representative).
    Docs shorter than the window get n_windows=0 / min_fp=null."""
    from ..operators.dedup import _shingle_array

    base = docs.select("doc_id", sql_tokens(F.col("text")).alias("__toks"))
    fps = F.transform(_shingle_array(F.col("__toks"), window), F.md5)
    return base.select(
        "doc_id",
        F.size(fps).alias("n_windows"),
        F.array_min(fps).alias("min_fp"),
    )


def sql_rolling_fingerprints(window: int = 8) -> str:
    """DuckDB twin: explode the same token windows, md5 each, aggregate;
    left join preserves docs with fewer than `window` tokens."""
    return f"""
with b as (select doc_id,
  list_filter(string_split_regex(lower(regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')), ' '), x -> x <> '') as __toks
  from documents),
w as (select doc_id, md5(array_to_string(__toks[i + 1 : i + {window}], ' ')) as fp
      from b, unnest(range(0, greatest(len(__toks) - {window} + 1, 0))) as t(i)),
agg as (select doc_id, count(*) as n_windows, min(fp) as min_fp from w group by doc_id)
select b.doc_id, coalesce(agg.n_windows, 0)::bigint as n_windows, agg.min_fp
from b left join agg using (doc_id)
"""
