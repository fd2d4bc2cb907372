"""Fulltext operators expressed directly over a documents DataFrame.

These are the engine's operators (SURVEY.md §2: P6-P7, F1-F5, B1-B4, R2,
R7, E8 pools) in their *composable DataFrame form* — tokenization on the
fly, no prebuilt index — used by the driver correctness gate, where every
query is matched 1:1 against an ANSI-SQL oracle run by DuckDB on the same
parquet. The indexed path (compressed blocks + WAND) is exercised by the
pytest golden suite on the transcript corpus; both paths share identical
scoring math.

Tokenizer here is the SQL-parity one (non-alphanumeric runs → space,
lowercase, split: textstats.sql_tokens) so the oracle can reproduce it
exactly; the full reference pipeline (stopwords/stemming) lives in
functions/normalize.py.

BM25/TFIDF per SURVEY.md §2.6; scores rounded to 4 decimals on both
sides to absorb last-ulp differences between JVM and C log()
implementations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.textstats import sql_tokens

K1 = 1.2
B = 0.75

# SQL fragment shared by every DuckDB oracle: the same tokenization
SQL_TOKS = (
    "select doc_id, unnest(__toks) as term, generate_subscripts(__toks, 1) - 1 as pos "
    "from (select doc_id, list_filter(string_split_regex(lower("
    "regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')), ' '), x -> x <> '') as __toks "
    "from documents)"
)


def simple_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, term, pos) — JVM-side only (split +
    posexplode stay inside whole-stage codegen; no Python)."""
    toks = sql_tokens(F.col("text"))
    return docs.select("doc_id", F.posexplode(toks).alias("pos", "term")).select(
        "doc_id", "term", "pos"
    )


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# ----------------------------- boolean (F1-F5) -----------------------------
#
# Round-6 shape (guide §2.4 "remove shuffles outright"): every boolean
# operator is ONE tokenize scan with per-row membership flags, aggregated
# per doc_id — instead of one full tokenize scan PER TERM feeding
# semi/anti joins (bool_and was 2 scans + broadcast join + 2 exchanges;
# bool_or_not was 3 scans; phrase_match 2 scans + an adjacency join).
# The per-doc max() aggregation preserves exact set semantics even when
# a doc_id spans several rows, so results are bit-identical to the
# join formulation (and the DuckDB oracles) for ANY input.


def term_postings(docs: DataFrame, term: str) -> DataFrame:
    return (
        docs.filter(F.array_contains(sql_tokens(F.col("text")), term)).select("doc_id").distinct()
    )


def bool_and(docs: DataFrame, t1: str, t2: str) -> DataFrame:
    toks = sql_tokens(F.col("text"))
    flags = docs.select(
        "doc_id",
        F.array_contains(toks, t1).alias("__h1"),
        F.array_contains(toks, t2).alias("__h2"),
    ).filter(F.col("__h1") | F.col("__h2"))
    return (
        flags.groupBy("doc_id")
        .agg(F.max("__h1").alias("__h1"), F.max("__h2").alias("__h2"))
        .filter(F.col("__h1") & F.col("__h2"))
        .select("doc_id")
    )


def bool_or_not(docs: DataFrame, t1: str, t2: str, t3: str) -> DataFrame:
    """(t1 OR t2) AND NOT t3."""
    toks = sql_tokens(F.col("text"))
    flags = docs.select(
        "doc_id",
        F.array_contains(toks, t1).alias("__h1"),
        F.array_contains(toks, t2).alias("__h2"),
        F.array_contains(toks, t3).alias("__h3"),
    ).filter(F.col("__h1") | F.col("__h2") | F.col("__h3"))
    return (
        flags.groupBy("doc_id")
        .agg(
            F.max("__h1").alias("__h1"),
            F.max("__h2").alias("__h2"),
            F.max("__h3").alias("__h3"),
        )
        .filter((F.col("__h1") | F.col("__h2")) & ~F.col("__h3"))
        .select("doc_id")
    )


def phrase_match(docs: DataFrame, w1: str, w2: str) -> DataFrame:
    """docs containing the 2-word phrase — positional adjacency over
    per-row position arrays, pooled per doc_id (identical to the
    two-sided positional join: a doc matches iff some pos p has w1 at p
    and w2 at p+1 within the doc's pooled position sets)."""

    def positions_of(word: str):
        # 0-based positions where the token equals `word`; encoded +1 so
        # the sentinel 0 can be filtered out without a nullable array
        return F.filter(
            F.transform(
                F.col("__toks"),
                lambda x, i: F.when(x == F.lit(word), i + 1).otherwise(F.lit(0)),
            ),
            lambda v: v > 0,
        )

    base = docs.select("doc_id", sql_tokens(F.col("text")).alias("__toks")).select(
        "doc_id",
        positions_of(w1).alias("__pa"),
        positions_of(w2).alias("__pb"),
    )
    pooled = (
        base.filter((F.size("__pa") > 0) | (F.size("__pb") > 0))
        .groupBy("doc_id")
        .agg(
            F.flatten(F.collect_list("__pa")).alias("__pa"),
            F.flatten(F.collect_list("__pb")).alias("__pb"),
        )
    )
    return pooled.filter(
        F.arrays_overlap(
            F.transform(F.col("__pa"), lambda a: a + 1), F.col("__pb")
        )
    ).select("doc_id")


# --------------------------- stats (B4, P7, doclen) ---------------------------


def doclen(docs: DataFrame) -> DataFrame:
    toks = simple_tokens(docs)
    return toks.groupBy("doc_id").agg(F.count("*").alias("dl"))


def corpus_stats(docs: DataFrame) -> DataFrame:
    return doclen(docs).agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("dl"), 6).alias("avgdl"),
        F.sum("dl").alias("total_tokens"),
    )


def word_freq_top(docs: DataFrame, n: int = 50) -> DataFrame:
    toks = simple_tokens(docs)
    return (
        toks.groupBy("term")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("term"))
        .limit(n)
    )


def term_stats(docs: DataFrame, min_df: int = 100) -> DataFrame:
    """lexicon view: df (docs containing term) + cf (total occurrences)."""
    toks = simple_tokens(docs)
    return (
        toks.groupBy("term")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count("*").alias("cf"),
        )
        .filter(F.col("df") >= min_df)
        .orderBy(F.desc("df"), F.asc("term"))
    )


# ----------------------------- ranking (R2, B2-B3) -----------------------------


def _tf_dl_projection(docs: DataFrame, terms: list[str]) -> DataFrame:
    """One tokenize pass -> (doc_id, dl, tf0..tfm): per-term tf as array
    `filter` sizes over the bound token array (no explode, no shuffle).
    Zero-token docs are dropped (they are outside the oracle's doclen
    universe)."""
    base = docs.select("doc_id", sql_tokens(F.col("text")).alias("__toks"))

    def tf_col(term: str):
        # NB: a single-arg lambda — F.filter interprets a second lambda
        # parameter as the element index
        return F.size(F.filter(F.col("__toks"), lambda x: x == F.lit(term)))

    cols = [F.size("__toks").cast("long").alias("dl")]
    for i, t in enumerate(terms):
        cols.append(tf_col(t).cast("long").alias(f"tf{i}"))
    return base.select("doc_id", *cols).filter(F.col("dl") > 0)


def ranked_topk(docs: DataFrame, terms: list[str], scorer: str, k: int = 20) -> DataFrame:
    """Free-text disjunctive top-k: sum of per-term contributions over
    the union of posting lists; (score DESC, doc_id ASC) total order.

    Duplicate entries in `terms` are deduplicated (first occurrence
    wins): the per-term tf columns are keyed by position, so a repeated
    term would otherwise be scored twice, diverging from the SQL
    oracles' DISTINCT-term semantics.

    Two jobs, ONE tokenize scan (round 6; guide §1.2 "don't compute
    things twice"): the (doc_id, dl, tf0..tfm) projection is
    localCheckpoint-materialized (tiny: one narrow row per doc), so
    1. the one-row stats aggregate (n_docs, avgdl, per-term df) reads
       the materialized projection, collected and folded into the
       scoring expression as literals (at 100 TB these corpus stats come
       from the index manifest instead — see engine.InvertedIndex — so
       the literal fold is exactly the deployment shape);
    2. the scoring pass reads the same materialized projection ->
       score expression -> TakeOrderedAndProject(k).
    Before round 6 both passes re-ran the tokenize+projection scan
    (2 full corpus tokenizations per query).
    """
    terms = list(dict.fromkeys(terms))
    proj = _tf_dl_projection(docs, terms).localCheckpoint()
    stats = proj.agg(
        F.count("*").alias("n"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(terms))
        ],
    ).collect()[0]
    n, avgdl = stats["n"], stats["avgdl"]

    score = F.lit(0.0)
    any_hit = F.lit(False)
    for i in range(len(terms)):
        df_t = stats[f"df{i}"]
        if not df_t:
            continue  # term absent from corpus: contributes nothing
        tfd = F.col(f"tf{i}").cast("double")
        if scorer == "wordcount":
            contrib = tfd
        elif scorer == "tfidf":
            # same float expression tree as the SQL oracle: ln(n/df) with
            # n double, df double (tf=0 rows multiply it by 0.0 exactly)
            contrib = tfd * F.log(F.lit(float(n)) / F.lit(float(df_t)))
        elif scorer == "bm25":
            idf = F.log(
                F.lit(1.0)
                + (F.lit(float(n)) - F.lit(float(df_t)) + F.lit(0.5))
                / (F.lit(float(df_t)) + F.lit(0.5))
            )
            denom = tfd + F.lit(K1) * (
                F.lit(1.0 - B)
                + (F.lit(B) * F.col("dl").cast("double")) / F.lit(float(avgdl))
            )
            contrib = idf * (tfd * F.lit(K1 + 1.0) / denom)
        else:
            raise ValueError(scorer)
        score = score + contrib
        any_hit = any_hit | (F.col(f"tf{i}") > 0)

    return (
        proj.filter(any_hit)
        .select("doc_id", F.round(score, 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


# ------------------------------ SQL oracles ------------------------------


def sql_term_postings(term: str) -> str:
    return (
        f"select distinct doc_id from ({SQL_TOKS}) where term = '{term}' order by doc_id"
    )


def sql_bool_and(t1: str, t2: str) -> str:
    return (
        f"select distinct doc_id from ({SQL_TOKS}) where term = '{t1}' "
        f"and doc_id in (select doc_id from ({SQL_TOKS}) where term = '{t2}')"
    )


def sql_bool_or_not(t1: str, t2: str, t3: str) -> str:
    return (
        f"select distinct doc_id from ({SQL_TOKS}) where term in ('{t1}', '{t2}') "
        f"and doc_id not in (select doc_id from ({SQL_TOKS}) where term = '{t3}')"
    )


def sql_phrase(w1: str, w2: str) -> str:
    return (
        f"with p as ({SQL_TOKS}) "
        f"select distinct a.doc_id from p a join p b on a.doc_id = b.doc_id "
        f"and b.pos = a.pos + 1 where a.term = '{w1}' and b.term = '{w2}'"
    )


def sql_doclen() -> str:
    return f"select doc_id, count(*) as dl from ({SQL_TOKS}) group by doc_id"


def sql_corpus_stats() -> str:
    return (
        f"with d as (select doc_id, count(*) as dl from ({SQL_TOKS}) group by doc_id) "
        "select count(*) as n_docs, round(avg(dl), 6) as avgdl, "
        "sum(dl)::bigint as total_tokens from d"
    )


def sql_word_freq_top(n: int = 50) -> str:
    return (
        f"select term, count(*) as freq from ({SQL_TOKS}) group by term "
        f"order by freq desc, term asc limit {n}"
    )


def sql_term_stats(min_df: int = 100) -> str:
    return (
        f"select term, count(distinct doc_id) as df, count(*) as cf "
        f"from ({SQL_TOKS}) group by term having df >= {min_df} "
        "order by df desc, term asc"
    )


def sql_ranked_topk(terms: list[str], scorer: str, k: int = 20) -> str:
    terms_sql = ", ".join(f"'{t}'" for t in terms)
    base = f"""
with toks as ({SQL_TOKS}),
d as (select doc_id, count(*) as dl from toks group by doc_id),
s as (select count(*)::double as n, avg(dl) as avgdl from d),
tf as (select term, doc_id, count(*) as tf from toks
       where term in ({terms_sql}) group by term, doc_id),
dfx as (select term, count(*) as df from tf group by term)
"""
    if scorer == "wordcount":
        contrib = "tf.tf::double"
    elif scorer == "tfidf":
        contrib = "tf.tf::double * ln(s.n / dfx.df::double)"
    elif scorer == "bm25":
        contrib = (
            "ln(1.0 + (s.n - dfx.df + 0.5) / (dfx.df + 0.5)) * "
            f"(tf.tf::double * {K1 + 1.0} / "
            f"(tf.tf::double + {K1} * ({1.0 - B} + ({B} * d.dl::double) / s.avgdl)))"
        )
    else:
        raise ValueError(scorer)
    return base + (
        f"select tf.doc_id, round(sum({contrib}), 4) as score "
        "from tf join dfx using (term) join d on tf.doc_id = d.doc_id, s "
        "group by tf.doc_id "
        f"order by score desc, tf.doc_id asc limit {k}"
    )
