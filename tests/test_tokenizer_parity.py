"""The Spark SQL-parity tokenizer against the DuckDB oracles' on
non-ASCII text: both must split on the same delimiters. Lower-casing
before splitting turned U+212A KELVIN SIGN into `k` and U+0130 into `i`
plus a combining dot — tokens the oracle, which replaces delimiters
first, never emits."""

import duckdb
import pandas as pd

from text_indexing_and_retrieval_system_spark.functions import textstats
from text_indexing_and_retrieval_system_spark.operators import dedup, docquery

ROWS = [
    ("kelvin", "5\u212a resistor"),  # KELVIN SIGN lower-cases to "k"
    ("dotted-i", "\u0130stanbul port"),  # "İ" lower-cases to "i" + U+0307
    ("nbsp", "no\u00a0break\u00a0space here"),
    ("combining", "cafe\u0301 au lait, CAFE\u0301"),
    ("fullwidth", "order \uff11\uff12\uff13 now 456"),
    ("mixed", "\u212aelvin \u0130I \u00df \u1e9e Stra\u00dfe x\u0301y"),
    ("ascii", "Plain ASCII: 42 Words, again!"),
]


def _oracle(sql: str, pdf: pd.DataFrame) -> pd.DataFrame:
    con = duckdb.connect()
    con.register("documents", pdf)
    return con.execute(sql).df()


def _rows(df: pd.DataFrame, cols) -> list[tuple]:
    return sorted(tuple(r) for r in df[cols].itertuples(index=False))


def test_spark_tokenizer_matches_sql_oracle_on_non_ascii(spark):
    pdf = pd.DataFrame(ROWS, columns=["doc_id", "text"])
    docs = spark.createDataFrame(pdf)
    cols = ["doc_id", "term", "pos"]
    got = docquery.simple_tokens(docs).toPandas()
    want = _oracle(docquery.SQL_TOKS, pdf)
    assert _rows(got, cols) == _rows(want, cols)
    got = textstats.token_counts(docs).toPandas()
    want = _oracle(textstats.sql_token_counts(), pdf)
    assert _rows(got, ["doc_id", "n_tokens"]) == _rows(want, ["doc_id", "n_tokens"])
    got = dedup.shingles(docs, n=2).toPandas()
    want = _oracle(dedup.sql_shingles(2), pdf)
    assert _rows(got, ["doc_id", "shingle"]) == _rows(want, ["doc_id", "shingle"])
