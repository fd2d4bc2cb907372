"""PySpark-native full-text indexing + BM25 retrieval engine.

A brand-new DataFrame-first engine with the query/data-processing
capabilities of the reference `Vinit2244/Text-Indexing-and-Retrieval-System`
(studied read-only at /root/reference), re-expressed Spark-first:

- tokenize/normalize via vectorized Arrow (pandas) UDFs
- inverted index as columnar tables (postings / doclen / stats), postings
  delta-gap + varint packed into binary payloads with per-block max scores
- boolean query algebra (AND/OR/NOT, phrase via positional
  intersection) and BM25 (k1=1.2, b=0.75) / TF-IDF / word-count ranking
  in one vectorized numpy kernel per doc-range bucket, driver-local or
  distributed; BM25 pure disjunctions take a block-max WAND scorer
- skew-aware (salted two-level merge), resumable (segment manifests)

No code is copied from the reference; reference file:line citations in
docstrings identify the behavior being reproduced.
"""

__version__ = "0.1.0"
