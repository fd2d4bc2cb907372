"""Physical-plan audits: the optimizations we rely on must be visible in
the actual plans (SURVEY.md §4: pushdown, pruning, broadcast, codegen)."""

import pytest
from pyspark.sql import functions as F

from text_indexing_and_retrieval_system_spark.operators import docquery
from text_indexing_and_retrieval_system_spark.plans import explain as X

SF = "/root/testdata/sf0.001"


def test_postings_scan_pruned(spark, built_index):
    """Both leaves read postings/ from a listing pruned on the driver to
    the term's bucket= dirs, and a lexicon over the resident budget is
    read keeping only the asked terms' rows."""
    from text_indexing_and_retrieval_system_spark import engine
    from text_indexing_and_retrieval_system_spark.operators.segments import term_bucket_py

    bucket = term_bucket_py("said", built_index.n_term_buckets)
    files = built_index._term_files(["said"])
    every = built_index._dataset("postings").files
    assert files.files and len(files.files) < len(every), files.files
    assert all(f"/bucket={bucket}/" in f for f in files.files), files.files
    filtered = engine.InvertedIndex(spark, built_index.dir)
    filtered.DRIVER_RESIDENT_MAX_BYTES = 0
    rows = filtered.lexicon_for(["said", "zzzznonexistentzzz"])
    assert rows["term"].tolist() == ["said"]
    assert filtered._full_lex is None
    assert rows.values.tolist() == built_index.lexicon_for(["said"]).values.tolist()


def test_column_pruning_on_ranked_topk(spark):
    docs = docquery.load_documents(spark, SF)
    # round 6: ranked_topk localCheckpoints the (doc_id, dl, tf*)
    # projection so stats + scoring share ONE tokenize scan; the parquet
    # scan (and its column pruning) lives in the projection plan
    proj = docquery._tf_dl_projection(docs, ["join", "scan"])
    plan = X.plan_string(proj)
    # the documents scan must read only (doc_id, text) — not lang/source
    assert X.scan_read_schema(
        plan, "doc_id", "text", absent=("lang", "source", "n_chars")
    ), plan
    # and the final query must be fed by the materialized projection
    # (exactly one scan of the corpus per ranked query)
    df = docquery.ranked_topk(docs, ["join", "scan"], "bm25", k=10)
    final = X.plan_string(df)
    assert "Scan ExistingRDD" in final, final


def test_filter_pushdown_on_documents(spark):
    docs = docquery.load_documents(spark, SF).filter(F.col("doc_id") < 100)
    plan = X.plan_string(docs)
    assert X.has_pushed_filter(plan, "doc_id"), plan


def test_broadcast_join_for_small_dim(spark):
    import __spark_entry__ as e

    df = e.queries()["revenue_by_nation"](spark, SF)
    plan = X.plan_string(df)
    assert X.has_broadcast_join(plan), plan


def test_word_freq_plan_shape(spark):
    """P7 must compile to partial+final hash aggregate (map-side combine)
    with top-k as TakeOrderedAndProject and a text-only scan.
    (Codegen ids are hidden under AdaptiveSparkPlan pre-execution, so we
    assert the structural properties the codegen stages wrap.)"""
    docs = docquery.load_documents(spark, SF)
    plan = X.plan_string(docquery.word_freq_top(docs, 10))
    assert plan.count("HashAggregate") >= 2, plan  # partial + final
    assert "TakeOrderedAndProject" in plan, plan
    assert X.scan_read_schema(plan, "text", absent=("lang", "source")), plan


def test_kernel_stage_exchanges_arrow(built_index, kernel_frames):
    """The distributed kernel is one Arrow UDF stage with no shuffle: an
    OR batch and an AND NOT batch each plan one MapInArrow node over a
    range of group ids, no Exchange (the kernel tasks read their range
    buckets themselves) and no stage that converts to pandas."""
    from text_indexing_and_retrieval_system_spark.operators import wand

    meta = {"said": [(0, 1.0)], "time": [(1, 1.0)]}
    not_tree = ("and", ("tok", "said"), ("not", ("tok", "time")))
    for tree in (wand.disjunction(sorted(meta)), not_tree):
        built_index._boolean_topk_winners({0: (tree, meta)}, sorted(meta), 10)
        plan = X.plan_string(kernel_frames[-1])
        assert "MapInArrow" in plan, plan
        assert "Exchange" not in plan and "InPandas" not in plan, plan
