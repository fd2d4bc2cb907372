"""Physical-plan audits: the optimizations we rely on must be visible in
the actual plans (SURVEY.md §4: pushdown, pruning, broadcast, codegen)."""

import pytest
from pyspark.sql import functions as F

from text_indexing_and_retrieval_system_spark.operators import docquery
from text_indexing_and_retrieval_system_spark.plans import explain as X

SF = "/root/testdata/sf0.001"


def test_postings_scan_pruned(built_index):
    blocks = built_index.blocks_for(["said"])
    plan = X.plan_string(blocks)
    # partition-dir pruning on the term bucket + row-group pushdown on term
    assert X.has_partition_filter(plan, "bucket"), plan
    assert X.has_pushed_filter(plan, "term"), plan


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


def test_kernel_stage_exchanges_arrow(built_index):
    """The distributed kernel runs as Arrow UDFs: an OR batch plans one
    FlatMapGroupsInArrow, a NOT batch (the doclen cogroup) one
    FlatMapCoGroupsInArrow, and no stage converts to pandas."""
    from text_indexing_and_retrieval_system_spark.operators import wand

    idx = built_index
    meta = {"said": [(0, 1.0)], "time": [(1, 1.0)]}
    blocks = idx.blocks_for(sorted(meta))
    common = dict(avgdl=idx.stats["avgdl"], k=10, n_buckets=idx.kernel_buckets)
    ranked = wand.boolean_topk(blocks, {0: (wand.disjunction(sorted(meta)), meta)}, **common)
    plan = X.plan_string(ranked)
    assert "FlatMapGroupsInArrow" in plan and "InPandas" not in plan, plan
    not_tree = ("and", ("tok", "said"), ("not", ("tok", "time")))
    negated = wand.boolean_topk(
        blocks,
        {0: (not_tree, meta)},
        doclen=idx.doclen(),
        range_shift=idx.range_shift,
        **common,
    )
    plan = X.plan_string(negated)
    assert "FlatMapCoGroupsInArrow" in plan and "InPandas" not in plan, plan
