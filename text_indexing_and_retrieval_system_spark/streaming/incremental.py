"""Incremental index updates: batch adds, deletes, streaming ingest.

The reference's only update path is a full rebuild
(`/root/reference/code/indexes/index_custom.py:654-750`). Here new
turns arrive as a batch (`add_documents`) or a stream (`ingest_stream`,
file source / Kafka in prod), and the build's stage-1 writer turns each
into a new *segment* directory with its own manifest — the unit the
batch builder checkpoints — and appends the turns to the docs/ store,
where `delete_documents` resolves ids. `refresh_postings` then calls
`segments.derive_tables`, the build's own stages 2-3, over all live
segments with the build's doc-id geometry (run on a schedule,
LSM-style). The refreshed index has the doc-id geometry, stats and
query results of a one-shot build of the same live documents; its
tables are row-identical to that build's, for any segment chunk count,
when nothing was deleted (deleted convs keep their conv ints).

Doc ids: streaming turns get conv ids beyond the batch-assigned dense
range via a deterministic hash-partitioned extension map (new convs
only), preserving the doc_id_int ordering invariants within each conv.
For the sandbox tests, stream input re-uses pre-assigned conv ints.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import index_build as ib
from ..operators import segments
from ..operators.index_build import IndexBuildConfig
from ..operators.segments import DOC_COLS, Manifests
from ..sources.provider import ParquetDirProvider


def extend_convmap(
    spark: SparkSession, index_dir: str, new_transcripts: DataFrame
) -> DataFrame:
    """Register conversations not yet in the convmap: new conv ids get
    dense ints appended after the existing range (sorted lexicographically
    within the extension — deterministic for a given extension set).
    Returns the full updated convmap DataFrame (also persisted)."""
    store = ParquetDirProvider(index_dir)
    new = (
        new_transcripts.select("conv_id")
        .distinct()
        .join(store.read(spark, "convmap"), "conv_id", "left_anti")
    )
    # conv ints are dense in [0, n_convs): the next one is the row count
    fresh = ib.assign_conv_ids(spark, new).withColumn(
        "conv_int", F.col("conv_int") + F.lit(store.num_rows("convmap"))
    )
    store.append(fresh, "convmap")  # no-op when every conv is known
    return store.read(spark, "convmap")


def _append_docs(spark: SparkSession, provider: ParquetDirProvider, docs: DataFrame) -> None:
    """Append new turns to the docs/ hydration store, which is also
    where delete_documents resolves ids. Idempotent: a replayed/resumed
    add or micro-batch (crash between this append and the manifest
    record) must not duplicate hydration rows."""
    doc_cols = docs.select(*DOC_COLS)
    if provider.exists("docs"):
        # anti-join against the id range these docs cover — the docs
        # store is doc_id_int-sorted within partitions, so the range
        # predicate prunes to ~nothing on a fresh add (new convs land
        # past the existing range); on a replay it matches the chunk's
        # own rows and the append becomes a no-op.
        # bounds from the DOCS frame, not the tokenized segment: zero-token
        # docs produce no segment rows, and ids outside a segment-derived
        # range would be re-appended on replay. No forced broadcast — on a
        # replay `already` is a full chunk's ids; let Spark (AQE) pick.
        bounds = docs.agg(
            F.min("doc_id_int").alias("lo"), F.max("doc_id_int").alias("hi")
        ).collect()[0]
        if bounds["lo"] is not None:
            already = (
                provider.read(spark, "docs")
                .filter(F.col("doc_id_int").between(bounds["lo"], bounds["hi"]))
                .select("doc_id_int")
            )
            doc_cols = doc_cols.join(already, "doc_id_int", "left_anti")
    provider.append(doc_cols, "docs")


def ingest_stream(
    stream_df: DataFrame,
    index_dir: str,
    convmap: DataFrame,
    cfg: IndexBuildConfig = IndexBuildConfig(),
    checkpoint_dir: str | None = None,
    trigger_once: bool = True,
):
    """stream of transcript turns → per-micro-batch segment dirs, plus
    the turns appended to the docs/ store (hydration, and where
    delete_documents finds them).

    `stream_df` must carry the transcript schema; conv ids are resolved
    against `convmap` (new conversations must be pre-registered — the
    deterministic id-extension job in a production pipeline).
    Returns the StreamingQuery.
    """
    man = Manifests(index_dir)
    store = ParquetDirProvider(index_dir)

    def process_batch(batch_df: DataFrame, batch_id: int):
        unit = f"stream_batch_{batch_id:06d}"
        if man.done(unit):
            return  # replayed micro-batch after restart: idempotent skip
        t0 = time.time()
        docs = ib.with_doc_ids(batch_df, convmap)
        table = f"segments/chunk=stream{batch_id:06d}"
        rows = segments.write_segment(docs, cfg.normalize, store, table)
        _append_docs(batch_df.sparkSession, store, docs)
        man.record(unit, rows=rows, seconds=time.time() - t0, batch_id=batch_id)

    writer = stream_df.writeStream.foreachBatch(process_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _resolve_cfg(index_dir: str, cfg: IndexBuildConfig | None) -> IndexBuildConfig:
    """The config recorded in the build manifest is authoritative for
    incremental updates: re-tokenizing with different normalize settings
    or re-bucketing with a different n_term_buckets would silently corrupt
    the index (the reader prunes with the manifest's bucket count). An
    explicit cfg must match the manifest; None loads it."""
    man = Manifests(index_dir)
    info = man.read("build") or man.read("stage3_postings") or {}
    recorded = info.get("config")
    if recorded is None:
        return cfg if cfg is not None else IndexBuildConfig()
    stored = IndexBuildConfig.from_lineage(recorded)
    if cfg is not None and cfg.lineage() != stored.lineage():
        raise ValueError(
            f"explicit config conflicts with the build manifest of {index_dir}: "
            f"{cfg.lineage()} != {stored.lineage()}"
        )
    return stored


def add_documents(
    spark: SparkSession,
    index_dir: str,
    new_transcripts: DataFrame,
    cfg: IndexBuildConfig | None = None,
) -> str:
    """Batch-append new turns as one segment chunk (reference
    `update_index` add path, `index_custom.py:654-750` — but incremental
    instead of delete-and-rebuild). Also appends the turns to the docs/
    hydration store so search(hydrate=True) sees them immediately. Call
    refresh_postings afterwards; config defaults to the build manifest's."""
    cfg = _resolve_cfg(index_dir, cfg)
    man = Manifests(index_dir)
    convmap = extend_convmap(spark, index_dir, new_transcripts)
    existing = [
        u for u in os.listdir(man.dir) if u.startswith("update_add_")
    ]
    unit = f"update_add_{len(existing):06d}"
    t0 = time.time()
    docs = ib.with_doc_ids(new_transcripts, convmap)
    provider = ParquetDirProvider(index_dir)
    rows = segments.write_segment(docs, cfg.normalize, provider, f"segments/chunk={unit}")
    _append_docs(spark, provider, docs)
    man.record(unit, rows=rows, seconds=time.time() - t0)
    return unit


def delete_documents(spark: SparkSession, index_dir: str, doc_ids: list[str]) -> int:
    """Tombstone doc ids (string form conv:turn); refresh_postings
    excludes tombstoned docs from every rebuilt table. Ids resolve
    against the docs store, which add_documents and ingest_stream append
    to at once, so a turn added since the last refresh can be deleted
    too. Returns the
    number of distinct docs matched (a replayed add can leave duplicate
    docs rows until the next refresh)."""
    docs = ParquetDirProvider(index_dir).read(spark, "docs")
    hits = docs.filter(F.col("doc_id").isin(doc_ids)).select("doc_id_int", "doc_id")
    n = hits.select("doc_id_int").distinct().count()
    if n:
        hits.write.mode("append").parquet(os.path.join(index_dir, "tombstones"))
    return n


def _apply_tombstones(spark: SparkSession, index_dir: str, seg: DataFrame) -> DataFrame:
    tomb_path = os.path.join(index_dir, "tombstones")
    if os.path.isdir(tomb_path):
        tomb = spark.read.parquet(tomb_path).select("doc_id_int")
        return seg.join(F.broadcast(tomb), "doc_id_int", "left_anti")
    return seg


def refresh_postings(
    spark: SparkSession, index_dir: str, cfg: IndexBuildConfig | None = None
) -> dict:
    """Rebuild doclen/stats/postings/lexicon/docs from ALL segments
    (batch, added and streamed) minus tombstoned docs: the build's stages
    2-3 (`segments.derive_tables`) run over the grown segment set, with
    the build's doc-id geometry (n_convs from the convmap's footers); see
    the module docstring for how the result compares with a one-shot
    build. Writes staged tables then swaps them in, so readers never see
    a partial index.
    Config defaults to the build manifest's (see `_resolve_cfg`). An
    `InvertedIndex` handle held across a refresh serves stale
    stats/lexicon — call its `reload()` afterwards."""
    cfg = _resolve_cfg(index_dir, cfg)
    man = Manifests(index_dir)
    provider = ParquetDirProvider(index_dir)  # the TableProvider seam:
    # point this at an IcebergProvider and the staged-write + commit
    # below become catalog transactions (sources/provider.py)
    seg = _apply_tombstones(spark, index_dir, provider.read(spark, "segments").drop("chunk"))
    n_convs = provider.num_rows("convmap")
    stats = segments.derive_tables(
        seg, provider.read(spark, "convmap"), n_convs, cfg, provider, table=provider.stage_name
    )
    range_shift = segments.range_shift_for(n_convs, cfg.n_range_buckets)

    # docs/ hydration store: drop tombstoned docs (and self-heal duplicate
    # doc_id_int rows a replayed add_documents append may have left —
    # keeper is the min doc_id, matching the reference's first-wins dedup)
    if provider.exists("docs"):
        # select the contract columns: a chunked (per-chunk build) store
        # carries an inferred `chunk` partition column that must not leak
        # into the refreshed flat rewrite
        docs_df = _apply_tombstones(
            spark, index_dir, provider.read(spark, "docs").select(*DOC_COLS)
        )
        # the window keys include the doc-range column, so the range
        # exchange is the rewrite's only shuffle
        first = Window.partitionBy(
            segments.doc_range_col(range_shift), "doc_id_int"
        ).orderBy("doc_id")
        provider.write_staged(
            segments.doc_range_partitioned(docs_df, range_shift, cfg.n_range_buckets)
            .withColumn("__rn", F.row_number().over(first))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .sortWithinPartitions("doc_id_int"),
            "docs",
        )

    # swap the staged tables in (rename per table on the parquet backend;
    # catalog transactions on Iceberg) + stats/manifest update
    provider.commit_staged(["doclen", "postings", "lexicon", "docs"])
    segments.write_json(os.path.join(index_dir, "stats.json"), stats)
    man.record("refresh_postings", range_shift=range_shift, **stats)
    return stats
