"""Inverted-index build: transcripts → postings blocks + lexicon + doclen + stats.

Spark-first redesign of the reference's single-pass dict build
(`/root/reference/code/indexes/index_custom.py:175-252`) for 10^12-turn
scale:

  stage 0  dense conversation ids (two-phase range-sort, no global window)
  stage 1  tokenize + per-doc posting rows via ONE mapInArrow pass
           (doc-level pre-aggregation: emits (doc, term, tf, positions)
           instead of a token stream → the only big shuffle moves
           pre-combined rows); written as chunked *segments* (resumable)
  stage 2  doclen + collection stats (N, avgdl) from all segments
  stage 3  shuffle all segments to (term, doc-range bucket) → mapInArrow
           packs doc-id-sorted blocks (delta-gap+varint payloads)
           + lexicon (term, df, cf, idf)
  stage 4  doc store (hydration table)

Both Python stages take Arrow record batches and run numpy bodies; the
codec's batch encoders return their binary columns as Arrow arrays, so
no pandas object sits between Spark and the segment or block rows.

Skew: high-df terms are split by **contiguous doc-id ranges**
(`range_bucket = doc_id >> range_shift`) — the salted two-level split the
north_rule asks for, with the property that a term's blocks across
buckets are disjoint ordered doc ranges, so whole buckets score
independently and their top-k winners merge exactly.

Resumability: each stage (and each stage-1 chunk) writes to its own
directory with a JSON manifest (lineage, row counts, timings); a
restarted build skips every manifest-complete unit — see segments.py.

doc ids: `doc_id_int = conv_int << 16 | turn_idx` where `conv_int` is the
dense rank of `conv_id` (lexicographic). Sorting by doc_id_int equals
sorting by (conv_id, turn_idx); the string form `conv_id:turn_idx%04d`
mirrors the reference's string ids (`dataset_news.py:340`).
"""

from __future__ import annotations

import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import codec
from ..functions.normalize import DEFAULT_CONFIG, NormalizeConfig, normalize_flat

TURN_BITS = 16  # turn_idx < 65536 per conversation


@dataclass(frozen=True)
class IndexBuildConfig:
    normalize: NormalizeConfig = DEFAULT_CONFIG
    block_size: int = 128
    n_term_buckets: int = 16
    n_range_buckets: int = 32
    store_positions: bool = True
    # resume granularity of the doc store and tokenize (stages 4 and 1);
    # stages 2-3 run once over all chunks' segments, so no index table's
    # rows depend on it
    n_segment_chunks: int = 4
    # scale-aware clamp: chunks pay off above ~10^5 convs (resume
    # granularity, bounded per-chunk shuffle state); below
    # chunk_min_convs the build runs as ONE chunk, saving per-job
    # constants. Set 0 to force the configured chunk count at any size
    # (tests do).
    chunk_min_convs: int = 32_000

    def lineage(self) -> dict:
        d = asdict(self)
        d["normalize"] = asdict(self.normalize)
        return d

    @classmethod
    def from_lineage(cls, d: dict) -> "IndexBuildConfig":
        """Rebuild the config recorded in a build manifest (`lineage()`
        round-trip) — incremental updates must tokenize and bucket with
        the SAME config the index was built with."""
        d = dict(d)
        d.pop("compact", None)  # a removed option older manifests record
        norm = dict(d.pop("normalize", {}))
        if "stopword_languages" in norm:
            norm["stopword_languages"] = tuple(norm["stopword_languages"])
        return cls(normalize=NormalizeConfig(**norm), **d)


# --------------------------------------------------------------------------
# stage 0 — dense conversation ids without a global single-partition window
# --------------------------------------------------------------------------


def _driver_conv_ids(transcripts: DataFrame, driver_threshold: int) -> pa.Array | None:
    """The distinct conv ids, sorted, when at most `driver_threshold`
    (one bounded Arrow collect tells us), else None. limit(threshold+1)
    proves over-threshold without materializing the full set on the
    driver. Sorted by UTF-8 bytes, which is code-point (Python str and
    Spark string) order."""
    if not driver_threshold:
        return None
    head = transcripts.select("conv_id").distinct().limit(driver_threshold + 1).toArrow()
    if head.num_rows > driver_threshold:
        return None
    ids = head.column("conv_id").cast(pa.string())
    return ids.take(pc.sort_indices(ids)).combine_chunks()


def assign_conv_ids(
    spark: SparkSession,
    transcripts: DataFrame,
    n_parts: int = 32,
    driver_threshold: int = 2_000_000,
) -> DataFrame:
    """(conv_id) -> dense conv_int, ordered lexicographically.

    Fast path: when the distinct conv list fits the driver, sort + rank
    it there (_driver_conv_ids) — ONE Spark job instead of the
    range-sample + per-partition window + offsets three-job plan.

    Scale path (over threshold): range-repartition by conv_id, rank
    within partitions (window is per-partition, no single-reducer sort),
    then add partition offsets computed from per-partition counts (tiny
    driver collect).
    """
    ids = _driver_conv_ids(transcripts, driver_threshold)
    if ids is not None:
        out = spark.createDataFrame(
            pa.table({"conv_id": ids, "conv_int": np.arange(len(ids), dtype=np.int64)}),
            schema="conv_id string, conv_int long",
        )
        return out.repartition(min(n_parts, max(len(ids) // 10_000, 1)))
    convs = transcripts.select("conv_id").distinct()
    parted = convs.repartitionByRange(n_parts, "conv_id").withColumn(
        "_pid", F.spark_partition_id()
    )
    parted = parted.persist()
    counts = {
        r["_pid"]: r["cnt"]
        for r in parted.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    w = Window.partitionBy("_pid").orderBy("conv_id")
    offmap = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    out = (
        parted.withColumn("_rn", F.row_number().over(w) - 1)
        .withColumn("conv_int", (offmap[F.col("_pid")] + F.col("_rn")).cast("long"))
        .select("conv_id", "conv_int")
    )
    return out


def assign_and_write_convmap(
    spark: SparkSession,
    transcripts: DataFrame,
    path: str,
    driver_threshold: int = 2_000_000,
) -> int:
    """Assign dense conv ints and persist the convmap at `path`; returns
    n_convs. Driver fast path: when the distinct conv list fits the
    driver, the map is written with pyarrow directly — pushing a
    driver-local 15 MB table back through a Spark write job costs ~3 s of
    pure round-trip. (Object-store deployments point pyarrow at the same
    filesystem via pa.fs, or fall back to the Spark writer.)"""
    ids = _driver_conv_ids(transcripts, driver_threshold)
    if ids is not None:
        os.makedirs(path, exist_ok=True)
        pq.write_table(
            pa.table({"conv_id": ids, "conv_int": np.arange(len(ids), dtype=np.int64)}),
            os.path.join(path, "part-00000.parquet"),
        )
        return len(ids)
    cm = assign_conv_ids(spark, transcripts, driver_threshold=0)
    cm.write.mode("overwrite").parquet(path)
    from .segments import parquet_num_rows

    return parquet_num_rows(path)


def with_doc_ids(transcripts: DataFrame, convmap: DataFrame) -> DataFrame:
    return (
        transcripts.join(convmap, "conv_id")
        .withColumn(
            "doc_id_int",
            (F.col("conv_int") * (1 << TURN_BITS) + F.col("turn_idx")).cast("long"),
        )
        .withColumn(
            "doc_id",
            # printf %04d: zero-pad to 4 but never truncate (lpad TRUNCATES
            # past 4 chars — a >9,999-turn conversation would collide)
            F.concat_ws(":", F.col("conv_id"), F.format_string("%04d", "turn_idx")),
        )
    )


# --------------------------------------------------------------------------
# stage 1 — tokenize + per-doc posting rows (one Arrow pass, pre-combined)
# --------------------------------------------------------------------------

SEGMENT_SCHEMA = (
    "doc_id_int long, term string, tf int, dl int, positions binary"
)


def tokenize_to_doc_postings(docs: DataFrame, cfg: NormalizeConfig) -> DataFrame:
    """(doc_id_int, text) → (doc_id_int, term, tf, dl, positions binary).

    Pre-aggregates (term, doc) inside each Arrow batch so the shuffle in
    stage 3 moves one row per (doc, distinct term), not per token: the
    batch's flat tokens (normalize_flat) are dictionary-encoded, one
    stable lexsort by (row, term code) lines each (doc, term) run up
    with its positions ascending, and the run boundaries give the rows.
    The row's position list is already varint-encoded (see
    :func:`codec.encode_position_rows`). Docs with zero tokens emit a
    sentinel row (term = "", tf = 0, positions = b"") so dl=0 documents
    still reach doclen.
    """

    # the mapInArrow function stays unannotated (see wand.boolean_topk)
    def run(batches):
        for batch in batches:
            doc_ids = batch.column("doc_id_int").to_numpy()
            rows, tokens = normalize_flat(batch.column("text"), cfg)
            dls = np.bincount(rows, minlength=batch.num_rows)
            if rows.size:
                # token i sits at position i - (first token index of its row)
                pos = np.arange(rows.size) - (np.cumsum(dls) - dls)[rows]
                terms = pa.array(tokens, pa.string()).dictionary_encode()
                codes = terms.indices.to_numpy()
                order = np.lexsort((codes, rows))  # stable: positions stay ascending
                rows, codes, pos = rows[order], codes[order], pos[order]
                change = np.empty(rows.size, dtype=bool)
                change[0] = True
                change[1:] = (rows[1:] != rows[:-1]) | (codes[1:] != codes[:-1])
                starts = np.flatnonzero(change)
                tfs = np.diff(starts, append=rows.size)
                # each doc's terms in order of first occurrence, as the
                # token stream has them (the segment files' row order)
                runs = np.lexsort((pos[starts], rows[starts]))
                starts, tfs = starts[runs], tfs[runs]
                gather = np.arange(rows.size) + np.repeat(starts - (np.cumsum(tfs) - tfs), tfs)
                yield pa.record_batch(
                    {
                        "doc_id_int": doc_ids[rows[starts]],
                        "term": terms.dictionary.take(codes[starts]),
                        "tf": tfs.astype(np.int32),
                        "dl": dls[rows[starts]].astype(np.int32),
                        "positions": codec.encode_position_rows(pos[gather], tfs),
                    }
                )
            empty = np.flatnonzero(dls == 0)
            if empty.size:
                yield pa.record_batch(
                    {
                        "doc_id_int": doc_ids[empty],
                        "term": pa.repeat(pa.scalar("", pa.string()), empty.size),
                        "tf": np.zeros(empty.size, dtype=np.int32),
                        "dl": np.zeros(empty.size, dtype=np.int32),
                        "positions": pa.repeat(pa.scalar(b"", pa.binary()), empty.size),
                    }
                )

    return docs.select("doc_id_int", "text").mapInArrow(run, SEGMENT_SCHEMA)


# --------------------------------------------------------------------------
# stage 3 — postings blocks via (term, range_bucket) shuffle
# --------------------------------------------------------------------------

BLOCKS_SCHEMA = (
    "term string, range_bucket int, first_doc long, last_doc long, n int, "
    "sum_tf long, payload binary, pos_payload binary"
)


def build_blocks(
    segments: DataFrame,
    cfg: IndexBuildConfig,
    range_shift: int,
    n_partitions: int | None = None,
) -> DataFrame:
    """segments → doc-id-sorted compressed blocks, one shuffle.

    Shuffle key (term, range_bucket): contiguous doc-id ranges per
    bucket so a hot term splits across buckets without overlapping
    block ranges.

    Physical shape: repartition + sortWithinPartitions + mapInArrow with
    a cross-batch carry (the last (term, bucket) run of a batch waits
    for the next batch as a table slice) — NOT groupBy().applyInArrow(),
    which pays a per-group Python round trip (measured 100x slower on a
    Zipfian vocabulary where most (term, bucket) groups are tiny).
    One Python invocation per Arrow batch; packing is numpy over the
    batch's columns, and `pos_payload` reuses the `positions` bytes
    with block offsets.
    """
    store_pos = cfg.store_positions
    block_size = cfg.block_size

    def pack(tbl: pa.Table, change: np.ndarray) -> pa.Table:
        """Pack all blocks of `tbl` (rows sorted by (term, range_bucket,
        doc_id_int), whole runs only) in ONE vectorized pass; `change`
        marks each run's first row."""
        n = tbl.num_rows
        doc_ids = tbl.column("doc_id_int").to_numpy()
        tfs = tbl.column("tf").to_numpy().astype(np.int64)
        group_starts = np.flatnonzero(change)
        rel = np.arange(n) - group_starts[np.cumsum(change) - 1]
        block_starts = np.flatnonzero(rel % block_size == 0)
        block_ends = np.append(block_starts[1:], n)

        # payload = varbyte([n] + doc gaps + tfs + dls); positions go
        # to their OWN column (concatenation of the rows' pre-encoded
        # bytes) so ranked queries never scan/shuffle/decode them —
        # parquet column pruning halves the hot read path
        payloads = codec.pack_postings_batch(
            doc_ids, tfs, tbl.column("dl").to_numpy(), block_starts
        )
        if store_pos:
            stream, row_lens = codec._binary_stream(tbl.column("positions"))
            pos_payloads = codec._binary_array(stream, np.add.reduceat(row_lens, block_starts))
        else:
            pos_payloads = pa.nulls(block_starts.size, pa.binary())
        return pa.table(
            {
                "term": tbl.column("term").take(block_starts),
                "range_bucket": tbl.column("range_bucket").take(block_starts),
                "first_doc": doc_ids[block_starts],
                "last_doc": doc_ids[block_ends - 1],
                "n": (block_ends - block_starts).astype(np.int32),
                "sum_tf": np.add.reduceat(tfs, block_starts),
                "payload": payloads,
                "pos_payload": pos_payloads,
            }
        )

    # the mapInArrow function stays unannotated (see wand.boolean_topk)
    def pack_partition(batches):
        pending = None  # the last (term, bucket) run seen, not yet packed
        for batch in batches:
            if batch.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([batch])
            if pending is not None:
                tbl = pa.concat_tables([pending, tbl]).combine_chunks()
            terms, buckets = tbl.column("term"), tbl.column("range_bucket")
            change = np.empty(tbl.num_rows, dtype=bool)
            change[0] = True
            change[1:] = pc.or_(
                pc.not_equal(terms[1:], terms[:-1]), pc.not_equal(buckets[1:], buckets[:-1])
            ).to_numpy()
            cut = int(np.flatnonzero(change)[-1])
            pending = tbl.slice(cut)
            if cut:
                yield from pack(tbl.slice(0, cut), change[:cut]).to_batches()
        if pending is not None:
            yield from pack(pending, np.arange(pending.num_rows) == 0).to_batches()

    if n_partitions is None:
        try:
            n_partitions = int(
                segments.sparkSession.conf.get("spark.sql.shuffle.partitions")
            )
        except Exception:
            n_partitions = max(cfg.n_term_buckets * 2, 16)
    with_bucket = segments.filter(F.col("term") != "").withColumn(
        "range_bucket", F.shiftrightunsigned(F.col("doc_id_int"), range_shift).cast("int")
    )
    return (
        with_bucket.repartition(n_partitions, "term", "range_bucket")
        .sortWithinPartitions("term", "range_bucket", "doc_id_int")
        .mapInArrow(pack_partition, BLOCKS_SCHEMA)
    )
