"""Inverted-index build: transcripts → postings blocks + lexicon + doclen + stats.

Spark-first redesign of the reference's single-pass dict build
(`/root/reference/code/indexes/index_custom.py:175-252`) for 10^12-turn
scale:

  stage 0  dense conversation ids (two-phase range-sort, no global window)
  stage 1  tokenize + per-doc posting rows via ONE mapInPandas pass
           (doc-level pre-aggregation: emits (doc, term, tf, positions)
           instead of a token stream → the only big shuffle moves
           pre-combined rows); written as chunked *segments* (resumable)
  stage 2  doclen + collection stats (N, avgdl) from all segments
  stage 3  shuffle all segments to (term, doc-range bucket) → mapInPandas
           packs doc-id-sorted blocks (delta-gap+varint payloads)
           + lexicon (term, df, cf, idf)
  stage 4  doc store (hydration table)

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
from collections.abc import Iterator
from dataclasses import asdict, dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import codec
from ..functions.normalize import DEFAULT_CONFIG, NormalizeConfig, normalize_to_tokens

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


def assign_conv_ids(
    spark: SparkSession,
    transcripts: DataFrame,
    n_parts: int = 32,
    driver_threshold: int = 2_000_000,
) -> DataFrame:
    """(conv_id) -> dense conv_int, ordered lexicographically.

    Fast path: when the distinct conv list fits the driver (one bounded
    collect tells us), sort + rank in Python — ONE Spark job instead of
    the range-sample + per-partition window + offsets three-job plan.
    The bounded collect is itself scale-safe: limit(threshold+1) proves
    over-threshold without materializing the full set on the driver.

    Scale path (over threshold): range-repartition by conv_id, rank
    within partitions (window is per-partition, no single-reducer sort),
    then add partition offsets computed from per-partition counts (tiny
    driver collect).
    """
    convs = transcripts.select("conv_id").distinct()
    if driver_threshold:
        head = convs.limit(driver_threshold + 1).toPandas()  # Arrow fetch
        if len(head) <= driver_threshold:
            ids = sorted(head["conv_id"])
            pdf = pd.DataFrame({"conv_id": ids, "conv_int": range(len(ids))})
            out = spark.createDataFrame(pdf, schema="conv_id string, conv_int long")
            return out.repartition(min(n_parts, max(len(ids) // 10_000, 1)))
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
    convs = transcripts.select("conv_id").distinct()
    head = convs.limit(driver_threshold + 1).toPandas()
    if len(head) <= driver_threshold:
        import pyarrow as pa
        import pyarrow.parquet as pq

        ids = sorted(head["conv_id"])
        os.makedirs(path, exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "conv_id": pa.array(ids, pa.string()),
                    "conv_int": pa.array(range(len(ids)), pa.int64()),
                }
            ),
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


def _encode_position_rows(pos_lists: list) -> list[bytes]:
    """Per row: varbyte([len] + position gaps) — encoded ONCE here so the
    big stage-3 shuffle moves compact binary instead of Arrow int lists,
    and block packing is a byte concatenation (the payload positions
    section is exactly the concatenation of these row encodings)."""
    if not pos_lists:
        return []
    lens = np.fromiter((len(p) for p in pos_lists), dtype=np.int64, count=len(pos_lists))
    total = int(lens.sum())
    if total == 0:
        return [b""] * len(pos_lists)
    flat = np.concatenate([np.asarray(p, dtype=np.int64) for p in pos_lists if len(p)])
    row_ends = np.cumsum(lens)
    row_starts = row_ends - lens
    gaps = flat.copy()
    gaps[1:] -= flat[:-1]
    nz = lens > 0
    gaps[row_starts[nz]] = flat[row_starts[nz]]
    # interleave [len, gaps...] per row
    n_rows = len(pos_lists)
    out_ints = np.empty(n_rows + total, dtype=np.int64)
    len_idx = row_starts + np.arange(n_rows)
    out_ints[len_idx] = lens
    mask = np.ones(n_rows + total, dtype=bool)
    mask[len_idx] = False
    out_ints[mask] = gaps
    stream, nb = codec.varbyte_encode_with_sizes(out_ints)
    ints_per_row = 1 + lens
    row_int_ends = np.cumsum(ints_per_row)
    byte_ends = np.cumsum(nb)
    row_byte_end = byte_ends[row_int_ends - 1]
    row_byte_start = np.empty(n_rows, dtype=np.int64)
    row_byte_start[0] = 0
    row_byte_start[1:] = row_byte_end[:-1]
    mv = memoryview(stream)
    return [bytes(mv[int(s) : int(e)]) for s, e in zip(row_byte_start, row_byte_end)]


def tokenize_to_doc_postings(docs: DataFrame, cfg: NormalizeConfig) -> DataFrame:
    """(doc_id_int, text) → (doc_id_int, term, tf, dl, positions binary).

    Pre-aggregates (term, doc) inside the pandas batch so the shuffle in
    stage 3 moves one row per (doc, distinct term), not per token; the
    row's position list is already varint-encoded (see
    :func:`_encode_position_rows`). Docs with zero tokens emit a sentinel
    row (term = "", tf = 0) so dl=0 documents still reach doclen.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            token_lists = normalize_to_tokens(pdf["text"], cfg)
            n_rows = len(pdf)
            dls = token_lists.map(len).to_numpy(dtype=np.int64)
            doc_ids = pdf["doc_id_int"].to_numpy(dtype=np.int64)
            # flatten to (row_idx, pos, term) then group with pandas
            flat_terms = [t for lst in token_lists for t in lst]
            if flat_terms:
                row_idx = np.repeat(np.arange(n_rows), dls)
                pos = np.concatenate([np.arange(n, dtype=np.int64) for n in dls if n])
                tok = pd.DataFrame(
                    {
                        "doc_id_int": doc_ids[row_idx],
                        "dl": dls[row_idx],
                        "term": flat_terms,
                        "pos": pos,
                    }
                )
                grouped = (
                    tok.groupby(["doc_id_int", "dl", "term"], sort=False)["pos"]
                    .agg(list)
                    .reset_index()
                )
                out = pd.DataFrame(
                    {
                        "doc_id_int": grouped["doc_id_int"],
                        "term": grouped["term"],
                        "tf": grouped["pos"].map(len).astype("int32"),
                        "dl": grouped["dl"].astype("int32"),
                        "positions": _encode_position_rows(grouped["pos"].to_list()),
                    }
                )
            else:
                out = pd.DataFrame(
                    columns=["doc_id_int", "term", "tf", "dl", "positions"]
                )
            empty_mask = dls == 0
            if empty_mask.any():
                sentinel = pd.DataFrame(
                    {
                        "doc_id_int": doc_ids[empty_mask],
                        "term": "",
                        "tf": np.int32(0),
                        "dl": np.int32(0),
                        "positions": b"",
                    }
                )
                out = pd.concat([out, sentinel], ignore_index=True)
            yield out

    return docs.select("doc_id_int", "text").mapInPandas(run, schema=SEGMENT_SCHEMA)


# --------------------------------------------------------------------------
# stage 3 — postings blocks via (term, range_bucket) shuffle
# --------------------------------------------------------------------------

BLOCKS_SCHEMA = (
    "term string, range_bucket int, first_doc long, last_doc long, n int, "
    "sum_tf long, payload binary, pos_payload binary"
)


_BLOCK_COLS = [
    "term",
    "range_bucket",
    "first_doc",
    "last_doc",
    "n",
    "sum_tf",
    "payload",
    "pos_payload",
]


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

    Physical shape: repartition + sortWithinPartitions + mapInPandas with
    a cross-batch carry buffer — NOT groupBy().applyInPandas(), which
    pays a per-group Python/pandas round trip (measured 100x slower on a
    Zipfian vocabulary where most (term, bucket) groups are tiny).
    One Python invocation per Arrow batch; per-term packing is numpy.
    """
    store_pos = cfg.store_positions
    block_size = cfg.block_size

    def pack_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pending: pd.DataFrame | None = None

        def pack_batch(pdf: pd.DataFrame) -> pd.DataFrame:
            """Pack all complete blocks of a batch in ONE vectorized pass
            (rows sorted by (term, range_bucket, doc_id_int) upstream)."""
            n = len(pdf)
            terms = pdf["term"].to_numpy()
            buckets = pdf["range_bucket"].to_numpy(dtype=np.int64)
            doc_ids = pdf["doc_id_int"].to_numpy(dtype=np.int64)
            tfs = pdf["tf"].to_numpy(dtype=np.int64)
            dls = pdf["dl"].to_numpy(dtype=np.int64)

            change = np.empty(n, dtype=bool)
            change[0] = True
            change[1:] = (terms[1:] != terms[:-1]) | (buckets[1:] != buckets[:-1])
            group_id = np.cumsum(change) - 1
            group_starts = np.flatnonzero(change)
            rel = np.arange(n) - group_starts[group_id]
            block_starts = np.flatnonzero(rel % block_size == 0)
            block_ends = np.empty_like(block_starts)
            block_ends[:-1] = block_starts[1:]
            block_ends[-1] = n

            # payload = varbyte([n] + doc gaps + tfs + dls); positions go
            # to their OWN column (concatenation of the rows' pre-encoded
            # bytes) so ranked queries never scan/shuffle/decode them —
            # parquet column pruning halves the hot read path
            payloads = codec.pack_postings_batch(doc_ids, tfs, dls, block_starts, None)
            if store_pos:
                row_bytes = pdf["positions"].to_list()
                row_lens = np.fromiter(
                    (len(b) for b in row_bytes), dtype=np.int64, count=n
                )
                all_bytes = b"".join(row_bytes)
                byte_ends = np.cumsum(row_lens)
                blk_byte_start = byte_ends[block_starts] - row_lens[block_starts]
                blk_byte_end = byte_ends[block_ends - 1]
                mv = memoryview(all_bytes)
                pos_payloads = [
                    bytes(mv[int(s) : int(e)])
                    for s, e in zip(blk_byte_start, blk_byte_end)
                ]
            else:
                pos_payloads = [None] * len(payloads)
            return pd.DataFrame(
                {
                    "term": terms[block_starts],
                    "range_bucket": buckets[block_starts].astype("int32"),
                    "first_doc": doc_ids[block_starts],
                    "last_doc": doc_ids[block_ends - 1],
                    "n": (block_ends - block_starts).astype("int32"),
                    "sum_tf": np.add.reduceat(tfs, block_starts),
                    "payload": payloads,
                    "pos_payload": pos_payloads,
                }
            )

        def split_tail(pdf: pd.DataFrame) -> tuple[pd.DataFrame, pd.DataFrame]:
            """Split off the final (term, bucket) group to carry it into
            the next Arrow batch."""
            terms = pdf["term"].to_numpy()
            buckets = pdf["range_bucket"].to_numpy()
            last_t, last_b = terms[-1], buckets[-1]
            other = (terms != last_t) | (buckets != last_b)
            cut = int(np.flatnonzero(other)[-1]) + 1 if other.any() else 0
            return pdf.iloc[:cut], pdf.iloc[cut:]

        for pdf in batches:
            if pdf.empty:
                continue
            if pending is not None:
                pdf = pd.concat([pending, pdf], ignore_index=True)
                pending = None
            head, pending = split_tail(pdf)
            if len(head):
                yield pack_batch(head)
        if pending is not None and len(pending):
            yield pack_batch(pending)

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
        .mapInPandas(pack_partition, schema=BLOCKS_SCHEMA)
    )
