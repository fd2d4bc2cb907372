"""Query-kernel roofline: is the 4-vs-16-core efficiency 0.58 the
code's fault or the socket's? (VERDICT r3 next-#2)

Method: run the kernel's actual hot loop (codec batch varint decode +
vectorized BM25 impact over real bucket block-frames from a built
index) in N pinned worker processes for N in {1,2,4,8,16}, and the same
sweep for a pure `np.copyto` memcpy of a cache-busting buffer — the
hardware bandwidth ceiling. If kernel aggregate throughput saturates at
the same N and the same fraction of peak as memcpy does, the ceiling is
memory bandwidth, not the kernel.

Bytes accounting per kernel iteration (conservative, only the
guaranteed traffic): payload bytes read + decoded doc/tf arrays written
(int32+int32) + impact array written (float64) + one scoring pass read.

Usage: python scripts/bench_kernel_roofline.py [index_dir]
Writes one JSON line; index defaults to the staged realistic 1M-turn
index (built by bench_wand_skiprate.py --realistic).
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import pickle
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_IDX = "/dev/shm/tirs_r4_realistic/idx_160000"
WORK_FILE = "/dev/shm/tirs_roofline_work.pkl"
RUN_SECONDS = 3.0


def _prepare_work(index_dir: str) -> dict:
    """Fetch a few MB of real bucket frames once (Spark), pickle for the
    workers (which must be Spark-free)."""
    import pyspark.sql.functions as F

    from text_indexing_and_retrieval_system_spark import engine
    from text_indexing_and_retrieval_system_spark.session import get_spark

    spark = get_spark(app_name="roofline-prep", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    idx = engine.load(spark, index_dir)
    lex = (
        spark.read.parquet(os.path.join(index_dir, "lexicon"))
        .orderBy(F.desc("df"))
        .limit(64)
        .toPandas()
    )
    toks = sorted(lex["term"].head(16))
    pdf = idx._blocks_pdf_for(toks)
    buckets = [g.reset_index(drop=True) for _, g in pdf.groupby("range_bucket")]
    work = {"buckets": buckets, "avgdl": idx.stats["avgdl"]}
    with open(WORK_FILE, "wb") as f:
        pickle.dump(work, f)
    payload = int(pdf["payload"].map(len).sum())
    spark.stop()
    return {"n_buckets": len(buckets), "payload_bytes": payload}


_BARRIER = None


def _set_barrier(b):
    global _BARRIER
    _BARRIER = b


def _kernel_worker(args):
    (seconds,) = args
    with open(WORK_FILE, "rb") as f:
        work = pickle.load(f)
    from text_indexing_and_retrieval_system_spark.operators import wand

    buckets, avgdl = work["buckets"], work["avgdl"]
    _BARRIER.wait()  # synchronized start: setup stays unmeasured
    t_end = time.time() + seconds
    touched = 0
    while time.time() < t_end:
        for grp in buckets:
            per_term = wand._decode_terms(grp, avgdl)[0]
            payload = int(grp["payload"].map(len).sum())
            n_post = sum(int(d.size) for d, _ in per_term.values())
            # payload read + (doc,tf) int32 writes + impact f64 write+read
            touched += payload + n_post * (4 + 4 + 8 + 8)
            if time.time() >= t_end:
                break
    return touched


def _memcpy_worker(args):
    (seconds,) = args
    import numpy as np

    src = np.empty(256 << 20, dtype=np.uint8)  # 256 MB >> LLC
    dst = np.empty_like(src)
    src[::4096] = 1  # fault the pages in before the clock starts
    dst[::4096] = 1
    _BARRIER.wait()
    t_end = time.time() + seconds
    touched = 0
    while time.time() < t_end:
        np.copyto(dst, src)
        touched += 2 * src.nbytes  # read + write
    return touched


def _sweep(worker, counts) -> dict[int, float]:
    ctx = mp.get_context("fork")
    out = {}
    for n in counts:
        barrier = ctx.Barrier(n)
        with ctx.Pool(n, initializer=_set_barrier, initargs=(barrier,)) as pool:
            totals = pool.map(worker, [(RUN_SECONDS,)] * n, chunksize=1)
        out[n] = round(sum(totals) / RUN_SECONDS / 1e9, 2)  # GB/s aggregate
    return out


def main() -> None:
    index_dir = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_IDX
    if not os.path.exists(os.path.join(index_dir, "stats.json")):
        raise SystemExit(
            f"no index at {index_dir}; run bench_wand_skiprate.py --realistic first"
        )
    meta = _prepare_work(index_dir)
    counts = [1, 2, 4, 8, 16]
    kernel = _sweep(_kernel_worker, counts)
    memcpy = _sweep(_memcpy_worker, counts)

    def eff(d):  # scaling efficiency 4 -> 16 cores
        return round(d[16] / (4 * d[4]), 3) if d.get(4) else None

    out = {
        "mode": "kernel_roofline",
        "work": meta,
        "kernel_gbps": kernel,
        "memcpy_gbps": memcpy,
        "kernel_eff_4_to_16": eff(kernel),
        "memcpy_eff_4_to_16": eff(memcpy),
        "kernel_peak_frac_of_memcpy_peak": round(
            max(kernel.values()) / max(memcpy.values()), 3
        ),
    }
    print(json.dumps(out))
    os.remove(WORK_FILE)


if __name__ == "__main__":
    main()
