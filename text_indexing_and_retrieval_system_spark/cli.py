"""Command-line driver (parity with the reference's interactive
`main.py:436` CLI, non-interactive flags instead of menus).

    python -m text_indexing_and_retrieval_system_spark.cli <cmd> ...

    generate  --out DIR --convs N [--seed S]        synthetic corpus
    build     --input PATH --storage DIR --index ID  build/resume an index
    search    --storage DIR --index ID --query Q [-k K] [--scorer s]
              [--hydrate]                        path chosen by query shape
    batch     --storage DIR --index ID --queries FILE [-k K]
    add       --storage DIR --index ID --input PATH  incremental add+refresh
    delete-docs --storage DIR --index ID --doc-ids id1,id2  tombstone+refresh
    list      --storage DIR
    info      --storage DIR --index ID
    drop      --storage DIR --index ID
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _spark(args):
    from .session import get_spark

    return get_spark(
        app_name="tirs-cli",
        master=f"local[{args.cores}]" if args.cores else None,
    )


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="tirs-spark")
    p.add_argument("--cores", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("generate")
    g.add_argument("--out", required=True)
    g.add_argument("--convs", type=int, default=1000)
    g.add_argument("--seed", type=int, default=42)

    b = sub.add_parser("build")
    b.add_argument("--input", required=True, help="parquet dir of transcript turns")
    b.add_argument("--storage", required=True)
    b.add_argument("--index", required=True)
    b.add_argument("--chunks", type=int, default=4)

    s = sub.add_parser("search")
    s.add_argument("--storage", required=True)
    s.add_argument("--index", required=True)
    s.add_argument("--query", required=True)
    s.add_argument("-k", type=int, default=50)
    s.add_argument("--scorer", default="bm25", choices=["bm25", "tfidf", "wordcount"])
    s.add_argument("--hydrate", action="store_true")

    bt = sub.add_parser("batch")
    bt.add_argument("--storage", required=True)
    bt.add_argument("--index", required=True)
    bt.add_argument("--queries", required=True, help="file with one query per line")
    bt.add_argument("-k", type=int, default=50)

    a = sub.add_parser("add")
    a.add_argument("--storage", required=True)
    a.add_argument("--index", required=True)
    a.add_argument("--input", required=True)

    dd = sub.add_parser("delete-docs")
    dd.add_argument("--storage", required=True)
    dd.add_argument("--index", required=True)
    dd.add_argument("--doc-ids", required=True)

    for name in ("list", "info", "drop"):
        x = sub.add_parser(name)
        x.add_argument("--storage", required=True)
        if name != "list":
            x.add_argument("--index", required=True)

    args = p.parse_args(argv)

    from .sources import catalog

    if args.cmd == "list":
        print(json.dumps(catalog.list_indices(args.storage)))
        return 0
    if args.cmd == "info":
        print(json.dumps(catalog.get_index_info(args.storage, args.index), indent=2))
        return 0
    if args.cmd == "drop":
        ok = catalog.delete_index(args.storage, args.index)
        print("dropped" if ok else "no such index")
        return 0 if ok else 1

    spark = _spark(args)
    try:
        if args.cmd == "generate":
            from .sources.transcripts import generate_transcripts

            df = generate_transcripts(spark, args.convs, seed=args.seed)
            df.write.mode("overwrite").parquet(args.out)
            print(f"wrote {spark.read.parquet(args.out).count()} turns to {args.out}")
            return 0

        from . import engine
        from .operators.index_build import IndexBuildConfig

        idx_dir = os.path.join(args.storage, args.index)

        if args.cmd == "build":
            tdf = spark.read.parquet(args.input)
            cfg = IndexBuildConfig(n_segment_chunks=args.chunks)
            idx = engine.build(spark, tdf, idx_dir, cfg, input_desc=args.input)
            print(json.dumps(idx.stats))
            return 0

        idx = engine.load(spark, idx_dir)
        if args.cmd == "search":
            res = idx.search(
                args.query, k=args.k, scorer=args.scorer, hydrate=args.hydrate
            )
            for row in res.collect():
                d = row.asDict()
                d.pop("doc_id_int", None)
                if "ts" in d and d["ts"] is not None:
                    d["ts"] = str(d["ts"])
                print(json.dumps(d))
            return 0
        if args.cmd == "batch":
            with open(args.queries) as f:
                qs = [line.strip() for line in f if line.strip()]
            out = idx.search_batch(qs, k=args.k)
            for q in qs:
                r = out[q]
                print(json.dumps({"query": q, "docs": r.docs, "scores": r.scores}))
            return 0
        if args.cmd == "add":
            from .streaming import incremental as inc

            new_df = spark.read.parquet(args.input)
            unit = inc.add_documents(spark, idx_dir, new_df)
            stats = inc.refresh_postings(spark, idx_dir)
            print(json.dumps({"unit": unit, "stats": stats}))
            return 0
        if args.cmd == "delete-docs":
            from .streaming import incremental as inc

            ids = [x for x in args.doc_ids.split(",") if x]
            n = inc.delete_documents(spark, idx_dir, ids)
            stats = inc.refresh_postings(spark, idx_dir)
            print(json.dumps({"tombstoned": n, "stats": stats}))
            return 0
    finally:
        spark.stop()
    return 1


if __name__ == "__main__":
    sys.exit(main())
