"""spark-submit entry point for the engine (north-rule run surface).

On a real cluster:

  zip -r dps.zip data_prepper_spark
  spark-submit --master yarn --deploy-mode cluster \\
      --py-files dps.zip scripts/dps_submit.py \\
      build --source s3a://bucket/code_files --out s3a://bucket/index \\
            --n-shards 4096 --units 64 --shard-groups 16

  spark-submit --py-files dps.zip scripts/dps_submit.py \\
      query --index s3a://bucket/index --q "hash join spill" --k 10

  spark-submit --py-files dps.zip scripts/dps_submit.py \\
      gen --sf 0.01 --out /tmp/code_files     # deterministic test corpus

Uses the session spark-submit provides (``getOrCreate`` picks up master /
memory / executor sizing from the cluster manager); local runs fall back
to the sandbox defaults in ``session.get_spark``.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(prog="dps_submit")
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="resumable index build")
    b.add_argument("--source", required=True)
    b.add_argument("--out", required=True)
    b.add_argument("--n-shards", type=int, default=64)
    b.add_argument("--units", type=int, default=4)
    b.add_argument("--shard-groups", type=int, default=4)
    b.add_argument("--block-size", type=int, default=128)
    b.add_argument("--no-resume", action="store_true")

    q = sub.add_parser("query", help="block-max WAND BM25 top-k")
    q.add_argument("--index", required=True)
    q.add_argument("--q", required=True, nargs="+")
    q.add_argument("--k", type=int, default=10)
    q.add_argument("--filter", default=None,
                   help="SQL predicate over the docs table, e.g. \"lang = 'python'\"")

    g = sub.add_parser("gen", help="deterministic synthetic code corpus")
    g.add_argument("--sf", type=float, required=True)
    g.add_argument("--out", required=True)

    a = sub.add_parser("add", help="incremental: ingest new files into an existing index")
    a.add_argument("--source", required=True)
    a.add_argument("--index", required=True)
    a.add_argument("--n-shards", type=int, default=64)
    a.add_argument("--units", type=int, default=1)
    a.add_argument("--block-size", type=int, default=128)
    a.add_argument("--no-remerge", action="store_true",
                   help="layered add: searchable immediately, compact later with refresh")

    r = sub.add_parser("refresh", help="re-merge blocks + dictionary over all committed units")
    r.add_argument("--index", required=True)
    r.add_argument("--block-size", type=int, default=128)

    p = sub.add_parser("phrase", help="exact-phrase top-k (needs positions table)")
    p.add_argument("--index", required=True)
    p.add_argument("--q", required=True, nargs="+")
    p.add_argument("--k", type=int, default=10)

    bp = sub.add_parser("build-positions", help="positional postings for phrase queries")
    bp.add_argument("--source", required=True)
    bp.add_argument("--index", required=True)
    bp.add_argument("--n-shards", type=int, default=64)

    s = sub.add_parser(
        "search",
        help="OpenSearch search-body request (query DSL / Lucene query_string)",
    )
    s.add_argument("--index", required=True)
    s.add_argument("--body", default=None,
                   help='search body JSON: {"query": ..., "sort": ..., '
                        '"size"/"from"/"search_after"/"_source": ...}')
    s.add_argument("--q", default=None,
                   help="Lucene query_string shorthand, e.g. '+key table pre* -lang:go'")
    s.add_argument("--size", type=int, default=10)

    sg = sub.add_parser("suggest", help='term suggester ("did you mean")')
    sg.add_argument("--index", required=True)
    sg.add_argument("--q", required=True, help="text whose tokens get suggestions")
    sg.add_argument("--size", type=int, default=5)
    sg.add_argument("--max-edits", type=int, default=2)

    args = ap.parse_args()

    from data_prepper_spark.session import get_spark

    spark = get_spark("dps-submit")

    if args.cmd == "build":
        from data_prepper_spark.index.build import build_index

        res = build_index(
            spark,
            args.source,
            args.out,
            n_shards=args.n_shards,
            block_size=args.block_size,
            units=args.units,
            shard_groups=args.shard_groups,
            resume=not args.no_resume,
        )
        ledger = spark.read.parquet(os.path.join(args.out, "build_ledger"))
        print(f"built index at {res.out_dir}: n_docs={res.n_docs} avgdl={res.avgdl:.2f}")
        ledger.orderBy("stage", "unit_id").show(100, truncate=False)
    elif args.cmd == "query":
        from data_prepper_spark.query.engine import IndexQueryEngine

        if args.filter:
            from data_prepper_spark.query.dsl import bm25_topk_filtered

            for qtext in args.q:
                print(f"query: {qtext!r} filter: {args.filter!r}")
                bm25_topk_filtered(spark, args.index, qtext, args.filter, args.k).show(
                    args.k, truncate=False
                )
        else:
            engine = IndexQueryEngine(spark, args.index, persist_blocks=False)
            for qtext in args.q:
                print(f"query: {qtext!r}")
                engine.topk(qtext, args.k).show(args.k, truncate=False)
    elif args.cmd == "gen":
        from data_prepper_spark.corpus import write_code_files

        write_code_files(spark, args.sf, args.out)
        print(f"wrote {spark.read.parquet(args.out).count()} rows to {args.out}")
    elif args.cmd == "add":
        from data_prepper_spark.index.build import add_to_index

        res = add_to_index(
            spark, args.source, args.index,
            n_shards=args.n_shards, block_size=args.block_size, units=args.units,
            remerge=not args.no_remerge,
        )
        print(f"index now: n_docs={res.n_docs} avgdl={res.avgdl:.2f}")
    elif args.cmd == "refresh":
        from data_prepper_spark.index.build import refresh_index

        res = refresh_index(spark, args.index, block_size=args.block_size)
        print(f"refreshed: n_docs={res.n_docs} avgdl={res.avgdl:.2f}")
    elif args.cmd == "phrase":
        from data_prepper_spark.query.phrase import phrase_topk

        for qtext in args.q:
            print(f"phrase: {qtext!r}")
            phrase_topk(spark, args.index, qtext, args.k).show(args.k, truncate=False)
    elif args.cmd == "search":
        import json

        from data_prepper_spark.query.dsl import search_body

        if (args.body is None) == (args.q is None):
            ap.error("search needs exactly one of --body / --q")
        body = (
            json.loads(args.body)
            if args.body is not None
            else {"query": {"query_string": {"query": args.q}}}
        )
        body.setdefault("size", args.size)
        search_body(spark, args.index, body).show(
            int(body["size"]), truncate=False
        )
    elif args.cmd == "suggest":
        from data_prepper_spark.query.suggest import suggest_terms

        suggest_terms(
            spark, args.index, args.q, size=args.size, max_edits=args.max_edits
        ).orderBy("token", "rank").show(100, truncate=False)
    elif args.cmd == "build-positions":
        from data_prepper_spark.query.phrase import build_positions

        build_positions(spark, args.source, args.index, n_shards=args.n_shards)
        print(f"positions table written under {args.index}")

    spark.stop()


if __name__ == "__main__":
    main()
