"""spark-submit entry point: top-k query against a built index.

    spark-submit --py-files searchengine_spark.zip \
        searchengine_spark/jobs/query_cli.py \
        --root /data/index --query "apache spark" \
        [--mode AND|OR --k 15 --offset 0 --wand --pages /data/pages]

--wand uses the block-max WAND path (pure BM25 ranking); default is the
blended exhaustive path. --pages enables title/snippet serving output.
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--query", required=True)
    ap.add_argument("--mode", default="OR", choices=["OR", "AND"])
    ap.add_argument("--k", type=int, default=15)
    ap.add_argument("--offset", type=int, default=0)
    ap.add_argument("--wand", action="store_true")
    ap.add_argument("--pages", default=None)
    args = ap.parse_args()

    from searchengine_spark.session import get_spark

    spark = get_spark("se-query")
    try:
        qs = [
            {
                "query_id": 0,
                "query": args.query,
                "mode": args.mode,
                "k": args.k,
                "offset": args.offset,
            }
        ]
        if args.pages:
            from searchengine_spark.serving import search

            df = search(
                spark, args.root, args.pages, args.query,
                mode=args.mode, k=args.k, offset=args.offset,
            )
        elif args.wand:
            from searchengine_spark.wand import score_wand

            df = score_wand(spark, args.root, qs)
        else:
            from searchengine_spark.query import score_exhaustive

            df = score_exhaustive(spark, args.root, qs)
        df.show(args.k, truncate=80)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
