#!/usr/bin/env python3
"""spark-submit entry: run queries against a built index.

    spark-submit --py-files hayoo_spark.zip scripts/query.py \
        --index /data/index --mode spark -q "fast AND join" -k 20

Reads queries from -q flags or stdin (one per line); prints one JSON
line per query with the top-k (url, score) pairs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# direct `python scripts/...` runs: make the repo root importable
# (spark-submit --py-files hayoo_spark.zip provides it on a cluster)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--mode", choices=["local", "spark"], default="local")
    ap.add_argument("-q", "--query", action="append", default=[])
    ap.add_argument("-k", type=int, default=20)
    ap.add_argument("--page", type=int, default=0)
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--select", default=None,
                    help="comma-separated stored fields to project onto "
                         "hits (Q12), e.g. lang,warc_ts,dl_text")
    ap.add_argument("--warm", type=int, default=0, metavar="N",
                    help="preload the N highest-df terms per default "
                         "field before serving (the reference's "
                         "index-in-RAM startup, bounded)")
    ap.add_argument("--frontend", action="store_true",
                    help="route queries through the frontend planner "
                         "(std/signature/fallback branches) instead of "
                         "the raw query language")
    ap.add_argument("--stats", action="store_true",
                    help="after serving the queries, print one JSON "
                         "line with the engine's metrics snapshot — "
                         "the reference's /stats EKG sample "
                         "(hayoo-server Metrics.hs)")
    ap.add_argument("--complete", action="store_true",
                    help="full-query completion instead of search: "
                         "complete each input's LAST word and print the "
                         "re-rendered whole queries (the reference's "
                         "autocomplete pipeline)")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        from hayoo_spark.session import get_spark
        spark = get_spark(app_name="hayoo-query", cores=args.cores)

    from hayoo_spark.query.engine import SearchEngine

    eng = SearchEngine(spark, args.index, mode=args.mode)
    if args.warm:
        eng.warm(top_terms=args.warm)
    queries = args.query or [ln.strip() for ln in sys.stdin if ln.strip()]
    for q in queries:
        if args.complete:
            print(json.dumps({"query": q,
                              "completions": eng.autocomplete_queries(
                                  q, n=args.k)}))
        elif args.select:
            fields = tuple(args.select.split(","))
            rows = eng.search_docs(q, k=args.k, page=args.page, fields=fields)
            print(json.dumps({"query": q, "hits": rows}, default=str))
        else:
            search = eng.search_frontend if args.frontend else eng.search
            hits = search(q, k=args.k, page=args.page)
            print(json.dumps({"query": q,
                              "hits": [{"url": u, "score": s} for u, s in hits]}))
    if args.stats:
        print(json.dumps({"stats": eng.metrics()}))


if __name__ == "__main__":
    sys.exit(main())
