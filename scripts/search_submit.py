"""spark-submit entry point for BM25 queries against a built index.

    spark-submit --py-files /tmp/cb.zip scripts/search_submit.py \
        --index /path/to/index --query "spark shuffle join" -k 10
        [--must "required terms"] [--must-not "deprecated"] [--min-should 2]
        [--phrase "exact phrase"] [--prefix te | --wildcard "te*m" | --fuzzy term]
        [--facet source] [--daily --from 2016-09-17 --to 2016-09-19]
        [--filter lang=en --filter status=200,304] [--range nc=0100..0300]
        [--fields "title^2,text" [--mm-type most_fields]]
        [--mlt <doc_id|raw text>] [--sort rank:desc,tag:asc]
        [--queries-file conveyorbelt_spark/queries.json]
        [--body request.json] [--resolve]

With --daily, --index is a daily-index root and every option is served
from the window of day indexes that --from/--to selects; --body goes
through ``dsl.search_body_daily``.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--query")
    ap.add_argument("--queries-file")
    ap.add_argument("-k", type=int, default=10)
    ap.add_argument("--must-not")
    ap.add_argument("--must")
    ap.add_argument("--phrase", help="exact phrase query (needs --positions index)")
    ap.add_argument("--prefix", help="prefix query (dictionary expansion)")
    ap.add_argument("--wildcard", help="wildcard query (* / ?)")
    ap.add_argument("--fuzzy", help="fuzzy term query (edit distance <= --fuzziness)")
    ap.add_argument("--fuzziness", type=int, default=1)
    ap.add_argument("--min-should", type=int, default=0,
                    help="ES minimum_should_match over the query terms")
    ap.add_argument("--facet", help="terms-aggregation over this stored column")
    ap.add_argument("--daily", action="store_true",
                    help="treat --index as a daily-index root (day=YYYYMMDD dirs)")
    ap.add_argument("--from", dest="from_ts", help="daily window lower bound (ISO)")
    ap.add_argument("--to", dest="to_ts", help="daily window upper bound (ISO)")
    ap.add_argument("--resolve", action="store_true",
                    help="resolve hits through the doc-store (urls, not ids)")
    ap.add_argument("--filter", action="append", default=[],
                    help="keyword filter field=value[,value...] (ES filter context)")
    ap.add_argument("--range", dest="ranges", action="append", default=[],
                    help="keyword range filter field=lo..hi (inclusive, string order)")
    ap.add_argument("--fields", help="multi_match fields, e.g. 'title^2,text'")
    ap.add_argument("--mm-type", default="best_fields",
                    choices=("best_fields", "most_fields"))
    ap.add_argument("--mlt", help="more_like_this: a doc_id or raw text")
    ap.add_argument("--sort", help="sort-by-field spec, e.g. 'rank:desc,tag:asc'")
    ap.add_argument("--body", help="path to an ES-request-shaped JSON body (the DSL)")
    args = ap.parse_args()

    filters = {}
    for spec in args.filter:
        field, _, vals = spec.partition("=")
        vv = vals.split(",")
        filters[field] = vv if len(vv) > 1 else vv[0]
    ranges = {}
    for spec in args.ranges:
        field, _, bounds = spec.partition("=")
        lo, _, hi = bounds.partition("..")
        ranges[field] = (lo, hi)
    filters = filters or None
    ranges = ranges or None

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("conveyorbelt-search").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    sys.path.insert(0, ".")
    from conveyorbelt_spark.index.query import Searcher, bm25_topk

    # the handle every branch serves from: one index, or the window of day
    # indexes --from/--to selects (None when it selects no day)
    if args.daily:
        import datetime as dt

        from conveyorbelt_spark.index.daily import DailySearcher

        tr = None
        if args.from_ts or args.to_ts:
            tr = (
                dt.datetime.fromisoformat(args.from_ts) if args.from_ts else None,
                dt.datetime.fromisoformat(args.to_ts) if args.to_ts else None,
            )
        s = DailySearcher(spark, args.index)._window(tr)
    else:
        s = Searcher(spark, args.index)

    if args.body:
        from conveyorbelt_spark.index.dsl import search_body, search_body_daily

        with open(args.body) as f:
            body = json.load(f)
        resp = (
            search_body_daily(spark, args.index, body, time_range=tr)
            if args.daily else search_body(spark, args.index, body, searcher=s)
        )
        print(json.dumps(resp, default=str))
        return
    if s is None:
        return  # the window selects no day: no hits

    if args.facet:
        from conveyorbelt_spark.index.query import facet_counts_spark

        for r in facet_counts_spark(
            spark, s, args.facet, args.query,
            must=args.must, must_not=args.must_not, k=args.k,
            filters=filters, ranges=ranges,
        ).collect():
            print(f"{r['facet']}\t{r['n']}")
        return

    if args.mlt:
        like = int(args.mlt) if args.mlt.isdigit() else args.mlt
        for d, sc in s.more_like_this(like, args.k):
            print(f"{d}\t{sc}")
        return

    if args.fields:
        fields = [f.strip() for f in args.fields.split(",") if f.strip()]
        rows = s.multi_match_rows(
            args.query, fields, args.k, type=args.mm_type
        )
        for d, sc in rows:
            print(f"{d}\t{sc}")
        return

    if args.sort:
        spec = []
        for part in args.sort.split(","):
            f, _, d = part.partition(":")
            spec.append((f.strip(), (d or "asc").strip()))
        for row in s.sorted_rows(
            args.query, spec, args.k, must=args.must, must_not=args.must_not,
            filters=filters, ranges=ranges,
        ):
            print("\t".join(str(v) for v in row))
        return

    if args.queries_file:
        with open(args.queries_file) as f:
            cases = json.load(f)
        for case in cases:
            t0 = time.time()
            rows = s.search(case["q"], case.get("k", args.k)).collect()
            print(json.dumps({
                "q": case["q"], "k": case.get("k", args.k),
                "sec": round(time.time() - t0, 4),
                "hits": [(r.doc_id, r.score) for r in rows],
            }))
    elif args.phrase:
        for d, sc in s.phrase_rows(args.phrase, args.k):
            print(f"{d}\t{sc}")
    elif args.prefix:
        for d, sc in s.prefix_rows(args.prefix, args.k):
            print(f"{d}\t{sc}")
    elif args.wildcard:
        for d, sc in s.wildcard_rows(args.wildcard, args.k):
            print(f"{d}\t{sc}")
    elif args.fuzzy:
        for d, sc in s.fuzzy_rows(
            args.fuzzy, args.k, fuzziness=args.fuzziness
        ):
            print(f"{d}\t{sc}")
    elif args.resolve:
        for hit in s.search_docs(
            args.query, args.k, must=args.must, must_not=args.must_not
        ):
            print(json.dumps(hit))
    else:
        rows = bm25_topk(
            spark, s, args.query, args.k,
            must=args.must, must_not=args.must_not, min_should=args.min_should,
            filters=filters, ranges=ranges,
        ).collect()
        for r in rows:
            print(f"{r.doc_id}\t{r.score}")


if __name__ == "__main__":
    main()
