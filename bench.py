"""Benchmark harness — prints ONE JSON line.

Measures the BASELINE.json headline metrics:
- index-build throughput (docs/sec) over the synthetic web corpus
- BM25 top-k p50 latency over the reference query set
- per-query wall time for every queries() entry at $SPARK_GRAFT_SF_DIR

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32),
     SPARK_GRAFT_BENCH_DOCS (override corpus size).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from conveyorbelt_spark.corpus import corpus_spark_df, reference_query_set
from conveyorbelt_spark.index.build import build_index
from conveyorbelt_spark.queries import QUERIES
from conveyorbelt_spark.session import get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.1
    n_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", str(max(2000, int(200_000 * sf)))))

    spark = get_spark("bench", master=f"local[{cpus}]", shuffle_partitions=cpus)
    t0_all = time.time()

    # --- index build throughput -------------------------------------------
    idx_dir = tempfile.mkdtemp(prefix="cb_bench_idx_")
    corpus_dir = tempfile.mkdtemp(prefix="cb_bench_corpus_")
    try:
        # materialize the corpus first — data synthesis is not index build
        t0 = time.time()
        corpus_spark_df(spark, n_docs, seed=42, n_parts=cpus * 2).write.mode(
            "overwrite"
        ).parquet(corpus_dir)
        corpus_sec = time.time() - t0
        docs = spark.read.parquet(corpus_dir)
        t0 = time.time()
        build_index(spark, docs, idx_dir, n_buckets=32)
        build_sec = time.time() - t0
        docs_per_sec = n_docs / build_sec

        # --- BM25 p50 latency over the reference query set ----------------
        from conveyorbelt_spark.index.query import Searcher

        searcher = Searcher(spark, idx_dir)
        lat = []
        for case in reference_query_set():
            t0 = time.time()
            searcher.search_rows(case["q"], case["k"])
            lat.append(time.time() - t0)
        lat.sort()
        p50 = lat[len(lat) // 2]
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)
        shutil.rmtree(corpus_dir, ignore_errors=True)

    # --- operator queries at sf_dir ---------------------------------------
    per_query: dict[str, float] = {}
    for name, fn in sorted(QUERIES.items()):
        t0 = time.time()
        fn(spark, sf_dir).collect()
        per_query[name] = round(time.time() - t0, 3)
        # no cross-query state: a query's cached frames must not squat on
        # executor memory while later queries run (r2: q10's cache slowed
        # q11/q12 by ~6x)
        spark.catalog.clearCache()
    per_query["index_build"] = round(build_sec, 3)
    per_query["bm25_p50"] = round(p50, 4)

    # --- ES-surface serving timings (bench hygiene) -----------------------
    # The q32-q42 gate queries build a fresh index INSIDE the query, so
    # their per-query seconds are dominated by build cost and mask
    # serving-path regressions. Here the ES-surface indexes are built ONCE
    # (cost reported separately) and each surface op is timed pure.
    es_serving = _es_surface_bench(spark, sf_dir)

    total = time.time() - t0_all
    detail = {
        "n_docs_indexed": n_docs,
        "index_build_sec": round(build_sec, 3),
        "bm25_p50_sec": round(p50, 4),
        "bm25_p95_sec": round(lat[int(len(lat) * 0.95)], 4),
        "corpus_gen_sec": round(corpus_sec, 3),
        "total_sec": round(total, 2),
        "cpus": cpus,
        "es_serving": es_serving,
    }
    # per-op detail goes to a FILE; stdout's LAST line stays the compact
    # machine-readable headline (the driver tails a bounded window — the
    # round-4 es_serving blob pushed the JSON out of it: parsed=null)
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH", "bench_detail.json")
    os.makedirs(os.path.dirname(detail_path), exist_ok=True)
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
    print(f"detail -> {detail_path}", file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": "index_build_docs_per_sec",
                "value": round(docs_per_sec, 1),
                "unit": "docs/sec",
                "queries": per_query,
                "sf": sf,
            }
        )
    )
    spark.stop()


def _es_surface_bench(spark, sf_dir: str) -> dict:
    """Build the ES-surface indexes over the sf documents table ONCE, then
    time each user-facing operation pure (build cost reported separately —
    the q32-q42 gates time build+query together)."""
    import datetime as dt

    from pyspark.sql import functions as F  # noqa: N812

    from conveyorbelt_spark.index.build import sortable_int_col, write_docstore
    from conveyorbelt_spark.index.daily import DailySearcher, build_daily_index
    from conveyorbelt_spark.index.dsl import search_body
    from conveyorbelt_spark.index.query import Searcher, search_aggs

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    flat_dir = tempfile.mkdtemp(prefix="cb_bench_es_")
    daily_dir = tempfile.mkdtemp(prefix="cb_bench_daily_")
    out: dict[str, float] = {}
    try:
        t0 = time.time()
        build_index(
            spark, docs.select("doc_id", "text", "lang", "n_chars"), flat_dir,
            url_col=None, n_buckets=16, positions=True, fuzzy_deletes=True,
            keyword_cols=("lang", ("nc", sortable_int_col("n_chars", 4))),
        )
        write_docstore(
            spark, docs.select("doc_id", "text", "lang", "n_chars"), flat_dir,
            url_col=None, extra_cols=("lang", "n_chars"),
        )
        out["es_build_sec"] = round(time.time() - t0, 3)

        t0 = time.time()
        build_daily_index(
            spark,
            docs.select("doc_id", "text").withColumn(
                "warc_ts",
                F.expr(
                    "timestampadd(DAY, cast(pmod(doc_id, 4) as int), "
                    "timestamp '2016-09-16 12:00:00')"
                ),
            ),
            daily_dir, url_col=None, n_buckets=8, store_cols=("text",),
        )
        out["daily_build_sec"] = round(time.time() - t0, 3)

        s = Searcher(spark, flat_dir)
        win = (dt.datetime(2016, 9, 17), dt.datetime(2016, 9, 19))
        ds = DailySearcher(spark, daily_dir)
        ops = {
            "search": lambda: s.search_rows("spark join window", 20),
            "filtered_search": lambda: s.search_rows(
                "spark join", 20, filters={"lang": ["en", "de"]},
                ranges={"nc": ("0080", "0350")},
            ),
            "min_should": lambda: s.search_rows(
                "spark join window", 20, min_should=2
            ),
            "phrase": lambda: s.phrase_rows("value table", 20),
            "fuzzy_prefix0": lambda: s.fuzzy_rows("valu", 20, prefix_length=0),
            "dsl_body": lambda: search_body(spark, flat_dir, {
                "query": {"bool": {
                    "should": [{"match": {"text": "spark join window"}}],
                    "filter": [{"terms": {"lang": ["en", "de"]}}],
                }},
                "size": 20,
            }, searcher=s),
            "dsl_nested_bool": lambda: search_body(spark, flat_dir, {
                "query": {"bool": {
                    "must": [
                        {"match": {"text": "spark"}},
                        {"bool": {"should": [{"match": {"text": "join"}},
                                             {"match": {"text": "window"}}],
                                  "minimum_should_match": 1}},
                    ],
                    "filter": [{"bool": {"should": [
                        {"term": {"lang": "en"}},
                        {"range": {"nc": {"gte": "0080", "lte": "0350"}}},
                    ]}}],
                }},
                "size": 20,
            }, searcher=s),
            "dsl_score_cursor_page2": lambda: search_body(spark, flat_dir, {
                "query": {"match": {"text": "spark join window"}},
                "sort": ["_score"], "size": 20,
                "search_after": [1.0, 0],
            }, searcher=s),
            "sub_bucket_aggs": lambda: s.aggs_rows(
                {"by_lang": {"terms": {"field": "lang"},
                             "aggs": {"st": {"stats": {"field": "n_chars"}}}}},
                "spark join",
            ),
            "date_histogram": lambda: {
                name: df.collect()
                for name, df in search_aggs(spark, flat_dir, {
                    "langs": {"terms": {"field": "lang"}},
                }, "spark join").items()
            },
            "aggs_serving": lambda: s.aggs_rows(
                {"langs": {"terms": {"field": "lang"}},
                 "lens": {"stats": {"field": "n_chars"}}},
                "spark join",
            ),
            "sloppy_phrase": lambda: s.phrase_rows("value table", 20, slop=2),
            "significant_terms": lambda: s.aggs_rows(
                {"sig": {"significant_terms": {"field": "lang"}}},
                "spark join",
            ),
            "term_suggester": lambda: s.term_suggest("sorw tabel vallue"),
            "phrase_suggester": lambda: s.phrase_suggest("sport join"),
            "explain": lambda: s.explain("spark join window", 1),
            "dis_max": lambda: search_body(spark, flat_dir, {
                "query": {"dis_max": {"queries": [
                    {"match": {"text": "spark join window"}},
                    {"match_phrase": {"text": "spark join"}},
                ], "tie_breaker": 0.3}}, "size": 20,
            }, searcher=s),
            "function_score": lambda: search_body(spark, flat_dir, {
                "query": {"function_score": {
                    "query": {"match": {"text": "spark join window"}},
                    "field_value_factor": {
                        "field": "n_chars", "factor": 0.01, "modifier": "log1p",
                    },
                }}, "size": 20,
            }, searcher=s),
            "match_phrase_prefix": lambda: search_body(spark, flat_dir, {
                "query": {"match_phrase_prefix": {"text": {"query": "big s"}}},
                "size": 20,
            }, searcher=s),
            "nested_agg_tree": lambda: s.aggs_rows({
                "byl": {"terms": {"field": "lang", "size": 5}, "aggs": {
                    "avgc": {"avg": {"field": "n_chars"}},
                    "byh": {"histogram": {"field": "n_chars", "interval": 200},
                            "aggs": {"st": {"stats": {"field": "n_chars"}}}},
                }},
            }, "spark join"),
            "rank_feature_boost": lambda: search_body(spark, flat_dir, {
                "query": {"bool": {
                    "must": [{"match": {"text": "spark join"}}],
                    "should": [{"rank_feature": {
                        "field": "n_chars", "log": {"scaling_factor": 1},
                        "boost": 0.5,
                    }}],
                }}, "size": 20,
            }, searcher=s),
            "rrf_fusion": lambda: search_body(spark, flat_dir, {
                "retriever": {"rrf": {"retrievers": [
                    {"standard": {"query": {"match": {"text": "spark join"}}}},
                    {"standard": {"query": {"match": {"text": "window shuffle"}}}},
                ], "rank_window_size": 20}}, "size": 20,
            }, searcher=s),
            "pinned": lambda: search_body(spark, flat_dir, {
                "query": {"pinned": {"ids": [5, 11],
                                     "organic": {"match": {"text": "spark join"}}}},
                "size": 20,
            }, searcher=s),
            "terms_order_metric": lambda: s.aggs_rows({
                "byl": {"terms": {"field": "lang", "size": 3,
                                  "order": {"avgc": "desc"}},
                        "aggs": {"avgc": {"avg": {"field": "n_chars"}}}},
            }, "spark join"),
            "gapfill_histogram": lambda: s.aggs_rows({
                "h": {"histogram": {"field": "n_chars", "interval": 100,
                                    "min_doc_count": 0}},
            }, "spark join"),
            "daily_window_search": lambda: ds.search_rows(
                "spark join window", 20, time_range=win
            ),
            "daily_window_facets": lambda: ds.facet_counts(
                "text", "value", time_range=win, k=5
            ),
        }
        for name, fn in ops.items():
            # cold then warm: serving nodes run warm (block LRU populated)
            t0 = time.time()
            fn()
            out[f"{name}_cold_sec"] = round(time.time() - t0, 4)
            t0 = time.time()
            fn()
            out[f"{name}_warm_sec"] = round(time.time() - t0, 4)
        if os.environ.get("SPARK_GRAFT_BENCH_D90"):
            # 90 real day builds cost ~4-5 min on this throttled host —
            # opt-in; the recorded run lives in BENCH/daily90.json
            out.update(_daily90_bench(spark))
    finally:
        shutil.rmtree(flat_dir, ignore_errors=True)
        shutil.rmtree(daily_dir, ignore_errors=True)
    return out


def _daily90_bench(spark) -> dict:
    """90-day window serving bench: the driver-metadata scaling evidence.
    90 small day indexes (fixed size, sf-independent), then one windowed
    query over ALL 90 days — the dictionary probe is ONE pyarrow dataset
    and per-day stats are mtime-cached, so the warm number isolates the
    serving cost a multi-month Kibana window actually pays."""
    from pyspark.sql import functions as F  # noqa: N812

    from conveyorbelt_spark.corpus import corpus_spark_df
    from conveyorbelt_spark.index.daily import DailySearcher, build_daily_index

    root = tempfile.mkdtemp(prefix="cb_bench_d90_")
    out: dict[str, float] = {}
    try:
        docs = corpus_spark_df(spark, 4500, seed=90, n_parts=8).withColumn(
            "warc_ts",
            F.expr(
                "timestampadd(DAY, cast(pmod(xxhash64(url), 90) as int), "
                "timestamp '2016-06-01 12:00:00')"
            ),
        )
        t0 = time.time()
        build_daily_index(spark, docs, root, n_buckets=2, parallelism=8)
        out["daily90_build_sec"] = round(time.time() - t0, 3)
        ds = DailySearcher(spark, root)
        t0 = time.time()
        ds.search_rows("term00001 term00456", 10)  # full 90-day window
        out["daily90_window_cold_sec"] = round(time.time() - t0, 4)
        t0 = time.time()
        ds.search_rows("term00001 term00456", 10)
        out["daily90_window_warm_sec"] = round(time.time() - t0, 4)
        # metadata-only cost over the 90 days: the window Searcher (merged
        # stats from the warm per-day cache) + its ONE dictionary dataset
        # probe for the two terms (a warm handle pays no stats reads)
        t0 = time.time()
        ds._window(None)._entries(["term00001", "term00456"])
        out["daily90_metadata_warm_sec"] = round(time.time() - t0, 4)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


if __name__ == "__main__":
    main()
