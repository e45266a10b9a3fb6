"""Doc-store resolution (the ES '_source' half: searches return documents,
not internal ids) + in-stream compaction cadence."""

from __future__ import annotations

from pyspark.sql import functions as F  # noqa: N812

from conveyorbelt_spark.corpus import corpus_spark_df
from conveyorbelt_spark.index.build import build_index, lookup_docs
from conveyorbelt_spark.index.query import Searcher
from conveyorbelt_spark.streaming.incremental import index_batch


def test_search_docs_resolves_urls(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("store_idx"))
    docs = corpus_spark_df(spark, 300, seed=3, n_parts=2)
    build_index(spark, docs, out, n_buckets=8, store_docs=True)
    s = Searcher(spark, out)
    hits = s.search_docs("term00000 term00123", 5)
    assert len(hits) == 5
    urls = {r.doc_id: r.url for r in docs.selectExpr(
        "shiftrightunsigned(xxhash64(url), 1) as doc_id", "url").collect()}
    for h in hits:
        assert h["url"] == urls[h["doc_id"]]
        assert h["score"] > 0
    # driver-side bulk resolve, pruned by doc-id bucket
    ids = [h["doc_id"] for h in hits]
    meta = lookup_docs(out, ids)
    assert set(meta) == set(ids)


def test_incremental_docstore_and_missing_rows(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("store_inc"))
    a = corpus_spark_df(spark, 150, seed=1, n_parts=1)
    b = corpus_spark_df(spark, 150, seed=2, n_parts=1, part_offset=1)
    index_batch(spark, a, out, 0, n_buckets=8, store_docs=True)
    index_batch(spark, b, out, 1, n_buckets=8)  # no store for batch 1
    s = Searcher(spark, out)
    hits = s.search_docs("term00000", 10)
    assert hits  # batch-0 hits carry urls, batch-1 hits come back bare
    assert all("doc_id" in h and "score" in h for h in hits)
    assert any("url" in h for h in hits)


def test_facets_and_index_info(spark, tmp_path_factory):
    """Terms-agg facets over stored columns + the _stats-style snapshot."""
    from conveyorbelt_spark.index.build import write_docstore
    from conveyorbelt_spark.index.query import index_info

    out = str(tmp_path_factory.mktemp("facet_idx"))
    docs = corpus_spark_df(spark, 400, seed=9, n_parts=2).withColumn(
        "site", F.regexp_extract("url", r"https://(site\d+)", 1)
    )
    build_index(spark, docs, out, n_buckets=8)
    write_docstore(spark, docs, out, extra_cols=("site", "lang"))
    s = Searcher(spark, out)
    facets = s.facet_counts("term00000", "lang", k=5)
    assert facets and all(isinstance(n, int) and n > 0 for _, n in facets)
    # counts agree with a direct computation over the matched set
    hit_ids = {d for d, _ in s.search_rows("term00000", 10**6)}
    want = (
        docs.selectExpr("shiftrightunsigned(xxhash64(url), 1) AS doc_id", "lang")
        .where(F.col("doc_id").isin(list(hit_ids)))
        .groupBy("lang").count().collect()
    )
    want_d = {r.lang: r["count"] for r in want}
    assert dict(facets) == dict(sorted(want_d.items(), key=lambda kv: (-kv[1], kv[0]))[:5])

    sc = spark.sparkContext
    sc.setJobGroup("index-info", "index-info")
    try:
        info = index_info(spark, out)
    finally:
        sc.setJobGroup(None, None)
    # a metadata snapshot: the manifest is read on the driver, no Spark job
    assert len(sc.statusTracker().getJobIdsForGroup("index-info")) == 0
    assert info["stats"]["n_docs"] == 400
    assert info["n_runs"] == 1 and info["total_postings"] > 0


def test_stream_compaction_cadence(spark, tmp_path_factory):
    """compact_every folds delta runs in-stream: after 4 batches with
    cadence 2, segments hold only the compacted run (+ nothing pending),
    and results survive."""
    import shutil

    from conveyorbelt_spark.index.query import bm25_topk
    from conveyorbelt_spark.streaming.incremental import incremental_index_stream

    in_dir = tmp_path_factory.mktemp("cad_in")
    out = str(tmp_path_factory.mktemp("cad_idx"))
    ckpt = str(tmp_path_factory.mktemp("cad_ckpt"))
    for i in range(4):
        d = corpus_spark_df(spark, 80, seed=40 + i, n_parts=1, part_offset=i)
        d.coalesce(1).write.parquet(str(in_dir / f"p{i}"))
    q = incremental_index_stream(
        spark, str(in_dir) + "/*/", out, ckpt, n_buckets=8, compact_every=2
    )
    q.awaitTermination(300)
    runs = {r.run for r in spark.read.parquet(f"{out}/segments").select("run").distinct().collect()}
    assert runs == {"compacted"}  # all deltas folded
    assert bm25_topk(spark, out, "term00000", 5).count() > 0
    shutil.rmtree(str(in_dir), ignore_errors=True)


def test_distributed_facets_match_driver_path(spark, tmp_path_factory):
    """facet_counts_spark (no cap, fully distributed) must agree with the
    driver fast path, including under bool must/must_not filtering; a
    saturated driver fast path escalates instead of truncating."""
    from conveyorbelt_spark.index.build import write_docstore
    from conveyorbelt_spark.index.query import bool_doc_ids, facet_counts_spark

    out = str(tmp_path_factory.mktemp("dfacet_idx"))
    docs = corpus_spark_df(spark, 400, seed=17, n_parts=2)
    build_index(spark, docs, out, n_buckets=8)
    write_docstore(spark, docs, out, extra_cols=("lang",))
    s = Searcher(spark, out)

    for kw in (
        {"query": "term00000"},
        {"query": "term00000 term00123", "must": "term00002"},
        {"query": "term00000", "must_not": "term00001"},
    ):
        drv = s.facet_counts(facet_col="lang", k=10, **kw)
        dist = [
            (r["facet"], int(r["n"]))
            for r in facet_counts_spark(spark, out, "lang", k=10, **kw).collect()
        ]
        assert dist == drv, kw
        # hit sets agree with the scored path (no cap on either side)
        want_ids = {d for d, _ in s.search_rows(kw["query"], 10**6,
                                                must=kw.get("must"),
                                                must_not=kw.get("must_not"))}
        got_ids = {r.doc_id for r in bool_doc_ids(spark, out, **kw).collect()}
        assert got_ids == want_ids, kw

    # saturation escalates: a tiny max_hits must still return EXACT counts
    exact = s.facet_counts("term00000", "lang", k=10)
    assert s.facet_counts("term00000", "lang", k=10, max_hits=3) == exact


def test_pagination_offset(spark, tmp_path_factory):
    """ES from/size: page 2 continues exactly where page 1 ended."""
    out = str(tmp_path_factory.mktemp("page_idx"))
    docs = corpus_spark_df(spark, 300, seed=21, n_parts=2)
    build_index(spark, docs, out, n_buckets=8)
    s = Searcher(spark, out)
    full = s.search_rows("term00000 term00123", 30)
    assert len(full) == 30
    p1 = s.search_rows("term00000 term00123", 10)
    p2 = s.search_rows("term00000 term00123", 10, offset=10)
    p3 = s.search_rows("term00000 term00123", 10, offset=20)
    assert p1 + p2 + p3 == full
    assert s.search_rows("term00000", 10, offset=10**6) == []


def test_search_highlight(spark, tmp_path_factory):
    """Highlighter wraps every query-term occurrence in the fragment and
    the fragment always contains a match."""
    import re

    from conveyorbelt_spark.index.build import write_docstore

    out = str(tmp_path_factory.mktemp("hl_idx"))
    docs = corpus_spark_df(spark, 200, seed=27, n_parts=1)
    build_index(spark, docs, out, n_buckets=8)
    write_docstore(spark, docs, out, extra_cols=("text",))
    s = Searcher(spark, out)
    hits = s.search_highlight("term00000 term00123", 5)
    assert len(hits) == 5
    for h in hits:
        assert "highlight" in h, h
        frag = h["highlight"]
        marked = re.findall(r"<em>([a-z0-9]+)</em>", frag)
        assert marked and set(marked) <= {"term00000", "term00123"}
        # no unmarked occurrence of a query term survives in the fragment
        bare = re.sub(r"<em>[a-z0-9]+</em>", "", frag)
        assert "term00000" not in bare and "term00123" not in bare
