"""One serving searcher for one index or a window of day indexes: every
``DailySearcher`` method is a ``Searcher`` over the selected day roots, or
a distributed plan over them, and ``search_body_daily`` is ``search_body``
over that window. A full window must answer exactly like one index built
from the same documents (same deletes), a one-day window exactly like
``Searcher`` on that day's dir, and a warm window query must read no
stats.json."""

from __future__ import annotations

import datetime as dt
import random

import pytest

from conveyorbelt_spark.index.build import build_index
from conveyorbelt_spark.index.daily import DailySearcher, build_daily_index, day_dir
from conveyorbelt_spark.index.delete import delete_docs
from conveyorbelt_spark.index.dsl import UnsupportedDSL, search_body, search_body_daily
from conveyorbelt_spark.index.query import (
    Searcher,
    bm25_topk,
    bool_doc_ids,
    facet_counts_spark,
    search_aggs,
    search_sorted,
)

W = ["spark", "join", "window", "shuffle", "plan", "query", "index", "merge"]
DAYS = ("20160916", "20160917", "20160918")
DELETED = [0, 3, 6]  # all in day 20160916 (i % 3 == 0)
LAYOUT = dict(
    url_col=None, n_buckets=2, n_term_buckets=4, positions=True,
    keyword_cols=("lang",), field_cols=("title",),
    store_docs=True, store_cols=("text", "lang", "nc"),
)


@pytest.fixture(scope="module")
def roots(spark, tmp_path_factory):
    rng = random.Random(11)
    rows = [
        (
            i,
            " ".join(rng.choices(W, k=10)),
            " ".join(rng.choices(W, k=3)),
            "en" if i % 4 else "fr",
            (i * 7) % 50,
            dt.datetime(2016, 9, 16 + (i % 3), 12),
        )
        for i in range(90)
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, title string, lang string, nc long, warc_ts timestamp",
    )
    root = str(tmp_path_factory.mktemp("wroot"))
    single = str(tmp_path_factory.mktemp("wsingle"))
    build_daily_index(spark, docs, root, **LAYOUT)
    build_index(spark, docs, single, **LAYOUT)
    delete_docs(spark, day_dir(root, DAYS[0]), DELETED)
    delete_docs(spark, single, DELETED)
    return root, single


def _same(got, want):
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, a), (_, b) in zip(got, want):
        assert abs(a - b) <= 1e-12


def _same_docs(got, want):
    _same([(r["doc_id"], r["score"]) for r in got], [(r["doc_id"], r["score"]) for r in want])
    assert [(r["text"], r["lang"]) for r in got] == [(r["text"], r["lang"]) for r in want]


def _queries(time_range=None):
    """(name, DailySearcher call, Searcher call) for every delegated method."""
    tr = {"time_range": time_range}
    return [
        ("search_rows",
         lambda d: d.search_rows("spark join", 15, **tr),
         lambda s: s.search_rows("spark join", 15)),
        ("search_rows/must+filters",
         lambda d: d.search_rows(
             "window plan", 15, must="spark", filters={"lang": ["en"]}, **tr),
         lambda s: s.search_rows(
             "window plan", 15, must="spark", filters={"lang": ["en"]})),
        ("phrase_rows",
         lambda d: d.phrase_rows("spark join", 15, **tr),
         lambda s: s.phrase_rows("spark join", 15)),
        ("multi_match/best_fields",
         lambda d: d.multi_match_rows("spark join", ["text", "title^2"], 15, **tr),
         lambda s: s.multi_match_rows("spark join", ["text", "title^2"], 15)),
        ("multi_match/most_fields",
         lambda d: d.multi_match_rows(
             "spark join", ["text", "title^2"], 15, type="most_fields", **tr),
         lambda s: s.multi_match_rows(
             "spark join", ["text", "title^2"], 15, type="most_fields")),
        ("more_like_this/text",
         lambda d: d.more_like_this("spark spark join window", 10, min_doc_freq=1, **tr),
         lambda s: s.more_like_this("spark spark join window", 10, min_doc_freq=1)),
    ]


def test_full_window_equals_single_index(spark, roots):
    root, single = roots
    ds, s = DailySearcher(spark, root), Searcher(spark, single)
    for name, on_window, on_single in _queries():
        got, want = on_window(ds), on_single(s)
        assert want, name
        _same(got, want)
    assert not {d for d, _ in ds.search_rows("spark join", 90)} & set(DELETED)
    # more_like_this by id resolves the liked doc from its day's docstore
    _same(ds.more_like_this(40, 10, min_doc_freq=1), s.more_like_this(40, 10, min_doc_freq=1))
    assert ds.mlt_terms(40, min_doc_freq=1) == s.mlt_terms(40, min_doc_freq=1)
    _same_docs(ds.search_docs("spark join", 8), s.search_docs("spark join", 8))


def test_one_day_window_equals_day_searcher(spark, roots):
    root, _ = roots
    ds = DailySearcher(spark, root)
    one_day = (dt.datetime(2016, 9, 16), dt.datetime(2016, 9, 17))
    s = Searcher(spark, day_dir(root, DAYS[0]))  # the day with deletes
    for name, on_window, on_single in _queries(one_day):
        got, want = on_window(ds), on_single(s)
        assert want, name
        _same(got, want)
    _same(
        ds.more_like_this(9, 10, min_doc_freq=1, time_range=one_day),
        s.more_like_this(9, 10, min_doc_freq=1),
    )
    _same_docs(
        ds.search_docs("spark join", 8, time_range=one_day),
        s.search_docs("spark join", 8),
    )


def test_warm_window_reads_no_stats(spark, roots, monkeypatch):
    import conveyorbelt_spark.index.build as build_mod
    import conveyorbelt_spark.index.daily as daily_mod
    import conveyorbelt_spark.index.query as query_mod

    root, _ = roots
    ds = DailySearcher(spark, root)
    warm = [on_window(ds) for _, on_window, _ in _queries()]

    def boom(*a, **k):
        raise AssertionError("load_stats called on a warm DailySearcher")

    for mod in (daily_mod, query_mod, build_mod):
        monkeypatch.setattr(mod, "load_stats", boom)
    assert [on_window(ds) for _, on_window, _ in _queries()] == warm


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_window_plans_equal_single_index(spark, roots):
    """The distributed plans over a window Searcher: each day's committed
    runs and tombstones apply before the union, then one dedup /
    aggregation / sort — the single index's answers."""
    root, single = roots
    ds, s = DailySearcher(spark, root), Searcher(spark, single)
    _same(
        _rows(ds.search("spark join", 15)),
        _rows(bm25_topk(spark, single, "spark join", 15)),
    )
    _same(
        _rows(ds.search("window plan", 15, must="spark", filters={"lang": "en"})),
        s.search_rows("window plan", 15, must="spark", filters={"lang": "en"}),
    )
    for q, kw in (("spark", {"must_not": "join"}), ("", {"filters": {"lang": "fr"}})):
        got = {r.doc_id for r in ds.bool_doc_ids(q, **kw).collect()}
        want = {r.doc_id for r in bool_doc_ids(spark, single, q, **kw).collect()}
        assert got == want and want
        assert not got & set(DELETED)
    aggs = {"langs": {"terms": {"field": "lang"}}, "n": {"stats": {"field": "nc"}},
            "u": {"cardinality": {"field": "nc", "exact": True}}}
    got = {n: _rows(df) for n, df in ds.search_aggs(aggs, "spark").items()}
    want = {n: _rows(df) for n, df in search_aggs(spark, single, aggs, "spark").items()}
    assert got == want
    sort = [("lang", "desc"), ("nc", "asc")]
    assert _rows(ds.search_sorted("spark", sort, 12)) == _rows(
        search_sorted(spark, single, "spark", sort, 12)
    )
    assert _rows(ds.search_sorted("spark", sort, 12, search_after=("fr", 20, 0))) == _rows(
        search_sorted(spark, single, "spark", sort, 12, search_after=("fr", 20, 0))
    )
    assert ds.facet_counts("lang", "join") == [
        (r.facet, r.n) for r in facet_counts_spark(spark, single, "lang", "join").collect()
    ]
    for kind, val in (("prefix", "sh"), ("wildcard", "s*e"), ("fuzzy", "sparc")):
        assert ds.expand_terms(kind, val) == s.expand_terms(kind, val)
        _same(ds.expansion_rows(kind, val, 12), s.expansion_rows(kind, val, 12))


def _bodies(floor: float) -> list[tuple[str, dict]]:
    match = {"match": {"text": "spark join"}}
    return [
        ("match", {"query": match, "size": 12}),
        ("bool+filter", {"query": {"bool": {
            "must": [{"match": {"text": "window"}}],
            "should": [{"match": {"text": "spark"}}],
            "filter": [{"term": {"lang": "en"}}]}}, "size": 12}),
        ("phrase", {"query": {"match_phrase": {"text": "spark join"}},
                    "track_total_hits": True}),
        ("multi_match", {"query": {"multi_match": {
            "query": "spark join", "fields": ["text", "title^2"]}},
            "track_total_hits": True}),
        ("prefix", {"query": {"prefix": {"text": "sh"}}, "track_total_hits": True}),
        ("fuzzy", {"query": {"fuzzy": {"text": {"value": "sparc", "fuzziness": 1}}},
                   "track_total_hits": True}),
        ("keyword prefix filter", {"query": {"bool": {
            "must": [match], "filter": [{"prefix": {"lang": "f"}}]}}}),
        ("mlt", {"query": {"more_like_this": {
            "like": "spark join window", "min_doc_freq": 1}},
            "track_total_hits": True}),
        ("ids", {"query": {"ids": {"values": [0, 3, 4, 5, 40, 41]}},
                 "track_total_hits": True}),
        ("sort+search_after", {"query": match, "size": 7,
                               "sort": [{"lang": "desc"}, {"nc": "asc"}],
                               "search_after": ["fr", 20, 0]}),
        ("score sort", {"query": match, "size": 5, "sort": ["_score"],
                        "search_after": [floor, 0]}),
        ("aggs", {"query": match, "size": 0, "aggs": {
            "langs": {"terms": {"field": "lang"}}, "n": {"stats": {"field": "nc"}}}}),
        ("match_all aggs", {"query": {"bool": {"filter": [{"term": {"lang": "fr"}}]}},
                            "size": 4, "aggs": {"n": {"stats": {"field": "nc"}}}}),
        ("track_total_hits", {"query": match, "track_total_hits": True}),
        ("_source", {"query": match, "size": 6, "_source": ["lang", "nc"]}),
        ("highlight", {"query": match, "size": 6, "highlight": {"fields": {"text": {}}}}),
        ("min_score", {"query": match, "size": 20, "min_score": floor}),
        ("rescore", {"query": match, "size": 8, "rescore": {
            "window_size": 10, "query": {
                "rescore_query": {"match_phrase": {"text": "spark join"}},
                "rescore_query_weight": 2.0}}}),
        ("collapse", {"query": match, "size": 5, "collapse": {"field": "lang"}}),
        ("explain", {"query": match, "size": 3, "explain": True}),
    ]


def _same_response(got: dict, want: dict, name: str) -> None:
    assert got["hits"]["total"] == want["hits"]["total"], name
    gh, wh = got["hits"]["hits"], want["hits"]["hits"]
    assert [h["_id"] for h in gh] == [h["_id"] for h in wh], name
    for a, b in zip(gh, wh):
        if b["_score"] is None:
            assert a["_score"] is None, name
        else:
            assert abs(a["_score"] - b["_score"]) <= 1e-12, name
        skip = ("_score", "_explanation")
        assert {k: v for k, v in a.items() if k not in skip} == {
            k: v for k, v in b.items() if k not in skip
        }, name
        if "_explanation" in b:
            assert abs(a["_explanation"]["value"] - b["_explanation"]["value"]) <= 1e-12, name
    assert got.get("aggregations") == want.get("aggregations"), name


def test_search_body_daily_equals_single_index(spark, roots):
    """A request body over the full window answers like ``search_body``
    over the one index — hits, scores, totals, aggs, ``_source``,
    highlight, ``min_score``, rescore and collapse included."""
    root, single = roots
    s = Searcher(spark, single)
    ranked = search_body(spark, single, {"query": {"match": {"text": "spark join"}},
                                         "size": 20}, searcher=s)["hits"]["hits"]
    floor = ranked[6]["_score"]
    for name, body in _bodies(floor):
        want = search_body(spark, single, body, searcher=s)
        got = search_body_daily(spark, root, body)
        _same_response(got, want, name)
        if name == "min_score":
            assert 0 < len(got["hits"]["hits"]) < 20
        if name == "_source":
            assert all(set(h["_source"]) == {"lang", "nc"} for h in got["hits"]["hits"])
        if name == "ids":
            assert [h["_id"] for h in got["hits"]["hits"]] == [4, 5, 40, 41]
            assert got["hits"]["total"] == {"value": 4, "relation": "eq"}


_M = {"match": {"text": "spark"}}
# one body per shape the window guard rejects
GUARDED = [
    {"query": {"span_near": {"clauses": [
        {"span_term": {"text": "spark"}}, {"span_term": {"text": "join"}}]}}},
    {"query": {"intervals": {"text": {"match": {"query": "spark join", "max_gaps": 0}}}}},
    {"query": {"terms_set": {"text": {
        "terms": ["spark"], "minimum_should_match_field": "nc"}}}},
    {"query": {"nested": {"path": "comments",
                          "query": {"term": {"comments.author": "alice"}}}}},
    {"query": {"dis_max": {"queries": [_M, {"match": {"text": "join"}}]}}},
    {"query": {"boosting": {"positive": _M, "negative": {"match": {"text": "join"}},
                            "negative_boost": 0.5}}},
    {"query": {"function_score": {"query": _M, "field_value_factor": {"field": "nc"}}}},
    {"query": {"script_score": {"query": _M, "script": {"source": "_score * 2"}}}},
    {"query": {"match_phrase_prefix": {"text": "spark jo"}}},
    {"query": {"rank_feature": {"field": "nc"}}},
    {"query": {"distance_feature": {"field": "nc", "origin": 10, "pivot": 5}}},
    {"query": {"bool": {"must": [_M], "should": [{"rank_feature": {"field": "nc"}}]}}},
    {"query": {"pinned": {"ids": [4], "organic": _M}}},
    {"knn": {"field": "v", "query_vector": [1.0], "k": 1}},
    {"retriever": {"rrf": {"retrievers": [{"standard": {"query": _M}}]}}},
    {"pit": {"id": "none"}},
    {"query": _M, "suggest": {"fix": {"text": "sparc", "term": {"field": "text"}}}},
]


def test_window_guard_rejects_one_index_shapes(spark, roots):
    """Shapes served from one index dir raise UnsupportedDSL over a window
    — from one guard, never silently dropped."""
    root, _ = roots
    for body in GUARDED:
        with pytest.raises(UnsupportedDSL, match="day window"):
            search_body_daily(spark, root, body)


def test_ids_and_pinned_skip_deleted_docs(spark, roots):
    """An ids query, its exact total and a pinned id never return a
    deleted doc (the point-lookup liveness rule mget applies), on one
    index and over a window."""
    root, single = roots
    body = {"query": {"ids": {"values": [0, 3, 6, 9]}}, "track_total_hits": True}
    for resp in (search_body(spark, single, body), search_body_daily(spark, root, body)):
        assert [h["_id"] for h in resp["hits"]["hits"]] == [9]
        assert resp["hits"]["total"] == {"value": 1, "relation": "eq"}
    resp = search_body(spark, single, {"query": {"pinned": {
        "ids": [3, 9], "organic": {"match": {"text": "spark"}}}}, "size": 30})
    ids = [h["_id"] for h in resp["hits"]["hits"]]
    assert ids[0] == 9 and not set(ids) & set(DELETED)


def test_search_submit_daily_serves_every_option(spark, roots, tmp_path, monkeypatch, capsys):
    """``scripts/search_submit.py --daily`` serves its options from the
    window handle and sends ``--body`` through ``search_body_daily``."""
    import importlib.util
    import json
    import pathlib
    import sys

    root, _ = roots
    path = pathlib.Path(__file__).parents[1] / "scripts" / "search_submit.py"
    spec = importlib.util.spec_from_file_location("search_submit", path)
    script = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(script)

    def run(*args) -> str:
        argv = ["search_submit.py", "--index", root, "--daily", *args]
        monkeypatch.setattr(sys, "argv", argv)
        script.main()
        return capsys.readouterr().out

    got = run("--query", "spark join", "--fields", "text,title^2", "-k", "5")
    want = DailySearcher(spark, root).multi_match_rows("spark join", ["text", "title^2"], 5)
    assert got == "".join(f"{d}\t{sc}\n" for d, sc in want)

    body = {"query": {"match": {"text": "spark join"}}, "size": 4, "_source": ["lang"]}
    (tmp_path / "body.json").write_text(json.dumps(body))
    got = run(
        "--body", str(tmp_path / "body.json"), "--from", "2016-09-17", "--to", "2016-09-18"
    )
    one_day = (dt.datetime(2016, 9, 17), dt.datetime(2016, 9, 18))
    want = search_body_daily(spark, root, body, time_range=one_day)
    assert json.loads(got) == json.loads(json.dumps(want, default=str))
    assert len(want["hits"]["hits"]) == 4 and "_source" in want["hits"]["hits"][0]
