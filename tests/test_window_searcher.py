"""One serving searcher for one index or a window of day indexes: every
``DailySearcher`` serving method is a ``Searcher`` over the selected day
roots. A full window must answer exactly like one index built from the same
documents (same deletes), a one-day window exactly like ``Searcher`` on
that day's dir, and a warm window query must read no stats.json."""

from __future__ import annotations

import datetime as dt
import random

import pytest

from conveyorbelt_spark.index.build import build_index
from conveyorbelt_spark.index.daily import DailySearcher, build_daily_index, day_dir
from conveyorbelt_spark.index.delete import delete_docs
from conveyorbelt_spark.index.query import Searcher

W = ["spark", "join", "window", "shuffle", "plan", "query", "index", "merge"]
DAYS = ("20160916", "20160917", "20160918")
DELETED = [0, 3, 6]  # all in day 20160916 (i % 3 == 0)
LAYOUT = dict(
    url_col=None, n_buckets=2, n_term_buckets=4, positions=True,
    keyword_cols=("lang",), field_cols=("title",),
    store_docs=True, store_cols=("text", "lang"),
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
            dt.datetime(2016, 9, 16 + (i % 3), 12),
        )
        for i in range(90)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, title string, lang string, warc_ts timestamp"
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
