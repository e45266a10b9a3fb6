"""ES compound queries at the DSL layer: dis_max (tie_breaker), boosting
(negative_boost demotion), function_score (field_value_factor), and
match_phrase_prefix — each pinned against truths recombined from the
direct serving APIs' FULL result sets."""

from __future__ import annotations

import math
import random

import pytest

from conveyorbelt_spark.index.build import build_index, write_docstore
from conveyorbelt_spark.index.dsl import UnsupportedDSL, search_body
from conveyorbelt_spark.index.query import Searcher

W = ["spark", "join", "window", "shuffle", "plan", "query", "index", "merge"]
BIG = 10_000


@pytest.fixture(scope="module")
def croot(spark, tmp_path_factory):
    rng = random.Random(17)
    rows = [
        (i, " ".join(rng.choices(W, k=10)), (i * 13) % 400)
        for i in range(150)
    ]
    out = str(tmp_path_factory.mktemp("cmpidx"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, nc long")
    build_index(
        spark, docs, out, url_col=None, n_buckets=4, n_term_buckets=8,
        positions=True,
    )
    write_docstore(spark, docs, out, url_col=None, extra_cols=("text", "nc"))
    return out, rows


def _hits(resp):
    return [(h["_id"], h["_score"]) for h in resp["hits"]["hits"]]


def test_dis_max(spark, croot):
    """score = best sub-score + tie_breaker × the rest; the doc set is the
    union of the sub-queries' matching sets; total is exact."""
    out, _ = croot
    s = Searcher(spark, out)
    m = dict(s.search_rows("spark join", BIG, prune=False))
    p = dict(s.phrase_rows("spark join", BIG))
    body = {"query": {"dis_max": {
        "queries": [
            {"match": {"text": "spark join"}},
            {"match_phrase": {"text": "spark join"}},
        ],
        "tie_breaker": 0.3,
    }}, "size": 15}
    resp = search_body(spark, out, body)
    want = []
    for d in set(m) | set(p):
        scs = [x[d] for x in (m, p) if d in x]
        mx = max(scs)
        want.append((d, mx + 0.3 * (sum(scs) - mx)))
    want.sort(key=lambda t: (-t[1], t[0]))
    got = _hits(resp)
    assert [d for d, _ in got] == [d for d, _ in want[:15]]
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gs == pytest.approx(ws)
    assert resp["hits"]["total"] == {"value": len(set(m) | set(p)), "relation": "eq"}
    # tie_breaker 0 = pure max
    body["query"]["dis_max"]["tie_breaker"] = 0.0
    got0 = _hits(search_body(spark, out, body))
    want0 = sorted(
        ((d, max(x[d] for x in (m, p) if d in x)) for d in set(m) | set(p)),
        key=lambda t: (-t[1], t[0]),
    )[:15]
    assert [d for d, _ in got0] == [d for d, _ in want0]


def test_boosting(spark, croot):
    """Positive hits matching the negative clause are demoted by
    negative_boost, not excluded."""
    out, _ = croot
    s = Searcher(spark, out)
    pos = dict(s.search_rows("spark join", BIG, prune=False))
    neg = set(dict(s.search_rows("merge", BIG, prune=False)))
    resp = search_body(spark, out, {"query": {"boosting": {
        "positive": {"match": {"text": "spark join"}},
        "negative": {"match": {"text": "merge"}},
        "negative_boost": 0.4,
    }}, "size": 20})
    want = sorted(
        ((d, sc * (0.4 if d in neg else 1.0)) for d, sc in pos.items()),
        key=lambda t: (-t[1], t[0]),
    )[:20]
    got = _hits(resp)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gs == pytest.approx(ws)
    # demoted docs are still present in the full ranking (not an
    # anti-join): ask for everything and check a demoted score directly
    assert set(pos) & neg, "fixture sanity: some positive docs match negative"
    full = _hits(search_body(spark, out, {"query": {"boosting": {
        "positive": {"match": {"text": "spark join"}},
        "negative": {"match": {"text": "merge"}},
        "negative_boost": 0.4,
    }}, "size": BIG}))
    full_d = dict(full)
    assert set(full_d) == set(pos)
    for d in set(pos) & neg:
        assert full_d[d] == pytest.approx(pos[d] * 0.4)


def test_function_score(spark, croot):
    """field_value_factor: modifier(factor × field) combined by
    boost_mode; log-prefixed modifiers are base-10 like ES."""
    out, rows = croot
    s = Searcher(spark, out)
    base = dict(s.search_rows("shuffle plan", BIG, prune=False))
    nc = {i: v for i, _, v in rows}
    for bm, comb in (
        ("multiply", lambda sc, fv: sc * fv),
        ("sum", lambda sc, fv: sc + fv),
        ("replace", lambda sc, fv: fv),
    ):
        resp = search_body(spark, out, {"query": {"function_score": {
            "query": {"match": {"text": "shuffle plan"}},
            "field_value_factor": {
                "field": "nc", "factor": 0.1, "modifier": "log1p",
            },
            "boost_mode": bm,
        }}, "size": 10})
        want = sorted(
            (
                (d, comb(sc, math.log10(1.0 + 0.1 * nc[d])))
                for d, sc in base.items()
            ),
            key=lambda t: (-t[1], t[0]),
        )[:10]
        got = _hits(resp)
        assert [d for d, _ in got] == [d for d, _ in want], bm
        for (gd, gs), (wd, ws) in zip(got, want):
            assert gs == pytest.approx(ws), bm


def test_match_phrase_prefix(spark, croot):
    """Last token expands over the dictionary (term order, capped at
    max_expansions); a doc keeps its best expansion's exact-phrase
    score."""
    out, _ = croot
    s = Searcher(spark, out)
    # "jo" expands to join only
    resp = search_body(spark, out, {"query": {"match_phrase_prefix": {
        "text": {"query": "spark jo"},
    }}, "size": 10})
    want = s.phrase_rows("spark join", 10)
    assert _hits(resp) == [(d, pytest.approx(sc)) for d, sc in want]
    # "s" expands to spark and shuffle — per-doc best of the two phrases
    resp = search_body(spark, out, {"query": {"match_phrase_prefix": {
        "text": {"query": "window s"},
    }}, "size": 12})
    a = dict(s.phrase_rows("window shuffle", BIG))
    b = dict(s.phrase_rows("window spark", BIG))
    best = {}
    for src in (a, b):
        for d, sc in src.items():
            if sc > best.get(d, float("-inf")):
                best[d] = sc
    want2 = sorted(best.items(), key=lambda t: (-t[1], t[0]))[:12]
    got2 = _hits(resp)
    assert [d for d, _ in got2] == [d for d, _ in want2]
    # max_expansions=1 keeps only the first term in term order (shuffle)
    resp = search_body(spark, out, {"query": {"match_phrase_prefix": {
        "text": {"query": "window s", "max_expansions": 1},
    }}, "size": 12})
    want3 = sorted(a.items(), key=lambda t: (-t[1], t[0]))[:12]
    assert [d for d, _ in _hits(resp)] == [d for d, _ in want3]


def test_compound_guards(spark, croot):
    out, _ = croot
    with pytest.raises(UnsupportedDSL, match="relevance only"):
        search_body(spark, out, {
            "query": {"dis_max": {"queries": [{"match": {"text": "spark"}}]}},
            "sort": [{"nc": "desc"}],
        })
    with pytest.raises(UnsupportedDSL, match="aggs"):
        search_body(spark, out, {
            "query": {"boosting": {
                "positive": {"match": {"text": "spark"}},
                "negative": {"match": {"text": "merge"}},
            }},
            "aggs": {"x": {"terms": {"field": "nc"}}},
        })
    with pytest.raises(UnsupportedDSL, match="sub-clause"):
        search_body(spark, out, {"query": {"dis_max": {"queries": [
            {"term": {"nc": "0100"}},
        ]}}})
    with pytest.raises(UnsupportedDSL, match="modifier"):
        search_body(spark, out, {"query": {"function_score": {
            "query": {"match": {"text": "spark"}},
            "field_value_factor": {"field": "nc", "modifier": "log2p"},
        }}})
    with pytest.raises(UnsupportedDSL, match="queries"):
        search_body(spark, out, {"query": {"dis_max": {"queries": []}}})


def test_warm_docstore_scorers_read_no_stats(spark, croot, monkeypatch):
    """function_score, script_score and an rrf ``_source`` fetch resolve
    their docstore rows through the Searcher's stats snapshot: a warm
    request re-reads no stats.json."""
    from conveyorbelt_spark.index import build, query

    out, _ = croot
    s = Searcher(spark, out)
    bodies = [
        {"query": {"function_score": {
            "query": {"match": {"text": "shuffle plan"}},
            "field_value_factor": {"field": "nc", "factor": 0.1, "modifier": "log1p"},
        }}, "size": 5},
        {"query": {"script_score": {
            "query": {"match": {"text": "spark join"}},
            "script": {"source": "_score + doc['nc'].value / 1000"},
        }}, "size": 5},
        {"retriever": {"rrf": {"retrievers": [
            {"standard": {"query": {"match": {"text": "spark"}}}},
            {"standard": {"query": {"match": {"text": "plan"}}}},
        ]}}, "size": 5, "_source": True},
    ]
    first = [search_body(spark, out, b, searcher=s) for b in bodies]
    assert all(r["hits"]["hits"] for r in first)
    assert all("_source" in h for h in first[2]["hits"]["hits"])
    reads: list = []
    orig = build.load_stats

    def counted(d):
        reads.append(d)
        return orig(d)

    monkeypatch.setattr(build, "load_stats", counted)
    monkeypatch.setattr(query, "load_stats", counted)
    assert [search_body(spark, out, b, searcher=s) for b in bodies] == first
    assert reads == []
