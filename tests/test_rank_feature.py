"""ES rank_feature / distance_feature queries: standalone docstore-ranked
top-k with exact totals (saturation / log / sigmoid / linear, numeric and
temporal origins), additive boosts inside bool.should over scored and
filter-only bases, and the documented rejections."""

from __future__ import annotations

import datetime as dt
import math
import random

import pytest

from conveyorbelt_spark.index.build import build_index, write_docstore
from conveyorbelt_spark.index.dsl import UnsupportedDSL, count_body, search_body
from conveyorbelt_spark.index.query import Searcher

W = ["spark", "join", "window", "shuffle", "plan", "query", "index", "merge"]
BIG = 10_000
EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


@pytest.fixture(scope="module")
def rfroot(spark, tmp_path_factory):
    rng = random.Random(23)
    rows = [
        (
            i,
            " ".join(rng.choices(W, k=10)),
            # feature: positive for most docs, 0 for a few (ES: rank_feature
            # matches positive values only), spread over 3 decades
            0 if i % 25 == 0 else ((i * 37) % 997) + 1,
            EPOCH + dt.timedelta(hours=i * 7 % 500),
            "en" if i % 3 else "fr",
        )
        for i in range(120)
    ]
    out = str(tmp_path_factory.mktemp("rfidx"))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, pop long, ts timestamp, lang string"
    )
    build_index(
        spark, docs.select("doc_id", "text", "lang"), out, url_col=None,
        n_buckets=4, n_term_buckets=8, keyword_cols=("lang",),
    )
    write_docstore(
        spark, docs, out, url_col=None, extra_cols=("pop", "ts", "lang")
    )
    return out, rows


def _hits(resp):
    return [(h["_id"], h["_score"]) for h in resp["hits"]["hits"]]


def test_standalone_log_ranks_by_feature(spark, rfroot):
    out, rows = rfroot
    resp = search_body(spark, out, {
        "query": {"rank_feature": {
            "field": "pop", "log": {"scaling_factor": 2.5}, "boost": 1.5,
        }},
        "size": 8,
    })
    want = sorted(
        ((i, 1.5 * math.log(2.5 + p)) for i, _, p, _, _ in rows if p > 0),
        key=lambda t: (-t[1], t[0]),
    )[:8]
    got = _hits(resp)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, a), (_, b) in zip(got, want):
        assert a == pytest.approx(b, abs=1e-9)
    # exact total = docs with a POSITIVE feature value (zeros never match)
    assert resp["hits"]["total"] == {
        "value": sum(1 for _, _, p, _, _ in rows if p > 0), "relation": "eq",
    }


def test_standalone_sigmoid_and_linear(spark, rfroot):
    out, rows = rfroot
    resp = search_body(spark, out, {
        "query": {"rank_feature": {
            "field": "pop", "sigmoid": {"pivot": 300, "exponent": 0.6},
        }},
        "size": 5,
    })
    want = sorted(
        (
            (i, p ** 0.6 / (p ** 0.6 + 300 ** 0.6))
            for i, _, p, _, _ in rows if p > 0
        ),
        key=lambda t: (-t[1], t[0]),
    )[:5]
    assert [d for d, _ in _hits(resp)] == [d for d, _ in want]
    lin = search_body(spark, out, {
        "query": {"rank_feature": {"field": "pop", "linear": {}}}, "size": 3,
    })
    wl = sorted(
        ((i, float(p)) for i, _, p, _, _ in rows if p > 0),
        key=lambda t: (-t[1], t[0]),
    )[:3]
    assert _hits(lin) == [(d, pytest.approx(s)) for d, s in wl]


def test_saturation_default_pivot_is_geometric_mean(spark, rfroot):
    out, rows = rfroot
    resp = search_body(spark, out, {
        "query": {"rank_feature": {"field": "pop"}}, "size": 4,
    })
    pos = [p for _, _, p, _, _ in rows if p > 0]
    gm = math.exp(sum(math.log(p) for p in pos) / len(pos))
    want = sorted(
        ((i, p / (p + gm)) for i, _, p, _, _ in rows if p > 0),
        key=lambda t: (-t[1], t[0]),
    )[:4]
    got = _hits(resp)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, a), (_, b) in zip(got, want):
        assert a == pytest.approx(b, rel=1e-9)


def test_distance_feature_temporal(spark, rfroot):
    """Date origin (ISO string) + duration pivot over a stored timestamp
    column: score = boost × pivot / (pivot + |ts − origin|) in epoch ms."""
    out, rows = rfroot
    origin = EPOCH + dt.timedelta(days=6)
    resp = search_body(spark, out, {
        "query": {"distance_feature": {
            "field": "ts", "origin": origin.isoformat(), "pivot": "12h",
        }},
        "size": 6,
    })
    piv = 12 * 3_600_000.0
    want = sorted(
        (
            (i, piv / (piv + abs((t - origin).total_seconds() * 1000.0)))
            for i, _, _, t, _ in rows
        ),
        key=lambda t: (-t[1], t[0]),
    )[:6]
    got = _hits(resp)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, a), (_, b) in zip(got, want):
        assert a == pytest.approx(b, rel=1e-9)
    assert resp["hits"]["total"]["value"] == len(rows)


def test_should_boost_over_scored_base(spark, rfroot):
    """bool must match + should rank_feature: matching set unchanged,
    every hit's score = BM25 + feature; ranking re-sorted over the FULL
    base set (a far page stays correct)."""
    out, rows = rfroot
    s = Searcher(spark, out)
    base = dict(s.search_rows("spark join", BIG, must="spark join", prune=False))
    body = {"query": {"bool": {
        "must": [{"match": {"text": "spark join"}}],
        "should": [{"rank_feature": {
            "field": "pop", "log": {"scaling_factor": 1}, "boost": 0.25,
        }}],
    }}, "size": 7}
    resp = search_body(spark, out, body)
    pop = {i: p for i, _, p, _, _ in rows}
    want = sorted(
        (
            (d, sc + (0.25 * math.log(1 + pop[d]) if pop[d] > 0 else 0.0))
            for d, sc in base.items()
        ),
        key=lambda t: (-t[1], t[0]),
    )
    got = _hits(resp)
    assert [d for d, _ in got] == [d for d, _ in want[:7]]
    for (_, a), (d, b) in zip(got, want[:7]):
        assert a == pytest.approx(b, rel=1e-9)
    assert resp["hits"]["total"] == {"value": len(base), "relation": "eq"}
    # deep page agrees with the full recombined ranking
    page = search_body(spark, out, {**body, "from": 5, "size": 4})
    assert [d for d, _ in _hits(page)] == [d for d, _ in want[5:9]]


def test_should_boost_over_filter_base(spark, rfroot):
    """Filter-context base (score 0) + distance_feature should: hits are
    the filtered set ranked purely by proximity."""
    out, rows = rfroot
    resp = search_body(spark, out, {
        "query": {"bool": {
            "filter": [{"term": {"lang": "fr"}}],
            "should": [{"distance_feature": {
                "field": "pop", "origin": 500, "pivot": 100, "boost": 3.0,
            }}],
        }},
        "size": 5,
    })
    fr = [(i, p) for i, _, p, _, lang in rows if lang == "fr"]
    want = sorted(
        ((i, 3.0 * 100.0 / (100.0 + abs(p - 500.0))) for i, p in fr),
        key=lambda t: (-t[1], t[0]),
    )[:5]
    got = _hits(resp)
    assert got == [(d, pytest.approx(s, rel=1e-9)) for d, s in want]
    assert resp["hits"]["total"] == {"value": len(fr), "relation": "eq"}


def test_count_body_standalone(spark, rfroot):
    out, rows = rfroot
    n = count_body(spark, out, {
        "query": {"rank_feature": {"field": "pop", "linear": {}}},
    })
    assert n == {"count": sum(1 for _, _, p, _, _ in rows if p > 0)}


def test_rejections(spark, rfroot):
    out, _ = rfroot
    # feature clause in a REQUIRED should group (no must/filter base with
    # other scoring shoulds) would shrink the matching set — rejected
    with pytest.raises(UnsupportedDSL, match="REQUIRED should"):
        search_body(spark, out, {"query": {"bool": {"should": [
            {"match": {"text": "spark"}},
            {"rank_feature": {"field": "pop", "linear": {}}},
        ]}}})
    with pytest.raises(UnsupportedDSL, match="no sort"):
        search_body(spark, out, {
            "query": {"rank_feature": {"field": "pop", "linear": {}}},
            "sort": [{"pop": "desc"}],
        })
    with pytest.raises(UnsupportedDSL, match="not a stored column"):
        search_body(spark, out, {
            "query": {"rank_feature": {"field": "nope", "linear": {}}},
            "size": 3,
        })
    from conveyorbelt_spark.index.dsl import delete_by_query_body

    with pytest.raises(UnsupportedDSL, match="rank_feature"):
        delete_by_query_body(spark, out, {
            "query": {"rank_feature": {"field": "pop", "linear": {}}},
        }, op_id="rf-del")


def test_required_should_guard_is_per_bool(spark, rfroot):
    """The feature guard looks at its OWN should list: a feature clause in
    a sibling bool does not reject a required keyword group (in either
    clause order), while a feature clause in the same should list as the
    required group still does."""
    out, rows = rfroot
    feat = {"rank_feature": {"field": "pop", "log": {"scaling_factor": 1}, "boost": 0.25}}
    scored = {"bool": {"must": [{"match": {"text": "spark join"}}], "should": [feat]}}
    langs = {"bool": {"should": [
        {"term": {"lang": "en"}}, {"term": {"lang": "zz"}},
    ]}}
    resp = search_body(spark, out, {
        "query": {"bool": {"must": [scored, langs]}}, "size": 7,
    })
    swapped = search_body(spark, out, {
        "query": {"bool": {"must": [langs, scored]}}, "size": 7,
    })
    s = Searcher(spark, out)
    base = dict(s.search_rows("spark join", BIG, must="spark join", prune=False))
    en = {i for i, _, _, _, lang in rows if lang == "en"}
    pop = {i: p for i, _, p, _, _ in rows}
    want = sorted(
        (
            (d, sc + (0.25 * math.log(1 + pop[d]) if pop[d] > 0 else 0.0))
            for d, sc in base.items() if d in en
        ),
        key=lambda t: (-t[1], t[0]),
    )
    for r in (resp, swapped):
        got = _hits(r)
        assert [d for d, _ in got] == [d for d, _ in want[:7]]
        for (_, a), (_, b) in zip(got, want[:7]):
            assert a == pytest.approx(b, rel=1e-9)
    with pytest.raises(UnsupportedDSL, match="REQUIRED should"):
        search_body(spark, out, {"query": {"bool": {"must": [
            {"match": {"text": "spark join"}},
            {"bool": {"should": [
                {"term": {"lang": "en"}}, {"term": {"lang": "zz"}}, feat,
            ]}},
        ]}}})


def test_rrf_retriever(spark, rfroot):
    """RRF fusion: score = Σ 1/(k + rank); ranking verified against the
    two sub-retrievers' own result lists; standard-only retriever passes
    through; composition guards reject."""
    from conveyorbelt_spark.index.dsl import search_body

    out, _ = rfroot
    a = search_body(spark, out, {"query": {"match": {"text": "spark join"}}, "size": 15})
    b = search_body(spark, out, {"query": {"match": {"text": "window shuffle"}}, "size": 15})
    la = [h["_id"] for h in a["hits"]["hits"]]
    lb = [h["_id"] for h in b["hits"]["hits"]]
    resp = search_body(spark, out, {
        "retriever": {"rrf": {
            "retrievers": [
                {"standard": {"query": {"match": {"text": "spark join"}}}},
                {"standard": {"query": {"match": {"text": "window shuffle"}}}},
            ],
            "rank_constant": 10, "rank_window_size": 15,
        }},
        "size": 8,
    })
    fused: dict[int, float] = {}
    for lst in (la, lb):
        for r, d in enumerate(lst, start=1):
            fused[d] = fused.get(d, 0.0) + 1.0 / (10 + r)
    want = sorted(fused.items(), key=lambda t: (-t[1], t[0]))
    got = [(h["_id"], h["_score"]) for h in resp["hits"]["hits"]]
    assert got == [(d, pytest.approx(s)) for d, s in want[:8]]
    assert resp["hits"]["total"] == {"value": len(fused), "relation": "eq"}
    # paging slices the same fused ranking
    page = search_body(spark, out, {
        "retriever": {"rrf": {
            "retrievers": [
                {"standard": {"query": {"match": {"text": "spark join"}}}},
                {"standard": {"query": {"match": {"text": "window shuffle"}}}},
            ],
            "rank_constant": 10, "rank_window_size": 15,
        }},
        "from": 4, "size": 3,
    })
    assert [h["_id"] for h in page["hits"]["hits"]] == [d for d, _ in want[4:7]]
    # a lone standard retriever IS its query
    lone = search_body(spark, out, {
        "retriever": {"standard": {"query": {"match": {"text": "spark join"}}}},
        "size": 15,
    })
    assert [h["_id"] for h in lone["hits"]["hits"]] == la
    with pytest.raises(UnsupportedDSL, match="does not compose"):
        search_body(spark, out, {
            "retriever": {"rrf": {"retrievers": [
                {"standard": {"query": {"match": {"text": "spark"}}}},
                {"standard": {"query": {"match": {"text": "join"}}}},
            ]}},
            "aggs": {"l": {"terms": {"field": "lang"}}},
        })
    with pytest.raises(UnsupportedDSL, match="at least two"):
        search_body(spark, out, {
            "retriever": {"rrf": {"retrievers": [
                {"standard": {"query": {"match": {"text": "spark"}}}},
            ]}},
        })


def test_script_score(spark, rfroot):
    """script_score: every matching doc re-scored by the painless-subset
    script over _score + docstore fields; negative scores raise; body
    min_score floors."""
    import pytest as _pt

    out, rows = rfroot
    s = Searcher(spark, out)
    base = dict(s.search_rows("spark join", BIG, prune=False))
    body = {"query": {"script_score": {
        "query": {"match": {"text": "spark join"}},
        "script": {
            "source": "_score * params.w + doc['pop'].value / 1000",
            "params": {"w": 2.0},
        },
    }}, "size": 6}
    resp = search_body(spark, out, body)
    pop = {i: p for i, _, p, _, _ in rows}
    want = sorted(
        ((d, sc * 2.0 + pop[d] / 1000) for d, sc in base.items()),
        key=lambda t: (-t[1], t[0]),
    )[:6]
    got = [(h["_id"], h["_score"]) for h in resp["hits"]["hits"]]
    assert got == [(d, _pt.approx(v, rel=1e-9)) for d, v in want]
    assert resp["hits"]["total"] == {"value": len(base), "relation": "eq"}
    with _pt.raises(ValueError, match="negative"):
        search_body(spark, out, {"query": {"script_score": {
            "query": {"match": {"text": "spark"}},
            "script": {"source": "_score - 1000"},
        }}})


def test_explain_doc_and_indices_boost(spark, rfroot, tmp_path):
    from conveyorbelt_spark.index.aliases import search_body_multi
    from conveyorbelt_spark.index.build import build_index, write_docstore
    from conveyorbelt_spark.index.dsl import explain_doc_body

    out, rows = rfroot
    s = Searcher(spark, out)
    top = s.search_rows("spark join", 1)
    d0, sc0 = top[0]
    exp = explain_doc_body(spark, out, d0, {"query": {"match": {"text": "spark join"}}})
    assert exp["matched"] is True
    assert exp["explanation"]["value"] == pytest.approx(sc0)
    miss = explain_doc_body(spark, out, 10**9, {"query": {"match": {"text": "spark join"}}})
    assert miss["matched"] is False

    # indices_boost: two copies of the same corpus, one boosted 3x —
    # its hits outrank the other's, scores scaled
    other = str(tmp_path / "idx2")
    docs = spark.createDataFrame(
        [(i + 5000, t) for i, t, *_ in rows], "doc_id long, text string"
    )
    build_index(spark, docs, other, url_col=None, n_buckets=2)
    write_docstore(spark, docs, other, url_col=None)
    resp = search_body_multi(spark, [out, other], {
        "query": {"match": {"text": "spark join"}},
        "size": 6,
        "indices_boost": [{other: 3.0}],
    })
    hits = resp["hits"]["hits"]
    assert all(h["_index"] == other for h in hits)
    assert all(h["_id"] >= 5000 for h in hits)


def test_distance_feature_over_date_column(spark, tmp_path):
    """r05 ADVICE: DateType → double is an illegal direct cast in Spark —
    a distance_feature over a date-typed stored column must still work
    (cast through timestamp), matching the Python twin's datetime.date
    handling."""
    rows = [
        (i, "spark join doc", dt.date(2024, 1, 1) + dt.timedelta(days=i))
        for i in range(20)
    ]
    out = str(tmp_path / "didx")
    docs = spark.createDataFrame(rows, "doc_id long, text string, d date")
    build_index(spark, docs.select("doc_id", "text"), out, url_col=None,
                n_buckets=4, n_term_buckets=8)
    write_docstore(spark, docs, out, url_col=None, extra_cols=("d",))
    origin = int(dt.datetime(2024, 1, 10, tzinfo=dt.timezone.utc).timestamp() * 1000)
    resp = search_body(spark, out, {
        "query": {"distance_feature": {
            "field": "d", "origin": origin, "pivot": "1d",
        }},
        "size": 3,
    })
    ids = [h["_id"] for h in resp["hits"]["hits"]]
    # closest days to Jan 10 rank first (doc 9 = Jan 10 exactly)
    assert ids[0] == 9


def test_feature_in_required_keyword_should_rejected(spark, rfroot):
    """r05 ADVICE: a should-only bool mixing a keyword clause with a
    feature clause gets default msm=1; treating the feature as a pure
    boost would shrink the matching set — must reject, not mis-count."""
    out, _ = rfroot
    with pytest.raises(UnsupportedDSL):
        search_body(spark, out, {
            "query": {"bool": {"should": [
                {"term": {"lang": "en"}},
                {"rank_feature": {"field": "pop", "log": {"scaling_factor": 1}}},
            ]}},
            "size": 5,
        })
