"""ES search aggregations (terms / date_histogram / histogram / stats /
cardinality / percentiles) over the full matching set — distributed
(bool_doc_ids ⋈ docstore → one hash agg each), verified against pandas
truths computed from the raw rows."""

from __future__ import annotations

import datetime as dt
import random

import pytest

from conveyorbelt_spark.index.build import build_index, write_docstore
from conveyorbelt_spark.index.query import search_aggs

WORDS = ["spark", "join", "window", "shuffle", "plan", "query", "index", "merge"]
LANGS = ["en", "de", "fr"]


def _mkrows(n=240, seed=5):
    rng = random.Random(seed)
    return [
        (
            i,
            " ".join(rng.choices(WORDS, k=10)),
            LANGS[i % 3],
            (i * 7) % 500,
            dt.datetime(2016, 9, 16 + (i % 4), (i * 3) % 24, 0, 0),
        )
        for i in range(n)
    ]


@pytest.fixture(scope="module")
def aroot(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("aggidx"))
    rows = _mkrows()
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars long, ts timestamp"
    )
    build_index(spark, docs, out, url_col=None, n_buckets=4, n_term_buckets=8)
    write_docstore(spark, docs, out, url_col=None, extra_cols=("lang", "n_chars", "ts"))
    matching = {i for i, txt, *_ in rows if {"spark", "join"} & set(txt.split())}
    return out, rows, matching


def test_terms_date_histogram_histogram(spark, aroot):
    out, rows, matching = aroot
    res = search_aggs(
        spark, out,
        {
            "langs": {"terms": {"field": "lang"}},
            "by_day": {"date_histogram": {"field": "ts", "interval": "day"}},
            "sizes": {"histogram": {"field": "n_chars", "interval": 100}},
        },
        "spark join",
    )
    want_terms: dict[str, int] = {}
    want_day: dict[dt.datetime, int] = {}
    want_hist: dict[float, int] = {}
    for i, _, lang, nc, ts in rows:
        if i not in matching:
            continue
        want_terms[lang] = want_terms.get(lang, 0) + 1
        day = ts.replace(hour=0)
        want_day[day] = want_day.get(day, 0) + 1
        b = float((nc // 100) * 100)
        want_hist[b] = want_hist.get(b, 0) + 1
    assert {r.key: r.n for r in res["langs"].collect()} == want_terms
    assert {r.key: r.n for r in res["by_day"].collect()} == want_day
    assert {float(r.key): r.n for r in res["sizes"].collect()} == want_hist


def test_stats_cardinality_percentiles(spark, aroot):
    out, rows, matching = aroot
    res = search_aggs(
        spark, out,
        {
            "len": {"stats": {"field": "n_chars"}},
            "uniq": {"cardinality": {"field": "lang", "exact": True}},
            "p": {"percentiles": {"field": "n_chars", "percents": [50]}},
        },
        "spark join",
    )
    vals = sorted(nc for i, _, _, nc, _ in rows if i in matching)
    st = res["len"].collect()[0]
    assert st["count"] == len(vals)
    assert st["min"] == vals[0] and st["max"] == vals[-1]
    assert abs(st["avg"] - sum(vals) / len(vals)) < 1e-9
    assert st["sum"] == sum(vals)
    assert res["uniq"].collect()[0]["value"] == len(
        {lang for i, _, lang, _, _ in rows if i in matching}
    )
    p50 = res["p"].collect()[0]["p50"]
    assert vals[0] <= p50 <= vals[-1]


def test_aggs_compose_with_filter_context(spark, aroot):
    out, rows, matching = aroot
    res = search_aggs(
        spark, out,
        {"langs": {"terms": {"field": "lang"}}},
        "spark join",
        filters={"lang": "en"},
    )
    # filter context: keyword postings were not indexed in this fixture, so
    # an en-filter over a keyword-less index matches nothing — provably
    assert res["langs"].count() == 0


def test_aggs_with_keyword_filters(spark, tmp_path):
    rows = _mkrows(120, seed=8)
    out = str(tmp_path / "kidx")
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars long, ts timestamp"
    )
    build_index(
        spark, docs, out, url_col=None, n_buckets=4, n_term_buckets=8,
        keyword_cols=("lang",),
    )
    write_docstore(spark, docs, out, url_col=None, extra_cols=("lang", "n_chars"))
    res = search_aggs(
        spark, out,
        {"sizes": {"stats": {"field": "n_chars"}}},
        "spark join",
        filters={"lang": "de"},
    )
    matching = {
        i for i, txt, lang, *_ in rows
        if ({"spark", "join"} & set(txt.split())) and lang == "de"
    }
    vals = [nc for i, _, lang, nc, _ in rows if i in matching]
    st = res["sizes"].collect()[0]
    assert st["count"] == len(vals) and st["sum"] == sum(vals)


def test_bad_agg_spec_raises(spark, aroot):
    out, _, _ = aroot
    with pytest.raises(ValueError):
        search_aggs(spark, out, {"x": {"nope": {"field": "lang"}}}, "spark")
    with pytest.raises(ValueError):
        search_aggs(
            spark, out,
            {"x": {"terms": {"field": "lang"}, "stats": {"field": "n_chars"}}},
            "spark",
        )


def test_aggs_rows_serving_path_matches_spark(spark, aroot):
    """Escalation only: the cardinality and date_histogram aggs in this
    spec send the whole aggs_rows request to the distributed search_aggs,
    with or without max_hits saturation, so both asserts compare
    search_aggs with itself. Serving-engine parity is covered by
    tests/test_aggs_differential.py (seeded serving specs, zero Spark
    jobs) and saturation by test_significant_terms_serving_parity."""
    from conveyorbelt_spark.index.query import Searcher, search_aggs

    out, rows, _matching = aroot
    spec = {
        "langs": {"terms": {"field": "lang"}},
        "by_day": {"date_histogram": {"field": "ts", "interval": "day"}},
        "sizes": {"histogram": {"field": "n_chars", "interval": 100}},
        "len": {"stats": {"field": "n_chars"}},
        "uniq": {"cardinality": {"field": "lang", "exact": True}},
    }
    s = Searcher(spark, out)
    got = s.aggs_rows(spec, "spark join")
    want = {
        name: [r.asDict() for r in df.collect()]
        for name, df in search_aggs(spark, out, spec, "spark join").items()
    }
    assert got == want
    # saturation: max_hits=5 forces the distributed path — same answers
    got_sat = s.aggs_rows(spec, "spark join", max_hits=5)
    assert got_sat == want


def test_terms_agg_default_size_is_es_10(spark, aroot):
    """ES defaults terms-agg ``size`` to 10: a sizeless terms agg over a
    high-cardinality field returns exactly the top 10 buckets ordered by
    (count desc, key asc) — never the unbounded distinct set (which the
    DSL serving path would collect to the driver). ``size: 0`` is the
    explicit engine extension for 'all buckets'."""
    from conveyorbelt_spark.index.query import Searcher

    out, rows, matching = aroot
    counts: dict[int, int] = {}
    for i, _, _, nc, _ in rows:
        if i in matching:
            counts[nc] = counts.get(nc, 0) + 1
    assert len(counts) > 10  # the fixture really is high-cardinality
    want_all = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    res = search_aggs(spark, out, {"ncs": {"terms": {"field": "n_chars"}}}, "spark join")
    got = [(r.key, r.n) for r in res["ncs"].collect()]
    assert got == want_all[:10]
    # serving twin agrees bucket-for-bucket
    srv = Searcher(spark, out).aggs_rows({"ncs": {"terms": {"field": "n_chars"}}}, "spark join")
    assert [(int(r["key"]), r["n"]) for r in srv["ncs"]] == [
        (k, n) for k, n in want_all[:10]
    ]
    # size: 0 = explicit all
    res0 = search_aggs(
        spark, out, {"ncs": {"terms": {"field": "n_chars", "size": 0}}}, "spark join"
    )
    assert [(r.key, r.n) for r in res0["ncs"].collect()] == want_all


def test_sub_bucket_aggs(spark, aroot):
    """ES sub-aggregations, one nesting level (terms → date_histogram,
    terms → stats): the Kibana split-series shape. Spark rows vs a
    hand-computed truth, aggs_rows (the date_histogram child escalates
    it to the distributed path) row-identical, parent top-size selection
    before the child breakdown, and the depth guard."""
    from collections import Counter

    from conveyorbelt_spark.index.query import Searcher

    out, rows, matching = aroot
    spec = {"by_lang": {
        "terms": {"field": "lang"},
        "aggs": {"per_day": {"date_histogram": {"field": "ts", "interval": "day"}}},
    }}
    res = search_aggs(spark, out, spec, "spark join")["by_lang"].collect()
    pc: Counter = Counter()
    cc: Counter = Counter()
    for i, _, lang, _nc, ts in rows:
        if i not in matching:
            continue
        pc[lang] += 1
        cc[(lang, ts.replace(hour=0))] += 1
    want = []
    for lang in sorted(pc, key=lambda lg: (-pc[lg], lg)):
        for day in sorted(d for (lg, d) in cc if lg == lang):
            want.append((lang, pc[lang], day, cc[(lang, day)]))
    assert [(r.key, r.doc_count, r.child_key, r.n) for r in res] == want
    srv = Searcher(spark, out).aggs_rows(spec, "spark join")["by_lang"]
    assert [(d["key"], d["doc_count"], d["child_key"], d["n"]) for d in srv] == want

    spec1 = {"x": {"terms": {"field": "lang", "size": 1},
                   "aggs": {"st": {"stats": {"field": "n_chars"}}}}}
    r1 = search_aggs(spark, out, spec1, "spark join")["x"].collect()
    top = sorted(pc, key=lambda lg: (-pc[lg], lg))[0]
    assert len(r1) == 1 and r1[0].key == top and r1[0].doc_count == pc[top]
    vals = [nc for i, _, lang, nc, _ in rows if i in matching and lang == top]
    assert r1[0]["count"] == len(vals) and r1[0]["sum"] == sum(vals)
    srv1 = Searcher(spark, out).aggs_rows(spec1, "spark join")["x"]
    assert [tuple(d.values()) for d in srv1] == [tuple(r1[0].asDict().values())]

    with pytest.raises(ValueError):  # metric aggs cannot hold children
        search_aggs(spark, out, {"x": {"terms": {"field": "lang"}, "aggs": {
            "y": {"stats": {"field": "n_chars"},
                  "aggs": {"z": {"stats": {"field": "n_chars"}}}},
        }}}, "spark")


def test_metric_and_range_aggs(spark, aroot):
    """The remaining common ES agg kinds: single metrics (avg/sum/min/max/
    value_count) and the range bucket agg (from inclusive, to exclusive,
    OVERLAPPING ranges allowed — one conditional-sum pass, not a groupBy),
    flat and as terms children, Spark vs truth; aggs_rows (range sends
    the request to the distributed path) returns the same rows."""
    from conveyorbelt_spark.index.query import Searcher

    out, rows, matching = aroot
    vals = [nc for i, _, _, nc, _ in rows if i in matching]
    spec = {
        "a": {"avg": {"field": "n_chars"}},
        "s": {"sum": {"field": "n_chars"}},
        "mn": {"min": {"field": "n_chars"}},
        "mx": {"max": {"field": "n_chars"}},
        "vc": {"value_count": {"field": "n_chars"}},
        "rg": {"range": {"field": "n_chars", "ranges": [
            {"to": 100}, {"from": 100, "to": 300}, {"from": 250},  # overlap
        ]}},
    }
    got = {
        name: [r.asDict() for r in df.collect()]
        for name, df in search_aggs(spark, out, spec, "spark join").items()
    }
    assert got["a"][0]["value"] == pytest.approx(sum(vals) / len(vals))
    assert got["s"][0]["value"] == sum(vals)
    assert got["mn"][0]["value"] == min(vals)
    assert got["mx"][0]["value"] == max(vals)
    assert got["vc"][0]["value"] == len(vals)
    assert got["rg"] == [
        {"key": "*-100", "n": sum(1 for v in vals if v < 100)},
        {"key": "100-300", "n": sum(1 for v in vals if 100 <= v < 300)},
        {"key": "250-*", "n": sum(1 for v in vals if v >= 250)},
    ]
    srv = Searcher(spark, out).aggs_rows(spec, "spark join")
    assert {k: v for k, v in srv.items() if k != "a"} == {
        k: v for k, v in got.items() if k != "a"
    }
    assert srv["a"][0]["value"] == pytest.approx(got["a"][0]["value"])

    # as terms children
    cspec = {"x": {"terms": {"field": "lang"},
                   "aggs": {"r": {"range": {"field": "n_chars",
                                            "ranges": [{"to": 250}, {"from": 250}]}}}},
             "y": {"terms": {"field": "lang"},
                   "aggs": {"v": {"sum": {"field": "n_chars"}}}}}
    gotc = {
        name: [r.asDict() for r in df.collect()]
        for name, df in search_aggs(spark, out, cspec, "spark join").items()
    }
    per = {}
    for i, _, lang, nc, _ in rows:
        if i in matching:
            per.setdefault(lang, []).append(nc)
    langs = sorted(per, key=lambda lg: (-len(per[lg]), lg))
    want_r = [
        {"key": lg, "doc_count": len(per[lg]), "child_key": k, "n": n}
        for lg in langs
        for k, n in (
            ("*-250", sum(1 for v in per[lg] if v < 250)),
            ("250-*", sum(1 for v in per[lg] if v >= 250)),
        )
    ]
    assert gotc["x"] == want_r
    assert gotc["y"] == [
        {"key": lg, "doc_count": len(per[lg]), "value": sum(per[lg])} for lg in langs
    ]
    srvc = Searcher(spark, out).aggs_rows(cspec, "spark join")
    assert srvc == gotc


def test_filter_filters_missing_aggs(spark, aroot):
    """ES filter / filters / missing bucket aggs: a single-filter bucket,
    overlapping named-filter buckets (one conditional-sum pass, spec
    order), and the missing-field bucket — pandas truths from the raw
    rows; aggs_rows (escalated to the distributed path) row-identical."""
    from conveyorbelt_spark.index.query import Searcher

    out, rows, matching = aroot
    spec = {
        "en_only": {"filter": {"term": {"lang": "en"}}},
        "named": {"filters": {"filters": {
            "small": {"range": {"n_chars": {"lt": 200}}},
            "en_or_de": {"terms": {"lang": ["en", "de"]}},
            "not_fr": {"bool": {"must_not": {"term": {"lang": "fr"}}}},
        }}},
        "no_lang": {"missing": {"field": "lang"}},
    }
    res = search_aggs(spark, out, spec, "spark join")
    hit = [(lang, nc) for i, _, lang, nc, _ in rows if i in matching]
    assert [r.n for r in res["en_only"].collect()] == [
        sum(1 for lg, _ in hit if lg == "en")
    ]
    named = [(r.key, r.n) for r in res["named"].collect()]
    assert named == [
        ("small", sum(1 for _, nc in hit if nc < 200)),
        ("en_or_de", sum(1 for lg, _ in hit if lg in ("en", "de"))),
        ("not_fr", sum(1 for lg, _ in hit if lg != "fr")),
    ]
    assert [r.n for r in res["no_lang"].collect()] == [0]
    got = Searcher(spark, out).aggs_rows(spec, "spark join")
    want = {
        name: [r.asDict() for r in df.collect()] for name, df in res.items()
    }
    assert got == want


def test_filter_agg_children(spark, aroot):
    """filter agg with a child: bucketing child rows carry the bucket's
    doc_count (broadcast single-row join, no shuffle); metric/stats
    children fold into the same single agg row. aggs_rows (escalated to
    the distributed path) identical."""
    from conveyorbelt_spark.index.query import Searcher

    out, rows, matching = aroot
    spec = {
        "en": {
            "filter": {"term": {"lang": "en"}},
            "aggs": {"by_day": {
                "date_histogram": {"field": "ts", "interval": "day"}
            }},
        },
        "de": {
            "filter": {"term": {"lang": "de"}},
            "aggs": {"len": {"avg": {"field": "n_chars"}}},
        },
    }
    res = search_aggs(spark, out, spec, "spark join")
    hit = [(lang, nc, ts) for i, _, lang, nc, ts in rows if i in matching]
    en = [(nc, ts.replace(hour=0)) for lg, nc, ts in hit if lg == "en"]
    want_days: dict = {}
    for _, day in en:
        want_days[day] = want_days.get(day, 0) + 1
    got_en = [(r.doc_count, r.key, r.n) for r in res["en"].collect()]
    assert got_en == [
        (len(en), d, n) for d, n in sorted(want_days.items())
    ]
    de = [nc for lg, nc, _ in hit if lg == "de"]
    row = res["de"].collect()[0]
    assert row.doc_count == len(de)
    assert abs(row.value - sum(de) / len(de)) < 1e-9
    got = Searcher(spark, out).aggs_rows(spec, "spark join")
    want = {
        name: [r.asDict() for r in df.collect()] for name, df in res.items()
    }
    assert got == want


def test_missing_agg_counts_nulls(spark, tmp_path):
    """missing agg over an index whose stored column HAS nulls."""
    rows = [
        (i, "spark join " + ("x" if i % 2 else "y"),
         None if i % 3 == 0 else ["en", "de"][i % 2], i * 10)
        for i in range(30)
    ]
    out = str(tmp_path / "midx")
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars long"
    )
    build_index(spark, docs, out, url_col=None, n_buckets=2, n_term_buckets=4)
    write_docstore(spark, docs, out, url_col=None, extra_cols=("lang", "n_chars"))
    spec = {
        "no_lang": {"missing": {"field": "lang"}},
        "has_lang": {"filter": {"exists": {"field": "lang"}}},
        "not_en": {"filters": {"filters": {
            "not_en": {"bool": {"must_not": {"term": {"lang": "en"}}}},
        }}},
    }
    res = search_aggs(spark, out, spec, "spark join")
    n_null = sum(1 for r in rows if r[2] is None)
    assert [r.n for r in res["no_lang"].collect()] == [n_null]
    assert [r.n for r in res["has_lang"].collect()] == [30 - n_null]
    # ES must_not semantics: docs MISSING the field match the negation
    n_not_en = sum(1 for r in rows if r[2] != "en")
    assert [(r.key, r.n) for r in res["not_en"].collect()] == [("not_en", n_not_en)]
    from conveyorbelt_spark.index.query import Searcher

    got = Searcher(spark, out).aggs_rows(spec, "spark join")
    assert got == {
        name: [r.asDict() for r in df.collect()] for name, df in res.items()
    }


def test_top_hits_sub_agg(spark, aroot):
    """ES top_hits sub-agg: per-parent top-N docs by a stored-field sort
    (window row_number — one extra shuffle key, never a per-bucket scan),
    doc_id tiebreak, ES missing-last null order. aggs_rows (the top_hits
    child escalates it to the distributed path) identical."""
    from conveyorbelt_spark.index.query import Searcher

    out, rows, matching = aroot
    spec = {
        "by_lang": {
            "terms": {"field": "lang"},
            "aggs": {"biggest": {"top_hits": {
                "size": 2,
                "sort": [{"n_chars": {"order": "desc"}}],
                "_source": ["n_chars"],
            }}},
        },
    }
    res = search_aggs(spark, out, spec, "spark join")
    hit = [(lang, nc, i) for i, _, lang, nc, _ in rows if i in matching]
    want = []
    per = {}
    for lg, nc, i in hit:
        per.setdefault(lg, []).append((nc, i))
    for lg in sorted(per, key=lambda g: (-len(per[g]), g)):
        docs = sorted(per[lg], key=lambda t: (-t[0], t[1]))[:2]
        want += [
            {"key": lg, "doc_count": len(per[lg]), "rank": r + 1,
             "doc_id": i, "n_chars": nc}
            for r, (nc, i) in enumerate(docs)
        ]
    got = [r.asDict() for r in res["by_lang"].collect()]
    assert got == want
    srv = Searcher(spark, out).aggs_rows(spec, "spark join")
    assert srv["by_lang"] == want
    # default _source = every stored column; default sort = doc_id asc
    spec2 = {"by_lang": {
        "terms": {"field": "lang", "size": 1},
        "aggs": {"first": {"top_hits": {"size": 1}}},
    }}
    got2 = [r.asDict() for r in search_aggs(
        spark, out, spec2, "spark join")["by_lang"].collect()]
    assert Searcher(spark, out).aggs_rows(spec2, "spark join")["by_lang"] == got2
    assert {"lang", "n_chars", "ts"} <= set(got2[0])
    with pytest.raises(ValueError):
        search_aggs(spark, out, {"x": {
            "terms": {"field": "lang"},
            "aggs": {"t": {"top_hits": {"sort": ["_score"]}}},
        }}, "spark join")


def test_composite_agg_pages(spark, aroot):
    """ES composite aggregation: the (lang × day) bucket space walked in
    key order, 5 buckets per page via the after-cursor. Concatenated
    pages must equal the unpaged bucket set exactly — and no page is ever
    wider than `size` (the driver holds one page whatever the key
    cardinality; that bound is the ES contract for composite)."""
    from conveyorbelt_spark.index.query import Searcher

    out, rows, matching = aroot
    want: dict = {}
    for i, _, lang, _nc, ts in rows:
        if i in matching:
            want[(lang, ts.replace(hour=0))] = want.get((lang, ts.replace(hour=0)), 0) + 1
    want_rows = [
        {"lg": lg, "day": day, "doc_count": n}
        for (lg, day), n in sorted(want.items())
    ]

    def page(after=None):
        body = {
            "size": 5,
            "sources": [
                {"lg": {"terms": {"field": "lang"}}},
                {"day": {"date_histogram": {"field": "ts", "interval": "day"}}},
            ],
        }
        if after:
            body["after"] = after
        return search_aggs(spark, out, {"c": {"composite": body}}, "spark join")["c"]

    got: list = []
    after = None
    while True:
        rows_pg = [r.asDict() for r in page(after).collect()]
        assert len(rows_pg) <= 5
        if not rows_pg:
            break
        got += rows_pg
        after = {"lg": rows_pg[-1]["lg"], "day": rows_pg[-1]["day"]}
    assert got == want_rows
    # serving twin: page 2 row-identical to the Spark page 2
    first = [r.asDict() for r in page().collect()]
    a2 = {"lg": first[-1]["lg"], "day": first[-1]["day"]}
    srv = Searcher(spark, out).aggs_rows(
        {"c": {"composite": {
            "size": 5, "after": a2,
            "sources": [
                {"lg": {"terms": {"field": "lang"}}},
                {"day": {"date_histogram": {"field": "ts", "interval": "day"}}},
            ],
        }}},
        "spark join",
    )
    assert srv["c"] == [r.asDict() for r in page(a2).collect()]
    # desc source order flips the walk
    d = search_aggs(spark, out, {"c": {"composite": {
        "size": 3,
        "sources": [{"lg": {"terms": {"field": "lang", "order": "desc"}}}],
    }}}, "spark join")["c"]
    assert [r.lg for r in d.collect()] == sorted(
        {lg for lg, _ in want}, reverse=True
    )[:3]


@pytest.fixture(scope="module")
def sigroot(spark, tmp_path_factory):
    """Corpus where 'anomaly' is CONCENTRATED in src=alpha: the JLH
    foreground/background contrast the significant_terms agg exists to
    surface (vs a plain terms agg, which would rank beta/gamma by raw
    count)."""
    out = str(tmp_path_factory.mktemp("sigidx"))
    rows = []
    for i in range(200):
        src = "alpha" if i < 40 else ("beta" if i < 120 else "gamma")
        words = ["filler", f"w{i % 7}", "text"]
        if (i < 40 and i % 2 == 0) or (i >= 120 and i % 20 == 0):
            words.append("anomaly")
        rows.append((i, " ".join(words), src))
    docs = spark.createDataFrame(rows, "doc_id long, text string, src string")
    build_index(spark, docs, out, url_col=None, n_buckets=4, n_term_buckets=8)
    write_docstore(spark, docs, out, url_col=None, extra_cols=("src",))
    return out, rows


def test_significant_terms_agg(spark, sigroot):
    """significant_terms (JLH): only positively-significant keys survive
    (alpha: 20/24 of hits vs 40/200 of the corpus), negatively-correlated
    keys (gamma: present in hits but UNDER-represented) and zero-hit keys
    (beta) do not. Bucket fields are (key, doc_count, bg_count, score)."""
    out, rows = sigroot
    res = search_aggs(
        spark, out, {"sig": {"significant_terms": {"field": "src"}}}, "anomaly"
    )["sig"].collect()
    assert [(r.key, r.doc_count, r.bg_count) for r in res] == [("alpha", 20, 40)]
    fgp, bgp = 20 / 24, 40 / 200
    assert res[0].score == pytest.approx((fgp - bgp) * (fgp / bgp))


def test_significant_terms_min_doc_count_and_size(spark, sigroot):
    """ES defaults: min_doc_count=3 (raising it above the bucket's
    foreground count drops the bucket), size caps by score."""
    out, _ = sigroot
    res = search_aggs(
        spark, out,
        {"sig": {"significant_terms": {"field": "src", "min_doc_count": 21}}},
        "anomaly",
    )["sig"].collect()
    assert res == []


def test_significant_terms_serving_parity(spark, sigroot):
    """The zero-Spark-job serving path (pyarrow docstore background +
    pandas JLH in the same float64 operation order) is row- and
    score-identical to the distributed plan, through the DSL too."""
    from conveyorbelt_spark.index.dsl import search_body
    from conveyorbelt_spark.index.query import Searcher

    out, _ = sigroot
    spec = {"sig": {"significant_terms": {"field": "src"}}}
    want = [
        r.asDict() for r in search_aggs(spark, out, spec, "anomaly")["sig"].collect()
    ]
    s = Searcher(spark, out)
    assert s.aggs_rows(spec, "anomaly")["sig"] == want
    # saturation escalates to the distributed path — same rows
    assert s.aggs_rows(spec, "anomaly", max_hits=5)["sig"] == want
    body = {"query": {"match": {"text": "anomaly"}}, "size": 0, "aggs": spec}
    resp = search_body(spark, out, body, searcher=s)
    assert resp["aggregations"]["sig"] == want


def test_significant_terms_guards(spark, sigroot):
    """A bare joined frame has no background (ValueError names the agg);
    sub-aggs under significant_terms are rejected, not silently dropped."""
    from conveyorbelt_spark.index.query import aggs_over_join, _docstore_scan

    out, _ = sigroot
    store = _docstore_scan(spark, out)
    with pytest.raises(ValueError, match="background"):
        aggs_over_join(store, {"sig": {"significant_terms": {"field": "src"}}})
    with pytest.raises(ValueError, match="sub-aggs"):
        search_aggs(
            spark, out,
            {"sig": {
                "significant_terms": {"field": "src"},
                "aggs": {"x": {"stats": {"field": "doc_id"}}},
            }},
            "anomaly",
        )


def test_extended_bucket_aggs(spark, aroot):
    """multi_terms (compound keys), rare_terms (long-tail), date_range
    (ISO bounds, from inclusive / to exclusive, custom keys) — verified
    against python truths; aggs_rows (escalated to the distributed path)
    row-identical."""
    from conveyorbelt_spark.index.query import Searcher

    out, rows, matching = aroot
    spec = {
        "mt": {"multi_terms": {
            "terms": [{"field": "lang"}, {"field": "n_chars"}], "size": 5,
        }},
        "rare": {"rare_terms": {"field": "n_chars", "max_doc_count": 1}},
        "dr": {"date_range": {"field": "ts", "ranges": [
            {"to": "2016-09-17"},
            {"from": "2016-09-17", "to": "2016-09-19"},
            {"from": "2016-09-18", "key": "tail"},
        ]}},
    }
    res = search_aggs(spark, out, spec, "spark join")
    mt_want: dict = {}
    nc_count: dict = {}
    dr_want = [0, 0, 0]
    import datetime as dt

    for i, _, lang, nc, ts in rows:
        if i not in matching:
            continue
        mt_want[(lang, nc)] = mt_want.get((lang, nc), 0) + 1
        nc_count[nc] = nc_count.get(nc, 0) + 1
        if ts < dt.datetime(2016, 9, 17):
            dr_want[0] += 1
        if dt.datetime(2016, 9, 17) <= ts < dt.datetime(2016, 9, 19):
            dr_want[1] += 1
        if ts >= dt.datetime(2016, 9, 18):
            dr_want[2] += 1
    want_mt = sorted(
        ((k, n) for k, n in mt_want.items()), key=lambda kv: (-kv[1], kv[0])
    )[:5]
    got_mt = [((r.lang, r.n_chars), r.n) for r in res["mt"].collect()]
    assert got_mt == want_mt
    got_rare = [(r.key, r.n) for r in res["rare"].collect()]
    want_rare = sorted(
        ((k, n) for k, n in nc_count.items() if n <= 1),
        key=lambda kv: (kv[1], kv[0]),
    )
    assert got_rare == want_rare
    got_dr = [(r.key, r.n) for r in res["dr"].collect()]
    assert got_dr == [
        ("*-2016-09-17", dr_want[0]),
        ("2016-09-17-2016-09-19", dr_want[1]),
        ("tail", dr_want[2]),
    ]
    srv = Searcher(spark, out).aggs_rows(spec, "spark join")
    want_rows = {k: [r.asDict() for r in res[k].collect()] for k in spec}
    assert srv == want_rows


def test_global_and_pipeline_aggs(spark, aroot):
    """global runs its child over the WHOLE index (query ignored);
    sibling pipeline aggs (avg/max/stats_bucket over buckets_path
    parent>_count) aggregate the parent's returned buckets. aggs_rows
    identical (global and the pipelines escalate to the distributed
    plan)."""
    from conveyorbelt_spark.index.query import Searcher

    out, rows, matching = aroot
    spec = {
        "g": {"global": {}, "aggs": {"langs": {"terms": {"field": "lang", "size": 0}}}},
        "byd": {"date_histogram": {"field": "ts", "interval": "day"}},
        "avg_day": {"avg_bucket": {"buckets_path": "byd>_count"}},
        "max_day": {"max_bucket": {"buckets_path": "byd>_count"}},
        "st_day": {"stats_bucket": {"buckets_path": "byd>_count"}},
    }
    res = search_aggs(spark, out, spec, "spark join")
    all_langs: dict = {}
    for _i, _t, lang, _n, _ts in rows:
        all_langs[lang] = all_langs.get(lang, 0) + 1
    assert {r.key: r.n for r in res["g"].collect()} == all_langs
    day_counts: dict = {}
    for i, _, _, _, ts in rows:
        if i in matching:
            d0 = ts.replace(hour=0)
            day_counts[d0] = day_counts.get(d0, 0) + 1
    vals = list(day_counts.values())
    assert res["avg_day"].collect()[0].value == pytest.approx(sum(vals) / len(vals))
    assert res["max_day"].collect()[0].value == max(vals)
    st = res["st_day"].collect()[0]
    assert (st["count"], st["min"], st["max"], st["sum"]) == (
        len(vals), min(vals), max(vals), sum(vals)
    )
    srv = Searcher(spark, out).aggs_rows(spec, "spark join")
    want_rows = {k: [r.asDict() for r in res[k].collect()] for k in spec}
    assert srv == want_rows
    # bad buckets_path names the problem
    with pytest.raises(ValueError, match="buckets_path"):
        search_aggs(
            spark, out, {"p": {"avg_bucket": {"buckets_path": "nope>_count"}}},
            "spark join",
        )


def test_terms_agg_excludes_nulls(spark, tmp_path):
    """ES terms/multi_terms/rare_terms aggs ignore docs missing the field
    — the distributed path must not emit a null-key bucket (the missing
    agg counts those instead), matching the serving twin's dropna."""
    from conveyorbelt_spark.index.build import build_index, write_docstore

    out = str(tmp_path / "nullidx")
    rows = [
        (0, "red apple", "a"), (1, "red berry", "b"),
        (2, "red cherry", None), (3, "red date", None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, tag string")
    build_index(spark, docs, out, url_col=None, n_buckets=2)
    write_docstore(spark, docs, out, url_col=None, extra_cols=("tag",))
    spec = {
        "t": {"terms": {"field": "tag", "size": 0}},
        "r": {"rare_terms": {"field": "tag"}},
        "m": {"missing": {"field": "tag"}},
    }
    res = search_aggs(spark, out, spec, "red")
    assert [(r.key, r.n) for r in res["t"].collect()] == [("a", 1), ("b", 1)]
    assert [(r.key, r.n) for r in res["r"].collect()] == [("a", 1), ("b", 1)]
    assert res["m"].collect()[0].n == 2


def test_agg_tree_depth3_with_metric_siblings(spark, aroot):
    """The full Kibana split-series tree: terms(lang, size 2) carrying a
    metric sibling (avg n_chars) AND a date_histogram child whose own
    child is a stats metric — depth-3 flattened rows (key, doc_count,
    avgc, child_key, n, st_*), metric names prefixed by child name,
    ordered (doc_count desc, key asc) then (child_key asc). Serving path
    row-identical."""
    from conveyorbelt_spark.index.query import Searcher

    out, rows, matching = aroot
    spec = {
        "byl": {
            "terms": {"field": "lang", "size": 2},
            "aggs": {
                "avgc": {"avg": {"field": "n_chars"}},
                "byd": {
                    "date_histogram": {"field": "ts", "interval": "day"},
                    "aggs": {"st": {"stats": {"field": "n_chars"}}},
                },
            },
        }
    }
    res = search_aggs(spark, out, spec, "spark join")
    got = [r.asDict() for r in res["byl"].collect()]
    # python truth
    per_lang: dict = {}
    for i, _, lang, nc, ts in rows:
        if i not in matching:
            continue
        per_lang.setdefault(lang, []).append((ts.replace(hour=0), nc))
    top2 = sorted(per_lang.items(), key=lambda kv: (-len(kv[1]), kv[0]))[:2]
    want = []
    for lang, vals in top2:
        days: dict = {}
        for d, nc in vals:
            days.setdefault(d, []).append(nc)
        for d in sorted(days):
            v = days[d]
            want.append({
                "key": lang, "doc_count": len(vals),
                "avgc": sum(nc for _, nc in vals) / len(vals),
                "child_key": d, "n": len(v),
                "st_count": len(v), "st_min": min(v), "st_max": max(v),
                "st_avg": sum(v) / len(v), "st_sum": sum(v),
            })
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert set(g) == set(w)
        for k in w:
            if isinstance(w[k], float):
                assert g[k] == pytest.approx(w[k]), k
            else:
                assert g[k] == w[k], k
    srv = Searcher(spark, out).aggs_rows(spec, "spark join")["byl"]
    for s, g in zip(srv, got):
        assert set(s) == set(g)
        for k in g:
            if isinstance(g[k], float):
                assert s[k] == pytest.approx(g[k]), k
            else:
                assert s[k] == g[k], k
    assert len(srv) == len(got)


def test_agg_tree_child_terms_size_and_guards(spark, aroot):
    """Per-parent top-size selection for a child terms level; two
    row-expanding children at one level raise; terminal range must be the
    only child at its level."""
    from conveyorbelt_spark.index.query import Searcher

    out, rows, matching = aroot
    spec = {
        "t": {
            "terms": {"field": "lang", "size": 0},
            "aggs": {"top_sizes": {"terms": {"field": "n_chars", "size": 2}}},
        }
    }
    res = search_aggs(spark, out, spec, "spark join")
    got = [(r.key, r.doc_count, r.child_key, r.n) for r in res["t"].collect()]
    per_lang: dict = {}
    for i, _, lang, nc, ts in rows:
        if i in matching:
            per_lang.setdefault(lang, {}).setdefault(nc, [0])[0] += 1
    want = []
    for lang in sorted(per_lang, key=lambda L: (-sum(v[0] for v in per_lang[L].values()), L)):
        dc = sum(v[0] for v in per_lang[lang].values())
        kids = sorted(
            ((nc, v[0]) for nc, v in per_lang[lang].items()),
            key=lambda kv: (-kv[1], kv[0]),
        )[:2]
        want.extend((lang, dc, nc, n) for nc, n in kids)
    assert got == want
    srv = Searcher(spark, out).aggs_rows(spec, "spark join")["t"]
    assert [(r["key"], r["doc_count"], r["child_key"], r["n"]) for r in srv] == want
    with pytest.raises(ValueError, match="row-expanding"):
        search_aggs(
            spark, out,
            {"x": {"terms": {"field": "lang"}, "aggs": {
                "a": {"terms": {"field": "n_chars"}},
                "b": {"histogram": {"field": "n_chars", "interval": 100}},
            }}},
            "spark join",
        )
    with pytest.raises(ValueError, match="only sub-agg"):
        search_aggs(
            spark, out,
            {"x": {"terms": {"field": "lang"}, "aggs": {
                "a": {"avg": {"field": "n_chars"}},
                "b": {"range": {"field": "n_chars", "ranges": [{"to": 100}]}},
            }}},
            "spark join",
        )


def test_series_pipeline_aggs(spark, aroot):
    """derivative (first bucket null) and cumulative_sum over a
    date_histogram parent; terms parents are rejected (ES: series
    pipelines need an ordered histogram). Serving path row-identical."""
    from conveyorbelt_spark.index.query import Searcher

    out, rows, matching = aroot
    spec = {
        "byd": {"date_histogram": {"field": "ts", "interval": "day"}},
        "dv": {"derivative": {"buckets_path": "byd>_count"}},
        "cs": {"cumulative_sum": {"buckets_path": "byd>_count"}},
    }
    res = search_aggs(spark, out, spec, "spark join")
    days: dict = {}
    for i, _, _, _, ts in rows:
        if i in matching:
            d0 = ts.replace(hour=0)
            days[d0] = days.get(d0, 0) + 1
    ordered = [days[d] for d in sorted(days)]
    got_dv = [r.value for r in res["dv"].collect()]
    assert got_dv[0] is None
    assert got_dv[1:] == [b - a for a, b in zip(ordered, ordered[1:])]
    got_cs = [r.value for r in res["cs"].collect()]
    import itertools

    assert got_cs == list(itertools.accumulate(ordered))
    srv = Searcher(spark, out).aggs_rows(spec, "spark join")
    want = {k: [r.asDict() for r in res[k].collect()] for k in spec}
    assert srv == want
    with pytest.raises(ValueError, match="histogram"):
        search_aggs(spark, out, {
            "t": {"terms": {"field": "lang"}},
            "dv": {"derivative": {"buckets_path": "t>_count"}},
        }, "spark join")


def test_extended_metric_aggs_and_serving_parity(spark, aroot):
    """Round-5 metric kinds — extended_stats / weighted_avg /
    percentile_ranks (exact rank) / median_absolute_deviation (exact MAD)
    / string_stats (length stats + Shannon entropy) — distributed vs
    aggs_rows (which escalates these kinds) to float tolerance, each
    against a numpy truth computed from the raw rows."""
    import math
    from collections import Counter

    import numpy as np

    from conveyorbelt_spark.index.query import Searcher, search_aggs

    out, rows, matching = aroot
    spec = {
        "xs": {"extended_stats": {"field": "n_chars"}},
        "wa": {"weighted_avg": {"value": {"field": "n_chars"},
                                "weight": {"field": "doc_id"}}},
        "pr": {"percentile_ranks": {"field": "n_chars", "values": [100, 400]}},
        "mad": {"median_absolute_deviation": {"field": "n_chars"}},
        "ss": {"string_stats": {"field": "lang"}},
    }
    got = {
        name: [r.asDict() for r in df.collect()]
        for name, df in search_aggs(spark, out, spec, "spark join").items()
    }
    srv = Searcher(spark, out).aggs_rows(spec, "spark join")
    for name in spec:
        assert len(got[name]) == 1 and len(srv[name]) == 1, name
        for k, v in got[name][0].items():
            assert srv[name][0][k] == pytest.approx(v, rel=1e-9), (name, k)

    nc = np.array([r[3] for r in rows if r[0] in matching], dtype=float)
    ids = np.array([r[0] for r in rows if r[0] in matching], dtype=float)
    langs = [r[2] for r in rows if r[0] in matching]
    xs = got["xs"][0]
    assert xs["count"] == len(nc)
    assert xs["variance"] == pytest.approx(nc.var(), rel=1e-9)
    assert xs["std_deviation"] == pytest.approx(nc.std(), rel=1e-9)
    assert xs["sum_of_squares"] == pytest.approx((nc ** 2).sum())
    assert got["wa"][0]["value"] == pytest.approx((nc * ids).sum() / ids.sum())
    assert got["pr"][0]["r100"] == pytest.approx((nc <= 100).sum() * 100.0 / len(nc))
    assert got["pr"][0]["r400"] == pytest.approx((nc <= 400).sum() * 100.0 / len(nc))
    assert got["mad"][0]["value"] == pytest.approx(
        float(np.median(np.abs(nc - np.median(nc)))))
    chars = "".join(langs)
    cvals = np.array(list(Counter(chars).values()), dtype=float)
    ent = math.log2(len(chars)) - float((cvals * np.log2(cvals)).sum()) / len(chars)
    ss = got["ss"][0]
    assert ss["count"] == len(langs)
    assert ss["min_length"] == 2 and ss["max_length"] == 2
    assert ss["avg_length"] == pytest.approx(2.0)
    assert ss["entropy"] == pytest.approx(ent, rel=1e-9)


def test_bucket_pipeline_aggs(spark, aroot):
    """bucket_script / bucket_selector / bucket_sort / moving_fn /
    serial_diff against python truths from the raw rows. selector and
    sort mutate the PARENT frame (ES drops/pages the parent's buckets);
    script/moving/diff emit their own (key, value) series; aggs_rows
    (escalated) matches the distributed path row for row."""
    from conveyorbelt_spark.index.query import Searcher, search_aggs

    out, rows, matching = aroot
    spec = {
        "hist": {"histogram": {"field": "n_chars", "interval": 100}},
        "mv": {"moving_fn": {"buckets_path": "hist>_count", "window": 2,
                             "script": "MovingFunctions.sum(values)"}},
        "sd": {"serial_diff": {"buckets_path": "hist>_count"}},
        "rate": {"bucket_script": {"buckets_path": {"c": "hist>_count"},
                                   "script": "params.c * 2 + 1"}},
    }
    res = search_aggs(spark, out, spec, "spark join")
    got = {n: [r.asDict() for r in df.collect()] for n, df in res.items()}
    hist: dict[float, int] = {}
    for i, _, _, nc, _ in rows:
        if i in matching:
            b = float((nc // 100) * 100)
            hist[b] = hist.get(b, 0) + 1
    keys = sorted(hist)
    ns = [hist[k] for k in keys]
    assert got["hist"] == [{"key": k, "n": hist[k]} for k in keys]
    want_mv = [None] + [sum(ns[max(0, i - 2):i]) for i in range(1, len(ns))]
    assert [r["value"] for r in got["mv"]] == want_mv
    assert [r["value"] for r in got["sd"]] == [None] + [
        b - a for a, b in zip(ns, ns[1:])
    ]
    assert [r["value"] for r in got["rate"]] == [n * 2 + 1.0 for n in ns]
    assert Searcher(spark, out).aggs_rows(spec, "spark join") == got

    spec2 = {
        "hist": {"histogram": {"field": "n_chars", "interval": 100}},
        "sel": {"bucket_selector": {"buckets_path": {"c": "hist>_count"},
                                    "script": "params.c >= 3"}},
        "srt": {"bucket_sort": {
            "buckets_path": "hist",
            "sort": [{"_count": {"order": "desc"}}, {"_key": {"order": "asc"}}],
            "from": 1, "size": 2,
        }},
    }
    res2 = search_aggs(spark, out, spec2, "spark join")
    got2 = {n: [r.asDict() for r in df.collect()] for n, df in res2.items()}
    kept = sorted(((k, n) for k, n in hist.items() if n >= 3),
                  key=lambda kn: (-kn[1], kn[0]))[1:3]
    assert got2 == {"hist": [{"key": k, "n": n} for k, n in kept]}
    assert Searcher(spark, out).aggs_rows(spec2, "spark join") == got2

    with pytest.raises(ValueError, match="share one parent"):
        search_aggs(spark, out, {
            "a": {"terms": {"field": "lang"}},
            "b": {"histogram": {"field": "n_chars", "interval": 100}},
            "x": {"bucket_script": {
                "buckets_path": {"p": "a>_count", "q": "b>_count"},
                "script": "params.p + params.q"}},
        }, "spark join")
    with pytest.raises(ValueError, match="script"):
        search_aggs(spark, out, {
            "h": {"histogram": {"field": "n_chars", "interval": 100}},
            "x": {"bucket_script": {"buckets_path": {"c": "h>_count"},
                                    "script": "__import__('os')"}},
        }, "spark join")


def test_adjacency_matrix_agg(spark, aroot):
    """adjacency_matrix: a bucket per named filter plus one per unordered
    pair (key "a&b", intersection count), empty buckets omitted, key-asc
    order; aggs_rows (escalated) matches the one-pass Spark stack
    row-for-row."""
    from conveyorbelt_spark.index.query import Searcher, search_aggs

    out, rows, matching = aroot
    spec = {"adj": {"adjacency_matrix": {"filters": {
        "en": {"term": {"lang": "en"}},
        "de": {"term": {"lang": "de"}},
        "small": {"range": {"n_chars": {"lt": 250}}},
    }}}}
    got = {
        name: [r.asDict() for r in df.collect()]
        for name, df in search_aggs(spark, out, spec, "spark join").items()
    }
    hits = [r for r in rows if r[0] in matching]
    en = {r[0] for r in hits if r[2] == "en"}
    de = {r[0] for r in hits if r[2] == "de"}
    small = {r[0] for r in hits if r[3] < 250}
    want = [
        ("de", len(de)), ("de&small", len(de & small)), ("en", len(en)),
        ("en&small", len(en & small)), ("small", len(small)),
    ]
    # en&de is structurally empty (one lang per doc) — omitted, ES-style
    assert [(r["key"], r["n"]) for r in got["adj"]] == [
        (k, n) for k, n in want if n
    ]
    s = Searcher(spark, out)
    assert s.aggs_rows(spec, "spark join") == got


def test_auto_date_histogram_agg(spark, aroot):
    """auto_date_histogram picks the smallest date_trunc unit fitting the
    buckets target (deterministic in min/max/buckets); aggs_rows
    (escalated) matches including the chosen interval."""
    from conveyorbelt_spark.index.query import Searcher, search_aggs

    out, rows, matching = aroot
    # ts spans 4 days: buckets=10 → day (4+1 ≤ 10 fails for hour: span
    # ~3.9d ≈ 94h → 95 > 10); buckets=3 → week/month collapse
    spec = {"auto": {"auto_date_histogram": {"field": "ts", "buckets": 10}}}
    got = {
        name: [r.asDict() for r in df.collect()]
        for name, df in search_aggs(spark, out, spec, "spark join").items()
    }
    assert all(r["interval"] == "day" for r in got["auto"])
    import datetime as dt
    hits = [r for r in rows if r[0] in matching]
    want: dict[dt.datetime, int] = {}
    for r in hits:
        d = r[4].replace(hour=0, minute=0, second=0)
        want[d] = want.get(d, 0) + 1
    assert {(r["key"], r["n"]) for r in got["auto"]} == set(want.items())
    s = Searcher(spark, out)
    assert s.aggs_rows(spec, "spark join") == got
    tight = {"auto": {"auto_date_histogram": {"field": "ts", "buckets": 2}}}
    got2 = s.aggs_rows(tight, "spark join", max_hits=5)  # distributed path
    assert got2 == s.aggs_rows(tight, "spark join")      # parity again
    assert all(r["interval"] == "week" for r in got2["auto"])


def test_terms_order_variants(spark, aroot):
    """ES terms-agg ``order``: _key desc, _count asc (list form with a
    secondary criterion), and order by a metric sub-aggregation — each
    pinned against the pandas truth AND the zero-job serving twin."""
    from conveyorbelt_spark.index.query import Searcher

    out, rows, matching = aroot
    sel = [(lang, nc) for i, _, lang, nc, _ in rows if i in matching]
    aggs = {
        "key_desc": {"terms": {"field": "lang", "order": {"_key": "desc"}}},
        "cnt_asc": {"terms": {
            "field": "lang", "order": [{"_count": "asc"}, {"_key": "desc"}],
        }},
        "by_avg": {
            "terms": {"field": "lang", "size": 2, "order": {"mean_nc": "asc"}},
            "aggs": {"mean_nc": {"avg": {"field": "n_chars"}}},
        },
        "by_stats_max": {
            "terms": {"field": "lang", "order": {"st.max": "desc"}},
            "aggs": {"st": {"stats": {"field": "n_chars"}}},
        },
    }
    res = search_aggs(spark, out, aggs, "spark join")
    got = {k: [r.asDict() for r in v.collect()] for k, v in res.items()}

    counts: dict[str, int] = {}
    sums: dict[str, int] = {}
    mx: dict[str, int] = {}
    for lang, nc in sel:
        counts[lang] = counts.get(lang, 0) + 1
        sums[lang] = sums.get(lang, 0) + nc
        mx[lang] = max(mx.get(lang, -1), nc)
    assert [r["key"] for r in got["key_desc"]] == sorted(counts, reverse=True)
    assert [r["key"] for r in got["cnt_asc"]] == [
        k for k in sorted(counts, key=lambda k: (counts[k], [-ord(c) for c in k]))
    ]
    want_avg_order = sorted(counts, key=lambda k: sums[k] / counts[k])[:2]
    assert [r["key"] for r in got["by_avg"]] == want_avg_order
    for r in got["by_avg"]:
        assert r["value"] == pytest.approx(sums[r["key"]] / counts[r["key"]])
    assert [r["key"] for r in got["by_stats_max"]] == sorted(
        counts, key=lambda k: -mx[k]
    )

    # serving twin returns the identical rows in the identical order
    serve = Searcher(spark, out).aggs_rows(aggs, "spark join")
    for k in aggs:
        assert serve[k] == got[k], k


def test_terms_order_rejections(spark, aroot):
    out, _, _ = aroot
    with pytest.raises(ValueError, match="order key"):
        search_aggs(spark, out, {
            "bad": {"terms": {"field": "lang", "order": {"nope": "desc"}}},
        }, "spark")
    with pytest.raises(ValueError, match="order direction"):
        search_aggs(spark, out, {
            "bad": {"terms": {"field": "lang", "order": {"_key": "sideways"}}},
        }, "spark")


def test_fixed_interval_and_gap_fill(spark, aroot):
    """fixed_interval epoch-aligned bucketing, min_doc_count:0 gap
    filling across extended_bounds, and terms `missing` — Spark path and
    aggs_rows (the date_histograms escalate it to the distributed path)
    row-identical."""
    from conveyorbelt_spark.index.query import Searcher

    out, rows, matching = aroot
    aggs = {
        "six": {"date_histogram": {"field": "ts", "fixed_interval": "6h"}},
        "gap": {"date_histogram": {
            "field": "ts", "fixed_interval": "12h", "min_doc_count": 0,
            "extended_bounds": {"min": "2016-09-14T00:00:00",
                                "max": "2016-09-21T00:00:00"},
        }},
        "hgap": {"histogram": {
            "field": "n_chars", "interval": 100, "min_doc_count": 0,
            "extended_bounds": {"min": -100, "max": 700},
        }},
    }
    res = search_aggs(spark, out, aggs, "spark join")
    got = {k: [r.asDict() for r in v.collect()] for k, v in res.items()}
    serve = Searcher(spark, out).aggs_rows(aggs, "spark join")
    for k in aggs:
        assert serve[k] == got[k], k
    # gap axis spans the extended bounds at 12h steps, zeros included
    gap = got["gap"]
    assert gap[0]["key"].isoformat() == "2016-09-14T00:00:00"
    assert gap[-1]["key"].isoformat() == "2016-09-21T00:00:00"
    assert len(gap) == 15
    assert any(r["n"] == 0 for r in gap)
    assert sum(r["n"] for r in gap) == len(matching)
    hg = got["hgap"]
    assert hg[0]["key"] == -100.0 and hg[-1]["key"] == 700.0
    assert sum(r["n"] for r in hg) == len(matching)


def test_terms_missing_value(spark, tmp_path):
    from conveyorbelt_spark.index.build import build_index, write_docstore
    from conveyorbelt_spark.index.query import Searcher

    out = str(tmp_path / "missidx")
    rows = [
        (i, "spark join", None if i % 4 == 0 else ("a" if i % 2 else "b"))
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, cat string")
    build_index(spark, docs.select("doc_id", "text"), out, url_col=None, n_buckets=2)
    write_docstore(spark, docs, out, url_col=None, extra_cols=("cat",))
    aggs = {"c": {"terms": {"field": "cat", "missing": "none"}}}
    got = [
        r.asDict() for r in search_aggs(spark, out, aggs, "spark")["c"].collect()
    ]
    assert {r["key"]: r["n"] for r in got} == {"a": 20, "b": 10, "none": 10}
    assert Searcher(spark, out).aggs_rows(aggs, "spark")["c"] == got


def test_terms_include_exclude_and_top_metrics(spark, aroot):
    from conveyorbelt_spark.index.query import Searcher

    out, rows, matching = aroot
    aggs = {
        "inc": {"terms": {"field": "lang", "include": ["en", "fr"]}},
        "rex": {"terms": {"field": "lang", "include": "e.|fr", "exclude": "en"}},
        "tm": {"top_metrics": {
            "metrics": [{"field": "lang"}, {"field": "doc_id"}],
            "sort": {"n_chars": "desc"}, "size": 2,
        }},
    }
    res = search_aggs(spark, out, aggs, "spark join")
    got = {k: [r.asDict() for r in v.collect()] for k, v in res.items()}
    assert {r["key"] for r in got["inc"]} == {"en", "fr"}
    assert {r["key"] for r in got["rex"]} == {"fr"}
    sel = sorted(
        ((nc, i, lang) for i, _, lang, nc, _ in rows if i in matching),
        key=lambda t: (-t[0], t[1]),
    )[:2]
    assert [(r["sort"], r["doc_id"], r["lang"]) for r in got["tm"]] == [
        (nc, i, lang) for nc, i, lang in sel
    ]
    serve = Searcher(spark, out).aggs_rows(aggs, "spark join")
    for k in aggs:
        assert serve[k] == got[k], k


def test_validate_query_api(spark, aroot):
    from conveyorbelt_spark.index.dsl import validate_query_body

    out, _, _ = aroot
    assert validate_query_body(spark, out, {"query": {"match": {"text": "x"}}}) == {"valid": True}
    bad = validate_query_body(spark, out, {"query": {"frobnicate": {}}})
    assert bad["valid"] is False and "frobnicate" in bad["error"]


def test_histogram_offset(spark, aroot):
    from conveyorbelt_spark.index.query import Searcher

    out, rows, matching = aroot
    aggs = {"h": {"histogram": {
        "field": "n_chars", "interval": 100, "offset": 37,
        "min_doc_count": 0,
    }}}
    got = [
        r.asDict() for r in search_aggs(spark, out, aggs, "spark join")["h"].collect()
    ]
    assert Searcher(spark, out).aggs_rows(aggs, "spark join")["h"] == got
    # bucket keys are step-aligned to the offset
    assert all((r["key"] - 37) % 100 == 0 for r in got)
    assert sum(r["n"] for r in got) == len(matching)
    with pytest.raises(ValueError, match="offset"):
        search_aggs(spark, out, {"d": {"date_histogram": {
            "field": "ts", "interval": "day", "offset": "1h",
        }}}, "spark")
