"""Randomized differential test of the two aggregation engines: the
driver-side serving path (``Searcher.aggs_rows``) against the distributed
plan (``search_aggs``), row for row, over seeded agg specs.

``_serving_spec`` builds specs only from the serving kinds (terms /
histogram with gap fill, stats and the five single metrics,
significant_terms, and sub-agg chains of those): they must match exactly
and run zero Spark jobs. ``_wide_spec`` adds one kind of ``WIDE_KINDS``
per seed — every kind outside the serving set except cardinality /
percentiles / significant_text, which have their own tests below — at
the top level or below a serving bucket: those requests escalate to the
distributed plan, so they match and run Spark jobs. date_histogram
(calendar and fixed, gap-filled or not, flat or at any level of a
chain) is one of them."""

from __future__ import annotations

import datetime as dt
import random

import pytest

from conveyorbelt_spark.index.build import build_index, write_docstore
from conveyorbelt_spark.index.query import Searcher, search_aggs

WORDS = ["spark", "join", "window", "shuffle", "plan", "query", "index", "merge"]
LANGS = ["en", "de", "fr", "es", "it"]
SRCS = ["web", "api", "batch", "cron"]
KW_FIELDS = ("lang", "src")
NUM_FIELDS = ("n_chars", "w")
T0 = dt.datetime(2016, 9, 10)
QUERIES = [("spark join", None), ("window", None), ("shuffle plan", "merge"), ("spark", None)]
SERVING_SEEDS = list(range(1, 25))


def _mkrows(n=300, seed=11):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        words = rng.choices(WORDS, k=8)
        # src leans on the text so significant_terms has a foreground
        src = "cron" if "shuffle" in words and rng.random() < 0.7 else rng.choice(SRCS)
        rows.append((
            i,
            " ".join(words),
            None if rng.random() < 0.1 else rng.choice(LANGS),
            src,
            None if rng.random() < 0.1 else rng.randrange(40) * 25,
            None if rng.random() < 0.1 else rng.randrange(-20, 120) * 0.25,
            None if rng.random() < 0.1
            else T0 + dt.timedelta(seconds=rng.randrange(40 * 86400)),
        ))
    return rows


@pytest.fixture(scope="module")
def droot(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("aggdiff"))
    docs = spark.createDataFrame(
        _mkrows(),
        "doc_id long, text string, lang string, src string, n_chars long, "
        "w double, ts timestamp",
    )
    build_index(spark, docs, out, url_col=None, n_buckets=4, n_term_buckets=8)
    write_docstore(
        spark, docs, out, url_col=None,
        extra_cols=("text", "lang", "src", "n_chars", "w", "ts"),
    )
    return out, Searcher(spark, out)


class _Names:
    def __init__(self):
        self.n = 0

    def __call__(self, prefix: str) -> str:
        self.n += 1
        return f"{prefix}{self.n}"


def _metric(rng) -> dict:
    kind = rng.choice(("stats", "avg", "sum", "min", "max", "value_count"))
    fields = NUM_FIELDS + KW_FIELDS if kind == "value_count" else NUM_FIELDS
    return {kind: {"field": rng.choice(fields)}}


def _order_keys(metrics: dict) -> list[str]:
    keys = ["_count", "_key"]
    for name, spec in metrics.items():
        if "stats" in spec:
            keys += [f"{name}.{p}" for p in ("count", "min", "max", "avg", "sum")]
        else:
            keys.append(name)
    return keys


def _terms(rng, metrics: dict | None = None) -> dict:
    field = rng.choice(KW_FIELDS + NUM_FIELDS)
    body: dict = {"field": field}
    if rng.random() < 0.7:
        body["size"] = rng.choice([0, 1, 2, 3, 10])
    if rng.random() < 0.6:
        keys = _order_keys(metrics or {})
        crit = [{rng.choice(keys): rng.choice(["asc", "desc"])}]
        if rng.random() < 0.3:
            crit.append({rng.choice(keys): rng.choice(["asc", "desc"])})
        body["order"] = crit[0] if len(crit) == 1 else crit
    if rng.random() < 0.35:
        opt = rng.choice(["include", "exclude"])
        if field == "lang":
            # ES takes a regex include/exclude on keyword fields only
            body[opt] = rng.choice([["en", "fr"], "e.|fr", "[d-f].*"])
        elif field == "src":
            body[opt] = rng.choice([["web", "cron"], "c.*|api"])
        elif field == "n_chars":
            body[opt] = [25 * k for k in rng.sample(range(40), 6)]
        else:
            body[opt] = [0.25 * k for k in rng.sample(range(-20, 120), 12)]
    if rng.random() < 0.3:
        body["missing"] = "zz" if field in KW_FIELDS else -1
    return body


def _date_histogram(rng, gap: bool) -> dict:
    if gap:
        opts = [("calendar_interval", "day"), ("calendar_interval", "week"),
                ("fixed_interval", "12h"), ("fixed_interval", "2d"),
                ("interval", "month")]
    else:
        opts = [("calendar_interval", "hour"), ("calendar_interval", "day"),
                ("fixed_interval", "90m"), ("fixed_interval", "6h"),
                ("interval", "week"), ("interval", "month"), ("fixed_interval", "3d")]
    key, val = rng.choice(opts)
    body = {"field": "ts", key: val}
    if gap:
        body["min_doc_count"] = 0
        eb = {}
        if rng.random() < 0.6:
            eb["min"] = rng.choice(["2016-09-01T00:00:00", "2016-09-12T06:00:00"])
        if rng.random() < 0.6:
            eb["max"] = rng.choice(["2016-10-25T00:00:00", "2016-10-01T00:00:00"])
        if eb:
            body["extended_bounds"] = eb
    return body


def _histogram(rng, gap: bool) -> dict:
    field = rng.choice(NUM_FIELDS)
    step = rng.choice([50, 100, 125, 7] if field == "n_chars" else [0.5, 0.3, 1.5, 2.5])
    body = {"field": field, "interval": step}
    if rng.random() < 0.5:
        body["offset"] = step * rng.choice([0.25, 0.5])
    if gap:
        body["min_doc_count"] = 0
        if rng.random() < 0.6:
            lo, hi = (-100, 1200) if field == "n_chars" else (-8.0, 35.0)
            body["extended_bounds"] = {"min": lo, "max": hi}
    return body


def _chain(rng, names: _Names, depth: int, dh_depth: int = 0) -> dict:
    """A bucket chain ``depth`` levels deep; the level whose remaining
    depth is ``dh_depth`` is a date_histogram (0: none, a serving chain)."""
    n_metrics = rng.randint(1 if depth == 1 else 0, 3)
    metrics = {names("m"): _metric(rng) for _ in range(n_metrics)}
    kind = (
        "date_histogram" if depth == dh_depth
        else rng.choice(["terms", "histogram"])
    )
    if kind == "terms":
        body = _terms(rng, metrics)
    elif kind == "date_histogram":
        body = _date_histogram(rng, gap=False)
    else:
        body = _histogram(rng, gap=False)
    sub = dict(metrics)
    if depth > 1:
        sub[names("c")] = _chain(rng, names, depth - 1, dh_depth)
    return {kind: body, "aggs": sub}


def _serving_agg(rng, names: _Names) -> dict:
    pick = rng.random()
    if pick < 0.15:
        return {"terms": _terms(rng)}
    if pick < 0.3:
        return {"histogram": _histogram(rng, gap=rng.random() < 0.5)}
    if pick < 0.45:
        return _metric(rng)
    if pick < 0.55:
        return {"significant_terms": {
            "field": rng.choice(KW_FIELDS), "size": rng.choice([2, 10]),
            "min_doc_count": rng.choice([1, 3]),
        }}
    return _chain(rng, names, rng.randint(1, 3))


def _serving_spec(seed: int) -> tuple[dict, tuple[str, str | None]]:
    rng = random.Random(seed)
    names = _Names()
    aggs = {names("a"): _serving_agg(rng, names) for _ in range(rng.randint(1, 3))}
    return aggs, rng.choice(QUERIES)


# every kind outside the serving set that the engines serve, with a
# ``range``/``top_hits`` under terms as the two chain terminals
WIDE_KINDS = (
    "date_histogram", "date_histogram_chain", "range", "date_range", "filter", "filters", "missing", "top_hits",
    "range_terminal", "composite", "multi_terms", "rare_terms",
    "adjacency_matrix", "auto_date_histogram", "top_metrics", "weighted_avg",
    "extended_stats", "median_absolute_deviation", "percentile_ranks",
    "string_stats", "global", "avg_bucket", "sum_bucket", "min_bucket",
    "max_bucket", "stats_bucket", "derivative", "cumulative_sum", "moving_fn",
    "serial_diff", "bucket_script", "bucket_selector", "bucket_sort",
)
WIDE_SEEDS = list(range(len(WIDE_KINDS)))


def _ranges(rng, field: str) -> list[dict]:
    cuts = sorted(rng.sample(range(0, 1000, 25), 3)) if field == "n_chars" else [0.0, 5.0, 17.5]
    return [{"to": cuts[1]}, {"from": cuts[0], "to": cuts[2]},
            {"from": cuts[1], "key": "tail"}]


def _wide_parts(rng, names: _Names, kind: str) -> dict:
    """Named aggs holding one non-serving ``kind`` (a pipeline comes with
    the bucket parent it reads)."""
    num = rng.choice(NUM_FIELDS)
    clause = rng.choice([
        {"term": {"lang": "en"}},
        {"terms": {"src": ["web", "cron"]}},
        {"range": {"n_chars": {"gte": 100, "lt": 600}}},
        {"bool": {"must_not": {"term": {"lang": "fr"}}}},
        {"exists": {"field": "w"}},
    ])
    if kind == "date_histogram":
        return {names("w"): {"date_histogram": _date_histogram(rng, gap=rng.random() < 0.5)}}
    if kind == "date_histogram_chain":
        depth = rng.randint(1, 3)
        return {names("w"): _chain(rng, names, depth, rng.randint(1, depth))}
    if kind == "range":
        return {names("w"): {"range": {"field": num, "ranges": _ranges(rng, num)}}}
    if kind == "date_range":
        return {names("w"): {"date_range": {"field": "ts", "ranges": [
            {"to": "2016-09-20"}, {"from": "2016-09-15", "to": "2016-10-05"},
            {"from": "2016-10-01", "key": "late"},
        ]}}}
    if kind == "filter":
        child = rng.choice([None, {"terms": _terms(rng)}, _metric(rng),
                            {"date_histogram": {"field": "ts", "interval": "week"}},
                            {"range": {"field": num, "ranges": _ranges(rng, num)}}])
        spec: dict = {"filter": clause}
        if child is not None:
            spec["aggs"] = {names("c"): child}
        return {names("w"): spec}
    if kind == "filters":
        return {names("w"): {"filters": {"filters": {
            "a": clause, "b": {"term": {"src": "api"}},
        }}}}
    if kind == "missing":
        return {names("w"): {"missing": {"field": rng.choice(KW_FIELDS + NUM_FIELDS + ("ts",))}}}
    if kind == "top_hits":
        th = {"size": rng.choice([1, 2])}
        if rng.random() < 0.7:
            th["sort"] = [{num: {"order": rng.choice(["asc", "desc"])}}]
            th["_source"] = [num, "lang"]
        return {names("w"): {"terms": {"field": "src", "size": 3},
                             "aggs": {names("t"): {"top_hits": th}}}}
    if kind == "range_terminal":
        return {names("w"): {"terms": {"field": "lang"},
                             "aggs": {names("r"): {"range": {
                                 "field": num, "ranges": _ranges(rng, num)}}}}}
    if kind == "composite":
        srcs = [{"l": {"terms": {"field": "src"}}},
                {"d": {"date_histogram": {"field": "ts", "interval": "week"}}}]
        body = {"size": rng.choice([3, 10]), "sources": srcs[: rng.randint(1, 2)]}
        if rng.random() < 0.5:
            body["after"] = {"l": "api"} if len(body["sources"]) == 1 else {
                "l": "batch", "d": dt.datetime(2016, 9, 19)}
        return {names("w"): {"composite": body}}
    if kind == "multi_terms":
        return {names("w"): {"multi_terms": {
            "terms": [{"field": "lang"}, {"field": "src"}], "size": rng.choice([3, 10])}}}
    if kind == "rare_terms":
        return {names("w"): {"rare_terms": {
            "field": rng.choice(["n_chars", "lang"]), "max_doc_count": rng.choice([1, 5])}}}
    if kind == "adjacency_matrix":
        return {names("w"): {"adjacency_matrix": {"filters": {
            "en": {"term": {"lang": "en"}}, "web": {"term": {"src": "web"}},
            "x": clause,
        }}}}
    if kind == "auto_date_histogram":
        return {names("w"): {"auto_date_histogram": {
            "field": "ts", "buckets": rng.choice([3, 10, 50])}}}
    if kind == "top_metrics":
        return {names("w"): {"top_metrics": {
            "metrics": [{"field": "lang"}, {"field": "doc_id"}],
            "sort": {num: rng.choice(["asc", "desc"])}, "size": rng.choice([1, 3]),
        }}}
    if kind == "weighted_avg":
        return {names("w"): {"weighted_avg": {
            "value": {"field": "n_chars"}, "weight": {"field": "doc_id"}}}}
    if kind in ("extended_stats", "median_absolute_deviation"):
        return {names("w"): {kind: {"field": num}}}
    if kind == "percentile_ranks":
        return {names("w"): {"percentile_ranks": {"field": num, "values": [5, 300]}}}
    if kind == "string_stats":
        return {names("w"): {"string_stats": {"field": rng.choice(KW_FIELDS)}}}
    if kind == "global":
        return {names("w"): {"global": {}, "aggs": {names("c"): {"terms": {"field": "src"}}}}}
    parent = names("p")
    if kind.endswith("_bucket"):
        m = names("m")
        path = rng.choice([f"{parent}>_count", f"{parent}>{m}"])
        return {
            parent: {"terms": {"field": "lang"},
                     "aggs": {m: {rng.choice(["avg", "sum", "max"]): {"field": "n_chars"}}}},
            names("w"): {kind: {"buckets_path": path}},
        }
    hist = rng.choice([{"histogram": {"field": "n_chars", "interval": 100}},
                       {"date_histogram": {"field": "ts", "interval": "week"}}])
    if kind == "bucket_script":
        body = {"buckets_path": {"c": f"{parent}>_count"}, "script": "params.c * 2 + 1"}
    elif kind == "bucket_selector":
        body = {"buckets_path": {"c": f"{parent}>_count"}, "script": "params.c >= 10"}
    elif kind == "bucket_sort":
        body = {"buckets_path": parent,
                "sort": [{"_count": {"order": "desc"}}, {"_key": {"order": "asc"}}],
                "from": 1, "size": 3}
    else:
        body = {"buckets_path": f"{parent}>_count"}
        if kind == "moving_fn":
            body.update(window=rng.choice([2, 3]), script=rng.choice([
                "MovingFunctions.sum(values)", "MovingFunctions.unweightedAvg(values)",
                "MovingFunctions.max(values)"]))
        if kind == "serial_diff":
            body["lag"] = rng.choice([1, 2])
    return {parent: hist, names("w"): {kind: body}}


def _wide_spec(seed: int) -> tuple[dict, tuple[str, str | None]]:
    """Seed i holds WIDE_KINDS[i], plus up to two serving aggs and
    sometimes a second non-serving kind."""
    rng = random.Random(seed)
    names = _Names()
    aggs: dict = {}
    for _ in range(rng.randint(0, 2)):
        aggs[names("a")] = _serving_agg(rng, names)
    aggs.update(_wide_parts(rng, names, WIDE_KINDS[seed % len(WIDE_KINDS)]))
    if rng.random() < 0.4:
        aggs.update(_wide_parts(rng, names, rng.choice(WIDE_KINDS)))
    return aggs, rng.choice(QUERIES)


def _approx(rows: dict) -> dict:
    """Expected rows with every float compared to 1e-9 relative (two
    distributed runs may merge float partial sums in different orders)."""
    return {
        name: [
            {k: pytest.approx(v, rel=1e-9) if isinstance(v, float) else v
             for k, v in r.items()}
            for r in rs
        ]
        for name, rs in rows.items()
    }


def _run(spark, s: Searcher, aggs: dict, q: tuple[str, str | None], group: str):
    """(aggs_rows rows, Spark jobs aggs_rows ran, search_aggs rows)."""
    query, must_not = q
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        got = s.aggs_rows(aggs, query, must_not=must_not)
    finally:
        sc.setJobGroup(None, None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    want = {
        name: [r.asDict() for r in df.collect()]
        for name, df in search_aggs(
            spark, s.out_dir, aggs, query, must_not=must_not,
        ).items()
    }
    return got, jobs, want


@pytest.mark.parametrize("seed", SERVING_SEEDS)
def test_serving_kinds_match_spark_with_zero_jobs(spark, droot, seed):
    _, s = droot
    aggs, q = _serving_spec(seed)
    got, jobs, want = _run(spark, s, aggs, q, f"aggdiff-serve-{seed}")
    assert got == want, aggs
    assert jobs == 0, aggs


@pytest.mark.parametrize("seed", WIDE_SEEDS)
def test_other_kinds_escalate_to_spark(spark, droot, seed):
    _, s = droot
    aggs, q = _wide_spec(seed)
    got, jobs, want = _run(spark, s, aggs, q, f"aggdiff-wide-{seed}")
    assert got == _approx(want), aggs
    assert jobs > 0, aggs


def test_significant_text_served_through_aggs_rows(spark, droot):
    """aggs_rows answers every kind search_aggs answers — significant_text
    (background from the index dictionary) included."""
    _, s = droot
    aggs = {"x": {"significant_text": {"field": "text", "min_doc_count": 1}}}
    got, jobs, want = _run(spark, s, aggs, ("shuffle", None), "aggdiff-sigtext")
    assert got == want and want["x"]
    assert jobs > 0


def test_nested_non_serving_kind_escalates(spark, droot):
    """The routing rule reads the whole agg tree: a top_hits terminal
    under a serving terms agg sends the request to the distributed plan."""
    _, s = droot
    aggs = {"by_src": {"terms": {"field": "src"}, "aggs": {
        "top": {"top_hits": {"size": 2, "sort": [{"n_chars": {"order": "desc"}}],
                             "_source": ["n_chars"]}},
    }}}
    got, jobs, want = _run(spark, s, aggs, ("spark join", None), "aggdiff-nested")
    assert got == want and want["by_src"]
    assert jobs > 0


def test_cardinality_and_percentiles_take_search_aggs_semantics(spark, droot):
    """cardinality / percentiles run on the distributed plan from
    aggs_rows too: approximate like ES unless ``"exact": true``."""
    _, s = droot
    aggs = {
        "uniq": {"cardinality": {"field": "n_chars"}},
        "uniq_exact": {"cardinality": {"field": "w", "exact": True}},
        "pct": {"percentiles": {"field": "w", "percents": [10, 50, 90]}},
        "by_lang": {"terms": {"field": "lang"}, "aggs": {
            "p": {"percentiles": {"field": "n_chars", "percents": [50]}}}},
    }
    got, jobs, want = _run(spark, s, aggs, ("spark join", None), "aggdiff-approx")
    assert got == want
    assert jobs > 0
