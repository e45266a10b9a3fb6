"""The driver serves every kernel with ONE call per query over the whole doc
range, fed {term: _TermPostings} from the Searcher's per-term tp cache; the
Spark path runs the same kernel once per doc bucket. Pinned here:

- driver == Spark, exactly (ids, order, scores with ``==``), over a
  multi-bucket, multi-run index with a deleted doc and a doc re-ingested in
  a delta run (the duplicate-doc fallback), for every driver kernel;
- one kernel call per warm query, whatever the bucket count;
- explain and search share the tp cache without poisoning it, either order;
- per-snapshot caches reset on mutation, and warm docstore fetches reuse
  the Searcher's stats instead of re-reading stats.json.
"""

from __future__ import annotations

import random

import numpy as np
import pytest

from conveyorbelt_spark.index import build, query
from conveyorbelt_spark.index.delete import delete_docs
from conveyorbelt_spark.index.query import (
    Searcher,
    bm25_topk,
    multi_match_topk,
    phrase_topk,
    span_near_topk,
)
from conveyorbelt_spark.streaming.incremental import index_batch

W = ["spark", "join", "window", "shuffle", "plan", "query", "index", "merge"]
CATS = ["en", "de", "fr"]
SCHEMA = "url string, text string, cat string, title string"
# re-ingested verbatim in the delta run: its own vocabulary, so only the
# "delta"/"replay" queries take the duplicate-doc fallback
DUP = ("http://k/dup", "delta replay delta", "xx", "delta")
N_BUCKETS = 4


def _rows(n: int, seed: int, start: int) -> list[tuple]:
    rng = random.Random(seed)
    return [
        (f"http://k/{i}", " ".join(rng.choices(W, k=10)), CATS[i % 3],
         " ".join(rng.choices(W, k=3)))
        for i in range(start, start + n)
    ]


@pytest.fixture(scope="module")
def kidx(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("kidx"))
    kw = dict(
        n_buckets=N_BUCKETS, n_term_buckets=8, positions=True,
        keyword_cols=("cat",), field_cols=("title",), store_cols=("cat",),
    )
    batches = [_rows(160, 3, 0) + [DUP], _rows(120, 4, 160) + [DUP]]
    for i, rows in enumerate(batches):
        assert index_batch(spark, spark.createDataFrame(rows, SCHEMA), out, i, **kw)
    victim = Searcher(spark, out).search_rows("spark join", 1)[0][0]
    assert delete_docs(spark, out, [victim])
    return out, victim


def _spark(df) -> list[tuple[int, float]]:
    return [(int(r.doc_id), float(r.score)) for r in df.collect()]


def test_fixture_has_buckets_dups_and_deletes(spark, kidx):
    """Precondition: the index really spreads over every bucket, holds a
    delta-duplicate doc and a deleted one (else the differential cases
    below would not reach those paths)."""
    out, victim = kidx
    s = Searcher(spark, out)
    post = s._postings([], ["delta", "spark"])
    assert post["delta"].has_dups and not post["spark"].has_dups
    bits = int(np.log2(N_BUCKETS))
    assert len(set((post["spark"].docs >> (63 - bits)).tolist())) == N_BUCKETS
    hits = dict(s.search_rows("spark join", 1000))
    assert victim not in hits and hits


BM25_CASES = {
    "bag": ("spark join window", 10, {}),
    "must_must_not": ("spark join", 10, {"must": "window", "must_not": "merge"}),
    "min_should": ("spark join plan", 10, {"min_should": 2}),
    "filter_groups": ("spark join", 10, {"filters": {"cat": ["en", "de"]}}),
    "slice_mod": ("spark shuffle", 10, {"slice_mod": (1, 3)}),
    "all_hits": ("query", 1000, {}),
    "dup_fallback": ("delta spark", 10, {}),
    "dup_filtered": ("replay join", 10, {"must_not": "plan"}),
}


@pytest.mark.parametrize("case", sorted(BM25_CASES))
def test_bm25_driver_matches_spark(spark, kidx, case):
    out, _ = kidx
    q, k, kw = BM25_CASES[case]
    got = Searcher(spark, out).search_rows(q, k, **kw)
    assert got and got == _spark(bm25_topk(spark, out, q, k, **kw))


def test_after_page_driver_matches_spark(spark, kidx):
    out, _ = kidx
    s = Searcher(spark, out)
    page1 = s.search_rows("spark join window", 5)
    after = page1[-1]
    got = s.search_rows("spark join window", 5, after=after)
    assert got and got[0] != page1[-1]
    assert got == _spark(bm25_topk(spark, out, "spark join window", 5, after=after))


@pytest.mark.parametrize("q", ["spark join window", "delta spark"])
def test_max_candidates_driver_matches_spark(spark, kidx, q):
    """A small cap slices the driver's frame by doc range (and the Spark
    task's bucket frame); both stay exact."""
    out, _ = kidx
    got = Searcher(spark, out, max_candidates=40).search_rows(q, 10)
    assert got == _spark(bm25_topk(spark, out, q, 10, max_candidates=40))
    assert got == Searcher(spark, out).search_rows(q, 10)


@pytest.mark.parametrize("phrase,slop", [
    ("spark join", 0), ("spark join", 1), ("join window plan", 1), ("delta replay", 0),
])
def test_phrase_driver_matches_spark(spark, kidx, phrase, slop):
    out, _ = kidx
    got = Searcher(spark, out).phrase_rows(phrase, 10, slop=slop)
    assert got and got == _spark(phrase_topk(spark, out, phrase, 10, slop=slop))


@pytest.mark.parametrize("clauses,kw", [
    (["spark", "join"], {"slop": 1}),
    (["window", ["plan", "merge"]], {"slop": 2, "in_order": False}),
    (["delta", "replay"], {"slop": 1}),
])
def test_span_driver_matches_spark(spark, kidx, clauses, kw):
    out, _ = kidx
    got = Searcher(spark, out).span_near_rows(clauses, 10, **kw)
    assert got and got == _spark(span_near_topk(spark, out, clauses, 10, **kw))


@pytest.mark.parametrize("mtype", ["best_fields", "most_fields"])
def test_multi_match_driver_matches_spark(spark, kidx, mtype):
    out, _ = kidx
    fields = ["title^2", "text"]
    got = Searcher(spark, out).multi_match_rows("spark delta join", fields, 10, type=mtype)
    want = _spark(multi_match_topk(spark, out, "spark delta join", fields, 10, type=mtype))
    assert got and got == want


@pytest.mark.parametrize("phrase", ["spark join", "delta", "delta replay"])
def test_phrase_freq_driver_matches_spark(spark, kidx, monkeypatch, phrase):
    out, _ = kidx
    got = Searcher(spark, out).phrase_freq(phrase)
    s = Searcher(spark, out)
    monkeypatch.setattr(s, "_postings", lambda *a, **kw: None)  # distributed job
    assert got > 0 and got == s.phrase_freq(phrase)


class _Counted:
    """Kernel proxy: counts calls, forwards attribute reads and writes."""

    def __init__(self, kern, calls: list) -> None:
        object.__setattr__(self, "_kern", kern)
        object.__setattr__(self, "_calls", calls)

    def __call__(self, src):
        self._calls.append(1)
        return self._kern(src)

    def __getattr__(self, n):
        return getattr(self._kern, n)

    def __setattr__(self, n, v) -> None:
        setattr(self._kern, n, v)


@pytest.mark.parametrize("factory,run", [
    ("_score_kernel", lambda s: s.search_rows("spark join", 10)),
    ("_phrase_kernel", lambda s: s.phrase_rows("spark join", 10)),
])
def test_one_kernel_call_per_warm_query(spark, kidx, monkeypatch, factory, run):
    out, _ = kidx
    s = Searcher(spark, out)
    cold = run(s)
    calls: list = []
    orig = getattr(query, factory)
    monkeypatch.setattr(
        query, factory, lambda *a, **kw: _Counted(orig(*a, **kw), calls)
    )
    assert run(s) == cold and cold
    assert len(calls) == 1


def test_explain_then_search_does_not_poison(spark, kidx):
    out, _ = kidx
    truth = Searcher(spark, out).search_rows("spark join", 20)
    s = Searcher(spark, out)
    assert s.explain("spark join", truth[0][0])["matched"]
    got = s.search_rows("spark join", 20)
    assert got == truth
    assert len({d for d, _ in got}) == len(got)


def test_search_then_explain_does_not_poison(spark, kidx):
    out, _ = kidx
    s = Searcher(spark, out)
    hits = s.search_rows("spark join", 20)
    for d, sc in hits:
        ex = s.explain("spark join", d)
        assert ex["matched"], d
        assert ex["value"] == pytest.approx(sc, rel=1e-12)


def test_sum_doc_freq_resets_with_snapshot(spark, tmp_path):
    out = str(tmp_path / "sdf")
    kw = dict(n_buckets=N_BUCKETS, n_term_buckets=8, store_cols=("text",))
    a = _rows(40, 7, 0)
    index_batch(spark, spark.createDataFrame(a, SCHEMA), out, 0, **kw)
    s = Searcher(spark, out)
    did = s.search_rows("spark", 1)[0][0]

    def sdf(h: Searcher) -> int:
        tv = h.termvectors(did, term_statistics=True)
        return tv["term_vectors"]["text"]["field_statistics"]["sum_doc_freq"]

    before = sdf(s)
    index_batch(spark, spark.createDataFrame(_rows(20, 8, 40), SCHEMA), out, 1, **kw)
    after = sdf(s)
    assert after > before
    assert after == sdf(Searcher(spark, out))


def test_warm_search_docs_reads_no_stats(spark, kidx, monkeypatch):
    out, _ = kidx
    s = Searcher(spark, out)
    first = s.search_docs("spark join", 5)
    assert first and all("cat" in r for r in first)
    reads: list = []
    orig = build.load_stats

    def counted(d):
        reads.append(d)
        return orig(d)

    monkeypatch.setattr(build, "load_stats", counted)
    monkeypatch.setattr(query, "load_stats", counted)
    assert s.search_docs("spark join", 5) == first
    assert s.search_docs("spark join", 5) == first
    assert reads == []
