"""The Searcher's one serving cache (the ES node-query-cache analogue): a
byte-budgeted LRU of decoded postings keyed (term, with_poss). Repeat terms
skip the parquet read and reuse the decoded object; results stay
bit-identical to a cold Searcher through any eviction; every index mutation
invalidates via the stats mtime."""

from __future__ import annotations

import random

import pytest

from conveyorbelt_spark.index.build import build_index
from conveyorbelt_spark.index.delete import delete_docs
from conveyorbelt_spark.index.query import Searcher, _TpCache

W = ["spark", "join", "window", "shuffle", "plan", "query", "index", "merge"]


@pytest.fixture()
def cidx(spark, tmp_path):
    rng = random.Random(51)
    rows = [(i, " ".join(rng.choices(W, k=10))) for i in range(150)]
    out = str(tmp_path / "cidx")
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    build_index(spark, docs, out, url_col=None, n_buckets=4, n_term_buckets=8)
    return out, rows


def test_warm_repeat_is_identical_and_cached(spark, cidx):
    out, _ = cidx
    s = Searcher(spark, out)
    cold = s.search_rows("spark join", 20)
    assert len(s._block_cache) == 2  # both terms cached
    tp = s._block_cache.get(("spark", False))
    warm = s.search_rows("spark join", 20)
    assert warm == cold
    assert s._block_cache.get(("spark", False)) is tp  # served, not re-read
    # overlapping query reuses one term, reads the other
    mixed = s.search_rows("spark window", 20)
    fresh = Searcher(spark, out).search_rows("spark window", 20)
    assert mixed == fresh
    assert len(s._block_cache) == 3
    assert s._block_cache.get(("spark", False)) is tp


def test_mutation_invalidates_cache(spark, cidx):
    out, _ = cidx
    s = Searcher(spark, out)
    base = dict(s.search_rows("spark join", 500))
    assert ("spark", False) in s._block_cache
    victim = sorted(base)[0]
    delete_docs(spark, out, [victim])
    after = dict(s.search_rows("spark join", 500))  # same handle, warm cache
    assert victim not in after
    assert set(after) == set(base) - {victim}


def test_phrase_and_bag_caches_are_separate(spark, tmp_path):
    docs = spark.createDataFrame(
        [(1, "big data spark join"), (2, "spark join big"), (3, "join spark")],
        "doc_id long, text string",
    )
    out = str(tmp_path / "pidx")
    build_index(spark, docs, out, url_col=None, n_buckets=2, n_term_buckets=4,
                positions=True)
    s = Searcher(spark, out)
    bag = s.search_rows("spark join", 10)  # caches WITHOUT poss
    ph = s.phrase_rows("spark join", 10)   # must not reuse the poss-less postings
    assert {d for d, _ in ph} == {1, 2}
    assert {d for d, _ in bag} == {1, 2, 3}
    assert ("spark", False) in s._block_cache and ("spark", True) in s._block_cache
    assert s._block_cache.get(("spark", True)).pos_bufs is not None
    assert s._block_cache.get(("spark", False)).pos_bufs is None
    assert ph == Searcher(spark, out).phrase_rows("spark join", 10)


def test_byte_budget_evicts_by_bytes(spark, cidx):
    """The budget is BYTES, not entries: one stopword-grade term's decoded
    postings can dwarf many rare terms'. A Searcher on a budget that fits
    about half its decoded postings keeps the byte accounting exact, and
    warm results stay bit-identical to a fresh Searcher and to the Spark
    path through the thrash."""
    out, _ = cidx
    q = "spark join window plan"
    s = Searcher(spark, out)
    truth = s.search_rows(q, 10)
    assert truth == Searcher(spark, out, mode="spark").search_rows(q, 10)
    assert len(s._block_cache) == 4
    assert s._block_cache.total == sum(s._block_cache._sizes.values()) > 0
    sizes = sorted(s._block_cache._sizes.values())
    # budget fitting ~half the decoded entries: older ones must go
    budget = sum(sizes[len(sizes) // 2 :]) + 1
    s2 = Searcher(spark, out)
    s2._block_cache = _TpCache(budget)
    assert s2.search_rows(q, 10) == truth
    assert s2._block_cache.total <= budget
    assert 0 < len(s2._block_cache) < 4
    assert s2._block_cache.total == sum(s2._block_cache._sizes.values())
    for _ in range(2):
        assert s2.search_rows(q, 10) == truth
        assert s2.search_rows("join plan", 10) == s.search_rows("join plan", 10)
        assert s2._block_cache.total <= budget
        assert s2._block_cache.total == sum(s2._block_cache._sizes.values())


def test_tp_cache_byte_budget(spark, cidx):
    """_TpCache itself: puts are charged their decoded bytes, eviction goes
    in LRU order (a get refreshes recency; never clear-all), a re-put of
    one key is not double-charged, and postings larger than the whole
    budget are never pinned while the Searcher still answers correctly."""
    out, _ = cidx
    s = Searcher(spark, out)
    s.search_rows("spark join window", 10)
    keys = [(t, False) for t in ("spark", "join", "window")]
    tps = {k: s._block_cache.get(k) for k in keys}
    assert all(tp is not None for tp in tps.values())
    sizes = {k: _TpCache._tp_bytes(tp) for k, tp in tps.items()}
    assert s._block_cache.total == sum(sizes.values())
    a, b, c = keys
    cache = _TpCache(sizes[a] + sizes[b] + sizes[c] - 1)
    cache.put(a, tps[a])
    cache.put(b, tps[b])
    cache.put(b, tps[b])  # re-put: charged once
    assert cache.total == sizes[a] + sizes[b] and len(cache) == 2
    assert cache.get(a) is tps[a]  # a is now most recent; b is oldest
    cache.put(c, tps[c])
    assert cache.get(b) is None  # LRU victim only
    assert cache.get(a) is tps[a] and cache.get(c) is tps[c]
    assert cache.total == sizes[a] + sizes[c] == sum(cache._sizes.values())
    # postings larger than the whole budget are never pinned
    s3 = Searcher(spark, out)
    s3._block_cache = _TpCache(1)
    r3 = s3.search_rows("spark join", 10)
    assert len(s3._block_cache) == 0 and s3._block_cache.total == 0
    assert r3 == Searcher(spark, out).search_rows("spark join", 10)


def test_tp_cache_invalidates_with_mutation(spark, cidx):
    """A mutation drops the decoded postings: the same handle decodes a
    fresh object for the term, without the deleted doc."""
    out, rows = cidx
    s = Searcher(spark, out)
    base = dict(s.search_rows("spark join", 500))
    old = s._block_cache.get(("spark", False))
    victim = next(i for i, text in rows if "spark" in text.split())
    delete_docs(spark, out, [victim])
    after = dict(s.search_rows("spark join", 500))
    assert victim not in after and set(after) == set(base) - {victim}
    new = s._block_cache.get(("spark", False))
    assert new is not None and new is not old
    assert len(new.docs) < len(old.docs)


def test_perfbench_contract_names(spark, cidx):
    """perfbench/ reads these Searcher internals by name: ``workloads.py``
    reads ``_block_cache_total`` after every run, and ``tracer.py`` wraps
    ``_local_blocks`` and tests ``(term, with_poss) in s._block_cache``.
    Renaming any of them breaks the benchmark until the package owns its
    trace and perfbench stops patching it (ROADMAP direction #4)."""
    out, _ = cidx
    s = Searcher(spark, out)
    s.search_rows("spark", 5)
    assert callable(Searcher._local_blocks)
    assert ("spark", False) in s._block_cache
    assert s._block_cache_total == s._block_cache.total > 0
