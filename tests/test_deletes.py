"""Deletes and updates (per-run tombstones, purged at compaction).

The reference gets the document lifecycle from Elasticsearch (delete /
update / _delete_by_query); Lucene's design — per-segment liveness purged
at merge — is rebuilt here as per-run tombstones with block surgery at
read time (see conveyorbelt_spark/index/delete.py).

Pinned semantics:
- a deleted doc is invisible to every query path (kernel, spark, sql-mode,
  phrase, bool set ops, facets) the moment the tombstone commits;
- surviving docs keep their exact scores (df/avgdl count deleted docs
  until compaction — Lucene's docFreq-includes-deletes behavior);
- update = tombstone old runs + new delta run: new terms match, removed
  terms stop matching, and this survives compaction;
- compaction purges dead postings physically, recounts stats exactly, and
  drops consumed tombstones.
"""

from __future__ import annotations

import json
import os
import random

import pytest

from conveyorbelt_spark.index.build import build_index, compact_runs, compact_segments
from conveyorbelt_spark.index.delete import (
    delete_by_query,
    delete_docs,
    load_tombstones,
    update_docs,
)
from conveyorbelt_spark.index.query import (
    Searcher,
    bm25_topk,
    bool_doc_ids,
    index_info,
)
from conveyorbelt_spark.streaming.incremental import index_batch

WORDS = ["spark", "join", "window", "shuffle", "plan", "query", "index", "merge"]


def _mkdocs(n=100, seed=3):
    rng = random.Random(seed)
    return [(i, " ".join(rng.choices(WORDS, k=10))) for i in range(n)]


@pytest.fixture()
def built(spark, tmp_path):
    out = str(tmp_path / "idx")
    rows = _mkdocs()
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    build_index(spark, docs, out, url_col=None, n_buckets=4, n_term_buckets=8)
    return out, rows


def test_delete_excludes_everywhere_without_rescoring(spark, built):
    out, rows = built
    s = Searcher(spark, out)
    base = dict(s.search_rows("spark join", 500))
    victims = sorted(base)[:5]
    n = delete_docs(spark, out, victims)
    assert n == 5 * len(load_tombstones(out))  # ids × committed runs
    after = dict(s.search_rows("spark join", 500))  # mtime-invalidated
    assert set(after) == set(base) - set(victims)
    assert all(abs(after[d] - base[d]) < 1e-12 for d in after)
    # spark kernel path and bool set ops agree
    sp = {r.doc_id for r in bm25_topk(spark, out, "spark join", 500).collect()}
    assert sp == set(after)
    ids = {r.doc_id for r in bool_doc_ids(spark, out, "spark join").collect()}
    assert not (ids & set(victims))
    assert index_info(spark, out)["n_deleted"] == 5


def test_delete_by_query_and_idempotence(spark, built):
    out, rows = built
    s = Searcher(spark, out)
    doomed = {r.doc_id for r in bool_doc_ids(spark, out, "", must="zebra merge").collect()}
    # sanity: the bool query matches something and not everything
    assert 0 < len(doomed) < len(rows) or len(doomed) == 0
    n1 = delete_by_query(spark, out, "", must="merge window", op_id="dbq1")
    state1 = dict(Searcher(spark, out).search_rows("spark join", 500))
    # replay with the SAME op_id converges to the same state
    delete_by_query(spark, out, "", must="merge window", op_id="dbq1")
    state2 = dict(Searcher(spark, out).search_rows("spark join", 500))
    assert state1 == state2
    # every remaining hit genuinely lacks (merge AND window)
    m = {r.doc_id for r in bool_doc_ids(spark, out, "", must="merge window").collect()}
    assert not m


def test_update_new_terms_match_old_terms_do_not(spark, built):
    out, rows = built
    s = Searcher(spark, out)
    base = dict(s.search_rows("spark join", 500))
    live = sorted(base)[0]
    upd = spark.createDataFrame([(live, "zebra quagga")], "doc_id long, text string")
    update_docs(spark, upd, out, "u1", url_col=None, n_buckets=4, n_term_buckets=8)
    s2 = Searcher(spark, out)
    assert live in dict(s2.search_rows("zebra", 10))
    assert live not in dict(s2.search_rows("spark join", 500))
    # updating a doc that never existed = plain insert
    upd2 = spark.createDataFrame([(10_001, "quagga okapi")], "doc_id long, text string")
    update_docs(spark, upd2, out, "u2", url_col=None, n_buckets=4, n_term_buckets=8)
    assert 10_001 in dict(Searcher(spark, out).search_rows("okapi", 10))


def test_full_compaction_purges_and_recounts(spark, built):
    out, rows = built
    s = Searcher(spark, out)
    base = dict(s.search_rows("spark join", 500))
    victims = sorted(base)[:5]
    delete_docs(spark, out, victims)
    live = sorted(set(base) - set(victims))[0]
    upd = spark.createDataFrame([(live, "zebra quagga")], "doc_id long, text string")
    update_docs(spark, upd, out, "u1", url_col=None, n_buckets=4, n_term_buckets=8)
    pre = dict(Searcher(spark, out).search_rows("spark join", 500))
    compact_segments(spark, out)
    post_s = Searcher(spark, out)
    post = dict(post_s.search_rows("spark join", 500))
    assert set(post) == set(pre)
    assert live in dict(post_s.search_rows("zebra", 10))
    st = json.load(open(os.path.join(out, "stats.json")))
    assert not st.get("tombstone_runs")
    assert not os.path.isdir(os.path.join(out, "tombstones"))
    assert st["n_docs"] == len(rows) - len(victims)
    assert index_info(spark, out)["n_deleted"] == 0


def test_tiered_fold_purges_only_folded_runs(spark, tmp_path):
    out = str(tmp_path / "inc")
    rows = _mkdocs(120, seed=11)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for b, (lo, hi) in enumerate([(0, 40), (40, 80), (80, 120)]):
        part = df.where((df.doc_id >= lo) & (df.doc_id < hi))
        index_batch(spark, part, out, b, url_col=None, n_buckets=4, n_term_buckets=8)
    s = Searcher(spark, out)
    base = dict(s.search_rows("spark join", 500))
    # one victim from the folded runs' id range, one from the kept run's
    v_fold = sorted(d for d in base if d < 80)[0]
    v_keep = sorted(d for d in base if d >= 80)[0]
    delete_docs(spark, out, [v_fold, v_keep])
    pre = dict(Searcher(spark, out).search_rows("spark join", 500))
    assert v_fold not in pre and v_keep not in pre
    compact_runs(spark, out, ["batch_0", "batch_1"])
    post = dict(Searcher(spark, out).search_rows("spark join", 500))
    # same hit set; scores legitimately shift because the fold recounts the
    # folded portion's n_docs/avgdl EXACTLY (the deleted doc leaves the
    # corpus stats — the Lucene merge-heals-docFreq step)
    assert set(post) == set(pre)
    # folded runs' tombstones consumed; rows targeting the kept run survive
    # (both victims were tombstoned against every committed run — the
    # v_fold/batch_2 row is a harmless no-op, purged when batch_2 folds)
    tomb = load_tombstones(out)
    assert set(tomb) == {"batch_2"}
    assert list(tomb["batch_2"]) == sorted([v_fold, v_keep])
    st = json.load(open(os.path.join(out, "stats.json")))
    # ledger: the folded portion recounted exactly (one deleted doc gone);
    # deleted-but-unfolded doc still counted until ITS run folds (Lucene)
    assert st["n_docs"] == 120 - 1


def test_phrase_and_positions_respect_deletes(spark, tmp_path):
    out = str(tmp_path / "pos")
    rows = [
        (1, "big data spark join"),
        (2, "spark join big data"),
        (3, "join spark data"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    build_index(
        spark, docs, out, url_col=None, n_buckets=2, n_term_buckets=4, positions=True
    )
    s = Searcher(spark, out)
    base = dict(s.phrase_rows("spark join", 10))
    assert set(base) == {1, 2}
    delete_docs(spark, out, [1])
    s2 = Searcher(spark, out)
    after = dict(s2.phrase_rows("spark join", 10))
    assert set(after) == {2}
    assert abs(after[2] - base[2]) < 1e-12  # phrase scores unchanged
    # purge keeps positions intact
    compact_segments(spark, out)
    post = dict(Searcher(spark, out).phrase_rows("spark join", 10))
    assert set(post) == {2}


def test_daily_searcher_respects_per_day_deletes(spark, tmp_path):
    import datetime as dt

    from conveyorbelt_spark.index.daily import DailySearcher, build_daily_index, day_dir

    root = str(tmp_path / "daily")
    rows = [
        (i, "spark join window", dt.datetime(2016, 9, 16 + (i % 2), 12))
        for i in range(20)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, warc_ts timestamp")
    build_daily_index(spark, docs, root, url_col=None, n_buckets=2, n_term_buckets=4)
    ds = DailySearcher(spark, root)
    base = dict(ds.search_rows("spark join", 100))
    assert set(base) == set(range(20))
    # doc 0 lives in day 20160916 — delete it from that day's sub-index
    delete_docs(spark, day_dir(root, "20160916"), [0])
    after = dict(DailySearcher(spark, root).search_rows("spark join", 100))
    assert set(after) == set(range(1, 20))
    assert all(abs(after[d] - base[d]) < 1e-12 for d in after)
    # the distributed path applies the same per-day tombstones (day
    # sub-indexes reuse run names — surgery must happen before the union)
    sp = {
        r.doc_id
        for r in DailySearcher(spark, root).search("spark join", 100).collect()
    }
    assert sp == set(after)


def test_delete_crash_window_and_retry(spark, built):
    """Crash between the tombstone parquet write and the stats.json commit:
    the orphan tombstone run is INVISIBLE to readers (the snapshot lists
    committed tombstone runs only), and retrying the same delete (same
    deterministic op_id) overwrites it idempotently and commits."""
    import json

    out, rows = built
    s = Searcher(spark, out)
    base = dict(s.search_rows("spark join", 500))
    victim = sorted(base)[0]

    stats_path = os.path.join(out, "stats.json")
    delete_docs(spark, out, [victim])
    # simulate the crash: roll back the stats commit, leave the parquet
    with open(stats_path) as f:
        st = json.load(f)
    committed_truns = st.pop("tombstone_runs")
    with open(stats_path, "w") as f:
        json.dump(st, f)
    assert os.path.isdir(os.path.join(out, "tombstones"))  # orphan exists
    mid = dict(Searcher(spark, out).search_rows("spark join", 500))
    assert mid == base  # uncommitted delete is invisible
    # retry converges: same ids → same op_id → same partition overwritten
    delete_docs(spark, out, [victim])
    with open(stats_path) as f:
        st2 = json.load(f)
    assert st2["tombstone_runs"] == committed_truns
    after = dict(Searcher(spark, out).search_rows("spark join", 500))
    assert set(after) == set(base) - {victim}


def test_daily_phrase_respects_deletes(spark, tmp_path):
    import datetime as dt

    from conveyorbelt_spark.index.daily import DailySearcher, build_daily_index, day_dir

    root = str(tmp_path / "dphrase")
    rows = [
        (i, "big data spark join", dt.datetime(2016, 9, 16 + (i % 2), 12))
        for i in range(8)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, warc_ts timestamp")
    build_daily_index(
        spark, docs, root, url_col=None, n_buckets=2, n_term_buckets=4,
        positions=True,
    )
    base = {d for d, _ in DailySearcher(spark, root).phrase_rows("spark join", 50)}
    assert base == set(range(8))
    delete_docs(spark, day_dir(root, "20160916"), [0, 2])
    after = {d for d, _ in DailySearcher(spark, root).phrase_rows("spark join", 50)}
    assert after == set(range(8)) - {0, 2}


def test_update_replay_converges(spark, built):
    """At-least-once redelivery of a fully successful update must converge:
    the retried delete step excludes the update's own run from its
    tombstone scope (else it would kill the NEW doc versions while the
    replayed index_batch no-ops on the already-committed run)."""
    out, rows = built
    s = Searcher(spark, out)
    live = sorted(dict(s.search_rows("spark join", 500)))[0]
    upd = spark.createDataFrame([(live, "zebra quagga")], "doc_id long, text string")
    update_docs(spark, upd, out, "r1", url_col=None, n_buckets=4, n_term_buckets=8)
    first = Searcher(spark, out).search_rows("zebra", 10)
    assert live in dict(first)
    # full replay of the same update (worker redelivery after success)
    update_docs(spark, upd, out, "r1", url_col=None, n_buckets=4, n_term_buckets=8)
    again = Searcher(spark, out).search_rows("zebra", 10)
    assert again == first  # new version still visible, scores identical
    assert live not in dict(Searcher(spark, out).search_rows("spark join", 500))
    # and a third replay after a COMPACTION also converges (runs renamed)
    compact_segments(spark, out)
    assert live in dict(Searcher(spark, out).search_rows("zebra", 10))
