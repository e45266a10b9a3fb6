"""The shared write path for committed runs: build_index and index_batch
feed one tokenize → block pipeline (so a batch indexes analyzed fields with
the index's analyzer), their overlapped driver-thread work never outlives
a failed commit, and delete_docs rejects op ids it cannot name safely."""

from __future__ import annotations

import os
import time

import pytest

from conveyorbelt_spark.corpus import corpus_spark_df
from conveyorbelt_spark.index import build as B
from conveyorbelt_spark.index.build import build_index, load_stats
from conveyorbelt_spark.index.delete import delete_docs
from conveyorbelt_spark.index.query import Searcher
from conveyorbelt_spark.streaming import incremental as I
from conveyorbelt_spark.streaming.incremental import index_batch

ANALYZER = {"stopwords": "english", "stem": "s"}
WORDS = ["the", "of", "and", "sparks", "spark", "joins", "join", "windows", "plans", "a"]


class Boom(RuntimeError):
    pass


def _rows(n=80):
    def words(i, k):
        return " ".join(WORDS[(i * 7 + j * 3) % len(WORDS)] for j in range(k))

    return [(i, words(i, 9), words(i + 3, 5)) for i in range(n)]


def test_batch_field_cols_use_index_analyzer(spark, tmp_path_factory):
    rows = _rows()
    schema = "doc_id long, text string, title string"
    layout = dict(url_col=None, n_buckets=4, n_term_buckets=8, field_cols=("title",),
                  analyzer=ANALYZER)
    single = str(tmp_path_factory.mktemp("an_single"))
    build_index(spark, spark.createDataFrame(rows, schema), single, **layout)

    split = str(tmp_path_factory.mktemp("an_split"))
    build_index(spark, spark.createDataFrame(rows[:50], schema), split, **layout)
    index_batch(spark, spark.createDataFrame(rows[50:], schema), split, 0, **layout)

    for fields in (["title"], ["text", "title^2"]):
        want = Searcher(spark, single).multi_match_rows("spark joins the plans", fields, 20)
        got = Searcher(spark, split).multi_match_rows("spark joins the plans", fields, 20)
        assert want
        assert [(d, round(s, 9)) for d, s in got] == [(d, round(s, 9)) for d, s in want]


def _slowed(monkeypatch, module, name, returned):
    orig = getattr(module, name)

    def slow(*a, **kw):
        try:
            time.sleep(1.0)
            return orig(*a, **kw)
        finally:
            returned.append(name)

    monkeypatch.setattr(module, name, slow)


def test_failed_build_leaves_no_overlap_work_running(spark, tmp_path_factory, monkeypatch):
    out = str(tmp_path_factory.mktemp("ov_build"))
    returned: list[str] = []
    _slowed(monkeypatch, B, "refresh_dictionary", returned)
    _slowed(monkeypatch, B, "write_docstore", returned)
    orig = B._append_manifest
    calls = {"n": 0}

    def last_group_fails(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 2:
            raise Boom()
        return orig(*a, **kw)

    monkeypatch.setattr(B, "_append_manifest", last_group_fails)
    docs = corpus_spark_df(spark, 120, seed=3, n_parts=2)
    with pytest.raises(Boom):
        build_index(spark, docs, out, n_buckets=4, commit_groups=2, store_docs=True)
    assert sorted(returned) == ["refresh_dictionary", "write_docstore"]


def test_failed_batch_leaves_no_overlap_work_running(spark, tmp_path_factory, monkeypatch):
    out = str(tmp_path_factory.mktemp("ov_batch"))
    returned: list[str] = []
    _slowed(monkeypatch, I, "write_dictionary_delta", returned)

    def boom(*a, **kw):
        raise Boom()

    monkeypatch.setattr(I, "_delta_manifest_rows", boom)
    docs = corpus_spark_df(spark, 120, seed=4, n_parts=2)
    with pytest.raises(Boom):
        index_batch(spark, docs, out, 0, n_buckets=4)
    assert returned == ["write_dictionary_delta"]
    assert not os.path.isdir(os.path.join(out, "manifest"))


def test_delete_rejects_unsafe_op_id(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("opid"))
    docs = corpus_spark_df(spark, 60, seed=5, n_parts=1)
    build_index(spark, docs, out, n_buckets=4)
    doc_id = int(spark.read.parquet(os.path.join(out, "segments")).first()["min_doc"])
    for bad in ("a b", "a:b", "a/b", "a%b"):
        with pytest.raises(ValueError, match="op_id"):
            delete_docs(spark, out, [doc_id], op_id=bad)
    assert not os.path.isdir(os.path.join(out, "tombstones"))
    assert "tombstone_runs" not in load_stats(out)
    assert delete_docs(spark, out, [doc_id], op_id="ok_op-1") == 1
