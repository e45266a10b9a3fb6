"""Checkpoint-resume: kill after commit group i, re-run, identical index
(SURVEY §5: "kill after partition i, re-run, identical segments";
reference analogue: LastOffsetPoint advanced only post-push,
MinuteTableShardScheduler.cs:44)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F  # noqa: N812

from conveyorbelt_spark.corpus import corpus_spark_df
from conveyorbelt_spark.index.build import build_index

N_DOCS = 400


def _segment_fingerprint(spark, out_dir):
    seg = spark.read.parquet(f"{out_dir}/segments")
    rows = seg.select(
        "term", "bucket", "blk", "n", "min_doc", "max_doc",
        F.crc32("docs").alias("cd"), F.crc32("tfs").alias("ct"), F.crc32("dls").alias("cl"),
    ).collect()
    return sorted(tuple(r) for r in rows)


@pytest.fixture(scope="module")
def docs(spark):
    return corpus_spark_df(spark, N_DOCS, seed=7, n_parts=2)


def test_resume_identical(spark, docs, tmp_path_factory):
    full = str(tmp_path_factory.mktemp("full"))
    build_index(spark, docs, full, n_buckets=8, commit_groups=1)
    want = _segment_fingerprint(spark, full)

    # interrupted build: only the first of 4 commit groups lands
    part = str(tmp_path_factory.mktemp("part"))

    class Boom(RuntimeError):
        pass

    calls = {"n": 0}
    import conveyorbelt_spark.index.build as B

    orig = B.tokenize_to_postings

    def flaky(*a, **kw):
        calls["n"] += 1
        if calls["n"] > 1:  # let group 1 finish, die before group 2
            raise Boom()
        return orig(*a, **kw)

    B.tokenize_to_postings = flaky
    try:
        with pytest.raises(Boom):
            build_index(spark, docs, part, n_buckets=8, commit_groups=4)
    finally:
        B.tokenize_to_postings = orig

    done = {r.bucket for r in spark.read.parquet(f"{part}/manifest").collect()}
    assert 0 < len(done) < 8  # partial manifest committed

    # resume: skips committed buckets, completes the rest
    build_index(spark, docs, part, n_buckets=8, commit_groups=4, resume=True)
    assert _segment_fingerprint(spark, part) == want
    done = {r.bucket for r in spark.read.parquet(f"{part}/manifest").collect()}
    assert done == set(range(8))


def test_manifest_counts(spark, docs, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("man"))
    build_index(spark, docs, out, n_buckets=8)
    man = spark.read.parquet(f"{out}/manifest")
    total_postings = man.agg(F.sum("n_postings")).collect()[0][0]
    seg_postings = spark.read.parquet(f"{out}/segments").agg(F.sum("n")).collect()[0][0]
    assert total_postings == seg_postings


def test_resume_keeps_explicit_term_buckets(spark, docs, tmp_path_factory, monkeypatch):
    """A build given n_term_buckets=16 that dies after its first commit
    group resumes with 16, not the adaptive count for this corpus (8):
    every group hashes terms with one modulus, so searches match a clean
    build. A resume passing another count is refused before it touches
    the index, and the finished build keeps the count in stats.json only."""
    import conveyorbelt_spark.index.build as B
    from conveyorbelt_spark.index.query import Searcher

    assert B._adaptive_term_buckets(N_DOCS) == 8
    clean = str(tmp_path_factory.mktemp("tb_clean"))
    build_index(spark, docs, clean, n_buckets=8, n_term_buckets=16)

    part = str(tmp_path_factory.mktemp("tb_part"))

    class Boom(RuntimeError):
        pass

    orig = B.tokenize_to_postings
    calls = {"n": 0}

    def flaky(*a, **kw):
        calls["n"] += 1
        if calls["n"] > 1:  # group 0 commits, group 1 dies
            raise Boom()
        return orig(*a, **kw)

    monkeypatch.setattr(B, "tokenize_to_postings", flaky)
    with pytest.raises(Boom):
        build_index(spark, docs, part, n_buckets=8, n_term_buckets=16, commit_groups=4)
    monkeypatch.setattr(B, "tokenize_to_postings", orig)

    with pytest.raises(ValueError, match="n_term_buckets=8"):
        build_index(
            spark, docs, part, n_buckets=8, n_term_buckets=8, commit_groups=4,
            resume=True,
        )
    stats = build_index(spark, docs, part, n_buckets=8, commit_groups=4, resume=True)
    assert stats["n_term_buckets"] == 16
    assert B.load_stats(part)["n_term_buckets"] == 16
    assert not os.path.exists(os.path.join(part, "layout.json"))
    queries = [
        " ".join(r.text.split()[:3]) for r in docs.select("text").limit(6).collect()
    ]
    want, got = Searcher(spark, clean), Searcher(spark, part)
    for q in queries:
        rows = want.search_rows(q, 10)
        assert rows and got.search_rows(q, 10) == rows, q
