"""End-to-end index build + BM25 rank-identity vs the pure-Python oracle
(BASELINE.json north_rule: top-k docIDs AND scores rank-identical on the
reference query set)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F  # noqa: N812

from conveyorbelt_spark.corpus import corpus_spark_df, reference_query_set
from conveyorbelt_spark.functions.tokenize import with_doc_id
from conveyorbelt_spark.index.build import build_index, load_stats
from conveyorbelt_spark.index.oracle import BM25Oracle
from conveyorbelt_spark.index.query import bm25_topk

N_DOCS = 2000


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("index"))
    docs = corpus_spark_df(spark, N_DOCS, seed=42, n_parts=4)
    build_index(spark, docs, out, n_buckets=8)
    return out


@pytest.fixture(scope="module")
def oracle(spark):
    docs = corpus_spark_df(spark, N_DOCS, seed=42, n_parts=4)
    rows = with_doc_id(docs).select("doc_id", "text").collect()
    return BM25Oracle([(r.doc_id, r.text) for r in rows])


def test_stats_match_oracle(index_dir, oracle):
    stats = load_stats(index_dir)
    assert stats["n_docs"] == oracle.n_docs == N_DOCS
    assert stats["avgdl"] == oracle.avgdl


def test_doclens_match(spark, index_dir, oracle):
    from conveyorbelt_spark.index.build import write_doclens

    docs = corpus_spark_df(spark, N_DOCS, seed=42, n_parts=4)
    write_doclens(spark, docs, index_dir)
    rows = spark.read.parquet(f"{index_dir}/doclens").collect()
    assert {r.doc_id: r.dl for r in rows} == oracle.dl


def test_df_matches_oracle(spark, index_dir, oracle):
    d = spark.read.parquet(f"{index_dir}/dictionary")
    got = {r.term: r.df for r in d.collect()}
    want = {t: len(p) for t, p in oracle.postings.items()}
    assert got == want


def test_postings_sorted_within_term(spark, index_dir):
    """Index invariant: blocks per (term,bucket) cover disjoint increasing
    docID ranges, and bucket order == docID order (range bucketing)."""
    seg = spark.read.parquet(f"{index_dir}/segments")
    bad = (
        seg.groupBy("term", "bucket")
        .agg(F.min("min_doc").alias("lo"), F.max("max_doc").alias("hi"))
        .withColumn("bucket_of_lo", F.shiftrightunsigned(F.col("lo"), 60).cast("int"))
        .withColumn("bucket_of_hi", F.shiftrightunsigned(F.col("hi"), 60).cast("int"))
        .where((F.col("bucket_of_lo") != F.col("bucket")) | (F.col("bucket_of_hi") != F.col("bucket")))
        .count()
    )
    assert bad == 0


@pytest.mark.parametrize("case", reference_query_set(), ids=lambda c: f"{c['q']}@{c['k']}")
def test_rank_identical(spark, index_dir, oracle, case):
    got = [(r.doc_id, r.score) for r in bm25_topk(spark, index_dir, case["q"], case["k"]).collect()]
    want = oracle.search(case["q"], case["k"])
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert gs == ws, f"score mismatch: {gs!r} != {ws!r}"


@pytest.mark.parametrize("case", reference_query_set(), ids=lambda c: f"serve:{c['q']}@{c['k']}")
def test_searcher_local_rank_identical(spark, index_dir, oracle, case):
    """Driver-side serving path (zero Spark jobs): bit-exact vs the oracle
    and vs the forced-Spark path."""
    from conveyorbelt_spark.index.query import Searcher

    s_local = Searcher(spark, index_dir, mode="auto")
    got = [(r.doc_id, r.score) for r in s_local.search(case["q"], case["k"]).collect()]
    want = oracle.search(case["q"], case["k"])
    assert got == want
    s_spark = Searcher(spark, index_dir, mode="spark")
    via_spark = [(r.doc_id, r.score) for r in s_spark.search(case["q"], case["k"]).collect()]
    assert got == via_spark
    assert s_local.search_rows(case["q"], case["k"]) == want


def test_absent_term_empty(spark, index_dir):
    assert bm25_topk(spark, index_dir, "zzzmissing", 10).count() == 0


@pytest.mark.parametrize(
    "case",
    [{"q": "term00000 term05000", "k": 10}, {"q": "term00001", "k": 10},
     {"q": "term00000 term00001 term00123", "k": 100}],
    ids=lambda c: f"wand:{c['q']}@{c['k']}",
)
def test_wand_pruning_identical(spark, index_dir, case):
    """Block-max WAND must change the work, never the answer."""
    pruned = [(r.doc_id, r.score) for r in bm25_topk(spark, index_dir, case["q"], case["k"], prune=True).collect()]
    full = [(r.doc_id, r.score) for r in bm25_topk(spark, index_dir, case["q"], case["k"], prune=False).collect()]
    assert pruned == full


def test_segment_scan_plan_is_pruned(spark, tmp_path_factory):
    """Plan regression guard: the distributed query's segment scan must
    carry BOTH prunings — tb partition filters AND a pushed term predicate
    — and must NOT read columns the kernel doesn't use (poss is pruned on
    non-positional reads by _BLOCK_COLS)."""
    import contextlib
    import io

    from conveyorbelt_spark.corpus import corpus_spark_df
    from conveyorbelt_spark.index.build import build_index
    from conveyorbelt_spark.index.query import bm25_topk

    out = str(tmp_path_factory.mktemp("plan_idx"))
    build_index(
        spark, corpus_spark_df(spark, 200, seed=19, n_parts=1), out,
        n_buckets=4, positions=True,
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        bm25_topk(spark, out, "term00000 term00123", 5).explain("formatted")
    plan = buf.getvalue()
    import re

    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    # both prunings in the partition filters: committed-run snapshot + tb
    assert pf and re.search(r"run#\d+ IN \(", pf[0]) and re.search(r"tb#\d+ IN \(", pf[0])
    assert "PushedFilters: [In(term, [term00000,term00123])]" in plan
    # positional bytes pruned out of bag-of-words scans
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "poss" not in read_schema[0]
