"""The three workloads. Each is a closed loop with one client.

A workload gets a ``Ctx`` (Spark session, temp root, seed, run length,
tracer) and fills in ``ctx.e2e`` (end-to-end values) and ``ctx.facts``
(direct per-layer measurements the trace cannot see). Set-up time is
reported through ``ctx.setup``; everything after it is the timed part.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import time

import numpy as np

from conveyorbelt_spark.corpus import EPOCH, corpus_spark_df
from conveyorbelt_spark.functions.hashing import doc_id_of
from conveyorbelt_spark.index.oracle import BM25Oracle

from checks import AGGS, expected, normalise
from inputs import burst_streams, corpus_pdf, query_stream, serve_stream, source_pages
from metrics import median

T = time.perf_counter


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def layout_counts(index: str) -> dict:
    """Committed segment runs and segment files of an index."""
    from conveyorbelt_spark.index.build import load_stats

    seg = os.path.join(index, "segments")
    files = sum(f.endswith(".parquet") for _, _, fs in os.walk(seg) for f in fs)
    return {"committed_runs": len(load_stats(index).get("committed_runs") or []),
            "segment_files": files}


class Ctx:
    def __init__(self, spark, tmp, seed, seconds, trace, cfg, layout, tracer, repeats):
        self.spark, self.tmp, self.seed, self.seconds = spark, tmp, seed, seconds
        self.trace, self.cfg, self.layout, self.tracer = trace, cfg, layout, tracer
        self.setup_repeats = repeats
        self.e2e: dict[str, float] = {}
        self.facts: dict = {"request_s": {True: [], False: []}}
        self.setup_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    @contextlib.contextmanager
    def step(self, name: str):
        """Log one step's duration to stderr (where a run's time goes)."""
        t = T()
        yield
        print(f"perfbench: {name} {T() - t:.3f}s", file=sys.stderr)

    def path(self, name: str) -> str:
        return os.path.join(self.tmp, name)

    def setup(self, repeated: list[float], once: float) -> None:
        """Set-up time: the median of the repeated input-generation step
        plus the one-off steps (prebuilt index, oracle, warm-up)."""
        self.setup_s = median(repeated) + once

    def request(self, i: int) -> bool:
        """Open request ``i``. The traced run traces every other request,
        so the untraced ones measure the tracer's own overhead."""
        traced = self.trace and i % 2 == 0
        self.tracer.begin_request(traced)
        return traced

    def outcome(self, what: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(f"{what}: {detail}"[:300])

    def generate(self, write) -> list[float]:
        """Run the input-generation step ``setup_repeats`` times (each into a
        fresh directory); returns the durations."""
        out = []
        for r in range(self.setup_repeats):
            t = T()
            write(self.path(f"input{r}"))
            out.append(T() - t)
            print(f"perfbench: set-up input generation {out[-1]:.3f}s", file=sys.stderr)
        return out


def oracle_for(pdf) -> tuple[BM25Oracle, dict, dict]:
    ids = [doc_id_of(u) for u in pdf["url"]]
    oracle = BM25Oracle(list(zip(ids, pdf["text"])))
    return oracle, dict(zip(ids, pdf["lang"])), dict(zip(ids, pdf["url"]))


# -- bulk_build ---------------------------------------------------------------

def bulk_build(ctx: Ctx) -> None:
    from conveyorbelt_spark.index.build import build_index
    from conveyorbelt_spark.index.query import Searcher

    w, spark = ctx.cfg, ctx.spark
    n, parts, k = w["n_docs"], w["corpus_parts"], 10
    gen = ctx.generate(lambda p: corpus_spark_df(spark, n, seed=ctx.seed, n_parts=parts)
                       .write.parquet(p))
    t = T()
    docs = spark.read.parquet(ctx.path(f"input{ctx.setup_repeats - 1}"))
    pdf = corpus_pdf(n, ctx.seed, parts)
    oracle, _, _ = oracle_for(pdf)
    queries = query_stream(ctx.seed, w["check_queries"])
    warm = corpus_spark_df(spark, w["warmup_build_docs"], seed=ctx.seed + 1, n_parts=parts)
    build_index(spark, warm, ctx.path("warm"), **ctx.layout)
    shutil.rmtree(ctx.path("warm"))
    ctx.setup(gen, T() - t)

    walls, per_doc, last = [], [], None
    deadline = T() + ctx.seconds
    i = 0
    while i < w["min_units"] or T() < deadline:
        out = ctx.path(f"idx{i}")
        traced = ctx.request(i)
        t = T()
        try:
            with ctx.tracer.span("build"):
                stats = build_index(spark, docs, out, **ctx.layout)
        except Exception as e:  # noqa: BLE001 - counted, the loop goes on
            ctx.outcome("build", False, repr(e))
            i += 1
            continue
        wall = T() - t
        ctx.facts["request_s"][traced].append(wall)
        s = Searcher(spark, out)
        bad = [q for q in queries if s.search_rows(q, k) != oracle.search(q, k)]
        ok = stats["n_docs"] == n and not bad
        ctx.outcome("build", ok, f"n_docs={stats['n_docs']} wrong queries={bad}")
        walls.append(wall)
        per_doc.append(dir_bytes(out) / stats["n_docs"])
        if last is not None:
            shutil.rmtree(last)
        last = out
        i += 1
    ctx.facts["index_dir"] = last
    ctx.facts["tokenize_input"] = pdf
    ctx.e2e.update(
        throughput_per_s=n * len(walls) / sum(walls),
        latency_p50_ms=median(walls) * 1e3,
        index_bytes_per_doc=median(per_doc),
    )


# -- serve_zipf ---------------------------------------------------------------

def run_op(s, spark, index, op: dict, k: int, tracer):
    kind, q = op["op"], op["q"]
    if kind == "bm25":
        return s.search_rows(q, k)
    if kind == "bool":
        return s.search_rows(q, k, must=op["must"], must_not=op["must_not"],
                             min_should=op["min_should"])
    if kind == "filtered":
        return s.search_rows(q, k, filters={"lang": [op["lang"]]})
    if kind == "phrase":
        return s.phrase_rows(q, k)
    if kind == "fuzzy":
        # prefix_length=0 probes the layout's k-deletes sidecar
        return s.fuzzy_rows(q, k, prefix_length=0)
    if kind == "aggs":
        return s.aggs_rows(AGGS, q)
    if kind == "docs":
        return s.search_docs(q, k)
    if kind == "dsl":
        from conveyorbelt_spark.index.dsl import search_body

        body = {"size": k, "query": {"bool": {
            "should": [{"match": {"text": q}}],
            "must": [{"match": {"text": op["must"]}}],
            "must_not": [{"match": {"text": op["must_not"]}}]}}}
        with tracer.span("dsl"):
            return search_body(spark, index, body, searcher=s)
    raise ValueError(f"unknown op type {kind!r}")


def serve_zipf(ctx: Ctx) -> None:
    from conveyorbelt_spark.index.build import build_index
    from conveyorbelt_spark.index.query import Searcher

    w, spark = ctx.cfg, ctx.spark
    n, parts, k = w["n_docs"], w["corpus_parts"], w["k"]
    gen = ctx.generate(lambda p: corpus_spark_df(spark, n, seed=ctx.seed, n_parts=parts)
                       .write.parquet(p))
    t = T()
    index = ctx.path("index")
    docs = spark.read.parquet(ctx.path(f"input{ctx.setup_repeats - 1}"))
    # the traced run traces this build: it is where serve_zipf's setup_s
    # meets the build layers
    ctx.tracer.begin_request(ctx.trace)
    with ctx.step("set-up build_index"), ctx.tracer.span("build"):
        build_index(spark, docs, index, **ctx.layout)
    ctx.tracer.begin_request(False)
    with ctx.step("set-up oracle"):
        pdf = corpus_pdf(n, ctx.seed, parts)
        oracle, lang_of, url_of = oracle_for(pdf)
    stream = serve_stream(ctx.seed, list(pdf["text"]), w["op_mix"])
    s = Searcher(spark, index)
    # warm-up pass, checked against the oracle; later passes must repeat it
    first = []
    with ctx.step("set-up warm-up pass"):
        for op in stream:
            try:
                first.append(normalise(op["op"], run_op(s, spark, index, op, k, ctx.tracer)))
            except Exception as e:  # noqa: BLE001
                ctx.outcome(op["op"], False, repr(e))
                first.append(None)
    with ctx.step("set-up oracle answers"):
        for op, got in zip(stream, first):
            if got is not None:
                want = expected(oracle, op, k, lang_of, url_of)
                ctx.outcome(op["op"], got == want, f"{op} got {got[:3]} want {want[:3]}")
    ctx.setup(gen, T() - t)

    # whole passes only, each in a fresh seeded order: every run times the
    # same op mix, so a cut-off last pass cannot skew it
    rng = np.random.RandomState(ctx.seed + 202)
    lat, by_op = [], {}
    deadline = T() + ctx.seconds
    i = 0
    while T() < deadline:
        for j in rng.permutation(len(stream)):
            op = stream[j]
            traced = ctx.request(i)
            i += 1
            t = T()
            try:
                with ctx.tracer.span("query", op=op["op"]):
                    got = run_op(s, spark, index, op, k, ctx.tracer)
            except Exception as e:  # noqa: BLE001
                ctx.outcome(op["op"], False, repr(e))
                continue
            dt = T() - t
            lat.append(dt)
            ctx.facts["request_s"][traced].append(dt)
            by_op.setdefault(op["op"], []).append(dt)
            ctx.outcome(op["op"], normalise(op["op"], got) == first[j], "differs from warm pass")
    ctx.facts.update(index_dir=index, tokenize_input=pdf, op_s=by_op,
                     block_cache_bytes=s._block_cache_total)
    ctx.e2e.update(
        throughput_per_s=len(lat) / sum(lat),
        latency_p50_ms=median(lat) * 1e3,
        index_bytes_per_doc=dir_bytes(index) / n,
    )


# -- conveyor_ingest ----------------------------------------------------------

PIPELINE = "perfbench_extract"


def conveyor_ingest(ctx: Ctx) -> None:
    from datetime import timedelta

    from conveyorbelt_spark import conveyor
    from conveyorbelt_spark.functions.tokenize import extract_text_df
    from conveyorbelt_spark.index.build import compact_segments
    from conveyorbelt_spark.index.delete import delete_docs
    from conveyorbelt_spark.index.query import Searcher

    w, spark, k = ctx.cfg, ctx.spark, 10
    per_min, win = w["docs_per_minute"], w["window_minutes"]
    n_src = per_min * w["source_minutes"]
    pages = source_pages(n_src, ctx.seed, 1)
    gen = ctx.generate(lambda p: spark.createDataFrame(pages).write.parquet(p))
    t = T()
    conveyor.register_pipeline(PIPELINE, extract_text_df)
    spec = conveyor.SourceSpec(
        partition_key="perfbench", row_key="pages",
        table_path=ctx.path(f"input{ctx.setup_repeats - 1}"),
        pipeline=PIPELINE, custom={"text_col": "extracted_text"},
        last_offset_point=(EPOCH - timedelta(minutes=1)).isoformat(),
        grace_period_minutes=0, max_items_in_a_schedule_run=win,
    )
    index = ctx.path("index")
    truth = corpus_pdf(n_src, ctx.seed, 1)
    ids = np.array([doc_id_of(u) for u in truth["url"]])
    max_cycles = w["source_minutes"] // win
    bursts = burst_streams(ctx.seed, max_cycles, w["burst_queries"])
    rng = np.random.RandomState(ctx.seed + 404)
    live: set[int] = set()
    state = {"cycle": 0}

    def cycle() -> dict:
        c = state["cycle"]
        now = EPOCH + timedelta(minutes=win * (c + 1))
        rec = {"queries": []}
        t0 = T()
        with ctx.tracer.span("ingest.run_source"):
            got = conveyor.run_source(spark, spec, index, now=now)
        rec["run_source_s"] = T() - t0
        want = ids[c * win * per_min:(c + 1) * win * per_min]
        ctx.outcome("run_source", got == len(want), f"cycle {c}: {got} rows, window {len(want)}")
        live.update(int(d) for d in want)
        if c % w["delete_every"] == 0:
            dead = rng.choice(sorted(live), size=w["delete_docs"], replace=False)
            t2 = T()
            with ctx.tracer.span("delete"):
                rows = delete_docs(spark, index, [int(d) for d in dead])
            rec["delete_s"] = T() - t2
            ctx.outcome("delete", rows >= len(dead), f"{rows} tombstone rows for {len(dead)} ids")
            ctx.facts.setdefault("tombstone_rows", 0)
            ctx.facts["tombstone_rows"] += rows
            live.difference_update(int(d) for d in dead)
        for j, q in enumerate(bursts[c]):
            t1 = T()
            try:
                with ctx.tracer.span("query", op="bm25", post_commit=j == 0):
                    searcher.search_rows(q, k)
                ctx.outcome("query", True)
            except Exception as e:  # noqa: BLE001
                ctx.outcome("query", False, repr(e))
                continue
            rec["queries"].append(T() - t1)
        state["cycle"] += 1
        return rec

    # warm-up: the first cycle creates the index; the handle lives on
    with ctx.step("set-up first cycle"):
        conveyor.run_source(spark, spec, index, now=EPOCH + timedelta(minutes=win))
    live.update(int(d) for d in ids[:win * per_min])
    state["cycle"] = 1
    searcher = Searcher(spark, index)
    with ctx.step("set-up warm-up burst"):
        for q in bursts[0]:
            searcher.search_rows(q, k)
    ctx.setup(gen, T() - t)

    recs = []
    deadline = T() + ctx.seconds
    while (len(recs) < w["min_units"] or T() < deadline) and state["cycle"] < max_cycles:
        traced = ctx.request(state["cycle"])
        with ctx.tracer.span("ingest.cycle"):
            recs.append(cycle())
        ctx.facts["request_s"][traced].append(recs[-1]["run_source_s"])
    ctx.facts["ingest_layout"] = layout_counts(index)
    if ctx.trace:
        ctx.tracer.begin_request(True)
        with ctx.tracer.span("compact"):
            ctx.facts["compact"] = compact_segments(spark, index)

    # final check: the index answers like an oracle over the ingested docs
    # with the deleted ones removed from the hits. Deletes keep the deleted
    # docs in the collection statistics, as in Elasticsearch, until a
    # compaction recounts them over the live docs only.
    n_in = state["cycle"] * win * per_min
    stats_docs = truth.iloc[:n_in]
    if "compact" in ctx.facts:
        stats_docs = stats_docs[np.isin(ids[:n_in], list(live))]
    oracle, _, _ = oracle_for(stats_docs)
    for q in query_stream(ctx.seed + 1, w["final_check_queries"]):
        want = [(d, s) for d, s in oracle.search(q, k=oracle.n_docs) if d in live][:k]
        got = searcher.search_rows(q, k)
        ctx.outcome("final_check", got == want, f"{q!r}: got {got[:3]} want {want[:3]}")

    ingest = [r["run_source_s"] for r in recs]
    lat = [x for r in recs for x in r["queries"]]
    ctx.facts.update(
        index_dir=index, tokenize_input=truth.iloc[:n_in], extract_input=pages.iloc[:n_in],
        post_commit_s=[r["queries"][0] for r in recs if r["queries"]],
        delete_s=[r["delete_s"] for r in recs if "delete_s" in r],
        op_s={"bm25": lat}, block_cache_bytes=searcher._block_cache_total,
    )
    ctx.e2e.update(
        throughput_per_s=win * per_min * len(recs) / sum(ingest),
        latency_p50_ms=median(lat) * 1e3,
        index_bytes_per_doc=dir_bytes(index) / len(live),
    )


WORKLOADS = {"bulk_build": bulk_build, "serve_zipf": serve_zipf,
             "conveyor_ingest": conveyor_ingest}
