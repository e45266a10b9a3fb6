"""Per-layer metrics of a traced run.

Inputs are the tracer's spans, the Spark event log of the run and the
direct measurements a workload left in ``ctx.facts``. A metric a workload
does not exercise is reported as 0 and listed with the reason in
``missing``.
"""

from __future__ import annotations

import os
import time

import pandas as pd

from metrics import MIN_BEYOND, OP_TYPES, PER_LAYER, median, percentile
from tracer import Tracer, spark_counters
from workloads import dir_bytes

BUILD_CHILDREN = {"build.dictionary_s": "build.dictionary", "build.stats_s": "build.stats",
                  "build.fuzzy_s": "build.fuzzy", "build.docstore_s": "build.docstore"}
QUERY_PARTS = {"query.dict_probe_ms": "query.dict_probe", "query.block_read_ms": "query.block_read",
               "query.score_ms": "query.score", "query.tombstone_filter_ms": "query.tombstone_filter",
               "query.docstore_fetch_ms": "query.docstore_fetch"}


def dur(span: dict) -> float:
    return span["end"] - span["start"]


def mean(values) -> float:
    values = list(values)
    return sum(values) / len(values)


def per_layer(tr: Tracer, jobs, stages, facts: dict, session_s: float,
              attempted: int, failed: int) -> tuple[dict, dict]:
    v: dict[str, float] = {"session.start_s": session_s, "error_frac": failed / attempted}
    missing: dict[str, str] = {}

    def absent(prefix: str, why: str) -> None:
        for name in PER_LAYER:
            if name.startswith(prefix) and name not in v:
                v[name] = 0.0
                missing[name] = why

    def counters(spans: list[dict]) -> list[dict]:
        return [spark_counters(jobs, stages, [s]) for s in spans]

    # index.build
    builds = tr.named("build")
    if builds:
        v["build.wall_s"] = median(dur(b) for b in builds)
        v["build.self_s"] = median(tr.self_time(b) for b in builds)
        for key, child in BUILD_CHILDREN.items():
            v[key] = median(sum(dur(c) for c in tr.within(b, child)) for b in builds)
        c = counters(builds)
        for key, field in (("spark_jobs", "jobs"), ("spark_tasks", "tasks"), ("task_run_s", "run_s"),
                           ("task_cpu_s", "cpu_s"), ("gc_s", "gc_s"),
                           ("shuffle_write_bytes", "shuffle_write"),
                           ("shuffle_read_bytes", "shuffle_read"), ("spill_bytes", "spill")):
            v[f"build.{key}"] = median(x[field] for x in c)
    # index.build layout of the index the workload wrote or served last
    index = facts["index_dir"]
    for part, key in (("segments", "segment"), ("dictionary", "dictionary"), ("docstore", "docstore")):
        p = os.path.join(index, part)
        v[f"build.{key}_bytes"] = dir_bytes(p) if os.path.isdir(p) else 0
    v["build.segment_files"] = sum(f.endswith(".parquet") for _, _, fs in
                                   os.walk(os.path.join(index, "segments")) for f in fs)
    absent("build.", "no build_index call in this workload")

    # functions.tokenize: the kernels replayed on the driver over the input
    v.update(kernel_replay(facts))

    # index.query
    queries = tr.named("query")
    if queries:
        for key, part in QUERY_PARTS.items():
            v[key] = mean(sum(dur(c) for c in tr.within(q, part)) for q in queries) * 1e3
        probes = [c for q in queries for c in tr.within(q, "query.dict_probe")]
        reads = [c for q in queries for c in tr.within(q, "query.block_read")]
        local = [c for q in queries for c in tr.within(q, "query.local_blocks")]
        v["query.terms_read"] = sum(c["attrs"].get("terms", 0) for c in probes) / len(queries)
        v["query.blocks_read"] = sum(c["attrs"].get("rows", 0) for c in reads) / len(queries)
        lookups = sum(c["attrs"]["lookups"] for c in local)
        if lookups:
            v["query.block_cache_hit_ratio"] = sum(c["attrs"]["hits"] for c in local) / lookups
        v["query.stats_reloads"] = mean(len(tr.within(q, "query.stats_reload")) for q in queries)
        v["query.spark_jobs"] = mean(x["jobs"] for x in counters(queries))
    if "block_cache_bytes" in facts:
        v["query.block_cache_bytes"] = facts["block_cache_bytes"]
    every = [x for secs in facts.get("op_s", {}).values() for x in secs]
    p90 = percentile(every, 0.9) if every else None
    if p90 is not None:
        v["query.p90_ms"] = p90 * 1e3
    else:
        v["query.p90_ms"] = 0.0
        missing["query.p90_ms"] = f"{len(every)} queries leave fewer than {MIN_BEYOND} beyond p90"
    absent("query.", "no query through the Searcher block cache in this workload")
    for op, secs in facts.get("op_s", {}).items():
        v[f"op.{op}.p50_ms"] = median(secs) * 1e3
    for op in OP_TYPES:
        if f"op.{op}.p50_ms" not in v:
            v[f"op.{op}.p50_ms"] = 0.0
            missing[f"op.{op}.p50_ms"] = f"no {op} op in this workload"
    dsl = tr.named("dsl")
    if dsl:
        v["dsl.self_ms"] = median(tr.self_time(s) for s in dsl) * 1e3
    absent("dsl.", "no search_body call in this workload")

    # streaming.incremental + conveyor
    cycles = tr.named("ingest.cycle")
    if cycles:
        runs = tr.named("ingest.run_source")
        v["ingest.cycle_s"] = median(dur(c) for c in cycles)
        v["ingest.index_batch_s"] = median(sum(dur(x) for x in tr.within(r, "ingest.index_batch"))
                                           for r in runs)
        v["ingest.conveyor_self_s"] = median(tr.self_time(r) for r in runs)
        v["ingest.dictionary_delta_s"] = median(
            sum(dur(x) for x in tr.within(r, "ingest.dictionary_delta")) for r in runs)
        v["ingest.stats_s"] = median(sum(dur(x) for x in tr.within(r, "ingest.stats")) for r in runs)
        c = counters(runs)
        v["ingest.spark_jobs"] = median(x["jobs"] for x in c)
        v["ingest.task_run_s"] = median(x["run_s"] for x in c)
        v["ingest.shuffle_write_bytes"] = median(x["shuffle_write"] for x in c)
        v["ingest.committed_runs"] = facts["ingest_layout"]["committed_runs"]
        v["ingest.segment_files"] = facts["ingest_layout"]["segment_files"]
        v["ingest.post_commit_query_ms"] = median(facts["post_commit_s"]) * 1e3
    absent("ingest.", "no conveyor cycle in this workload")

    # index.delete
    deletes = tr.named("delete")
    if deletes:
        v["delete.wall_ms"] = median(facts["delete_s"]) * 1e3
        v["delete.spark_jobs"] = mean(x["jobs"] for x in counters(deletes))
        v["delete.tombstone_rows"] = facts["tombstone_rows"]
    absent("delete.", "no delete_docs call in this workload")

    # compaction (traced conveyor run only)
    compacts = tr.named("compact")
    if compacts:
        v["compact.wall_s"] = dur(compacts[0])
        v["compact.spark_jobs"] = counters(compacts)[0]["jobs"]
        v["compact.blocks_before"] = facts["compact"]["blocks_before"]
        v["compact.blocks_after"] = facts["compact"]["blocks_after"]
    absent("compact.", "compaction runs only in the traced conveyor_ingest run")

    # tracing cost: traced over untraced median request time, minus one
    on, off = facts["request_s"][True], facts["request_s"][False]
    if on and off:
        v["trace.overhead_frac"] = median(on) / median(off) - 1.0
    absent("trace.", "fewer than two requests in the timed part")
    return v, missing


def kernel_replay(facts: dict) -> dict:
    """Time the tokenize and HTML-extract kernels on the driver over the
    run's input (in the run they execute inside Spark's Python workers,
    out of reach of the in-process tracer)."""
    from conveyorbelt_spark.functions.hashing import doc_id_of
    from conveyorbelt_spark.functions.tokenize import _tokenize_batch
    from conveyorbelt_spark.textutils import extract_text

    pdf = facts["tokenize_input"]
    batch = pd.DataFrame({"doc_id": [doc_id_of(u) for u in pdf["url"]], "text": pdf["text"]})
    t = time.perf_counter()
    out = _tokenize_batch(batch, "doc_id", "text")
    tok_s = time.perf_counter() - t
    html = facts.get("extract_input", pdf)["html"]
    t = time.perf_counter()
    for h in html:
        extract_text(bytes(h))
    return {"tokenize.kernel_s": tok_s, "tokenize.tokens_out": int(out["tf"].sum()),
            "extract.kernel_s": time.perf_counter() - t}
