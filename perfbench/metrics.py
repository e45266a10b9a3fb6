"""Metric names, units and the summary statistics the benchmark reports.

Every workload reports every end-to-end metric (untraced run) and every
per-layer metric (traced run), so the names here are workload-neutral; what
each means on each workload is written down in ``model.json``. Per-layer
timings and counts are per traced unit (build, query, cycle, delete).
"""

from __future__ import annotations

import math
import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "index_bytes_per_doc": "B/doc",
    "driver_rss_peak_mb": "MiB",
}

OP_TYPES = ("bm25", "bool", "filtered", "phrase", "fuzzy", "aggs", "dsl", "docs")

PER_LAYER = {
    "session.start_s": "s",
    # index.build, per traced build
    "build.wall_s": "s",
    "build.self_s": "s",
    "build.dictionary_s": "s",
    "build.stats_s": "s",
    "build.fuzzy_s": "s",
    "build.docstore_s": "s",
    "build.spark_jobs": "count",
    "build.spark_tasks": "count",
    "build.task_run_s": "s",
    "build.task_cpu_s": "s",
    "build.gc_s": "s",
    "build.shuffle_write_bytes": "B",
    "build.shuffle_read_bytes": "B",
    "build.spill_bytes": "B",
    # index layout of the last index the workload wrote or served
    "build.segment_files": "count",
    "build.segment_bytes": "B",
    "build.dictionary_bytes": "B",
    "build.docstore_bytes": "B",
    # functions.tokenize kernels, replayed on the driver over the run's input
    "tokenize.kernel_s": "s",
    "tokenize.tokens_out": "count",
    "extract.kernel_s": "s",
    # index.query, per traced query
    "query.dict_probe_ms": "ms",
    "query.block_read_ms": "ms",
    "query.score_ms": "ms",
    "query.tombstone_filter_ms": "ms",
    "query.docstore_fetch_ms": "ms",
    "query.terms_read": "count",
    "query.blocks_read": "count",
    "query.block_cache_hit_ratio": "ratio",
    "query.stats_reloads": "count",
    "query.spark_jobs": "count",
    "query.block_cache_bytes": "B",
    "query.p90_ms": "ms",
    **{f"op.{op}.p50_ms": "ms" for op in OP_TYPES},
    "dsl.self_ms": "ms",
    # streaming.incremental + conveyor, per traced cycle
    "ingest.cycle_s": "s",
    "ingest.index_batch_s": "s",
    "ingest.conveyor_self_s": "s",
    "ingest.dictionary_delta_s": "s",
    "ingest.stats_s": "s",
    "ingest.spark_jobs": "count",
    "ingest.task_run_s": "s",
    "ingest.shuffle_write_bytes": "B",
    "ingest.committed_runs": "count",
    "ingest.segment_files": "count",
    "ingest.post_commit_query_ms": "ms",
    # index.delete, per traced delete
    "delete.wall_ms": "ms",
    "delete.spark_jobs": "count",
    "delete.tombstone_rows": "count",
    # compaction, per traced compaction
    "compact.wall_s": "s",
    "compact.spark_jobs": "count",
    "compact.blocks_before": "count",
    "compact.blocks_after": "count",
    # tracing cost: traced over untraced median request time, minus one
    "trace.overhead_frac": "ratio",
    # failed ops plus wrong results, over ops attempted
    "error_frac": "ratio",
}

MIN_BEYOND = 10


def percentile(values, q: float) -> float | None:
    """The ``q``-quantile (0 < q < 1, nearest rank) of ``values``, or None
    when fewer than ``MIN_BEYOND`` samples lie beyond it — a tail read off
    fewer samples than that is noise. The median needs 2 * MIN_BEYOND - 1
    samples by this rule, so callers use ``median`` for it."""
    vals = sorted(values)
    n = len(vals)
    if not 0.0 < q < 1.0:
        raise ValueError(f"quantile {q} outside (0, 1)")
    rank = max(1, math.ceil(q * n))
    if n - rank < MIN_BEYOND:
        return None
    return vals[rank - 1]


def median(values) -> float:
    vals = sorted(values)
    if not vals:
        raise ValueError("median of no samples")
    mid = len(vals) // 2
    return vals[mid] if len(vals) % 2 else (vals[mid - 1] + vals[mid]) / 2.0


def metric_block(values: dict, units: dict) -> dict:
    """{name: {"value", "unit"}} for exactly the names in ``units``."""
    missing = set(units) - set(values)
    if missing:
        raise KeyError(f"metrics not measured: {sorted(missing)}")
    return {name: {"value": float(values[name]), "unit": units[name]} for name in units}
