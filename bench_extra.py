"""Extra measurements for the optimization round (bench.py is frozen).

Modes (first argv):
  query NAME [N] — time one declared query N times (noop-style: .collect()
                  exactly like bench.py) and print each sample
  jobs          — count Spark jobs per build via a job-start listener

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as in bench.py.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from conveyorbelt_spark.session import get_spark


def _spark():
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return get_spark("bench_extra", master=f"local[{cpus}]", shuffle_partitions=cpus)


def query(name: str, n: int = 3) -> None:
    from conveyorbelt_spark.queries import QUERIES

    spark = _spark()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    fn = QUERIES[name]
    for i in range(n):
        t0 = time.time()
        fn(spark, sf_dir).collect()
        print(f"{name} sample {i}: {time.time() - t0:.3f}s", flush=True)
        spark.catalog.clearCache()
    spark.stop()


def jobs() -> None:
    """Job count + per-job wall for one gate-shaped build (py4j listener-free:
    read the status tracker before/after)."""
    spark = _spark()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from conveyorbelt_spark.index.build import build_index

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    idx = tempfile.mkdtemp(prefix="cbx_jobs_")
    tracker = spark.sparkContext.statusTracker()
    try:
        build_index(spark, docs, idx, url_col=None, n_buckets=8, positions=True)  # warm
        shutil.rmtree(idx, ignore_errors=True)
        before = tracker.getJobIdsForGroup(None)
        t0 = time.time()
        build_index(spark, docs, idx, url_col=None, n_buckets=8, positions=True)
        wall = time.time() - t0
        after = tracker.getJobIdsForGroup(None)
        print(f"jobs in one warm gate build: {len(set(after) - set(before))}, wall {wall:.2f}s")
    finally:
        shutil.rmtree(idx, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else None
    if mode == "query":
        query(sys.argv[2], int(sys.argv[3]) if len(sys.argv) > 3 else 3)
    elif mode == "jobs":
        jobs()
    else:
        raise SystemExit(f"usage: bench_extra.py query NAME [N] | jobs (got {mode!r})")
