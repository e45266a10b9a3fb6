"""perfbench: the repository benchmark for conveyorbelt_spark.

    python3 perfbench/run.py --workload serve_zipf --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Each call is one fresh process with its
own Spark session: set-up (timed as ``setup_s``), then ``--seconds`` of one
closed-loop client, then a check of every answer. The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The traced run also writes its spans and host record to
``.perfbench_out/``. Workloads, sizes and the layer map are in
``perfbench/model.json``.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import resource
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["bulk_build", "serve_zipf", "conveyor_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="tiny: the self-tests' smoke sizes")
    return ap.parse_args(argv)


def host_record(seed: int) -> dict:
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        ram_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "conveyorbelt_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for name in sorted(files):
            if name.endswith((".py", ".json")):
                with open(os.path.join(d, name), "rb") as f:
                    h.update(name.encode() + f.read())
    commit = "unknown"  # a checkout without .git has no commit to name
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.isfile(head):
        with open(head) as f:
            commit = f.read().strip()
        if commit.startswith("ref: "):
            ref = os.path.join(ROOT, ".git", commit[5:])
            if os.path.isfile(ref):
                with open(ref) as f:
                    commit = f.read().strip()
    return {"nproc": os.cpu_count(), "ram_gib": round(ram_kb / 2**20, 1),
            "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "git_commit": commit, "package_sha256": h.hexdigest(), "seed": seed}


def spark_session(model: dict, tmp: str, trace: bool):
    """A local session sized for the host: at most nproc cores, a heap well
    under RAM, no console progress, every scratch path under ``tmp``."""
    from conveyorbelt_spark.session import get_spark

    h = model["host"]
    cores = max(1, min(os.cpu_count() or 1, h["max_cores"]))
    conf = {"spark.ui.showConsoleProgress": "false", "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse")}
    if trace:
        events = os.path.join(tmp, "events")
        os.makedirs(events)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": events,
                     "spark.eventLog.compress": "false"})
    return get_spark("perfbench", master=f"local[{cores}]",
                     shuffle_partitions=h["shuffle_partitions"], extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, model: dict, tmp: str) -> tuple[dict, dict]:
    from inputs import fold_seed
    from metrics import END_TO_END, PER_LAYER, metric_block
    from tracer import Tracer, install, read_event_log
    from workloads import WORKLOADS, Ctx

    cfg = dict(model["workloads"][args.workload])
    if args.scale == "tiny":
        cfg.update(model["tiny"][args.workload])
    t = time.perf_counter()
    spark = spark_session(model, tmp, bool(args.trace))
    session_s = time.perf_counter() - t
    tracer = Tracer()
    patches = install(tracer) if args.trace else None
    layout = {k: tuple(v) if isinstance(v, list) else v for k, v in model["layout"].items()}
    ctx = Ctx(spark, tmp, fold_seed(args.seed), args.seconds, bool(args.trace), cfg, layout,
              tracer, model["setup_repeats"])
    try:
        WORKLOADS[args.workload](ctx)
        tracer.active = False
    finally:
        if patches is not None:
            patches.restore()
        stop_spark(spark)
    for e in ctx.errors:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    if args.trace:
        from layers import per_layer

        jobs, stages = read_event_log(os.path.join(tmp, "events"))
        values, missing = per_layer(tracer, jobs, stages, ctx.facts, session_s,
                                    ctx.attempted, ctx.failed)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}")
        tracer.dump(stem + ".spans.jsonl")
        with open(stem + ".json", "w") as f:
            json.dump({"host": host_record(args.seed), "missing": missing, "values": values},
                      f, indent=2)
        units = PER_LAYER
    else:
        values = dict(ctx.e2e, setup_s=session_s + ctx.setup_s,
                      driver_rss_peak_mb=resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024)
        units = END_TO_END
    return {"correct": ctx.failed == 0, "attempted": ctx.attempted, "failed": ctx.failed,
            "metrics": metric_block(values, units)}, host_record(args.seed)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "conveyorbelt_spark", "__init__.py")):
        print("perfbench: conveyorbelt_spark/ not found beside perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    with open(os.path.join(HERE, "model.json")) as f:
        model = json.load(f)
    os.makedirs(os.path.join(ROOT, ".perfbench_tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(ROOT, ".perfbench_tmp"))
    # every temp file of the driver, the JVM and the Python workers lands in tmp
    mem_gb = min(model["host"]["driver_mem_cap_gb"],
                 os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
                 * model["host"]["driver_mem_fraction_of_ram"] / 2**30)
    os.environ.update({
        "TMPDIR": tmp, "SPARK_LOCAL_DIRS": tmp,
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, int(mem_gb * 1024))}m",
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    try:
        with contextlib.redirect_stdout(sys.stderr):
            result, host = run(args, model, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(tmp))
    print("perfbench host " + json.dumps(host))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
