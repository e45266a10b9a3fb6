"""Self-tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The smoke test starts one Spark process per workload at the tiny scale,
about half a minute each.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import inputs  # noqa: E402
from checks import within_one_edit  # noqa: E402
from metrics import END_TO_END, MIN_BEYOND, NAME_RE, PER_LAYER, UNIT_RE, percentile  # noqa: E402

WORKLOADS = ("bulk_build", "serve_zipf", "conveyor_ingest")
# the workloads the driver runs; bulk_build runs by hand only (see model.json)
TIMED = ("serve_zipf", "conveyor_ingest")


def load(name: str) -> dict:
    with open(os.path.join(ROOT if name == "BENCHMARK.json" else BENCH, name)) as f:
        return json.load(f)


def test_metric_names_and_units():
    for name, unit in {**END_TO_END, **PER_LAYER}.items():
        assert NAME_RE.match(name), name
        assert UNIT_RE.match(unit), (name, unit)
    assert not set(END_TO_END) & set(PER_LAYER)


def test_benchmark_json_matches_the_code():
    b = load("BENCHMARK.json")
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in b["workloads"]] == list(TIMED)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == PER_LAYER
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    layer_metrics = {n for row in load("model.json")["layer_map"] for n in row["metrics"].split()}
    assert layer_metrics <= set(PER_LAYER)


def test_percentile_needs_ten_samples_beyond():
    vals = list(range(100))
    assert percentile(vals, 0.5) == 49
    assert percentile(vals, 0.9) == 89  # 10 samples beyond rank 90
    assert percentile(vals, 0.95) is None  # only 5 beyond
    assert percentile(list(range(200)), 0.95) == 189
    assert percentile(list(range(MIN_BEYOND)), 0.01) is None
    with pytest.raises(ValueError):
        percentile(vals, 1.0)


def test_same_seed_same_inputs():
    mix = load("model.json")["workloads"]["serve_zipf"]["op_mix"]
    for seed in (1, 2):
        a, b = inputs.corpus_pdf(200, seed, 4), inputs.corpus_pdf(200, seed, 4)
        assert inputs.frame_digest(a) == inputs.frame_digest(b)
        ops = inputs.serve_stream(seed, list(a["text"]), mix)
        assert inputs.ops_digest(ops) == inputs.ops_digest(
            inputs.serve_stream(seed, list(b["text"]), mix))
        assert len(ops) == sum(mix.values())
        assert inputs.query_stream(seed, 20) == inputs.query_stream(seed, 20)
        assert inputs.frame_digest(inputs.source_pages(120, seed, 1)) == inputs.frame_digest(
            inputs.source_pages(120, seed, 1))
    assert inputs.frame_digest(inputs.corpus_pdf(200, 1, 4)) != inputs.frame_digest(
        inputs.corpus_pdf(200, 2, 4))
    assert inputs.query_stream(1, 20) != inputs.query_stream(2, 20)


@pytest.mark.parametrize("seed", [0, 1, -1, 2**31 - 1, 123456789, 10**12])
def test_any_seed_derives_valid_stream_seeds(seed):
    s = inputs.fold_seed(seed)
    assert 0 <= s < inputs.SEED_SPACE
    assert inputs.burst_streams(s, 5, 3) == inputs.burst_streams(s, 5, 3)
    inputs.corpus_pdf(8, s, 4)
    inputs.serve_stream(s + 202, ["a b c"], {"bm25": 1, "phrase": 1})


def test_within_one_edit():
    assert within_one_edit("term00012", "term00013")
    assert within_one_edit("term0001", "term00012")
    assert not within_one_edit("term00012", "term00021")


def run_bench(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=300)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_smoke_run_is_correct(workload):
    out = run_bench(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
                    "--trace", "0", "--scale", "tiny")
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert {k: m["unit"] for k, m in res["metrics"].items()} == END_TO_END
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = run_bench(str(tmp_path), "--workload", "serve_zipf", "--seed", "1",
                    "--seconds", "1", "--trace", "0")
    assert out.returncode != 0
    assert out.stdout == ""
