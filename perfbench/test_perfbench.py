"""Tests of the benchmark itself (not of the package).

    python3 -m pytest perfbench -q

The end-to-end tests run ``run.py`` at toy size; each run starts a Spark
session and warms it up, so the file takes several minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def _run(*args: str, cwd: str = ROOT, timeout: float = 300):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


def _result(proc) -> dict:
    return json.loads(proc.stdout.strip().splitlines()[-1])


# -- pure helpers ---------------------------------------------------------

def test_tail_keeps_ten_samples_above_it():
    xs = [float(i) for i in range(1, 41)]  # 40 samples
    value, pct = workloads.tail(xs)
    assert pct == 75.0
    assert sum(1 for x in xs if x > value) == 10
    assert workloads.tail([3.0, 1.0, 2.0]) == (2.0, 50.0)


def test_inputs_are_a_function_of_the_seed(tmp_path):
    for d in ("a", "b"):
        gen.write_star_schema(str(tmp_path / d), seed=5, sf=0.001)
    for name in os.listdir(tmp_path / "a"):
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes()
    gen.write_star_schema(str(tmp_path / "c"), seed=6, sf=0.001)
    assert (tmp_path / "a" / "orders.parquet").read_bytes() != (
        tmp_path / "c" / "orders.parquet").read_bytes()

    feeds = [gen.BookingFeed(7, 500, 100, 5) for _ in range(2)]
    for i, feed in enumerate(feeds):
        feed.write_batch(str(tmp_path / f"b{i}.json"), 3)
    assert (tmp_path / "b0.json").read_bytes() == (tmp_path / "b1.json").read_bytes()


def test_feed_reference_is_latest_good_event_per_key():
    feed = gen.BookingFeed(3, 200, 100, 4)
    fact, bad = feed.expected(4)
    lo, hi = 0, feed.batch_bounds(3)[1]
    latest = {}
    for i in range(lo, hi):
        if not feed.bad[i]:
            latest[f"bk-{feed.key[i]}"] = float(feed.amount[i])
    assert {k: v[1] for k, v in fact.items()} == latest
    assert bad == sorted(f"ev-{i}" for i in range(hi) if feed.bad[i])
    seen, updates = set(feed.key[:200].tolist()), 0
    for k in feed.key[200:hi].tolist():
        updates += k in seen
        seen.add(k)
    assert 0.02 < updates / 400 < 0.25 and 0 < len(bad) < 40


def test_benchmark_json_matches_the_code():
    assert {w["name"] for w in BENCH["workloads"]} <= set(workloads.WORKLOADS)
    assert [m["name"] for m in BENCH["per_layer"]] == workloads.PER_LAYER
    assert {m["name"] for m in BENCH["end_to_end"]} >= {"setup_s"}


# -- whole runs at toy size -----------------------------------------------

@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_every_end_to_end_metric_prints_with_its_unit(workload):
    proc = _run("--workload", workload, "--seed", "1", "--seconds", "1",
                "--trace", "0", "--size", "toy")
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = _result(proc)
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())
    assert "op_error_rate 0.0000" in proc.stdout


def test_traced_run_prints_every_layer_metric():
    proc = _run("--workload", "cdc_stream", "--seed", "2", "--seconds", "1",
                "--trace", "1", "--size", "toy")
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = _result(proc)
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["pipelines.process_batch_s"] > 0 and m["tables.fold_s"] > 0
    assert m["spark.jobs_per_op"] > 0
    spans = os.path.join(ROOT, ".perfbench", "spans-cdc_stream-2.json")
    with open(spans) as f:
        dump = json.load(f)
    assert dump["by_name"]["pipelines.process_batch"]["calls"] >= 2


@pytest.mark.parametrize("workload,fault", [
    ("warehouse_queries", "wrong"),
    ("corpus_curation", "raise"),
    ("cdc_stream", "wrong"),
    ("cdc_stream", "raise"),
])
def test_injected_faults_fail_the_run(workload, fault):
    proc = _run("--workload", workload, "--seed", "3", "--seconds", "1",
                "--size", "toy", "--fault", fault)
    assert proc.returncode != 0
    res = _result(proc)
    assert res["correct"] is False and res["failed"] >= 1
    assert "FAILED" in proc.stdout


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run("--workload", "cdc_stream", "--seed", "1", "--seconds", "1",
                cwd=str(tmp_path), timeout=180)
    assert proc.returncode != 0
    assert not proc.stdout.strip()
