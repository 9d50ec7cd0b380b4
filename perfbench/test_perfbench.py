"""Tests of the benchmark itself, at tiny scale.

    python3 -m pytest perfbench -q -p no:cacheprovider    (from the checkout root)

The end-to-end cases start real Spark sessions through ``run.py`` with
``--scale 0.05``; the gate and ledger cases need no Spark.
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

import gate  # noqa: E402
from ledger import read_event_log  # noqa: E402
from run import END_TO_END, PER_LAYER  # noqa: E402
from workloads import WORKLOADS, make_delta, make_pages  # noqa: E402


def _bench(workload: str, seed: int, trace: int, tmp_path) -> tuple[dict, dict]:
    detail = tmp_path / f"{workload}-{seed}-{trace}.json"
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(HERE, "run.py"),
            "--workload", workload,
            "--seed", str(seed),
            "--seconds", "1",
            "--trace", str(trace),
            "--scale", "0.05",
            "--detail", str(detail),
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1]), json.loads(detail.read_text())


@pytest.fixture(scope="module")
def runs(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("perfbench")
    out = {}
    for workload in WORKLOADS:
        for trace in (0, 1):
            out[workload, 1, trace] = _bench(workload, 1, trace, tmp)
    out["crawl_search", 2, 0] = _bench("crawl_search", 2, 0, tmp)
    return out


def _assert_named(result: dict, names: dict) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert set(result["metrics"]) == set(names)
    for name, m in result["metrics"].items():
        assert m["unit"] == names[name]
        assert isinstance(m["value"], (int, float)), name


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_every_metric_emitted_with_unit(runs, workload):
    untraced, _ = runs[workload, 1, 0]
    traced, _ = runs[workload, 1, 1]
    _assert_named(untraced, END_TO_END)
    _assert_named(traced, PER_LAYER)
    for result in (untraced, traced):
        assert result["correct"] and result["failed"] == 0
        assert result["attempted"] >= 1
    for name in ("wall_s", "setup_s", "query_s_p50", "peak_rss_mb"):
        assert untraced["metrics"][name]["value"] > 0
    assert traced["metrics"]["pagerank.rounds"]["value"] > 0


def test_seed_changes_inputs_not_metric_names(runs):
    (a, detail_a), (b, detail_b) = runs["crawl_search", 1, 0], runs["crawl_search", 2, 0]
    assert detail_a["inputs"]["fingerprint"] != detail_b["inputs"]["fingerprint"]
    assert set(a["metrics"]) == set(b["metrics"])
    assert make_pages(1, 50)[1] != make_pages(2, 50)[1]
    assert make_pages(1, 50)[1] == make_pages(1, 50)[1]
    assert make_delta(1, 200, 4000) != make_delta(2, 200, 4000)


def test_gate_trips_on_perturbed_ranks():
    ranks = {f"u{i}": 0.1 + i * 1e-3 for i in range(50)}
    assert gate.check_ranks(dict(ranks), ranks) is None
    assert gate.check_ranks({u: r + 1e-7 for u, r in ranks.items()}, ranks) is None
    assert gate.check_ranks({u: r + 1e-5 for u, r in ranks.items()}, ranks) is not None
    one_off = dict(ranks, u7=ranks["u7"] + 1e-5)
    assert gate.check_ranks(one_off, ranks) is not None
    assert gate.check_ranks({u: r for u, r in ranks.items() if u != "u3"}, ranks) is not None


def test_gate_trips_on_triangle_count_off_by_one():
    assert gate.check_count("triangles", 41, 41) is None
    assert gate.check_count("triangles", 42, 41) is not None
    assert gate.check_count("triangles", 40, 41) is not None


def test_gate_top_k_accepts_exact_ties_only():
    oracle = gate.load_oracle(ROOT)
    scores = {"a1": 3.0, "a2": 2.0, "a3": 2.0, "a4": 1.0, "b1": 5.0}
    want = gate.expected_top(oracle, scores, "a", k=2)
    assert want[0] == ["a1", "a2"]
    assert gate.check_top(["a1", "a2"], want, scores) is None
    assert gate.check_top(["a1", "a3"], want, scores) is None  # a3 ties a2
    assert gate.check_top(["a1", "a4"], want, scores) is not None
    assert gate.check_top(["b1", "a1"], want, scores) is not None  # b1 fails the query
    assert gate.check_top(["a1"], want, scores) is not None


def test_gate_labels_exact():
    want = {"x": "x", "y": "x", "z": "z"}
    assert gate.check_labels(dict(want), want) is None
    assert gate.check_labels(dict(want, z="x"), want) is not None


def test_event_log_rollup(tmp_path):
    log_dir = tmp_path / "eventlog_v2_local-1"
    log_dir.mkdir()
    group = {"spark.jobGroup.id": "pagerank#0", "spark.sql.execution.id": "7"}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1000, "Properties": group},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 4}, "Properties": group},
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": 4,
            "Task End Reason": {"Reason": "Success"},
            "Task Metrics": {
                "Executor Run Time": 30,
                "JVM GC Time": 2,
                "Disk Bytes Spilled": 0,
                "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 100},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 64},
            },
        },
        {"Event": "SparkListenerTaskEnd", "Stage ID": 4, "Task End Reason": {"Reason": "ExceptionFailure"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1250},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 1200, "Properties": group},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 1400},
    ]
    (log_dir / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    groups = read_event_log(str(tmp_path))
    g = groups["pagerank", 0]
    assert (g["jobs"], g["stages"], g["tasks"], g["failed_tasks"]) == (2, 1, 2, 1)
    assert (g["shuffle_read_bytes"], g["shuffle_write_bytes"]) == (100, 64)
    assert g["job_ms"] == 400  # overlapping jobs 1000-1250 and 1200-1400
    assert g["executions"] == [[2, 64]]


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_search", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
