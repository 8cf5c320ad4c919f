"""Tests of the benchmark itself: its percentile and sample-selection
helpers, the key-local generator's bucket coverage, and a tiny run of
every workload.

    python3 -m pytest cdcbench/tests -q

The smoke runs use the benchmark's work directory in the repository
root, so do not run them while a benchmark run is in progress.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from cdcbench.run import WORKLOAD_NAMES  # noqa: E402
from cdcbench.stats import (  # noqa: E402
    STEAL_MAX,
    highest_supported_percentile,
    least_disturbed,
)

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _fh:
    BENCH = json.load(_fh)


# ------------------------------------------------------------ percentiles


@pytest.mark.parametrize(
    "n, expected",
    [(9, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0),
     (999, 90.0), (1000, 99.0), (9999, 99.0), (10000, 99.9)],
)
def test_highest_percentile_with_ten_samples_beyond(n, expected):
    assert highest_supported_percentile(n) == expected


def test_least_disturbed_drops_reads_taken_under_steal():
    walls = [0.2, 0.5, 0.21, 0.6, 0.19]
    steal = [0.0, 3 * STEAL_MAX, STEAL_MAX, 2 * STEAL_MAX, 0.0]
    assert least_disturbed(walls, steal) == [0.2, 0.21, 0.19]
    # all calm: nothing dropped
    assert least_disturbed(walls, [0.0] * 5) == walls


def test_least_disturbed_keeps_the_calmest_half_of_a_contended_run():
    walls = [0.4, 0.5, 0.3, 0.6]
    steal = [3 * STEAL_MAX, 7 * STEAL_MAX, 2 * STEAL_MAX, 9 * STEAL_MAX]
    # none under the cap: the half with the least steal, in run order
    assert least_disturbed(walls, steal) == [0.4, 0.3]
    assert least_disturbed(walls[:3], steal[:3]) == [0.4, 0.3]


# ------------------------------------------------------------------ oracle


def test_oracle_drops_keys_whose_last_event_is_a_delete():
    import pandas as pd

    from cdcbench.workloads import Oracle

    events = pd.DataFrame({
        "lsn": [0, 1, 2], "op": ["insert", "insert", "delete"],
        "conv_id": ["a", "b", "a"], "turn_idx": pd.Series([0, 0, 0], dtype="int32"),
        "role": ["user", "user", None], "text": ["x", "y", None], "tool": [None] * 3,
        "ts": pd.to_datetime(["2024-01-01 00:00:00", "2024-01-01 00:00:01",
                              "2024-01-01 00:00:02"]),
    })
    oracle = Oracle(events.iloc[[0, 2]].reset_index(drop=True), transform=None)
    oracle.advance(1)
    assert oracle.state["conv_id"].tolist() == ["a"]
    oracle.advance(3)  # the only live key is deleted
    assert oracle.state.empty
    oracle = Oracle(events, transform=None)
    oracle.advance(3)
    assert oracle.state["conv_id"].tolist() == ["b"]


# ------------------------------------------------------ key-local generator


@pytest.fixture(scope="module")
def spark():
    from neosync_spark.session import get_spark

    return get_spark("cdcbench_tests", master="local[2]", shuffle_partitions=2,
                     extra_conf={"spark.driver.memory": "2g",
                                 "spark.ui.showConsoleProgress": "false"})


def test_keylocal_commits_stay_in_their_buckets_and_cover_the_table(spark):
    from cdcbench.workloads import N_BUCKETS, TURN_STRIDE, conv_buckets, keylocal_plan

    convs = [f"conv-{i:06d}" for i in range(1500)]
    pools = conv_buckets(spark, convs)
    assert sorted(pools) == list(range(N_BUCKETS))
    cap, per_commit = 4, 300
    n_commits = N_BUCKETS // cap
    plan = keylocal_plan(pools, n_commits, window=8, cap=cap, lsn0=10_000,
                         events_per_commit=per_commit, seed=3)
    events = plan.events(np.arange(10_000, 10_000 + n_commits * per_commit))
    assert events["lsn"].tolist() == list(range(10_000, 10_000 + n_commits * per_commit))

    bucket_of = {c: b for b, cs in pools.items() for c in cs}
    covered = set()
    for k in range(n_commits):
        lo, hi = plan.commit_range(k)
        batch = events[(events["lsn"] >= lo) & (events["lsn"] < hi)]
        touched = {bucket_of[c] for c in batch["conv_id"]}
        assert 1 <= len(touched) <= cap
        # each commit appends turns above every earlier commit's
        assert batch["turn_idx"].min() >= TURN_STRIDE * (k + 1)
        assert batch["turn_idx"].max() < TURN_STRIDE * (k + 2)
        covered |= touched
    assert covered == set(range(N_BUCKETS))


def test_keylocal_events_are_a_pure_function_of_the_index(spark):
    from cdcbench.workloads import conv_buckets, keylocal_plan

    pools = conv_buckets(spark, [f"conv-{i:06d}" for i in range(1500)])
    plan = keylocal_plan(pools, 4, window=8, cap=4, lsn0=0, events_per_commit=100, seed=9)
    whole = plan.events(np.arange(400))
    part = plan.events(np.arange(150, 250)).reset_index(drop=True)
    assert whole.iloc[150:250].reset_index(drop=True).equals(part)


# ------------------------------------------------------------ smoke runs


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "cdcbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert not os.path.exists(os.path.join(ROOT, ".cdcbench_work"))
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_listed_workloads_are_runnable():
    assert {w["name"] for w in BENCH["workloads"]} <= set(WORKLOAD_NAMES)


@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_tiny_run_passes_the_oracle_and_reports_every_metric(workload):
    res = _run(workload, trace=0)
    assert res["correct"] is True
    assert res["failed"] == 0 and res["attempted"] >= 3
    assert set(res["metrics"]) == {m["name"] for m in BENCH["end_to_end"]}
    for m in BENCH["end_to_end"]:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert got["value"] > 0, m["name"]


def test_tiny_traced_run_reports_every_layer_metric():
    res = _run("tail_keylocal_rw", trace=1)
    assert res["correct"] is True
    assert set(res["metrics"]) == {m["name"] for m in BENCH["per_layer"]}
    for m in BENCH["per_layer"]:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
    # the event log attributed the merge's Spark work to its spans
    assert res["metrics"]["merge.jobs"]["value"] >= 1
    assert res["metrics"]["merge.tasks"]["value"] >= 1


def test_run_without_the_engine_fails_without_a_result(tmp_path):
    shutil.copytree(os.path.join(ROOT, "cdcbench"), tmp_path / "cdcbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "cdcbench/run.py", "--workload", "tail_uniform", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""
