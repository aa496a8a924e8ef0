"""Tests for the benchmark's metric math; no Spark needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics as M  # noqa: E402
import spans as S  # noqa: E402


# ---- percentile rule ------------------------------------------------------------

def test_quantile_matches_linear_interpolation():
    assert M.quantile([1, 2, 3, 4], 0.5) == 2.5
    assert M.quantile([10], 0.9) == 10
    assert M.quantile(list(range(101)), 0.9) == pytest.approx(90.0)


def test_percentile_needs_ten_samples_beyond():
    p = M.percentile(list(range(20)), 0.5)
    assert p["beyond"] == 10 and p["reportable"]
    p = M.percentile(list(range(19)), 0.5)
    assert p["beyond"] == 9 and not p["reportable"]
    # A p90 needs 92 distinct samples: 10 of them lie above 0.9 * 91.
    assert M.percentile(list(range(92)), 0.9)["reportable"]
    assert not M.percentile(list(range(91)), 0.9)["reportable"]


def test_percentile_counts_groups_not_samples():
    # 1000 samples but only 3 batches hold values beyond the median.
    values = [1.0] * 500 + [2.0] * 500
    groups = [i % 50 for i in range(500)] + [i % 3 for i in range(500)]
    p = M.percentile(values, 0.5, groups)
    assert p["n"] == 1000
    assert p["beyond"] == 3 and not p["reportable"]
    assert M.percentile(values, 0.5)["beyond"] == 500


def test_percentile_ties_are_not_beyond():
    p = M.percentile([5.0] * 50, 0.5)
    assert p["value"] == 5.0 and p["beyond"] == 0


# ---- geomean ----------------------------------------------------------------------

def test_geomean():
    assert M.geomean([1, 100]) == pytest.approx(10.0)
    assert M.geomean([7.0]) == pytest.approx(7.0)
    with pytest.raises(ValueError):
        M.geomean([])
    with pytest.raises(ValueError):
        M.geomean([1.0, 0.0])


def test_op_geomean_weighs_keys_equally():
    # A 10x slower key moves the geomean by the same factor whatever its size.
    base = {"fast": [10.0, 10.0, 12.0], "slow": [1000.0, 900.0, 1100.0]}
    assert M.op_geomean_ms(base) == pytest.approx((10.0 * 1000.0) ** 0.5)
    slower_fast = dict(base, fast=[100.0, 100.0, 120.0])
    slower_slow = dict(base, slow=[10000.0, 9000.0, 11000.0])
    assert M.op_geomean_ms(slower_fast) == pytest.approx(M.op_geomean_ms(slower_slow))


# ---- creation-to-visibility join ---------------------------------------------------

def test_freshness_join_uses_window_creation_and_batches():
    created = {"a": 1_000.0, "b": 1_500.0, "c": 2_500.0, "d": 1_200.0}
    visible = {"a": (1.8, 7), "b": (1.8, 7), "c": (3.0, 8)}
    out = M.freshness_join(created, visible, window=(1.0, 2.0))
    assert sorted(zip(out["freshness_ms"], out["batches"])) == [
        (pytest.approx(300.0), 7), (pytest.approx(800.0), 7)]


def test_delivered_rate_spans_whole_batch_cycles():
    done = [(9.6, 400), (10.5, 1000), (11.5, 1000), (12.5, 1000), (13.4, 900)]
    out = M.delivered_rate(done, window=(10.0, 13.0))
    assert out["batches"] == 3
    assert out["rate"] == pytest.approx(3000 / (12.5 - 9.6))
    with pytest.raises(ValueError):
        M.delivered_rate(done, window=(9.0, 9.7))


def test_catch_up_end_is_the_first_batch_followed_by_idle_time():
    # Back-to-back batches while a backlog drains, then the 1 s grid.
    batches = [(0.0, 6.0), (6.04, 8.5), (8.5, 9.7), (9.7, 10.6), (11.0, 11.7), (12.0, 12.6)]
    assert M.catch_up_end(reversed(batches)) == 10.6
    assert M.catch_up_end(batches[:4]) is None
    assert M.catch_up_end([(0.0, 1.0), (1.05, 2.0)]) is None


# ---- span self time ------------------------------------------------------------------

def test_union_and_self_time():
    assert M.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert M.union_length([(0, 10)], clip=(2, 4)) == 2
    assert M.self_time((0, 10), [(1, 3), (2, 4), (8, 12)]) == pytest.approx(5)
    assert M.self_time((0, 10), []) == 10


def test_fold_jobs_and_driver_self_time():
    python_scope = json.dumps({"id": "3", "name": "MapInPandas"})
    task = {"Executor Run Time": 800, "Executor CPU Time": 200_000_000, "JVM GC Time": 50,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**20},
            "Disk Bytes Spilled": 0}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_000,
         "Stage Infos": [{"Stage ID": 0, "RDD Info": [{"Name": "MapPartitionsRDD",
                                                      "Scope": python_scope}]}],
         "Properties": {"spark.jobGroup.id": "p0-0"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": task},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3_000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2_000,
         "Stage Infos": [{"Stage ID": 1, "RDD Info": [{"Name": "FileScanRDD"}]}],
         "Properties": {"spark.jobGroup.id": "p0-0"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": task},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 4_000},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 20_500,
         "Stage Infos": [], "Properties": {"streaming.sql.batchId": "4"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 20_700},
    ]
    jobs = S.fold_jobs(events)
    assert [j["id"] for j in jobs] == ["job-0", "job-1", "job-2"]
    assert jobs[0]["python_s"] == pytest.approx(0.6)  # run 0.8 s - cpu 0.2 s
    assert jobs[1]["python_s"] == 0.0
    assert jobs[0]["shuffle_mb"] == pytest.approx(1.0)
    assert jobs[2]["batch"] == 4

    op = {"kind": "op", "id": "p0-0", "key": "k", "start": 0.5, "end": 5.0}
    batch = {"batch": 4, "start": 20.0, "end": 21.0, "rows": 10,
             "durationMs": {"latestOffset": 100, "addBatch": 800, "triggerExecution": 1000}}
    spans = [op] + S.batch_spans([batch])
    S.link_jobs(jobs, spans)
    assert [j["parent"] for j in jobs] == ["p0-0", "p0-0", "batch-4"]
    # The op ran 4.5 s; its jobs cover 1..4 s, so the driver held it 1.5 s.
    assert S.driver_self_s([op], jobs) == pytest.approx(1.5)
    phases = [s for s in spans if s["kind"] == "phase"]
    assert [p["name"] for p in phases] == ["latestOffset", "addBatch"]
    assert phases[1]["start"] == pytest.approx(20.1)
    assert S.driver_self_s([spans[1]], jobs) == pytest.approx(0.8)


# ---- the benchmark's declared metrics ------------------------------------------------

def test_benchmark_json_matches_the_printed_metrics():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == list(run.PER_LAYER)
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert m["unit"] == run.UNITS[m["name"]]
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
