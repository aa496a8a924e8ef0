"""bench.py's stdout contract (bounded chunk lines, totals last), its
jsonl record, and the job/stage counter report that replaced the
wall-clock regression gate."""

from __future__ import annotations

import os

import bench
from tests.conftest import SF_SMOKE


# ---------------------------------------------------------------------------
# Lossless chunked emission: every stdout line bounded under a ~2 KB tail
# capture, totals line LAST, complete record in docs/bench_runs.jsonl.
# ---------------------------------------------------------------------------


def _synthetic_result(n_queries: int = 275) -> dict:
    return {
        "metric": "headline_queries_total_wall",
        "value": 123.456,
        "unit": "sec",
        "run_id": "1700000000.4242",
        "queries": {
            f"some_operator_key_with_a_long_name_{i:03d}": round(
                0.001 * i + 0.123, 3
            )
            for i in range(n_queries)
        },
        "sf": 0.1,
        "calibration_range_sum_sec": 0.5,
        "calibration_scan_agg_sec": 0.7,
        "calibration_jobs_sec": 1.1,
        "stream_throughput_rows_per_sec": 25000.0,
        "stream_throughput_batch_p95_sec": 0.5,
        "build_semdedup_quantizer_sec": 6.1,
    }


def test_emit_lines_bounded_and_totals_last():
    import json

    result = _synthetic_result()
    lines = bench._emit_lines(result)
    # Every line fits the driver tail capture with room to spare.
    for ln in lines:
        assert len(ln.encode()) <= bench.BENCH_LINE_MAX_BYTES, len(ln)
    # Final line is complete compact JSON carrying every scalar field.
    final = json.loads(lines[-1])
    assert final["metric"] == "headline_queries_total_wall"
    assert final["value"] == 123.456
    assert final["run_id"] == result["run_id"]
    assert final["n_queries"] == 275
    assert "queries" not in final  # queries travel in the chunk lines
    assert final["calibration_jobs_sec"] == 1.1
    # Chunk lines cover every query exactly once.
    merged = {}
    for ln in lines[:-1]:
        rec = json.loads(ln)
        assert rec["bench_chunk"] >= 1
        assert len(rec["queries"]) <= bench.BENCH_CHUNK_KEYS
        merged.update(rec["queries"])
    assert merged == result["queries"]


def test_emit_lines_rejects_oversized_line():
    import pytest

    result = _synthetic_result(n_queries=1)
    result["queries"] = {"k" * 4000: 1.0}
    with pytest.raises(AssertionError):
        bench._emit_lines(result)


def test_record_full_run_prunes(tmp_path, monkeypatch):
    runs = tmp_path / "bench_runs.jsonl"
    monkeypatch.setattr(bench, "_bench_runs_path", lambda: str(runs))
    for i in range(bench.BENCH_RUNS_KEEP + 5):
        r = _synthetic_result(n_queries=2)
        r["run_id"] = f"rid.{i}"
        bench._record_full_run(r)
    text = runs.read_text().strip().splitlines()
    assert len(text) == bench.BENCH_RUNS_KEEP
    # Oldest pruned, newest kept and loadable.
    assert bench._load_full_run("rid.0") is None
    assert bench._load_full_run(f"rid.{bench.BENCH_RUNS_KEEP + 4}") is not None


# ---------------------------------------------------------------------------
# Job/stage counter report.
# ---------------------------------------------------------------------------


def test_counter_changes_report_only_stable_comparable_keys():
    first = {"q_same": [2, 3], "q_more_jobs": [3, 4], "q_flaky": [5, 6], "q_new": [1, 1]}
    second = dict(first, q_flaky=[6, 7])
    stable, unstable = bench.stable_counters(first, second)
    assert unstable == ["q_flaky"]
    assert "q_flaky" not in stable

    prior = {"q_same": [2, 3], "q_more_jobs": [2, 4], "q_flaky": [1, 1]}
    runs = [
        {"run_id": "old", "sf": 0.1, "cpus": 4, "counters": {"q_same": [9, 9]}},
        {"run_id": "match", "sf": 0.1, "cpus": 4, "counters": prior},
        # newer, but another core count / scale: never the baseline
        {"run_id": "c32", "sf": 0.1, "cpus": 32, "counters": {"q_same": [7, 7]}},
        {"run_id": "sf1", "sf": 0.01, "cpus": 4, "counters": {"q_same": [7, 7]}},
        # newer, same sf and cpus, but from before counters were recorded
        {"run_id": "legacy", "sf": 0.1, "queries": {"q_same": 1.0}},
    ]
    changed = bench.counter_changes(stable, runs, 0.1, 4)
    assert len(changed) == 1
    assert changed[0].startswith("q_more_jobs: jobs 2→3, stages 4→4")
    assert "match" in changed[0]
    # a record at another core count is not a baseline at all
    assert bench.counter_changes(stable, runs[2:3], 0.1, 4) == []
    assert bench.counter_changes(stable, [], 0.1, 4) == []


def test_run_counted_counts_are_stable_in_session(spark):
    """The bench's own helper at sf0.001: after a warm-up run (artifact
    builds, as in the bench), two runs of a plain query and of a
    session-artifact consumer report the same job and stage counts."""
    from pubsub2bq_spark.registry import all_queries

    registry = all_queries()
    for key in ("tpch_q1", "ann_ivf_kmeans"):
        bench.run_counted(spark, registry, key, SF_SMOKE)
        (t1, c1), (t2, c2) = (
            bench.run_counted(spark, registry, key, SF_SMOKE) for _ in range(2)
        )
        assert t1 > 0 and t2 > 0
        assert c1 == c2, (key, c1, c2)
        jobs, stages = c1
        assert 1 <= jobs <= stages, (key, c1)
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_ivf_kmeans_cold_build_job_count(spark):
    """A cold ann_ivf_kmeans run (index build plus search) stays within
    24 Spark jobs: the k-means|| candidates, weights, seeds and cells
    are driver-held, so jobs run only for passes over the corpus. The
    build that ran the bounded steps as Spark jobs took 52."""
    from pubsub2bq_spark.registry import all_queries
    from pubsub2bq_spark.tables import clear_session_artifacts

    clear_session_artifacts()
    _seconds, (jobs, stages) = bench.run_counted(
        spark, all_queries(), "ann_ivf_kmeans", SF_SMOKE
    )
    assert 1 <= jobs <= 24, (jobs, stages)


def test_image_dedup_clusters_cold_job_count(spark):
    """A cold image_dedup_clusters run (phash pass, band join and
    connected components) stays within 12 Spark jobs: the bounded
    candidate graph is fetched once and labeled on the driver. The
    min-label probe with its star fallback took 40-42."""
    from pubsub2bq_spark.registry import all_queries
    from pubsub2bq_spark.tables import clear_session_artifacts

    clear_session_artifacts()
    _seconds, (jobs, stages) = bench.run_counted(
        spark, all_queries(), "image_dedup_clusters", SF_SMOKE
    )
    assert 1 <= jobs <= 12, (jobs, stages)


def test_artifact_build_counts_reach_counters(spark, monkeypatch):
    """Each artifact build leg is counted under a job group of its own,
    so a cold minhash_lsh_pairs build at sf0.001 reads the same nonzero
    [jobs, stages] on its last two builds and lands in the record's
    counters as ``build_minhash_lsh_pairs``."""
    monkeypatch.setattr(
        bench,
        "ARTIFACT_BUILD_LEGS",
        [leg for leg in bench.ARTIFACT_BUILD_LEGS if leg[0] == "minhash_lsh_pairs"],
    )
    times, (second, third) = bench._artifact_build_legs(spark, SF_SMOKE)
    assert times["build_minhash_lsh_pairs_sec"] > 0
    jobs, stages = second["build_minhash_lsh_pairs"]
    assert 1 <= jobs <= stages, (jobs, stages)
    stable, unstable = bench.stable_counters(second, third)
    assert stable == {"build_minhash_lsh_pairs": [jobs, stages]}
    assert unstable == []
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_cdc_clean_batch_runs_one_job(spark, tmp_path):
    """A clean CDC micro-batch runs one Spark job, the sink write: its
    corrupt count arrives with the write through observe(). A batch with
    one truncated payload adds only the DLQ write. Counting corrupt rows
    with a separate limit(1).count() probe took 3 jobs per clean batch."""
    from pyspark.sql import functions as F

    from pubsub2bq_spark.sources import cdc_fixtures as fx
    from pubsub2bq_spark.streaming.cdc import CdcPipeline
    from tests.test_cdc_golden import make_spec

    spec = make_spec(str(tmp_path), fx.SINK_SCHEMA_V1)
    fx.write_segment(spec.spool_dir, "000_snapshot", fx.snapshot_events())
    p = CdcPipeline(spark, spec)
    msgs = p.raw_tap_batch()
    _seconds, (jobs, _stages) = bench._counted(
        spark, "cdc_clean", lambda: p._deliver(msgs, epoch_id=1)
    )
    assert jobs == 1
    assert not os.path.exists(spec.dlq_dir)

    truncated = msgs.withColumn(
        "data",
        F.when(F.col("ordering_key") == '{"id":990}', F.lit('{"id":99')).otherwise(
            F.col("data")
        ),
    )
    _seconds, (jobs, _stages) = bench._counted(
        spark, "cdc_corrupt", lambda: p._deliver(truncated, epoch_id=2)
    )
    assert jobs == 2
    dlq = [(r["dlq_reason"], r["delivery_attempts"]) for r in p.read_dlq().collect()]
    assert dlq == [("schema_validation_failed", 1)]
    assert p.read_sink().count() == 3 + 2
