"""Sustained-throughput leg (VERDICT r9 #2): the CDC pipeline under its
production processing-time trigger must deliver the full spooled events
table exactly once, in MULTIPLE flow-controlled micro-batches, and the
measurement must report sane rate/latency figures the bench publishes."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE

from pubsub2bq_spark.operators.cdc_pipeline import read_events_sink
from pubsub2bq_spark.streaming.throughput import measure_stream_throughput
from pubsub2bq_spark.tables import load


@pytest.fixture(scope="module")
def measured(spark):
    return measure_stream_throughput(spark, SF_SMOKE)


def test_processing_time_delivery_is_complete_and_exact(spark, measured):
    expected = load(spark, SF_SMOKE, "events").count()
    sink = read_events_sink(measured["pipeline"])
    assert sink.count() == expected == measured["rows"]
    # exactly-once: no duplicated event across batch boundaries
    assert sink.select("event_id").distinct().count() == expected


def test_measurement_is_multi_batch_with_sane_figures(measured):
    # maxFilesPerTrigger slices the spool: a single-batch drain would
    # measure AvailableNow semantics, not a sustained cadence
    assert measured["n_batches"] >= 4
    assert 0 < measured["busy_sec"] <= measured["wall_sec"] + 0.5
    assert measured["rows_per_sec"] > 0
    assert 0 < measured["batch_p50_sec"] < 60

