"""End-to-end CDC pipeline test reproducing the reference lab's five
golden scenarios (SURVEY.md §5; README.md sections 4-7):

1. snapshot: 3 seed rows land with __deleted='false'
2. extra payload field `phone` is silently dropped (topic schema wins)
3. sink-only column `age` is NULL-filled, delivery continues
4. delete id=990 arrives as a normal row with __deleted='true'
5. sink drops `zipcode` → hard halt, zero new rows, checkpoint not
   advanced — and replay succeeds after the sink schema is restored
"""

from __future__ import annotations

import os

import pytest

from pubsub2bq_spark.plans.pipeline_spec import CdcPipelineSpec, RetryPolicy
from pubsub2bq_spark.sources import cdc_fixtures as fx
from pubsub2bq_spark.streaming.cdc import CdcPipeline
from pubsub2bq_spark.streaming.reconcile import SchemaMismatchError


def make_spec(tmp: str, sink_schema, checkpoint="cp") -> CdcPipelineSpec:
    return CdcPipelineSpec(
        spool_dir=os.path.join(tmp, "spool"),
        sink_dir=os.path.join(tmp, "sink"),
        dlq_dir=os.path.join(tmp, "dlq"),
        checkpoint_dir=os.path.join(tmp, checkpoint),
        envelope_schema=fx.ENVELOPE_SCHEMA,
        topic_schema=fx.TOPIC_SCHEMA_V1,
        sink_schema=sink_schema,
        retry=RetryPolicy(max_attempts=2, backoff_seconds=0.0),
    )


@pytest.fixture()
def tmp(tmp_path):
    return str(tmp_path)


def sink_rows(pipeline):
    return {r["id"]: r.asDict() for r in pipeline.read_sink().collect()}


def test_golden_snapshot_and_evolution(spark, tmp):
    spec = make_spec(tmp, fx.SINK_SCHEMA_V1)
    fx.write_segment(spec.spool_dir, "000_snapshot", fx.snapshot_events())
    fx.write_segment(spec.spool_dir, "001_noise", fx.noise_other_table())

    p = CdcPipeline(spark, spec)
    p.run_available_now()

    rows = sink_rows(p)
    # Scenario 1: exactly the 3 seed rows; include-list dropped the noise.
    assert set(rows) == {990, 991, 992}
    assert rows[990]["first_name"] == "Tom"
    assert all(r["__deleted"] == "false" for r in rows.values())

    # Scenario 2: insert with extra `phone` field → lands without phone.
    fx.write_segment(spec.spool_dir, "002_insert994", fx.insert_994_with_phone())
    p.run_available_now()
    rows = sink_rows(p)
    assert 994 in rows and "phone" not in rows[994]
    assert rows[994]["email"] == "vijay@corp.com"

    # Scenario 3: sink gains an `age` column → NULL-filled, delivery continues.
    spec.sink_schema = fx.SINK_SCHEMA_WITH_AGE
    fx.write_segment(spec.spool_dir, "003_insert995", fx.insert_995())
    p.run_available_now()
    rows = {r["id"]: r.asDict() for r in p.read_sink().collect()}
    assert rows[995]["age"] is None

    # Scenario 4: delete arrives as a row with __deleted='true'.
    fx.write_segment(spec.spool_dir, "004_delete990", fx.delete_990())
    p.run_available_now()
    deleted = [
        r
        for r in p.read_sink().collect()
        if r["id"] == 990 and r["__deleted"] == "true"
    ]
    assert len(deleted) == 1
    assert deleted[0]["first_name"] == "Tom"  # delete payload from `before`

    # Scenario 5: sink drops zipcode (topic-schema column) → hard halt,
    # zero new rows, checkpoint not advanced.
    n_before = p.read_sink().count()
    spec.sink_schema = fx.SINK_SCHEMA_V2
    fx.write_segment(spec.spool_dir, "005_insert996", fx.insert_996())
    with pytest.raises(SchemaMismatchError):
        p.run_available_now()
    assert p.read_sink().count() == n_before  # zero rows delivered

    # Replay: restore the sink schema; the same checkpoint re-delivers the
    # stuck batch (offsets were never committed for the failed epoch).
    spec.sink_schema = fx.SINK_SCHEMA_WITH_AGE
    p.run_available_now()
    rows = {r["id"]: r.asDict() for r in p.read_sink().collect()}
    assert 996 in rows


def test_raw_tap_wire_shape(spark, tmp):
    """Inspection tap shows data / ordering_key / attributes
    (/root/reference/README.md:290-295)."""
    spec = make_spec(tmp, fx.SINK_SCHEMA_V1)
    fx.write_segment(spec.spool_dir, "000_insert994", fx.insert_994_with_phone())
    p = CdcPipeline(spark, spec)
    msgs = p.raw_tap_batch().collect()
    assert len(msgs) == 1
    m = msgs[0]
    assert '"phone":"508-555-1212"' in m["data"]  # wire still carries phone
    assert m["ordering_key"] == '{"id":994}'
    assert m["attributes"]["googclient_schemaencoding"] == "JSON"
    assert m["attributes"]["googclient_schemarevisionid"] == "rev1"


def test_dead_letter_on_corrupt_payload(spark, tmp):
    """Malformed messages route to the DLQ with a reason; valid rows in the
    same batch still deliver."""
    import json

    spec = make_spec(tmp, fx.SINK_SCHEMA_V1)
    os.makedirs(spec.spool_dir, exist_ok=True)
    # One valid event; corruption is injected at the wire stage by writing
    # a pre-serialized spool file whose second line is broken JSON inside
    # the envelope's data... simpler: corrupt envelope rows are unparseable
    # by the envelope schema and Spark's json source drops nulls; so instead
    # test the topic-schema validation split directly through the pipeline's
    # publish+deliver path with a tampered `data` payload.
    fx.write_segment(spec.spool_dir, "000_snapshot", fx.snapshot_events())
    p = CdcPipeline(spark, spec)
    p.run_available_now()

    # Tamper: deliver a batch whose data column is truncated JSON.
    from pyspark.sql import functions as F

    msgs = p.raw_tap_batch().withColumn(
        "data", F.when(F.col("ordering_key") == '{"id":990}', F.lit('{"id":99')).otherwise(F.col("data"))
    )
    p._deliver(msgs, epoch_id=999)
    dlq = p.read_dlq().collect()
    assert len(dlq) == 1
    assert dlq[0]["dlq_reason"] == "schema_validation_failed"
    assert dlq[0]["delivery_attempts"] == 1
    # valid rows of that batch still delivered (3 snapshot + 2 valid re-sent)
    assert p.read_sink().count() == 3 + 2


def test_per_message_retry_exhaustion_dead_letters(spark, tmp):
    """Transient sink failures NACK the batch (offsets uncommitted, one
    logged attempt per message); at the attempt cap the messages route to
    the DLQ with their real attempt count and the batch drains
    (reference: max_delivery_attempts=5, terraform/main.tf:402-409)."""
    spec = make_spec(tmp, fx.SINK_SCHEMA_V1)
    spec.retry = RetryPolicy(max_attempts=3, backoff_seconds=0.0)
    fx.write_segment(spec.spool_dir, "000_snapshot", fx.snapshot_events())
    p = CdcPipeline(spark, spec)

    real_write = p._write_sink
    p._write_sink = lambda projected: (_ for _ in ()).throw(IOError("sink outage"))
    for _ in range(spec.retry.max_attempts):
        with pytest.raises(Exception):
            p.run_available_now()

    # Outage ends, but the messages have exhausted their attempts:
    # redelivery routes them to the DLQ and commits the batch.
    p._write_sink = real_write
    p.run_available_now()
    dlq = p.read_dlq().collect()
    assert len(dlq) == 3
    assert all(r["dlq_reason"] == "delivery_failed" for r in dlq)
    assert all(r["delivery_attempts"] == 3 for r in dlq)
    assert p.read_sink().count() == 0  # nothing ever reached the sink
    assert not os.path.isdir(p._nack_dir)  # delivery state settled

    # The stream is drained: a later, healthy message delivers normally.
    fx.write_segment(spec.spool_dir, "001_insert994", fx.insert_994_with_phone())
    p.run_available_now()
    assert p.read_sink().count() == 1


def test_transient_failure_recovers_without_dlq(spark, tmp):
    """Failures below the cap redeliver and succeed: no DLQ rows, all
    messages land, nack log cleared."""
    spec = make_spec(tmp, fx.SINK_SCHEMA_V1)
    spec.retry = RetryPolicy(max_attempts=5, backoff_seconds=0.0)
    fx.write_segment(spec.spool_dir, "000_snapshot", fx.snapshot_events())
    p = CdcPipeline(spark, spec)

    real_write = p._write_sink
    fails = {"left": 2}

    def flaky(projected):
        if fails["left"] > 0:
            fails["left"] -= 1
            raise IOError("sink outage")
        real_write(projected)

    p._write_sink = flaky
    for _ in range(2):
        with pytest.raises(Exception):
            p.run_available_now()
    p.run_available_now()

    assert p.read_sink().count() == 3
    assert not os.path.exists(spec.dlq_dir) or p.read_dlq().count() == 0
    assert not os.path.isdir(p._nack_dir)


def test_schema_registry_survives_restart(spark, tmp):
    """T2: revision history persists with the checkpoint; after a restart
    a fresh registry over the same dir parses old-revision messages
    (reference: debezium.properties schema history topic)."""
    from pyspark.sql import types as T

    from pubsub2bq_spark.streaming.schema_registry import SchemaRegistry

    history_dir = os.path.join(tmp, "cp", "schema_history")
    reg = SchemaRegistry(persist_dir=history_dir)
    reg.add("r1", T.StructType([T.StructField("k", T.LongType())]))
    reg.add(
        "r2",
        T.StructType(
            [T.StructField("k", T.LongType()), T.StructField("extra", T.StringType())]
        ),
    )
    del reg  # "restart"

    recovered = SchemaRegistry(persist_dir=history_dir)
    wire = spark.createDataFrame(
        [(1, '{"k": 7}', "r1"), (2, '{"k": 8, "extra": "x"}', "r2")],
        "event_id bigint, data string, revision_id string",
    )
    rows = {
        r["event_id"]: r.asDict()
        for r in recovered.parse(wire, data_col="data", revision_col="revision_id").collect()
    }
    assert rows[1]["k"] == 7 and rows[1]["extra"] is None
    assert rows[2]["k"] == 8 and rows[2]["extra"] == "x"
    # Monotonicity still enforced after recovery.
    with pytest.raises(ValueError):
        recovered.add("r1", T.StructType([]))


def test_retention_prunes_old_spool_segments(spark, tmp):
    """T3 retention: segments older than the sink subscription's
    message_retention_duration (main.tf:401) are pruned; newer ones
    survive and stay replayable."""
    spec = make_spec(tmp, fx.SINK_SCHEMA_V1)
    old = fx.write_segment(spec.spool_dir, "000_old", fx.snapshot_events())
    new = fx.write_segment(spec.spool_dir, "001_new", fx.insert_995())
    now = os.path.getmtime(new)
    # Age the first segment past the 604800s default retention window.
    os.utime(old, (now - 700_000, now - 700_000))
    p = CdcPipeline(spark, spec)
    pruned = p.prune_spool(now_s=now)
    assert pruned == [old]
    assert os.path.exists(new)
    assert p.prune_spool(now_s=now) == []  # idempotent


def test_table_ttl_expires_sink_and_dlq_fragments(spark, tmp):
    """D4 TTL: with delivery.table_ttl_seconds set (reference: evolved
    sink table recreated with a 3600 s expiration, README.md:387-392),
    the post-commit retention pass drops sink/DLQ fragments whose write
    time aged past the TTL; fresh fragments survive and the sink stays
    readable. Unset TTL (the default) never deletes anything."""
    from pubsub2bq_spark.plans.pipeline_spec import DeliveryConfig

    spec = make_spec(tmp, fx.SINK_SCHEMA_V1)
    spec.delivery = DeliveryConfig(table_ttl_seconds=3600)
    fx.write_segment(spec.spool_dir, "000_snapshot", fx.snapshot_events())
    p = CdcPipeline(spark, spec)
    p.run_available_now()
    assert p.read_sink().count() == 3

    # Age every current sink fragment past the TTL, then deliver a new
    # batch: its post-commit pass must expire the old fragments while the
    # new batch's rows survive.
    data_files = [
        os.path.join(spec.sink_dir, n)
        for n in os.listdir(spec.sink_dir)
        if not n.startswith(("_", "."))
    ]
    assert data_files
    for path in data_files:
        old = os.path.getmtime(path) - 4000
        os.utime(path, (old, old))
    fx.write_segment(spec.spool_dir, "001_insert995", fx.insert_995())
    p.run_available_now()

    remaining = sink_rows(p)
    assert set(remaining) == {995}  # snapshot rows expired, new row live
    for path in data_files:
        assert not os.path.exists(path)
    # Explicit pass is idempotent once nothing else has aged out.
    assert p.enforce_table_retention(now_s=os.path.getmtime(
        fx.write_segment(spec.spool_dir, "002_marker", [])
    )) == []


def test_table_ttl_unset_never_deletes(spark, tmp):
    spec = make_spec(tmp, fx.SINK_SCHEMA_V1)
    fx.write_segment(spec.spool_dir, "000_snapshot", fx.snapshot_events())
    p = CdcPipeline(spark, spec)
    p.run_available_now()
    for n in os.listdir(spec.sink_dir):
        path = os.path.join(spec.sink_dir, n)
        os.utime(path, (1, 1))  # ancient
    assert p.enforce_table_retention(now_s=os.path.getmtime(spec.sink_dir) + 1e9) == []
    assert p.read_sink().count() == 3


def test_ack_deadline_redelivery(spark, tmp):
    """S6/T3 ack deadline (main.tf:381, 60 s): a re-pull inside the lease
    sees nothing; after the lease expires, exactly the unacked messages
    come back; acked ones never do."""
    spec = make_spec(tmp, fx.SINK_SCHEMA_V1)
    fx.write_segment(spec.spool_dir, "000_snapshot", fx.snapshot_events())
    p = CdcPipeline(spark, spec)
    pulled = p.raw_tap_batch()
    acked = spark.createDataFrame([('{"id":990}',)], "ordering_key string")
    t0 = 5_000_000
    assert p.tap_redeliverable(pulled, t0, acked, now_ms=t0 + 59_999).count() == 0
    redelivered = p.tap_redeliverable(pulled, t0, acked, now_ms=t0 + 60_000)
    keys = sorted(r["ordering_key"] for r in redelivered.collect())
    assert keys == ['{"id":991}', '{"id":992}']


def test_raw_tap_respects_retention_window(spark, tmp):
    """S6 tap retention (main.tf:379, 1200s): with now_ms given, only
    messages inside the window are visible; without it, everything is
    (the default the green CORRECTNESS row checks)."""
    spec = make_spec(tmp, fx.SINK_SCHEMA_V1)
    fx.write_segment(spec.spool_dir, "000_snapshot", fx.snapshot_events(ts_ms=1_000))
    fx.write_segment(
        spec.spool_dir, "001_recent", fx.insert_995(ts_ms=10_000_000)
    )
    p = CdcPipeline(spark, spec)
    assert p.raw_tap_batch().count() == 4
    window_ms = spec.delivery.tap_retention_seconds * 1000
    recent = p.raw_tap_batch(now_ms=10_000_000 + window_ms)
    assert recent.count() == 1


class TestAvroCodecGolden:
    """Spec-faithfulness goldens for the pure-Python Avro binary codec
    (functions/avro_codec.py) — the wire twin of the JSON schema leg."""

    def _rec(self, **over):
        rec = {
            "id": 7, "first_name": "ada", "last_name": "lovelace",
            "email": "ada@example.com", "zipcode": 12345,
            "city": "london", "country": "UK", "__deleted": "false",
        }
        rec.update(over)
        return rec

    def test_round_trip_identity(self):
        from pubsub2bq_spark.functions.avro_codec import decode_record, encode_record

        rec = self._rec()
        assert decode_record(encode_record(rec)) == rec

    def test_zigzag_known_bytes(self):
        """Avro spec examples: 0→00, -1→01, 1→02, -64→7f, 64→80 01."""
        from pubsub2bq_spark.functions.avro_codec import encode_long

        for n, expect in [(0, b"\x00"), (-1, b"\x01"), (1, b"\x02"),
                          (-64, b"\x7f"), (64, b"\x80\x01")]:
            out = bytearray()
            encode_long(n, out)
            assert bytes(out) == expect, n

    def test_negative_and_large_ints_round_trip(self):
        from pubsub2bq_spark.functions.avro_codec import decode_long, encode_long

        for n in [-1, -2**31, 2**31 - 1, 2**62, -2**62, 0]:
            out = bytearray()
            encode_long(n, out)
            got, pos = decode_long(bytes(out), 0)
            assert got == n and pos == len(out)

    def test_truncation_raises(self):
        import pytest

        from pubsub2bq_spark.functions.avro_codec import decode_record, encode_record

        full = encode_record(self._rec())
        for cut in (1, 3, len(full) // 2, len(full) - 1):
            with pytest.raises(ValueError):
                decode_record(full[:cut])

    def test_trailing_bytes_raise(self):
        import pytest

        from pubsub2bq_spark.functions.avro_codec import decode_record, encode_record

        with pytest.raises(ValueError):
            decode_record(encode_record(self._rec()) + b"\x00")

    def test_unicode_strings_survive(self):
        from pubsub2bq_spark.functions.avro_codec import decode_record, encode_record

        rec = self._rec(first_name="Grüße", city="東京")
        assert decode_record(encode_record(rec)) == rec

    def test_overlong_varint_raises(self):
        import pytest

        from pubsub2bq_spark.functions.avro_codec import decode_long

        with pytest.raises(ValueError):
            decode_long(b"\x80" * 11 + b"\x01", 0)


def test_processing_time_soak_kill_mid_batch_exactly_once(spark, tmp):
    """The delivery-semantics case AvailableNow cannot
    exercise: under a processing-time trigger, the query is killed
    MID-BATCH (after the sink write, before the epoch's delivery commit
    — the crash window a plain parquet append turns into duplicates),
    then restarted. The sink must hold each message exactly once."""
    import time as _time

    spec = make_spec(tmp, fx.SINK_SCHEMA_V1)
    fx.write_segment(spec.spool_dir, "000_snapshot", fx.snapshot_events())
    p = CdcPipeline(spark, spec)

    # Phase 1: continuous trigger delivers the first segment.
    q = p.run_processing_time("50 milliseconds")
    try:
        deadline = _time.time() + 60
        while _time.time() < deadline:
            try:
                if p.read_sink().count() == 3:
                    break
            except Exception:
                pass  # sink dir not created yet
            _time.sleep(0.2)
        assert p.read_sink().count() == 3
    finally:
        q.stop()
        q.awaitTermination()

    # Phase 2: new segment arrives; the delivery hop completes the REAL
    # sink write and then dies — a crash between sink write and commit.
    real_write = p._write_sink

    def write_then_die(projected):
        real_write(projected)
        raise RuntimeError("injected crash after sink write")

    p._write_sink = write_then_die
    q2 = p.run_processing_time("50 milliseconds")
    fx.write_segment(spec.spool_dir, "001_insert995", fx.insert_995())
    deadline = _time.time() + 60
    while q2.isActive and _time.time() < deadline:
        _time.sleep(0.2)
    assert not q2.isActive  # the injected crash killed the query mid-batch
    with pytest.raises(Exception):
        q2.awaitTermination()
    # The crash window is real: the row IS in the sink, the offset is not
    # committed — a replay with a plain append would now duplicate it.
    assert p.read_sink().filter("id = 995").count() == 1

    # Phase 3: restart (fresh pipeline object, fault gone) and drain.
    p2 = CdcPipeline(spark, spec)
    p2.run_available_now()
    rows = p2.read_sink().groupBy("id").count().collect()
    assert {r["id"] for r in rows} == {990, 991, 992, 995}
    dupes = [(r["id"], r["count"]) for r in rows if r["count"] != 1]
    assert not dupes, f"replayed epoch duplicated rows: {dupes}"


def test_deliver_replay_after_marker_is_noop(spark, tmp):
    """The second crash window: epoch delivered AND marker written, but
    the engine died before the offset commit. The replayed _deliver
    must be a pure no-op (no duplicate sink rows, no duplicate DLQ)."""
    spec = make_spec(tmp, fx.SINK_SCHEMA_V1)
    fx.write_segment(spec.spool_dir, "000_snapshot", fx.snapshot_events())
    p = CdcPipeline(spark, spec)
    msgs = p.raw_tap_batch().select("data", "ordering_key", "attributes", "ts_ms")
    p._deliver(msgs, epoch_id=7)
    assert p.read_sink().count() == 3
    assert os.path.exists(p._delivery_marker(7))
    p._deliver(msgs, epoch_id=7)  # replay of a committed epoch
    assert p.read_sink().count() == 3  # exactly once
    # while a NEW epoch with the same payload appends normally
    p._deliver(msgs, epoch_id=8)
    assert p.read_sink().count() == 6


def test_forward_breaking_verdict_is_the_hard_halt_evolution(spark, tmp):
    """schema_compat ties to mismatch_halt: the
    registry's compatibility verdict and the pipeline's hard halt are
    the same fact stated twice. Dropping required `zipcode` (fixture
    pair r1 -> r4) is forward-BREAKING — an old reader, i.e. the
    standing sink contract, cannot consume data that stopped carrying
    the column — and the live delivery path refuses exactly that
    evolution with SchemaMismatchError before writing a row."""
    from pubsub2bq_spark.operators.cdc_semantics import (
        _compat_fixture_registry,
    )

    reg = _compat_fixture_registry()
    backward, forward, verdict = reg.compat("r1", "r4")
    assert (backward, forward, verdict) == (True, False, "BACKWARD")

    spec = make_spec(tmp, fx.SINK_SCHEMA_V1)
    fx.write_segment(spec.spool_dir, "000_snapshot", fx.snapshot_events())
    p = CdcPipeline(spark, spec)
    p.run_available_now()
    spec.sink_schema = fx.SINK_SCHEMA_V2  # the r1 -> r4 shape, live
    fx.write_segment(spec.spool_dir, "001_insert996", fx.insert_996())
    with pytest.raises(SchemaMismatchError):
        p.run_available_now()

    # The NONE verdict (type change, r1 -> r5) breaks BOTH directions —
    # a fortiori refused, since the halt fires on the weaker forward
    # break alone. add-nullable (r1 -> r2) is FULL: the evolution the
    # pipeline accepts and NULL-fills (golden scenario 3).
    assert reg.compat("r1", "r5")[2] == "NONE"
    assert reg.compat("r1", "r2")[2] == "FULL"


def test_clean_delivery_does_not_list_a_full_sink(spark, tmp, monkeypatch):
    """Per-batch filesystem work does not grow with the sink: a clean
    delivery checks its epoch's first part name instead of listing the
    sink directory. A replay, whose part 0 exists, still lists it and
    scrubs its stragglers."""
    spec = make_spec(tmp, fx.SINK_SCHEMA_V1)
    fx.write_segment(spec.spool_dir, "000_snapshot", fx.snapshot_events())
    os.makedirs(spec.sink_dir)
    for i in range(500):  # '_' names are invisible to parquet readers
        open(os.path.join(spec.sink_dir, f"_filler-{i}"), "w").close()
    p = CdcPipeline(spark, spec)
    msgs = p.raw_tap_batch()

    listed = []
    real_listdir = os.listdir
    monkeypatch.setattr(os, "listdir", lambda d=".": listed.append(d) or real_listdir(d))
    p._deliver(msgs, epoch_id=7)
    assert spec.sink_dir not in listed
    assert p.read_sink().count() == 3

    os.remove(p._delivery_marker(7))  # killed before the marker: replay
    p._deliver(msgs, epoch_id=7)
    assert spec.sink_dir in listed
    assert p.read_sink().count() == 3


def test_delivery_commits_keep_one_marker(spark, tmp):
    """Each epoch's marker replaces the earlier ones: Spark commits epoch
    N-1's offsets before it starts epoch N, so no replay reads them."""
    spec = make_spec(tmp, fx.SINK_SCHEMA_V1)
    p = CdcPipeline(spark, spec)
    segments = [fx.snapshot_events(), fx.insert_994_with_phone(), fx.insert_995()]
    for i, events in enumerate(segments):
        fx.write_segment(spec.spool_dir, f"{i:03d}", events)
        p.run_available_now()
    assert os.listdir(p._commit_dir) == [f"epoch-{len(segments) - 1}"]
    assert p.read_sink().count() == 5
