"""Pipeline-level operators (SURVEY.md §2.1/§2.3/§2.11): each query
runs the real Structured-Streaming CDC pipeline on the golden fixtures
in a fresh temp dir and returns its observable outcome. Outcomes are
deterministic, so most get literal-VALUES oracles — the driver's hash
check then asserts the reference's delivery semantics end-to-end.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pubsub2bq_spark.plans.pipeline_spec import CdcPipelineSpec, RetryPolicy
from pubsub2bq_spark.registry import register
from pubsub2bq_spark.sources import cdc_fixtures as fx
from pubsub2bq_spark.streaming.cdc import CdcPipeline
from pubsub2bq_spark.streaming.reconcile import SchemaMismatchError
from pubsub2bq_spark.tables import fan_out, load, scratch_dir


def _fresh_spec(sink_schema=None, **kw) -> CdcPipelineSpec:
    tmp = scratch_dir("cdcq_")
    return CdcPipelineSpec(
        spool_dir=os.path.join(tmp, "spool"),
        sink_dir=os.path.join(tmp, "sink"),
        dlq_dir=os.path.join(tmp, "dlq"),
        checkpoint_dir=os.path.join(tmp, "cp"),
        envelope_schema=fx.ENVELOPE_SCHEMA,
        topic_schema=fx.TOPIC_SCHEMA_V1,
        sink_schema=sink_schema or fx.SINK_SCHEMA_V1,
        retry=RetryPolicy(max_attempts=2, backoff_seconds=0.0),
        **kw,
    )


def _run_golden_log(spark: SparkSession) -> CdcPipeline:
    """Snapshot + evolution sequence (no halt): 6-row append log."""
    spec = _fresh_spec(sink_schema=fx.SINK_SCHEMA_WITH_AGE)
    fx.write_segment(spec.spool_dir, "000_snapshot", fx.snapshot_events())
    fx.write_segment(spec.spool_dir, "001_noise", fx.noise_other_table())
    fx.write_segment(spec.spool_dir, "002_insert994", fx.insert_994_with_phone())
    fx.write_segment(spec.spool_dir, "003_insert995", fx.insert_995())
    fx.write_segment(spec.spool_dir, "004_delete990", fx.delete_990())
    p = CdcPipeline(spark, spec)
    p.run_available_now()
    return p


@register(
    "cdc_source",
    oracle="""
        SELECT * FROM (VALUES
            (990, 'Tom',   'tom@corp.com',   'false'),
            (990, 'Tom',   'tom@corp.com',   'true'),
            (991, 'Phil',  'phil@corp.com',  'false'),
            (992, 'Ted',   'ted@corp.com',   'false'),
            (994, 'Vijay', 'vijay@corp.com', 'false'),
            (995, 'Anna',  'anna@corp.com',  'false')
        ) AS t(id, first_name, email, __deleted)
    """,
    doc="Full CDC pipeline end-to-end (S1): snapshot + inserts + delete "
        "through spool→unwrap→rewrite→publish→validate→project→parquet "
        "sink; returns the append log. Extra payload field `phone` is "
        "gone, the delete is a __deleted='true' row, include-list noise "
        "is absent — the reference's golden outcomes as one table.",
    scale_notes="Micro-batch file source; every stage partition-parallel. "
                "Checkpointed offsets give exactly-once to the idempotent "
                "sink.",
)
def cdc_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _run_golden_log(spark)
    return p.read_sink().select("id", "first_name", "email", "__deleted")


@register(
    "sink_append",
    oracle="""
        SELECT * FROM (VALUES
            (991, 'Phil',  2174),
            (992, 'Ted',   2174),
            (994, 'Vijay', 2174),
            (995, 'Anna',  2174)
        ) AS t(id, first_name, zipcode)
    """,
    doc="Sink append + last-writer-wins compaction (S4+T4): materialize "
        "current state from the append log — latest row per ordering key, "
        "tombstones (__deleted='true') dropped.",
    scale_notes="Compaction = one shuffle on the key (row_number desc); at "
                "100 TB this is the periodic OPTIMIZE pass over the CDC log.",
)
def sink_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    p = _run_golden_log(spark)
    log = p.read_sink().withColumn("_seq", F.monotonically_increasing_id())
    w = Window.partitionBy("id").orderBy(F.col("_seq").desc())
    latest = log.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        latest.filter(F.col("__deleted") == "false")
        .select("id", "first_name", "zipcode")
    )


@register(
    "raw_tap",
    oracle="""
        SELECT
          '{"id":994,"first_name":"Vijay","last_name":"BagofDonuts",'
          || '"email":"vijay@corp.com","zipcode":2174,"city":"Arlington",'
          || '"country":"USA","phone":"508-555-1212","__deleted":"false"}'
              AS data,
          '{"id":994}' AS ordering_key,
          'rev1'       AS revision_id
    """,
    doc="Inspection tap (S6): the raw wire message — data JSON (still "
        "carrying `phone`!), ordering key = PK JSON, schema-revision "
        "attribute (/root/reference/README.md:290-295).",
)
def raw_tap(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = _fresh_spec()
    fx.write_segment(spec.spool_dir, "000_insert994", fx.insert_994_with_phone())
    p = CdcPipeline(spark, spec)
    return p.raw_tap_batch().select(
        "data",
        "ordering_key",
        F.col("attributes")["googclient_schemarevisionid"].alias("revision_id"),
    )


@register(
    "dead_letter",
    oracle="""
        SELECT 'schema_validation_failed' AS dlq_reason,
               1 AS delivery_attempts,
               1 AS n_messages
    """,
    doc="Dead-letter split (S5): a corrupt payload routes to the DLQ table "
        "with a reason + attempt count while valid rows in the same batch "
        "deliver (reference: dead_letter_policy after max 5 attempts, "
        "/root/reference/terraform/main.tf:406-409).",
)
def dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = _fresh_spec()
    fx.write_segment(spec.spool_dir, "000_snapshot", fx.snapshot_events())
    p = CdcPipeline(spark, spec)
    p.run_available_now()
    tampered = p.raw_tap_batch().withColumn(
        "data",
        F.when(F.col("ordering_key") == '{"id":990}', F.lit('{"id":99')).otherwise(
            F.col("data")
        ),
    )
    # Distinct manual epoch: the streaming run above already delivered
    # AND committed epoch 0, and delivery is exactly-once per epoch —
    # reusing id 0 here would read as a replay and no-op (r9).
    p._deliver(tampered, epoch_id=999_000)
    return (
        p.read_dlq()
        .groupBy("dlq_reason", "delivery_attempts")
        .agg(F.count(F.lit(1)).cast("int").alias("n_messages"))
        .select("dlq_reason", F.col("delivery_attempts").cast("int"), "n_messages")
    )


@register(
    "mismatch_halt",
    oracle="""
        SELECT TRUE AS halted, 3 AS rows_before, 3 AS rows_after,
               TRUE AS replay_delivered
    """,
    doc="Schema-mismatch hard halt (D6, negative test): sink drops "
        "`zipcode` → delivery halts with zero new rows and the checkpoint "
        "NOT advanced; restoring the schema replays the stuck batch "
        "(/root/reference/README.md:441-450).",
)
def mismatch_halt(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = _fresh_spec()
    fx.write_segment(spec.spool_dir, "000_snapshot", fx.snapshot_events())
    p = CdcPipeline(spark, spec)
    p.run_available_now()
    rows_before = p.read_sink().count()

    spec.sink_schema = fx.SINK_SCHEMA_V2  # drops zipcode → mismatch
    fx.write_segment(spec.spool_dir, "001_insert996", fx.insert_996())
    halted = False
    try:
        p.run_available_now()
    except SchemaMismatchError:
        halted = True
    rows_after = p.read_sink().count()

    spec.sink_schema = fx.SINK_SCHEMA_V1  # restore → replay from checkpoint
    p.run_available_now()
    replayed = (
        p.read_sink().filter(F.col("id") == 996).count() == 1
    )
    return spark.createDataFrame(
        [(halted, rows_before, rows_after, replayed)],
        "halted boolean, rows_before bigint, rows_after bigint, replay_delivered boolean",
    )


@register(
    "table_ttl",
    oracle="""
        SELECT * FROM (VALUES
            ('rows_before_ttl', 3),
            ('rows_live',       1),
            ('live_ids',        995)
        ) AS t(metric, value)
    """,
    doc="Sink-table TTL (D4): the reference recreates the evolved sink "
        "table with a 3600 s expiration (/root/reference/README.md:"
        "387-392) and the tap subscription carries an expiration policy "
        "(terraform/main.tf:382-384). Here delivery.table_ttl_seconds "
        "arms a post-commit retention pass in foreachBatch "
        "(CdcPipeline.enforce_table_retention): a snapshot batch is "
        "delivered, its fragments aged past the TTL, and a second batch "
        "delivered — the pass expires the aged fragments while the fresh "
        "batch's rows survive.",
    scale_notes="BigQuery expiration is wall-clock age, so the parquet "
                "analog prunes appended fragments by write time — each "
                "micro-batch append is one fragment, so file-level delete "
                "IS the time-partition drop; nothing data-sized is read "
                "or moved. With a lakehouse sink this becomes DELETE "
                "WHERE ingest_ts < now()-ttl / expire-snapshots, still "
                "metadata-rate.",
)
def table_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pubsub2bq_spark.plans.pipeline_spec import DeliveryConfig

    spec = _fresh_spec()
    spec.delivery = DeliveryConfig(table_ttl_seconds=3600)
    fx.write_segment(spec.spool_dir, "000_snapshot", fx.snapshot_events())
    p = CdcPipeline(spark, spec)
    p.run_available_now()
    rows_before = p.read_sink().count()
    # Age the snapshot fragments past the TTL, then deliver a new batch:
    # its post-commit retention pass expires them.
    for name in os.listdir(spec.sink_dir):
        path = os.path.join(spec.sink_dir, name)
        if os.path.isfile(path) and not name.startswith(("_", ".")):
            aged = os.path.getmtime(path) - spec.delivery.table_ttl_seconds - 600
            os.utime(path, (aged, aged))
    fx.write_segment(spec.spool_dir, "001_insert995", fx.insert_995())
    p.run_available_now()
    live = p.read_sink()
    return spark.createDataFrame(
        [
            ("rows_before_ttl", rows_before),
            ("rows_live", live.count()),
            ("live_ids", live.agg(F.max("id")).first()[0]),
        ],
        "metric string, value int",
    )


@register(
    "ack_deadline",
    oracle="""
        SELECT * FROM (VALUES
            ('pulled',                     4),
            ('redeliverable_in_deadline',  0),
            ('redeliverable_post_deadline', 2),
            ('redelivered_id_992',         1),
            ('redelivered_id_995',         1)
        ) AS t(metric, value)
    """,
    doc="Ack-deadline semantics on the inspection tap (S6/T3): the "
        "reference's pull subscription leases messages for "
        "ack_deadline_seconds = 60 (/root/reference/terraform/main.tf:"
        "381) — unacked messages are redelivered after the lease, acked "
        "ones are not. A pull session receives the 4-message fixture "
        "log, acks two; a re-pull inside the deadline sees nothing "
        "(leases live), a re-pull after it sees exactly the two unacked "
        "messages.",
    scale_notes="The ack ledger joins as a broadcast left-anti against "
                "the pulled frame — delivery-queue-sized, never "
                "data-sized. In Structured Streaming the micro-batch "
                "commit IS the ack (this modeling exists for tap/pull "
                "consumers outside the checkpointed pipeline); at 100 TB "
                "the ledger is the broker's per-message state, not an "
                "engine-side table.",
)
def ack_deadline(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = _fresh_spec()
    fx.write_segment(spec.spool_dir, "000_snapshot", fx.snapshot_events())
    fx.write_segment(spec.spool_dir, "001_insert995", fx.insert_995())
    p = CdcPipeline(spark, spec)

    pulled = p.raw_tap_batch()  # 4 messages: r990, r991, r992, c995
    t0 = 10_000_000  # lease time (ms)
    acked = spark.createDataFrame(
        [('{"id":990}',), ('{"id":991}',)], "ordering_key string"
    )
    in_deadline = p.tap_redeliverable(pulled, t0, acked, now_ms=t0 + 30_000)
    post_deadline = p.tap_redeliverable(pulled, t0, acked, now_ms=t0 + 90_000)
    counts = spark.createDataFrame(
        [
            ("pulled", pulled.count()),
            ("redeliverable_in_deadline", in_deadline.count()),
            ("redeliverable_post_deadline", post_deadline.count()),
        ],
        "metric string, value int",
    )
    redelivered = post_deadline.select(
        F.concat(
            F.lit("redelivered_id_"),
            F.get_json_object("ordering_key", "$.id"),
        ).alias("metric"),
        F.lit(1).cast("int").alias("value"),
    )
    return counts.union(redelivered)


@register(
    "backfill_union",
    oracle="""
        SELECT * FROM (VALUES
            (990, 'Tom',   'true'),
            (991, 'Phil',  'false'),
            (992, 'Ted',   'false'),
            (994, 'Vijay', 'false'),
            (995, 'Anna',  'false')
        ) AS t(id, first_name, __deleted)
    """,
    doc="Datastream-style backfill + CDC (S8): batch snapshot of the "
        "source table unioned with the change stream, resolved by "
        "last-writer-wins on (ts_ms, is_stream) — the managed "
        "`--backfill-all` + continuous-CDC pattern "
        "(/root/reference/terraform/datastream.sh:111-119).",
    scale_notes="Snapshot is a plain parquet scan; the merge is one shuffle "
                "on the key. Backfill and live stream never block each "
                "other — the union is plan-level.",
)
def backfill_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # Batch snapshot: the seed rows as a parquet table (ts_ms=0: before all CDC).
    spec = _fresh_spec()
    snap_dir = os.path.join(os.path.dirname(spec.sink_dir), "snapshot")
    snap_rows = [
        (r["id"], r["first_name"], "false", 0) for r in fx.SEED_PEOPLE
    ]
    spark.createDataFrame(
        snap_rows, "id bigint, first_name string, __deleted string, ts_ms bigint"
    ).write.mode("overwrite").parquet(snap_dir)

    # CDC catch-up: inserts + a delete arriving after the snapshot.
    fx.write_segment(spec.spool_dir, "000_insert994", fx.insert_994_with_phone())
    fx.write_segment(spec.spool_dir, "001_insert995", fx.insert_995())
    fx.write_segment(spec.spool_dir, "002_delete990", fx.delete_990())
    p = CdcPipeline(spark, spec)
    p.run_available_now()

    snapshot = spark.read.parquet(snap_dir)
    stream_log = p.read_sink().select("id", "first_name", "__deleted", F.lit(1).alias("ts_ms"))
    merged = snapshot.unionByName(stream_log)
    w = Window.partitionBy("id").orderBy(F.col("ts_ms").desc())
    return (
        merged.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("id", "first_name", "__deleted")
    )


@register(
    "insert_values",
    oracle="""
        SELECT * FROM (VALUES
            (990, 'Tom',  2174),
            (991, 'Phil', 2174),
            (992, 'Ted',  2174)
        ) AS t(id, first_name, zipcode)
        ORDER BY id
    """,
    doc="INSERT ... VALUES into a catalog table (D2; reference seed rows "
        "/root/reference/sql/pubsub2bq.sql:8-13).",
)
def insert_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    tmp = scratch_dir("insq_")
    spark.sql("DROP TABLE IF EXISTS people_seed")
    spark.sql(
        f"""
        CREATE TABLE people_seed (id BIGINT, first_name STRING, zipcode BIGINT)
        USING parquet LOCATION '{tmp}/people_seed'
        """
    )
    spark.sql(
        """
        INSERT INTO people_seed VALUES
            (990, 'Tom', 2174), (991, 'Phil', 2174), (992, 'Ted', 2174)
        """
    )
    return spark.sql("SELECT id, first_name, zipcode FROM people_seed ORDER BY id")


@register(
    "clustered_write",
    oracle="""
        SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 4) AS sum_qty
        FROM lineitem GROUP BY l_returnflag
    """,
    doc="Clustered table write (L1): repartition + sortWithinPartitions on "
        "the cluster key before the parquet write, so row-group min/max "
        "stats enable key-range skipping (reference: LOAD DATA ... CLUSTER "
        "BY trip_id, /root/reference/sql/sp_demo_cleanroom.sql:43-47); "
        "round-trip verified by aggregating the rewritten table.",
    scale_notes="repartition(key)+sortWithinPartitions = one shuffle; at "
                "100 TB this is how you lay out a fact table for pruned "
                "scans on the cluster key.",
)
def clustered_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    tmp = scratch_dir("clusw_")
    li = load(spark, sf_dir, "lineitem")
    (
        li.repartition("l_returnflag")
        .sortWithinPartitions("l_returnflag", "l_orderkey")
        .write.mode("overwrite")
        .parquet(f"{tmp}/lineitem_clustered")
    )
    back = spark.read.parquet(f"{tmp}/lineitem_clustered")
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 4).alias("sum_qty")
    )


# ---- scale-rate CDC: the full pipeline over the whole events table ------

_EV_WIRE = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        # Wire payload carries `props`, which the topic schema below does
        # NOT include — the at-scale analog of the reference's `phone` drop.
        T.StructField("props", T.StringType()),
    ]
)

_EV_ENVELOPE = T.StructType(
    [
        T.StructField("before", _EV_WIRE),
        T.StructField("after", _EV_WIRE),
        T.StructField("op", T.StringType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField(
            "source",
            T.StructType(
                [T.StructField("db", T.StringType()), T.StructField("table", T.StringType())]
            ),
        ),
    ]
)

_EV_TOPIC = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("__deleted", T.StringType()),
    ]
)

# Sink carries one sink-only column (the `age` analog) → NULL-filled.
_EV_SINK = T.StructType(
    _EV_TOPIC.fields + [T.StructField("ingest_region", T.StringType())]
)


@register(
    "cdc_stream_events",
    oracle="""
        SELECT event_id, user_id, event_type, round(value, 4) AS value,
               CASE WHEN event_type = 'error' THEN 'true' ELSE 'false' END AS __deleted,
               CAST(NULL AS VARCHAR) AS ingest_region
        FROM events
    """,
    doc="The full CDC pipeline at table scale: every `events` row becomes "
        "a Debezium-style envelope ('error' events are deletes carrying "
        "only `before`), spooled as newline-JSON, streamed through "
        "publish → topic-schema validation → sink projection "
        "(`props` dropped, `ingest_region` NULL-filled), appended to the "
        "parquet sink, and read back. One oracle-checked query covers "
        "S1/S3/S4 + P1-P4 end-to-end at the benchmark scale factor — the "
        "throughput measurement for the engine's north-star pipeline.",
    scale_notes="Every stage is partition-parallel and shuffle-free: "
                "envelope encode, JSON spool write, streamed parse, "
                "projection, and sink append all run map-side (fan_out "
                "spreads the single-row-group local file; a real feed "
                "arrives pre-partitioned). Throughput scales linearly "
                "with executors; the checkpoint is the only coordination.",
)
def cdc_stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = events_cdc_spec(scratch_dir("cdc_events_"))
    spool_events(spark, sf_dir, spec)
    p = CdcPipeline(spark, spec)
    p.run_available_now()
    return read_events_sink(p)


def events_cdc_spec(
    tmp: str, max_files_per_trigger: int | None = None
) -> CdcPipelineSpec:
    """The events-table CDC pipeline spec under a scratch root — shared
    by the AvailableNow correctness query and the sustained-throughput
    measurement (streaming/throughput.py)."""
    return CdcPipelineSpec(
        spool_dir=os.path.join(tmp, "spool"),
        sink_dir=os.path.join(tmp, "sink"),
        dlq_dir=os.path.join(tmp, "dlq"),
        checkpoint_dir=os.path.join(tmp, "cp"),
        envelope_schema=_EV_ENVELOPE,
        topic_schema=_EV_TOPIC,
        sink_schema=_EV_SINK,
        db_include="analytics",
        table_include="events",
        ordering_key=("event_id",),
        retry=RetryPolicy(max_attempts=2, backoff_seconds=0.0),
        max_files_per_trigger=max_files_per_trigger,
    )


def spool_events(
    spark: SparkSession,
    sf_dir: str,
    spec: CdcPipelineSpec,
    segments: int | None = None,
) -> None:
    """Encode every `events` row as a Debezium-style envelope ('error'
    events are deletes carrying only `before`) and write the spool as
    newline-JSON segments. The segment count follows fan_out's
    partitioning (or an explicit ``segments``), so max_files_per_trigger
    slices the spool into a multi-batch feed."""
    ev = fan_out(load(spark, sf_dir, "events"), spark, target=segments)
    payload = F.struct("event_id", "user_id", "event_type", "value", "props")
    is_del = F.col("event_type") == "error"
    (
        ev.select(
            F.when(is_del, payload).alias("before"),
            F.when(~is_del, payload).alias("after"),
            F.when(is_del, F.lit("d")).otherwise(F.lit("c")).alias("op"),
            F.unix_millis(F.col("ts")).alias("ts_ms"),
            F.struct(
                F.lit("analytics").alias("db"), F.lit("events").alias("table")
            ).alias("source"),
        )
        .write.mode("overwrite")
        .json(spec.spool_dir)
    )


def read_events_sink(p: CdcPipeline) -> DataFrame:
    return p.read_sink().select(
        "event_id",
        "user_id",
        "event_type",
        F.round("value", 4).alias("value"),
        "__deleted",
        "ingest_region",
    )


@register(
    "stream_throughput",
    oracle="""
        SELECT event_id, user_id, event_type, round(value, 4) AS value,
               CASE WHEN event_type = 'error' THEN 'true' ELSE 'false' END AS __deleted,
               CAST(NULL AS VARCHAR) AS ingest_region
        FROM events
    """,
    doc="The CDC pipeline under its PRODUCTION trigger: the same events "
        "feed as cdc_stream_events, but delivered by "
        "run_processing_time() in flow-controlled micro-batches "
        "(maxFilesPerTrigger — the Pub/Sub max_outstanding analog) "
        "instead of the deterministic AvailableNow drain. The oracle "
        "asserts that sustained micro-batch delivery lands the exact "
        "same sink as the test trigger — no row lost, duplicated, or "
        "re-projected differently across batch boundaries. The bench "
        "harness reads the same run's StreamingQueryProgress to publish "
        "rows/sec + median batch latency (streaming/throughput.py).",
    scale_notes="Spool parse → validate → project → sink append are all "
                "map-side; busy-time rows/sec scales linearly with "
                "executors (no shuffle between source and sink). "
                "Measured r10 at sf0.1 (100k events, local[32]): see "
                "the CDC streaming throughput section of docs/SCALING.md.",
)
def stream_throughput(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pubsub2bq_spark.streaming.throughput import measure_stream_throughput

    m = measure_stream_throughput(spark, sf_dir)
    return read_events_sink(m["pipeline"])


def _derby_url(spark: SparkSession, db_dir: str) -> str:
    """Embedded-Derby JDBC URL; quiets derby.log into scratch space (the
    property is read once at engine boot, so set it before the first
    connection)."""
    spark.sparkContext._jvm.java.lang.System.setProperty(
        "derby.stream.error.file", os.path.join(db_dir, "derby.log")
    )
    return f"jdbc:derby:{os.path.join(db_dir, 'db')};create=true"


@register(
    "jdbc_snapshot_union",
    oracle="""
        SELECT * FROM (VALUES
            (990, 'Tom',   'true'),
            (991, 'Phil',  'false'),
            (992, 'Ted',   'false'),
            (994, 'Vijay', 'false'),
            (995, 'Anna',  'false')
        ) AS t(id, first_name, __deleted)
    """,
    doc="The JDBC leg of Datastream-style backfill (S1/S8 — "
        "backfill_union covers the parquet leg): the source table's "
        "initial snapshot is READ THROUGH spark.read.jdbc from an "
        "embedded Derby database (the in-container stand-in for the "
        "reference's MySQL, /root/reference/terraform/datastream.sh:"
        "111-119), range-partitioned on the primary key, then unioned "
        "with the CDC change stream and resolved last-writer-wins.",
    scale_notes="The snapshot read uses partitionColumn/numPartitions — "
                "Spark issues one ranged query per partition, which is "
                "exactly how a 100 TB MySQL backfill parallelizes "
                "(Datastream's ranged chunks). The union+resolve is the "
                "same single key shuffle as backfill_union; the database "
                "is only touched by the ranged SELECTs.",
)
def jdbc_snapshot_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    spec = _fresh_spec()
    db_dir = scratch_dir("derby_")
    url = _derby_url(spark, db_dir)
    driver = "org.apache.derby.jdbc.EmbeddedDriver"

    # Seed the "MySQL" table (id, first_name, deleted flag at snapshot time).
    seed = spark.createDataFrame(
        [(r["id"], r["first_name"], "false") for r in fx.SEED_PEOPLE],
        "id bigint, first_name string, __deleted string",
    )
    (
        seed.write.format("jdbc")
        .option("url", url)
        .option("driver", driver)
        .option("dbtable", "people_snapshot")
        .mode("overwrite")
        .save()
    )

    # CDC catch-up arriving after the snapshot.
    fx.write_segment(spec.spool_dir, "000_insert994", fx.insert_994_with_phone())
    fx.write_segment(spec.spool_dir, "001_insert995", fx.insert_995())
    fx.write_segment(spec.spool_dir, "002_delete990", fx.delete_990())
    p = CdcPipeline(spark, spec)
    p.run_available_now()

    # Ranged-parallel JDBC snapshot read — the backfill chunking pattern.
    snapshot = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("driver", driver)
        .option("dbtable", "people_snapshot")
        .option("partitionColumn", "id")
        .option("lowerBound", "990")
        .option("upperBound", "996")
        .option("numPartitions", "2")
        .load()
        .select("id", "first_name", "__deleted", F.lit(0).alias("ts_ms"))
    )
    stream_log = p.read_sink().select(
        "id", "first_name", "__deleted", F.lit(1).alias("ts_ms")
    )
    merged = snapshot.unionByName(stream_log)
    w = Window.partitionBy("id").orderBy(F.col("ts_ms").desc())
    return (
        merged.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("id", "first_name", "__deleted")
    )


@register(
    "retry_backoff",
    # With minimum_backoff=60s doubling per attempt and max 5 attempts,
    # the 600s default maximum_backoff never binds (60*2^3 = 480 < 600),
    # so cumulative wait before attempt n is exactly 60*(2^(n-1) - 1) —
    # closed-form integer arithmetic, identical in both engines.
    oracle="""
        SELECT event_id,
               CAST(attempt AS INT) AS attempt,
               CAST(CASE WHEN attempt = 1 THEN 0
                         ELSE 60 * (1 << (attempt - 2)) END AS INT)
                   AS backoff_s,
               make_timestamp(epoch_us(ts)
                   + 60 * ((1 << (attempt - 1)) - 1) * 1000000)
                   AS redeliver_ts,
               attempt = 5 AS dead_lettered
        FROM (
            SELECT event_id, ts, unnest(range(1, 6)) AS attempt
            FROM events
            WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 1) = 'f'
        )
    """,
    doc="Retry-policy backoff schedule (S5 companion): for every nacked "
        "message (deterministic 1/16 md5 bucket), the full exponential "
        "redelivery timeline under the reference's retry_policy "
        "(minimum_backoff 60s, dead_letter after max_delivery_attempts "
        "5, /root/reference/terraform/main.tf:402-409; constants shared "
        "with plans/pipeline_spec.RetryPolicy). The 600s default "
        "maximum_backoff never binds within 5 attempts, so the "
        "cumulative wait is the exact closed form 60*(2^(n-1)-1).",
    scale_notes="Pure projection: md5-bucket filter pushes to the scan, "
                "the 5-attempt explode is a constant fan-out, and every "
                "timestamp is integer micros arithmetic — map-only, no "
                "shuffle, whole-stage codegen end to end. The broker "
                "owns this state in production; the analog exists so "
                "DLQ latency/timeline queries have an engine-side twin.",
)
def retry_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pubsub2bq_spark.tables import load

    policy = RetryPolicy()
    min_backoff = int(policy.backoff_seconds)
    nacked = load(spark, sf_dir, "events").filter(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 1) == "f"
    )
    att = nacked.select(
        "event_id",
        "ts",
        F.explode(
            F.sequence(F.lit(1), F.lit(policy.max_attempts))
        ).alias("attempt"),
    )
    # F.shiftleft needs a literal bit count; the SQL form takes a column.
    cum_s = F.lit(min_backoff) * (F.expr("shiftleft(1, attempt - 1)") - 1)
    return att.select(
        "event_id",
        F.col("attempt").cast("int").alias("attempt"),
        F.when(F.col("attempt") == 1, 0)
        .otherwise(F.lit(min_backoff) * F.expr("shiftleft(1, attempt - 2)"))
        .cast("int")
        .alias("backoff_s"),
        F.timestamp_micros(
            F.unix_micros("ts") + cum_s.cast("bigint") * 1_000_000
        ).alias("redeliver_ts"),
        (F.col("attempt") == policy.max_attempts).alias("dead_lettered"),
    )
