"""CDC transform + sink schema-reconciliation semantics.

Re-implements, Spark-first, the reference pipeline's per-message
transforms and its three-layer schema contract (SURVEY.md §1.3):

* envelope unwrap — Debezium ``ExtractNewRecordState``
  (/root/reference/conf/debezium.properties:17-18);
* delete rewrite — ``delete.handling.mode=rewrite`` synthesizing a
  stringly-typed ``__deleted`` column
  (/root/reference/conf/debezium.properties:19, observed wire row
  /root/reference/README.md:290);
* topic-schema projection — ``use_topic_schema=true`` silently drops
  payload fields missing from the topic schema (the `phone` case,
  /root/reference/README.md:288-290, terraform/main.tf:396);
* sink NULL-fill — sink-only columns land NULL (the `age` case,
  /root/reference/README.md:363-371);
* schema-mismatch hard halt — a topic-schema column missing at the
  sink stops delivery with zero rows written and the checkpoint NOT
  advanced (the `zipcode` case, /root/reference/README.md:441-450).

All transforms are pure Column expressions (JVM-side, codegen'd); the
halt check inspects schemas only — per-row cost is zero.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


class SchemaMismatchError(RuntimeError):
    """Sink is missing a column the topic schema mandates.

    Raised *before* any write so the micro-batch fails and the
    checkpoint does not advance — the reference's "table schema
    mismatch / zero rows delivered" behavior, replay-safe.
    """


def unwrap_envelope(df: DataFrame, payload_cols: list[str] | None = None) -> DataFrame:
    """Flatten a CDC envelope {before, after, op, ts_ms, source} into
    new-row-state records (ExtractNewRecordState semantics).

    For deletes (`op = 'd'`) `after` is NULL, so the payload falls back
    to `before` — required for delete-rewrite to emit the full row.
    """
    payload = F.coalesce(F.col("after"), F.col("before")).alias("payload")
    flat = df.select(payload, "op", "ts_ms")
    if payload_cols is None:
        return flat.select("payload.*", "op", "ts_ms")
    return flat.select(*[F.col(f"payload.{c}").alias(c) for c in payload_cols], "op", "ts_ms")


def rewrite_deletes(df: DataFrame, op_col: str = "op") -> DataFrame:
    """delete.handling.mode=rewrite: deletes become normal rows with
    ``__deleted='true'`` (STRING, matching the reference's stringly-typed
    boolean); every other op gets ``'false'``."""
    return df.withColumn(
        "__deleted", F.when(F.col(op_col) == "d", F.lit("true")).otherwise(F.lit("false"))
    )


def include_list_filter(
    df: DataFrame, db: str, table: str, source_col: str = "source"
) -> DataFrame:
    """database.include.list / table.include.list on the envelope's source
    metadata (/root/reference/conf/debezium.properties:11-12)."""
    return df.filter(
        (F.col(f"{source_col}.db") == db) & (F.col(f"{source_col}.table") == table)
    )


def check_sink_schema(topic_schema: T.StructType, sink_schema: T.StructType) -> None:
    """The hard halt: raise SchemaMismatchError when a topic-schema column
    is missing at the sink (the `zipcode` case). Reads schemas only."""
    sink_names = {f.name for f in sink_schema.fields}
    missing_at_sink = [f.name for f in topic_schema.fields if f.name not in sink_names]
    if missing_at_sink:
        raise SchemaMismatchError(
            f"table schema mismatch: topic-schema column(s) {missing_at_sink} "
            "missing at sink; delivery halted, zero rows written"
        )


def sink_columns(
    topic_schema: T.StructType, sink_schema: T.StructType, field
) -> list[Column]:
    """The projection of ``project_to_sink_schema`` as sink-ordered
    columns; ``field(name)`` reads one topic column of the payload."""
    topic_names = {f.name for f in topic_schema.fields}
    return [
        (field(f.name) if f.name in topic_names else F.lit(None))
        .cast(f.dataType)
        .alias(f.name)
        for f in sink_schema.fields
    ]


def project_to_sink_schema(
    df: DataFrame,
    topic_schema: T.StructType,
    sink_schema: T.StructType,
) -> DataFrame:
    """Apply the reference's three-layer projection truth table.

    * Topic-schema fields present in the payload → kept (cast to sink type).
    * Payload fields NOT in the topic schema → silently dropped, even
      with drop_unknown_fields=false (topic schema wins — the `phone` case).
    * Sink-only columns (not in topic schema) → NULL-filled (the `age` case).
    * Topic columns absent from this payload revision → NULL-filled.
    * Topic-schema columns missing at the sink → hard halt (the `zipcode`
      case): raise SchemaMismatchError before any write.
    """
    check_sink_schema(topic_schema, sink_schema)
    present = set(df.columns)

    def field(name: str) -> Column:
        return F.col(name) if name in present else F.lit(None)

    return df.select(*sink_columns(topic_schema, sink_schema, field))


def parse_column(
    data_col: str, schema: T.StructType, corrupt_col: str = "_corrupt"
) -> Column:
    """Permissive JSON parse of ``data_col``: a struct whose
    ``corrupt_col`` field holds the raw payload when it does not parse."""
    parse_schema = T.StructType(schema.fields + [T.StructField(corrupt_col, T.StringType())])
    return F.from_json(
        F.col(data_col),
        parse_schema,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": corrupt_col},
    )


def split_corrupt(
    df: DataFrame,
    data_col: str,
    schema: T.StructType,
    corrupt_col: str = "_corrupt",
) -> tuple[DataFrame, DataFrame]:
    """Topic schema validation: parse JSON payloads permissively and
    split (valid, corrupt). Corrupt rows keep the raw payload for the
    dead-letter path (reference: dead_letter_policy after 5 attempts,
    /root/reference/terraform/main.tf:406-409)."""
    parsed = df.withColumn("_parsed", parse_column(data_col, schema, corrupt_col))
    flat = parsed.select("*", "_parsed.*").drop("_parsed")
    valid = flat.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    corrupt = flat.filter(F.col(corrupt_col).isNotNull())
    return valid, corrupt
