"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over :mod:`pubsub2bq_spark.registry` — every operator from
SURVEY.md §2 registers there with its Spark implementation and (when
SQL-expressible) the DuckDB oracle string.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pubsub2bq_spark.registry import all_queries  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (SURVEY.md §7 milestone 0): a CDC-shaped apply —
    synthesize a Debezium envelope from the events log, unwrap it,
    rewrite deletes to `__deleted`, keep the latest state per key
    (last-writer-wins on ts_ms), then aggregate surviving rows.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pubsub2bq_spark.operators.cdc_semantics import PAYLOAD_COLS, make_envelope
    from pubsub2bq_spark.streaming.reconcile import rewrite_deletes, unwrap_envelope
    from pubsub2bq_spark.tables import load

    events = load(spark, SMOKE_SF_DIR, "events")
    flat = rewrite_deletes(unwrap_envelope(make_envelope(events), PAYLOAD_COLS))
    w = Window.partitionBy("user_id").orderBy(F.col("ts_ms").desc(), F.col("event_id").desc())
    latest = flat.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        latest.filter(F.col("__deleted") == "false")
        .groupBy("op")
        .agg(
            F.count(F.lit(1)).alias("n_live_keys"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in registry
    order."""
    return {key: q.spark for key, q in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for every SQL-expressible query."""
    return {key: q.oracle for key, q in all_queries().items() if q.oracle is not None}
