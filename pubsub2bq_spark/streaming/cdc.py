"""The CDC pipeline: Structured Streaming re-architecture of
binlog → Debezium → Pub/Sub → BigQuery (SURVEY.md §3.1).

Stage map (reference → here):

  binlog tail (MySqlConnector)      → readStream.json on a spool dir of
                                      newline-JSON segments (S1)
  include lists                     → include_list_filter (S2)
  ExtractNewRecordState + rewrite   → unwrap_envelope + rewrite_deletes (P1,P2)
  publish w/ topic schema + key     → to_json payload + ordering_key +
                                      attributes map w/ revision id (S3)
  BigQuery subscription             → foreachBatch: parse w/ topic schema,
                                      sink_columns projection, append parquet (S4)
  dead-letter topic                 → corrupt rows + exhausted retries →
                                      DLQ parquet table (S5)
  inspection pull subscription      → raw_tap(): the pre-parse message
                                      frame (S6)
  offset persistence                → checkpointLocation; a failed batch
                                      never advances it, so a schema halt
                                      is replayable (T1/D6)

At 100 TB the spool dir becomes a Kafka/PubSub-lite connector and the
parquet sink a Delta/Iceberg table; every transform in between is
already partition-parallel and shuffle-free (per-key ordering comes
from last-writer-wins merges downstream, not arrival order).
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from pubsub2bq_spark.plans.pipeline_spec import CdcPipelineSpec
from pubsub2bq_spark.streaming.reconcile import (
    SchemaMismatchError,
    check_sink_schema,
    include_list_filter,
    parse_column,
    rewrite_deletes,
    sink_columns,
    unwrap_envelope,
)

_MESSAGE_COLS = ("data", "ordering_key", "attributes", "ts_ms")


class CdcPipeline:
    def __init__(self, spark: SparkSession, spec: CdcPipelineSpec):
        self.spark = spark
        self.spec = spec
        self._halt_error: SchemaMismatchError | None = None
        self._columns: dict[tuple, tuple[Column, Column, list[Column]]] = {}

    # ---- source + publisher side -----------------------------------------
    def envelope_stream(self) -> DataFrame:
        reader = self.spark.readStream.schema(self.spec.envelope_schema)
        if self.spec.max_files_per_trigger:
            reader = reader.option(
                "maxFilesPerTrigger", self.spec.max_files_per_trigger
            )
        return reader.json(self.spec.spool_dir)

    def _publish(self, envelopes: DataFrame) -> DataFrame:
        """Unwrap + rewrite, then encode as Pub/Sub-style messages:
        data (JSON), ordering_key (PK JSON), attributes (schema metadata)
        — the wire shape at /root/reference/README.md:290-295."""
        spec = self.spec
        payload_cols = [f.name for f in spec.envelope_schema["after"].dataType.fields]
        flat = rewrite_deletes(
            unwrap_envelope(
                include_list_filter(envelopes, spec.db_include, spec.table_include),
                payload_cols,
            )
        )
        data_cols = payload_cols + ["__deleted"]
        return flat.select(
            F.to_json(F.struct(*[F.col(c) for c in data_cols])).alias("data"),
            F.to_json(F.struct(*[F.col(k) for k in spec.ordering_key])).alias(
                "ordering_key"
            ),
            F.create_map(
                F.lit("googclient_schemaencoding"), F.lit("JSON"),
                F.lit("googclient_schemaname"), F.lit("pubsub2bq-schema"),
                F.lit("googclient_schemarevisionid"), F.lit(spec.schema_revision_id),
            ).alias("attributes"),
            F.col("ts_ms"),
        )

    def message_stream(self) -> DataFrame:
        return self._publish(self.envelope_stream())

    # ---- subscriber / sink side -------------------------------------------
    #
    # Per-message delivery accounting (reference: retry_policy
    # minimum_backoff 60s + dead_letter_policy max_delivery_attempts 5,
    # /root/reference/terraform/main.tf:402-409). A failed sink write
    # NACKs the batch: each message's failure is appended to a nack log
    # next to the checkpoint, and the raised error leaves the offsets
    # uncommitted so the source redelivers. On redelivery, messages whose
    # logged attempts reached the cap go to the DLQ (with their real
    # attempt count) instead of the sink, so a poison batch drains. The
    # log holds only in-flight failed messages and broadcasts into the
    # batch join.

    @property
    def _nack_dir(self) -> str:
        return os.path.join(self.spec.checkpoint_dir, "nack_log")

    def _nack_counts(self) -> DataFrame | None:
        """(ordering_key, ts_ms) -> prior failed attempts + last failure time."""
        if not os.path.isdir(self._nack_dir):
            return None
        raw = self.spark.read.schema(
            "ordering_key string, ts_ms bigint, failed_at double"
        ).parquet(self._nack_dir)
        return raw.groupBy("ordering_key", "ts_ms").agg(
            F.count(F.lit(1)).alias("prior_attempts"),
            F.max("failed_at").alias("last_failed"),
        )

    def _record_nacks(self, messages: DataFrame) -> None:
        failed_at = F.lit(time.time()).alias("failed_at")
        nacks = messages.select("ordering_key", "ts_ms", failed_at)
        nacks.write.mode("append").parquet(self._nack_dir)

    def _await_backoff(self, nacks: DataFrame | None) -> None:
        """Honor the minimum redelivery backoff: wait out the remainder of
        the window since the batch's last failed attempt (scalar probe)."""
        if nacks is None or self.spec.retry.backoff_seconds <= 0:
            return
        last = nacks.agg(F.max("last_failed")).first()[0]
        if last is None:
            return
        remaining = self.spec.retry.backoff_seconds - (time.time() - last)
        if remaining > 0:
            time.sleep(remaining)

    # ---- exactly-once delivery machinery ----------------------------------
    #
    # foreachBatch + a plain parquet append is only at-least-once: a crash
    # BETWEEN the sink write and the checkpoint commit replays the epoch.
    # Delivery is therefore idempotent per epoch (the standard idiom):
    #   1. every epoch's files get DETERMINISTIC names (batch{N}-i), and a
    #      replayed epoch scrubs its stragglers before rewriting;
    #   2. a delivery-commit marker is written after the WHOLE delivery
    #      (sink + DLQ + nack cleanup); a replay that finds it skips
    #      straight to the offset commit.
    # Layout stays FLAT files in sink_dir, so the TTL pass (file mtime =
    # fragment delivery time) and every existing reader are unchanged.

    _current_epoch: int | None = None

    @property
    def _commit_dir(self) -> str:
        return os.path.join(self.spec.checkpoint_dir, "delivery_commits")

    def _delivery_marker(self, epoch_id: int) -> str:
        return os.path.join(self._commit_dir, f"epoch-{epoch_id}")

    def _atomic_append(self, df: DataFrame, dest_dir: str, prefix: str) -> None:
        """Idempotent append of one epoch's rows: scrub this prefix's
        stragglers (a killed earlier attempt), stage with Spark, then
        publish parts under deterministic names. The dot-prefixed stage
        dir is invisible to parquet discovery and the TTL listing. Parts
        are published in order, so a killed attempt left stragglers only
        if part 0 exists: the directory is listed only then."""
        if os.path.exists(os.path.join(dest_dir, f"{prefix}0.parquet")):
            for name in os.listdir(dest_dir):
                if name.startswith(prefix):
                    os.remove(os.path.join(dest_dir, name))
        stage = os.path.join(dest_dir, f".stage-{prefix}")
        df.write.mode("overwrite").parquet(stage)
        parts = sorted(n for n in os.listdir(stage) if n.endswith(".parquet"))
        for i, name in enumerate(parts):
            published = os.path.join(dest_dir, f"{prefix}{i}.parquet")
            os.replace(os.path.join(stage, name), published)
        shutil.rmtree(stage, ignore_errors=True)

    def _write_sink(self, projected: DataFrame) -> None:
        """The one fallible delivery hop (tests inject transient faults
        here). Idempotent per epoch: deterministic per-epoch file names,
        and a replay scrubs first."""
        prefix = f"batch{self._current_epoch}-"
        self._atomic_append(projected, self.spec.sink_dir, prefix)

    def _deliver(self, messages: DataFrame, epoch_id: int) -> None:
        """One micro-batch delivery. Order of operations matters:
        the halt check runs BEFORE any write so a mismatch leaves both
        sink and DLQ untouched and the checkpoint un-advanced; exhausted
        messages dead-letter only AFTER a successful sink write so a
        still-failing batch can't double-DLQ them."""
        if os.path.exists(self._delivery_marker(epoch_id)):
            # Crash landed between the delivery marker and the offset
            # commit: this epoch's rows are already fully delivered —
            # replaying them would duplicate. Let the engine commit.
            return
        # Epoch state is scoped strictly to this delivery: no exception
        # escaping below may leave a stale epoch on the pipeline object.
        self._current_epoch = epoch_id
        try:
            self._deliver_epoch(messages, epoch_id)
        except SchemaMismatchError as err:
            self._halt_error = err
            raise
        finally:
            self._current_epoch = None

    def _batch_columns(self) -> tuple[Column, Column, list[Column]]:
        """(parsed struct, corrupt flag, sink projection), built once per
        (topic, sink) schema pair. The halt check runs on every call."""
        key = (self.spec.topic_schema, self.spec.sink_schema)
        check_sink_schema(*key)
        if key not in self._columns:
            parsed = F.col("_parsed")
            self._columns[key] = (
                parse_column("data", key[0]).alias("_parsed"),
                parsed.getField("_corrupt").isNotNull(),
                sink_columns(*key, field=parsed.getField),
            )
        return self._columns[key]

    def _deliver_epoch(self, messages: DataFrame, epoch_id: int) -> None:
        """A clean batch runs one Spark job, the sink write: the count of
        rows bound for each DLQ reason arrives with it through one
        Observation, and a DLQ write runs only when its count is nonzero."""
        parse, corrupt, sink = self._batch_columns()
        parsed = messages.select(*_MESSAGE_COLS, parse)
        nacks = self._nack_counts()
        keep, exhausted = ~corrupt, F.lit(False)
        if nacks is not None:
            parsed = parsed.join(F.broadcast(nacks), ["ordering_key", "ts_ms"], "left")
            cap = self.spec.retry.max_attempts
            over_cap = F.coalesce(F.col("prior_attempts") >= cap, F.lit(False))
            keep, exhausted = ~corrupt & ~over_cap, ~corrupt & over_cap
        dlq = [  # (reason, rows, delivery attempts), written in this order
            ("delivery_failed", exhausted, F.col("prior_attempts").cast("int")),
            ("schema_validation_failed", corrupt, F.lit(1)),
        ]
        obs = Observation()
        counts = [F.count_if(rows).alias(reason) for reason, rows, _ in dlq]
        projected = parsed.observe(obs, *counts).filter(keep).select(*sink)

        self._await_backoff(nacks)
        try:
            self._write_sink(projected)
        except Exception:
            # Transient delivery failure → NACK: log one failed attempt per
            # message and fail the batch so offsets stay uncommitted and
            # the source redelivers after the backoff. (A schema mismatch
            # is permanent, but _batch_columns raises it above.)
            self._record_nacks(parsed.filter(keep))
            raise

        observed = obs.get  # filled by the write that just returned
        for reason, rows, attempts in dlq:
            if observed[reason]:
                # Same exactly-once discipline as the sink: one deterministic
                # prefix per (epoch, reason), replay scrubs before rewriting.
                out = parsed.filter(rows).select(
                    *_MESSAGE_COLS,
                    F.lit(reason).alias("dlq_reason"),
                    attempts.alias("delivery_attempts"),
                )
                prefix = f"batch{epoch_id}-{reason}-"
                self._atomic_append(out, self.spec.dlq_dir, prefix)

        # Frontier batch committed: its delivery state is settled.
        shutil.rmtree(self._nack_dir, ignore_errors=True)

        # Delivery complete (sink + DLQ + nack state): write the epoch's
        # commit marker so a crash before the OFFSET commit replays as a
        # no-op instead of a duplicate delivery. Spark commits epoch N-1's
        # offsets before it starts N, so no replay reads earlier markers.
        os.makedirs(self._commit_dir, exist_ok=True)
        with open(self._delivery_marker(epoch_id), "w"):
            pass
        for name in os.listdir(self._commit_dir):
            if int(name.removeprefix("epoch-")) < epoch_id:
                os.remove(os.path.join(self._commit_dir, name))

        # Post-commit retention pass (runs only when a TTL is configured).
        self.enforce_table_retention(now_s=time.time())

    # ---- run ---------------------------------------------------------------
    def _start(self, **trigger):
        """Start the delivery query: every micro-batch goes through
        _deliver, offsets checkpoint under spec.checkpoint_dir."""
        self._halt_error = None
        return (
            self.message_stream()
            .writeStream.foreachBatch(self._deliver)
            .option("checkpointLocation", self.spec.checkpoint_dir)
            .trigger(**trigger)
            .start()
        )

    def run_available_now(self) -> None:
        """Process everything currently in the spool and stop — the
        deterministic test trigger (Trigger.AvailableNow)."""
        q = self._start(availableNow=True)
        try:
            q.awaitTermination()
        except Exception as ex:  # surface the halt as the reference does:
            # subscription state = "table schema mismatch", zero rows delivered.
            if self._halt_error is None:
                raise
            raise self._halt_error from ex

    def run_processing_time(self, interval: str = "1 second"):
        """Start the pipeline under a processing-time trigger — the
        production mode (the AvailableNow twin drains-and-stops for
        deterministic tests). Returns the live StreamingQuery; the
        caller owns stop()/awaitTermination. Exactly-once under
        kill-mid-batch comes from the epoch-idempotent delivery above."""
        return self._start(processingTime=interval)

    # ---- taps ---------------------------------------------------------------
    def read_sink(self) -> DataFrame:
        return self.spark.read.schema(self.spec.sink_schema).parquet(self.spec.sink_dir)

    def read_dlq(self) -> DataFrame:
        return self.spark.read.parquet(self.spec.dlq_dir)

    def raw_tap_batch(self, now_ms: int | None = None) -> DataFrame:
        """Inspection subscription (S6): the raw message frame, batch mode
        — data / ordering_key / attributes, pre-parse
        (/root/reference/README.md:281-296). With ``now_ms`` set, only
        messages inside the tap's retention window are visible — the
        reference tap retains messages 1200 s
        (/root/reference/terraform/main.tf:379)."""
        envelopes = self.spark.read.schema(self.spec.envelope_schema).json(
            self.spec.spool_dir
        )
        if now_ms is not None:
            cutoff = now_ms - self.spec.delivery.tap_retention_seconds * 1000
            envelopes = envelopes.filter(F.col("ts_ms") >= cutoff)
        return self._publish(envelopes)

    def tap_redeliverable(
        self,
        messages: DataFrame,
        leased_at_ms: int,
        acked_keys: DataFrame,
        now_ms: int,
    ) -> DataFrame:
        """Ack-deadline modeling for the pull tap (S6/T3): the reference
        subscription leases pulled messages for ack_deadline_seconds = 60
        (/root/reference/terraform/main.tf:381) — a pulled message that is
        not acked within its lease is redelivered on the next pull; an
        acked message never is (it stays retained for replay, but leaves
        the delivery queue). Given the pulled frame, its lease time, and
        the acked ordering keys, returns what the NEXT pull at ``now_ms``
        would deliver: nothing while every lease is still live, the
        unacked remainder once leases expire."""
        deadline_ms = self.spec.delivery.ack_deadline_seconds * 1000
        unacked = messages.join(
            F.broadcast(acked_keys.select("ordering_key")),
            "ordering_key",
            "left_anti",
        )
        if now_ms < leased_at_ms + deadline_ms:
            return unacked.limit(0)  # leases live: nothing redeliverable yet
        return unacked

    def enforce_table_retention(self, now_s: float) -> list[str]:
        """Expire aged data from the sink and DLQ tables (D4 TTL: the
        reference recreates the evolved sink table with a 3600 s
        expiration, /root/reference/README.md:387-392, and the tap
        subscription carries expiration_policy ttl,
        /root/reference/terraform/main.tf:382-384). BigQuery expiration
        is wall-clock age, so the parquet analog prunes appended
        fragments by write time: each foreachBatch append is one
        fragment, making file mtime the fragment's delivery time and
        file-level deletion the time-partition drop. With a lakehouse
        sink (Delta/Iceberg) this becomes DELETE WHERE / expire-
        snapshots; nothing data-sized moves either way. No-op unless
        ``delivery.table_ttl_seconds`` is set. Returns pruned paths."""
        ttl = self.spec.delivery.table_ttl_seconds
        if ttl is None:
            return []
        roots = (self.spec.sink_dir, self.spec.dlq_dir)
        return [p for r in roots for p in _prune_aged(r, now_s - ttl, ("_", "."))]

    def prune_spool(self, now_s: float) -> list[str]:
        """Enforce source-side retention (T3): drop spool segments whose
        mtime has aged past the sink subscription's retention window
        (reference: message_retention_duration 604800 s,
        /root/reference/terraform/main.tf:401). Returns pruned paths.
        Replay (restart from an older checkpoint) only reaches back as
        far as the newest surviving segment — the same bound Pub/Sub
        retention puts on its REPLAY button."""
        cutoff = now_s - self.spec.delivery.sink_retention_seconds
        return _prune_aged(self.spec.spool_dir, cutoff)


def _prune_aged(root: str, cutoff: float, skip: tuple[str, ...] = ()) -> list[str]:
    """Delete the files directly under ``root`` last modified before
    ``cutoff``, except names starting with ``skip``; return their paths."""
    if not os.path.isdir(root):
        return []
    pruned = []
    for name in sorted(os.listdir(root)):
        path = os.path.join(root, name)
        aged = os.path.isfile(path) and os.path.getmtime(path) < cutoff
        if aged and not name.startswith(skip):
            os.remove(path)
            pruned.append(path)
    return pruned
