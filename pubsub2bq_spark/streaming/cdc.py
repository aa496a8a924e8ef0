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
                                      project_to_sink_schema, append parquet (S4)
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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pubsub2bq_spark.plans.pipeline_spec import CdcPipelineSpec
from pubsub2bq_spark.streaming.reconcile import (
    SchemaMismatchError,
    include_list_filter,
    project_to_sink_schema,
    rewrite_deletes,
    split_corrupt,
    unwrap_envelope,
)


class CdcPipeline:
    def __init__(self, spark: SparkSession, spec: CdcPipelineSpec):
        self.spark = spark
        self.spec = spec
        self._halt_error: SchemaMismatchError | None = None

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
    # NACKs the batch: each message's failure is appended to a persistent
    # nack log next to the checkpoint, and the raised error leaves the
    # offsets uncommitted so the source redelivers — exactly Pub/Sub's
    # redelivery-on-nack. On redelivery, messages whose logged attempts
    # reached the cap are routed to the DLQ (with their real attempt
    # count) instead of the sink, so a poison batch drains. The log holds
    # only in-flight failed messages (cleared when the frontier batch
    # commits) — at scale this is the broker's tiny per-message delivery
    # state, never data-sized, and it broadcasts into the batch join.

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
        (
            messages.select(
                "ordering_key", "ts_ms", F.lit(time.time()).alias("failed_at")
            )
            .write.mode("append")
            .parquet(self._nack_dir)
        )

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
    # foreachBatch + a plain parquet append is only at-least-once: a
    # crash BETWEEN the sink write and the checkpoint commit replays the
    # epoch and duplicates its rows. Delivery is therefore idempotent
    # per epoch (the standard foreachBatch exactly-once idiom):
    #   1. every epoch's files get DETERMINISTIC names (batch{N}-i),
    #      and a replayed epoch scrubs its stragglers before rewriting —
    #      a half-delivered epoch can never double;
    #   2. a delivery-commit marker (checkpoint-adjacent) is written
    #      after the WHOLE delivery (sink + DLQ + nack cleanup); a
    #      replay that finds the marker skips straight to the offset
    #      commit — covering a crash between marker and checkpoint.
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
        dir is invisible to parquet discovery and the TTL listing."""
        if os.path.isdir(dest_dir):
            for name in os.listdir(dest_dir):
                if name.startswith(prefix):
                    try:
                        os.remove(os.path.join(dest_dir, name))
                    except OSError:
                        pass
        stage = os.path.join(dest_dir, f".stage-{prefix}")
        df.write.mode("overwrite").parquet(stage)
        i = 0
        for name in sorted(os.listdir(stage)):
            if name.endswith(".parquet"):
                os.replace(
                    os.path.join(stage, name),
                    os.path.join(dest_dir, f"{prefix}{i}.parquet"),
                )
                i += 1
        shutil.rmtree(stage, ignore_errors=True)

    def _write_sink(self, projected: DataFrame) -> None:
        """The one fallible delivery hop (tests inject transient faults
        here). Idempotent per epoch: deterministic per-epoch file names,
        and a replay scrubs first."""
        self._atomic_append(
            projected, self.spec.sink_dir, f"batch{self._current_epoch}-"
        )

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
        # Epoch state is scoped strictly to this delivery: ANY exception
        # escaping below (sink write, DLQ write, marker write) must not
        # leave a stale epoch on the pipeline object.
        self._current_epoch = epoch_id
        try:
            self._deliver_epoch(messages, epoch_id)
        finally:
            self._current_epoch = None

    def _deliver_epoch(self, messages: DataFrame, epoch_id: int) -> None:
        spec = self.spec
        valid, corrupt = split_corrupt(messages, "data", spec.topic_schema)

        nacks = self._nack_counts()
        exhausted: DataFrame | None = None
        deliverable = valid
        if nacks is not None:
            flagged = valid.join(F.broadcast(nacks), ["ordering_key", "ts_ms"], "left")
            exhausted = flagged.filter(
                F.col("prior_attempts") >= spec.retry.max_attempts
            )
            deliverable = flagged.filter(
                F.col("prior_attempts").isNull()
                | (F.col("prior_attempts") < spec.retry.max_attempts)
            ).drop("prior_attempts", "last_failed")

        projected = project_to_sink_schema(
            deliverable.drop("data", "ordering_key", "attributes", "ts_ms"),
            spec.topic_schema,
            spec.sink_schema,
        )

        self._await_backoff(nacks)
        try:
            self._write_sink(projected)
        except Exception:
            # Transient delivery failure → NACK: log one failed attempt per
            # message and fail the batch so offsets stay uncommitted and
            # the source redelivers after the backoff. (A schema mismatch
            # is permanent, but project_to_sink_schema raises it above.)
            self._record_nacks(deliverable)
            raise

        if exhausted is not None:
            ex = exhausted.select(
                "data",
                "ordering_key",
                "attributes",
                "ts_ms",
                F.col("prior_attempts").cast("int").alias("delivery_attempts"),
            )
            if ex.limit(1).count() > 0:
                self._to_dlq(ex, reason="delivery_failed")

        if corrupt.limit(1).count() > 0:
            self._to_dlq(
                corrupt.select("data", "ordering_key", "attributes", "ts_ms"),
                reason="schema_validation_failed",
                attempts=1,
            )

        # Frontier batch committed: its delivery state is settled.
        shutil.rmtree(self._nack_dir, ignore_errors=True)

        # Delivery complete (sink + DLQ + nack state): write the epoch's
        # commit marker so a crash before the OFFSET commit replays as a
        # no-op instead of a duplicate delivery.
        os.makedirs(self._commit_dir, exist_ok=True)
        with open(self._delivery_marker(epoch_id), "w"):
            pass

        # Post-commit retention pass (runs only when a TTL is configured).
        self.enforce_table_retention(now_s=time.time())

    def _to_dlq(self, df: DataFrame, reason: str, attempts: int | None = None) -> None:
        out = df.withColumn("dlq_reason", F.lit(reason))
        if "delivery_attempts" not in df.columns:
            out = out.withColumn("delivery_attempts", F.lit(attempts))
        rows = out.select(
            "data", "ordering_key", "attributes", "ts_ms",
            "dlq_reason", "delivery_attempts",
        )
        # Same exactly-once discipline as the sink: one deterministic
        # prefix per (epoch, reason), replay scrubs before rewriting.
        self._atomic_append(
            rows, self.spec.dlq_dir, f"batch{self._current_epoch}-{reason}-"
        )

    # ---- run ---------------------------------------------------------------
    def _start(self, **trigger):
        """Start the delivery query: every micro-batch goes through
        _deliver, offsets checkpoint under spec.checkpoint_dir."""
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
            if "SchemaMismatchError" in str(ex) or "table schema mismatch" in str(ex):
                raise SchemaMismatchError(str(ex)) from ex
            raise

    def run_processing_time(self, interval: str = "1 second"):
        """Start the pipeline under a processing-time trigger — the
        production mode (the AvailableNow twin drains-and-stops for
        deterministic tests). Returns the live StreamingQuery; the
        caller owns stop()/awaitTermination. Exactly-once under
        kill-mid-batch comes from the epoch-idempotent delivery
        (deterministic per-epoch file names + delivery-commit marker),
        exercised by tests/test_cdc_golden.py's soak test."""
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
        pruned: list[str] = []
        if ttl is None:
            return pruned
        cutoff = now_s - ttl
        for root in (self.spec.sink_dir, self.spec.dlq_dir):
            if not os.path.isdir(root):
                continue
            for name in sorted(os.listdir(root)):
                path = os.path.join(root, name)
                if (
                    os.path.isfile(path)
                    and not name.startswith(("_", "."))
                    and os.path.getmtime(path) < cutoff
                ):
                    os.remove(path)
                    pruned.append(path)
        return pruned

    def prune_spool(self, now_s: float) -> list[str]:
        """Enforce source-side retention (T3): drop spool segments whose
        mtime has aged past the sink subscription's retention window
        (reference: message_retention_duration 604800 s,
        /root/reference/terraform/main.tf:401). Returns pruned paths.
        Replay (restart from an older checkpoint) only reaches back as
        far as the newest surviving segment — the same bound Pub/Sub
        retention puts on its REPLAY button."""
        cutoff = now_s - self.spec.delivery.sink_retention_seconds
        pruned: list[str] = []
        if not os.path.isdir(self.spec.spool_dir):
            return pruned
        for name in sorted(os.listdir(self.spec.spool_dir)):
            path = os.path.join(self.spec.spool_dir, name)
            if os.path.isfile(path) and os.path.getmtime(path) < cutoff:
                os.remove(path)
                pruned.append(path)
        return pruned
