"""Structured Streaming CDC runner (SURVEY.md §2.7 C4-C7, §3.2).

Replaces the reference's Kafka consumer thread + per-row inserts
(/root/reference/stream_etl/core/consumer.py:41-139,
/root/reference/stream_etl/core/processor.py:219-423) with the
idiomatic Spark construction:

    readStream (file source over the change-log directory — the
    sandbox stand-in for ``format("kafka")``; swapping the source is
    one line) → foreachBatch → dedup + salted bucketed MERGE →
    lake snapshot commit.

Delivery contract:

- the Structured Streaming checkpoint persists source offsets + batch
  ids (replacing the reference's manual ``consumer.commit()``
  at-least-once discipline, consumer.py:103-105, and fixing the batch
  path's in-memory-only watermark, /root/reference/etl/core/pipeline.py:197-202);
- ``apply_batch`` skips batch ids already committed into the table
  snapshot, turning at-least-once redelivery into exactly-once table
  state (tested by killing between commit and checkpoint advance);
- ``maxFilesPerTrigger`` bounds micro-batch size like the reference's
  ``max_poll_records`` (consumer.py:53).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from spark_cdc.cdc.apply import apply_batch
from spark_cdc.cdc.envelope import CHANGE_SCHEMA
from spark_cdc.lake.table import LakeTable


class StreamRunner:
    """Owns one streaming ingestion: change-log dir → lake table."""

    def __init__(
        self,
        spark: SparkSession,
        table: LakeTable,
        source_dir: str,
        checkpoint_dir: str,
        schema: T.StructType = CHANGE_SCHEMA,
        source_format: str = "parquet",
        source_id: str = "stream",
        max_files_per_trigger: int | None = None,
        normalize: dict | None = None,
        transform: Callable[[DataFrame], DataFrame] | None = None,
        on_batch: Callable[[int, object], None] | None = None,
        quarantine=None,
        mode: str = "cow",
        compact_every: int | None = None,
    ):
        self.spark = spark
        self.table = table
        self.source_dir = source_dir
        self.checkpoint_dir = checkpoint_dir
        self.schema = schema
        self.source_format = source_format
        self.source_id = source_id
        self.max_files_per_trigger = max_files_per_trigger
        self.normalize = normalize
        # DataFrame -> DataFrame hook over the WHOLE change batch before
        # the merge — for transforms `normalize`'s per-column map can't
        # express, e.g. op rewrites (quality gate_changes turns failing
        # upserts into deletes) or multi-column derivations. Must be
        # deterministic: a redelivered batch replays through it.
        self.transform = transform
        self.on_batch = on_batch
        self.quarantine = quarantine
        self.mode = mode
        # merge-on-read appends O(batch) delta files per trigger; left
        # alone a week-long tail degrades reads linearly. compact_every
        # folds deltas back every N applied batches (the background
        # merge ClickHouse did implicitly for the reference) — state-
        # preserving, so it can run between any two triggers.
        self.compact_every = compact_every
        self._applied = 0
        # a long tail keeps no per-batch history: a count and the last
        # MergeResult
        self.batches = 0
        self.last_result = None

    def _reader(self):
        reader = self.spark.readStream.schema(self.schema).format(self.source_format)
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        return reader.load(self.source_dir)

    def _handle(self, batch_df: DataFrame, batch_id: int) -> None:
        # any raised exception prevents the checkpoint from advancing
        # → the batch is redelivered (C11 discipline); the merge-side
        # batch-id guard then keeps table state exactly-once
        if self.transform is not None:
            batch_df = self.transform(batch_df)
        res = apply_batch(
            self.table,
            batch_df,
            batch_id=batch_id,
            source_id=self.source_id,
            normalize=self.normalize,
            quarantine=self.quarantine,
            mode=self.mode,
        )
        self.batches += 1
        self.last_result = res
        if not res.skipped:
            self._applied += 1
            if self.compact_every and self._applied % self.compact_every == 0:
                from spark_cdc.lake.maintenance import compact

                compact(self.table)
        if self.on_batch:
            self.on_batch(batch_id, res)

    def run_available(self) -> int:
        """Process everything currently in the source dir, then stop, and
        return the number of micro-batches handled so far
        (``availableNow`` — replay/catch-up mode, the analogue of the
        reference's run-once batch cycle, /root/reference/etl/main.py:121-127)."""
        q = (
            self._reader()
            .writeStream.foreachBatch(self._handle)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return self.batches

    def start_continuous(self, processing_time: str = "2 seconds"):
        """Continuous micro-batch tail (the long-running service mode,
        /root/reference/stream_etl/main.py:139-160). Caller owns
        ``query.stop()``/``awaitTermination``."""
        return (
            self._reader()
            .writeStream.foreachBatch(self._handle)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(processingTime=processing_time)
            .start()
        )


class MultiTableStreamRunner:
    """One stream of Kafka-shaped frames fanned out to MANY tables —
    the full shape of the reference's consumer service (one consumer,
    topic→table routing, stream_etl/core/consumer.py:64-82 + main.py:
    29-89) as a single checkpointed Structured Streaming query:

        readStream(frames) → foreachBatch → parse_kafka_frames
        → per-table filter → dedup + MERGE (exactly-once per table).

    One checkpoint covers every table (each table additionally guards
    by batch id, so a retry after a partial multi-table commit
    re-applies only the tables that missed)."""

    def __init__(
        self,
        spark: SparkSession,
        tables: dict[str, LakeTable],
        source_dir: str,
        checkpoint_dir: str,
        topic_table_map: dict[str, str] | None = None,
        source_format: str = "parquet",
        max_files_per_trigger: int | None = None,
        quarantine=None,
        on_batch: Callable[[int, dict], None] | None = None,
    ):
        from spark_cdc.cdc.envelope import KAFKA_FRAME_SCHEMA

        self.spark = spark
        self.tables = tables
        self.source_dir = source_dir
        self.checkpoint_dir = checkpoint_dir
        self.topic_table_map = topic_table_map
        self.source_format = source_format
        self.max_files_per_trigger = max_files_per_trigger
        self.quarantine = quarantine
        self.on_batch = on_batch
        self.schema = KAFKA_FRAME_SCHEMA
        self.batches = 0
        self.last_result: dict | None = None

    def _handle(self, batch_df: DataFrame, batch_id: int) -> None:
        from spark_cdc.cdc.apply import apply_batch_routed
        from spark_cdc.cdc.envelope import parse_kafka_frames

        env = parse_kafka_frames(batch_df, self.topic_table_map)
        res = apply_batch_routed(
            self.tables,
            env,
            batch_id=batch_id,
            quarantine=self.quarantine,
        )
        self.batches += 1
        self.last_result = res
        if self.on_batch:
            self.on_batch(batch_id, res)

    def run_available(self) -> int:
        reader = self.spark.readStream.schema(self.schema).format(self.source_format)
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        q = (
            reader.load(self.source_dir)
            .writeStream.foreachBatch(self._handle)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return self.batches
