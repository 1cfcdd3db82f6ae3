"""Structured Streaming stream tail — the KCL worker analog (S6/S7/T4/T5).

The reference tails DynamoDB Stream shards through a KCL worker on a daemon
thread, a bounded hand-off queue, a per-shard seq-no register, and interval
checkpointing to a lease table (kcl/KclWorkerImpl.java:46-89,
KclRecordProcessor.java:98-279, DynamoDBSourceTask.java:79,88). All of that
collapses here into the micro-batch engine:

* shard fetch loop      -> ``readStream`` file source over the change log
* 1000-record fetches   -> ``maxFilesPerTrigger`` / trigger pacing (O2)
* bounded queue (S7)    -> trigger backpressure (built in)
* shard register + KCL checkpoint (T5) -> checkpointLocation WAL + commits
* at-least-once (T6)    -> exactly-once: LakeTable.merge is idempotent on
  (source, batch_id), so a foreachBatch redelivery after crash no-ops.

The micro-batch boundary is the shard-end barrier: offsets advance only after
the MERGE commit for the batch is durable.
"""

from __future__ import annotations

from datetime import datetime
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from kafka_connect_dynamodb_spark.lake.table import LakeTable
from kafka_connect_dynamodb_spark.operators.apply import apply_batch
from kafka_connect_dynamodb_spark.sources.generator import events_schema


def start_tail(spark: SparkSession, log_dir: str, table: LakeTable, *,
               checkpoint_dir: str, source: str = "stream",
               init_sync_start: datetime | None = None,
               clock: Callable[[], datetime] | None = None,
               max_files_per_trigger: int | None = None,
               available_now: bool = True,
               processing_time: str | None = None,
               schema=None,
               metrics: list[dict[str, Any]] | None = None,
               log_format: str = "parquet",
               dlq_dir: str | None = None) -> StreamingQuery:
    """Tail a change-event log directory into the lake table.

    ``log_format`` accepts any Spark streaming file source ("parquet" default;
    "json"/"csv" for text-shipped logs — their seq_no arrives as a string and
    is cast by the decimal(38,0) cast in the apply path).

    ``available_now=True`` drains the existing log and stops (replay mode);
    otherwise runs continuously with ``processing_time`` triggers (the
    reference's 500ms idle poll, Constants.java:7, T8).

    A ``DangerZoneError`` raised inside a batch fails the query;
    ``plans.pipeline.CdcPipeline.sync_stream`` catches it from the wait on
    the query and re-runs INIT_SYNC — transition T1/F3.

    ``clock`` arms the danger-zone check and is read PER MICRO-BATCH, like
    the reference's per-poll ``Instant.now()`` (DynamoDBSourceTask.java:
    318-331); a historical replay passes one that returns a fixed time.

    ``dlq_dir`` turns on the dead-letter quarantine: events the apply path
    ignores (unknown eventName, null/unparseable keys — the records the
    reference merely logs and skips, DynamoDBSourceTask.java:363-367) land
    as parquet under ``<dlq_dir>/batch_id=<n>/`` with a ``reject_reason``
    column, rewritten idempotently on batch redelivery. The DLQ write and
    the apply scan one local checkpoint of the micro-batch.
    """
    def _apply(batch_df, batch_id: int):
        if dlq_dir is not None:
            from kafka_connect_dynamodb_spark.operators.quarantine import (
                classify_rejects, write_dlq)
            batch_df = batch_df.localCheckpoint()
            write_dlq(classify_rejects(batch_df), dlq_dir, batch_id)
        res = apply_batch(batch_df.sparkSession, table, batch_df,
                          batch_id=batch_id, source=source,
                          init_sync_start=init_sync_start,
                          now=clock() if clock is not None else None)
        if metrics is not None:
            metrics.append(res)

    return start_file_stream(spark, log_dir, _apply, checkpoint_dir,
                             schema=schema or events_schema(),
                             file_format=log_format,
                             max_files_per_trigger=max_files_per_trigger,
                             available_now=available_now,
                             processing_time=processing_time)


def start_file_stream(spark: SparkSession, source_dir: str,
                      fn: Callable[[DataFrame, int], None],
                      checkpoint_dir: str, *, schema=None,
                      file_format: str = "parquet",
                      max_files_per_trigger: int | None = None,
                      available_now: bool = True,
                      processing_time: str | None = None) -> StreamingQuery:
    """:func:`start_foreach_batch` over the files of ``source_dir``, read
    with ``schema`` (by default, the one a batch read infers)."""
    if schema is None:
        schema = spark.read.format(file_format).load(source_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return start_foreach_batch(reader.format(file_format).load(source_dir),
                               fn, checkpoint_dir, available_now=available_now,
                               processing_time=processing_time)


def start_foreach_batch(src: DataFrame,
                        fn: Callable[[DataFrame, int], None],
                        checkpoint_dir: str, *, available_now: bool = True,
                        processing_time: str | None = None) -> StreamingQuery:
    """Start the streaming frame ``src`` as a query that hands each
    micro-batch to ``fn(batch_df, batch_id)``, its progress checkpointed
    under ``checkpoint_dir``. ``available_now`` drains what the source
    holds and stops; otherwise ``processing_time`` sets the trigger
    interval (Spark's default trigger when None)."""
    writer = src.writeStream.foreachBatch(fn).option(
        "checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def drain(query: StreamingQuery) -> None:
    """Run an availableNow query to completion, re-raising batch errors."""
    query.awaitTermination()
