"""Continuous SCD Type 2 dimension maintenance from the change stream.

The streaming driver for ``operators/scd2.py``: each micro-batch of change
events folds into a versioned dimension with the same split-invariant
algebra as ``scd2_apply_increment``, laid out for 100 TB:

* **Closed versions are append-only cold storage.** A version that closes
  never changes again, so closed rows land in a per-batch parquet
  partition (``closed/batch=N``) and are never rewritten — the bulk of a
  dimension's history costs one sequential write, ever.
* **Only the open rows live in a mutable table.** ``current`` is a
  :class:`..lake.table.LakeTable` keyed by the dimension keys holding
  exactly one open version per live key. Each batch MERGEs only the
  touched keys (one merge-on-read delta) and deletes keys whose last event was
  a tombstone. Batch cost ∝ churn, never ∝ |history|.

Exactly-once across crashes (same discipline as ``streaming/linedup.py``):
(1) redelivery guard on the ``current`` table's committed batch ids,
(2) recompute + overwrite the batch's OWN closed partition (idempotent —
a redelivered batch sees the unchanged ``current`` state and reproduces
byte-identical output), (3) atomic MERGE with ``batch_id``. A crash
between (2) and (3) redelivers into an identical rewrite; after (3) the
guard makes redelivery a no-op.

Contract: per-key seq monotonicity across batches — the stream-order
guarantee the reference's shard processing provides
(KclRecordProcessor.java:98-133); within a batch any order is fine (the
window sorts). ``drain`` equality with the batch operator is pinned by
``tests/test_streaming_scd2.py``.
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..lake.table import LakeTable
from ..operators.scd2 import IS_CURRENT, VALID_FROM, VALID_TO, scd2_history
from .tail import start_file_stream


class Scd2Maintainer:
    """foreachBatch driver maintaining an SCD2 dimension from an event
    stream: ``current`` (open versions, LakeTable) + ``closed_dir``
    (immutable closed versions, one partition per batch)."""

    def __init__(self, spark: SparkSession, current: LakeTable,
                 closed_dir: str, key_cols: Sequence[str], seq_col: str,
                 payload_cols: Sequence[str], event_schema: T.StructType, *,
                 op_col: str = "_op", delete_op: str = "d",
                 source: str = "scd2", n_buckets: int = 16):
        self.spark = spark
        self.current = current
        self.closed_dir = closed_dir
        self.keys = list(key_cols)
        self.seq_col = seq_col
        self.payload = list(payload_cols)
        self.op_col, self.delete_op = op_col, delete_op
        self.source = source
        self.seq_type = event_schema[seq_col].dataType
        if not current.exists():
            # full schema fixed up-front from the EVENT schema, so the
            # first batch (even an all-delete one) never evolves the table
            fields = [event_schema[c] for c in self.keys]
            fields += [T.StructField(VALID_FROM, self.seq_type)]
            fields += [event_schema[c] for c in self.payload]
            current.create_empty(spark, T.StructType(fields), self.keys,
                                 n_buckets=n_buckets)

    # ------------------------------------------------------------ batch

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        if batch_id <= self.current.last_committed(self.source):
            return                      # redelivery after a completed batch
        spark = batch.sparkSession
        ev = batch.select(*self.keys, self.seq_col, *self.payload,
                          F.col(self.op_col).alias("_op"))
        touched = ev.select(*self.keys).distinct()
        cur = self.current.read(spark)
        if VALID_FROM in cur.columns:
            open_rows = cur.join(touched, on=self.keys, how="left_semi")
            reopened = open_rows.select(
                *self.keys, F.col(VALID_FROM).alias(self.seq_col),
                *self.payload, F.lit("r").alias("_op"))
            ev = reopened.unionByName(ev.select(*reopened.columns))
        recomputed = scd2_history(ev, self.keys, self.seq_col, self.payload,
                                  op_col="_op", delete_op=self.delete_op)
        # (2) closed versions: immutable, idempotent per-batch partition.
        # Rows closed in THIS batch only — the reopened pseudo-rows that
        # stay open re-enter `current` below instead.
        closed = recomputed.filter(F.col(VALID_TO).isNotNull())
        (closed.write.mode("overwrite")
               .parquet(os.path.join(self.closed_dir,
                                     f"batch={int(batch_id)}")))
        # (3) open rows upsert + dead keys delete, one atomic MERGE
        seq = F.lit(int(batch_id))
        opened = (recomputed.filter(F.col(VALID_TO).isNull())
                  .select(*self.keys, VALID_FROM, *self.payload,
                          F.lit("u").alias("_op"), seq.alias("_seq")))
        dead = (touched.join(opened.select(*self.keys), on=self.keys,
                             how="left_anti")
                .select(*self.keys,
                        F.lit(None).cast(self.seq_type).alias(VALID_FROM),
                        *[F.lit(None).cast(ev.schema[c].dataType).alias(c)
                          for c in self.payload],
                        F.lit("d").alias("_op"), seq.alias("_seq")))
        self.current.merge(spark, opened.unionByName(dead),
                           batch_id=int(batch_id), source=self.source)

    # ----------------------------------------------------------- reads

    def history(self, spark: SparkSession) -> DataFrame:
        """The full SCD2 history: immutable closed partitions ∪ the open
        rows — identical to ``scd2_history`` over the whole drained log
        (pinned by test)."""
        open_rows = self.current.read(spark)
        if VALID_FROM not in open_rows.columns:   # nothing ever applied
            return open_rows
        open_rows = (open_rows
                     .select(*self.keys, *self.payload, VALID_FROM)
                     .withColumn(VALID_TO,
                                 F.lit(None).cast(open_rows.schema[VALID_FROM]
                                                  .dataType))
                     .withColumn(IS_CURRENT, F.lit(True)))
        try:
            closed = (spark.read.option("basePath", self.closed_dir)
                      .parquet(os.path.join(self.closed_dir, "batch=*"))
                      .select(*open_rows.columns))
        except Exception:               # no batch ever closed a version
            return open_rows
        return closed.unionByName(open_rows)

    # ----------------------------------------------------------- stream

    def start(self, source_dir: str, checkpoint_dir: str, *,
              schema: T.StructType | None = None,
              max_files_per_trigger: int = 1,
              available_now: bool = True):
        return start_file_stream(self.spark, source_dir, self.apply_batch,
                                 checkpoint_dir, schema=schema,
                                 max_files_per_trigger=max_files_per_trigger,
                                 available_now=available_now)
