"""Continuous line-level dedup ingestion: the streaming driver for the
EXACT incremental loop of ``operators/curation.py`` (``line_dup_index`` /
``incremental_line_dedup`` / ``line_dup_index_merge``).

Each micro-batch of new documents is cleaned against the line-frequency
index AT REST, the cleaned docs land in a per-batch output partition, and
the index — stored in a :class:`..lake.table.LakeTable` keyed by the line
hash — is LWW-upserted with the post-batch totals. Reusing the lake table
buys the hard parts for free: the atomic manifest commit (CommitIO seam,
object-store safe), the ``batch_id <= committed[source]`` redelivery
guard, and multi-writer conflict retries.

Exactly-once across crashes: the batch is applied as (1) read index,
(2) clean + overwrite the batch's own output partition, (3) merge index
with ``batch_id``. A crash between (2) and (3) redelivers the batch, which
recomputes IDENTICAL output from the unchanged index and overwrites the
same partition; a crash after (3) makes the redelivery a full no-op (the
guard skips before any write, so the already-merged counts are never
applied to the batch's own cleaning — which would wrongly count each doc
against itself).

Extends the engine beyond the reference (no corpus analytics in
trustpilot/kafka-connect-dynamodb — see
``source/src/main/java/com/trustpilot/connector/dynamodb``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..lake.table import LakeTable
from .tail import start_file_stream

INDEX_SCHEMA = T.StructType([
    T.StructField("line_hash", T.LongType()),
    T.StructField("n_docs", T.LongType()),
])


class LineDedupIngest:
    """foreachBatch driver for continuous line-dedup ingestion."""

    def __init__(self, spark: SparkSession, index_table: LakeTable,
                 out_dir: str, *, min_docs: int = 2,
                 id_col: str = "doc_id", text_col: str = "text",
                 sep: str = "\n", source: str = "line_dedup",
                 n_buckets: int = 16):
        self.spark = spark
        self.table = index_table
        self.out_dir = out_dir
        self.min_docs = min_docs
        self.id_col, self.text_col, self.sep = id_col, text_col, sep
        self.source = source
        if not index_table.exists():
            index_table.create_empty(spark, INDEX_SCHEMA, ["line_hash"],
                                     n_buckets=n_buckets)

    # ------------------------------------------------------------ batch

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        from ..operators.curation import (incremental_line_dedup,
                                          line_dup_index)
        if batch_id <= self.table.last_committed(self.source):
            return                      # redelivery after a completed batch
        spark = batch.sparkSession
        idx = self.table.read(spark)
        cleaned = incremental_line_dedup(
            batch, idx, id_col=self.id_col, text_col=self.text_col,
            min_docs=self.min_docs, sep=self.sep)
        (cleaned.write.mode("overwrite")
                .parquet(os.path.join(self.out_dir, f"batch={batch_id}")))
        delta = line_dup_index(batch, id_col=self.id_col,
                               text_col=self.text_col, sep=self.sep)
        merged = (idx.withColumnRenamed("n_docs", "_old")
                     .join(delta, "line_hash", "full")
                     .select("line_hash",
                             (F.coalesce("_old", F.lit(0))
                              + F.coalesce("n_docs", F.lit(0)))
                              .alias("n_docs")))
        # only hashes the batch touched need upserting (the merge appends
        # them as one delta; untouched rows keep their files)
        touched = merged.join(delta.select("line_hash"), "line_hash")
        updates = touched.withColumn("_op", F.lit("u")) \
                         .withColumn("_seq", F.lit(int(batch_id))
                                     .cast("decimal(38,0)"))
        self.table.merge(spark, updates, batch_id=batch_id,
                         source=self.source)

    # ----------------------------------------------------------- stream

    def start(self, source_dir: str, checkpoint_dir: str, *,
              schema: T.StructType | None = None,
              max_files_per_trigger: int = 1,
              available_now: bool = True):
        return start_file_stream(self.spark, source_dir, self.apply_batch,
                                 checkpoint_dir, schema=schema,
                                 max_files_per_trigger=max_files_per_trigger,
                                 available_now=available_now)

    def cleaned(self, spark: SparkSession) -> DataFrame:
        """Every cleaned document ingested so far (all batch partitions)."""
        return spark.read.option("basePath", self.out_dir) \
                    .parquet(os.path.join(self.out_dir, "batch=*"))
