"""Lineage + metrics (north-rule requirement; reference analog: the KCL
worker's CloudWatch metrics, kcl/KclWorkerImpl.java:139-168, NOOP'd there —
we upgrade to first-class observability).

Three layers:

* **Per-commit lineage** — every manifest records {commit, batch_id, source,
  rows_in, buckets_touched, files_rewritten/written} (lake/table.py::_next;
  a merge writes one delta and rewrites no file, a fold records
  ``deltas_folded``);
  ``lineage_frame`` exposes it as a DataFrame for SQL over commit history.
* **Streaming progress** — ``TailMetricsListener`` captures per-micro-batch
  input rows, processing rate and durations from the Structured Streaming
  progress events (the engine-side replacement for KCL checkpoint lag).
* **Batch observations** — ``observe_events`` attaches a CollectMetrics node
  counting rows kept vs dropped by the pre-init-sync filter without a second
  pass (df.observe; zero extra jobs).
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener


# Stable lineage schema: JSON inference over a non-empty history yields a
# superset of this, but a FRESH table must expose the same columns so
# downstream selects don't break on the empty case.
LINEAGE_SCHEMA = ("commit long, op string, batch_id long, source string, "
                  "rows_in long, buckets_touched long, files_rewritten long, "
                  "files_written long, files long")


def lineage_frame(spark: SparkSession, table) -> DataFrame:
    """Commit lineage of a LakeTable as a DataFrame (one row per commit)."""
    rows = [json.dumps(e) for e in table.manifest().lineage]
    if not rows:
        return spark.createDataFrame([], LINEAGE_SCHEMA)
    inferred = spark.read.json(spark.sparkContext.parallelize(rows, 1))
    base = spark.createDataFrame([], LINEAGE_SCHEMA)
    # union through the pinned schema so every lineage column exists even
    # when no commit in the window carried it
    return inferred.unionByName(base, allowMissingColumns=True)


def bucket_histogram(spark: SparkSession, table) -> DataFrame:
    """BASE files per bucket in the current manifest — the partition-lineage
    view (detects bucket skew / small-file buildup that compaction should
    fix). Merge-on-read deltas span many buckets each and are not counted:
    they live until the next fold."""
    m = table.manifest()
    df = spark.createDataFrame(
        [(e["bucket"], e["path"]) for e in m.files], "bucket int, path string")
    return (df.groupBy("bucket").agg(F.count("*").alias("n_files"))
              .orderBy("bucket"))


def observe_events(df: DataFrame, name: str = "cdc_batch") -> DataFrame:
    """Attach row/op counters to a batch plan (read from
    ``spark.sql.streaming`` observations or the batch listener)."""
    return df.observe(
        name,
        F.count(F.lit(1)).alias("n_events"),
        # observed metrics forbid DISTINCT aggregates; HLL sketch is fine
        F.approx_count_distinct(F.col("shard_id")).alias("n_shards"),
        F.max(F.col("seq_no")).alias("max_seq_no"))


class TailMetricsListener(StreamingQueryListener):
    """Collects per-micro-batch progress: rows, rates, durations."""

    def __init__(self) -> None:
        self.progress: list[dict[str, Any]] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        self.progress.append({
            "batch_id": p.get("batchId"),
            "num_input_rows": p.get("numInputRows"),
            "processed_rows_per_second": p.get("processedRowsPerSecond"),
            "duration_ms": p.get("durationMs"),
            "sources": [s.get("endOffset") for s in p.get("sources", [])],
        })

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass
