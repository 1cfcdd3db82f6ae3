"""Last-writer-wins per-key dedup — the engine's core reduce.

Generalizes the reference's per-shard monotonic max-sequence-number register
(DynamoDBSourceTask.java:413-430, A2) to a per-(repo,path) reduction, which is
what LWW replay + downstream Kafka log-compaction semantics (docs/data.md:47-52)
amount to.

Two physical strategies, both producing identical results:

* ``latest_per_key`` (default) — ``groupBy(keys).agg(max_by(struct(*), order))``.
  Catalyst plans this as partial + final aggregation, so the shuffle moves
  at most one row per key per map partition (map-side combine). Preferred at
  scale: shuffle bytes ~ |distinct keys|, not |events|. On an input that is
  one partition (:func:`one_partition`) behind a ``coalesce(1)``, the plan
  declares ``SinglePartition`` and the planner drops the exchange: the
  partial and final aggregates run back to back in one task.
* ``latest_per_key_window`` — ``row_number() over (partition by keys order by
  order desc) = 1``. Requires a full shuffle + sort of every event; kept for
  plan comparison and as the SQL-oracle-shaped formulation.

With map-side combine the plain agg is already skew-resistant: a hot key
collapses to one row per mapper before the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def one_partition(df: DataFrame) -> bool:
    """Does Spark plan ``df`` as one partition? Answered from planning
    alone; no Spark job runs.

    * A plan that runs without AQE (with AQE on: no exchange and no cache
      in it — a file scan, a streaming micro-batch or local rows, under
      projections, filters and observations) builds its RDD without
      running it. For a file scan the count is Spark's own split planning:
      one partition when the files fit one split, ``min(maxPartitionBytes,
      max(openCostInBytes, bytes / cores))``.
    * Under AQE, building the RDD would run the plan's query stages (an
      exchange, or the fill of a cache), so the partitioning the plan
      declares answers instead: ``SinglePartition`` behind a
      ``coalesce(1)``, including one inside a persisted frame.
    """
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() != "AdaptiveSparkPlanExec":
        return plan.execute().getNumPartitions() <= 1
    return plan.inputPlan().outputPartitioning().numPartitions() == 1


def _ord(order_cols: list[str]):
    return F.struct(*[F.col(c) for c in order_cols])


def latest_per_key(df: DataFrame, keys: list[str], order_cols: list[str]) -> DataFrame:
    """One row per key: the row with the lexicographically-largest order tuple.

    max_by(struct(payload), struct(order)) — partial/final agg, no sort.
    Ties on the full order tuple are broken arbitrarily; callers pass a
    totally-ordering tuple (seq_no is unique per key by stream contract,
    FIXTURES.md §2).
    """
    payload = [c for c in df.columns if c not in keys]
    agg = df.groupBy(*keys).agg(
        F.max_by(F.struct(*[F.col(c) for c in payload]), _ord(order_cols)).alias("_top"))
    return agg.select(*keys, *[F.col(f"_top.{c}").alias(c) for c in payload])


def latest_per_key_window(df: DataFrame, keys: list[str], order_cols: list[str]) -> DataFrame:
    """Window-ranking formulation (row_number desc = 1). Same semantics,
    heavier plan (full sort within key partitions); the single window function
    the rebuild needs per SURVEY §2.5."""
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order_cols])
    return (df.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") == 1)
              .drop("_rn"))


def shard_max_seq(df: DataFrame, shard_col: str = "shard_id",
                  seq_col: str = "seq_no") -> DataFrame:
    """A2: per-shard max committed sequence number — the reference's only
    aggregate (RegisterAsProcessed, DynamoDBSourceTask.java:413-430). Numeric
    (decimal(38,0)) compare, not lexicographic — 26-digit seq-nos per
    DynamoDBSourceTaskTests.java:821,832."""
    return df.groupBy(shard_col).agg(
        F.max(F.col(seq_col).cast("decimal(38,0)")).alias("max_seq_no"))
