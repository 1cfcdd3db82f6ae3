"""Slowly-changing-dimension (Type 2) history from the change-event stream.

The reference connector's output is a per-key change stream consumed
downstream (README.md:21-27, docs/data.md:16-66); the two canonical
consumers are log-compacted current state (operators/lww.py) and a FULL
version history — the SCD Type 2 dimension every warehouse builds from a
CDC feed. This module derives that history Spark-first:

* ``scd2_history`` — batch: one ranking-window pass over the event log.
  Each non-delete event opens a version valid over ``[seq, next_seq)``
  where ``next_seq`` is the key's next event of ANY kind (an update closes
  the previous version, a delete closes it without opening one). One keyed
  exchange, no joins, no state.
* ``scd2_apply_increment`` — incremental: fold a new event tranche into an
  existing history touching ONLY the increment's keys. Closed versions are
  immutable (append-only at rest); just the touched keys' OPEN rows re-enter
  the window as pseudo-events. Cost ∝ churn + |touched open rows|, never
  |history| — the same at-100-TB shape as operators/incremental.py, pinned
  exactly equal to rerunning the batch operator over the full log.

Sequence numbers must be unique per key (the stream contract the reference
relies on for its shard register, DynamoDBSourceTask.java:413-430;
FIXTURES.md §2) — with duplicate seqs the version order would be undefined.
Works equally on a raw event log or on a ``feed_preimages`` change feed's
post rows (there the history is commit-granular: intra-batch losers never
reached the table, so they are not versions).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kafka_connect_dynamodb_spark.operators.lww import SEQ_TYPE

VALID_FROM, VALID_TO, IS_CURRENT = "valid_from", "valid_to", "is_current"


def scd2_history(events: DataFrame, key_cols: Sequence[str], seq_col: str,
                 payload_cols: Sequence[str], *, op_col: str = "_op",
                 delete_op: str = "d") -> DataFrame:
    """Version rows: key_cols + payload_cols + ``valid_from`` (the event's
    seq) + ``valid_to`` (the key's next seq, NULL = still open) +
    ``is_current``. Delete events close the prior version and emit none.

    Plan: one exchange on the keys + one window sort (lead over seq); the
    delete filter runs AFTER the lead so deletes still close versions.
    """
    keys, payload = list(key_cols), list(payload_cols)
    w = Window.partitionBy(*keys).orderBy(F.col(VALID_FROM))
    return (events
            .select(*keys, *payload, F.col(op_col).alias("_op"),
                    F.col(seq_col).alias(VALID_FROM))
            .withColumn(VALID_TO, F.lead(VALID_FROM).over(w))
            .filter(F.col("_op") != delete_op)
            .drop("_op")
            .withColumn(IS_CURRENT, F.col(VALID_TO).isNull()))


def scd2_temporal_join(facts: DataFrame, history: DataFrame,
                       key_cols: Sequence[str], fact_seq_col: str, *,
                       how: str = "left") -> DataFrame:
    """Enrich fact rows with the dimension version valid at the fact's
    sequence point: the history row with ``valid_from <= fact_seq`` and
    (``valid_to`` NULL or ``fact_seq < valid_to``) — THE consumer query of
    an SCD2 dimension (every warehouse fact/dim temporal lookup).

    Spark-first plan: the naive formulation is an inequality theta-join
    (BroadcastNestedLoopJoin at best, quadratic per key at 100 TB). Here
    versions and facts union onto ONE key-hash exchange; a single
    ``last(ignorenulls)`` event-order window carries each key's most
    recent version (whole row as one struct, same rationale as
    operators/joins.py::asof_join) to each fact, and the carried
    ``valid_to`` re-checks the exclusive upper bound — so a fact falling
    in a post-delete gap matches nothing. One shuffle, linear state, no
    range predicate ever reaches a join.

    ``how``: 'left' keeps unmatched facts with NULL dimension columns;
    'inner' drops them. Dimension payload = every history column except
    the keys (including ``valid_from``/``valid_to``/``is_current``);
    names must not collide with fact columns.
    """
    if how not in ("left", "inner"):
        raise ValueError(f"how must be 'left' or 'inner', got {how!r}")
    keys = list(key_cols)
    dpay = [c for c in history.columns if c not in keys]
    clash = set(dpay) & set(facts.columns)
    if clash:
        raise ValueError(f"dimension columns collide with fact columns: "
                         f"{clash}")
    # SEQ_TYPE holds any integral seq exactly (the stream's BigInteger ones)
    lhs = (facts.withColumn("_t", F.col(fact_seq_col).cast(SEQ_TYPE))
                .withColumn("_is_fact", F.lit(1)))
    rhs = (history.select(*keys,
                          F.col(VALID_FROM).cast(SEQ_TYPE).alias("_t"),
                          F.struct(*dpay).alias("_dim"))
                  .withColumn("_is_fact", F.lit(0)))
    u = lhs.unionByName(rhs, allowMissingColumns=True)
    # versions sort BEFORE facts at equal _t => inclusive valid_from
    w = (Window.partitionBy(*keys)
               .orderBy(F.col("_t"), F.col("_is_fact"))
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    u = u.withColumn("_dim", F.last("_dim", ignorenulls=True).over(w))
    valid = (F.col("_dim").isNotNull()
             & (F.col("_dim")[VALID_TO].isNull()
                | (F.col("_t") < F.col("_dim")[VALID_TO])))
    out = (u.filter(F.col("_is_fact") == 1)
            .withColumn("_dim", F.when(valid, F.col("_dim"))))
    if how == "inner":
        out = out.filter(F.col("_dim").isNotNull())
    return out.select(*[F.col(c) for c in facts.columns],
                      *[F.col(f"_dim.{c}").alias(c) for c in dpay])


def scd2_apply_increment(history: DataFrame, increment: DataFrame,
                         key_cols: Sequence[str], seq_col: str,
                         payload_cols: Sequence[str], *, op_col: str = "_op",
                         delete_op: str = "d") -> DataFrame:
    """Fold an event tranche into an existing SCD2 history.

    Contract (the CDC tail guarantee the reference's shard order provides,
    KclRecordProcessor.java:98-133): every increment seq is greater than
    every history seq of the same key. Under it, closed versions cannot
    change; only the touched keys' open rows can close. So:

        result = history(keys untouched by the increment)
               ∪ history(touched, already-closed rows)
               ∪ scd2_history(touched open rows as pseudo-events ∪ increment)

    Both carve-out joins are equi-joins against the increment's DISTINCT
    keys — broadcastable for any sane tranche; nothing scans or shuffles
    the closed history beyond them.
    """
    keys, payload = list(key_cols), list(payload_cols)
    touched = increment.select(*keys).distinct()
    untouched = history.join(touched, on=keys, how="left_anti")
    hist_touched = history.join(touched, on=keys, how="left_semi")
    kept_closed = hist_touched.filter(F.col(VALID_TO).isNotNull())
    reopened = hist_touched.filter(F.col(VALID_TO).isNull()).select(
        *keys, *payload,
        F.col(VALID_FROM).alias(seq_col),
        F.lit("r").alias(op_col))
    inc = increment.select(*keys, *payload, seq_col, op_col)
    recomputed = scd2_history(reopened.unionByName(inc), keys, seq_col,
                              payload, op_col=op_col, delete_op=delete_op)
    return untouched.unionByName(kept_closed).unionByName(recomputed)
