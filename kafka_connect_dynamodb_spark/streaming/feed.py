"""Change-feed mirroring: the table -> event -> table composition as a
first-class operator.

The reference's output is a Kafka topic that downstream consumers replay
into their own stores (README.md:21-27); here the analog is a second
LakeTable fed solely by the primary's committed change feed. Exactly-once
end-to-end comes from two idempotence layers composed: the Structured
Streaming checkpoint WAL pins which primary commit versions belong to each
micro-batch (``LakeTable.stream_changes``' offsets are manifest versions),
and ``LakeTable.merge``'s ``committed[source]=batch_id`` guard makes a
redelivered batch a no-op — so a consumer killed mid-batch and restarted
converges to sha-parity with the primary (pinned by
tests/test_change_feed.py::test_downstream_table_exactly_once_via_feed).

Scale note: the feed is the primary's per-commit merge-on-read deltas
(LWW winners, ~|changed keys| rows), so a mirror's work is proportional to
churn, not table size — the whole point of CDC composition at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from kafka_connect_dynamodb_spark.lake.table import LakeTable
from kafka_connect_dynamodb_spark.streaming.tail import start_foreach_batch


def apply_feed_batch(batch_df, batch_id: int, *, downstream: LakeTable,
                     key_cols: list[str], source: str = "feed") -> None:
    """One mirror micro-batch: resync-epoch detection, LWW reduction,
    idempotent merge. Module-level (not a closure) so the empty-batch
    behavior is directly pinnable by tests.

    The batch is read ONCE, into a local checkpoint observing its row
    count (empty → no further job), latest resync epoch and latest delta
    commit; replace and merge read the checkpoint. A lost executor fails
    the batch and the stream redelivers it (both writes are idempotent)."""
    from pyspark.sql import Observation, functions as F

    from kafka_connect_dynamodb_spark.operators.lww import latest_per_key

    sp = batch_df.sparkSession
    obs = Observation()
    snapshot_row = F.col("_op") == "r"
    batch_df = batch_df.observe(
        obs, F.count(F.lit(1)).alias("n"),
        F.max(F.when(snapshot_row, F.col("_commit"))).alias("epoch"),
        F.max(F.when(~snapshot_row, F.col("_commit"))).alias("last"),
    ).localCheckpoint()
    probe = obs.get
    if probe["n"] == 0:
        return
    epoch = probe["epoch"]
    if epoch is not None:
        snap = (batch_df.filter(snapshot_row & (F.col("_commit") == epoch))
                        .drop("_op", "_commit"))
        downstream.replace(sp, snap, seq_col="_seq")
        if probe["last"] is None or probe["last"] <= epoch:
            return                      # no delta after the resync epoch
        rest = batch_df.filter(~snapshot_row & (F.col("_commit") > epoch))
    else:
        rest = batch_df
    # LakeTable.merge requires ONE row per key (a commit's delta holds one
    # version per key), but a micro-batch spanning several commits —
    # availableNow catch-up, a lagging mirror — carries one row per key PER
    # COMMIT. LWW-reduce first, exactly as apply_batch does; ties on _seq
    # (a redelivered winner) break toward the later commit.
    rest = latest_per_key(rest, key_cols, ["_seq", "_commit"]).drop("_commit")
    downstream.merge(sp, rest, batch_id=batch_id, source=source)


def mirror_changes(spark: SparkSession, primary: LakeTable,
                   downstream: LakeTable, *, checkpoint_dir: str,
                   source: str = "feed",
                   available_now: bool = True,
                   processing_time: str | None = None) -> StreamingQuery:
    """Apply the primary's change feed to ``downstream`` with exactly-once
    semantics. Bootstrap the downstream from a snapshot of the primary
    first (``downstream.create(spark, primary.read(spark), ...)``); the
    feed then keeps it converged incrementally.

    ``available_now=True`` drains the committed feed and stops (catch-up
    mode); ``processing_time`` runs a continuous mirror.

    Resync epochs: when the primary danger-zone re-snapshots, its
    ``replace()`` publishes the new snapshot as op-'r' rows (the reference
    re-publishes INIT_SYNC records to the topic). On seeing them the mirror
    TRUNCATES to the latest epoch via its own ``replace()`` and applies only
    deltas from commits after it — pre-resync deltas in the same micro-batch
    carry real (>0) seq-nos that would otherwise wrongly beat the snapshot's
    seq-0 rows under LWW. Both paths stay idempotent across checkpoint
    redelivery (replace converges; merge no-ops on seen batch ids).
    """
    key_cols = list(primary.manifest().key_cols)

    def _apply(batch_df, batch_id: int):
        apply_feed_batch(batch_df, batch_id, downstream=downstream,
                         key_cols=key_cols, source=source)

    return start_foreach_batch(primary.stream_changes(spark), _apply,
                               checkpoint_dir, available_now=available_now,
                               processing_time=processing_time)
