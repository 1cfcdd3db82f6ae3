"""Micro-batch CDC apply: raw change events -> LWW-deduped MERGE into the lake.

This is the engine's hot path, the set-oriented replacement for the
reference's per-record ``sync()`` loop (DynamoDBSourceTask.java:276-371):

raw events
  -> F3 danger-zone guard (min-ts observe metric over every polled event)
  -> F2 pre-init-sync drop (filters.pre_init_sync_filter)
  -> F5/F6 cheap half: event name IN (...) and keys IS NOT NULL, pushed
     into the scan
  -> key parse (envelope.parse_keys: the small ``keys`` envelope, one
     from_json per event) + F6 op decode + F1 image projection
  -> per-key LWW dedup carrying the *raw* image string (max_by partial+final
     agg — on a multi-partition batch the shuffle moves one row per key per
     mapper, not one per event; a one-partition batch has no shuffle)
  -> F5 exact half: drop winners whose keys did not parse
  -> decode_winners: parse each winner's image once into a map (|keys|
     rows, NOT |events| — the expensive JSON parse runs post-reduction),
     checkpoint them once, observing new attributes (schema evolution)
     on that job, and project every payload field in one select
  -> LakeTable.merge (one merge-on-read delta per commit, idempotent on
     batch_id)

Keys and images go through one rule, envelope.attr_value, so the apply
path and the DLQ (operators.quarantine) agree on which keys parse.

A micro-batch that arrives as ONE input partition (one log file that fits
one split — the reference's 1,000-record GetRecords page) is applied with no
exchange at all: the batch is planned behind a ``coalesce(1)``, so the LWW
reduce with schema discovery, and the delta write, each run as one
single-task job (lww.one_partition). A batch of several partitions keeps
the shuffled plan.

Every step is declarative; the whole batch plan is Catalyst-optimized and
whole-stage-codegen'd. No Python executes per row. Ordering the heavy
envelope parse after the LWW reduce is the single biggest scale lever: at
10^10 events with ~10^8 live keys it removes ~99% of JSON work.
"""

from __future__ import annotations

from datetime import datetime
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from kafka_connect_dynamodb_spark.functions.envelope import (
    KEY_FIELDS, PAYLOAD_FIELDS, attr_value, parse_keys)
from kafka_connect_dynamodb_spark.lake.table import LakeTable
from kafka_connect_dynamodb_spark.operators import filters
from kafka_connect_dynamodb_spark.operators.lww import latest_per_key, one_partition

TAGGED_MAP = "map<string,struct<s:string,n:string,bool:boolean>>"


class DangerZoneError(RuntimeError):
    """Raised when a batch contains events older than the danger-zone cutoff;
    the pipeline must abandon the stream and re-run INIT_SYNC
    (DynamoDBSourceTask.java:318-331)."""


def prepare_winners(df: DataFrame, *,
                    init_sync_start: datetime | None = None) -> DataFrame:
    """Filters + key-parse + LWW dedup: one row per key, image still raw.

    This is the only full-pass-over-events stage; :func:`decode_winners`
    checkpoints its result so schema discovery and the MERGE both reuse
    one pass.

    A one-partition input (lww.one_partition: Spark's split planning put
    the batch in one partition) is planned behind a ``coalesce(1)`` before
    the filters, so the plan declares ``SinglePartition`` and the LWW
    partial+final aggregates run back to back in one task with no exchange.
    Any other input keeps the shuffled partial+final aggregate.

    Plan shape (see PLANS.md): pre-agg filters use only CHEAP, parquet-pushable
    predicates (event-name IN, keys IsNotNull). The exact parse-error drop (F5)
    for unparseable keys runs POST-dedup on the ~|keys|-row winner set — if it
    sat before the agg, Catalyst's predicate pushdown would substitute the
    CodegenFallback ``from_json`` into the scan Filter and evaluate it ~5x per
    event, interpreted (measured ~20% of batch wall time at 10M events). Null
    keys group together during the reduce and are dropped afterwards, so the
    final state is identical to the reference's per-record skip
    (DynamoDBSourceTask.java:363-367).
    """
    if one_partition(df):
        df = df.coalesce(1)
    if init_sync_start is not None:
        df = filters.pre_init_sync_filter(df, init_sync_start)

    # F5/F6 cheap half: unknown event names & null keys envelopes drop here
    # (pushable IN / IsNotNull filters reach the parquet scan).
    ev = (df.filter(F.col("event_name").isin("INSERT", "MODIFY", "REMOVE")
                    & F.col("keys").isNotNull())
            .withColumn("_k", parse_keys(F.col("keys"))))
    change = ev.select(
        *[attr_value(F.col("_k")[k]).alias(k) for k in KEY_FIELDS],
        filters.project_image().alias("_img"),
        filters.decode_op(strict=False).alias("_op"),
        F.col("seq_no").cast("decimal(38,0)").alias("_seq"))
    winners = latest_per_key(change, list(KEY_FIELDS), ["_seq"])
    # F5 exact half, post-reduce: winners whose keys failed to parse. The
    # inert `| _op.isNull()` disjunct references an aggregated column so the
    # optimizer cannot push the predicate back below the agg into the scan.
    key_ok = None
    for k in KEY_FIELDS:
        p = F.col(k).isNotNull()
        key_ok = p if key_ok is None else (key_ok & p)
    return winners.filter(key_ok | F.col("_op").isNull())


def decode_winners(winners: DataFrame, *,
                   discover_fields: bool = False) -> DataFrame:
    """Decode the post-dedup winners' ``_img`` envelope: O(|keys|) JSON
    work, not O(|events|) (SURVEY §3.3 hot-path note). Returns one
    merge-ready row per key (columns: repo, path, payload..., _op, _seq).

    The image is parsed once into a map column, and every payload field
    is projected out of it in one ``select`` (``element_at``, so an
    absent attribute reads as null). With ``discover_fields`` the parsed
    winners go into an eager ``localCheckpoint`` that observes their
    distinct map keys (the additive attributes: schema evolution) on the
    same job; later reads (the delta write, a commit retry) scan the
    checkpoint, which keeps the plan's partitioning (one or many).

    Truncating the lineage is safe: an executor lost between the
    checkpoint and the delta write fails the batch; foreachBatch
    redelivers it, :meth:`LakeTable.merge` is idempotent on ``batch_id``,
    and vacuum reclaims the staged orphans.
    """
    out = (winners.withColumn("_m", F.from_json(F.col("_img"), TAGGED_MAP))
                  .drop("_img"))
    fields = list(PAYLOAD_FIELDS)
    if discover_fields:
        obs = Observation()
        out = out.observe(obs, F.array_distinct(F.flatten(F.collect_set(
            F.map_keys("_m")))).alias("found")).localCheckpoint()
        fields += sorted(k for k in obs.get["found"] if k not in PAYLOAD_FIELDS)
    # the winners' own columns (the parsed keys) win: a malformed image
    # must not null out a valid parsed key
    payload = [f for f in fields if f not in winners.columns]
    return out.select(
        *KEY_FIELDS,
        *[attr_value(F.element_at(F.col("_m"), f)).alias(f) for f in payload],
        "_op", "_seq")


def apply_batch(spark: SparkSession, table: LakeTable, df: DataFrame, *,
                batch_id: int | None = None, source: str = "stream",
                init_sync_start: datetime | None = None,
                now: datetime | None = None) -> dict[str, Any]:
    """Full micro-batch apply with exactly-once semantics.

    Safe to re-invoke with the same batch_id (foreachBatch redelivery):
    the merge no-ops once committed.

    The batch makes exactly ONE full pass over the events: the local
    checkpoint of :func:`decode_winners` materializes the ~|keys|-row
    winners and discovers their schema on one job, and the MERGE's delta
    write reads the checkpoint, never the raw event stream again. On a
    one-partition batch the whole apply is two single-task jobs (the
    checkpoint, the delta write), on a ``change_feed`` table too: the
    delta is the change feed.

    The F3 danger-zone check rides the same pass as an ``observe`` metric
    (min ts over the pre-filter events) instead of a separate agg job; the
    observation resolves with the checkpoint job, still BEFORE any merge
    work, so a breach aborts the batch unapplied
    (DynamoDBSourceTask.java:318-331). The CollectMetrics node intentionally
    pins the metric above the scan — the reference's check also sees every
    polled record, including ones later filters drop.
    """
    obs = None
    if now is not None:
        obs = Observation()
        df = df.observe(obs, F.min("ts").alias("min_ts"))
    winners = prepare_winners(df, init_sync_start=init_sync_start)
    deduped = decode_winners(winners, discover_fields=True)
    if obs is not None:
        min_ts = obs.get.get("min_ts")
        if min_ts is not None and min_ts <= filters.danger_cutoff(now):
            raise DangerZoneError(
                "batch contains events older than the 20h danger zone")
    return table.merge(spark, deduped, batch_id=batch_id, source=source)
