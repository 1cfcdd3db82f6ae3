"""Dead-letter quarantine for malformed change events (beyond-reference).

The reference connector *logs and skips* records it cannot convert
(DynamoDBSourceTask.java:363-367 catches the converter exception, logs the
record, and continues), so a malformed event is gone forever — the operator
learns about systematic producer corruption only from log lines. At 100 TB
that is operationally blind: a fleet needs the rejects *as data* — queryable,
re-ingestable after a producer fix, and counted per reason.

This module classifies every event the apply path ignores and (optionally,
via ``streaming.tail.start_tail(dlq_dir=...)``) lands them in a per-batch
dead-letter directory:

* ``unknown_event_name`` — eventName outside INSERT/MODIFY/REMOVE
  (the apply path's pushable ``IN`` filter, operators/apply.py).
* ``null_keys``          — no keys envelope at all (pushable IsNotNull).
* ``unparseable_keys``   — the keys envelope is malformed JSON, or parses
  but lacks a required key attribute (the post-dedup F5 drop: such rows
  group under null keys during LWW and are discarded,
  DynamoDBSourceTask.java:363-367).

Classification is pure column expressions over the raw event frame — the
same cheap predicates plus the same small keys-envelope ``from_json`` the
hot path already pays per event, so the DLQ pass adds one extra scan over
the MICRO-BATCH (never the table) and no per-row Python. Policy drops
(pre-init-sync window, F2) are deliberately NOT rejects: they are valid
events the snapshot already covers.

Idempotency: the per-batch DLQ write goes to ``batch_id=<n>/`` with
overwrite, so a foreachBatch redelivery after a crash rewrites the same
rejects instead of duplicating them — mirroring the merge's batch-id guard.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_connect_dynamodb_spark.functions.envelope import (
    KEY_FIELDS, attr_value, parse_keys)

VALID_EVENT_NAMES: tuple[str, ...] = ("INSERT", "MODIFY", "REMOVE")

REASON_UNKNOWN_EVENT = "unknown_event_name"
REASON_NULL_KEYS = "null_keys"
REASON_BAD_KEYS = "unparseable_keys"


def reject_reason(parsed: Column, key_fields: Sequence[str]) -> Column:
    """Reason the apply path would ignore this event, or NULL if it applies.
    ``parsed`` is the event's keys envelope as :func:`parse_keys` returns
    it for ``key_fields``.

    Reasons are checked in the order the apply pipeline drops them
    (cheap pushable predicates first, exact key parse last), so each event
    gets exactly one reason even when several conditions hold.
    """
    key_ok = None
    for k in key_fields:
        p = attr_value(parsed[k]).isNotNull()
        key_ok = p if key_ok is None else (key_ok & p)
    return (F.when(~F.col("event_name").isin(*VALID_EVENT_NAMES)
                   | F.col("event_name").isNull(),
                   F.lit(REASON_UNKNOWN_EVENT))
             .when(F.col("keys").isNull(), F.lit(REASON_NULL_KEYS))
             .when(~key_ok, F.lit(REASON_BAD_KEYS)))


def classify_rejects(df: DataFrame, *,
                     key_fields: Iterable[str] = KEY_FIELDS) -> DataFrame:
    """The events the apply path ignores, each tagged with ``reject_reason``.

    Returns the original columns plus ``reject_reason``; rows that would
    apply cleanly are filtered out. No shuffle, no Python. The keys parse
    sits behind an ``explode`` of a one-element array: the reason filter
    cannot be pushed below a generator it reads, so the parse runs once per
    event; in a plain projection the pushed filter would inline it again
    into every key's expression.
    """
    key_fields = tuple(key_fields)
    parsed = F.explode(F.array(parse_keys(F.col("keys"), key_fields)))
    return (df.select("*", parsed.alias("_keys"))
              .withColumn("reject_reason",
                          reject_reason(F.col("_keys"), key_fields))
              .filter(F.col("reject_reason").isNotNull())
              .drop("_keys"))


def write_dlq(rejects: DataFrame, dlq_dir: str, batch_id: int) -> None:
    """Land one micro-batch's rejects under ``<dlq_dir>/batch_id=<n>/``.

    Overwrite (not append) keyed by batch id = idempotent on foreachBatch
    redelivery; the directory layout makes the DLQ itself a partitioned
    parquet table (``spark.read.parquet(dlq_dir)`` exposes ``batch_id``).
    """
    (rejects.write.mode("overwrite")
            .parquet(f"{dlq_dir}/batch_id={batch_id}"))
