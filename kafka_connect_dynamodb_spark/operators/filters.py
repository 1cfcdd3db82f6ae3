"""CDC stream filters & projections (reference operators F1-F6).

Each of the reference's per-record checks in ``DynamoDBSourceTask.sync()``
(DynamoDBSourceTask.java:276-371) becomes a declarative column expression the
optimizer can push, fold, and codegen.
"""

from __future__ import annotations

import functools
from datetime import datetime, timedelta, timezone

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Envelope op codes (reference: Envelope.java:12-28)
OP_READ = "r"      # snapshot / init-sync row
OP_CREATE = "c"    # INSERT
OP_UPDATE = "u"    # MODIFY
OP_DELETE = "d"    # REMOVE

# stream eventName -> envelope op (DynamoDBSourceTask.java:383-394): the
# names the apply keeps and the DLQ passes
EVENT_OPS = {"INSERT": OP_CREATE, "MODIFY": OP_UPDATE, "REMOVE": OP_DELETE}

# Operating constants (reference: DynamoDBSourceTask.java:214,373-381)
PRE_INIT_SYNC_WINDOW_HOURS = 1     # duplicates-accepted overlap window
DANGER_ZONE_HOURS = 20             # older event => stream may have expired
INIT_SYNC_RESTART_HOURS = 19       # snapshot running longer is restarted


def decode_op(event_name: Column | str = "event_name", *, strict: bool = True) -> Column:
    """Map stream eventName -> envelope op code (DynamoDBSourceTask.java:383-394).

    INSERT->c, MODIFY->u, REMOVE->d; unknown names raise (strict) or yield
    null for a downstream parse-error drop (F5, DynamoDBSourceTask.java:363-367).
    """
    c = F.col(event_name) if isinstance(event_name, str) else event_name
    expr = F  # F.when opens the chain, Column.when extends it
    for name, op in EVENT_OPS.items():
        expr = expr.when(c == name, F.lit(op))
    if strict:
        return expr.otherwise(F.raise_error(F.concat(F.lit("unsupported event name: "), c)))
    return expr.otherwise(F.lit(None))


def known_event() -> Column:
    """F6's cheap half: a name of ``EVENT_OPS`` (a pushable ``IN``)."""
    return F.col("event_name").isin(*EVENT_OPS)


def keys_parsed(*values: Column) -> Column:
    """F5's exact half: every key value parsed (DynamoDBSourceTask.java:363-367)."""
    return functools.reduce(Column.__and__, (v.isNotNull() for v in values))


def project_image(new_image: str = "new_image", keys: str = "keys") -> Column:
    """F1: NewImage if present, else Keys (REMOVE events carry no image)
    (DynamoDBSourceTask.java:338-343)."""
    return F.coalesce(F.col(new_image), F.col(keys))


def pre_init_sync_filter(df: DataFrame, init_sync_start: datetime,
                         ts_col: str = "ts",
                         window_hours: int = PRE_INIT_SYNC_WINDOW_HOURS) -> DataFrame:
    """F2: drop events already covered by the snapshot.

    Reference predicate: keep iff ``arrivalTimestamp + 1h > lastInitSyncStart``
    (DynamoDBSourceTask.java:373-377). Dropped rows still advanced the shard
    register there (:308); in Spark, offset progress is per micro-batch, so
    dropped rows advance offsets automatically — no register needed.
    """
    cutoff = init_sync_start - timedelta(hours=window_hours)
    return df.filter(F.col(ts_col) > F.lit(cutoff))


def danger_cutoff(now: datetime,
                  danger_hours: int = DANGER_ZONE_HOURS) -> datetime:
    """F3: the danger-zone boundary as a session-TZ-naive (UTC) datetime —
    directly comparable to Spark-returned timestamps. An event at or below
    it may have expired from the 24h stream, so the batch is abandoned and
    INIT_SYNC re-run (DynamoDBSourceTask.java:318-331,379-381); apply_batch
    compares it with the batch's observed min(ts)."""
    cutoff = now - timedelta(hours=danger_hours)
    if cutoff.tzinfo is not None:
        cutoff = cutoff.astimezone(timezone.utc).replace(tzinfo=None)
    return cutoff

