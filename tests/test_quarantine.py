"""DLQ quarantine: reject classification, one keys parse, DLQ landing
through the stream tail, and redelivery idempotency.

The reference logs-and-skips unconvertible records
(DynamoDBSourceTask.java:363-367); this suite pins the engine's stronger
contract: every ignored event is captured exactly once with one reason, and
turning the DLQ on changes nothing about the applied state.
"""

from __future__ import annotations

from datetime import datetime, timedelta
from decimal import Decimal

from pyspark.sql import functions as F

from kafka_connect_dynamodb_spark.lake.table import LakeTable
from kafka_connect_dynamodb_spark.operators.apply import prepare_winners
from kafka_connect_dynamodb_spark.operators.quarantine import (
    REASON_BAD_KEYS, REASON_NULL_KEYS, REASON_UNKNOWN_EVENT,
    classify_rejects)
from kafka_connect_dynamodb_spark.plans.pipeline import CdcPipeline
from kafka_connect_dynamodb_spark.sources.generator import (
    DEFAULT_BASE_TS, change_events, source_table)
from kafka_connect_dynamodb_spark.streaming import tail

_TS = datetime(2024, 6, 1, 12, 0)


def _img(key: str) -> str:
    return f'{{"repo":{{"s":"r1"}},"path":{key},"content":{{"s":"x"}}}}'


# (event_id, event_name, keys, new_image, seq_no, ts) — keys envelopes use
# the engine's (repo, path) key fields; every event has its own seq_no
_EVENTS = [
    (0, "INSERT", '{"repo":{"s":"r1"},"path":{"s":"a"}}', _img('{"s":"a"}')),  # clean
    (1, "MODIFY", '{"repo":{"s":"r1"},"path":{"n":"7"}}', _img('{"n":"7"}')),  # clean (N key)
    (2, "REMOVE", '{"repo":{"s":"r1"},"path":{"s":"b"}}', None),               # clean
    (3, "TRIM_HORIZON", '{"repo":{"s":"r1"},"path":{"s":"c"}}', _img('{"s":"c"}')),  # unknown name
    (4, None, '{"repo":{"s":"r1"},"path":{"s":"c"}}', _img('{"s":"c"}')),     # null name
    (5, "INSERT", None, _img('{"s":"d"}')),                                  # null keys
    (6, "INSERT", '{"repo":{"s":"r1"},"path":{"s":', _img('{"s":"e"}')),      # broken JSON
    (7, "INSERT", '{"repo":{"s":"r1"}}', _img('{"s":"f"}')),                  # missing path
    (8, "INSERT", '{"repo":{"s":"r1"},"path":{"bool":true}}', _img('{"s":"g"}')),  # untyped key
    # unknown name wins over bad keys (checked in apply-pipeline order)
    (9, "LATEST", None, None),
]
ROWS = [(i, name, keys, image, Decimal(100 + i), _TS + timedelta(seconds=i))
        for i, name, keys, image in _EVENTS]

EXPECTED = {3: REASON_UNKNOWN_EVENT, 4: REASON_UNKNOWN_EVENT,
            5: REASON_NULL_KEYS, 6: REASON_BAD_KEYS, 7: REASON_BAD_KEYS,
            8: REASON_BAD_KEYS, 9: REASON_UNKNOWN_EVENT}


def _frame(spark):
    return spark.createDataFrame(
        ROWS, "event_id long, event_name string, keys string, "
              "new_image string, seq_no decimal(38,0), ts timestamp")


def test_reject_reasons_exact(spark):
    got = {r["event_id"]: r["reject_reason"]
           for r in classify_rejects(_frame(spark)).collect()}
    assert got == EXPECTED


def test_classify_rejects_parses_keys_once(spark):
    """The keys envelope is parsed once per event, not once per key
    attribute: the optimized plan holds a single from_json."""
    plan = classify_rejects(_frame(spark))._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert plan.count("from_json(") == 1, plan


def test_apply_and_quarantine_agree_row_by_row(spark):
    """Every event either applies (its key survives prepare_winners) or has
    a classify_rejects reason: none in both sets, none in neither. Each
    event has its own seq_no, so a winner's _seq names its event."""
    df = _frame(spark)
    event_of = {Decimal(100 + r[0]): r[0] for r in ROWS}
    winners = prepare_winners(df).collect()
    applied = {event_of[r["_seq"]] for r in winners}
    assert applied == {0, 1, 2}
    assert ({(r["repo"], r["path"]) for r in winners}
            == {("r1", "a"), ("r1", "7"), ("r1", "b")})
    rejected = {r["event_id"] for r in classify_rejects(df).collect()}
    assert applied.isdisjoint(rejected)
    assert applied | rejected == {r[0] for r in ROWS}


def _corrupt(events):
    """Deterministically break ~1/8 of a generated change log: unknown
    names, nulled keys, truncated keys JSON."""
    m = F.col("seq_no").cast("decimal(38,0)") % 24
    return (events
            .withColumn("event_name", F.when(m == 0, F.lit("TRIM_HORIZON"))
                        .otherwise(F.col("event_name")))
            .withColumn("keys", F.when(m == 1, F.lit(None).cast("string"))
                        .when(m == 2, F.substring("keys", 1, 5))
                        .otherwise(F.col("keys"))))


def test_tail_dlq_captures_rejects_and_state_matches_clean_run(spark, tmp_path):
    """Same corrupted log drained twice — with and without the DLQ: applied
    state identical, and the DLQ holds exactly the classified rejects."""
    base = source_table(spark, 80)
    ev = _corrupt(change_events(spark, 80, 600, pre_init_frac=0.0))
    ev.write.parquet(str(tmp_path / "log"))
    raw = spark.read.parquet(str(tmp_path / "log"))

    states = []
    for i, dlq in enumerate([None, str(tmp_path / "dlq")]):
        table = LakeTable(str(tmp_path / f"tbl{i}"))
        pipe = CdcPipeline(spark, table, n_buckets=4,
                           clock=lambda: DEFAULT_BASE_TS.timestamp())
        pipe.init_sync(base)
        q = tail.start_tail(spark, str(tmp_path / "log"), table,
                            checkpoint_dir=str(tmp_path / f"cp{i}"),
                            available_now=True,
                            init_sync_start=DEFAULT_BASE_TS, dlq_dir=dlq)
        q.awaitTermination()
        states.append(sorted(
            tuple(r) for r in table.read(spark).select(
                "repo", "path", "content").collect()))
    assert states[0] == states[1]

    dlq_df = spark.read.parquet(str(tmp_path / "dlq"))
    expected = classify_rejects(raw)
    got = sorted((r["seq_no"], r["reject_reason"])
                 for r in dlq_df.select("seq_no", "reject_reason").collect())
    want = sorted((r["seq_no"], r["reject_reason"])
                  for r in expected.select("seq_no", "reject_reason").collect())
    assert got == want and len(got) > 0
    # every reason class is actually exercised by the corruption
    assert ({r for _, r in got}
            == {REASON_UNKNOWN_EVENT, REASON_NULL_KEYS, REASON_BAD_KEYS})
    # batch_id partition column is exposed when reading the DLQ root
    assert "batch_id" in dlq_df.columns


def test_dlq_redelivery_is_idempotent(spark, tmp_path):
    """Re-draining the same log through a FRESH checkpoint (worst-case full
    redelivery) rewrites the same per-batch directories — row set unchanged."""
    base = source_table(spark, 50)
    ev = _corrupt(change_events(spark, 50, 400, pre_init_frac=0.0))
    ev.write.parquet(str(tmp_path / "log"))
    table = LakeTable(str(tmp_path / "tbl"))
    pipe = CdcPipeline(spark, table, n_buckets=4,
                       clock=lambda: DEFAULT_BASE_TS.timestamp())
    pipe.init_sync(base)
    counts = []
    for cp in ("cp_a", "cp_b"):
        q = tail.start_tail(spark, str(tmp_path / "log"), table,
                            checkpoint_dir=str(tmp_path / cp),
                            available_now=True,
                            init_sync_start=DEFAULT_BASE_TS,
                            dlq_dir=str(tmp_path / "dlq"))
        q.awaitTermination()
        counts.append(spark.read.parquet(str(tmp_path / "dlq")).count())
    assert counts[0] == counts[1] > 0
