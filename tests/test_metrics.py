"""Lineage + metrics layer (north-rule: per-partition lineage & metrics)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_connect_dynamodb_spark.lake.table import LakeTable
from kafka_connect_dynamodb_spark.plans.metrics import (
    TailMetricsListener, bucket_histogram, observe_events)
from kafka_connect_dynamodb_spark.plans.pipeline import CdcPipeline
from kafka_connect_dynamodb_spark.sources.generator import (
    DEFAULT_BASE_TS, change_events, source_table)
from kafka_connect_dynamodb_spark.streaming import tail


def _replayed(spark, tmp_path, n=150, ev_n=800):
    base = source_table(spark, n)
    ev = change_events(spark, n, ev_n, pre_init_frac=0.0)
    table = LakeTable(str(tmp_path / "tbl"))
    pipe = CdcPipeline(spark, table, n_buckets=8,
                       clock=lambda: DEFAULT_BASE_TS.timestamp())
    pipe.init_sync(base)
    pipe.sync_batch(ev, 0)
    return table


def test_history_records_commits(spark, tmp_path):
    table = _replayed(spark, tmp_path)
    h = table.history(spark)
    rows = {r["op"] for r in h.select("op").collect() if r["op"]}
    assert "create" in rows and "merge" in rows
    merge = [r for r in h.collect() if r["op"] == "merge"][0]
    assert merge["rows_in"] > 0 and merge["buckets_touched"] >= 1
    assert merge["files_rewritten"] == 0 and merge["files_written"] >= 1
    assert [r["version"] for r in h.collect()] == \
        list(range(1, table.current_version() + 1))


def test_history_fresh_table_has_full_schema(spark, tmp_path):
    """A table with no version yields the same columns as a populated
    one, so `select('batch_id', 'rows_in', ...)` works on a fresh table."""
    empty = LakeTable(str(tmp_path / "none")).history(spark)
    assert empty.count() == 0
    for c in ("version", "op", "batch_id", "source", "rows_in",
              "buckets_touched", "files_rewritten", "files_written",
              "n_files"):
        assert c in empty.columns


def test_bucket_histogram_covers_all_buckets(spark, tmp_path):
    table = _replayed(spark, tmp_path)
    hist = {r["bucket"]: r["n_files"] for r in bucket_histogram(spark, table).collect()}
    assert set(hist) == set(range(8))
    assert all(n >= 1 for n in hist.values())


def test_observe_events_counters(spark):
    ev = change_events(spark, 100, 500, pre_init_frac=0.0)
    obs_df = observe_events(ev, "m")
    n = obs_df.count()
    row = obs_df.observedMetrics["m"] if hasattr(obs_df, "observedMetrics") else None
    # observations are attached via DataFrame.observe; read through collect path
    from pyspark.sql import Observation  # noqa: F401  (API presence check)
    assert n == 500


def _drained_progress(spark, tmp_path, **tail_kw):
    """Drain a 600-event, two-file log through ``start_tail(**tail_kw)``
    with a ``TailMetricsListener`` attached; returns its progress."""
    base = source_table(spark, 100)
    ev = change_events(spark, 100, 600, pre_init_frac=0.0)
    log = str(tmp_path / "log")
    ev.coalesce(2).write.parquet(log)
    table = LakeTable(str(tmp_path / "tbl"))
    pipe = CdcPipeline(spark, table, n_buckets=4,
                       clock=lambda: DEFAULT_BASE_TS.timestamp())
    pipe.init_sync(base)

    listener = TailMetricsListener()
    spark.streams.addListener(listener)
    try:
        tail.drain(tail.start_tail(spark, log, table,
                                   checkpoint_dir=str(tmp_path / "cp"),
                                   init_sync_start=DEFAULT_BASE_TS,
                                   **tail_kw))
        # listener delivery is async on the listener-bus thread
        import time
        deadline = time.time() + 30
        while not listener.progress and time.time() < deadline:
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(listener)
    return listener.progress


def test_tail_listener_collects_progress(spark, tmp_path):
    progress = _drained_progress(spark, tmp_path)
    assert progress, "no progress events captured"
    total_rows = sum(p["num_input_rows"] or 0 for p in progress)
    assert total_rows == 600


def test_tail_listener_counts_each_event_once_with_dlq(spark, tmp_path):
    """The dead-letter queue reads the same one copy of each micro-batch
    as the apply, so progress still reports every event once."""
    progress = _drained_progress(spark, tmp_path,
                                 dlq_dir=str(tmp_path / "dlq"))
    assert progress, "no progress events captured"
    assert sum(p["num_input_rows"] or 0 for p in progress) == 600
