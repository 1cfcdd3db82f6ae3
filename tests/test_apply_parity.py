"""End-to-end replay parity: engine final state == naive oracle replay,
per-row sha256(content) equality (BASELINE.json input_hint; the analog of the
reference's init-sync/stream-switchover integration tests,
DynamoDBSourceConnectorIT.java:41-59)."""

import threading
from datetime import timedelta, timezone

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from kafka_connect_dynamodb_spark.lake.table import LakeTable
from kafka_connect_dynamodb_spark.operators.apply import (
    DangerZoneError, apply_batch, decode_winners, prepare_winners)
from kafka_connect_dynamodb_spark.plans.pipeline import CdcPipeline
from kafka_connect_dynamodb_spark.plans.state import InitSyncStatus
from kafka_connect_dynamodb_spark.sources.generator import (
    DEFAULT_BASE_TS, change_events, events_schema, source_table)
from kafka_connect_dynamodb_spark.streaming import tail
from tests.oracle import final_hashes, replay

N_KEYS, N_EVENTS = 400, 3000
CLOCK = DEFAULT_BASE_TS.timestamp()


def engine_hashes(spark, table):
    rows = table.read(spark).withColumn("h", F.sha2(F.coalesce("content", F.lit("")), 256))
    return {(r.repo, r.path): r.h for r in rows.select("repo", "path", "h").collect()}


def oracle_hashes(spark, base_df, events_df, init_sync_start=None):
    base = [r.asDict() for r in base_df.collect()]
    evs = [r.asDict() for r in events_df.collect()]
    for e in evs:
        e["ts"] = e["ts"].replace(tzinfo=timezone.utc)
    return final_hashes(replay(base, evs, init_sync_start=init_sync_start))


def test_minimum_slice_parity(spark, tmp_path):
    base = source_table(spark, N_KEYS)
    events = change_events(spark, N_KEYS, N_EVENTS, pre_init_frac=0.05)

    table = LakeTable(str(tmp_path / "tbl"))
    pipe = CdcPipeline(spark, table, n_buckets=8, clock=lambda: CLOCK)
    pipe.run(base, events)

    assert pipe.load_state().init_sync_state == InitSyncStatus.FINISHED
    eng = engine_hashes(spark, table)
    ora = oracle_hashes(spark, base, events, init_sync_start=DEFAULT_BASE_TS)
    assert eng == ora
    assert len(eng) > N_KEYS * 0.5  # sanity: non-trivial final state


def test_parity_with_duplicates_and_deletes(spark, tmp_path):
    events = change_events(spark, N_KEYS, N_EVENTS, dup_frac=0.3, delete_frac=0.3,
                           pre_init_frac=0.0)
    base = source_table(spark, N_KEYS)
    table = LakeTable(str(tmp_path / "tbl"))
    pipe = CdcPipeline(spark, table, n_buckets=8, clock=lambda: CLOCK)
    pipe.run(base, events)
    assert engine_hashes(spark, table) == oracle_hashes(spark, base, events,
                                                        init_sync_start=DEFAULT_BASE_TS)


def test_multi_batch_parity_matches_single_batch(spark, tmp_path):
    """Splitting the log into micro-batches by seq range must give the same
    final state (cross-batch LWW guard)."""
    base = source_table(spark, N_KEYS)
    events = change_events(spark, N_KEYS, N_EVENTS, pre_init_frac=0.0)
    table = LakeTable(str(tmp_path / "tbl"))
    pipe = CdcPipeline(spark, table, n_buckets=8, clock=lambda: CLOCK)
    pipe.init_sync(base)
    # out-of-order batches: later seqs applied first, then earlier ones
    hi = events.filter(F.col("seq_no") >= F.lit("9999900000000000000001500").cast("decimal(38,0)"))
    lo = events.filter(F.col("seq_no") < F.lit("9999900000000000000001500").cast("decimal(38,0)"))
    pipe.sync_batch(hi, 0)
    pipe.sync_batch(lo, 1)
    assert engine_hashes(spark, table) == oracle_hashes(spark, base, events,
                                                        init_sync_start=DEFAULT_BASE_TS)


def test_schema_evolution_parity(spark, tmp_path):
    base = source_table(spark, N_KEYS)
    events = change_events(spark, N_KEYS, N_EVENTS, evolve_frac=0.3, pre_init_frac=0.0)
    table = LakeTable(str(tmp_path / "tbl"))
    pipe = CdcPipeline(spark, table, n_buckets=8, clock=lambda: CLOCK)
    pipe.run(base, events)
    out = table.read(spark)
    assert "branch" in out.columns
    assert out.filter(F.col("branch").isNotNull()).count() > 0
    assert engine_hashes(spark, table) == oracle_hashes(spark, base, events,
                                                        init_sync_start=DEFAULT_BASE_TS)


def test_danger_zone_triggers_resync(spark, tmp_path):
    base = source_table(spark, N_KEYS)
    events = change_events(spark, N_KEYS, 500, danger_event=True, pre_init_frac=0.0)
    table = LakeTable(str(tmp_path / "tbl"))
    pipe = CdcPipeline(spark, table, n_buckets=8, clock=lambda: CLOCK)
    pipe.init_sync(base)
    with pytest.raises(DangerZoneError):
        pipe.sync_batch(events, 0, danger_check=True)
    # recovery path: resync then re-apply works
    pipe.resync(base)
    pipe.sync_batch(events, 0)
    assert pipe.load_state().init_sync_state == InitSyncStatus.FINISHED


def test_prepare_batch_is_fully_jvm(spark):
    """The hot path must contain no Python row processing: no BatchEvalPython
    / ArrowEvalPython / mapInPandas nodes in the physical plan."""
    events = change_events(spark, 50, 200)
    batch = decode_winners(prepare_winners(events))
    explained = batch._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert marker not in explained


@pytest.mark.parametrize("one_file", [False, True])
def test_danger_zone_breach_commits_nothing(spark, tmp_path, one_file):
    """A breach raises before the merge: the table version stays put, for a
    multi-partition frame and for a one-file batch alike."""
    base = source_table(spark, N_KEYS)
    events = change_events(spark, N_KEYS, 500, danger_event=True, pre_init_frac=0.0)
    if one_file:
        events.coalesce(1).write.parquet(str(tmp_path / "log"))
        events = spark.read.parquet(str(tmp_path / "log"))
    table = LakeTable(str(tmp_path / "tbl"))
    pipe = CdcPipeline(spark, table, n_buckets=8, clock=lambda: CLOCK)
    pipe.init_sync(base)
    version = table.current_version()
    with pytest.raises(DangerZoneError):
        pipe.sync_batch(events, 0, danger_check=True)
    assert table.current_version() == version


NOW = DEFAULT_BASE_TS + timedelta(hours=1)


def _in_thread(fn, timeout_s=180):
    """``fn()`` on a worker thread, failing instead of hanging when it
    blocks (an Observation that never resolves waits forever). On a
    timeout every streaming query of the session is stopped and every job
    cancelled first, so a worker that loops ends instead of competing with
    later tests."""
    out = {}

    def run():
        try:
            out["value"] = fn()
        except BaseException as e:  # noqa: BLE001 — re-raised below
            out["error"] = e

    worker = threading.Thread(target=run, daemon=True)
    worker.start()
    worker.join(timeout_s)
    if worker.is_alive():
        spark = SparkSession.getActiveSession()
        for q in spark.streams.active:
            q.stop()
        spark.sparkContext.cancelAllJobs()
        worker.join(30)
        pytest.fail(f"blocked for {timeout_s} s")
    if "error" in out:
        raise out["error"]
    return out.get("value")


def _assert_empty_commit(table, version):
    m = table.manifest()
    assert m.version == version + 1
    assert m.lineage[-1]["rows_in"] == 0
    assert m.committed["stream"] == 0
    assert m.deltas == []


def _small_table(spark, tmp_path):
    table = LakeTable(str(tmp_path / "tbl"))
    table.create(spark, source_table(spark, 50), ["repo", "path"], n_buckets=8)
    return table


@pytest.mark.parametrize("shape", ["no_partitions", "empty_partitions",
                                   "parquet_file"])
def test_empty_batch_commits_zero_rows(spark, tmp_path, shape):
    """An empty batch — a frame of no partitions, local rows with none in
    them, or one empty parquet file read as one partition — commits
    ``rows_in: 0`` and advances the batch marker without waiting on an
    observation."""
    df = spark.createDataFrame([], events_schema())
    if shape == "no_partitions":
        df = spark.createDataFrame(spark.sparkContext.emptyRDD(), events_schema())
        assert df.rdd.getNumPartitions() == 0
    elif shape == "parquet_file":
        df.coalesce(1).write.parquet(str(tmp_path / "log"))
        df = spark.read.parquet(str(tmp_path / "log"))
        assert df.rdd.getNumPartitions() == 1
    table = _small_table(spark, tmp_path)
    version = table.current_version()
    res = _in_thread(lambda: apply_batch(spark, table, df, batch_id=0,
                                         source="stream", now=NOW))
    assert res["rows_in"] == 0
    _assert_empty_commit(table, version)


def test_tail_over_empty_log_file_commits_zero_rows(spark, tmp_path):
    log = str(tmp_path / "log")
    spark.createDataFrame([], events_schema()).coalesce(1).write.parquet(log)
    table = _small_table(spark, tmp_path)
    version = table.current_version()
    q = tail.start_tail(spark, log, table, checkpoint_dir=str(tmp_path / "cp"),
                        clock=lambda: NOW)
    try:
        _in_thread(q.awaitTermination)
    finally:
        if q.isActive:
            q.stop()
    _assert_empty_commit(table, version)


def _danger_log(spark, tmp_path, n_events=300):
    """A snapshot dir and a one-batch log whose last event is 30 h old."""
    base = source_table(spark, N_KEYS)
    events = change_events(spark, N_KEYS, n_events, danger_event=True,
                           pre_init_frac=0.0)
    base.write.parquet(str(tmp_path / "snap"))
    events.coalesce(1).write.parquet(str(tmp_path / "log"))
    return base, events


def _snapshot_counter(df):
    calls = []

    def snapshot():
        calls.append(1)
        return df
    return snapshot, calls


def test_sync_stream_resyncs_once_on_a_danger_event(spark, tmp_path):
    """A breach resyncs from the snapshot and drains the rest of the log
    with the check off: one resync, then the oracle's state (the danger
    event falls before the new F2 cutoff)."""
    base, events = _danger_log(spark, tmp_path)
    table = LakeTable(str(tmp_path / "tbl"))
    pipe = CdcPipeline(spark, table, n_buckets=8, clock=lambda: CLOCK)
    pipe.init_sync(base)
    snapshot, calls = _snapshot_counter(base)
    assert pipe.sync_stream(str(tmp_path / "log"), snapshot,
                            checkpoint_dir=str(tmp_path / "cp")) is True
    assert len(calls) == 1
    assert pipe.load_state().init_sync_state == InitSyncStatus.FINISHED
    assert engine_hashes(spark, table) == oracle_hashes(
        spark, base, events, init_sync_start=DEFAULT_BASE_TS)


def test_sync_stream_clean_drain_never_snapshots(spark, tmp_path):
    base = source_table(spark, N_KEYS)
    events = change_events(spark, N_KEYS, 300, pre_init_frac=0.0)
    events.coalesce(1).write.parquet(str(tmp_path / "log"))
    table = LakeTable(str(tmp_path / "tbl"))
    pipe = CdcPipeline(spark, table, n_buckets=8, clock=lambda: CLOCK)
    pipe.init_sync(base)
    snapshot, calls = _snapshot_counter(base)
    metrics: list[dict] = []
    assert pipe.sync_stream(str(tmp_path / "log"), snapshot,
                            checkpoint_dir=str(tmp_path / "cp"),
                            metrics=metrics) is False
    assert calls == [] and len(metrics) == 1
    assert engine_hashes(spark, table) == oracle_hashes(spark, base, events)


def test_sync_stream_other_errors_propagate_without_resync(spark, tmp_path):
    class BrokenSink(list):
        def append(self, item):
            raise RuntimeError("metrics sink is down")

    base = source_table(spark, N_KEYS)
    change_events(spark, N_KEYS, 300, pre_init_frac=0.0) \
        .coalesce(1).write.parquet(str(tmp_path / "log"))
    table = LakeTable(str(tmp_path / "tbl"))
    pipe = CdcPipeline(spark, table, n_buckets=8, clock=lambda: CLOCK)
    pipe.init_sync(base)
    snapshot, calls = _snapshot_counter(base)
    with pytest.raises(Exception, match="metrics sink is down"):
        pipe.sync_stream(str(tmp_path / "log"), snapshot,
                         checkpoint_dir=str(tmp_path / "cp"),
                         metrics=BrokenSink())
    assert calls == []


def test_submit_replay_ends_after_one_resync(spark, tmp_path, capsys):
    """``scripts/submit_replay.py --base-ts`` over a log holding a danger
    event: one resync, exit 0, oracle parity. A replay that re-arms the
    check for the redelivered batch resyncs forever and times out here."""
    import importlib.util
    import os

    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "scripts", "submit_replay.py")
    spec = importlib.util.spec_from_file_location("submit_replay", path)
    submit_replay = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(submit_replay)

    base, events = _danger_log(spark, tmp_path)
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        code = _in_thread(lambda: submit_replay.main([
            "--snapshot", str(tmp_path / "snap"), "--log", str(tmp_path / "log"),
            "--table", str(tmp_path / "tbl"), "--checkpoint", str(tmp_path / "cp"),
            "--buckets", "8", "--base-ts", DEFAULT_BASE_TS.date().isoformat()]))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", partitions)
    assert code == 0
    assert capsys.readouterr().out.count("danger zone breached") == 1
    assert engine_hashes(spark, LakeTable(str(tmp_path / "tbl"))) == \
        oracle_hashes(spark, base, events, init_sync_start=DEFAULT_BASE_TS)
