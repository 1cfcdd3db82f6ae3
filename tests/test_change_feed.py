"""Change feed (CDC-OUT): per-commit compacted deltas whose LWW replay
reproduces the table — the engine's table->event direction, mirroring the
reference connector's Kafka emission (DynamoDBSourceTask.java:334-361)."""

from __future__ import annotations

import hashlib
import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from kafka_connect_dynamodb_spark.lake.commitio import PosixCommitIO
from kafka_connect_dynamodb_spark.lake.table import _MAX_DELTAS, LakeTable
from kafka_connect_dynamodb_spark.operators.lww import latest_per_key
from kafka_connect_dynamodb_spark.plans.pipeline import CdcPipeline
from kafka_connect_dynamodb_spark.sources.generator import (
    DEFAULT_BASE_TS, change_events, source_table)


def _sha_state(df):
    return {(r["repo"], r["path"]):
            hashlib.sha256((r["content"] or "").encode()).hexdigest()
            for r in df.collect()}


def test_change_feed_replay_reproduces_table(spark, tmp_path):
    base = source_table(spark, 150)
    ev = change_events(spark, 150, 900, pre_init_frac=0.0)

    table = LakeTable(str(tmp_path / "tbl"), change_feed=True)
    pipe = CdcPipeline(spark, table, n_buckets=8,
                       clock=lambda: DEFAULT_BASE_TS.timestamp())
    pipe.init_sync(base)
    # two commits -> two feed files
    pipe.sync_batch(ev.filter(ev.seq_no % 2 == 0), 0)
    pipe.sync_batch(ev.filter(ev.seq_no % 2 == 1), 1)

    feed = table.changes(spark)
    commits = {r["_commit"] for r in feed.select("_commit").distinct().collect()}
    assert len(commits) == 2   # one feed file per merge commit
    ops = {r["_op"] for r in feed.select("_op").distinct().collect()}
    assert "d" in ops and ({"c", "u"} & ops)

    # downstream replay: snapshot (seq 0) + feed rows, max-seq LWW per key,
    # drop keys whose winner is a delete -> must equal the table exactly
    snap = base.select("repo", "path", "content",
                       F.lit(0).cast("decimal(38,0)").alias("_seq"),
                       F.lit("r").alias("_op"))
    replayed = latest_per_key(
        snap.unionByName(feed.select("repo", "path", "content", "_seq", "_op")),
        ["repo", "path"], ["_seq"])
    live = replayed.filter(F.col("_op") != "d").select("repo", "path", "content")
    assert _sha_state(live) == _sha_state(table.read(spark))


def test_change_feed_version_range_and_default_off(spark, tmp_path):
    base = source_table(spark, 60)
    ev = change_events(spark, 60, 300, pre_init_frac=0.0)

    # default table: no feed written, changes() is an empty frame
    plain = LakeTable(str(tmp_path / "plain"))
    p0 = CdcPipeline(spark, plain, n_buckets=4,
                     clock=lambda: DEFAULT_BASE_TS.timestamp())
    p0.init_sync(base)
    p0.sync_batch(ev, 0)
    empty = plain.changes(spark)
    assert empty.count() == 0
    assert {"_op", "_commit"} <= set(empty.columns)

    fed = LakeTable(str(tmp_path / "fed"), change_feed=True)
    p1 = CdcPipeline(spark, fed, n_buckets=4,
                     clock=lambda: DEFAULT_BASE_TS.timestamp())
    p1.init_sync(base)
    p1.sync_batch(ev.filter(ev.seq_no % 2 == 0), 0)
    v_after_first = fed.current_version()
    p1.sync_batch(ev.filter(ev.seq_no % 2 == 1), 1)
    # from_version slices the feed to later commits only
    late = fed.changes(spark, from_version=v_after_first + 1)
    assert {r["_commit"] for r in late.select("_commit").distinct().collect()} \
        == {fed.current_version()}


def test_stream_changes_subscription(spark, tmp_path):
    """Downstream consumers can SUBSCRIBE to the feed: a streaming read over
    changes/ sees every commit's delta exactly once per checkpoint."""
    base = source_table(spark, 80)
    ev = change_events(spark, 80, 400, pre_init_frac=0.0)
    table = LakeTable(str(tmp_path / "tbl"), change_feed=True)
    pipe = CdcPipeline(spark, table, n_buckets=4,
                       clock=lambda: DEFAULT_BASE_TS.timestamp())
    pipe.init_sync(base)
    pipe.sync_batch(ev.filter(ev.seq_no % 2 == 0), 0)
    pipe.sync_batch(ev.filter(ev.seq_no % 2 == 1), 1)

    out_dir = str(tmp_path / "consumed")
    q = (table.stream_changes(spark)
              .writeStream.format("parquet")
              .option("path", out_dir)
              .option("checkpointLocation", str(tmp_path / "cp"))
              .trigger(availableNow=True).start())
    q.awaitTermination()
    consumed = spark.read.parquet(out_dir)
    assert consumed.count() == table.changes(spark).count()
    assert {"repo", "path", "_op", "_seq"} <= set(consumed.columns)


def test_change_feed_carries_evolved_columns(spark, tmp_path):
    base = source_table(spark, 60)
    ev = change_events(spark, 60, 300, pre_init_frac=0.0, evolve_frac=0.4)
    table = LakeTable(str(tmp_path / "tbl"), change_feed=True)
    pipe = CdcPipeline(spark, table, n_buckets=4,
                       clock=lambda: DEFAULT_BASE_TS.timestamp())
    pipe.init_sync(base)
    pipe.sync_batch(ev, 0)
    feed = table.changes(spark)
    assert "branch" in feed.columns
    assert feed.filter(F.col("branch").isNotNull()).count() > 0


def test_feed_orphan_vacuum_and_crash_redelivery(spark, tmp_path):
    """Crash window for the feed write: an orphaned delta (written, never
    committed) must not block the redelivered batch and IS vacuum-reclaimed,
    while committed feed files survive vacuum."""
    import os

    base = source_table(spark, 40)
    ev = change_events(spark, 40, 150, pre_init_frac=0.0)
    table = LakeTable(str(tmp_path / "tbl"), change_feed=True)
    pipe = CdcPipeline(spark, table, n_buckets=4,
                       clock=lambda: DEFAULT_BASE_TS.timestamp())
    pipe.init_sync(base)

    # leftover from a "crashed" attempt at the next version
    orphan = os.path.join(table.root, "data", "c000000000003-deadbeef")
    os.makedirs(orphan, exist_ok=True)
    with open(os.path.join(orphan, "part-junk.parquet"), "w") as f:
        f.write("junk")

    pipe.sync_batch(ev, 0)                       # redelivery lands
    n_feed = table.changes(spark).count()
    assert n_feed > 0

    removed = table.vacuum(grace_s=0)
    assert removed >= 1
    assert not os.path.exists(os.path.join(orphan, "part-junk.parquet"))
    # the committed feed is untouched
    assert table.changes(spark).count() == n_feed


def _feed_pipeline(spark, tmp_path):
    """A change_feed table behind a CommitIO that records every file vacuum
    deletes and, while ``crash`` is set, dies in ``put_if_absent``: a
    writer killed after writing its files and before its manifest lands.
    (Defined here, not at module level: the feed's stream source ships the
    table's io to Python workers, which pickle a local class by value.)"""

    class CrashingIO(PosixCommitIO):
        def __init__(self):
            self.crash = False
            self.deleted: set[str] = set()

        def put_if_absent(self, path, payload):
            if self.crash:
                raise RuntimeError("killed before the manifest commit")
            return super().put_if_absent(path, payload)

        def delete_file(self, path):
            self.deleted.add(path)
            return super().delete_file(path)

    io = CrashingIO()
    table = LakeTable(str(tmp_path / "tbl"), io=io, change_feed=True)
    pipe = CdcPipeline(spark, table, n_buckets=4,
                       clock=lambda: DEFAULT_BASE_TS.timestamp())
    base = source_table(spark, 40)
    pipe.init_sync(base)
    return io, table, pipe, base


def _drain(spark, table, tmp_path):
    """Run an availableNow subscriber of ``table``'s feed (one checkpoint
    and sink per test, so each call resumes the last) and return every row
    it has drained so far."""
    out = str(tmp_path / "consumed")
    (table.stream_changes(spark).writeStream.format("parquet")
          .option("path", out)
          .option("checkpointLocation", str(tmp_path / "cp"))
          .trigger(availableNow=True).start().awaitTermination())
    return Counter(spark.read.parquet(out).collect())


def test_crash_before_commit_never_shows_and_redelivery_shows_once(
        spark, tmp_path):
    """A merge killed between writing its delta and committing its manifest
    shows none of its rows, in changes() or to a subscriber; its
    redelivery commits once, and then both show each of its rows exactly
    once."""
    io, table, pipe, _ = _feed_pipeline(spark, tmp_path)
    ev = change_events(spark, 40, 300, pre_init_frac=0.0)
    first, second = ev.filter(ev.seq_no % 2 == 0), ev.filter(ev.seq_no % 2 == 1)
    pipe.sync_batch(first, 0)
    committed = Counter(table.changes(spark).collect())
    assert committed and _drain(spark, table, tmp_path) == committed

    v = table.current_version()
    io.crash = True
    with pytest.raises(RuntimeError, match="killed"):
        pipe.sync_batch(second, 1)
    io.crash = False
    assert table.current_version() == v
    assert Counter(table.changes(spark).collect()) == committed
    assert _drain(spark, table, tmp_path) == committed

    res = pipe.sync_batch(second, 1)             # redelivery lands once
    assert res["version"] == v + 1
    assert pipe.sync_batch(second, 1)["skipped"]
    feed = Counter(table.changes(spark).collect())
    new = feed - committed
    assert new and {r["_commit"] for r in new} == {v + 1}
    assert max(feed.values()) == 1
    assert _drain(spark, table, tmp_path) == feed


def test_consumer_restarted_over_an_uncommitted_batch_drains_to_the_end(
        spark, tmp_path):
    """A subscriber killed after planning a micro-batch and before
    committing it restarts over that batch: an availableNow restart
    replays it and then drains every later commit too."""
    _, table, pipe, _ = _feed_pipeline(spark, tmp_path)
    ev = change_events(spark, 40, 300, pre_init_frac=0.0)
    pipe.sync_batch(ev.filter(ev.seq_no % 2 == 0), 0)
    _drain(spark, table, tmp_path)
    for f in ("0", ".0.crc"):                         # the kill
        os.remove(str(tmp_path / "cp" / "commits" / f))
    pipe.sync_batch(ev.filter(ev.seq_no % 2 == 1), 1)
    assert _drain(spark, table, tmp_path) == \
        Counter(table.changes(spark).collect())


def _replayed(spark, base, feed):
    """Snapshot + feed replayed by max-seq LWW, deletes dropped."""
    snap = base.select("repo", "path", "content",
                       F.lit(0).cast("decimal(38,0)").alias("_seq"),
                       F.lit("r").alias("_op"))
    replayed = latest_per_key(
        snap.unionByName(feed.select("repo", "path", "content", "_seq", "_op")),
        ["repo", "path"], ["_seq"])
    return replayed.filter(F.col("_op") != "d").select("repo", "path", "content")


def test_feed_survives_fold_expiry_and_vacuum(spark, tmp_path):
    """A fold drops the folded deltas from the table's deltas, but the feed
    still names them: after _MAX_DELTAS + 1 merges, snapshot expiry and
    vacuum, changes() returns every commit's winners and its replay over
    the snapshot still reproduces read()."""
    io, table, pipe, base = _feed_pipeline(spark, tmp_path)
    ev = change_events(spark, 40, 600, pre_init_frac=0.0)
    n = _MAX_DELTAS + 1
    per_commit = Counter()
    for k in range(n):
        v = pipe.sync_batch(ev.filter(ev.seq_no % n == k), k)["version"]
        per_commit += Counter(
            table.changes(spark, from_version=v, to_version=v).collect())
    m = table.manifest()
    assert any(e["op"] == "compact" for e in m.lineage)
    assert len(m.deltas) == 1                    # the merge after the fold
    table.expire_versions(keep_last=1)
    assert table.vacuum(grace_s=0) > 0
    feed_paths = {os.path.join(table.root, e["path"]) for e in m.change_files}
    assert io.deleted and not io.deleted & feed_paths

    feed = table.changes(spark, from_version=2)
    assert Counter(feed.collect()) == per_commit
    assert len({r["_commit"] for r in per_commit}) == n
    assert _sha_state(_replayed(spark, base, feed)) == \
        _sha_state(table.read(spark))


def test_only_feed_expiry_then_version_expiry_reclaims_a_folded_delta(
        spark, tmp_path):
    """A folded delta lives while any retained manifest's feed names it:
    vacuum alone, snapshot expiry alone and feed expiry alone each leave
    it; feed expiry followed by snapshot expiry lets vacuum reclaim it."""
    io, table, pipe, _ = _feed_pipeline(spark, tmp_path)
    ev = change_events(spark, 40, 500, pre_init_frac=0.0)
    for k in range(_MAX_DELTAS):
        pipe.sync_batch(ev.filter(ev.seq_no % _MAX_DELTAS == k), k)
    m = table.manifest()
    assert m.deltas == [] and m.lineage[-1]["op"] == "compact"
    first = m.change_files[0]
    path = os.path.join(table.root, first["path"])

    def reclaimed():
        table.vacuum(grace_s=0)
        return not os.path.exists(path)

    assert not reclaimed()
    table.expire_versions(keep_last=1)
    assert not reclaimed()                 # the current feed names it
    table.expire_change_feed(below_version=first["version"] + 1)
    assert not reclaimed()                 # the retained parent names it
    table.expire_versions(keep_last=1)
    assert reclaimed() and path in io.deleted
    assert table.changes(spark).count() > 0


def test_change_feed_retention_expiry(spark, tmp_path):
    """ADVICE r2 #4: expire_change_feed prunes the manifest's feed history;
    once the manifests that still listed the old deltas expire too, vacuum
    reclaims the delta files from disk."""
    import os

    base = source_table(spark, 40)
    ev = change_events(spark, 40, 300, pre_init_frac=0.0)
    table = LakeTable(str(tmp_path / "tbl"), change_feed=True)
    pipe = CdcPipeline(spark, table, n_buckets=4,
                       clock=lambda: DEFAULT_BASE_TS.timestamp())
    pipe.init_sync(base)
    for k in range(3):
        pipe.sync_batch(ev.filter(ev.seq_no % 3 == k), k)
    all_entries = list(table.manifest().change_files)
    assert len(all_entries) == 3
    keep_from = all_entries[-1]["version"]

    dropped = table.expire_change_feed(below_version=keep_from)
    assert dropped == 2
    assert {e["version"] for e in table.manifest().change_files} == {keep_from}
    # idempotent
    assert table.expire_change_feed(below_version=keep_from) == 0

    # old manifests still list the old deltas -> still on disk after vacuum
    table.vacuum(grace_s=0)
    assert os.path.exists(os.path.join(table.root, all_entries[0]["path"]))
    # the feed's files are the table's deltas: fold them out of the data,
    # retire those manifests -> vacuum reclaims the expired delta files
    table.compact(spark, target_buckets=[])
    table.expire_versions(keep_last=1)
    table.vacuum(grace_s=0)
    assert not os.path.exists(os.path.join(table.root, all_entries[0]["path"]))
    assert os.path.exists(os.path.join(table.root, all_entries[-1]["path"]))
    assert table.changes(spark).count() > 0


def test_downstream_table_exactly_once_via_feed(spark, tmp_path):
    """VERDICT r2 stretch #10 — table->event->table composition: a SECOND
    LakeTable fed solely by the primary's change feed (streaming.feed.
    mirror_changes) converges to sha-parity with the primary, INCLUDING
    across a consumer kill/restart that redelivers a micro-batch."""
    from kafka_connect_dynamodb_spark.streaming.feed import mirror_changes

    base = source_table(spark, 80)
    ev = change_events(spark, 80, 400, pre_init_frac=0.0)

    primary = LakeTable(str(tmp_path / "primary"), change_feed=True)
    pipe = CdcPipeline(spark, primary, n_buckets=4,
                       clock=lambda: DEFAULT_BASE_TS.timestamp())
    pipe.init_sync(base)

    # downstream bootstraps from the same snapshot, then consumes ONLY feed
    downstream = LakeTable(str(tmp_path / "downstream"))
    downstream.create(spark, base, ["repo", "path"], n_buckets=4)

    def consume():
        mirror_changes(spark, primary, downstream,
                       checkpoint_dir=str(tmp_path / "cp")).awaitTermination()

    pipe.sync_batch(ev.filter(ev.seq_no % 2 == 0), 0)
    consume()                                   # first consumer run
    v_mid = downstream.current_version()
    consume()                                   # restart, nothing new: no-op
    assert downstream.current_version() == v_mid

    pipe.sync_batch(ev.filter(ev.seq_no % 2 == 1), 1)
    consume()                                   # "killed" consumer restarted

    assert _sha_state(downstream.read(spark)) == _sha_state(primary.read(spark))


def test_live_mirror_races_live_tail_to_parity(spark, tmp_path):
    """Full composition under load (the reference's whole story end-to-end):
    a processingTime tail applies batches to the primary WHILE a
    processingTime mirror consumes the feed into a downstream table. Both
    killed mid-flight, restarted in catch-up mode -> downstream sha-parity
    with primary, which itself matches the oracle replay."""
    import time as _time

    from kafka_connect_dynamodb_spark.streaming import tail
    from kafka_connect_dynamodb_spark.streaming.feed import mirror_changes
    from tests.oracle import final_hashes, replay

    base = source_table(spark, 120)
    ev = change_events(spark, 120, 800, pre_init_frac=0.0)
    slices = [ev.filter(ev.seq_no % 4 == k) for k in range(4)]
    log, cp_tail, cp_mirror = (str(tmp_path / d) for d in ("log", "cpt", "cpm"))

    primary = LakeTable(str(tmp_path / "primary"), change_feed=True)
    pipe = CdcPipeline(spark, primary, n_buckets=4,
                       clock=lambda: DEFAULT_BASE_TS.timestamp())
    pipe.init_sync(base)
    downstream = LakeTable(str(tmp_path / "downstream"))
    downstream.create(spark, base, ["repo", "path"], n_buckets=4)

    slices[0].coalesce(1).write.mode("append").parquet(log)
    q_tail = tail.start_tail(spark, log, primary, checkpoint_dir=cp_tail,
                             init_sync_start=DEFAULT_BASE_TS,
                             available_now=False,
                             processing_time="300 milliseconds")
    q_mirror = mirror_changes(spark, primary, downstream,
                              checkpoint_dir=cp_mirror, available_now=False,
                              processing_time="300 milliseconds")
    try:
        for k in (1, 2, 3):
            slices[k].coalesce(1).write.mode("append").parquet(log)
            _time.sleep(0.7)
        deadline = _time.time() + 60
        while _time.time() < deadline and primary.current_version() < 4:
            _time.sleep(0.3)
    finally:
        q_tail.stop()        # kill both mid-flight
        q_mirror.stop()

    # restart in catch-up mode from the same checkpoints
    tail.drain(tail.start_tail(spark, log, primary, checkpoint_dir=cp_tail,
                               init_sync_start=DEFAULT_BASE_TS))
    mirror_changes(spark, primary, downstream,
                   checkpoint_dir=cp_mirror).awaitTermination()

    state = replay([r.asDict() for r in base.collect()],
                   [r.asDict() for r in ev.collect()])
    assert _sha_state(primary.read(spark)) == final_hashes(state)
    assert _sha_state(downstream.read(spark)) == _sha_state(primary.read(spark))


def test_changes_is_single_scan_not_union(spark, tmp_path):
    """changes() over N commits must stay ONE FileScan (a per-commit union
    loop would grow the plan linearly — the 10k-commit-feed scale killer),
    with _commit recovered from the delta dir name."""
    base = source_table(spark, 40)
    ev = change_events(spark, 40, 300, pre_init_frac=0.0)
    table = LakeTable(str(tmp_path / "tbl"), change_feed=True)
    pipe = CdcPipeline(spark, table, n_buckets=4,
                       clock=lambda: DEFAULT_BASE_TS.timestamp())
    pipe.init_sync(base)
    for k in range(3):
        pipe.sync_batch(ev.filter(ev.seq_no % 3 == k), k)
    feed = table.changes(spark)
    plan = feed._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan
    versions = sorted(r["_commit"] for r in
                      feed.select("_commit").distinct().collect())
    assert versions == sorted(e["version"]
                              for e in table.manifest().change_files)


def test_resync_epoch_propagates_to_mirror(spark, tmp_path):
    """Danger-zone resync must flow to downstream consumers: replace() on a
    change_feed table publishes the snapshot as op-'r' rows (the reference
    re-publishes INIT_SYNC records to the topic), and mirror_changes
    truncates to the epoch then applies only later commits — so a mirror
    converges across a resync instead of silently diverging. Stale
    pre-resync deltas in the same micro-batch (real seq-nos > snapshot's 0)
    must NOT beat the snapshot rows."""
    from kafka_connect_dynamodb_spark.streaming.feed import mirror_changes

    base = source_table(spark, 60)
    ev = change_events(spark, 60, 300, pre_init_frac=0.0)

    primary = LakeTable(str(tmp_path / "primary"), change_feed=True)
    pipe = CdcPipeline(spark, primary, n_buckets=4,
                       clock=lambda: DEFAULT_BASE_TS.timestamp())
    pipe.init_sync(base)
    downstream = LakeTable(str(tmp_path / "downstream"))
    downstream.create(spark, base, ["repo", "path"], n_buckets=4)

    def consume():
        mirror_changes(spark, primary, downstream,
                       checkpoint_dir=str(tmp_path / "cp")).awaitTermination()

    # normal deltas, partially consumed...
    pipe.sync_batch(ev.filter(ev.seq_no % 2 == 0), 0)
    consume()
    # ...then MORE deltas the mirror has NOT consumed yet, then a resync:
    # the unconsumed pre-resync delta and the 'r' epoch land in the same
    # catch-up drain
    pipe.sync_batch(ev.filter(ev.seq_no % 2 == 1), 1)
    resynced = base.withColumn(
        "content", F.concat(F.col("content"), F.lit("@resync")))
    pipe.resync(resynced)
    consume()
    assert _sha_state(downstream.read(spark)) == _sha_state(primary.read(spark))
    # snapshot rows actually won: content carries the resync marker
    assert downstream.read(spark).filter(
        ~F.col("content").endswith("@resync")).count() == 0

    # post-resync stream continues; the mirror keeps converging
    pipe.sync_batch(ev.filter(ev.seq_no % 3 == 0), 0)
    consume()
    assert _sha_state(downstream.read(spark)) == _sha_state(primary.read(spark))


def test_mirror_multi_commit_batch_lww_reduced(spark, tmp_path):
    """ADVICE r3 (high): a catch-up mirror's micro-batch spans SEVERAL
    commits, so the feed carries one row per key PER COMMIT — but
    LakeTable.merge requires one row per key (its full-outer join emits one
    output row per update row). mirror_changes must LWW-reduce the batch
    first; without it the downstream table holds duplicate rows per key and
    diverges from the primary."""
    from kafka_connect_dynamodb_spark.streaming.feed import mirror_changes

    base = source_table(spark, 40)
    ev = change_events(spark, 40, 240, pre_init_frac=0.0)

    primary = LakeTable(str(tmp_path / "primary"), change_feed=True)
    pipe = CdcPipeline(spark, primary, n_buckets=4,
                       clock=lambda: DEFAULT_BASE_TS.timestamp())
    pipe.init_sync(base)
    downstream = LakeTable(str(tmp_path / "downstream"))
    downstream.create(spark, base, ["repo", "path"], n_buckets=4)

    # three commits land BEFORE the mirror ever runs -> all three deltas
    # arrive in ONE availableNow micro-batch, with the same keys repeated
    # across commits at ascending seq-nos
    for k in range(3):
        pipe.sync_batch(ev.filter(ev.seq_no % 3 == k), k)
    feed = primary.changes(spark)
    multi = (feed.groupBy("repo", "path").count()
                 .filter("count > 1").count())
    assert multi > 0            # the batch genuinely repeats keys

    mirror_changes(spark, primary, downstream,
                   checkpoint_dir=str(tmp_path / "cp")).awaitTermination()

    dupes = (downstream.read(spark).groupBy("repo", "path").count()
                       .filter("count > 1").count())
    assert dupes == 0
    assert _sha_state(downstream.read(spark)) == _sha_state(primary.read(spark))


def test_mirror_empty_batch_is_one_job_and_no_table_io(spark):
    """VERDICT r4 next #5: an idle processing-time mirror used to pay TWO
    no-op Spark jobs per empty trigger (epoch agg + emptiness count) and
    still reached for latest_per_key. Pin: an empty micro-batch costs
    exactly ONE probe job and never touches the downstream table."""
    from kafka_connect_dynamodb_spark.streaming.feed import apply_feed_batch

    calls = []

    class _Recorder:
        def replace(self, *a, **kw):
            calls.append("replace")

        def merge(self, *a, **kw):
            calls.append("merge")

    empty = spark.createDataFrame(
        [], "repo string, path string, content string, "
            "_seq decimal(38,0), _op string, _commit long")
    sc = spark.sparkContext
    sc.setJobGroup("empty-feed-batch", "pin probe job count")
    try:
        apply_feed_batch(empty, 7, downstream=_Recorder(),
                         key_cols=["repo", "path"])
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("empty-feed-batch")
    assert calls == []
    # ONE collect action; AQE materializes its partial/final agg stages as
    # up to two scheduler jobs. The old path (separate epoch agg + emptiness
    # count + lww plan) spent >= 3.
    assert len(jobs) <= 2, f"expected one probe action, saw {len(jobs)} jobs"
