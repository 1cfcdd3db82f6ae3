"""Steady-state maintenance: auto-compaction under a long micro-batch tail,
and the danger-zone -> resync transition through the streaming path
(DynamoDBSourceTask.java:318-331 / T1+F3)."""

from __future__ import annotations

import hashlib

import pytest

from kafka_connect_dynamodb_spark.lake.table import LakeTable
from kafka_connect_dynamodb_spark.plans.pipeline import CdcPipeline
from kafka_connect_dynamodb_spark.sources.generator import (
    DEFAULT_BASE_TS, change_events, source_table)
from kafka_connect_dynamodb_spark.streaming import tail

from tests.oracle import final_hashes, replay


def _hashes_of(table, spark):
    return {(r["repo"], r["path"]):
            hashlib.sha256((r["content"] or "").encode()).hexdigest()
            for r in table.read(spark).collect()}


def test_cow_merge_is_self_compacting(spark, tmp_path):
    """Merges append deltas and every fold rewrites the buckets they touched
    whole, so the per-bucket BASE file count stays at 1 over an unbounded
    micro-batch tail (no small-file buildup — 6 batches fold once)."""
    base = source_table(spark, 150)
    ev = change_events(spark, 150, 1200, pre_init_frac=0.0)
    log = str(tmp_path / "log")
    ev.repartition(6).write.parquet(log)  # 6 files -> 6 micro-batches

    table = LakeTable(str(tmp_path / "tbl"))
    pipe = CdcPipeline(spark, table, n_buckets=4,
                       clock=lambda: DEFAULT_BASE_TS.timestamp())
    pipe.init_sync(base)
    tail.drain(tail.start_tail(
        spark, log, table, checkpoint_dir=str(tmp_path / "cp"),
        init_sync_start=DEFAULT_BASE_TS, max_files_per_trigger=1))

    counts: dict[int, int] = {}
    for e in table.manifest().files:
        counts[e["bucket"]] = counts.get(e["bucket"], 0) + 1
    assert set(counts) == set(range(4))
    assert max(counts.values()) == 1


def test_danger_zone_resync_through_stream(spark, tmp_path):
    """A >20h-old event in the stream fails the query; the pipeline resyncs
    (fresh INIT_SYNC) and the re-drain converges to the oracle state."""
    base = source_table(spark, 120)
    ev = change_events(spark, 120, 900, pre_init_frac=0.0, danger_event=True)
    log = str(tmp_path / "log")
    ev.coalesce(2).write.parquet(log)

    table = LakeTable(str(tmp_path / "tbl"))
    pipe = CdcPipeline(spark, table, n_buckets=4,
                       clock=lambda: DEFAULT_BASE_TS.timestamp())
    pipe.init_sync(base)

    from datetime import timezone
    now = DEFAULT_BASE_TS
    q = tail.start_tail(spark, log, table, checkpoint_dir=str(tmp_path / "cp1"),
                        init_sync_start=DEFAULT_BASE_TS, clock=lambda: now)
    with pytest.raises(Exception, match="[Dd]anger"):
        q.awaitTermination()

    # T1/F3: abandon the stream, re-run INIT_SYNC, tail from a new checkpoint
    info = pipe.resync(base)
    start = DEFAULT_BASE_TS
    tail.drain(tail.start_tail(spark, log, table,
                               checkpoint_dir=str(tmp_path / "cp2"),
                               init_sync_start=start))

    ev_rows = []
    for r in ev.collect():
        d = r.asDict()
        d["ts"] = d["ts"].replace(tzinfo=timezone.utc)
        ev_rows.append(d)
    state = replay([r.asDict() for r in base.collect()], ev_rows,
                   init_sync_start=start)
    assert _hashes_of(table, spark) == final_hashes(state)
    assert info.init_sync_state == "FINISHED"


def test_time_travel_as_of_and_expiry(spark, tmp_path):
    """AS-OF reads resolve to the last version committed before the
    timestamp; expire_versions drops old manifests (their data becomes
    vacuum-eligible) while the current version keeps working."""
    import time

    base = source_table(spark, 80)
    ev = change_events(spark, 80, 400, pre_init_frac=0.0)
    table = LakeTable(str(tmp_path / "tbl"))
    pipe = CdcPipeline(spark, table, n_buckets=4,
                       clock=lambda: DEFAULT_BASE_TS.timestamp())
    pipe.init_sync(base)
    n_v1 = table.read(spark).count()
    t_between = int(time.time() * 1000)
    time.sleep(0.01)
    pipe.sync_batch(ev, 0)

    old = table.read_as_of(spark, t_between)
    assert old.count() == n_v1
    now = table.read_as_of(spark, int(time.time() * 1000))
    assert now.count() == table.read(spark).count()

    n_versions = len(table._versions())
    removed = table.expire_versions(keep_last=1)
    assert removed == n_versions - 1
    assert table.read(spark).count() == now.count()
    with pytest.raises(FileNotFoundError):
        table.version_as_of(t_between)
    assert table.vacuum(grace_s=0) >= 0  # old files now unreferenced-only


def test_point_lookup_reads_one_bucket(spark, tmp_path):
    base = source_table(spark, 200)
    table = LakeTable(str(tmp_path / "tbl"))
    pipe = CdcPipeline(spark, table, n_buckets=8,
                       clock=lambda: DEFAULT_BASE_TS.timestamp())
    pipe.init_sync(base)

    sample = base.select("repo", "path", "content").limit(3).collect()
    for r in sample:
        got = table.read_key(spark, {"repo": r["repo"], "path": r["path"]})
        rows = got.collect()
        assert len(rows) == 1 and rows[0]["content"] == r["content"]
    # bucket pruning: the lookup plan lists 1/n_buckets of the data files
    one = sample[0]
    pruned = table.read_key(spark, {"repo": one["repo"], "path": one["path"]})
    n_total = len(table.manifest().files)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert plan.count(".parquet") <= max(1, n_total // 4)
    missing = table.read_key(spark, {"repo": "no-such", "path": "nope"})
    assert missing.count() == 0


def test_compaction_races_live_tail_to_parity(spark, tmp_path):
    """Maintenance under load: compact + vacuum run WHILE a processingTime
    tail applies batches. Commit races resolve via the retry loops (either
    side may lose and retry/skip); final state must still be oracle parity."""
    import time as _time

    from kafka_connect_dynamodb_spark.lake.table import CommitConflict

    base = source_table(spark, 150)
    ev = change_events(spark, 150, 1200, pre_init_frac=0.0)
    slices = [ev.filter(ev.seq_no % 4 == k) for k in range(4)]

    log = str(tmp_path / "log")
    cp = str(tmp_path / "cp")
    slices[0].coalesce(1).write.mode("append").parquet(log)

    table = LakeTable(str(tmp_path / "tbl"))
    pipe = CdcPipeline(spark, table, n_buckets=8,
                       clock=lambda: DEFAULT_BASE_TS.timestamp())
    pipe.init_sync(base)

    q = tail.start_tail(spark, log, table, checkpoint_dir=cp,
                        init_sync_start=DEFAULT_BASE_TS,
                        available_now=False,
                        processing_time="300 milliseconds")
    compactions = conflicts = 0
    try:
        for k in (1, 2, 3):
            slices[k].coalesce(1).write.mode("append").parquet(log)
            # maintenance fired while batches are in flight
            try:
                table.compact(spark, target_buckets=[])
                compactions += 1
            except CommitConflict:
                conflicts += 1          # lost every retry: acceptable for
                                        # maintenance, the tail must proceed
            table.vacuum(grace_s=0)
            _time.sleep(0.5)
        q.processAllAvailable()
        # the live tail survived the racing compact/vacuum and read every
        # event of the log, each once
        assert sum(p.numInputRows for p in q.recentProgress) == ev.count()
    finally:
        q.stop()

    # drain whatever remains, then check exact parity
    tail.drain(tail.start_tail(spark, log, table, checkpoint_dir=cp,
                               init_sync_start=DEFAULT_BASE_TS))
    state = replay([r.asDict() for r in base.collect()],
                   [r.asDict() for r in ev.collect()])
    assert _hashes_of(table, spark) == final_hashes(state)
    assert compactions >= 1


def test_day2_maintenance_soak_compact_vacuum_resync(spark, tmp_path):
    """The day-2 operator loop as ONE soak (VERDICT r5 next #8): a live
    processingTime tail applies micro-batches WHILE compaction + snapshot
    expiry + vacuum fire between appends; mid-soak the T1 protocol runs
    (stop the stream, atomic resync via replace(), re-tail from a fresh
    checkpoint); maintenance then continues over the re-tailed table.
    Invariants held throughout: per-bucket base file count stays at the
    fold bound (1), expiry+vacuum actually reclaim the pre-resync
    generation (on-disk parquet stays bounded by the retained live set),
    and the final state is exact oracle parity."""
    import glob as _glob
    import os
    import time as _time
    from datetime import timezone

    from kafka_connect_dynamodb_spark.lake.table import CommitConflict

    base = source_table(spark, 200)
    ev = change_events(spark, 200, 1600, pre_init_frac=0.0)
    slices = [ev.filter(ev.seq_no % 4 == k) for k in range(4)]
    log = str(tmp_path / "log")
    cp1, cp2 = str(tmp_path / "cp1"), str(tmp_path / "cp2")
    slices[0].coalesce(1).write.mode("append").parquet(log)

    table = LakeTable(str(tmp_path / "tbl"))
    pipe = CdcPipeline(spark, table, n_buckets=8,
                       clock=lambda: DEFAULT_BASE_TS.timestamp())
    pipe.init_sync(base)

    def maintain() -> int:
        try:
            table.compact(spark, target_buckets=[])
        except CommitConflict:
            pass                      # maintenance may lose to the tail
        table.expire_versions(keep_last=3)
        return table.vacuum(grace_s=0)

    def bucket_bound() -> int:
        counts: dict[int, int] = {}
        for e in table.manifest().files:
            counts[e["bucket"]] = counts.get(e["bucket"], 0) + 1
        return max(counts.values())

    # ---- phase A: live tail + maintenance between appends ----
    q = tail.start_tail(spark, log, table, checkpoint_dir=cp1,
                        init_sync_start=DEFAULT_BASE_TS,
                        available_now=False,
                        processing_time="300 milliseconds")
    try:
        for k in (1, 2):
            slices[k].coalesce(1).write.mode("append").parquet(log)
            maintain()
            assert bucket_bound() <= 2   # in-flight commit may add 1 briefly
            _time.sleep(0.5)
        q.processAllAvailable()
        # every event of slices 0-2 went through the live tail, each once
        assert sum(p.numInputRows for p in q.recentProgress) == \
            sum(slices[k].count() for k in range(3))
    finally:
        q.stop()

    # ---- phase B: T1 mid-soak — resync and re-tail from a new checkpoint
    info = pipe.resync(base)
    assert info.init_sync_state == "FINISHED"
    tail.drain(tail.start_tail(spark, log, table, checkpoint_dir=cp2,
                               init_sync_start=DEFAULT_BASE_TS))

    # the pre-resync generation becomes reclaimable once its versions expire
    reclaimed = maintain()
    assert reclaimed >= 0
    assert bucket_bound() == 1          # quiesced: exact fold bound

    # ---- phase C: more load + maintenance on the re-synced table ----
    slices[3].coalesce(1).write.mode("append").parquet(log)
    tail.drain(tail.start_tail(spark, log, table, checkpoint_dir=cp2,
                               init_sync_start=DEFAULT_BASE_TS))
    maintain()
    assert bucket_bound() == 1

    # on-disk parquet bounded by what the retained manifests reference
    live = {e["path"] for m_v in table._versions()
            for m in [table.manifest(version=m_v)]
            for e in m.files + m.deltas}
    on_disk = {os.path.relpath(p, table.root) for p in _glob.glob(
        os.path.join(table.root, "data", "**", "*.parquet"), recursive=True)}
    assert on_disk <= live, sorted(on_disk - live)[:5]

    # exact oracle parity over the WHOLE event log
    ev_rows = []
    for r in ev.collect():
        d = r.asDict()
        d["ts"] = d["ts"].replace(tzinfo=timezone.utc)
        ev_rows.append(d)
    state = replay([r.asDict() for r in base.collect()], ev_rows,
                   init_sync_start=DEFAULT_BASE_TS)
    assert _hashes_of(table, spark) == final_hashes(state)


# --------------------------------------------------------------- Z-order

def test_zvalue_interleave_matches_python_replica(spark):
    from kafka_connect_dynamodb_spark.lake.zorder import (
        rank_expr, zvalue_expr)
    from pyspark.sql import functions as F

    def py_z(ranks, bits, m):
        z = 0
        for i, r in enumerate(ranks):
            for b in range(bits):
                z |= ((r >> b) & 1) << (b * m + i)
        return z

    rows = [(i, i % 7, (i * 3) % 5) for i in range(35)]
    df = spark.createDataFrame(rows, "pk long, a long, b long")
    ba = [0.5, 2.5, 4.5]            # ranks 0..3 over a in 0..6
    bb = [1.5, 3.5]                 # ranks 0..2 over b in 0..4
    out = df.select("pk", "a", "b",
                    zvalue_expr([rank_expr(F.col("a"), ba),
                                 rank_expr(F.col("b"), bb)],
                                bits=2).alias("z")).collect()
    for r in out:
        ra = sum(1 for x in ba if x <= r.a)
        rb = sum(1 for x in bb if x <= r.b)
        assert r.z == py_z([ra, rb], 2, 2), (r.a, r.b)
    # NULL ranks lowest
    ndf = spark.createDataFrame([(1, None, 2)], "pk long, a long, b long")
    nz = ndf.select(zvalue_expr([rank_expr(F.col("a"), ba),
                                 rank_expr(F.col("b"), bb)],
                                bits=2).alias("z")).first().z
    assert nz == py_z([0, sum(1 for x in bb if x <= 2)], 2, 2)


def test_zorder_compaction_prunes_on_every_z_column(spark, tmp_path):
    """Z-order vs linear layout on the SAME table: after
    compact(zorder_cols=[a, b]) the manifest-stats skip set for an
    equality predicate is a strict minority of files on BOTH columns;
    after a linear a-sorted rewrite, pruning on b degrades to (almost)
    nothing. Content parity holds through both rewrites."""
    from pyspark.sql import functions as F
    n = 20_000
    df = (spark.range(n).withColumnRenamed("id", "pk")
          .withColumn("a", (F.col("pk") * 7919) % 97)
          .withColumn("b", (F.col("pk") * 104729) % 89)
          .withColumn("payload", F.sha2(F.col("pk").cast("string"), 256)))
    table = LakeTable(str(tmp_path / "ztbl"))
    table.create(spark, df, key_cols=["pk"], n_buckets=2)
    before = set(map(tuple, table.read(spark).collect()))
    n_before = len(table.manifest().files)

    # linear rewrite clustered by a (sort_cols flows through merge path is
    # key-based; emulate the "sorted by a" layout via zorder on a alone,
    # which degenerates to a's quantile order)
    table.compact(spark, zorder_cols=["a"], zorder_files_per_bucket=16)
    m_lin = table.manifest()
    files_lin = len(m_lin.files)
    may_a_lin = len(table.pruned_entries([("a", "==", 13)]))
    may_b_lin = len(table.pruned_entries([("b", "==", 13)]))
    assert may_a_lin <= files_lin // 2          # a-clustered: a prunes
    assert may_b_lin > files_lin // 2           # ...but b does not

    table.compact(spark, zorder_cols=["a", "b"], zorder_files_per_bucket=16)
    m_z = table.manifest()
    files_z = len(m_z.files)
    assert files_z > n_before                    # bucket split into ranges
    may_a_z = len(table.pruned_entries([("a", "==", 13)]))
    may_b_z = len(table.pruned_entries([("b", "==", 13)]))
    # both columns prune to a minority of files under z-order, and b's
    # skip set improves on the a-clustered layout where it pruned nothing
    assert may_a_z <= files_z // 2, (may_a_z, files_z)
    assert may_b_z <= files_z // 2, (may_b_z, files_z)
    assert may_b_z < may_b_lin, (may_b_z, may_b_lin)
    # and scan() results stay exact
    got = {r.pk for r in table.scan(spark, [("b", "==", 13)]).collect()}
    assert got == {i for i in range(n) if (i * 104729) % 89 == 13}
    after = set(map(tuple, table.read(spark).collect()))
    assert after == before


def test_zvalue_sign_bit_guard(spark):
    """ADVICE r6: bits*n_cols > 63 would put rank bits on the long sign
    bit (high-rank rows sort negative). zvalue_expr refuses; with_zvalue
    auto-reduces bits so rank resolution and interleave width agree."""
    import pytest
    from pyspark.sql import functions as F
    from kafka_connect_dynamodb_spark.lake.zorder import (
        rank_expr, with_zvalue, zvalue_expr)

    ranks = [rank_expr(F.col(f"c{i}"), [0.5]) for i in range(8)]
    with pytest.raises(ValueError, match="sign bit"):
        zvalue_expr(ranks, bits=8)

    cols = [f"c{i}" for i in range(8)]
    df = spark.createDataFrame(
        [tuple(float(i + j) for j in range(8)) for i in range(16)],
        ", ".join(f"{c} double" for c in cols))
    out = with_zvalue(df, cols, bits=8)         # auto-reduced to 63//8 = 7
    assert out.filter(F.col("_zval") < 0).count() == 0
