"""Round-3 lake hardening pins: retention-vs-reader coupling, the
rmtree-free resync path, typed point lookups, AS-OF stamp monotonicity
under clock skew, and the second (rename-based) CommitIO implementation
racing the link-based one through the same conflict scenarios."""

from __future__ import annotations

import json
import os
import threading

import pytest
from pyspark.sql import functions as F

from kafka_connect_dynamodb_spark.lake.commitio import (
    CommitConflict, ObjectStoreCommitIO, PosixCommitIO, RenameCommitIO)
from kafka_connect_dynamodb_spark.lake.table import (
    _COMMIT_RETRIES, _MAX_DELTAS, LakeTable, Manifest)

BASE = [("r1", "p1", "v1"), ("r1", "p2", "v2"), ("r2", "p1", "v3")]


def _table(spark, path, io=None, n_buckets=4):
    t = LakeTable(str(path), io=io)
    t.create(spark,
             spark.createDataFrame(BASE, "repo string, path string, content string"),
             ["repo", "path"], n_buckets=n_buckets)
    return t


def _upd(spark, rows):
    return spark.createDataFrame(
        rows, "repo string, path string, content string, _op string, _seq long")


# ---------------------------------------------------------------- retention

def test_retained_version_reader_survives_vacuum(spark, tmp_path):
    """VERDICT r2 next #4: a reader holding a retained old version must never
    hit a missing-file crash — vacuum's live set is the union over ALL
    manifests still in the log, not just the current one."""
    t = _table(spark, tmp_path / "tbl")
    for i in range(3):
        t.merge(spark, _upd(spark, [("r1", "p1", f"v{i+2}", "u", 10 + i)]),
                batch_id=i)
    old_reader = t.read(spark, version=1)        # lazily pinned to v1 files
    t.vacuum(grace_s=0)                                    # all 4 versions retained
    got = {(r.repo, r.path): r.content for r in old_reader.collect()}
    assert got[("r1", "p1")] == "v1"             # v1 data intact post-vacuum

    # fold the deltas, then expiry and vacuum: v1 becomes unreadable with a
    # CLEAR retention error
    t.compact(spark)
    t.expire_versions(keep_last=1)
    assert t.vacuum(grace_s=0) > 0
    with pytest.raises(FileNotFoundError):
        t.manifest(1)
    # current version unaffected
    assert t.read(spark).count() == 3


# ------------------------------------------------------------ rmtree-free resync

class ForbidTreeMutation(PosixCommitIO):
    """CommitIO double that fails the test if the resync path deletes
    anything — proving re-snapshot is pure manifest commits (VERDICT #2)."""

    def remove_tree(self, path):
        raise AssertionError(f"resync must not remove trees: {path}")

    def delete_file(self, path):
        raise AssertionError(f"resync must not delete files: {path}")


def test_resync_is_rmtree_free_and_atomic(spark, tmp_path):
    from kafka_connect_dynamodb_spark.plans.pipeline import CdcPipeline
    from kafka_connect_dynamodb_spark.sources.generator import (
        DEFAULT_BASE_TS, source_table)

    table = LakeTable(str(tmp_path / "tbl"), io=ForbidTreeMutation())
    pipe = CdcPipeline(spark, table, n_buckets=4,
                       clock=lambda: DEFAULT_BASE_TS.timestamp())
    base = source_table(spark, 60)
    info1 = pipe.init_sync(base)                 # fresh create
    v_before = table.current_version()
    mutated = base.withColumn("content", F.concat(F.col("content"), F.lit("!")))
    info2 = pipe.init_sync(mutated)              # danger-zone resync path
    assert info2.init_sync_count == info1.init_sync_count == 60

    # resync = ONE replace commit (+1 props commit); nothing deleted, the
    # pre-resync version is still time-travel readable
    assert table.read(spark, version=v_before).count() == 60
    got = table.read(spark).select("content").first()["content"]
    assert got.endswith("!")
    # committed markers reset: the stream's exactly-once lineage restarts
    assert table.manifest().committed == {}


def test_resumable_restart_is_rmtree_free(spark, tmp_path):
    """Layout change forces a restart-from-scratch; it must go through
    replace(), not tree deletion."""
    import json

    from kafka_connect_dynamodb_spark.plans.pipeline import CdcPipeline
    from kafka_connect_dynamodb_spark.sources.generator import (
        DEFAULT_BASE_TS, source_table)

    snap_dir = str(tmp_path / "snap")
    source_table(spark, 50).repartition(6).write.parquet(snap_dir)

    table = LakeTable(str(tmp_path / "tbl"), io=ForbidTreeMutation())
    pipe = CdcPipeline(spark, table, n_buckets=4,
                       clock=lambda: DEFAULT_BASE_TS.timestamp())
    info = pipe.init_sync_resumable(snap_dir, n_chunks=3,
                                    max_chunks_this_run=1)
    assert info.init_sync_state == "RUNNING"
    # corrupt the resume key -> layout mismatch -> restart from scratch
    key = json.loads(info.exclusive_start_key)
    key["n_files"] = 999
    info.exclusive_start_key = json.dumps(key)
    pipe.save_state(info)
    done = pipe.init_sync_resumable(snap_dir, n_chunks=3)
    assert done.init_sync_state == "FINISHED"
    assert table.read(spark).count() == 50


# ----------------------------------------------------------- typed point lookup

def test_read_key_nonstring_key_types(spark, tmp_path):
    """ADVICE r2: xxhash64 is input-type-sensitive; a python int literal must
    be cast to the stored key dtype or the bucket probe silently misses."""
    t = LakeTable(str(tmp_path / "tbl"))
    df = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (7, 70, "c"), (123456789012, 1, "big")],
        "k1 long, k2 int, payload string")
    t.create(spark, df, ["k1", "k2"], n_buckets=8)
    for k1, k2, want in [(1, 10, "a"), (7, 70, "c"), (123456789012, 1, "big")]:
        rows = t.read_key(spark, {"k1": k1, "k2": k2}).collect()
        assert len(rows) == 1 and rows[0]["payload"] == want
    assert t.read_key(spark, {"k1": 99, "k2": 99}).count() == 0


# -------------------------------------------------------- AS-OF monotonicity

def test_as_of_stamp_monotone_under_clock_skew(spark, tmp_path):
    """A committer with a fast clock must not make a LATER version carry an
    EARLIER stamp: commit stamps clamp to the parent's, so AS OF reads
    resolve to a version that includes every earlier-committed change."""
    t = _table(spark, tmp_path / "tbl")
    m = t.manifest()
    # simulate a skewed writer: hand-commit a version stamped in the future
    future = m.committed_at_ms + 3_600_000
    skewed = Manifest(version=m.version + 1, table=m.table, key_cols=m.key_cols,
                      n_buckets=m.n_buckets, schema_json=m.schema_json,
                      files=m.files, committed=m.committed,
                      properties=m.properties, change_files=m.change_files,
                      committed_at_ms=future)
    t._commit(skewed, parent=m)
    # a normal commit (local clock FAR behind the skewed stamp) follows
    t.merge(spark, _upd(spark, [("r1", "p1", "post-skew", "u", 10)]),
            batch_id=0)
    stamps = [t.manifest(v).committed_at_ms for v in t._versions()]
    assert stamps == sorted(stamps)
    # AS OF at/after the skewed stamp sees the post-skew merge, not a hole
    v = t.version_as_of(t.manifest().committed_at_ms)
    assert v == t.current_version()
    got = {(r.repo, r.path): r.content
           for r in t.read(spark, version=v).collect()}
    assert got[("r1", "p1")] == "post-skew"


# --------------------------------------------------- second CommitIO impl

IMPLS = [PosixCommitIO, RenameCommitIO, ObjectStoreCommitIO]


@pytest.mark.parametrize("impl", IMPLS, ids=lambda c: c.__name__)
def test_commitio_single_winner_under_contention(impl, tmp_path):
    """16 threads race put_if_absent on one path: exactly one wins, losers
    get CommitConflict, the payload is never torn."""
    io = impl()
    path = str(tmp_path / "log" / "v1.json")
    wins, losses, errs = [], [], []

    def attempt(i):
        try:
            io.put_if_absent(path, f"payload-{i}" * 100)
            wins.append(i)
        except CommitConflict:
            losses.append(i)
        except Exception as e:       # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=attempt, args=(i,)) for i in range(16)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    assert len(wins) == 1 and len(losses) == 15
    assert io.read_text(path) == f"payload-{wins[0]}" * 100
    # no temp litter
    assert not [f for f in os.listdir(os.path.dirname(path))
                if f.startswith(".tmp")]


@pytest.mark.parametrize("impl", IMPLS, ids=lambda c: c.__name__)
def test_merge_retries_on_conflict_either_impl(spark, tmp_path, impl):
    """The read-check-recompute-commit loop is impl-agnostic: a racer steals
    the version under both atomic primitives; merge recomputes and lands."""
    t = _table(spark, tmp_path / f"tbl_{impl.__name__}")
    racer = LakeTable(t.root)

    class RaceOnce(impl):
        def __init__(self):
            super().__init__()
            self.raced = False

        def put_if_absent(self, path, payload):
            if not self.raced:
                self.raced = True
                racer.update_properties({"racer": "yes"})
            return super().put_if_absent(path, payload)

    t.io = RaceOnce()
    res = t.merge(spark, _upd(spark, [("r1", "p1", "NEW", "u", 5)]),
                  batch_id=0, source="s")
    assert t.io.raced and res["version"] == 3
    got = {(r.repo, r.path): r.content for r in t.read(spark).collect()}
    assert got[("r1", "p1")] == "NEW"


@pytest.mark.parametrize("impl", IMPLS, ids=lambda c: c.__name__)
def test_merge_conflict_exhausts_retries_either_impl(spark, tmp_path, impl):
    t = _table(spark, tmp_path / f"tbl_{impl.__name__}")
    racer = LakeTable(t.root)

    class AlwaysRace(impl):
        def __init__(self):
            super().__init__()
            self.attempts = 0

        def put_if_absent(self, path, payload):
            self.attempts += 1
            racer.update_properties({"n": str(self.attempts)})
            return super().put_if_absent(path, payload)

    t.io = AlwaysRace()
    with pytest.raises(CommitConflict):
        t.merge(spark, _upd(spark, [("r1", "p1", "X", "u", 9)]),
                batch_id=0, source="s")
    assert t.io.attempts == _COMMIT_RETRIES + 1


@pytest.mark.parametrize("racer_commits", [True, False])
def test_write_failing_after_a_lost_race_retries(spark, tmp_path,
                                                 racer_commits):
    """A vacuum may reclaim a losing writer's staging dir while its write
    still runs, so the write fails instead of the put conflicting. A
    failure after another commit took the version is a lost race: the
    merge reruns against the new manifest and lands. With no commit in
    between, the failure is the writer's own and propagates at once."""
    t = _table(spark, tmp_path / "tbl")
    racer = LakeTable(t.root)
    real, calls = t._stage, []

    def stage(*a, **kw):
        calls.append(1)
        if len(calls) == 1:
            if racer_commits:
                racer.update_properties({"racer": "yes"})     # steals v2
            raise OSError("Mkdirs failed: staging dir reclaimed")
        return real(*a, **kw)

    t._stage = stage
    upd = _upd(spark, [("r1", "p1", "NEW", "u", 5)])
    if not racer_commits:
        with pytest.raises(OSError):
            t.merge(spark, upd, batch_id=0, source="s")
        assert len(calls) == 1 and t.current_version() == 1
        return
    res = t.merge(spark, upd, batch_id=0, source="s")
    assert len(calls) == 2 and res["version"] == 3
    got = {(r.repo, r.path): r.content for r in t.read(spark).collect()}
    assert got[("r1", "p1")] == "NEW"


def test_rename_commitio_end_to_end_table(spark, tmp_path):
    """Whole table lifecycle (create/merge/compact/expire/vacuum) on the
    rename-based impl — the contract is usable, not just conflict-correct."""
    io = RenameCommitIO()
    t = _table(spark, tmp_path / "tbl", io=io)
    t.merge(spark, _upd(spark, [("r1", "p1", "v1b", "u", 10),
                                ("r9", "p9", "new", "c", 11)]), batch_id=0)
    t.compact(spark)
    t.expire_versions(keep_last=1)
    t.vacuum(grace_s=0)
    got = {(r.repo, r.path): r.content for r in t.read(spark).collect()}
    assert got == {("r1", "p1"): "v1b", ("r1", "p2"): "v2",
                   ("r2", "p1"): "v3", ("r9", "p9"): "new"}


# ------------------------------------------------------- file-stats skipping

def test_scan_prunes_files_by_footer_stats(spark, tmp_path):
    """Data skipping (Iceberg-manifest analog): per-file min/max collected
    from the parquet footers at commit time let scan() drop files at
    planning time; results stay exact because the predicate is re-applied."""
    t = LakeTable(str(tmp_path / "tbl"))
    # 4 buckets keyed so each bucket holds one disjoint value range
    df = spark.createDataFrame(
        [(i, i * 100, f"pay-{i}") for i in range(40)],
        "k long, metric long, payload string")
    t.create(spark, df, ["k"], n_buckets=8)
    m = t.manifest()
    assert all("stats" in e for e in m.files)
    # _seq/_deleted/keys all carry stats; metric is the pruning column here
    for e in m.files:
        assert "metric" in e["stats"] and "k" in e["stats"]

    full = len(m.files)
    kept = t.pruned_entries([("metric", ">=", 3800)])
    assert 0 < len(kept) < full                      # genuinely skipped files
    got = {r.k for r in t.scan(spark, [("metric", ">=", 3800)]).collect()}
    assert got == {38, 39}
    # == and range both exact
    assert t.scan(spark, [("metric", "==", 700)]).collect()[0].payload == "pay-7"
    assert {r.k for r in t.scan(spark, [("metric", ">", 500),
                                        ("metric", "<=", 900)]).collect()} \
        == {6, 7, 8, 9}


def test_scan_seq_watermark_pruning_after_merges(spark, tmp_path):
    """The CDC consumer shape: _seq stats let 'changes since watermark'
    scans skip every file whose max seq-no is below the watermark."""
    t = _table(spark, tmp_path / "tbl", n_buckets=4)
    for i in range(3):
        t.merge(spark, _upd(spark, [("r1", "p1", f"v{i}", "u", 1000 + i)]),
                batch_id=i)
    kept = t.pruned_entries([("_seq", ">=", 1002)])
    assert len(kept) < len(t.manifest().files)
    rows = t.scan(spark, [("_seq", ">=", 1002)], include_meta=True).collect()
    assert {(r.repo, r.path) for r in rows} == {("r1", "p1")}
    assert rows[0].content == "v2"

    # a key-column range prunes deltas too (every version of a key has the
    # same key values): the three r1 deltas are skipped, the r9 one kept
    t.merge(spark, _upd(spark, [("r9", "p9", "late", "c", 2000)]), batch_id=3)
    preds = [("repo", ">", "r5")]
    m = t.manifest()
    assert len(m.deltas) == 4
    assert [d["version"] for d in t.pruned_entries(preds) if "version" in d] \
        == [m.deltas[-1]["version"]]
    assert sorted(t.scan(spark, preds).collect()) == \
        sorted(t.read(spark).filter(F.col("repo") > "r5").collect())
    assert t.scan(spark, preds).count() == 1


def test_scan_unprunable_column_is_exact_not_wrong(spark, tmp_path):
    """A column with no stats (e.g. schema-evolved: old files lack it) must
    disable skipping for those files, never drop them."""
    t = _table(spark, tmp_path / "tbl")
    t.merge(spark, spark.createDataFrame(
        [("r9", "p9", "new", "zz-branch", "u", 10)],
        "repo string, path string, content string, branch string,"
        " _op string, _seq long"), batch_id=0)
    # old files have NO 'branch' stats -> kept; predicate still exact
    got = t.scan(spark, [("branch", "==", "zz-branch")]).collect()
    assert len(got) == 1 and got[0].repo == "r9"
    assert t.scan(spark, [("branch", "==", "nope")]).count() == 0


def test_scan_bucket_prunes_on_full_key_equality(spark, tmp_path):
    """scan() subsumes read_key: full key-equality predicates add hash-bucket
    pruning on top of stats pruning."""
    t = _table(spark, tmp_path / "tbl", n_buckets=8)
    preds = [("repo", "==", "r1"), ("path", "==", "p1")]
    m = t.manifest()
    b = t._bucket_of(spark, m, {"repo": "r1", "path": "p1"})
    # plan-time file set is exactly the key's bucket (∩ stats survivors)
    kept = [e for e in t.pruned_entries(preds) if e["bucket"] == b]
    rows = t.scan(spark, preds).collect()
    assert len(rows) == 1 and rows[0].content == "v1"
    plan = t.scan(spark, preds)._jdf.queryExecution().executedPlan().toString()
    assert plan.count(".parquet") <= max(1, len(kept))


def test_vacuum_spares_inflight_staging_dirs(spark, tmp_path):
    """A staging dir whose embedded version is AHEAD of the current commit
    may belong to a writer racing toward its commit: vacuum must leave it
    alone. Once the version race is decided (current catches up), the next
    vacuum reclaims it."""
    t = _table(spark, tmp_path / "tbl")          # current version = 1
    inflight = os.path.join(t.root, "data", "c000000000009-aaaabbbb")
    os.makedirs(os.path.join(inflight, "_bucket=0"), exist_ok=True)
    with open(os.path.join(inflight, "_bucket=0", "part-x.parquet"), "w") as f:
        f.write("in-flight")

    t.vacuum(grace_s=0)
    assert os.path.exists(os.path.join(inflight, "_bucket=0", "part-x.parquet"))

    # advance the table past version 9 -> the race is decided, dir is orphan
    for i in range(9):
        t.update_properties({"tick": str(i)})
    assert t.current_version() >= 9
    t.vacuum(grace_s=0)
    assert not os.path.exists(os.path.join(inflight, "_bucket=0",
                                           "part-x.parquet"))


def test_vacuum_spares_an_uncommitted_delta(spark, tmp_path):
    """A merge's delta is staged under data/c{next version}-{uid}, ahead of
    the current version until its commit lands: a vacuum running between
    the delta write and the manifest put must leave it alone."""
    other = LakeTable(str(tmp_path / "tbl"))

    class VacuumBeforePut(PosixCommitIO):
        removed = None

        def put_if_absent(self, path, payload):
            if self.removed is None:
                self.removed = other.vacuum(grace_s=0)
            return super().put_if_absent(path, payload)

    t = _table(spark, tmp_path / "tbl")
    t.io = VacuumBeforePut()
    t.merge(spark, _upd(spark, [("r1", "p1", "NEW", "u", 10)]), batch_id=0)
    assert t.io.removed is not None
    (delta,) = t.manifest().deltas
    assert os.path.exists(os.path.join(t.root, delta["path"]))
    got = {(r.repo, r.path): r.content for r in t.read(spark).collect()}
    assert got[("r1", "p1")] == "NEW"


def test_folded_delta_reclaimed_after_its_last_manifest_expires(spark, tmp_path):
    """A fold drops deltas from the manifest, but each delta file stays on
    disk while ANY retained manifest lists it (time travel to those
    versions keeps working); once they all expire, vacuum reclaims it."""
    t = _table(spark, tmp_path / "tbl")
    t.merge(spark, _upd(spark, [("r1", "p1", "a", "u", 10)]), batch_id=0)
    t.merge(spark, _upd(spark, [("r2", "p1", "b", "u", 11)]), batch_id=1)
    paths = [os.path.join(t.root, d["path"]) for d in t.manifest().deltas]
    t.compact(spark)                                    # v4: no deltas
    assert t.manifest().deltas == []
    for keep_last in (4, 2):                            # v3 still lists both
        t.expire_versions(keep_last=keep_last)
        t.vacuum(grace_s=0)
        assert all(os.path.exists(p) for p in paths)
        got = {(r.repo, r.path): r.content
               for r in t.read(spark, version=3).collect()}
        assert got[("r1", "p1")] == "a" and got[("r2", "p1")] == "b"
    t.expire_versions(keep_last=1)
    assert t.vacuum(grace_s=0) > 0
    assert not any(os.path.exists(p) for p in paths)
    got = {(r.repo, r.path): r.content for r in t.read(spark).collect()}
    assert got == {("r1", "p1"): "a", ("r1", "p2"): "v2", ("r2", "p1"): "b"}


def test_history_and_projected_read(spark, tmp_path):
    """history() exposes the commit lineage as a frame; read(columns=...)
    pushes column pruning into the parquet scan (ReadSchema shrinks)."""
    t = _table(spark, tmp_path / "tbl")
    t.merge(spark, _upd(spark, [("r1", "p1", "v2", "u", 10)]),
            batch_id=0, source="stream")
    h = {r.version: r for r in t.history(spark).collect()}
    assert h[1].op == "create" and h[2].op == "merge"
    assert h[2].source == "stream" and h[2].batch_id == 0 and h[2].rows_in == 1
    stamps = [h[v].committed_at_ms for v in sorted(h)]
    assert stamps == sorted(stamps)

    proj = t.read(spark, columns=["repo"])
    assert proj.columns == ["repo"]
    plan = proj._jdf.queryExecution().executedPlan().toString()
    import re
    rs = re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1)
    assert "content" not in rs            # pruned column never read


# ------------------------------------------------- replace retry vs vacuum

def test_replace_retry_restages_and_survives_vacuum(spark, tmp_path):
    """replace() losing its commit race writes the snapshot again under the
    version its retry commits, like every other writer. Worst-case
    interleaving pinned here: the racer lands a commit AND runs vacuum
    before our retry. The retry's files live under a dir named for the new
    version, so they are ahead of vacuum's version guard until they commit,
    and named by the manifest after it; the lost attempt's files are
    orphans a vacuum reclaims."""
    t = LakeTable(str(tmp_path / "tbl"), change_feed=True)
    t.create(spark,
             spark.createDataFrame(BASE, "repo string, path string, content string"),
             ["repo", "path"], n_buckets=4)
    racer = LakeTable(str(tmp_path / "tbl"), change_feed=True)

    class RaceAndVacuum(PosixCommitIO):
        def __init__(self):
            self.raced = False

        def put_if_absent(self, path, payload):
            if not self.raced:
                self.raced = True
                racer.update_properties({"racer": "yes"})   # steals v2
                racer.vacuum()          # default grace: must spare staging
            return super().put_if_absent(path, payload)

    t.io = RaceAndVacuum()
    snap = spark.createDataFrame(
        [("r1", "p1", "resynced"), ("r9", "p9", "new")],
        "repo string, path string, content string")
    m = t.replace(spark, snap)
    assert t.io.raced and m.version == 3     # create=1, racer=2, replace=3

    # every entry lives under the v3-named staging dir of the retry
    assert all(e["path"].startswith("data/c000000000003-")
               for e in m.files), m.files
    got = {(r.repo, r.path): r.content for r in t.read(spark).collect()}
    assert got == {("r1", "p1"): "resynced", ("r9", "p9"): "new"}
    # feed delta re-published under the new version and readable
    feed = t.changes(spark)
    assert {r["_commit"] for r in feed.select("_commit").collect()} == {3}
    # a later grace-less vacuum must not touch the now-live files
    t.io = PosixCommitIO()
    t.vacuum(grace_s=0)
    assert t.read(spark).count() == 2


def test_init_sync_resync_survives_a_lost_commit_race(spark, tmp_path):
    """A danger-zone resync (CdcPipeline.init_sync on an existing table)
    whose replace() loses one commit race writes the observed snapshot
    twice: the state still records the snapshot's row count, and the table
    equals the snapshot."""
    from kafka_connect_dynamodb_spark.plans.pipeline import CdcPipeline
    from kafka_connect_dynamodb_spark.sources.generator import (
        DEFAULT_BASE_TS, source_table)

    t = LakeTable(str(tmp_path / "tbl"))
    pipe = CdcPipeline(spark, t, n_buckets=4,
                       clock=lambda: DEFAULT_BASE_TS.timestamp())
    pipe.init_sync(source_table(spark, 20))
    racer = LakeTable(t.root)

    class RaceOnce(PosixCommitIO):
        raced = False

        def put_if_absent(self, path, payload):
            if not self.raced:
                self.raced = True
                racer.update_properties({"racer": "yes"})
            return super().put_if_absent(path, payload)

    snap = source_table(spark, 30)
    t.io = RaceOnce()
    info = pipe.init_sync(snap)
    assert t.io.raced
    assert info.init_sync_count == 30
    assert pipe.load_state().init_sync_count == 30
    v = t.current_version()
    assert [t.manifest(u).lineage[-1]["op"] for u in (v - 2, v - 1)] == \
        ["props", "replace"]
    assert sorted(t.read(spark).select(*snap.columns).collect()) == \
        sorted(snap.collect())


def test_vacuum_grace_window_spares_fresh_orphans(spark, tmp_path):
    """The mtime grace window alone: a freshly-staged orphan with an
    embedded version <= current (a lost commit attempt's) survives a default
    vacuum and is reclaimed once the grace is waived."""
    t = _table(spark, tmp_path / "tbl")
    orphan = os.path.join(t.root, "data", "c000000000001-deadbeef")
    os.makedirs(os.path.join(orphan, "_bucket=0"), exist_ok=True)
    p = os.path.join(orphan, "_bucket=0", "part-junk.parquet")
    with open(p, "w") as f:
        f.write("junk")
    assert t.vacuum() == 0                       # fresh: spared by grace
    assert os.path.exists(p)
    assert t.vacuum(grace_s=0) >= 1              # waived: reclaimed
    assert not os.path.exists(p)


def test_read_columns_may_name_meta_cols(spark, tmp_path):
    """ADVICE r3 (low): read(columns=[... '_seq' ...]) must not duplicate
    the meta column in the projection; include_meta still governs whether
    meta survives."""
    t = _table(spark, tmp_path / "tbl")
    df = t.read(spark, columns=["repo", "_seq"], include_meta=True)
    assert df.columns == ["repo", "_seq", "_deleted"]
    assert df.count() == 3
    # without include_meta the meta cols are dropped even if requested
    assert t.read(spark, columns=["repo", "_seq"]).columns == ["repo"]


def test_objectstore_commitio_end_to_end_table(spark, tmp_path):
    """VERDICT r4 #4: the S3-semantics impl (conditional-put, prefix
    listing, NO rename or copy anywhere) runs the whole lifecycle:
    create / merge with change feed / stream drain / replace-resync /
    compact / expire / vacuum — and a feed mirror reads what it publishes."""
    from pyspark.sql import functions as F

    io = ObjectStoreCommitIO()
    t = LakeTable(str(tmp_path / "tbl"), io=io, change_feed=True)
    t.create(spark,
             spark.createDataFrame(BASE, "repo string, path string, content string"),
             ["repo", "path"], n_buckets=4)
    t.merge(spark, _upd(spark, [("r1", "p1", "v1b", "u", 10),
                                ("r9", "p9", "new", "c", 11)]), batch_id=0)
    t.merge(spark, _upd(spark, [("r2", "p1", None, "d", 12)]), batch_id=1)
    feed = t.changes(spark)
    assert {r["_commit"] for r in feed.select("_commit").collect()} == {2, 3}
    # a subscriber drains the same rows, planned through this table's io
    q = (t.stream_changes(spark).writeStream.format("memory")
         .queryName("objectstore_feed")
         .option("checkpointLocation", str(tmp_path / "cp"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    drained = spark.table("objectstore_feed")
    assert sorted(drained.collect()) == sorted(feed.collect())

    t.replace(spark, spark.createDataFrame(
        [("r1", "p1", "resynced")], "repo string, path string, content string"))
    t.compact(spark)
    t.expire_versions(keep_last=1)
    t.vacuum(grace_s=0)
    got = {(r.repo, r.path): r.content for r in t.read(spark).collect()}
    assert got == {("r1", "p1"): "resynced"}
    assert t.read(spark).filter(F.col("content").isNull()).count() == 0


def _race_commits(root: str, go_file: str, proc_id: int, n_versions: int,
                  impl_name: str = "ObjectStoreCommitIO"):
    """Cross-process CAS race worker (module-level: spawn-picklable).
    Spin-waits on the go file so all processes enter the version loop
    together, then attempts every version in order. Pure file I/O — no
    Spark in the children."""
    import time

    from kafka_connect_dynamodb_spark.lake import commitio as _cio
    from kafka_connect_dynamodb_spark.lake.commitio import CommitConflict as _CC

    io = getattr(_cio, impl_name)()
    with open(go_file + f".ready{proc_id}", "w") as fh:
        fh.write("ready")                # parent fires go once ALL are ready
    deadline = time.monotonic() + 30
    while not os.path.exists(go_file):
        if time.monotonic() > deadline:          # pragma: no cover
            raise TimeoutError("go file never appeared")
        time.sleep(0.001)
    t0 = float(open(go_file).read())
    wins = []
    for v in range(n_versions):
        # per-version rendezvous on the shared wall clock: every process
        # attempts version v in the same 2 ms window, so each CAS is a
        # genuine multi-process race, not a wakeup-skew sweep
        while time.time() < t0 + v * 0.002:
            pass
        try:
            io.put_if_absent(os.path.join(root, f"v{v:012d}.json"),
                             json.dumps({"winner": proc_id, "version": v}))
            wins.append(v)
        except _CC:
            pass
    return wins


@pytest.mark.parametrize("impl", IMPLS, ids=lambda c: c.__name__)
def test_commitio_cas_single_winner_across_processes(tmp_path, impl):
    """VERDICT r4 next #3: the conditional-put primitive must serialize
    SEPARATE DRIVER PROCESSES, not just threads — r4's ObjectStoreCommitIO
    used a process-global threading.Lock which could not. All three impls
    claim kernel-arbitrated CAS (link(2) / RENAME_NOREPLACE / link(2)), so
    all three race here: N spawned processes race M versions; exactly one
    winner per version, every winner's payload intact, and (retrying once
    against scheduler luck) at least two distinct processes win something,
    proving genuine cross-process contention."""
    import multiprocessing as mp

    n_procs, n_versions = 3, 64
    ctx = mp.get_context("spawn")        # fresh interpreters: no shared locks
    for attempt in range(2):
        root = str(tmp_path / f"log{attempt}")
        os.makedirs(root, exist_ok=True)
        go = os.path.join(str(tmp_path), f"go{attempt}")
        with ctx.Pool(n_procs) as pool:
            results = [pool.apply_async(_race_commits,
                                        (root, go, p, n_versions,
                                         impl.__name__))
                       for p in range(n_procs)]
            import time as _t
            deadline = _t.monotonic() + 60
            while not all(os.path.exists(f"{go}.ready{p}")
                          for p in range(n_procs)):
                assert _t.monotonic() < deadline, "workers never came up"
                _t.sleep(0.005)
            with open(go + ".tmp", "w") as fh:   # release all workers at once
                fh.write(str(_t.time() + 0.05))
            os.rename(go + ".tmp", go)   # never let a worker read a torn t0
            wins_by_proc = [r.get(timeout=120) for r in results]
        all_wins = [v for wins in wins_by_proc for v in wins]
        # exactly one winner per version, and the file's payload names it
        assert sorted(all_wins) == list(range(n_versions))
        for p, wins in enumerate(wins_by_proc):
            for v in wins:
                doc = json.loads(
                    open(os.path.join(root, f"v{v:012d}.json")).read())
                assert doc == {"winner": p, "version": v}
        # no temp litter from losers
        assert not [f for f in os.listdir(root) if f.startswith(".tmp")]
        if sum(1 for w in wins_by_proc if w) >= 2:
            break
    else:                                # pragma: no cover
        pytest.fail("one process won every race twice — no contention")


def test_commitio_base_file_mtime_is_conservative(tmp_path):
    """r4 ADVICE low: a CommitIO subclass that does not override
    file_mtime must not blow up vacuum — the base default reports +inf
    ("modified just now"), so the grace window spares unknown files."""
    from kafka_connect_dynamodb_spark.lake.commitio import CommitIO

    class MinimalIO(CommitIO):
        pass

    import time
    mt = MinimalIO().file_mtime(str(tmp_path / "nope"))
    assert mt == float("inf") and mt > time.time()


# ------------------------------------------------------- commit staging

class CountListings(PosixCommitIO):
    """Records the path of every listing call (list_dir and walk_files)."""

    def __init__(self):
        self.listed = []

    def list_dir(self, path):
        self.listed.append(path)
        return super().list_dir(path)

    def walk_files(self, root):
        self.listed.append(root)
        return super().walk_files(root)


def _listings(io, fn):
    io.listed.clear()
    fn()
    return list(io.listed)


def _staging_dirs(listed):
    return [p for p in listed if f"{os.sep}data{os.sep}c" in p]


def test_every_staging_dir_is_listed_once(spark, tmp_path):
    """A commit discovers the files it wrote with ONE listing of its
    staging dir, however many bucket dirs the write made: a 64-bucket
    create lists the log and its staging dir, a merge the log and its
    delta's staging dir, and a merge that folds its deltas into the 64
    buckets lists each of the two commits' log and staging dir once. On a
    feed_preimages table the feed file is one more staging dir, listed
    once, and a z-order fold lists its staging dir once."""
    snap = spark.createDataFrame(
        [(f"r{i % 7}", f"p{i}", f"v{i}") for i in range(2000)],
        "repo string, path string, content string")
    io = CountListings()
    t = LakeTable(str(tmp_path / "tbl"), io=io)
    listed = _listings(io, lambda: t.create(spark, snap, ["repo", "path"],
                                            n_buckets=64))
    assert len(t.manifest().files) == 64
    assert len(listed) == 2 and len(_staging_dirs(listed)) == 1

    def merge(i, table=t):
        upd = _upd(spark, [(f"r{k % 7}", f"p{k}", f"b{i}", "u", 10 + i)
                           for k in range(i * 300, i * 300 + 300)])
        return _listings(table.io, lambda: table.merge(spark, upd, batch_id=i))

    for i in range(_MAX_DELTAS - 1):
        listed = merge(i)
        assert len(listed) == 2 and len(_staging_dirs(listed)) == 1
    listed = merge(_MAX_DELTAS - 1)                 # folds into 64 buckets
    m = t.manifest()
    assert m.deltas == [] and m.lineage[-1]["files_written"] == 64
    assert len(listed) == 4
    assert len(set(_staging_dirs(listed))) == len(_staging_dirs(listed)) == 2

    listed = _listings(io, lambda: t.compact(
        spark, zorder_cols=["content"], zorder_files_per_bucket=2))
    assert t.manifest().lineage[-1]["zorder"] == ["content"]
    assert len(listed) == 2 and len(_staging_dirs(listed)) == 1

    feed = LakeTable(str(tmp_path / "feed"), io=CountListings(),
                     change_feed=True, feed_preimages=True)
    feed.create(spark, snap, ["repo", "path"], n_buckets=64)
    listed = merge(0, feed)
    assert feed.manifest().change_files
    assert len(listed) == 3
    assert len(set(_staging_dirs(listed))) == len(_staging_dirs(listed)) == 2


class CrashAt(PosixCommitIO):
    """Raises once at the armed step: the ``nth`` staging-dir walk of a
    call (the write's files are on disk, nothing is put), or the ``nth``
    put, AFTER the store accepted it (a timeout that lost the reply)."""

    armed = None                                    # (step, nth)

    def arm(self, step, nth):
        self.armed, self.seen = (step, nth), 0

    def _hit(self, step):
        if self.armed is None or self.armed[0] != step:
            return False
        self.seen += 1
        if self.seen < self.armed[1]:
            return False
        self.armed = None
        return True

    def walk_files(self, root):
        if _staging_dirs([root]) and self._hit("walk"):
            raise OSError(f"crashed listing {root}")
        return super().walk_files(root)

    def put_if_absent(self, path, payload):
        super().put_if_absent(path, payload)
        if self._hit("put"):
            raise TimeoutError(f"put of {path} accepted, reply lost")


@pytest.fixture(scope="module")
def crash_batches(spark):
    """A 200-key snapshot, its change events in _MAX_DELTAS batches, and
    the oracle's final hashes."""
    from kafka_connect_dynamodb_spark.sources.generator import (
        change_events, source_table)
    from tests.oracle import final_hashes, replay
    base = source_table(spark, 200)
    ev = change_events(spark, 200, 600)
    rows = ev.collect()
    batches = [spark.createDataFrame(rows[i::_MAX_DELTAS], ev.schema)
               for i in range(_MAX_DELTAS)]
    base_rows = [r.asDict() for r in base.collect()]
    expected = final_hashes(replay(base_rows, [r.asDict() for r in rows]))
    resnap = base.withColumn("content", F.concat(F.col("content"), F.lit("!")))
    resnap_expected = final_hashes(replay(
        [r.asDict() for r in resnap.collect()], []))
    return base, batches, expected, resnap, resnap_expected


def _hashes(spark, t):
    import hashlib
    return {(r.repo, r.path):
            hashlib.sha256((r.content or "").encode()).hexdigest()
            for r in t.read(spark).collect()}


def _data_files(t):
    return {os.path.relpath(os.path.join(d, f), t.root)
            for d, _, fs in os.walk(os.path.join(t.root, "data"))
            for f in fs if f.endswith(".parquet")}


def _named_files(t):
    return {e["path"] for v in t._versions() for m in [t.manifest(v)]
            for e in m.files + m.deltas + m.change_files}


@pytest.mark.parametrize("op,step,nth", [
    ("merge", "walk", 1),       # (a) the delta is written, not yet put
    ("merge", "put", 1),        # (b) the put landed, its reply was lost
    ("merge", "walk", 2),       # (c) the fold's files are written
    ("replace", "walk", 1),     # (a) the new snapshot is written
], ids=["a-merge", "b-merge", "c-fold", "a-replace"])
def test_crash_at_each_staging_step_recovers_to_parity(
        spark, tmp_path, crash_batches, op, step, nth):
    """A crash at each step of staging a commit, followed by the
    foreachBatch redelivery (or the rerun replace), ends at the oracle's
    table; vacuum then reclaims every file no retained manifest names
    and spares every file one does. The merge under test is the one that
    folds the table's deltas."""
    from kafka_connect_dynamodb_spark.operators.apply import apply_batch
    base, batches, expected, resnap, resnap_expected = crash_batches
    io = CrashAt()
    t = LakeTable(str(tmp_path / "tbl"), io=io)
    t.create(spark, base, ["repo", "path"], n_buckets=8)
    last = _MAX_DELTAS - 1
    for i in range(last):
        apply_batch(spark, t, batches[i], batch_id=i)

    io.arm(step, nth)
    if op == "replace":
        v = t.current_version()
        with pytest.raises(OSError, match="crashed listing"):
            t.replace(spark, resnap)
        assert t.current_version() == v             # nothing committed
        t.replace(spark, resnap)
        expected = resnap_expected
    elif step == "put":
        # _transact reruns the attempt once another commit took the
        # version; that commit is its own, so the batch reads as skipped
        res = apply_batch(spark, t, batches[last], batch_id=last)
        assert res["skipped"] and t.last_committed("stream") == last
        assert apply_batch(spark, t, batches[last], batch_id=last)["skipped"]
    else:
        with pytest.raises(OSError, match="crashed listing"):
            apply_batch(spark, t, batches[last], batch_id=last)
        # (a) nothing committed; (c) the merge committed, its fold did not
        assert t.last_committed("stream") == (last if nth == 2 else last - 1)
        res = apply_batch(spark, t, batches[last], batch_id=last)
        assert res["skipped"] == (nth == 2)
    assert io.armed is None                         # the crash happened
    assert _hashes(spark, t) == expected

    assert _named_files(t) <= _data_files(t)
    if step == "walk":
        assert _data_files(t) - _named_files(t)     # the crash left orphans
    if nth == 2:
        # the fold's orphans are staged for a version ahead of the current
        # one, so vacuum spares them (a writer may be in flight) until the
        # next batch lands and folds
        t.vacuum(grace_s=0)
        assert _data_files(t) - _named_files(t)
        apply_batch(spark, t, batches[0].limit(0), batch_id=last + 1)
        assert t.manifest().deltas == []
    named = _named_files(t)
    t.vacuum(grace_s=0)
    assert _data_files(t) == named
    assert _hashes(spark, t) == expected
