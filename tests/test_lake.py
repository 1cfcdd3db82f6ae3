"""LakeTable: ACID manifest log, COW merge, tombstones, schema evolution,
idempotent commits, compaction, time travel."""

import json

import pytest
from pyspark.sql import functions as F

from kafka_connect_dynamodb_spark.lake import table as table_mod
from kafka_connect_dynamodb_spark.lake.table import (
    _COMMIT_RETRIES, _MAX_DELTAS, CommitConflict, LakeTable, Manifest)


BASE = [("r1", "p1", "v1"), ("r1", "p2", "v2"), ("r2", "p1", "v3")]
SCHEMA = "repo string, path string, content string"


def _table(spark, tmp_path, n_buckets=4):
    t = LakeTable(str(tmp_path / "tbl"))
    t.create(spark, spark.createDataFrame(BASE, SCHEMA), ["repo", "path"],
             n_buckets=n_buckets)
    return t


def _upd(spark, rows, schema="repo string, path string, content string,"
                            " _op string, _seq long"):
    return spark.createDataFrame(rows, schema)


def test_create_and_read(spark, tmp_path):
    t = _table(spark, tmp_path)
    got = {(r.repo, r.path): r.content for r in t.read(spark).collect()}
    assert got == {("r1", "p1"): "v1", ("r1", "p2"): "v2", ("r2", "p1"): "v3"}
    assert t.current_version() == 1


def test_merge_upsert_delete(spark, tmp_path):
    t = _table(spark, tmp_path)
    upd = _upd(spark, [("r1", "p1", "v1b", "u", 10),
                       ("r2", "p1", None, "d", 11),
                       ("r3", "p9", "new", "c", 12)])
    res = t.merge(spark, upd, batch_id=0)
    assert not res["skipped"]
    got = {(r.repo, r.path): r.content for r in t.read(spark).collect()}
    assert got == {("r1", "p1"): "v1b", ("r1", "p2"): "v2", ("r3", "p9"): "new"}
    # tombstone is retained with meta (for LWW guard), hidden from read
    meta = t.read(spark, include_meta=True).count()
    assert meta == 3


def test_lww_guard_rejects_stale(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.merge(spark, _upd(spark, [("r1", "p1", "new", "u", 100)]), batch_id=0)
    # older seq arrives later in a different batch -> must NOT win
    t.merge(spark, _upd(spark, [("r1", "p1", "stale", "u", 50)]), batch_id=1)
    got = {(r.repo, r.path): r.content for r in t.read(spark).collect()}
    assert got[("r1", "p1")] == "new"


def test_delete_then_late_update_stays_dead(spark, tmp_path):
    # SURVEY §7.4.3: REMOVE@100 then MODIFY@50 in a later batch => stays deleted
    t = _table(spark, tmp_path)
    t.merge(spark, _upd(spark, [("r1", "p1", None, "d", 100)]), batch_id=0)
    t.merge(spark, _upd(spark, [("r1", "p1", "zombie", "u", 50)]), batch_id=1)
    keys = {(r.repo, r.path) for r in t.read(spark).collect()}
    assert ("r1", "p1") not in keys
    # but a genuinely-newer insert resurrects it
    t.merge(spark, _upd(spark, [("r1", "p1", "back", "c", 150)]), batch_id=2)
    got = {(r.repo, r.path): r.content for r in t.read(spark).collect()}
    assert got[("r1", "p1")] == "back"


def test_idempotent_batch_commit(spark, tmp_path):
    t = _table(spark, tmp_path)
    upd = _upd(spark, [("r1", "p1", "once", "u", 10)])
    r1 = t.merge(spark, upd, batch_id=5, source="s1")
    v = t.current_version()
    r2 = t.merge(spark, upd, batch_id=5, source="s1")  # redelivery
    assert not r1["skipped"] and r2["skipped"]
    assert t.current_version() == v
    r3 = t.merge(spark, upd, batch_id=4, source="s1")  # older batch
    assert r3["skipped"]
    # a different source has independent sequencing
    r4 = t.merge(spark, upd, batch_id=5, source="s2")
    assert not r4["skipped"]


def test_bucket_pruning(spark, tmp_path):
    t = _table(spark, tmp_path, n_buckets=16)
    res = t.merge(spark, _upd(spark, [("r1", "p1", "x", "u", 10)]), batch_id=0)
    assert res["buckets_touched"] == 1
    m = t.manifest()
    # untouched buckets' files must be carried over unchanged, not rewritten
    assert res["buckets_touched"] < len({e["bucket"] for e in m.files})


def test_schema_evolution_additive(spark, tmp_path):
    t = _table(spark, tmp_path)
    upd = _upd(spark, [("r1", "p1", "v1b", "branch-x", "u", 10)],
               "repo string, path string, content string, branch string,"
               " _op string, _seq long")
    t.merge(spark, upd, batch_id=0)
    out = t.read(spark)
    assert "branch" in out.columns
    got = {(r.repo, r.path): (r.content, r.branch) for r in out.collect()}
    assert got[("r1", "p1")] == ("v1b", "branch-x")
    assert got[("r1", "p2")] == ("v2", None)  # old rows read with nulls


def test_empty_batch(spark, tmp_path):
    t = _table(spark, tmp_path)
    res = t.merge(spark, _upd(spark, []), batch_id=0)
    assert res["rows_in"] == 0
    assert t.last_committed("default") == 0  # still advances the batch marker


def test_time_travel_and_props(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.merge(spark, _upd(spark, [("r1", "p1", "v2!", "u", 10)]), batch_id=0)
    old = {(r.repo, r.path): r.content for r in t.read(spark, version=1).collect()}
    assert old[("r1", "p1")] == "v1"
    t.update_properties({"k": "val"})
    assert t.manifest().properties["k"] == "val"


def test_each_manifest_records_only_its_own_commit(spark, tmp_path):
    """After 60 one-batch merges into a 64-bucket table (and the folds they
    trigger), every version's lineage is one entry, its own commit; the
    log of versions is the history. The last manifest is at least 15%
    smaller than the same manifest carrying a window of the 50 newest
    commits' entries, as every manifest did before."""
    t = LakeTable(str(tmp_path / "tbl"))
    base = [(f"r{i}", f"p{i}", "v0") for i in range(640)]
    t.create(spark, spark.createDataFrame(base, SCHEMA), ["repo", "path"],
             n_buckets=64)
    for b in range(60):
        t.merge(spark, _upd(spark, [(f"r{i}", f"p{i}", f"v{b + 1}", "u", b + 1)
                                    for i in range(b * 7, b * 7 + 20)]),
                batch_id=b, source="stream")
    m = t.manifest()
    assert m.version > 60 + 1
    for v in range(1, m.version + 1):
        lineage = t.manifest(v).lineage
        assert len(lineage) == 1 and lineage[0]["commit"] == v
    window = [t.manifest(v).lineage[0]
              for v in range(m.version - 49, m.version + 1)]
    own = len(m.to_json())
    windowed = len(json.dumps({**m.__dict__, "lineage": window},
                              sort_keys=True))
    assert own <= 0.85 * windowed, (own, windowed)


def test_history_reads_own_entry_of_an_older_format_manifest(spark, tmp_path):
    """A manifest of the older format carries the lineage of earlier
    commits before its own entry: it still loads, and history() reports
    its own (last) entry, one row per version with every lineage column."""
    import dataclasses
    t = _table(spark, tmp_path)
    t.merge(spark, _upd(spark, [("r1", "p1", "v1b", "u", 10)]), batch_id=0,
            source="stream")
    m = t.manifest()
    old = dataclasses.replace(
        m, version=m.version + 1, committed_at_ms=0,
        lineage=[t.manifest(v).lineage[0] for v in (1, 2)]
        + [{"commit": 3, "op": "props"}])
    t._commit(old, parent=m)
    t.update_properties({"k": "v"})
    assert [len(t.manifest(v).lineage) for v in (1, 2, 3, 4)] == [1, 1, 3, 1]
    rows = [r.asDict() for r in t.history(spark).orderBy("version").collect()]
    assert [(r["version"], r["op"]) for r in rows] == \
        [(1, "create"), (2, "merge"), (3, "props"), (4, "props")]
    merge = rows[1]
    assert (merge["source"], merge["batch_id"], merge["rows_in"],
            merge["buckets_touched"], merge["files_rewritten"],
            merge["files_written"]) == ("stream", 0, 1, 1, 0, 1)
    assert rows[0]["n_files"] == t.manifest(1).lineage[0]["files_written"]
    assert (rows[0]["rows_in"], rows[0]["files_written"]) == \
        (len(BASE), rows[0]["n_files"])
    assert rows[2]["rows_in"] is None and rows[2]["n_files"] == len(m.files)
    # an older create/replace entry counted its files as "files": it still
    # loads, and its files_written reads null
    m = t.manifest()
    t._commit(dataclasses.replace(
        m, version=m.version + 1, committed_at_ms=0,
        lineage=[{"commit": m.version + 1, "op": "replace", "files": 3}]),
        parent=m)
    last = t.history(spark).orderBy("version").collect()[-1]
    assert (last["op"], last["files_written"]) == ("replace", None)


def test_compact_purges_tombstones(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.merge(spark, _upd(spark, [("r1", "p1", None, "d", 10)]), batch_id=0)
    assert t.read(spark, include_meta=True, include_deleted=True).filter("_deleted").count() == 1
    t.compact(spark, drop_tombstones_below_seq=100)
    assert t.read(spark, include_meta=True, include_deleted=True).filter("_deleted").count() == 0
    got = {(r.repo, r.path) for r in t.read(spark).collect()}
    assert got == {("r1", "p2"), ("r2", "p1")}


def test_vacuum_removes_orphans(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.merge(spark, _upd(spark, [("r1", "p1", "x", "u", 10)]), batch_id=0)
    t.compact(spark)          # folds the delta: rewrites every bucket
    # retention coupling: while version 1's manifest is retained, its DATA
    # files are not reclaimable (only _SUCCESS/.crc markers are) — a
    # concurrent reader of v1 must never crash
    t.vacuum(grace_s=0)
    assert t.read(spark, version=1).count() == 3   # time travel intact
    t.expire_versions(keep_last=1)
    removed = t.vacuum(grace_s=0)
    assert removed > 0  # the rewritten buckets' old files and the delta
    # table still reads fine
    assert t.read(spark).count() == 3


def test_commit_conflict(spark, tmp_path):
    t = _table(spark, tmp_path)
    m = t.manifest()
    dup = Manifest(version=m.version, table=m.table, key_cols=m.key_cols,
                   n_buckets=m.n_buckets, schema_json=m.schema_json, files=m.files)
    with pytest.raises(CommitConflict):
        t._commit(dup)


def test_merge_retries_on_commit_conflict(spark, tmp_path):
    """Multi-writer liveness: a racer steals the optimistic commit (props
    update between our manifest read and commit); merge must re-read the new
    manifest, recompute, and land on the next version — not fail."""
    from kafka_connect_dynamodb_spark.lake.commitio import PosixCommitIO

    t = _table(spark, tmp_path)
    racer = LakeTable(str(tmp_path / "tbl"))

    class RaceOnce(PosixCommitIO):
        def __init__(self):
            self.raced = False

        def put_if_absent(self, path, payload):
            if not self.raced:
                self.raced = True
                racer.update_properties({"racer": "yes"})  # steals the version
            return super().put_if_absent(path, payload)

    t.io = RaceOnce()
    res = t.merge(spark, _upd(spark, [("r1", "p1", "NEW", "u", 5)]),
                  batch_id=0, source="s")
    assert t.io.raced
    assert res["version"] == 3          # create=1, racer=2, merge lands on 3
    assert t.manifest().properties.get("racer") == "yes"
    got = {(r.repo, r.path): r.content for r in t.read(spark).collect()}
    assert got[("r1", "p1")] == "NEW" and got[("r2", "p1")] == "v3"


def test_merge_conflict_exhausts_retries(spark, tmp_path):
    """With a racer that wins EVERY attempt, merge raises CommitConflict
    after _COMMIT_RETRIES recomputes instead of looping forever."""
    from kafka_connect_dynamodb_spark.lake.commitio import PosixCommitIO

    t = _table(spark, tmp_path)
    racer = LakeTable(str(tmp_path / "tbl"))

    class AlwaysRace(PosixCommitIO):
        def __init__(self):
            self.attempts = 0

        def put_if_absent(self, path, payload):
            self.attempts += 1
            racer.update_properties({"n": str(self.attempts)})
            return super().put_if_absent(path, payload)

    t.io = AlwaysRace()
    with pytest.raises(CommitConflict):
        t.merge(spark, _upd(spark, [("r1", "p1", "X", "u", 9)]),
                batch_id=0, source="s")
    assert t.io.attempts == _COMMIT_RETRIES + 1   # initial try + retries


def _feed_table(spark, tmp_path):
    """A change_feed table at version 2 (create, then one merge whose delta
    gives expire_change_feed something to drop)."""
    t = LakeTable(str(tmp_path / "tbl"), change_feed=True)
    t.create(spark, spark.createDataFrame(BASE, SCHEMA), ["repo", "path"],
             n_buckets=4)
    t.merge(spark, _upd(spark, [("r2", "p1", "v3b", "u", 3)]),
            batch_id=0, source="setup")
    return t


def _content(spark, t):
    return {(r.repo, r.path): r.content for r in t.read(spark).collect()}


def _check_merge(spark, t, res):
    assert res["version"] == 4 and res["rows_in"] == 1
    assert _content(spark, t)[("r1", "p1")] == "NEW"
    feed = t.changes(spark, from_version=4).collect()
    assert [(r.repo, r.path, r.content, r._op) for r in feed] == [
        ("r1", "p1", "NEW", "u")]


def _check_replace(spark, t, m):
    assert m.version == 4 and m.properties == {}
    assert _content(spark, t) == {("r1", "p1"): "NEW", ("r9", "p9"): "n"}
    feed = t.changes(spark, from_version=4).collect()
    assert sorted((r.repo, r.path, r.content, r._op) for r in feed) == [
        ("r1", "p1", "NEW", "r"), ("r9", "p9", "n", "r")]


def _check_props(spark, t, m):
    assert m.version == 4
    assert m.properties == {"racer": "yes", "mine": "yes"}


def _check_compact(spark, t, m):
    assert m.version == 4 and m.lineage[-1]["op"] == "compact"
    buckets = [e["bucket"] for e in m.files]
    assert len(buckets) == len(set(buckets))          # one file per bucket
    assert _content(spark, t) == {("r1", "p1"): "v1", ("r1", "p2"): "v2",
                                  ("r2", "p1"): "v3b"}


def _check_expire(spark, t, dropped):
    assert dropped == 1 and t.current_version() == 4
    assert t.manifest().change_files == []


def _merge_fold(spark, t):
    """The merge that commits a table's _MAX_DELTAS-th delta, then folds
    (the setup table holds one delta, so the threshold is lowered to 2)."""
    from unittest import mock
    with mock.patch.object(table_mod, "_MAX_DELTAS", 2):
        return _WRITERS["merge"][0](spark, t)


def _check_merge_fold(spark, t, res):
    _check_merge(spark, t, res)
    m = t.manifest()
    assert m.version == 5 and m.deltas == []
    assert m.lineage[-1]["op"] == "compact"
    assert m.lineage[-1]["deltas_folded"] == 2


_WRITERS = {
    "merge": (lambda spark, t: t.merge(
        spark, _upd(spark, [("r1", "p1", "NEW", "u", 5)]),
        batch_id=0, source="s"), _check_merge),
    "merge_fold": (_merge_fold, _check_merge_fold),
    "replace": (lambda spark, t: t.replace(spark, spark.createDataFrame(
        [("r1", "p1", "NEW"), ("r9", "p9", "n")], SCHEMA)), _check_replace),
    "update_properties": (lambda spark, t: t.update_properties(
        {"mine": "yes"}), _check_props),
    "compact": (lambda spark, t: t.compact(spark), _check_compact),
    "expire_change_feed": (lambda spark, t: t.expire_change_feed(
        below_version=3), _check_expire),
}


@pytest.mark.parametrize("writer", list(_WRITERS))
def test_writer_lands_after_a_lost_commit_race(spark, tmp_path, writer):
    """Every LakeTable writer shares one commit loop: a racer that steals
    the version once makes the writer rebuild against the new manifest and
    land on the next version with the right content."""
    from kafka_connect_dynamodb_spark.lake.commitio import PosixCommitIO

    t = _feed_table(spark, tmp_path)
    racer = LakeTable(t.root)

    class RaceOnce(PosixCommitIO):
        raced = False

        def put_if_absent(self, path, payload):
            if not self.raced:
                self.raced = True
                racer.update_properties({"racer": "yes"})   # steals v3
            return super().put_if_absent(path, payload)

    run, check = _WRITERS[writer]
    t.io = RaceOnce()
    out = run(spark, t)
    assert t.io.raced
    check(spark, t, out)


@pytest.mark.parametrize("writer", list(_WRITERS))
def test_writer_conflict_exhausts_retries(spark, tmp_path, writer):
    """A racer that wins EVERY attempt: each writer gives up with
    CommitConflict after exactly _COMMIT_RETRIES + 1 attempts, and no lost
    attempt shows in the change feed."""
    from kafka_connect_dynamodb_spark.lake.commitio import PosixCommitIO

    t = _feed_table(spark, tmp_path)
    racer = LakeTable(t.root)

    class AlwaysRace(PosixCommitIO):
        attempts = 0

        def put_if_absent(self, path, payload):
            self.attempts += 1
            racer.update_properties({"n": str(self.attempts)})
            return super().put_if_absent(path, payload)

    run, _ = _WRITERS[writer]
    t.io = AlwaysRace()
    with pytest.raises(CommitConflict):
        run(spark, t)
    assert t.io.attempts == _COMMIT_RETRIES + 1
    assert t.changes(spark, from_version=3).count() == 0
    # nothing of the writer's landed: only the racer's commits followed v2
    assert t.current_version() == 2 + _COMMIT_RETRIES + 1
    assert {t.manifest(v).lineage[-1]["op"]
            for v in range(3, t.current_version() + 1)} == {"props"}


def test_fold_keeps_a_delta_committed_during_its_race(spark, tmp_path):
    """A racer commits a new delta between the fold's manifest read and its
    put: the fold loses the version, refolds against the new manifest, and
    the racer's delta survives in the folded base."""
    import json
    from unittest import mock

    from kafka_connect_dynamodb_spark.lake.commitio import PosixCommitIO

    t = _table(spark, tmp_path)
    racer = LakeTable(t.root)
    for i in range(_MAX_DELTAS - 1):
        t.merge(spark, _upd(spark, [("r1", "p1", f"v{i}", "u", 10 + i)]),
                batch_id=i)

    class RaceTheFold(PosixCommitIO):
        raced = False

        def put_if_absent(self, path, payload):
            if (not self.raced
                    and json.loads(payload)["lineage"][-1]["op"] == "compact"):
                self.raced = True
                with mock.patch.object(table_mod, "_MAX_DELTAS", 100):
                    racer.merge(spark, _upd(spark, [("r2", "p1", "RACER", "u", 99)]),
                                batch_id=0, source="racer")
            return super().put_if_absent(path, payload)

    t.io = RaceTheFold()
    res = t.merge(spark, _upd(spark, [("r1", "p1", "last", "u", 50)]),
                  batch_id=_MAX_DELTAS - 1)
    assert t.io.raced and res["version"] == 1 + _MAX_DELTAS
    m = t.manifest()
    assert m.version == res["version"] + 2 and m.deltas == []
    assert m.lineage[-1]["deltas_folded"] == _MAX_DELTAS + 1
    assert m.committed == {"default": _MAX_DELTAS - 1, "racer": 0}
    assert _content(spark, t) == {("r1", "p1"): "last", ("r1", "p2"): "v2",
                                  ("r2", "p1"): "RACER"}


def test_failed_fold_leaves_a_readable_table_and_the_next_merge_folds(
        spark, tmp_path, monkeypatch):
    """An exception inside the fold, after the _MAX_DELTAS-th delta
    committed, reaches the caller; the merge stays committed, every reader
    resolves the deltas, a redelivery of the batch is skipped, and the next
    merge folds."""
    t = _table(spark, tmp_path)

    stage = LakeTable._stage

    def crash(self, df, version, *, base=False):
        if base:                      # the fold's write, not the delta's
            raise RuntimeError("fold crashed")
        return stage(self, df, version, base=base)

    for i in range(_MAX_DELTAS):
        if i == _MAX_DELTAS - 1:
            monkeypatch.setattr(LakeTable, "_stage", crash)
        upd = _upd(spark, [("r1", "p1", f"v{i}", "u", 10 + i)])
        if i < _MAX_DELTAS - 1:
            t.merge(spark, upd, batch_id=i)
            continue
        with pytest.raises(RuntimeError, match="fold crashed"):
            t.merge(spark, upd, batch_id=i)
    monkeypatch.undo()
    m = t.manifest()
    assert len(m.deltas) == _MAX_DELTAS
    assert m.committed["default"] == _MAX_DELTAS - 1
    last = f"v{_MAX_DELTAS - 1}"
    assert _content(spark, t)[("r1", "p1")] == last
    assert [r.content for r in t.read_key(
        spark, {"repo": "r1", "path": "p1"}).collect()] == [last]
    assert t.count_live(spark) == 3
    assert t.merge(spark, upd, batch_id=_MAX_DELTAS - 1)["skipped"]

    t.merge(spark, _upd(spark, [("r2", "p1", "after", "u", 99)]),
            batch_id=_MAX_DELTAS)
    m = t.manifest()
    assert m.deltas == [] and m.lineage[-1]["deltas_folded"] == _MAX_DELTAS + 1
    assert _content(spark, t) == {("r1", "p1"): last, ("r1", "p2"): "v2",
                                  ("r2", "p1"): "after"}


def test_replace_evaluates_snapshot_once_on_change_feed_table(spark, tmp_path):
    """replace() on a change_feed table reads its 'r' feed delta back from
    the staged data files: the snapshot source is evaluated once, and the
    delta is exactly the new table."""
    t = LakeTable(str(tmp_path / "tbl"), change_feed=True)
    t.create(spark, spark.createDataFrame(BASE, SCHEMA), ["repo", "path"],
             n_buckets=4)
    evals = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def counted(s):
        evals.add(1)
        return s

    snap = spark.range(100).select(
        F.lit("r").alias("repo"), F.col("id").cast("string").alias("path"),
        counted(F.concat(F.lit("c"), F.col("id").cast("string")))
        .alias("content"))
    m = t.replace(spark, snap)
    assert evals.value == 100

    cols = ["repo", "path", "content", "_seq"]
    feed = t.changes(spark, from_version=m.version)
    assert {r._op for r in feed.select("_op").collect()} == {"r"}
    assert sorted(feed.select(*cols).collect()) == \
        sorted(t.read(spark, include_meta=True).select(*cols).collect())
    assert feed.count() == 100


def test_crashed_staging_does_not_block_redelivery(spark, tmp_path):
    """A writer that staged data files but died before the manifest commit
    must not block the redelivered batch: staging dirs are uniquely
    suffixed, the retry lands, and vacuum reclaims the orphan."""
    import os

    t = _table(spark, tmp_path)
    # simulate the crash leftover: a staged dir for the NEXT version with a
    # stray parquet-ish file in a bucket subdir
    orphan = os.path.join(t.root, "data", "c000000000002")
    os.makedirs(os.path.join(orphan, "_bucket=0"), exist_ok=True)
    with open(os.path.join(orphan, "_bucket=0", "part-junk.parquet"), "w") as f:
        f.write("junk")

    res = t.merge(spark, _upd(spark, [("r1", "p1", "NEW", "u", 5)]),
                  batch_id=0, source="s")
    assert res["version"] == 2 and not res.get("skipped")
    got = {(r.repo, r.path): r.content for r in t.read(spark).collect()}
    assert got[("r1", "p1")] == "NEW"
    removed = t.vacuum(grace_s=0)
    assert removed >= 1                      # the junk file is reclaimed
    assert not os.path.exists(os.path.join(orphan, "_bucket=0",
                                           "part-junk.parquet"))


def test_merge_type_widening_evolution(spark, tmp_path):
    """A batch arriving with a losslessly wider column type (int -> long,
    float -> double) widens the TABLE schema: the manifest records the
    wide type, old narrow files read through parquet type promotion, LWW
    winners stay exact, and a later narrow batch casts UP. Key-column type
    changes are rejected outright (bucket hashing is type-sensitive)."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    table = LakeTable(str(tmp_path / "wtbl"))
    base = spark.createDataFrame(
        [(k, 10 + k, float(k)) for k in range(40)],
        "pk string, size int, score float")
    table.create(spark, base, key_cols=["pk"], n_buckets=4)

    # wide batch: size as LONG (beyond int range), score as DOUBLE
    upd = spark.createDataFrame(
        [("3", 5_000_000_000, 0.5, "u", 10),
         ("7", None, None, "d", 10)],
        "pk string, size long, score double, _op string, _seq long")
    table.merge(spark, upd, batch_id=1, source="w")

    m = table.manifest()
    got_types = {f.name: f.dataType for f in m.schema().fields}
    assert got_types["size"] == T.LongType()
    assert got_types["score"] == T.DoubleType()

    rows = {r.pk: (r.size, r.score) for r in table.read(spark).collect()}
    assert rows["3"] == (5_000_000_000, 0.5)         # winner, wide values
    assert rows["5"] == (15, 5.0)                    # old narrow file, promoted
    assert "7" not in rows                           # tombstone applied
    assert len(rows) == 39

    # a later NARROW batch casts up into the widened schema
    upd2 = spark.createDataFrame([("5", 99, "u", 20)],
                                 "pk string, size int, _op string, _seq long")
    table.merge(spark, upd2, batch_id=2, source="w")
    rows2 = {r.pk: (r.size, r.score) for r in table.read(spark).collect()}
    assert rows2["5"] == (99, None)                  # missing col -> null wins
    assert rows2["3"] == (5_000_000_000, 0.5)

    # stats pruning still works across the widened column's old+new files
    # (a non-_seq predicate prunes base files only: fold the deltas first)
    table.compact(spark)
    may = table.pruned_entries([("size", ">", 4_000_000_000)])
    assert 0 < len(may) < len(table.manifest().files)

    # key type change is an explicit error, not silent bucket scatter
    bad = spark.createDataFrame([(3, 1, "u", 30)],
                                "pk int, size int, _op string, _seq long")
    with pytest.raises(Exception, match="key column"):
        table.merge(spark, bad, batch_id=3, source="w")


def test_merge_rejects_lossy_type_mismatch(spark, tmp_path):
    """ADVICE r6: a batch column whose type is neither the table's type,
    a lossless widening of it (schema evolution), nor a lossless
    narrowing (cast up) must FAIL the merge loudly — a silent cast would
    truncate (double -> long) or null out (string -> long)."""
    import pytest

    table = LakeTable(str(tmp_path / "ltbl"))
    base = spark.createDataFrame([(str(k), 10 + k) for k in range(20)],
                                 "pk string, size long")
    table.create(spark, base, key_cols=["pk"], n_buckets=4)

    lossy = spark.createDataFrame([("3", 1.5, "u", 10)],
                                  "pk string, size double, _op string, _seq long")
    with pytest.raises(ValueError, match="lossless"):
        table.merge(spark, lossy, batch_id=1, source="w")

    stringy = spark.createDataFrame([("3", "oops", "u", 11)],
                                    "pk string, size string, _op string, _seq long")
    with pytest.raises(ValueError, match="lossless"):
        table.merge(spark, stringy, batch_id=2, source="w")

    # table untouched by the rejected batches (only create's commit exists)
    assert table.manifest().version == 1
    assert {r.pk: r.size for r in table.read(spark).collect()}["3"] == 13


# ------------------------------------------------------------------ diff

def test_diff_insert_update_delete(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.merge(spark, _upd(spark, [("r1", "p1", "v1b", "u", 10),   # update
                                ("r2", "p1", None, "d", 11),    # delete
                                ("r3", "p9", "new", "c", 12),   # insert
                                ("r1", "p2", "v2", "u", 13)]),  # same content
            batch_id=0)
    out = {(r.repo, r.path): r for r in
           t.diff(spark, from_version=1, to_version=2).collect()}
    assert set(out) == {("r1", "p1"), ("r2", "p1"), ("r3", "p9")}
    u = out[("r1", "p1")]
    assert u._change == "update" and u.old.content == "v1" \
        and u.new.content == "v1b" and u._seq_old == 0 and u._seq_new == 10
    d = out[("r2", "p1")]
    assert d._change == "delete" and d.old.content == "v3" and d.new is None
    i = out[("r3", "p9")]
    assert i._change == "insert" and i.old is None and i.new.content == "new"
    # the content-identical LWW winner (r1,p2) is NOT a change
    # self-diff is empty
    assert t.diff(spark, from_version=2, to_version=2).count() == 0


def test_diff_content_true_across_replace(spark, tmp_path):
    """replace() resets seqs; a seq-based diff would call every surviving
    row an update — the content comparison must not."""
    t = _table(spark, tmp_path)
    new_state = [("r1", "p1", "v1"),          # identical content, seq resets
                 ("r2", "p1", "changed"),     # real update
                 ("r9", "p9", "fresh")]       # insert; (r1,p2) deleted
    t.replace(spark, spark.createDataFrame(new_state, SCHEMA),
              key_cols=["repo", "path"], n_buckets=4)
    out = {(r.repo, r.path): r._change for r in
           t.diff(spark, from_version=1, to_version=2).collect()}
    assert out == {("r2", "p1"): "update", ("r9", "p9"): "insert",
                   ("r1", "p2"): "delete"}


def test_diff_reads_only_changed_buckets(spark, tmp_path, monkeypatch):
    """A one-key commit must diff by reading ONLY that key's bucket on
    both sides (cost ∝ churn) — pinned by capturing _read_files entries."""
    t = _table(spark, tmp_path, n_buckets=4)
    t.merge(spark, _upd(spark, [("r1", "p1", "v1b", "u", 10)]), batch_id=0)
    m = t.manifest(2)
    touched = t._bucket_of(spark, m, {"repo": "r1", "path": "p1"})
    seen = []
    orig = LakeTable._read_files

    def spy(self, spark_, schema, entries):
        # a base file has one bucket, a delta lists the buckets it touches
        seen.append([b for e in entries for b in e.get("buckets", [e.get("bucket")])])
        return orig(self, spark_, schema, entries)

    monkeypatch.setattr(LakeTable, "_read_files", spy)
    rows = t.diff(spark, from_version=1, to_version=2).collect()
    assert [r._change for r in rows] == ["update"]
    assert seen and all(set(b) <= {touched} for b in seen)


def test_diff_matches_change_feed_net_effect(spark, tmp_path):
    """diff(v_a, v_b) == the NET effect of replaying the change feed's
    applied winners over the v_a state — the two change surfaces agree."""
    t = LakeTable(str(tmp_path / "tbl"), change_feed=True)
    t.create(spark, spark.createDataFrame(BASE, SCHEMA), ["repo", "path"],
             n_buckets=4)
    t.merge(spark, _upd(spark, [("r1", "p1", "a", "u", 10),
                                ("r3", "p3", "b", "c", 11)]), batch_id=0)
    t.merge(spark, _upd(spark, [("r1", "p1", "c", "u", 20),
                                ("r3", "p3", None, "d", 21),
                                ("r1", "p2", None, "d", 22)]), batch_id=1)
    diff = {(r.repo, r.path): (r._change,
                               r.new.content if r.new else None)
            for r in t.diff(spark, from_version=1, to_version=3).collect()}
    # naive replay of feed winners (LWW by _seq) over v1 state
    state = {(r, p): c for r, p, c in BASE}
    winners = {}
    for row in t.changes(spark, from_version=2).collect():
        k = (row.repo, row.path)
        if k not in winners or int(row._seq) > int(winners[k]._seq):
            winners[k] = row
    expect = {}
    for k, w in winners.items():
        if w._op == "d":
            if k in state:
                expect[k] = ("delete", None)
        elif k in state:
            if state[k] != w.content:
                expect[k] = ("update", w.content)
        else:
            expect[k] = ("insert", w.content)
    assert diff == expect


# ------------------------------------------------------- metadata counts

def test_count_live_metadata_only_when_clean(spark, tmp_path, monkeypatch):
    """All-live files resolve COUNT from manifest stats with zero scans."""
    t = _table(spark, tmp_path)
    calls = []
    monkeypatch.setattr(LakeTable, "_read_files",
                        lambda *a, **k: calls.append(1) or (_ for _ in ()).throw(
                            AssertionError("scanned a clean table")))
    assert t.count_live(spark) == 3
    assert not calls


def test_count_live_scans_only_mixed_files(spark, tmp_path, monkeypatch):
    """After a delete, only the delta and the base files of the buckets it
    touched are scanned; the count stays exact. After a fold, only the
    files that mix live rows and tombstones are."""
    t = LakeTable(str(tmp_path / "tbl"))
    t.create(spark, spark.createDataFrame(
        [(f"r{i % 3}", f"p{i}", f"v{i}") for i in range(40)], SCHEMA),
        ["repo", "path"], n_buckets=8)
    t.merge(spark, _upd(spark, [("r2", "p2", None, "d", 11),
                                ("r3", "p9", "new", "c", 12)]), batch_id=0)
    for fold in (False, True):
        if fold:
            t.compact(spark)
        _check_count_live_scans(spark, t, monkeypatch)


def _check_count_live_scans(spark, t, monkeypatch):
    expect = t.read(spark).count()
    seen = []
    orig = LakeTable._read_files

    def spy(self, spark_, schema, entries):
        seen.extend(entries)
        return orig(self, spark_, schema, entries)

    monkeypatch.setattr(LakeTable, "_read_files", spy)
    assert t.count_live(spark) == expect == 40
    monkeypatch.undo()
    m = t.manifest()
    touched = {b for d in m.deltas for b in d["buckets"]}
    base = [e for e in seen if "bucket" in e]
    # every delta is scanned, and strictly fewer base files than the manifest
    assert len(seen) - len(base) == len(m.deltas)
    assert len(base) < len(m.files)
    # and every scanned base file is in a delta's bucket or really is
    # stats-ambiguous on _deleted
    for e in base:
        assert (e["bucket"] in touched
                or (e.get("stats") or {}).get("_deleted") != [False, False])


def test_count_live_after_tombstone_compaction(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.merge(spark, _upd(spark, [("r1", "p1", None, "d", 11)]), batch_id=0)
    assert t.count_live(spark) == 2
    t.compact(spark, drop_tombstones_below_seq=100)
    assert t.count_live(spark) == 2
    assert t.count_live(spark, version=1) == 3   # time travel still exact


def test_read_key_stats_pruned_after_zorder(spark, tmp_path, monkeypatch):
    """On a key-z-ordered single-bucket table, a point lookup must open
    fewer files than the bucket holds (tight per-file key ranges)."""
    rows = [(i, f"v{i}") for i in range(256)]
    t = LakeTable(str(tmp_path / "tbl"))
    t.create(spark, spark.createDataFrame(rows, "k long, content string"),
             ["k"], n_buckets=1)
    t.compact(spark, zorder_cols=["k"], zorder_files_per_bucket=8)
    n_files = len(t.manifest().files)
    assert n_files > 1
    seen = []
    orig = LakeTable._read_files

    def spy(self, spark_, schema, entries):
        seen.append(len(entries))
        return orig(self, spark_, schema, entries)

    monkeypatch.setattr(LakeTable, "_read_files", spy)
    got = t.read_key(spark, {"k": 17}).collect()
    assert [r.content for r in got] == ["v17"]
    assert seen and seen[-1] < n_files


def test_zorder_string_column_prunes_and_scans_exact(spark, tmp_path):
    """Z-order on a STRING column (URL-shaped): the order-preserving
    8-byte-prefix key must give tight per-file ranges so both the string
    and the numeric z-column prune, with exact scan results."""
    rows = [(f"dom{i:03d}.com/page{j}", i * 31 + j, f"c{i}-{j}")
            for i in range(40) for j in range(10)]
    t = LakeTable(str(tmp_path / "t"))
    t.create(spark, spark.createDataFrame(
        rows, "url string, rank long, content string"),
        ["url"], n_buckets=1)
    t.compact(spark, zorder_cols=["url", "rank"], zorder_files_per_bucket=8)
    n_files = len(t.manifest().files)
    assert n_files > 1
    preds = [("url", ">=", "dom005.com"), ("url", "<=", "dom009.com/z")]
    assert len(t.pruned_entries(preds)) < n_files
    got = sorted(r.url for r in t.scan(spark, preds).collect())
    exp = sorted(u for u, _, _ in rows if "dom005.com" <= u <= "dom009.com/z")
    assert got == exp
    assert len(t.pruned_entries([("rank", ">=", 1000),
                                 ("rank", "<=", 1100)])) < n_files


def test_zorder_string_key_order_preserving(spark):
    """_str_key is monotone in the first-8-byte prefix order and collapses
    prefix ties (the truncation contract)."""
    from kafka_connect_dynamodb_spark.lake.zorder import _str_key
    vals = ["", "a", "ab", "abc", "abcdefgh", "abcdefghZZZ", "b", "zz",
            "domain.com/x", "domain.com/y", "example.org", "aaa", "a`"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    ks = {r.s: r.k for r in
          df.select("s", _str_key(F.col("s")).alias("k")).collect()}
    for a in vals:
        for b in vals:
            pa, pb = a.encode()[:8], b.encode()[:8]
            if pa < pb:
                assert ks[a] < ks[b], (a, b)
            elif pa == pb:
                assert ks[a] == ks[b], (a, b)
