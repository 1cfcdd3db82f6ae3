"""Property-based parity: random event logs (random ops, shuffled delivery
order, duplicate deliveries, deletes, re-inserts) applied through the engine
equal the naive single-threaded oracle replay. Hypothesis drives the shapes;
the engine sees each log as one micro-batch, or split into enough
micro-batches that merge-on-read deltas fold more than once. Fixed cases pin
the resolution rule at its edges: equal-seq ties, late events after a fold
and tombstone purges while deltas exist."""

from __future__ import annotations

import hashlib
import json
import random

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from kafka_connect_dynamodb_spark.lake.table import _MAX_DELTAS, LakeTable
from kafka_connect_dynamodb_spark.operators.apply import apply_batch
from kafka_connect_dynamodb_spark.sources.generator import events_schema

from tests.oracle import final_hashes, replay

KEYS = [("repo-a", f"src/f{i}.py") for i in range(4)]


def _env(d):
    return json.dumps({k: {"s": v} for k, v in d.items()})


def _mk_events(seed: int, n_events: int, dup_frac: float):
    rng = random.Random(seed)
    rows = []
    for seq in range(n_events):
        repo, path = rng.choice(KEYS)
        op = rng.choice(["INSERT", "MODIFY", "MODIFY", "REMOVE"])
        keys = _env({"repo": repo, "path": path})
        img = None if op == "REMOVE" else _env({
            "repo": repo, "path": path,
            "commit": f"c{seq}", "lang": "py", "content": f"content-{seq}"})
        rows.append({"shard_id": f"shard-{hash((repo, path)) % 3}",
                     "seq_no": str(10**20 + seq), "event_name": op,
                     "ts": None, "keys": keys, "new_image": img})
    # at-least-once: re-deliver a random subset, then shuffle delivery order
    dups = [dict(r) for r in rows if rng.random() < dup_frac]
    rows += dups
    rng.shuffle(rows)
    return rows


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(seed=st.integers(0, 10**6), n_events=st.integers(1, 40),
       dup_frac=st.sampled_from([0.0, 0.2, 0.5]))
def test_random_log_matches_oracle(spark, tmp_path_factory, seed, n_events, dup_frac):
    rows = _mk_events(seed, n_events, dup_frac)
    from decimal import Decimal
    from datetime import datetime, timezone
    ts = datetime(2024, 6, 1, tzinfo=timezone.utc)
    spark_rows = [dict(r, seq_no=Decimal(r["seq_no"]), ts=ts) for r in rows]
    df = spark.createDataFrame(spark_rows, events_schema())

    base_rows = [{"repo": r, "path": p, "commit": "c0", "lang": "py",
                  "content": f"base-{p}"} for r, p in KEYS[:2]]
    base = spark.createDataFrame(base_rows)

    work = tmp_path_factory.mktemp("prop")
    table = LakeTable(str(work / "tbl"))
    table.create(spark, base, ["repo", "path"], n_buckets=2)
    apply_batch(spark, table, df, batch_id=0)

    got = {(r["repo"], r["path"]):
           hashlib.sha256((r["content"] or "").encode()).hexdigest()
           for r in table.read(spark).collect()}
    oracle_rows = [dict(r, seq_no=r["seq_no"]) for r in rows]
    want = final_hashes(replay(base_rows, oracle_rows))
    assert got == want


def _sha(content):
    return hashlib.sha256((content or "").encode()).hexdigest()


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(seed=st.integers(0, 10**6), n_events=st.integers(1, 40),
       dup_frac=st.sampled_from([0.0, 0.2, 0.5]),
       n_batches=st.integers(1, 2 * _MAX_DELTAS + 1))
def test_random_log_in_micro_batches_matches_oracle(
        spark, tmp_path_factory, seed, n_events, dup_frac, n_batches):
    """The delivery order split into ``n_batches`` micro-batches: the table
    ends with base files and deltas (folded after every ``_MAX_DELTAS``),
    and every reader resolves each key as the oracle replay does."""
    from datetime import datetime, timezone
    from decimal import Decimal

    rows = _mk_events(seed, n_events, dup_frac)
    ts = datetime(2024, 6, 1, tzinfo=timezone.utc)
    base_rows = [{"repo": r, "path": p, "commit": "c0", "lang": "py",
                  "content": f"base-{p}"} for r, p in KEYS[:2]]
    table = LakeTable(str(tmp_path_factory.mktemp("prop") / "tbl"))
    table.create(spark, spark.createDataFrame(base_rows), ["repo", "path"],
                 n_buckets=2)
    n = len(rows)
    for b in range(n_batches):
        part = rows[b * n // n_batches:(b + 1) * n // n_batches]
        df = spark.createDataFrame(
            [dict(r, seq_no=Decimal(r["seq_no"]), ts=ts) for r in part],
            events_schema())
        apply_batch(spark, table, df, batch_id=b)
    assert len({d["version"] for d in table.manifest().deltas}) < _MAX_DELTAS

    state = replay(base_rows, rows)
    want = final_hashes(state)
    got = {(r["repo"], r["path"]): _sha(r["content"])
           for r in table.read(spark).collect()}
    assert got == want
    for repo, path in KEYS:
        hit = table.read_key(spark, {"repo": repo, "path": path}).collect()
        assert [_sha(r["content"]) for r in hit] == (
            [want[(repo, path)]] if (repo, path) in want else [])
    assert table.count_live(spark) == len(want)
    # a mid-log watermark: the live keys whose newest event is above it
    w = 10**20 + n_events // 2
    newest = {}
    for r in rows:
        k = json.loads(r["keys"])
        k = (k["repo"]["s"], k["path"]["s"])
        newest[k] = max(newest.get(k, 0), int(r["seq_no"]))
    got = {(r["repo"], r["path"]): _sha(r["content"])
           for r in table.scan(spark, [("_seq", ">", w)]).collect()}
    assert got == {k: h for k, h in want.items() if newest.get(k, 0) > w}


SCHEMA = "repo string, path string, content string"
UPD = "repo string, path string, content string, _op string, _seq long"


def _views(spark, t, key=("r1", "p1")):
    """What every reader says about ``key``: read, read_key, count_live and
    a _seq > 0 scan."""
    kv = {"repo": key[0], "path": key[1]}
    read = {(r.repo, r.path): r.content for r in t.read(spark).collect()}
    return (read.get(key),
            [r.content for r in t.read_key(spark, kv).collect()],
            t.count_live(spark),
            {(r.repo, r.path): r.content
             for r in t.scan(spark, [("_seq", ">", 0)]).collect()}.get(key))


def _fixed_table(spark, tmp_path):
    t = LakeTable(str(tmp_path / "tbl"))
    t.create(spark, spark.createDataFrame(
        [("r1", "p1", "base"), ("r2", "p2", "other")], SCHEMA),
        ["repo", "path"], n_buckets=4)
    return t


def test_equal_seq_tie_keeps_the_earlier_commit(spark, tmp_path):
    """Two batches carry the same _seq for one key: the earlier commit
    wins, before and after the fold; a delta tying a base row loses."""
    t = _fixed_table(spark, tmp_path)
    t.merge(spark, spark.createDataFrame([("r2", "p2", "tie", "u", 0)], UPD),
            batch_id=0)
    t.merge(spark, spark.createDataFrame([("r1", "p1", "first", "u", 10)], UPD),
            batch_id=1)
    t.merge(spark, spark.createDataFrame([("r1", "p1", "second", "u", 10)], UPD),
            batch_id=2)
    assert len(t.manifest().deltas) == 3
    assert _views(spark, t) == ("first", ["first"], 2, "first")
    assert _views(spark, t, ("r2", "p2"))[:2] == ("other", ["other"])
    t.compact(spark)
    assert t.manifest().deltas == []
    assert _views(spark, t) == ("first", ["first"], 2, "first")
    assert _views(spark, t, ("r2", "p2"))[:2] == ("other", ["other"])


def test_late_lower_seq_event_after_a_fold_loses(spark, tmp_path):
    """A fold moves the newest version into the base; a later batch with a
    lower _seq for the key (an update, or an update after a delete) is
    written as a delta and loses to it at read time."""
    t = _fixed_table(spark, tmp_path)
    t.merge(spark, spark.createDataFrame(
        [("r1", "p1", "new", "u", 100), ("r2", "p2", None, "d", 100)], UPD),
        batch_id=0)
    t.compact(spark)
    t.merge(spark, spark.createDataFrame(
        [("r1", "p1", "late", "u", 50), ("r2", "p2", "zombie", "u", 50)], UPD),
        batch_id=1)
    assert len(t.manifest().deltas) == 1
    assert _views(spark, t) == ("new", ["new"], 1, "new")
    assert _views(spark, t, ("r2", "p2"))[:2] == (None, [])


def test_tombstone_purge_while_deltas_exist_never_resurrects(spark, tmp_path):
    """compact(drop_tombstones_below_seq=...) resolves before it purges: a
    tombstone in one delta and a late lower-seq update in a newer delta
    leave the key dead, and the purge then drops it."""
    t = _fixed_table(spark, tmp_path)
    t.merge(spark, spark.createDataFrame([("r1", "p1", None, "d", 100)], UPD),
            batch_id=0)
    t.merge(spark, spark.createDataFrame([("r1", "p1", "late", "u", 50)], UPD),
            batch_id=1)
    assert _views(spark, t) == (None, [], 1, None)
    t.compact(spark, drop_tombstones_below_seq=200)
    m = t.manifest()
    assert m.deltas == []
    assert _views(spark, t) == (None, [], 1, None)
    rows = t.read(spark, include_deleted=True, include_meta=True).collect()
    assert [(r.repo, r.path, r._deleted) for r in rows] == [("r2", "p2", False)]
