"""Lake read planning from the manifest: the driver-side bucket hash matches
Spark's layout function, manifest reads launch no listing job, and scan
predicates compare as the column's type."""

import hashlib
import os
import random
import uuid
from collections import Counter
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_connect_dynamodb_spark.functions.hashing import bucket_of, key_bucket
from kafka_connect_dynamodb_spark.lake.table import LakeTable
from kafka_connect_dynamodb_spark.operators.apply import apply_batch
from kafka_connect_dynamodb_spark.sources.generator import (
    SEQ_BASE, change_events, source_table)
from tests.oracle import final_hashes, replay

N_BUCKETS = (1, 8, 64, 4096)


def _assert_spark_parity(spark, schema: T.StructType, rows):
    keys = schema.fieldNames()
    types = [f.dataType for f in schema.fields]
    got = spark.createDataFrame(rows, schema).select(
        *keys, *[bucket_of(keys, n).alias(f"b{n}") for n in N_BUCKETS]
    ).collect()
    assert len(got) == len(rows)
    for r in got:
        vals = [r[k] for k in keys]
        for n in N_BUCKETS:
            assert key_bucket(vals, types, n) == r[f"b{n}"], (vals, n)


def test_key_bucket_matches_spark_strings(spark):
    rng = random.Random(7)
    alphabet = "abcXYZ09/._-éü日本語🙂ß"
    rows = [("", "x"), ("é", "日本語"), ("🙂" * 9, "p" * 32),
            ("a" * 31, "b" * 33), ("r" * 64, "q" * 71), ("x", None),
            (None, "only-path"), (None, None)]
    rows += [("".join(rng.choice(alphabet) for _ in range(rng.randint(0, 45))),
              "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 45))))
             for _ in range(200)]
    _assert_spark_parity(spark, T.StructType(
        [T.StructField("repo", T.StringType()),
         T.StructField("path", T.StringType())]), rows)


@pytest.mark.parametrize("dt,lo,hi", [
    (T.ByteType(), -(1 << 7), (1 << 7) - 1),
    (T.ShortType(), -(1 << 15), (1 << 15) - 1),
    (T.IntegerType(), -(1 << 31), (1 << 31) - 1),
    (T.LongType(), -(1 << 63), (1 << 63) - 1),
])
def test_key_bucket_matches_spark_integral(spark, dt, lo, hi):
    rng = random.Random(11)
    vals = [lo, hi, 0, -1, 1, None] + [rng.randint(lo, hi) for _ in range(100)]
    _assert_spark_parity(spark, T.StructType([T.StructField("k", dt)]),
                         [(v,) for v in vals])


def test_key_bucket_matches_spark_composite_long_int(spark):
    rng = random.Random(3)
    rows = [(rng.randint(-(1 << 63), (1 << 63) - 1),
             rng.randint(-(1 << 31), (1 << 31) - 1)) for _ in range(100)]
    rows += [(None, 5), (7, None), (0, 0)]
    _assert_spark_parity(spark, T.StructType(
        [T.StructField("a", T.LongType()),
         T.StructField("b", T.IntegerType())]), rows)


def test_key_bucket_declines_uncovered_pairs():
    assert key_bucket([1.5], [T.DoubleType()], 8) is None
    assert key_bucket([5], [T.StringType()], 8) is None
    assert key_bucket(["5"], [T.LongType()], 8) is None
    assert key_bucket([True], [T.IntegerType()], 8) is None
    assert key_bucket([1 << 31], [T.IntegerType()], 8) is None


def test_bucket_of_falls_back_to_spark_for_uncovered_key(spark, tmp_path):
    """A key type the driver hash does not cover still finds its row: the
    bucket comes from the Spark fallback, same layout as the write."""
    t = LakeTable(str(tmp_path / "tbl"))
    t.create(spark, spark.createDataFrame(
        [(float(i), f"v{i}") for i in range(20)], "k double, v string"),
        ["k"], n_buckets=8)
    assert [r.v for r in t.read_key(spark, {"k": 13.0}).collect()] == ["v13"]


def test_scan_casts_wide_int_watermark(spark, tmp_path):
    """A 25-digit ``_seq`` watermark (the generator's own SEQ_BASE width)
    does not fit a Java long; scan compares it as the decimal column."""
    t = LakeTable(str(tmp_path / "tbl"))
    t.create(spark, spark.createDataFrame(
        [("r", f"p{i}", "v0") for i in range(4)],
        "repo string, path string, content string"), ["repo", "path"],
        n_buckets=4)
    base = int(SEQ_BASE)
    t.merge(spark, spark.createDataFrame(
        [("r", f"p{i}", f"v{i}", "u", Decimal(base + i)) for i in range(4)],
        "repo string, path string, content string, _op string,"
        " _seq decimal(38,0)"), batch_id=0)
    w = base + 1
    assert w >= 10 ** 24
    got = {r.path for r in t.scan(spark, [("_seq", ">", w)]).collect()}
    assert got == {"p2", "p3"}
    got = {r.path for r in t.scan(spark, [("_seq", "<=", w)]).collect()}
    assert got == {"p0", "p1"}


def _counts(spark, fn) -> tuple[int, int, int]:
    """Spark jobs, stages and tasks ``fn`` launches, counted through a job
    group (every stage a job lists, skipped ones too)."""
    sc = spark.sparkContext
    group = f"plan-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = [s for j in jobs for s in st.getJobInfo(j).stageIds]
    tasks = sum(info.numTasks for info in map(st.getStageInfo, stages)
                if info is not None)
    return len(jobs), len(stages), tasks


def _jobs(spark, fn):
    """Spark jobs ``fn`` launches."""
    return _counts(spark, fn)[0]


def test_manifest_reads_launch_no_listing_job(spark, tmp_path):
    t = LakeTable(str(tmp_path / "tbl"))
    t.create(spark, spark.createDataFrame(
        [(f"r{i % 7}", f"p{i}", f"v{i}") for i in range(2000)],
        "repo string, path string, content string"), ["repo", "path"],
        n_buckets=64)
    t.merge(spark, spark.createDataFrame(
        [("r0", "p0", "new", "u", 10)],
        "repo string, path string, content string, _op string, _seq long"),
        batch_id=0)
    m = t.manifest()
    assert len(m.files) == 64
    assert _jobs(spark, lambda: t._read_files(spark, m.schema(), m.files)) == 0
    rows = []
    assert _jobs(spark, lambda: rows.extend(
        t.read_key(spark, {"repo": "r0", "path": "p0"}).collect())) == 1
    assert [r.content for r in rows] == ["new"]
    rows.clear()
    assert _jobs(spark, lambda: rows.extend(
        t.scan(spark, [("_seq", ">", 5)]).collect())) == 1
    assert [r.content for r in rows] == ["new"]


def _upd(spark, rows):
    return spark.createDataFrame(
        rows, "repo string, path string, content string, _op string, _seq long")


def test_merge_writes_one_delta_in_two_jobs(spark, tmp_path):
    """On a 64-bucket table a merge that does not fold writes its winners
    once, as one delta file, in at most 2 jobs — no target read, join or
    bucket-count job — and rewrites no base file."""
    t = LakeTable(str(tmp_path / "tbl"))
    t.create(spark, spark.createDataFrame(
        [(f"r{i % 7}", f"p{i}", f"v{i}") for i in range(2000)],
        "repo string, path string, content string"), ["repo", "path"],
        n_buckets=64)
    base = t.manifest().files
    upd = _upd(spark, [(f"r{i % 7}", f"p{i}", f"new{i}", "u", 10 + i)
                       for i in range(0, 2000, 10)])
    res = {}
    assert _jobs(spark, lambda: res.update(t.merge(spark, upd, batch_id=0))) <= 2
    m = t.manifest()
    assert m.files == base
    assert [d["version"] for d in m.deltas] == [2]
    assert m.lineage[-1]["files_written"] == 1
    assert m.lineage[-1]["files_rewritten"] == 0
    assert res["rows_in"] == 200
    assert res["buckets_touched"] == len(m.deltas[0]["buckets"]) > 32
    assert t.read_key(spark, {"repo": "r0", "path": "p70"}).first().content == "new70"


def test_reads_with_deltas_stay_one_job(spark, tmp_path):
    """read_key on a table with deltas, a scan with an equality predicate
    on every key column, resolves the key with orderBy().limit(1) in one
    job; a _seq watermark scan keeping a single delta reads it as it is, in
    one job."""
    t = LakeTable(str(tmp_path / "tbl"))
    t.create(spark, spark.createDataFrame(
        [(f"r{i % 7}", f"p{i}", f"v{i}") for i in range(2000)],
        "repo string, path string, content string"), ["repo", "path"],
        n_buckets=64)
    t.merge(spark, _upd(spark, [("r0", "p0", "a", "u", 10),
                                ("r1", "p1", "b", "u", 11)]), batch_id=0)
    t.merge(spark, _upd(spark, [("r0", "p0", "c", "u", 20)]), batch_id=1)
    assert len(t.manifest().deltas) == 2
    rows = []
    jobs, stages, _ = _counts(spark, lambda: rows.extend(
        t.read_key(spark, {"repo": "r0", "path": "p0"}).collect()))
    assert (jobs, stages) == (1, 1)
    assert [r.content for r in rows] == ["c"]
    # the base file of the key's bucket and both deltas
    assert len(t.read_key(spark, {"repo": "r0", "path": "p0"})
               .inputFiles()) == 3
    rows.clear()
    assert len(t.pruned_entries([("_seq", ">", 15)])) == 1
    assert _jobs(spark, lambda: rows.extend(
        t.scan(spark, [("_seq", ">", 15)]).collect())) == 1
    assert [r.content for r in rows] == ["c"]


@pytest.fixture(scope="module")
def tail_batch(spark, tmp_path_factory):
    """A ~1,000-event generator batch over 2,000 keys: the snapshot, its
    events, and the same events as one log file and as four."""
    root = tmp_path_factory.mktemp("batch")
    base = source_table(spark, 2000)
    ev = change_events(spark, 2000, 1000, evolve_frac=0.5)
    ev.coalesce(1).write.parquet(str(root / "one"))
    ev.repartition(4).write.parquet(str(root / "four"))
    state = replay([r.asDict() for r in base.collect()],
                   [r.asDict() for r in ev.collect()])
    return base, root, final_hashes(state)


def _apply_counts(spark, tmp_path, tail_batch, log, change_feed=False):
    base, root, expected = tail_batch
    t = LakeTable(str(tmp_path / "tbl"), change_feed=change_feed)
    t.create(spark, base, ["repo", "path"], n_buckets=64)
    df = spark.read.parquet(str(root / log))
    counts = _counts(spark, lambda: apply_batch(spark, t, df, batch_id=0))
    got = {(r["repo"], r["path"]):
           hashlib.sha256((r["content"] or "").encode()).hexdigest()
           for r in t.read(spark).collect()}
    assert got == expected
    return t, df, counts


@pytest.mark.parametrize("change_feed", [False, True])
def test_one_file_batch_applies_without_a_shuffle(spark, tmp_path, tail_batch,
                                                  change_feed):
    """A batch read as one partition runs the LWW reduce with schema
    discovery (one local checkpoint) and the delta write as single-task
    jobs: no exchange anywhere. On a change_feed table the delta is the
    feed, so the merge costs the same jobs, and the feed of its commit is
    exactly the delta's rows."""
    t, df, (jobs, stages, tasks) = _apply_counts(
        spark, tmp_path, tail_batch, "one", change_feed)
    assert df.rdd.getNumPartitions() == 1
    assert jobs <= 2
    assert jobs == stages == tasks
    m = t.manifest()
    assert len(m.deltas) == 1
    assert m.lineage[-1]["files_written"] == 1
    if change_feed:
        v = m.deltas[0]["version"]
        cols = [f.name for f in m.schema().fields if f.name != "_deleted"]
        delta = spark.read.parquet(
            *[os.path.join(t.root, d["path"]) for d in m.deltas])
        assert Counter(t.changes(spark, from_version=v)
                       .select(*cols, "_op", "_commit").collect()) == \
            Counter(delta.select(*cols, "_op", F.lit(v).alias("_commit"))
                    .collect())


def test_four_partition_batch_keeps_the_shuffle(spark, tmp_path, tail_batch):
    """The same events in four partitions keep the shuffled plan and reach
    the same state."""
    _, df, (jobs, stages, tasks) = _apply_counts(
        spark, tmp_path, tail_batch, "four")
    assert df.rdd.getNumPartitions() == 4
    assert stages > jobs
