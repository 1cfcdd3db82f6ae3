"""LWW dedup + shard register tests (A2, DynamoDBSourceTask.java:413-430)."""

from decimal import Decimal

from kafka_connect_dynamodb_spark.operators.lww import (
    latest_per_key, latest_per_key_window, shard_max_seq)


def _df(spark):
    rows = [
        ("r1", "p1", 1, "a"), ("r1", "p1", 3, "c"), ("r1", "p1", 2, "b"),
        ("r2", "p1", 5, "x"), ("r2", "p2", 7, "y"), ("r2", "p2", 6, "z"),
    ]
    return spark.createDataFrame(rows, "repo string, path string, seq long, v string")


def test_latest_variants_agree(spark):
    df = _df(spark)
    expected = {("r1", "p1"): "c", ("r2", "p1"): "x", ("r2", "p2"): "y"}
    for fn in (latest_per_key, latest_per_key_window):
        out = {(r.repo, r.path): r.v for r in fn(df, ["repo", "path"], ["seq"]).collect()}
        assert out == expected, fn


def test_skewed_key(spark):
    # one hot key with 10k events + cold keys
    hot = spark.range(10000).selectExpr(
        "'hot' as repo", "'p' as path", "id as seq", "cast(id as string) as v")
    cold = _df(spark).selectExpr("repo", "path", "cast(seq as long) seq", "v")
    df = hot.union(cold)
    a = latest_per_key(df, ["repo", "path"], ["seq"])
    ra = {(r.repo, r.path): r.v for r in a.collect()}
    assert ra == {("hot", "p"): "9999", ("r1", "p1"): "c", ("r2", "p1"): "x",
                  ("r2", "p2"): "y"}


def test_shard_max_seq_numeric_compare(spark):
    # 26-digit values compare numerically, not lexicographically
    # (DynamoDBSourceTaskTests.java:810-848)
    rows = [("s1", "9999900000000011822709669"),
            ("s1", "10044100000000011822719112"),
            ("s2", "5")]
    df = spark.createDataFrame(rows, "shard_id string, seq_no string")
    out = {r.shard_id: r.max_seq_no for r in shard_max_seq(df).collect()}
    assert out["s1"] == Decimal("10044100000000011822719112")
    assert out["s2"] == Decimal("5")
