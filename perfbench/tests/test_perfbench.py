"""Tests of the benchmark itself, at toy sizes.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import oracle, run  # noqa: E402
from perfbench import workloads as W  # noqa: E402
from perfbench.trace import Span, Tracer, self_times  # noqa: E402


# --------------------------------------------------------------- pure logic

def test_self_times_on_hand_built_tree():
    spans = [
        Span(0, "root", 0.0, 10.0, None, "r"),
        Span(1, "a", 1.0, 4.0, 0, "r"),
        Span(2, "b", 3.0, 6.0, 0, "r"),      # overlaps a: counted once
        Span(3, "a.child", 2.0, 3.0, 1, "r"),
        Span(4, "late", 9.0, 12.0, 0, "r"),  # clipped to the parent's end
    ]
    got = self_times(spans)
    assert got[0] == pytest.approx(10.0 - (6.0 - 1.0) - (10.0 - 9.0))
    assert got[1] == pytest.approx(3.0 - 1.0)
    assert got[2] == pytest.approx(3.0)
    assert got[3] == pytest.approx(1.0)
    assert got[4] == pytest.approx(3.0)


def test_tracer_nests_spans_and_dumps(tmp_path):
    tr = Tracer()
    with tr.span("outer"):
        with tr.span("inner", k=1):
            pass
    outer, inner = tr.spans
    assert inner.parent == outer.span_id and outer.parent is None
    assert inner.run_id == outer.run_id and inner.attrs == {"k": 1}
    path = tmp_path / "spans.jsonl"
    tr.dump(str(path))
    recs = [json.loads(line) for line in path.read_text().splitlines()]
    assert [r["name"] for r in recs] == ["outer", "inner"]
    assert recs[0]["self_s"] <= recs[0]["end"] - recs[0]["start"]


def test_digest_is_order_independent():
    rows = [("r1", "p1", "aa"), ("r2", "p2", "bb")]
    assert oracle.digest(rows) == oracle.digest(list(reversed(rows)))
    assert oracle.digest(rows) != oracle.digest([("r1", "p1", "ab"), rows[1]])


def test_empty_checkout_exits_nonzero_without_result(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    res = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                          "bulk_replay", "--seed", "1", "--seconds", "1",
                          "--trace", "0"], cwd=tmp_path, capture_output=True,
                         text=True, timeout=120)
    assert res.returncode != 0
    assert '"correct"' not in res.stdout


# ------------------------------------------------------------ with a session

@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from kafka_connect_dynamodb_spark.session import get_spark
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    s = get_spark("perfbench-tests", cores=2, shuffle_partitions=4,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s


def _workload(spark, tmp_path, name, tracer=None):
    sizes = W.TOY_SIZES[name]
    inputs = W.prepare_inputs(spark, name, 7, sizes, str(tmp_path / "cache"))
    work = tmp_path / "work"
    work.mkdir(exist_ok=True)
    layers = W.Layers(spark, tracer)
    return W.WORKLOADS[name](spark, inputs, sizes, str(work), layers, 7)


@pytest.mark.parametrize("name", sorted(W.WORKLOADS))
def test_workload_runs_and_passes_parity(spark, tmp_path, name):
    wl = _workload(spark, tmp_path, name)
    wl.run(0.1)
    wl.check()
    assert wl.failed == 0, wl.errors
    assert wl.attempted > 0
    for k in ("events_per_s", "batch_p50_ms", "cpu_ms_per_event"):
        assert wl.metrics[k] > 0
    assert wl.setup_s(1.0) > 1.0


def test_failed_op_is_counted_and_still_reported(spark, tmp_path, monkeypatch):
    wl = _workload(spark, tmp_path, "read_mix")

    def broken(*args, **kw):
        raise RuntimeError("injected failure")

    monkeypatch.setattr(W.CdcPipeline, "sync_batch", broken)
    run.run_loop(wl, 0.1)
    assert wl.failed == 1 and wl.attempted >= 1
    assert "injected failure" in wl.errors[0]
    metrics = run.untraced_metrics(wl.metrics)
    assert set(metrics) == set(run.END_TO_END)
    json.dumps({"correct": False, "attempted": wl.attempted,
                "failed": wl.failed, "metrics": metrics})


def test_parity_check_catches_one_altered_row(spark, tmp_path):
    wl = _workload(spark, tmp_path, "bulk_replay")
    wl.run(0.1)
    table = wl.tables[-1]
    assert wl.failed == 0
    row = table.read(spark).limit(1)
    altered = (row.withColumn("content", F.concat("content", F.lit("!")))
                  .withColumn("_op", F.lit("u"))
                  .withColumn("_seq", F.lit(Decimal(10) ** 30).cast("decimal(38,0)")))
    table.merge(spark, altered, batch_id=0, source="tamper")
    before = wl.failed
    wl.check_table(table, wl.inputs.digest)
    assert wl.failed == before + 1


def test_traced_run_reports_every_per_layer_metric(spark, tmp_path):
    tracer = Tracer(spark)
    wl = _workload(spark, tmp_path, "read_mix", tracer)
    wl.run(0.1)
    wl.check()
    assert wl.failed == 0, wl.errors
    layer = run.per_layer(wl, tracer)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        names = {m["name"] for m in json.load(fh)["per_layer"]}
    assert names == set(layer)
    assert layer["apply.events_in"] > 0 and layer["spark.jobs"] > 0
    assert layer["commitio.put_if_absent.calls"] >= 1
    assert layer["lake.read_key_s"] > 0 and layer["lake.changes_s"] > 0
