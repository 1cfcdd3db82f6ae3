"""CDC engine benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. With ``--trace 0`` it prints every
end-to-end metric; with ``--trace 1`` it records spans around each call
into a layer and prints the per-layer metrics, the span file and the
tracing overhead against the last untraced run of the workload. The last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

Everything it writes stays under ``<checkout>/.perfbench``. See
``perfbench/README.md`` for the metrics and workloads.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")

END_TO_END = {            # name -> unit, as in BENCHMARK.json
    "setup_s": "s",
    "cpu_ms_per_event": "ms",
    "peak_rss_mb": "MB",
}

REPORT_UNITS = {          # wall-time and workload-specific figures
    "events_per_s": "1/s", "batch_p50_ms": "ms",
    "init_sync_s": "s", "replay_events_per_s": "1/s",
    "tail_events_per_s": "1/s", "batch_p90_ms": "ms", "resume_s": "s",
    "lookup_p50_ms": "ms", "lookup_p90_ms": "ms", "scan_p50_ms": "ms",
    "feed_p50_ms": "ms", "failed_ops": "count", "attempted_ops": "count",
    "cycles": "count", "batches": "count", "rounds": "count",
    "lookups": "count",
}

COMMITIO_OPS = ("list_dir", "read_text", "put_if_absent")
TAIL_PHASES = {"tail.latest_offset_ms": "latestOffset",
               "tail.get_batch_ms": "getBatch",
               "tail.query_planning_ms": "queryPlanning",
               "tail.add_batch_ms": "addBatch",
               "tail.wal_commit_ms": "walCommit",
               "tail.commit_offsets_ms": "commitOffsets"}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["bulk_replay", "tail_microbatch", "read_mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--cores", type=int, default=0,
                   help="local[N] cores (default: all of this machine's)")
    p.add_argument("--scaling-child", action="store_true",
                   help=argparse.SUPPRESS)
    return p.parse_args(argv)


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of a process, from /proc (0 if it is gone)."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def start_session(work: str, cores: int):
    """SparkSession whose scratch files, temp files and JVM temp dir all
    stay under ``work``."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    local = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    from kafka_connect_dynamodb_spark.session import get_spark
    java_opts = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    # spark-submit first runs a launcher JVM; without this it writes /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    return get_spark(
        "perfbench", cores=cores,
        extra_conf={"spark.ui.showConsoleProgress": "false",
                    "spark.driver.extraJavaOptions": java_opts,
                    "spark.sql.warehouse.dir": os.path.join(work, "warehouse")})


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()          # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(wl, tracer) -> dict[str, float]:
    """Per-layer metrics of a traced run, from its spans and counters.
    Figures are per applied batch (median) unless named otherwise; a layer
    the workload does not exercise reads 0."""
    from kafka_connect_dynamodb_spark.lake.table import LakeTable

    L = wl.layers
    ops = L.ops
    out: dict[str, float] = {}

    def med_span(name, scale=1.0):
        return _median([s.duration * scale for s in tracer.named(name)])

    def med_attr(spans, key):
        return _median([s.attrs.get(key, 0) for s in spans])

    ev_in = [o.attrs["events_in"] for o in ops]
    w_out = [o.attrs["winners_out"] for o in ops]
    out["apply.events_in"] = _median(ev_in)
    out["apply.winners_out"] = _median(w_out)
    out["apply.winner_ratio"] = sum(w_out) / sum(ev_in) if sum(ev_in) else 0.0
    out["apply.winners_s"] = med_span("apply.winners")
    out["apply.decode_s"] = med_span("apply.decode")

    # merge side, from the manifest versions each batch committed
    out["lake.merge_s"] = med_span("lake.merge")
    lineage, rewritten_rows, rows_in = [], 0, 0
    for o in ops:
        v = o.attrs.get("version")
        if v is None:
            continue
        t = LakeTable(o.attrs["root"])
        m, parent = t.manifest(v), t.manifest(v - 1)
        entry = m.lineage[-1] if m.lineage else {}
        lineage.append(entry)
        kept = {e["path"] for e in m.files}
        rewritten_rows += sum(int((e.get("stats") or {}).get("#rows", 0))
                              for e in parent.files if e["path"] not in kept)
        rows_in += int(entry.get("rows_in") or 0)
    for key in ("rows_in", "buckets_touched", "files_rewritten", "files_written"):
        out[f"lake.merge.{key}"] = _median([int(e.get(key) or 0) for e in lineage])
    out["lake.rewrite_rows_per_row_in"] = rewritten_rows / rows_in if rows_in else 0.0

    # state size of the last table the run wrote
    final = LakeTable(wl.tables[-1].root if wl.tables else wl.table.root)
    v = final.current_version()
    out["lake.manifest_bytes"] = float(os.path.getsize(
        os.path.join(final.log_dir, f"v{v:012d}.json")))
    out["lake.manifest_files"] = float(len(final.manifest().files))
    out["lake.log_versions"] = float(sum(
        1 for f in os.listdir(final.log_dir) if f.startswith("v") and f.endswith(".json")))

    # read side
    out["lake.read_key_s"] = med_span("lake.read_key")
    out["lake.read_key.files_scanned"] = med_attr(tracer.named("lake.read_key"), "files_scanned")
    out["lake.scan.files_kept"] = med_attr(tracer.named("lake.scan"), "files_kept")
    out["lake.scan.files_total"] = med_attr(tracer.named("lake.scan"), "files_total")
    out["lake.changes_s"] = med_span("lake.changes")
    out["lake.changes.rows"] = med_attr(tracer.named("lake.changes"), "rows")

    # commit I/O per batch
    for op in COMMITIO_OPS:
        out[f"commitio.{op}.calls"] = _median([o.attrs["io"]["calls"].get(op, 0) for o in ops])
        out[f"commitio.{op}.ms"] = _median([o.attrs["io"]["ms"].get(op, 0.0) for o in ops])
    out["commitio.read_text.bytes"] = _median([o.attrs["io"]["read_bytes"] for o in ops])
    out["commitio.conflicts"] = float(L.io.conflicts)

    out["pipeline.load_state_ms"] = med_span("pipeline.load_state", 1e3)

    progress = [p for p in (L.progress.progress if L.progress else []) if p["rows"] > 0]
    cycles = max(1, len(tracer.named("cycle")))
    out["tail.batches"] = len(progress) / cycles
    for name, key in TAIL_PHASES.items():
        out[name] = _median([p["duration_ms"].get(key, 0) for p in progress])

    # Spark work per batch: the batch span and every span below it
    children: dict[int, list] = {}
    for s in tracer.spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    def subtree(s):
        yield s
        for c in children.get(s.span_id, []):
            yield from subtree(c)

    for key in ("jobs", "stages", "tasks", "failed_tasks"):
        out[f"spark.{key}"] = _median([sum(x.attrs.get(key, 0) for x in subtree(o))
                                       for o in ops])
    return {k: float(v) for k, v in out.items()}


def scaling_efficiency(args, events_per_s: float, cores: int) -> float:
    """bulk_replay at local[1] in its own JVM; efficiency of the n-core
    throughput against n times the single-core one."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", "bulk_replay",
           "--seed", str(args.seed), "--seconds", "1", "--trace", "1",
           "--cores", "1", "--scaling-child"]
    res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=170)
    lines = res.stdout.strip().splitlines()
    if res.returncode != 0 or not lines:
        raise RuntimeError(f"scaling child failed: {res.stderr[-2000:]}")
    one = json.loads(lines[-1])["events_per_s"]
    return events_per_s / (cores * one)


def reset_peak_rss(pid: int) -> None:
    """Restart a process's VmHWM from its current resident set."""
    with open(f"/proc/{pid}/clear_refs", "w") as fh:
        fh.write("5")


def untraced_metrics(m: dict) -> dict:
    """The JSON metrics of an untraced run. A run whose loop failed before
    it reported reads 0 there; its ``correct`` is false."""
    return {k: {"value": float(m.get(k, 0.0)), "unit": u} for k, u in END_TO_END.items()}


def run_loop(wl, seconds: float) -> None:
    """The timed loop; an error that escapes it counts as one failed op."""
    try:
        wl.run(seconds)
    except Exception as e:  # noqa: BLE001 — reported as a failed run
        if not wl.errors:
            wl.attempted += 1
            wl.failed += 1
            wl.errors.append(f"{type(e).__name__}: {str(e)[:300]}")


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter()
    sys.path.insert(0, ROOT)
    try:
        import kafka_connect_dynamodb_spark  # noqa: F401
        from perfbench import workloads as W
        from perfbench.trace import Tracer, self_times
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    cores = args.cores or os.cpu_count() or 4
    sizes = W.SIZES[args.workload]
    work = os.path.join(STATE, f"run-{os.getpid()}-{int(time.time() * 1e3)}")
    os.makedirs(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, cores)
        spark.range(1).count()
        session_s = time.perf_counter() - t0
        jvm_pid = spark.sparkContext._gateway.proc.pid

        t0 = time.perf_counter()
        inputs = W.prepare_inputs(spark, args.workload, args.seed, sizes,
                                  os.path.join(STATE, "cache"))
        phases = {"session": session_s, "inputs": time.perf_counter() - t0}
        # peak RSS counts from here, on heaps shrunk back after input
        # generation (which a run on cached inputs skips)
        spark.sparkContext._jvm.System.gc()
        gc.collect()
        for pid in (os.getpid(), jvm_pid):
            reset_peak_rss(pid)
        t0 = time.perf_counter()
        tracer = Tracer(spark) if args.trace else None
        layers = W.Layers(spark, tracer)
        wl = W.WORKLOADS[args.workload](spark, inputs, sizes, work, layers, args.seed)
        run_loop(wl, args.seconds)
        if args.scaling_child:
            if wl.failed:
                return 1
            print(json.dumps({"events_per_s": wl.metrics["events_per_s"]}))
            return 0
        phases["run"] = time.perf_counter() - t0
        # peak resident set of the engine's work, before the parity check
        # collects the table into the driver
        m = dict(wl.metrics)
        m["peak_rss_mb"] = vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid)
        t0 = time.perf_counter()
        if not wl.failed:
            wl.check()
        phases["check"] = time.perf_counter() - t0
        m["setup_s"] = wl.setup_s(session_s)
        layer = per_layer(wl, tracer) if tracer and not wl.failed else {}
        span_file = None
        if tracer:
            span_file = os.path.join(STATE, f"spans-{args.workload}-s{args.seed}.jsonl")
            tracer.dump(span_file)
            selfs = self_times(tracer.spans)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    if tracer and not wl.failed and args.workload == "bulk_replay":
        wl.attempted += 1
        try:
            layer["scaling.eff_1_to_n"] = scaling_efficiency(args, m["events_per_s"], cores)
        except (RuntimeError, subprocess.TimeoutExpired) as e:
            wl.failed += 1
            wl.errors.append(str(e)[:300])

    m["failed_ops"], m["attempted_ops"] = wl.failed, wl.attempted
    correct = wl.failed == 0
    print(f"# perfbench {args.workload} seed={args.seed} cores={cores} "
          f"trace={args.trace} sizes={sizes} wall={time.perf_counter() - t_start:.1f}s")
    print("# phases (s): " + " ".join(f"{k}={v:.1f}" for k, v in phases.items())
          + f" warmup={wl.warmup_s:.1f}")
    for e in wl.errors[:20]:
        print(f"# error: {e}")
    for k in sorted(m):
        unit = END_TO_END.get(k) or REPORT_UNITS.get(k, "")
        print(f"{k:24s} {m[k]:14.4f} {unit}")

    last = os.path.join(STATE, f"last-untraced-{args.workload}.json")
    if not args.trace:
        with open(last, "w") as fh:
            json.dump({"seed": args.seed, "metrics": m}, fh)
        metrics = untraced_metrics(m)
    else:
        by_name: dict[str, float] = {}
        for s in tracer.spans:
            by_name[s.name] = by_name.get(s.name, 0.0) + selfs[s.span_id]
        print("# self time by span (s):")
        for name, v in sorted(by_name.items(), key=lambda kv: -kv[1]):
            print(f"#   {name:24s} {v:10.4f}")
        print(f"# spans: {span_file}")
        if os.path.exists(last):
            with open(last) as fh:
                base = json.load(fh)
            for k in ("cpu_ms_per_event", "events_per_s", "batch_p50_ms"):
                if base["metrics"].get(k) and m.get(k):
                    pct = (m[k] / base["metrics"][k] - 1) * 100
                    print(f"# tracing overhead: {k} {pct:+.1f}% vs untraced run "
                          f"(seed {base['seed']})")
        else:
            print("# tracing overhead: no untraced run of this workload yet")
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            units = json.load(fh)["per_layer"]
        metrics = {u["name"]: {"value": layer.get(u["name"], 0.0), "unit": u["unit"]}
                   for u in units}
        for name in sorted(layer):
            print(f"{name:32s} {layer[name]:14.4f}")
    print(json.dumps({"correct": correct, "attempted": wl.attempted,
                      "failed": wl.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
