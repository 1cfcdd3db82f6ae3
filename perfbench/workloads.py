"""The three benchmark workloads and their inputs.

Every workload is a closed loop with one client: the next operation starts
when the previous one has returned. Inputs come from
``kafka_connect_dynamodb_spark.sources.generator`` and are cached per
(workload, seed, size) under the checkout's ``.perfbench/cache``; they are
made before any timing starts.

* ``bulk_replay`` — ``init_sync`` of the snapshot, then one ``sync_batch``
  over the whole log (about ten events per key), repeated on fresh tables.
* ``tail_microbatch`` — a pre-loaded table tailed with
  ``streaming.tail.start_tail(max_files_per_trigger=1, available_now=True)``
  over a log split into files of contiguous ``seq_no`` ranges: the first
  half drains, the second half lands, and a new query resumes on the same
  checkpoint. The log carries one additive schema change mid-stream.
* ``read_mix`` — a pre-loaded ``LakeTable(change_feed=True)``; each round is
  one small ``sync_batch``, point lookups on just-written and on cold keys,
  one watermark ``scan`` and one ``changes`` read.
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
import statistics
import time
import uuid
from contextlib import nullcontext
from dataclasses import asdict, dataclass
from datetime import datetime, timezone
from decimal import Decimal
from unittest import mock

import duckdb
from pyspark.sql import Observation
from pyspark.sql import functions as F

from kafka_connect_dynamodb_spark.lake.commitio import PosixCommitIO
from kafka_connect_dynamodb_spark.lake.table import LakeTable
from kafka_connect_dynamodb_spark.operators.apply import decode_winners, prepare_winners
from kafka_connect_dynamodb_spark.plans.pipeline import CdcPipeline
from kafka_connect_dynamodb_spark.sources.generator import (
    DEFAULT_BASE_TS, SEQ_BASE, change_events, source_table)
from kafka_connect_dynamodb_spark.streaming import tail as tail_mod

from perfbench import oracle
from perfbench.trace import CountingIO, ProgressRecorder, Tracer

DUP_FRAC = 0.05          # the generator's default duplicate-delivery share


def logical_clock() -> float:
    """Generated events sit near DEFAULT_BASE_TS; the engine must see that
    instant as "now" or the pre-init-sync filter drops the whole log."""
    return DEFAULT_BASE_TS.timestamp()


@dataclass(frozen=True)
class Sizes:
    keys: int
    events: int
    files: int = 0                 # 0 = one unsplit log
    n_buckets: int | None = None   # None = the pipeline default (64)
    evolve_frac: float = 0.0
    lookups_per_round: int = 0
    warmup_rounds: int = 0


# One micro-batch is one log file of EVENTS_PER_BATCH events: the reference
# connector fetches 1,000 records per GetRecords call, and at its ~2,000
# events/s per task with a 500 ms idle poll one trigger also carries about
# 1,000. Every workload uses the pipeline's default 64 buckets.
EVENTS_PER_BATCH = 1000
WARMUP_BUCKETS = 4       # the tail's warm-up table only
MIN_ROUNDS = 3           # read_mix: a median needs a few samples

SIZES = {
    "bulk_replay": Sizes(keys=3000, events=30000),
    "tail_microbatch": Sizes(keys=2000, events=4 * EVENTS_PER_BATCH, files=4,
                             evolve_frac=0.5),
    "read_mix": Sizes(keys=4000, events=12 * EVENTS_PER_BATCH, files=12,
                      lookups_per_round=4, warmup_rounds=1),
}

# seconds-scale sizes for the benchmark's own tests
TOY_SIZES = {
    "bulk_replay": Sizes(keys=200, events=2000, n_buckets=4),
    "tail_microbatch": Sizes(keys=100, events=400, files=4, n_buckets=4,
                             evolve_frac=0.5),
    "read_mix": Sizes(keys=200, events=400, files=8, n_buckets=4,
                      lookups_per_round=4, warmup_rounds=2),
}


# ----------------------------------------------------------------- inputs

@dataclass
class Inputs:
    root: str
    n_events: int
    file_rows: list[int]
    file_max_seq: list[int]
    file_keys: list[list[list[str]]]
    cold_keys: list[list[str]]
    digest: str = ""               # oracle digest of the whole log replayed

    @property
    def base_dir(self) -> str:
        return os.path.join(self.root, "base")

    @property
    def log_dir(self) -> str:
        return os.path.join(self.root, "log")

    @property
    def log_glob(self) -> str:
        return os.path.join(self.log_dir, "*.parquet")

    def file(self, i: int) -> str:
        return os.path.join(self.log_dir, f"f{i:04d}.parquet")


def prepare_inputs(spark, workload: str, seed: int, sizes: Sizes,
                   cache_root: str) -> Inputs:
    """Generate (or reuse) the snapshot and change log for one
    (workload, seed, size), with the oracle's digest of the full replay."""
    tag = "-".join(str(v) for v in asdict(sizes).values())
    root = os.path.join(cache_root, f"{workload}-s{seed}-{tag}")
    meta_path = os.path.join(root, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return Inputs(root=root, **json.load(fh))

    tmp = f"{root}.tmp-{uuid.uuid4().hex[:8]}"
    source_table(spark, sizes.keys, seed=seed).write.parquet(
        os.path.join(tmp, "base"))
    events = change_events(spark, sizes.keys, sizes.events, seed=seed,
                           dup_frac=DUP_FRAC, evolve_frac=sizes.evolve_frac)
    log = os.path.join(tmp, "log")
    if sizes.files:
        # file i holds the i-th contiguous seq_no range (duplicates carry
        # their original seq_no, so they land beside the original)
        n_unique = max(int(sizes.events * (1.0 - DUP_FRAC)), 1)
        offset = (F.col("seq_no") - F.lit(SEQ_BASE).cast("decimal(38,0)")).cast("long")
        idx = F.floor(offset * sizes.files / n_unique).cast("int")
        split = os.path.join(tmp, "split")
        (events.withColumn("_f", idx).repartition(sizes.files, "_f")
               .sortWithinPartitions("seq_no")
               .write.partitionBy("_f").parquet(split))
        os.makedirs(log)
        for i in range(sizes.files):
            (part,) = glob.glob(os.path.join(split, f"_f={i}", "*.parquet"))
            os.rename(part, os.path.join(log, f"f{i:04d}.parquet"))
        shutil.rmtree(split)
    else:
        events.write.parquet(log)

    inputs = Inputs(root=tmp, **_describe(tmp, sizes, seed))
    inputs.digest = oracle.final_state_digest(
        inputs.base_dir, inputs.log_glob, DEFAULT_BASE_TS)
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        meta = asdict(inputs)
        meta.pop("root")
        json.dump(meta, fh)
    try:
        os.rename(tmp, root)
    except OSError:                 # another run cached it first
        shutil.rmtree(tmp, ignore_errors=True)
    return prepare_inputs(spark, workload, seed, sizes, cache_root)


def _describe(root: str, sizes: Sizes, seed: int) -> dict:
    """Row counts, max seq and touched keys per log file, plus cold keys
    (snapshot keys no event touches), read with DuckDB."""
    con = duckdb.connect()
    try:
        log = os.path.join(root, "log", "*.parquet")
        base = os.path.join(root, "base", "*.parquet")
        n_events = con.execute(f"SELECT count(*) FROM read_parquet('{log}')").fetchone()[0]
        file_rows, file_max_seq, file_keys = [], [], []
        if sizes.files:
            per_file = con.execute(f"""
                SELECT filename, count(*), max(CAST(seq_no AS HUGEINT)),
                       list(DISTINCT [json_extract_string(keys, '$.repo.s'),
                                      json_extract_string(keys, '$.path.s')])
                FROM read_parquet('{log}', filename = true)
                GROUP BY filename ORDER BY filename""").fetchall()
            for _f, n, mx, keys in per_file:
                file_rows.append(int(n))
                file_max_seq.append(int(mx))
                if sizes.lookups_per_round:
                    file_keys.append(sorted(keys))
        cold = []
        if sizes.lookups_per_round:
            cold = con.execute(f"""
                SELECT b.repo, b.path FROM read_parquet('{base}') b
                ANTI JOIN (SELECT json_extract_string(keys, '$.repo.s') AS repo,
                                  json_extract_string(keys, '$.path.s') AS path
                           FROM read_parquet('{log}')) e
                  ON b.repo = e.repo AND b.path = e.path
                ORDER BY 1, 2""").fetchall()
            cold = [list(k) for k in random.Random(seed).sample(cold, min(len(cold), 512))]
    finally:
        con.close()
    return {"n_events": int(n_events), "file_rows": file_rows,
            "file_max_seq": file_max_seq, "file_keys": file_keys,
            "cold_keys": cold}


def table_digest(spark, table: LakeTable) -> str:
    rows = table.read(spark, columns=["repo", "path", "content"]).collect()
    return oracle.digest((r["repo"], r["path"], oracle.content_sha(r["content"]))
                         for r in rows)


# ------------------------------------------------------------------ layers

class Layers:
    """Per-layer instrumentation of the traced run. With ``tracer=None``
    (the untimed run) every hook is inert and the engine's own entry points
    run unwrapped."""

    def __init__(self, spark, tracer: Tracer | None):
        self.spark = spark
        self.tracer = tracer
        self.io = CountingIO(PosixCommitIO()) if tracer else None
        self.progress = ProgressRecorder() if tracer else None
        self.ops: list = []              # one span per applied batch

    @property
    def on(self) -> bool:
        return self.tracer is not None

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else nullcontext()

    def table(self, root: str, **kw) -> LakeTable:
        return LakeTable(root, io=self.io, **kw)

    def sync_batch(self, pipe: CdcPipeline, df, batch_id: int):
        if not self.on:
            return pipe.sync_batch(df, batch_id)
        with self.span("pipeline.sync_batch") as op:
            with self.span("pipeline.load_state"):
                info = pipe.load_state()
            start = datetime.fromtimestamp(info.init_sync_start / 1000, tz=timezone.utc)
            return self._apply(op, pipe.table, df, batch_id, "stream", start)

    def tail_apply(self, spark, table, df, *, batch_id=None, source="stream",
                   init_sync_start=None, now=None):
        """Stand-in for ``apply_batch`` inside the tail's foreachBatch (the
        benchmark's tails run without a danger-zone clock, ``now=None``)."""
        with self.span("tail.batch") as op:
            return self._apply(op, table, df, batch_id, source, init_sync_start)

    def _apply(self, op, table, df, batch_id, source, init_sync_start):
        """``operators.apply.apply_batch`` split at its layer boundaries; each
        span ends at an action (the winners are materialized with count(),
        as apply_batch does when its danger check is armed)."""
        before = self.io.snapshot()
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("n"))
        with self.span("apply.winners"):
            winners = prepare_winners(df, init_sync_start=init_sync_start).persist()
            winners_out = winners.count()
        try:
            with self.span("apply.decode"):
                deduped = decode_winners(winners, discover_fields=True)
            with self.span("lake.merge"):
                res = table.merge(self.spark, deduped, batch_id=batch_id, source=source)
        finally:
            winners.unpersist()
        op.attrs.update(events_in=int(obs.get["n"]), winners_out=winners_out,
                        io=self.io.diff(before), root=table.root,
                        version=res.get("version"))
        self.ops.append(op)
        return res


class _CommitStamps(list):
    """``start_tail(metrics=...)`` sink that stamps each committed batch."""

    def append(self, item):
        super().append((time.perf_counter(), item))


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def process_cpu_s(pids) -> float:
    """User + system CPU seconds the given processes have used, from /proc.
    Time that other tenants of a shared host take from the CPUs (steal) is
    not charged here, so it moves far less than wall time does."""
    ticks = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        ticks += int(fields[11]) + int(fields[12])      # utime, stime
    return ticks / os.sysconf("SC_CLK_TCK")


def _p90(xs):
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


# --------------------------------------------------------------- workloads

class Workload:
    """Shared state of one run: session, inputs, work dir and the checks."""

    def __init__(self, spark, inputs: Inputs, sizes: Sizes, work: str,
                 layers: Layers, seed: int):
        self.spark = spark
        self.seed = seed
        self.inputs = inputs
        self.sizes = sizes
        self.work = work
        self.layers = layers
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.metrics: dict[str, float] = {}
        self.preload_s: list[float] = []
        self.warmup_s = 0.0
        self.tables: list[LakeTable] = []
        self.pids = (os.getpid(), spark.sparkContext._gateway.proc.pid)

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process and the driver JVM."""
        return process_cpu_s(self.pids)

    def pipeline(self, table: LakeTable) -> CdcPipeline:
        kw = {"n_buckets": self.sizes.n_buckets} if self.sizes.n_buckets else {}
        return CdcPipeline(self.spark, table, clock=logical_clock, **kw)

    def base(self):
        return self.spark.read.parquet(self.inputs.base_dir)

    def op(self, fn, *args, **kw):
        """Run one client operation, counting it and any failure."""
        self.attempted += 1
        try:
            return fn(*args, **kw)
        except Exception as e:  # noqa: BLE001 — a failed op is a result
            self.failed += 1
            self.errors.append(f"{type(e).__name__}: {str(e)[:300]}")
            raise

    def check_table(self, table: LakeTable, expected: str) -> None:
        """Untimed parity check of a final table against the oracle."""
        self.attempted += 1
        if table_digest(self.spark, table) != expected:
            self.failed += 1
            self.errors.append(f"parity mismatch in {table.root}")

    def setup_s(self, session_s: float) -> float:
        return session_s + self.warmup_s + _median(self.preload_s)

    def check(self) -> None:
        for t in self.tables:
            self.check_table(t, self.inputs.digest)


class BulkReplay(Workload):
    def run(self, seconds: float) -> None:
        log = self.inputs.log_dir
        t = time.perf_counter()
        self._warmup()
        self.warmup_s = time.perf_counter() - t
        init_s, replay_s, cpu = [], [], []
        while sum(init_s) + sum(replay_s) < seconds or len(replay_s) < 2:
            table = self.layers.table(os.path.join(self.work, f"bulk-{len(replay_s)}"))
            a = time.perf_counter()
            with self.layers.span("cycle"):
                pipe = self.pipeline(table)
                with self.layers.span("pipeline.init_sync"):
                    self.op(pipe.init_sync, self.base())
                b, cpu0 = time.perf_counter(), self.cpu_s()
                self.op(self.layers.sync_batch, pipe,
                        self.spark.read.parquet(log), 0)
            c = time.perf_counter()
            cpu.append(self.cpu_s() - cpu0)
            init_s.append(b - a)
            replay_s.append(c - b)
            self.tables.append(table)
        n = self.inputs.n_events
        self.metrics.update(
            init_sync_s=_median(init_s),
            replay_events_per_s=n / _median(replay_s),
            events_per_s=n / _median(replay_s),
            batch_p50_ms=_median(replay_s) * 1e3,
            cpu_ms_per_event=_median(cpu) * 1e3 / n,
            cycles=len(replay_s))

    def _warmup(self) -> None:
        """The measured cycle's code paths, on one log file."""
        pipe = self.pipeline(LakeTable(os.path.join(self.work, "warmup")))
        pipe.init_sync(self.base())
        first = sorted(glob.glob(self.inputs.log_glob))[0]
        pipe.sync_batch(self.spark.read.parquet(first), 0)


class TailMicrobatch(Workload):
    def run(self, seconds: float) -> None:
        t = time.perf_counter()
        self._warmup()
        self.warmup_s = time.perf_counter() - t
        if not self.layers.on:
            return self._run(seconds)
        # traced run: the tail's foreachBatch applies through the split
        # apply, and a listener records every micro-batch progress
        self.spark.streams.addListener(self.layers.progress)
        try:
            with mock.patch.object(tail_mod, "apply_batch", self.layers.tail_apply):
                self._run(seconds)
        finally:
            self.spark.streams.removeListener(self.layers.progress)

    def _run(self, seconds: float) -> None:
        drain_s, batch_ms, resume_s, cpu = [], [], [], 0.0
        i = 0
        while sum(drain_s) < seconds or not drain_s:
            table = self.layers.table(os.path.join(self.work, f"tail-{i}", "table"))
            a = time.perf_counter()
            info = self.pipeline(table).init_sync(self.base())
            self.preload_s.append(time.perf_counter() - a)
            cpu0 = self.cpu_s()
            with self.layers.span("cycle"):
                d, b, r = self._cycle(table, os.path.join(self.work, f"tail-{i}"), info)
            cpu += self.cpu_s() - cpu0
            drain_s.append(d)
            batch_ms += b
            resume_s.append(r)
            self.tables.append(table)
            i += 1
        n = self.inputs.n_events
        self.metrics.update(
            tail_events_per_s=n * len(drain_s) / sum(drain_s),
            events_per_s=n * len(drain_s) / sum(drain_s),
            batch_p50_ms=_median(batch_ms),
            batch_p90_ms=_p90(batch_ms),
            batches=len(batch_ms),
            cpu_ms_per_event=cpu * 1e3 / (n * len(drain_s)),
            resume_s=_median(resume_s),
            cycles=len(drain_s))

    def _land(self, log: str, lo: int, hi: int) -> None:
        os.makedirs(log, exist_ok=True)
        for i in range(lo, hi):
            shutil.copyfile(self.inputs.file(i), os.path.join(log, f"f{i:04d}.parquet"))

    def _drain(self, table, log, cp, info, name):
        start = datetime.fromtimestamp(info.init_sync_start / 1000, tz=timezone.utc)
        stamps = _CommitStamps()
        with self.layers.span(name):
            t = time.perf_counter()
            q = self.op(tail_mod.start_tail, self.spark, log, table,
                        checkpoint_dir=cp, max_files_per_trigger=1,
                        available_now=True, init_sync_start=start,
                        metrics=stamps)
            self.op(q.awaitTermination)
            d = time.perf_counter() - t
        ms = [p["durationMs"]["triggerExecution"] for p in q.recentProgress
              if p["numInputRows"] > 0]
        first = stamps[0][0] - t if stamps else d
        return d, ms, first

    def _cycle(self, table, root, info):
        log, cp = os.path.join(root, "log"), os.path.join(root, "cp")
        half = self.sizes.files // 2
        self._land(log, 0, half)
        d1, ms1, _ = self._drain(table, log, cp, info, "tail.drain")
        self._land(log, half, self.sizes.files)
        d2, ms2, resume = self._drain(table, log, cp, info, "tail.resume")
        return d1 + d2, ms1 + ms2, resume

    def _warmup(self) -> None:
        """One short tail on a small scratch table (a few snapshot rows in
        a few buckets): loads the streaming code paths before anything is
        timed, without paying for a full-size commit."""
        root = os.path.join(self.work, "warmup")
        table = LakeTable(os.path.join(root, "table"))
        info = CdcPipeline(self.spark, table, clock=logical_clock,
                           n_buckets=WARMUP_BUCKETS).init_sync(self.base().limit(100))
        log = os.path.join(root, "log")
        self._land(log, self.sizes.files // 2, self.sizes.files // 2 + 1)
        start = datetime.fromtimestamp(info.init_sync_start / 1000, tz=timezone.utc)
        tail_mod.start_tail(self.spark, log, table,
                            checkpoint_dir=os.path.join(root, "cp"),
                            max_files_per_trigger=1, available_now=True,
                            init_sync_start=start).awaitTermination()


class ReadMix(Workload):
    def run(self, seconds: float) -> None:
        root = os.path.join(self.work, "readmix")
        self.table = self.layers.table(root, change_feed=True)
        a = time.perf_counter()
        self.pipe = self.pipeline(self.table)
        self.pipe.init_sync(self.base())
        self.preload_s.append(time.perf_counter() - a)
        self.lookups: list[tuple[int, str, str, str | None]] = []
        self.rng = random.Random(self.seed)
        t = time.perf_counter()
        for r in range(self.sizes.warmup_rounds):
            self._round(r)
        self.warmup_s = time.perf_counter() - t
        lat: dict[str, list[float]] = {"sync": [], "lookup": [], "scan": [], "feed": []}
        events, busy, cpu = 0, 0.0, 0.0
        r = self.sizes.warmup_rounds
        while r < self.sizes.files and (busy < seconds or len(lat["sync"]) < MIN_ROUNDS):
            cpu0 = self.cpu_s()
            with self.layers.span("round"):
                one = self._round(r)
            cpu += self.cpu_s() - cpu0
            for k, v in one.items():
                lat[k] += v
            busy += sum(sum(v) for v in one.values())
            events += self.inputs.file_rows[r]
            r += 1
        self.rounds = r
        ms = {k: [x * 1e3 for x in v] for k, v in lat.items()}
        self.metrics.update(
            events_per_s=events / busy,
            cpu_ms_per_event=cpu * 1e3 / events,
            batch_p50_ms=_median(ms["sync"]),
            batch_p90_ms=_p90(ms["sync"]),
            lookup_p50_ms=_median(ms["lookup"]),
            lookup_p90_ms=_p90(ms["lookup"]),
            scan_p50_ms=_median(ms["scan"]),
            feed_p50_ms=_median(ms["feed"]),
            rounds=len(ms["sync"]),
            lookups=len(ms["lookup"]))

    def _round(self, r: int) -> dict[str, list[float]]:
        spark, table, L = self.spark, self.table, self.layers
        prev = table.current_version()
        watermark = Decimal(self.inputs.file_max_seq[r - 1]) if r else Decimal(0)
        out: dict[str, list[float]] = {"sync": [], "lookup": [], "scan": [], "feed": []}

        a = time.perf_counter()
        self.op(L.sync_batch, self.pipe, spark.read.parquet(self.inputs.file(r)), r)
        out["sync"].append(time.perf_counter() - a)

        n = self.sizes.lookups_per_round
        hot = self.rng.sample(self.inputs.file_keys[r], min(n // 2, len(self.inputs.file_keys[r])))
        cold = self.rng.sample(self.inputs.cold_keys, min(n - len(hot), len(self.inputs.cold_keys)))
        for repo, path in hot + cold:
            a = time.perf_counter()
            with L.span("lake.read_key") as s:
                df = table.read_key(spark, {"repo": repo, "path": path})
                rows = self.op(df.collect)
                if L.on:
                    s.attrs["files_scanned"] = len(df.inputFiles())
            out["lookup"].append(time.perf_counter() - a)
            got = oracle.content_sha(rows[0]["content"]) if rows else None
            self.lookups.append((r, repo, path, got))

        a = time.perf_counter()
        with L.span("lake.scan") as s:
            preds = [("_seq", ">", watermark)]
            self.op(table.scan(spark, preds).collect)
            if L.on:
                s.attrs["files_kept"] = len(table.pruned_entries(preds))
                s.attrs["files_total"] = len(table.manifest().files)
        out["scan"].append(time.perf_counter() - a)

        a = time.perf_counter()
        with L.span("lake.changes") as s:
            rows = self.op(table.changes(spark, from_version=prev + 1).collect)
            if L.on:
                s.attrs["rows"] = len(rows)
        out["feed"].append(time.perf_counter() - a)
        return out

    def check(self) -> None:
        expected = oracle.final_state_digest(
            self.inputs.base_dir, self.inputs.log_glob, DEFAULT_BASE_TS,
            max_file=self.rounds - 1)
        self.check_table(self.table, expected)
        want = oracle.expected_lookups(
            self.inputs.base_dir, self.inputs.log_glob, DEFAULT_BASE_TS,
            [(r, repo, path) for r, repo, path, _ in self.lookups])
        for (r, repo, path, got), exp in zip(self.lookups, want):
            if got != exp:
                self.failed += 1
                self.errors.append(f"lookup mismatch round {r} key {repo}/{path}")


WORKLOADS = {"bulk_replay": BulkReplay, "tail_microbatch": TailMicrobatch,
             "read_mix": ReadMix}
