"""Table discovery + multi-table fan-out (reference operators S1/S2/S4/T9).

The reference connector discovers source tables by ingestion TAG or env-set
whitelist, fans a SourceTask out per table, and re-polls discovery every
60 s to pick up newly tagged tables (DynamoDBSourceConnector.java:83-145,
rediscovery via ``startBackgroundReconfigurationTasks``); each task further
honors a configurable INIT_SYNC start delay (``init.sync.delay.period``,
DynamoDBSourceConnectorConfig.java:18-24, applied DynamoDBSourceTask.java:218).

Spark analog: a "table" is a directory pair (snapshot parquet + change-event
log). Discovery lists the source root; the TAG analog is a marker file in the
table directory (``cdc_enabled`` by default — the same opt-in contract as the
reference's ``datapipes.source`` tag), the whitelist analog is an explicit
name list. ``MultiTablePipeline.poll()`` is the rediscovery cycle: new tables
get a CdcPipeline (created after the T9 start delay), known tables drain
their stream tail incrementally. Everything below the control plane reuses
the single-table engine unchanged — per-table lake tables, checkpoints and
state docs stay independent, exactly like one SourceTask per table.

Scale note: discovery is driver-side metadata work (one directory listing per
poll); per-table work is the normal engine path. Hundreds of tables = handful
of listings + N independent streaming queries, which is how Spark multiplexes
sources on a real cluster anyway.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import SparkSession

from kafka_connect_dynamodb_spark.lake.table import LakeTable
from kafka_connect_dynamodb_spark.plans.pipeline import CdcPipeline
from kafka_connect_dynamodb_spark.plans.state import InitSyncStatus


@dataclass
class TableSpec:
    name: str
    snapshot_path: str
    log_path: str


def discover_tables(source_root: str, *, whitelist: list[str] | None = None,
                    tag_file: str = "cdc_enabled") -> list[TableSpec]:
    """S1/S2 discovery: table dirs under ``source_root``.

    ``whitelist`` (S2) takes precedence: exactly those names. Otherwise (S1)
    any subdirectory containing ``tag_file`` is ingested — the marker-file
    analog of the reference's resource-tag scan
    (aws/TablesProvider / DynamoDBSourceConnector.java:96-118).
    A table dir must contain ``snapshot/`` parquet; ``log/`` may appear later
    (stream not yet active — S3's validity predicate analog: such tables
    still INIT_SYNC, the tail starts once the log exists).
    """
    if not os.path.isdir(source_root):
        return []
    names = (list(whitelist) if whitelist is not None
             else [d for d in sorted(os.listdir(source_root))
                   if os.path.isdir(os.path.join(source_root, d))
                   and os.path.exists(os.path.join(source_root, d, tag_file))])
    specs = []
    for n in names:
        snap = os.path.join(source_root, n, "snapshot")
        if os.path.isdir(snap):
            specs.append(TableSpec(
                name=n, snapshot_path=snap,
                log_path=os.path.join(source_root, n, "log")))
    return specs


@dataclass
class _TableRun:
    spec: TableSpec
    pipeline: CdcPipeline
    discovered_at: float
    checkpoint_dir: str
    status: str = "pending"          # pending | synced
    metrics: list = field(default_factory=list)


class MultiTablePipeline:
    """S4 rediscovery loop over N independent single-table pipelines.

    Each ``poll()``:

    1. re-runs discovery (new tagged tables join the fleet — the reference's
       60 s background reconfiguration);
    2. for undiscovered->new tables, waits out ``init_sync_delay_s`` (T9)
       from first sighting, then runs INIT_SYNC;
    3. for synced tables, drains their change log incrementally
       (``CdcPipeline.sync_stream``: an availableNow tail against the
       per-table checkpoint, resyncing the table on a danger-zone event).
    """

    def __init__(self, spark: SparkSession, source_root: str, lake_root: str,
                 *, whitelist: list[str] | None = None,
                 tag_file: str = "cdc_enabled",
                 n_buckets: int = 64,
                 init_sync_delay_s: float = 0.0,
                 max_parallel_tables: int = 8,
                 change_feed: bool = False,
                 clock: Callable[[], float] = time.time):
        self.spark = spark
        self.source_root = source_root
        self.lake_root = lake_root
        self.whitelist = whitelist
        self.tag_file = tag_file
        self.n_buckets = n_buckets
        self.init_sync_delay_s = init_sync_delay_s
        self.max_parallel_tables = max_parallel_tables
        self.change_feed = change_feed
        self.clock = clock
        self.tables: dict[str, _TableRun] = {}

    def table_for(self, name: str) -> LakeTable:
        """``change_feed=True`` makes every fleet table publish per-commit
        deltas — the whole fleet becomes a CDC-OUT source for downstream
        mirrors (streaming.feed.mirror_changes per table)."""
        return LakeTable(os.path.join(self.lake_root, name),
                         change_feed=self.change_feed)

    def poll(self) -> dict[str, str]:
        """One discovery + sync cycle; returns {table: status}.

        Per-table work runs CONCURRENTLY (bounded by
        ``max_parallel_tables``): the tables are independent pipelines whose
        jobs a single SparkSession happily multiplexes across its scheduler
        pools, so a fleet of hundreds of tables pays max(wall) per cycle,
        not sum(wall) — the Spark analog of the reference's one-Connect-task-
        per-table parallelism (README.md:39). Failures propagate after the
        cycle completes (statuses of healthy tables still advance); if
        SEVERAL tables fail the same cycle, ALL their exceptions surface in
        one ExceptionGroup — none is silently swallowed.
        """
        from concurrent.futures import ThreadPoolExecutor

        runs = []
        for spec in discover_tables(self.source_root, whitelist=self.whitelist,
                                    tag_file=self.tag_file):
            run = self.tables.get(spec.name)
            if run is None:
                run = _TableRun(
                    spec=spec,
                    pipeline=CdcPipeline(
                        self.spark, self.table_for(spec.name),
                        table_name=spec.name, n_buckets=self.n_buckets,
                        clock=self.clock),
                    discovered_at=self.clock(),
                    checkpoint_dir=os.path.join(self.lake_root,
                                                f"_cp_{spec.name}"))
                self.tables[spec.name] = run
            runs.append(run)
        if len(runs) <= 1:
            for run in runs:
                self._advance(run)
        else:
            with ThreadPoolExecutor(
                    max_workers=min(self.max_parallel_tables, len(runs)),
                    thread_name_prefix="table-poll") as pool:
                futures = [pool.submit(self._advance, r) for r in runs]
            errors = [(r.spec.name, f.exception())
                      for r, f in zip(runs, futures) if f.exception()]
            if len(errors) == 1:
                raise errors[0][1]
            if errors:
                raise ExceptionGroup(
                    "poll failures in tables: "
                    + ", ".join(n for n, _ in errors),
                    [e for _, e in errors])
        return {n: r.status for n, r in self.tables.items()}

    def _advance(self, run: _TableRun) -> None:
        def snapshot():
            return self.spark.read.parquet(run.spec.snapshot_path)

        info = run.pipeline.load_state()
        if info.init_sync_state != InitSyncStatus.FINISHED:
            # T9: hold INIT_SYNC until the start delay has elapsed since
            # first discovery (DynamoDBSourceTask.java:218)
            if self.clock() - run.discovered_at < self.init_sync_delay_s:
                run.status = "pending"
                return
            run.pipeline.init_sync(snapshot())
        # a danger-zone breach resyncs THIS table inside the poll (T1);
        # sibling tables are untouched (their _advance runs concurrently in
        # this same cycle), and the next cycle re-arms the check
        resynced = os.path.isdir(run.spec.log_path) and run.pipeline.sync_stream(
            run.spec.log_path, snapshot, checkpoint_dir=run.checkpoint_dir,
            source=run.spec.name, metrics=run.metrics)
        run.status = "resynced" if resynced else "synced"

    def read(self, name: str):
        return self.table_for(name).read(self.spark)

    def statuses(self) -> dict[str, Any]:
        return {n: {"status": r.status,
                    "batches_applied": len(r.metrics)}
                for n, r in self.tables.items()}
