"""spark-submit entrypoint for the two-phase CDC replay.

On a real cluster:

    spark-submit --py-files kafka_connect_dynamodb_spark.zip \
        scripts/submit_replay.py \
        --snapshot s3://bucket/source_table/ \
        --log s3://bucket/change_log/ \
        --table s3://bucket/replicated_table/ \
        --checkpoint s3://bucket/checkpoints/replicated_table/ \
        --buckets 4096 [--follow --trigger "30 seconds"] [--base-ts 2024-06-01]

Locally (what the sandbox runs): the same module with local paths. The session
inherits master/conf from spark-submit when present; `get_spark` only fills in
local-mode defaults when no master is configured.

Phases (SURVEY §3): INIT_SYNC snapshot unless the table already exists with
FINISHED state, then the streaming tail from the checkpoint. DangerZoneError
triggers a resync (T1/F3) and the tail restarts.
"""

from __future__ import annotations

import argparse
import os
import sys
from datetime import datetime, timezone

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="two-phase CDC replay")
    ap.add_argument("--snapshot", required=True, help="source table parquet dir")
    ap.add_argument("--log", required=True, help="change-event log parquet dir")
    ap.add_argument("--table", required=True, help="lake table root")
    ap.add_argument("--checkpoint", required=True, help="streaming checkpoint dir")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--follow", action="store_true",
                    help="keep tailing with --trigger interval (default: drain once)")
    ap.add_argument("--trigger", default="10 seconds")
    ap.add_argument("--max-files-per-trigger", type=int, default=None)
    ap.add_argument("--base-ts", default=None,
                    help="logical 'now' (ISO date) for replaying historical logs")
    ap.add_argument("--resumable-chunks", type=int, default=0,
                    help="run INIT_SYNC as N resumable file chunks (a killed "
                         "snapshot restarts from the first unfinished chunk)")
    ap.add_argument("--change-feed", action="store_true",
                    help="publish each commit's delta as the change feed")
    args = ap.parse_args(argv)

    from kafka_connect_dynamodb_spark.plans.pipeline import CdcPipeline
    from kafka_connect_dynamodb_spark.plans.state import InitSyncStatus
    from kafka_connect_dynamodb_spark.lake.table import LakeTable
    from kafka_connect_dynamodb_spark.operators.apply import DangerZoneError
    from kafka_connect_dynamodb_spark.session import get_spark
    from kafka_connect_dynamodb_spark.streaming import tail

    clock = None
    if args.base_ts:
        fixed = datetime.fromisoformat(args.base_ts).replace(tzinfo=timezone.utc)
        clock = lambda: fixed.timestamp()  # noqa: E731

    spark = get_spark("cdc-replay")
    table = LakeTable(args.table, change_feed=args.change_feed)
    pipe = CdcPipeline(spark, table, n_buckets=args.buckets,
                       **({"clock": clock} if clock else {}))

    info = pipe.load_state()
    if info.init_sync_state != InitSyncStatus.FINISHED:
        if args.resumable_chunks > 0:
            info = pipe.init_sync_resumable(args.snapshot,
                                            n_chunks=args.resumable_chunks)
        else:
            info = pipe.init_sync(spark.read.parquet(args.snapshot))
        print(f"INIT_SYNC done: {info.init_sync_count} rows", flush=True)

    # Danger-zone clock (F3): evaluated per micro-batch. --base-ts pins the
    # logical clock (historical replay with the reference's resync semantics);
    # --follow without it uses the wall clock like the reference's per-poll
    # Instant.now(). A plain drain of an old log keeps the check off — every
    # historical event would spuriously look expired against today's clock.
    danger_clock = None
    if clock is not None:
        danger_clock = lambda: datetime.fromtimestamp(clock(), tz=timezone.utc)  # noqa: E731
    elif args.follow:
        danger_clock = lambda: datetime.now(timezone.utc)  # noqa: E731

    start = datetime.fromtimestamp(info.init_sync_start / 1000, tz=timezone.utc)
    metrics: list[dict] = []
    while True:
        q = tail.start_tail(
            spark, args.log, table, checkpoint_dir=args.checkpoint,
            init_sync_start=start,
            clock=danger_clock,
            available_now=not args.follow,
            processing_time=args.trigger if args.follow else None,
            max_files_per_trigger=args.max_files_per_trigger,
            metrics=metrics)
        try:
            q.awaitTermination()
            break
        except Exception as e:  # StreamingQueryException wraps batch errors
            if "DangerZone" in str(e) or isinstance(e, DangerZoneError):
                print("danger zone breached -> resync", flush=True)
                info = pipe.resync(spark.read.parquet(args.snapshot))
                start = datetime.fromtimestamp(info.init_sync_start / 1000,
                                               tz=timezone.utc)
                continue
            raise
    for mrow in metrics[-5:]:
        print("batch:", mrow, flush=True)
    print("final rows:", table.read(spark).count(), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
