"""spark-submit entrypoint for the two-phase CDC replay.

On a real cluster:

    spark-submit --py-files kafka_connect_dynamodb_spark.zip \
        scripts/submit_replay.py \
        --snapshot s3://bucket/source_table/ \
        --log s3://bucket/change_log/ \
        --table s3://bucket/replicated_table/ \
        --checkpoint s3://bucket/checkpoints/replicated_table/ \
        --buckets 4096 [--follow --trigger "30 seconds"] [--base-ts 2024-06-01]

Locally: the same module with local paths. The session inherits master/conf
from spark-submit when present; `get_spark` only fills in local-mode defaults
when no master is configured.

Phases (SURVEY §3): INIT_SYNC snapshot unless the table already exists with
FINISHED state, then the streaming tail from the checkpoint
(`CdcPipeline.sync_stream`). The danger-zone check (F3) is armed with
--base-ts (a logical clock for replaying a historical log) or --follow (the
wall clock); a plain drain of an old log keeps it off, since every historical
event would look expired against today's clock. A breach resyncs the table
(T1) and drains the rest of the log with the check off, so a plain drain ends
after at most one resync; --follow then re-arms the check and follows again.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
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
    from kafka_connect_dynamodb_spark.session import get_spark

    clock = time.time
    if args.base_ts:
        fixed = datetime.fromisoformat(args.base_ts).replace(tzinfo=timezone.utc)
        clock = fixed.timestamp

    spark = get_spark("cdc-replay")
    table = LakeTable(args.table, change_feed=args.change_feed)
    pipe = CdcPipeline(spark, table, n_buckets=args.buckets, clock=clock)

    info = pipe.load_state()
    if info.init_sync_state != InitSyncStatus.FINISHED:
        if args.resumable_chunks > 0:
            info = pipe.init_sync_resumable(args.snapshot,
                                            n_chunks=args.resumable_chunks)
        else:
            info = pipe.init_sync(spark.read.parquet(args.snapshot))
        print(f"INIT_SYNC done: {info.init_sync_count} rows", flush=True)

    metrics: list[dict] = []
    while pipe.sync_stream(
            args.log, lambda: spark.read.parquet(args.snapshot),
            checkpoint_dir=args.checkpoint,
            danger_check=bool(args.base_ts) or args.follow,
            available_now=not args.follow,
            processing_time=args.trigger if args.follow else None,
            max_files_per_trigger=args.max_files_per_trigger,
            metrics=metrics):
        print("danger zone breached -> resynced", flush=True)
    for mrow in metrics[-5:]:
        print("batch:", mrow, flush=True)
    print("final rows:", table.read(spark).count(), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
