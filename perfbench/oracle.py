"""Independent parity oracle for the benchmark, in DuckDB SQL.

It shares no code with the engine: it reads the generated snapshot and
change-log parquet files directly and replays them with the connector's
rules (drop events older than the init-sync start minus the one-hour
window; per key the highest ``seq_no`` wins; ``REMOVE`` deletes the key;
keys no event touches keep their snapshot row).

The parity digest is order-independent: the sha256 of the sorted
``repo \\t path \\t sha256(content)`` lines of the live table.
"""

from __future__ import annotations

import hashlib
from datetime import datetime

import duckdb

WINDOW_HOURS = 1


def digest(rows) -> str:
    """Order-independent digest of ``(repo, path, sha256_hex)`` triples."""
    h = hashlib.sha256()
    for repo, path, sha in sorted(rows):
        h.update(f"{repo}\t{path}\t{sha}\n".encode())
    return h.hexdigest()


def content_sha(content: str | None) -> str:
    return hashlib.sha256((content or "").encode()).hexdigest()


def _events_sql(log_glob: str, init_sync_start: datetime,
                max_file: int | None) -> str:
    """One row per kept event: file index, seq, op, key and content.
    Split logs name their files ``f<index>.parquet``; a bulk log has no
    index and every file counts."""
    start = init_sync_start.strftime("%Y-%m-%d %H:%M:%S")
    file_idx = ("TRY_CAST(regexp_extract(filename, 'f(\\d+)\\.parquet$', 1) "
                "AS INTEGER)")
    where = f"AND {file_idx} <= {int(max_file)}" if max_file is not None else ""
    return f"""
        SELECT {file_idx} AS file_idx,
               CAST(seq_no AS HUGEINT) AS seq,
               event_name,
               json_extract_string(keys, '$.repo.s') AS repo,
               json_extract_string(keys, '$.path.s') AS path,
               json_extract_string(new_image, '$.content.s') AS content
        FROM read_parquet('{log_glob}', filename = true)
        WHERE event_name IN ('INSERT', 'MODIFY', 'REMOVE')
          AND keys IS NOT NULL
          AND ts + INTERVAL {WINDOW_HOURS} HOUR > TIMESTAMPTZ '{start}+00'
          {where}
    """


def final_state_digest(base_dir: str, log_glob: str,
                       init_sync_start: datetime, *,
                       max_file: int | None = None) -> str:
    """Digest of the table after replaying the snapshot and the log (files
    with index <= ``max_file`` when given)."""
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        rows = con.execute(f"""
            WITH ev AS ({_events_sql(log_glob, init_sync_start, max_file)}),
            last AS (
                SELECT repo, path, event_name, content FROM ev
                WHERE repo IS NOT NULL AND path IS NOT NULL
                QUALIFY row_number() OVER (
                    PARTITION BY repo, path ORDER BY seq DESC) = 1),
            base AS (SELECT repo, path, content
                     FROM read_parquet('{base_dir}/*.parquet'))
            SELECT repo, path, sha256(coalesce(content, '')) FROM (
                SELECT repo, path, content FROM last
                WHERE event_name <> 'REMOVE'
                UNION ALL
                SELECT b.repo, b.path, b.content FROM base b
                ANTI JOIN last l ON b.repo = l.repo AND b.path = l.path)
        """).fetchall()
    finally:
        con.close()
    return digest(rows)


def expected_lookups(base_dir: str, log_glob: str, init_sync_start: datetime,
                     lookups: list[tuple[int, str, str]]) -> list[str | None]:
    """For each ``(file_idx, repo, path)``: sha256 of the key's content once
    files ``<= file_idx`` are applied, or None if the key is not live."""
    if not lookups:
        return []
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        con.execute("CREATE TABLE l (i INTEGER, r INTEGER, repo VARCHAR, "
                    "path VARCHAR)")
        con.executemany("INSERT INTO l VALUES (?, ?, ?, ?)",
                        [(i, r, repo, path)
                         for i, (r, repo, path) in enumerate(lookups)])
        rows = con.execute(f"""
            WITH ev AS ({_events_sql(log_glob, init_sync_start, None)}),
            hit AS (
                SELECT l.i, ev.event_name, ev.content FROM l
                JOIN ev ON ev.repo = l.repo AND ev.path = l.path
                       AND ev.file_idx <= l.r
                QUALIFY row_number() OVER (
                    PARTITION BY l.i ORDER BY ev.seq DESC) = 1),
            base AS (SELECT repo, path, content
                     FROM read_parquet('{base_dir}/*.parquet'))
            SELECT l.i,
                   CASE WHEN hit.i IS NULL THEN
                            CASE WHEN b.repo IS NULL THEN NULL
                                 ELSE sha256(coalesce(b.content, '')) END
                        WHEN hit.event_name = 'REMOVE' THEN NULL
                        ELSE sha256(coalesce(hit.content, '')) END
            FROM l LEFT JOIN hit ON hit.i = l.i
            LEFT JOIN base b ON b.repo = l.repo AND b.path = l.path
            ORDER BY l.i
        """).fetchall()
    finally:
        con.close()
    return [sha for _i, sha in rows]
