"""Minimal ACID lake table: versioned parquet + atomic manifest log +
merge-on-read deltas.

No Iceberg/Delta jars ship in this image, so the engine carries its own small
lakehouse layer with the same properties the design needs (SURVEY §4 "custom
work" items 1-3):

* **Versioned manifests** — ``_log/v{N}.json`` lists every live data file with
  its hash bucket. Commit = write-temp + ``os.link`` (fails if the version
  exists → optimistic concurrency, single-winner). Readers see the max
  committed version; crashes leave only unreferenced temp files.
* **Hash-bucket layout** — every base file belongs to one bucket
  ``pmod(xxhash64(repo,path), n_buckets)``; point lookups and folds read
  only the buckets a key or a delta hashes to.
* **Merge-on-read deltas** with a last-writer-wins rule: a MERGE appends
  its batch's winners as ONE delta file (sorted by bucket and key), so its
  cost follows the batch's rows, not the buckets they hash to — at 4,096
  buckets a 1,000-key batch touches ~900 of them. Readers resolve each key
  across base files and deltas: the max ``_seq`` wins, and on equal
  ``_seq`` the earlier commit (base before any delta) does — the strict
  ``s._seq > t._seq`` guard of a copy-on-write merge, and stronger than the
  reference's in-memory monotonic shard register
  (DynamoDBSourceTask.java:419-426) because it survives restarts. Once a
  table holds ``_MAX_DELTAS`` deltas, the merge FOLDS them
  (:meth:`LakeTable.compact`): the buckets they touched are rewritten from
  resolved rows (Hudi's inline compaction after N delta commits).
* **Tombstones** — REMOVE keeps ``(key, _seq, _deleted=true)`` so a late,
  lower-seq MODIFY arriving in a later batch stays dead (SURVEY §7.4.3, the
  durable analog of Kafka tombstones, DynamoDBSourceTask.java:353-361).
  ``compact()`` purges them once no older events can arrive.
* **Idempotent exactly-once commits** — each manifest records the last applied
  ``batch_id`` per source/stream; re-delivered micro-batches (foreachBatch
  retries after crash) are skipped. This upgrades the reference's documented
  at-least-once contract (docs/details.md:33) to exactly-once.
* **Additive schema evolution** — MERGE unions the batch schema into the table
  schema; old files are read with the evolved schema (missing columns → null),
  mirroring Iceberg ``mergeSchema`` / ``ALTER TABLE ADD COLUMNS``.
"""

from __future__ import annotations

import dataclasses
import json
import operator
import os
import re
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from decimal import Decimal
from typing import Any, Callable, Sequence

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_connect_dynamodb_spark.functions.hashing import bucket_of, key_bucket
from kafka_connect_dynamodb_spark.lake.commitio import (
    CommitConflict, CommitIO, PosixCommitIO)
from kafka_connect_dynamodb_spark.lake.feed_source import (
    ChangeFeedSource, log_versions, manifest_path, source_options)
from kafka_connect_dynamodb_spark.operators.lww import (
    SEQ_TYPE, latest_per_key, one_partition)

__all__ = ["LakeTable", "Manifest", "CommitConflict"]

META_COLS = ("_seq", "_deleted")

# commit races a writer absorbs (re-reading the manifest and rebuilding its
# successor each time) before CommitConflict reaches the caller
_COMMIT_RETRIES = 4

# delta commits a table holds before merge folds them into its base files
# (Hudi's hoodie.compact.inline.max.delta.commits default)
_MAX_DELTAS = 5

_MAX_STRING_STAT = 256


_INT_WIDEN_ORDER = ("byte", "short", "integer", "long")

_SCAN_OPS = {"==": operator.eq, "<": operator.lt, "<=": operator.le,
             ">": operator.gt, ">=": operator.ge}


def _typed_lit(v, dt: T.DataType):
    """``v`` as a literal of the column type ``dt``. py4j sends a Python int
    only as a Java long, so a wider one (a 25-digit ``_seq`` watermark)
    travels as a Decimal."""
    if type(v) is int and not -(1 << 63) <= v < (1 << 63):
        v = Decimal(v)
    return F.lit(v).cast(dt)


# the staging dir every commit writes its files under, data/c{v:012d}-{uid}:
# the one parse of a file's commit version (reads, the feed and vacuum)
_COMMIT_DIR = r"c(\d{12})(?:-[0-9a-f]+)?"


def _commit_of_file() -> Column:
    """The commit version a row's file was written at, parsed from its
    staging dir (null for a file in no such dir). ``input_file_name()``
    rather than ``_metadata.file_path``: the metadata column costs a point
    lookup ~50 ms more (measured on 4 cores)."""
    return F.regexp_extract(F.input_file_name(),
                            f"/{_COMMIT_DIR}/", 1).try_cast("long")


def _commit_rank() -> Column:
    """Minus :func:`_commit_of_file`: the tie-break of the resolution order
    (max ``_seq``, then the EARLIER commit). Every delta is newer than every
    base file (a fold or replace leaves no delta behind), and a base file
    holds one row per key, so ranking base rows by their own version still
    puts them before every delta. A file in no such dir ranks as version 0,
    before every delta too."""
    return -F.coalesce(_commit_of_file(), F.lit(0))


def _may_hold_two_versions(base: list[dict[str, Any]],
                           deltas: list[dict[str, Any]]) -> bool:
    """Can these files hold two versions of one key? Base files hold one
    row per key, and so does each commit's delta."""
    return len({d["version"] for d in deltas}) + bool(base) > 1


def _newest(df: DataFrame, key_cols: list[str], point: bool) -> DataFrame:
    """``df`` with every key resolved to its newest version: max ``_seq``,
    then the earlier commit (:func:`_commit_rank`). The rows of ONE key
    (``point``: a lookup's, at most one base file and ``_MAX_DELTAS`` small
    deltas) take an ``orderBy().limit(1)`` over one partition, which needs
    no shuffle, so the lookup stays one Spark job of one stage (the LWW
    aggregate behind the same one partition took 250 against 187 ms of CPU
    per lookup over 3 deltas, on 4 cores). Any other ``df`` goes through
    the engine's LWW reduce."""
    ranked = df.withColumn("_rank", _commit_rank())
    if point:
        out = (ranked.coalesce(1)
                     .orderBy(F.col("_seq").desc(), F.col("_rank").desc())
                     .limit(1))
    else:
        out = latest_per_key(ranked, key_cols, ["_seq", "_rank"])
    return out.select(*df.columns)


def _by_bucket(df: DataFrame, keys: Sequence[str],
               single: bool = False) -> DataFrame:
    """``df`` (with ``_bucket``) laid out for :meth:`LakeTable._stage`:
    each bucket's rows in one task, sorted by bucket and key, so a base
    write emits one file per bucket and a delta one file unless it outgrows
    AQE's advisory partition size. A ``single`` (one-partition,
    :func:`one_partition`) ``df`` takes a ``coalesce(1)`` instead of the
    shuffle: one single-task job. The key sort keeps parquet row-group
    min/max on the keys tight, so point lookups and range scans inside a
    bucket skip row groups (Iceberg sort orders)."""
    out = df.coalesce(1) if single else df.repartition(F.col("_bucket"))
    return out.sortWithinPartitions("_bucket", *keys)


def _widened_type(old_dt, new_dt):
    """The wider type when new_dt is a LOSSLESS widening of old_dt
    (byte<short<int<long, float<double, {byte,short,int}<double — every
    int32 is exact in a float64), else None. long->double is lossy and
    excluded; decimals are out of scope (SEQ_TYPE is fixed)."""
    a, b = old_dt.typeName(), new_dt.typeName()
    if a == b:
        return None
    if a in _INT_WIDEN_ORDER and b in _INT_WIDEN_ORDER \
            and _INT_WIDEN_ORDER.index(b) > _INT_WIDEN_ORDER.index(a):
        return new_dt
    if b == "double" and a in ("float", "byte", "short", "integer"):
        return new_dt
    return None


def _evolved_schema(table: T.StructType, batch: T.StructType,
                    keys: Sequence[str]) -> T.StructType:
    """The table schema after a merge of a ``batch`` of this schema.

    * Additive evolution (SURVEY §7.2 stage 7): a batch payload column the
      table lacks is appended; old files read it as null.
    * Type widening (Delta "type widening"): a payload column arriving
      with a LOSSLESSLY wider type (:func:`_widened_type`) widens the
      table's; old files read through Spark's parquet type promotion.
      Without this the delta would be written wider while the manifest
      stayed narrow — new files unreadable under the recorded schema.
      Narrower batch columns are cast up instead (:func:`_cast_up`).
    * KEY columns must match exactly: the bucket hash is type-sensitive
      (hash(int 5) != hash(bigint 5)), so a widened key would silently
      scatter existing keys across buckets.
    """
    by_name = {f.name: f for f in batch.fields}
    fields = []
    for f in table.fields:
        dt, bf = f.dataType, by_name.get(f.name)
        if bf is not None and f.name in keys and bf.dataType != dt:
            raise ValueError(
                f"key column {f.name!r} type change {dt.simpleString()} -> "
                f"{bf.dataType.simpleString()} is not supported (bucket "
                "hashing is type-sensitive); cast updates to the table's "
                "key type")
        if bf is not None and f.name not in keys and f.name not in META_COLS:
            dt = _widened_type(dt, bf.dataType) or dt
        fields.append(T.StructField(f.name, dt, f.nullable, f.metadata))
    # new payload columns are nullable: tombstones null them out
    skip = {*table.fieldNames(), *keys, "_op", *META_COLS}
    fields += [T.StructField(f.name, f.dataType, True) for f in batch.fields
               if f.name not in skip]
    return T.StructType(fields)


def _cast_up(c: Column, name: str, batch_dt: T.DataType,
             table_dt: T.DataType) -> Column:
    """``c`` (a batch column of type ``batch_dt``) as the table's type
    ``table_dt`` — only when that is a recognized LOSSLESS widening of
    ``batch_dt`` (the inverse of :func:`_evolved_schema`'s rule). A blind
    cast would silently truncate (double sent for a long column) or null
    out (string for numeric) under non-ANSI Spark."""
    if batch_dt == table_dt:
        return c
    if _widened_type(batch_dt, table_dt) != table_dt:
        raise ValueError(
            f"column {name!r}: update type {batch_dt.simpleString()} is not "
            f"a lossless narrowing of the table type "
            f"{table_dt.simpleString()}; cast the batch explicitly if the "
            "loss is intended")
    return c.cast(table_dt)


def _json_stat(v):
    """Normalize a parquet footer stat to a JSON-safe, totally-ordered value;
    None = type not usable for pruning (timestamps, exotic logicals).

    Long string stats are rejected outright: parquet writers may TRUNCATE
    min/max for wide binary values, and a truncated max is a lexicographic
    PREFIX (smaller than the true max) — pruning on it would wrongly skip
    files. Short strings (keys, enums, shas) are stored exactly."""
    from decimal import Decimal
    if isinstance(v, bytes):
        try:
            v = v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, str):
        return v if len(v) < _MAX_STRING_STAT else None
    if isinstance(v, (bool, int, float)):
        return v
    if isinstance(v, Decimal):
        return int(v) if v == v.to_integral_value() else float(v)
    return None


def _footer_stats(path: str) -> dict[str, list]:
    """Per-file min/max column stats from the parquet FOOTER the write just
    produced (pyarrow metadata read — no data pass). Iceberg collects the
    same stats into its manifests; here they ride the LakeTable manifest
    entry so :meth:`LakeTable.scan` can skip files at planning time. Only
    top-level atomic columns with stats in EVERY row group qualify —
    anything else is simply not prunable (never wrong, just unpruned)."""
    try:
        import pyarrow.parquet as pq
        md = pq.ParquetFile(path).metadata
    except Exception:
        return {}
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    bad: set[str] = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if "." in name:                       # nested leaf: skip
                bad.add(name.split(".")[0])
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                bad.add(name)
                continue
            lo, hi = _json_stat(st.min), _json_stat(st.max)
            if lo is None or hi is None:
                bad.add(name)
                continue
            if name in mins:
                mins[name] = min(mins[name], lo)
                maxs[name] = max(maxs[name], hi)
            else:
                mins[name], maxs[name] = lo, hi
    out = {c: [mins[c], maxs[c]] for c in mins if c not in bad}
    # file row count under a reserved key no real column can shadow (only
    # set if no column claimed the name): drives metadata-only COUNTs
    if "#rows" not in out:
        out["#rows"] = md.num_rows
    return out


def _file_may_match(stats: dict[str, list], col: str, op: str, val) -> bool:
    """Can a file with these stats contain a row satisfying ``col op val``?
    Missing stats (evolved/unpruned column) => must keep the file."""
    rng = stats.get(col)
    if not rng:
        return True
    lo, hi = rng
    try:
        if op == "==":
            return lo <= val <= hi
        if op == "<":
            return lo < val
        if op == "<=":
            return lo <= val
        if op == ">":
            return hi > val
        if op == ">=":
            return hi >= val
    except TypeError:
        return True          # incomparable predicate value: don't prune
    raise ValueError(f"unsupported op {op!r}")


@dataclass
class Manifest:
    version: int
    table: str
    key_cols: list[str]
    n_buckets: int
    schema_json: str                       # StructType.json() of stored columns
    files: list[dict[str, Any]] = field(default_factory=list)   # base: {path, bucket}
    committed: dict[str, int] = field(default_factory=dict)     # source -> last batch_id
    properties: dict[str, Any] = field(default_factory=dict)    # free-form (state doc etc.)
    lineage: list[dict[str, Any]] = field(default_factory=list) # this commit's metrics only
    # change feed, oldest first: {version, path} of files already committed
    # as data (deltas, a replace's base files) or as a pre-image feed
    change_files: list[dict[str, Any]] = field(default_factory=list)
    committed_at_ms: int = 0               # wall-clock commit stamp (AS OF reads)
    # merge-on-read deltas, oldest first: {path, version, buckets, stats}
    deltas: list[dict[str, Any]] = field(default_factory=list)

    def schema(self) -> T.StructType:
        return T.StructType.fromJson(json.loads(self.schema_json))

    def to_json(self) -> str:
        return json.dumps(self.__dict__, sort_keys=True)

    @staticmethod
    def from_json(s: str) -> "Manifest":
        return Manifest(**json.loads(s))


class LakeTable:
    """A bucketed, versioned parquet table with atomic commits and
    merge-on-read delta merges.

    All driver-side metadata I/O goes through ``io`` (commitio.CommitIO) —
    swap in a rename-based (HDFS) or conditional-put (S3) implementation to
    run the same commit protocol on an object store; see commitio.py for the
    per-store atomicity contract.
    """

    def __init__(self, root: str, io: CommitIO | None = None, *,
                 change_feed: bool = False, feed_preimages: bool = False,
                 file_stats: bool = True):
        """``change_feed=True`` makes every MERGE publish its compacted
        per-commit delta (the LWW winners it applied) as the change feed —
        the engine's CDC-OUT surface, mirroring the reference's table->event
        emission direction; read back with :meth:`changes` and
        :meth:`stream_changes`. The feed IS the data delta, named by
        reference in ``Manifest.change_files``, so it costs no write.

        ``feed_preimages=True`` (requires ``change_feed``) upgrades the
        delta to Delta-CDF-shaped changes: only APPLIED post-image rows are
        published (submitted winners that lose the seq guard against the
        table are omitted — they are no-ops for replay and would corrupt
        additive consumers), and every applied row that overwrote or
        deleted a LIVE row is accompanied by that row's pre-image with
        ``_op='pu'`` (update pre-image) / ``'pd'`` (delete pre-image) and
        the OLD ``_seq``. Pre-images make grouped aggregates incrementally
        maintainable with NO keyed state (delta = post - pre; see
        operators/incremental.py) — at 100 TB the view refresh cost is
        proportional to churn, never to table size. Costs one extra
        bucket-pruned join per merge, hence opt-in.

        How pre-images survive merge-on-read: the merge still writes its
        DATA as a plain delta, but on a ``feed_preimages`` table it keeps
        the bucket-pruned join to compute the feed, now against the
        touched buckets' base files and deltas resolved per key
        (:meth:`_feed_with_preimages`), and writes that feed as one more
        file of the commit (pre-images cannot go into the delta: a delta
        holds one row per key). Emitting pre-images at fold time
        instead would need every delta's winners kept until the fold, and
        the feed of a commit would lag it by up to ``_MAX_DELTAS`` commits.

        ``file_stats=True`` (default) records per-file min/max column stats
        in the manifest at commit time (read from the parquet footers the
        write already produced — metadata-only, no data re-read), enabling
        :meth:`scan` to skip files by predicate — the Iceberg/Delta
        data-skipping analog, and the non-key-column complement to the hash
        bucket pruning folds and read_key already use."""
        if feed_preimages and not change_feed:
            raise ValueError("feed_preimages requires change_feed=True")
        self.root = root
        self.log_dir = os.path.join(root, "_log")
        self.io = io if io is not None else PosixCommitIO()
        self.change_feed = change_feed
        self.feed_preimages = feed_preimages
        self.file_stats = file_stats

    # ------------------------------------------------------------------ log

    def exists(self) -> bool:
        return bool(self._versions())

    def _versions(self) -> list[int]:
        return log_versions(self.io, self.log_dir)

    def current_version(self) -> int:
        vs = self._versions()
        if not vs:
            raise FileNotFoundError(f"no committed version in {self.log_dir}")
        return vs[-1]

    def manifest(self, version: int | None = None) -> Manifest:
        v = self.current_version() if version is None else version
        return Manifest.from_json(
            self.io.read_text(manifest_path(self.log_dir, v)))

    def _commit(self, m: Manifest, parent: Manifest | None = None) -> None:
        """Atomic single-winner commit (CommitIO.put_if_absent contract).

        The AS-OF stamp is clamped to the parent's so ``committed_at_ms`` is
        monotone across versions even when committers' wall clocks skew
        (merge job vs maintenance job on different drivers): without the
        clamp, version_as_of could resolve a timestamp to a version that
        excludes an earlier-stamped but later-committed change."""
        import time
        if not m.committed_at_ms:
            m.committed_at_ms = int(time.time() * 1000)
        if parent is not None:
            m.committed_at_ms = max(m.committed_at_ms, parent.committed_at_ms)
        self.io.put_if_absent(manifest_path(self.log_dir, m.version),
                              m.to_json())

    def _transact(self, attempt: Callable[[Manifest], Manifest]
                  ) -> Manifest | None:
        """The optimistic commit loop every writer runs (the Delta log
        protocol): read the manifest ``m``, let ``attempt(m)`` build its
        successor (or return ``m`` itself: nothing to commit, and None is
        returned), then put it if absent. Losing the race to another
        committer — the put conflicts, or any step fails once another
        commit took the version (vacuum reclaims a loser's staging dir,
        even mid-write) — reruns ``attempt`` against the new manifest, at
        most ``_COMMIT_RETRIES`` times. A lost or crashed attempt's files
        are named by no manifest, so no reader (the change feed included)
        sees them, and :meth:`vacuum` reclaims them."""
        for tries in range(_COMMIT_RETRIES + 1):
            m = self.manifest()
            try:
                new_m = attempt(m)
                if new_m is m:
                    return None
                self._commit(new_m, parent=m)
                return new_m
            except Exception:
                if tries == _COMMIT_RETRIES or self.current_version() == m.version:
                    raise

    def _next(self, m: Manifest, lineage_entry: dict[str, Any], *,
              feed: Sequence[dict[str, Any]] = (), **fields) -> Manifest:
        """The successor of ``m`` with ``fields`` replaced and
        ``lineage_entry`` its one lineage entry (:meth:`history` reads the
        log). Its stamp is left for :meth:`_commit`. ``feed`` lists the file
        entries this version publishes as its change feed: files the
        attempt already wrote, added to ``change_files`` by reference."""
        version = m.version + 1
        change_files = fields.pop("change_files", m.change_files) + [
            {"version": version, "path": e["path"]} for e in feed]
        return dataclasses.replace(
            m, version=version, committed_at_ms=0, change_files=change_files,
            lineage=[{"commit": version, **lineage_entry}],
            **fields)

    # ---------------------------------------------------------------- layout

    def _staging_dir(self, version: int) -> str:
        """A fresh staging dir for files of commit ``version``,
        ``data/c{version:012d}-{uid}`` (:data:`_COMMIT_DIR`)."""
        return os.path.join(self.root, "data",
                            f"c{version:012d}-{uuid.uuid4().hex[:8]}")

    def _stage(self, out: DataFrame, version: int, *, base: bool = False
               ) -> tuple[list[dict[str, Any]], int]:
        """Write ``out``, laid out by the caller, as files of commit
        ``version``; return their entries, sorted by path, and the row
        count. Every file a commit writes is staged here.

        A ``base`` frame is written partitioned by ``_bucket``, and each
        entry names the bucket of its ``_bucket=N`` dir. Any other frame is
        written flat: a delta (it carries ``_bucket``, left out of the
        files), whose entries carry the commit version and its bucket set,
        or a pre-image feed (no ``_bucket``), whose entries name only their
        path. Base files and deltas carry footer stats (:func:`_footer_stats`).

        One ``observe`` on the write yields the row count and the bucket
        set, with no extra job. It sits ABOVE the caller's coalesce or
        shuffle, which never yields zero partitions, so an empty input
        still reports its zero count. An empty write leaves no entry and no
        data file: a flat one writes one empty file, removed with its dir;
        a partitioned one writes none. The staging prefix is then listed
        ONCE (:meth:`CommitIO.walk_files`), one LIST request on an object
        store, not one per bucket dir.

        The staging dir is fresh per call (:meth:`_staging_dir`): an
        attempt that crashed after staging but before its manifest commit
        leaves an orphan that cannot collide with the redelivered batch's
        errorifexists write, and :meth:`vacuum` reclaims it."""
        staged = self._staging_dir(version)
        bucketed = "_bucket" in out.columns
        obs = Observation()
        metrics = [F.count(F.lit(1)).alias("rows")]
        if bucketed:
            metrics.append(F.collect_set("_bucket").alias("buckets"))
        out = out.observe(obs, *metrics)
        w = out.write.partitionBy("_bucket") if base else out.drop("_bucket").write
        w.mode("errorifexists").parquet(staged)
        got = obs.get
        if got["rows"] == 0:
            if not base:
                self.io.remove_tree(staged)
            return [], 0
        delta = ({"version": version, "buckets": sorted(got["buckets"])}
                 if bucketed and not base else {})
        entries = []
        for d, files in self.io.walk_files(staged):
            for f in files:
                if f.endswith(".parquet"):
                    entries.append(
                        {"path": os.path.relpath(os.path.join(d, f), self.root),
                         **({"bucket": int(d.rsplit("=", 1)[1])} if base
                            else delta)})
        entries.sort(key=operator.itemgetter("path"))
        if bucketed and self.file_stats:
            # footers are read on the driver by a thread pool: metadata
            # reads, no Spark job (at 4,096 one-row files a distributed
            # footer job measured no faster on 4 cores)
            paths = [os.path.join(self.root, e["path"]) for e in entries]
            with ThreadPoolExecutor(max_workers=min(16, len(paths))) as pool:
                for e, stats in zip(entries, pool.map(_footer_stats, paths)):
                    if stats:
                        e["stats"] = stats
        return entries, got["rows"]

    def _read_files(self, spark: SparkSession, schema: T.StructType,
                    entries: list[dict[str, Any]]) -> DataFrame:
        """Read exactly the manifest's files. Planning runs no Spark job:
        the schema is given, and session.get_spark raises the parallel
        listing threshold above the file count of a 4,096-bucket table, so
        the paths are stat'ed on the driver."""
        if not entries:
            return spark.createDataFrame([], schema)
        paths = [os.path.join(self.root, e["path"]) for e in entries]
        # Explicit schema => missing (newly-evolved) columns read as null.
        return spark.read.schema(schema).parquet(*paths)

    def _resolved(self, spark: SparkSession, m: Manifest,
                  base: list[dict[str, Any]], deltas: list[dict[str, Any]],
                  schema: T.StructType | None = None) -> DataFrame:
        """The rows of ``base`` files and ``deltas`` with every key resolved
        to its newest version (tombstones included) by :func:`_newest`.
        Files that cannot hold two versions of one key
        (:func:`_may_hold_two_versions`) are read as they are, with no
        shuffle. ``schema`` (default: the table's) must carry the keys and
        ``_seq``."""
        df = self._read_files(spark, schema or m.schema(), base + deltas)
        if not _may_hold_two_versions(base, deltas):
            return df
        return _newest(df, m.key_cols, point=False)

    # ---------------------------------------------------------------- create

    def create(self, spark: SparkSession, df: DataFrame, key_cols: list[str],
               n_buckets: int = 64, table: str = "table",
               seq_col: str | None = None,
               properties: dict[str, Any] | None = None) -> Manifest:
        """Initialize the table from a snapshot (INIT_SYNC result).

        Snapshot rows get ``_seq`` (0 unless ``seq_col`` given) and
        ``_deleted=false`` — op 'r' rows in envelope terms (Envelope.java:21).
        """
        if self.exists():
            raise FileExistsError(f"table already exists at {self.root}")
        stored, data_schema = self._snapshot_rows(df, seq_col, key_cols,
                                                  n_buckets)
        entries, n = self._stage(stored, 1, base=True)
        m = Manifest(version=1, table=table, key_cols=list(key_cols),
                     n_buckets=n_buckets, schema_json=json.dumps(data_schema.jsonValue()),
                     files=entries, committed={}, properties=properties or {},
                     lineage=[{"commit": 1, "op": "create", "rows_in": n,
                               "files_written": len(entries)}])
        self._commit(m)
        return m

    @staticmethod
    def _snapshot_rows(df: DataFrame, seq_col: str | None,
                       key_cols: list[str], n_buckets: int
                       ) -> tuple[DataFrame, T.StructType]:
        """Snapshot rows as stored (``_seq`` from ``seq_col`` or 0,
        ``_deleted=false``) plus their ``_bucket``, in one projection laid
        out by :func:`_by_bucket`, and the stored schema. A meta column
        ``df`` already has is replaced in place, and ``seq_col`` itself is
        not stored."""
        seq = F.lit(0) if seq_col is None else F.col(seq_col)
        meta = {"_seq": seq.cast(SEQ_TYPE), "_deleted": F.lit(False)}
        cols = [meta.pop(c).alias(c) if c in meta else F.col(c)
                for c in df.columns if c != seq_col or c == "_seq"]
        stored = df.select(*cols, *[v.alias(c) for c, v in meta.items()],
                           bucket_of(key_cols, n_buckets).alias("_bucket"))
        return (_by_bucket(stored, key_cols),
                T.StructType(stored.schema.fields[:-1]))

    def create_empty(self, spark: SparkSession, schema: T.StructType,
                     key_cols: list[str], n_buckets: int = 64,
                     table: str = "table") -> Manifest:
        empty = spark.createDataFrame([], schema)
        return self.create(spark, empty, key_cols, n_buckets, table)

    def replace(self, spark: SparkSession, df: DataFrame,
                key_cols: list[str] | None = None, *,
                n_buckets: int | None = None,
                seq_col: str | None = None,
                properties: dict[str, Any] | None = None) -> Manifest:
        """Truncate-and-reload in ONE atomic manifest commit — the
        danger-zone re-snapshot path (the reference treats resync as a
        first-class recovery, DynamoDBSourceTask.java:318-331).

        No tree deletion anywhere: the new snapshot's files are staged like
        any commit, and the manifest swap makes them the entire table in one
        ``put_if_absent`` — the storage-agnostic move (an S3 prefix has no
        rmtree). Old files stay readable for retained versions until
        expire+vacuum reclaims them. Committed batch markers and properties
        reset (a resync restarts the stream's exactly-once lineage from
        scratch); the change-feed history is preserved for late consumers.

        On a ``change_feed`` table the new snapshot is ALSO published as a
        feed epoch of op-'r' rows — the reference re-publishes INIT_SYNC
        records to the topic on resync (DynamoDBSourceTask.java:246-249,318-331),
        and without it a downstream mirror would silently diverge after a
        danger-zone re-snapshot. ``streaming.feed.mirror_changes`` detects
        the 'r' epoch and truncates its table to it. The epoch is the new
        base files themselves, named in ``change_files``: they carry an
        ``_op='r'`` column (outside the table schema, so table reads never
        see it), and ``df`` is written once and evaluated once.

        Each attempt writes the snapshot under the version it tries to
        commit, as merge and compact do. Losing a commit race (a
        maintenance job landing mid-resync) reruns the attempt in
        :meth:`_transact`, which writes ``df`` again; the lost attempt's
        files are named by no manifest, and :meth:`vacuum` reclaims
        them."""
        m0 = self.manifest()
        key_cols = list(key_cols) if key_cols is not None else m0.key_cols
        n_buckets = n_buckets if n_buckets is not None else m0.n_buckets
        stored, data_schema = self._snapshot_rows(df, seq_col, key_cols,
                                                  n_buckets)
        stored = stored.withColumn("_op", F.lit("r"))

        def attempt(m: Manifest) -> Manifest:
            entries, n = self._stage(stored, m.version + 1, base=True)
            return self._next(
                m, {"op": "replace", "rows_in": n,
                    "files_written": len(entries)},
                feed=entries if self.change_feed else (),
                key_cols=key_cols, n_buckets=n_buckets,
                schema_json=json.dumps(data_schema.jsonValue()),
                files=entries, deltas=[], committed={},
                properties=properties or {})

        return self._transact(attempt)

    # ------------------------------------------------------------------ read

    def read(self, spark: SparkSession, *, include_meta: bool = False,
             include_deleted: bool = False, version: int | None = None,
             columns: list[str] | None = None) -> DataFrame:
        """Current (or time-traveled) live rows, each key resolved across
        base files and deltas (:meth:`_resolved`); tombstones filtered
        unless ``include_deleted`` (maintenance/inspection). ``columns``
        projects early so column pruning reaches the parquet scan
        (ReadSchema carries only the requested columns + the keys and meta
        cols resolution and the filter need)."""
        m = self.manifest(version)
        sch = m.schema()
        out = [f.name for f in sch.fields]
        if columns is not None:
            # a caller naming a meta column (e.g. "_seq") must not duplicate
            # it against the META_COLS the filter needs; include_meta governs
            # whether it survives the final drop
            out = [*[c for c in columns if c not in META_COLS], *META_COLS]
            need = {*out, *m.key_cols}
            sch = T.StructType([f for f in sch.fields if f.name in need])
        df = self._resolved(spark, m, m.files, m.deltas, sch).select(*out)
        if not include_deleted:
            df = df.filter(~F.col("_deleted"))
        if not include_meta:
            df = df.drop(*META_COLS)
        return df

    def history(self, spark: SparkSession) -> DataFrame:
        """Commit history as a DataFrame (Iceberg ``table.history`` analog),
        the one commit-history view: one row per retained version with its
        stamp and its own lineage entry (the last, in an older manifest that
        carried earlier commits' too) — driver-side metadata only."""
        rows = []
        for v in self._versions():
            m = self.manifest(v)
            own = m.lineage[-1] if m.lineage else {}
            # the schema picks the lineage columns out of the entry
            rows.append({**own, "version": v,
                         "committed_at_ms": m.committed_at_ms,
                         "op": str(own.get("op", "")),
                         "source": str(own.get("source") or ""),
                         "n_files": len(m.files)})
        schema = ("version long, committed_at_ms long, op string, "
                  "source string, batch_id long, rows_in long, "
                  "buckets_touched long, files_rewritten long, "
                  "files_written long, n_files long")
        return spark.createDataFrame(rows, schema)

    def version_as_of(self, ts_ms: int) -> int:
        """Latest version committed at or before ``ts_ms`` (AS OF reads)."""
        best = None
        for v in self._versions():
            if self.manifest(v).committed_at_ms <= ts_ms:
                best = v
        if best is None:
            raise FileNotFoundError(
                f"no version committed at or before {ts_ms} in {self.log_dir}")
        return best

    def read_as_of(self, spark: SparkSession, ts_ms: int, **kw) -> DataFrame:
        """Time travel by wall-clock: read the table as it was at ``ts_ms``."""
        return self.read(spark, version=self.version_as_of(ts_ms), **kw)

    def count_live(self, spark: SparkSession, *,
                   version: int | None = None) -> int:
        """Exact live-row count, answered from manifest stats wherever
        possible (Iceberg/Delta's metadata-only COUNT(*)): a base file in a
        bucket no delta touches, whose footer ``_deleted`` min/max is
        [false,false], contributes its row count with no I/O; [true,true]
        (all tombstones) contributes zero. Only the rest — MIXED files
        (buckets touched by deletes since their last compaction), plus the
        base files of delta-touched buckets and the deltas themselves — is
        scanned, reading the keys and meta columns, and resolved
        (:meth:`_resolved`) only when deltas exist. At 100 TB steady state
        the untouched majority of buckets resolves driver-side; cost ∝
        churn since the last fold, not table size."""
        m = self.manifest(version)
        touched = {b for d in m.deltas for b in d["buckets"]}
        total = 0
        residual = []
        for e in m.files:
            st = e.get("stats") or {}
            nr = st.get("#rows")
            dmm = st.get("_deleted")
            if e["bucket"] in touched or nr is None:
                residual.append(e)
            elif dmm == [False, False]:
                total += int(nr)
            elif dmm != [True, True]:
                residual.append(e)
        if residual or m.deltas:
            full = m.schema()
            sch = T.StructType([full[c] for c in (*m.key_cols, *META_COLS)])
            total += (self._resolved(spark, m, residual, m.deltas, sch)
                          .filter(~F.col("_deleted")).count())
        return total

    def diff(self, spark: SparkSession, *, from_version: int,
             to_version: int | None = None) -> DataFrame:
        """Semantic row diff between two committed versions (Delta
        ``table_changes``' NET effect, computed from state, not the feed):
        one row per key whose LIVE CONTENT differs — ``_change`` is
        'insert' (key live only in ``to``), 'delete' (only in ``from``) or
        'update' (both live, payload content differs), with the full old
        and new payload structs and both ``_seq`` stamps.

        Content-true: rows are compared with a null-safe struct equality
        on the data columns, NOT by ``_seq`` — so the diff is correct
        across a ``replace()`` resync (which resets seqs) and reports
        nothing for an LWW winner that rewrote identical content.

        Scale shape — cost ∝ churn, not table size: no file is ever
        mutated in place, so a bucket can differ only if its base file set
        differs between the versions, or a delta present on one side only
        touches it. Only those changed buckets are read on either side:
        their base files plus the deltas touching them, resolved per key
        (:meth:`_resolved`). At 100 TB / 4096 buckets a 10-bucket commit
        diff scans ~0.25% of the table. A delta read for a changed bucket
        may also hold rows of unchanged buckets; it is present on both
        sides with the same companions, so those rows resolve alike and
        emit nothing. Folds and compaction/z-order rewrites re-file
        buckets, so those diffs read the rewritten buckets (and still emit
        nothing for unchanged content)."""
        m_from = self.manifest(from_version)
        m_to = self.manifest(to_version)
        if m_from.key_cols != m_to.key_cols:
            raise ValueError("key columns changed between versions")
        key_cols = list(m_to.key_cols)

        by_bucket: dict[int, list[set[str]]] = {}
        for e in m_from.files:
            by_bucket.setdefault(e["bucket"], [set(), set()])[0].add(e["path"])
        for e in m_to.files:
            by_bucket.setdefault(e["bucket"], [set(), set()])[1].add(e["path"])
        changed = {b for b, (f, t) in by_bucket.items() if f != t}
        from_deltas = {d["path"] for d in m_from.deltas}
        to_deltas = {d["path"] for d in m_to.deltas}
        changed |= {b for d in m_from.deltas + m_to.deltas
                    if d["path"] not in from_deltas & to_deltas
                    for b in d["buckets"]}

        sch_to = m_to.schema()
        data_cols = [f.name for f in sch_to.fields
                     if f.name not in META_COLS and f.name not in key_cols]

        def side(m, alias):
            df = self._resolved(
                spark, m, [e for e in m.files if e["bucket"] in changed],
                [d for d in m.deltas if changed.intersection(d["buckets"])]
            ).filter(~F.col("_deleted"))
            # evolved columns null-fill on the narrow side (same
            # convention as every multi-version read here)
            have = set(df.columns)
            cols = [*key_cols,
                    *[F.col(c) if c in have
                      else F.lit(None).cast(sch_to[c].dataType).alias(c)
                      for c in data_cols], "_seq"]
            return df.select(*cols).alias(alias)

        o, n = side(m_from, "o"), side(m_to, "n")
        pay = lambda a: F.struct(  # noqa: E731
            *[F.col(f"{a}.{c}") for c in data_cols])
        j = o.join(n, key_cols, "full_outer")
        change = (F.when(F.col("o._seq").isNull(), F.lit("insert"))
                   .when(F.col("n._seq").isNull(), F.lit("delete"))
                   .when(~pay("o").eqNullSafe(pay("n")), F.lit("update")))
        return (j.withColumn("_change", change)
                 .filter(F.col("_change").isNotNull())
                 .select(*key_cols, "_change",
                         F.when(F.col("o._seq").isNotNull(), pay("o"))
                          .alias("old"),
                         F.when(F.col("n._seq").isNotNull(), pay("n"))
                          .alias("new"),
                         F.col("o._seq").alias("_seq_old"),
                         F.col("n._seq").alias("_seq_new")))

    def read_key(self, spark: SparkSession, key_values: dict[str, Any], *,
                 include_meta: bool = False) -> DataFrame:
        """Point lookup: :meth:`scan` with an equality predicate on every
        key column, so it reads only the key's hash bucket and the deltas
        that touch it, cut further by key stats."""
        m = self.manifest()
        if set(key_values) != set(m.key_cols):
            raise ValueError(f"need exactly keys {m.key_cols}")
        return self._scan(spark, m, [(c, "==", key_values[c])
                                     for c in m.key_cols], include_meta)

    def _bucket_of(self, spark: SparkSession, m: Manifest,
                   key_values: dict[str, Any]) -> int:
        """Hash bucket of a concrete key, hashed as the table's key dtypes
        (xxhash64 is input-TYPE-sensitive: an int hashes differently as
        IntegerType and as LongType). String and integral keys hash on the
        driver with no Spark job (hashing.key_bucket); any other key type,
        or a value whose Python type does not match its column, falls back
        to a 1-row job evaluating bucket_of on literals cast to the key
        dtypes — the expression every write evaluates."""
        sch = m.schema()
        types = [sch[c].dataType for c in m.key_cols]
        values = [key_values[c] for c in m.key_cols]
        b = key_bucket(values, types, m.n_buckets)
        if b is not None:
            return b
        lits = [_typed_lit(v, dt) for v, dt in zip(values, types)]
        return spark.range(1).select(
            bucket_of(lits, m.n_buckets).alias("b")).collect()[0]["b"]

    def pruned_entries(self, predicates: list[tuple[str, str, Any]],
                       version: int | None = None) -> list[dict[str, Any]]:
        """Base file and delta entries that MAY hold a row satisfying every
        predicate, judged purely from the manifest's per-file stats — the
        planning-time skip set for :meth:`scan` (exposed for
        tests/inspection)."""
        base, deltas = self._pruned(self.manifest(version), predicates)
        return base + deltas

    @staticmethod
    def _pruned(m: Manifest, predicates: list[tuple[str, str, Any]]
                ) -> tuple[list[dict[str, Any]], list[dict[str, Any]]]:
        """(base files, deltas) of ``m`` that may satisfy ``predicates``.
        With deltas, only key-column predicates and ``_seq`` lower bounds
        prune. Every version of a key has the same key values, so a key
        predicate skips whole keys; a key's newest version has its max
        ``_seq``, so a file whose ``_seq`` max fails ``> w`` holds only
        versions the predicate drops anyway. A predicate on any other
        column would skip a newer version and let a stale one through
        resolution."""
        if m.deltas:
            predicates = [p for p in predicates if p[0] in m.key_cols
                          or (p[0] == "_seq" and p[1] in (">", ">="))]
        may = lambda e: all(  # noqa: E731
            _file_may_match(e.get("stats") or {}, c, op, v)
            for (c, op, v) in predicates)
        return ([e for e in m.files if may(e)],
                [d for d in m.deltas if may(d)])

    def scan(self, spark: SparkSession,
             predicates: list[tuple[str, str, Any]], *,
             include_meta: bool = False,
             version: int | None = None) -> DataFrame:
        """Stats-pruned read: ``predicates`` are ``(col, op, value)`` with op
        in {'==','<','<=','>','>='}, ANDed. Files whose footer-collected
        [min,max] cannot satisfy a predicate are dropped at PLANNING time
        from the manifest alone — no listing job (see :meth:`_read_files`),
        no footer reads at query time; at 100 TB a selective range over a
        sorted-ish column (commit seq-no, ingest day) turns a full-table
        scan into a handful of files, on top of parquet row-group pruning
        inside the survivors. On a table with deltas only key-column
        predicates and ``_seq`` lower bounds prune (:meth:`_pruned`): a
        ``_seq > w`` watermark then keeps just the deltas written since
        ``w``, since base files hold only older versions. Each value is
        cast to its column's type (a 25-digit ``_seq`` watermark compares
        as the decimal it is). Key-column predicates filter the rows read;
        the kept rows are then resolved per key (:func:`_newest`) only when
        the kept files can hold two versions of one key — more than one
        delta, or a delta plus base files — and the other predicates filter
        the resolved rows, so results are exact (skipping is a superset
        filter, never wrong).

        When every key column carries an equality predicate (a point
        lookup, :meth:`read_key`), the key's hash bucket prunes as well
        (stats ∩ bucket), and the key resolves by a top-1."""
        return self._scan(spark, self.manifest(version), predicates,
                          include_meta)

    def _scan(self, spark: SparkSession, m: Manifest,
              predicates: list[tuple[str, str, Any]],
              include_meta: bool) -> DataFrame:
        """:meth:`scan` of the version ``m``."""
        base, deltas = self._pruned(m, predicates)
        eq = {c: v for (c, op, v) in predicates if op == "=="}
        point = all(k in eq for k in m.key_cols)
        if point:
            b = self._bucket_of(spark, m, {k: eq[k] for k in m.key_cols})
            base = [e for e in base if e["bucket"] == b]
            deltas = [d for d in deltas if b in d["buckets"]]
        sch = m.schema()
        cond = lambda c, op, v: _SCAN_OPS[op](  # noqa: E731
            F.col(c), _typed_lit(v, sch[c].dataType))
        df = self._read_files(spark, sch, base + deltas)
        for p in predicates:
            if p[0] in m.key_cols:
                df = df.filter(cond(*p))
        if _may_hold_two_versions(base, deltas):
            df = _newest(df, m.key_cols, point)
        df = df.filter(~F.col("_deleted"))
        for p in predicates:
            if p[0] not in m.key_cols:
                df = df.filter(cond(*p))
        if not include_meta:
            df = df.drop(*META_COLS)
        return df

    # ----------------------------------------------------------------- merge

    def last_committed(self, source: str) -> int:
        try:
            return self.manifest().committed.get(source, -1)
        except FileNotFoundError:
            return -1

    def merge(self, spark: SparkSession, updates: DataFrame, *,
              batch_id: int | None = None, source: str = "default"
              ) -> dict[str, Any]:
        """Apply a batch of LWW-deduped changes (columns: keys + payload +
        ``_op`` + ``_seq``).

        Precondition: ONE row per key. A commit's delta must hold one
        version per key, because readers resolve a delta against older
        files but never within itself (:func:`_may_hold_two_versions`);
        callers LWW-reduce first (``operators.apply.prepare_winners``,
        ``streaming.feed``).

        Physical plan: one write of the batch as this commit's DELTA —
        sorted by bucket and key, usually one file; shuffled on ``_bucket``
        unless ``updates`` is one partition (:func:`_by_bucket`) — whose
        ``observe`` yields ``rows_in`` and the touched buckets
        (:meth:`_stage`); then
        an atomic manifest commit that appends the delta and references
        every base file unchanged. No target read, no join, no bucket
        rewrite: stale winners (``_seq`` not above the stored row's) are
        written too and lose at read time (:meth:`_resolved`). Lineage
        records ``files_rewritten: 0``.

        When the commit leaves ``_MAX_DELTAS`` or more deltas, the merge
        then FOLDS them (:meth:`compact` over the buckets they touched) as
        a commit of its own. A fold that fails raises to the caller but
        leaves the merge committed and the table readable; the next merge
        folds.

        Exactly-once: if ``batch_id <= committed[source]`` the call is a no-op
        (foreachBatch redelivery after crash).

        Multi-writer liveness: the merge runs inside :meth:`_transact`, so
        if another committer (a maintenance job, a concurrent stream) wins
        the optimistic commit race, the batch is re-checked and recomputed
        against the new manifest — the standard lakehouse
        read-check-recompute-commit loop.
        """
        def attempt(m: Manifest) -> Manifest:
            if batch_id is not None and batch_id <= m.committed.get(source, -1):
                return m
            return self._merge_attempt(spark, updates, m, batch_id=batch_id,
                                       source=source)

        new_m = self._transact(attempt)
        if new_m is None:
            return {"skipped": True, "batch_id": batch_id}
        if len({d["version"] for d in new_m.deltas}) >= _MAX_DELTAS:
            self.compact(spark, target_buckets=[])
        e = new_m.lineage[-1]
        return {"skipped": False, "batch_id": batch_id,
                "version": new_m.version,
                **{k: e[k] for k in ("rows_in", "buckets_touched") if k in e}}

    def _merge_attempt(self, spark: SparkSession, updates: DataFrame,
                       m: Manifest, *, batch_id: int | None,
                       source: str) -> Manifest:
        keys = m.key_cols
        schema, batch = m.schema(), updates.schema
        evolved = _evolved_schema(schema, batch, keys)
        data_cols = [c for c in evolved.fieldNames() if c not in META_COLS]
        deleted = F.col("_op") == F.lit("d")

        def stored(c: str) -> Column:
            # missing old column -> null; narrower column -> cast up
            # (:func:`_cast_up`); tombstone payload -> null (keys survive)
            dt = evolved[c].dataType
            if c not in batch.names:
                return F.lit(None).cast(dt).alias(c)
            v = _cast_up(F.col(c), c, batch[c].dataType, dt)
            if c not in keys:
                v = F.when(deleted, F.lit(None)).otherwise(v)
            return v.alias(c)

        # the stored row in one projection; the delta carries _op beside
        # _deleted on every table: the change feed reads it, table reads
        # (manifest schema) and folds drop it
        upd = updates.select(*map(stored, data_cols),
                             F.col("_seq").cast(SEQ_TYPE).alias("_seq"),
                             deleted.alias("_deleted"), "_op",
                             bucket_of(keys, m.n_buckets).alias("_bucket"))
        committed = dict(m.committed)
        if batch_id is not None:
            committed[source] = batch_id
        lineage = {"batch_id": batch_id, "source": source, "op": "merge"}
        delta, n_upd = self._stage(_by_bucket(upd, keys, one_partition(upd)),
                                   m.version + 1)
        if n_upd == 0:
            return self._next(m, {**lineage, "rows_in": 0},
                              committed=committed)
        buckets = delta[0]["buckets"]
        feed: list[dict[str, Any]] = []
        if self.feed_preimages:
            feed = self._feed_with_preimages(spark, m, evolved, delta, buckets)
        elif self.change_feed:
            feed = delta
        return self._next(
            m, {**lineage, "rows_in": n_upd, "buckets_touched": len(buckets),
                "files_rewritten": 0, "files_written": len(delta)},
            feed=feed, deltas=m.deltas + delta, committed=committed,
            schema_json=m.schema_json if evolved == schema
            else json.dumps(evolved.jsonValue()))

    def _feed_with_preimages(self, spark: SparkSession, m: Manifest,
                             schema: T.StructType,
                             delta: list[dict[str, Any]],
                             buckets: list[int]) -> list[dict[str, Any]]:
        """Write the Delta-CDF-shaped feed of a merge on a ``feed_preimages``
        table and return its file entries: APPLIED winners only, plus the
        pre-image of every live row they overwrote/deleted ('pu'/'pd', OLD
        ``_seq``). Submitted winners that lose the seq guard are omitted —
        replay-neutral, and required for additive consumers (a losing 'u'
        row would add a contribution whose pre-image never existed). The
        winners are read back from the merge's just-written ``delta``
        files, so the batch is evaluated once; the stored rows come from a
        bucket-pruned join against the resolved base files and deltas of
        the touched buckets (the one place a merge still reads its target).
        Staged like a delta (:meth:`_stage`), so :meth:`vacuum` reclaims
        it if the attempt never commits; a feed of no rows leaves no file."""
        keys = m.key_cols
        bset = set(buckets)
        tgt = self._resolved(
            spark, m, [e for e in m.files if e["bucket"] in bset],
            [d for d in m.deltas if bset.intersection(d["buckets"])],
            schema).alias("t")
        payload_cols = [c for c in schema.fieldNames()
                        if c not in keys and c not in META_COLS]
        s = self._read_files(spark, T.StructType(
            schema.fields + [T.StructField("_op", T.StringType())]),
            delta).alias("s")
        applied = s.join(tgt, on=keys, how="left").filter(
            F.col("t._seq").isNull() | (F.col("s._seq") > F.col("t._seq")))
        post = applied.select(
            *keys,
            *[F.col(f"s.{c}").alias(c) for c in payload_cols],
            F.col("s._op").alias("_op"),
            F.col("s._seq").alias("_seq"))
        had_live = (F.col("t._seq").isNotNull()
                    & ~F.coalesce(F.col("t._deleted"), F.lit(False)))
        pre = applied.filter(had_live).select(
            *keys,
            *[F.col(f"t.{c}").alias(c) for c in payload_cols],
            F.when(F.col("s._deleted"), F.lit("pd"))
             .otherwise(F.lit("pu")).alias("_op"),
            F.col("t._seq").alias("_seq"))
        return self._stage(post.unionByName(pre), m.version + 1)[0]

    # ------------------------------------------------------------ change feed

    def changes(self, spark: SparkSession, *, from_version: int = 1,
                to_version: int | None = None) -> DataFrame:
        """Read the change feed: one row per applied LWW winner per commit
        (columns: keys + payload + _op + _seq + _commit), commits in
        [from_version, to_version]. Downstream incremental consumers replay
        it with max-seq-per-key LWW; replay(snapshot + feed) reproduces
        ``read()`` exactly (pinned by tests) — the engine's table->event
        direction, mirroring the reference connector's Kafka emission.

        The feed reads exactly the files ``change_files`` names: each
        merge's delta (which carries ``_op``) and a ``replace()``'s base
        files (op 'r'). Only committed files are named, so a lost or
        crashed attempt never shows, and a fold leaves its deltas named.

        On a ``feed_preimages`` table each commit's feed is a file of its
        own that additionally carries 'pu'/'pd' pre-image rows (the
        overwritten/deleted live row, OLD ``_seq``), with post rows
        restricted to APPLIED winners — the Delta-CDF shape consumed by
        operators/incremental.py. Pre-image rows carry old seqs, so LWW
        replayers (mirror_changes) are unaffected by construction."""
        m = self.manifest(to_version)
        sel = [e for e in m.change_files if e["version"] >= from_version]
        if not sel:
            return spark.createDataFrame([], self._feed_schema(m))
        # ONE scan over all selected files (a per-file union loop would grow
        # the plan linearly with commit count — a 10k-commit feed must stay
        # a single FileScan). The commit version is recovered from the
        # files' staging dir name; the explicit CURRENT feed schema
        # null-fills evolved columns in older files, like every other
        # multi-version read here.
        return (self._read_files(spark, self._feed_schema(m, with_commit=False),
                                 sel)
                .withColumn("_commit", _commit_of_file()))

    def _feed_schema(self, m: Manifest, *, with_commit: bool = True) -> T.StructType:
        """The feed's columns, all nullable as a file read makes them (a
        tombstone row carries null payload)."""
        fields = [f for f in m.schema().fields if f.name != "_deleted"]
        fields = fields + [T.StructField("_op", T.StringType(), True)]
        if with_commit:
            fields.append(T.StructField("_commit", T.LongType(), True))
        return T.StructType(fields)._as_nullable()

    def stream_changes(self, spark: SparkSession) -> DataFrame:
        """Subscribe to the change feed as a Structured Streaming source
        (the subscription analog of the reference's Kafka topic), with the
        columns of :meth:`changes` in the CURRENT evolved feed schema; older
        files read missing columns as null. Pair with a checkpoint on the
        consumer side for exactly-once downstream processing.

        A Python streaming data source (:mod:`lake.feed_source`) whose
        offsets are manifest versions: the latest offset is the current
        version, and the micro-batch ``(start, end]`` reads one partition
        per ``change_files`` entry of a version in that range, with
        ``_commit`` set from the entry. It reads the manifest log through
        this table's ``io`` and lists no data directory, so a lost or
        crashed commit attempt can never leak a phantom micro-batch."""
        spark.dataSource.register(ChangeFeedSource)
        # A Python source has no native Trigger.AvailableNow; without
        # Spark's wrapper (SPARK-45178) an availableNow query falls back to
        # ONE batch, and a consumer restarted over an uncommitted batch
        # would replay just that batch and stop short of the feed's end.
        spark.conf.set(
            "spark.sql.streaming.triggerAvailableNowWrapper.enabled", "true")
        return (spark.readStream.format(ChangeFeedSource.name())
                .options(**source_options(self.root, self.log_dir, self.io,
                                          self._feed_schema(self.manifest())))
                .load())

    # ------------------------------------------------------------- properties

    def update_properties(self, props: dict[str, Any]) -> Manifest:
        """Commit a metadata-only version carrying updated properties
        (state-doc persistence — SourceInfo.java:107-125 analog). Metadata
        commits are cheap, so losing a race just re-reads and re-applies."""
        return self._transact(lambda m: self._next(
            m, {"op": "props"}, properties={**m.properties, **props}))

    # ------------------------------------------------------------ maintenance

    def compact(self, spark: SparkSession, *, drop_tombstones_below_seq: int | None = None,
                target_buckets: list[int] | None = None,
                zorder_cols: list[str] | None = None,
                zorder_files_per_bucket: int = 4) -> Manifest | None:
        """Rewrite buckets to one file each, FOLDING every delta: the
        rewritten buckets are ``target_buckets`` (default: every bucket with
        a base file) plus every bucket a delta touched, written from rows
        resolved per key across base files and deltas (:meth:`_resolved`);
        the new manifest holds no delta. ``merge`` calls it with
        ``target_buckets=[]`` to fold just the delta buckets; that call
        commits nothing (and returns None) once another writer has folded.

        ``drop_tombstones_below_seq`` purges tombstones whose ``_seq`` is
        below a watermark (no older event can still arrive) — AFTER
        resolution, so a late lower-seq delta row never resurrects a
        purged key. Losing a commit race to a concurrent merge re-reads the
        new manifest and refolds, its new delta included
        (:meth:`_transact`).

        ``zorder_cols`` switches the rewrite from linear key clustering to
        Z-ORDER layout (``lake/zorder.py``): each bucket is split into
        ~``zorder_files_per_bucket`` files, each covering a contiguous
        Morton-curve range of the z-columns (numeric directly; strings
        rank through an order-preserving 8-byte-prefix key), so the per-file
        min/max stats in the manifest become tight on EVERY z-column and
        :meth:`scan` skips files for predicates on any of them — the
        multi-column data-skipping layout (Delta OSS ZORDER BY). One extra
        quantile job at compaction time; read paths are unchanged."""
        def attempt(m: Manifest) -> Manifest:
            bset = ({e["bucket"] for e in m.files} if target_buckets is None
                    else set(target_buckets))
            bset |= {b for d in m.deltas for b in d["buckets"]}
            if not bset and target_buckets is not None:
                return m              # a fold with nothing left to fold
            tgt_entries = [e for e in m.files if e["bucket"] in bset]
            keep_entries = [e for e in m.files if e["bucket"] not in bset]
            df = self._resolved(spark, m, tgt_entries, m.deltas)
            if drop_tombstones_below_seq is not None:
                df = df.filter(~(F.col("_deleted") &
                                 (F.col("_seq") < F.lit(drop_tombstones_below_seq))))
            df = df.withColumn("_bucket", bucket_of(m.key_cols, m.n_buckets))
            op = {"batch_id": None, "source": "compact", "op": "compact",
                  "files_rewritten": len(tgt_entries),
                  "deltas_folded": len({d["version"] for d in m.deltas})}
            if zorder_cols:
                # each bucket SPLIT into ~zorder_files_per_bucket files of
                # contiguous z-ranges; the z-value is layout, not data
                from .zorder import with_zvalue
                parts = max(1, len(bset)) * zorder_files_per_bucket
                df = (with_zvalue(df, zorder_cols)
                      .repartitionByRange(parts, F.col("_bucket"),
                                          F.col("_zval"))
                      .sortWithinPartitions("_bucket", "_zval")
                      .drop("_zval"))
                op["zorder"] = list(zorder_cols)
            else:
                df = _by_bucket(df, m.key_cols)
            new_entries, _ = self._stage(df, m.version + 1, base=True)
            op["files_written"] = len(new_entries)
            return self._next(m, op, files=keep_entries + new_entries,
                              deltas=[])

        return self._transact(attempt)

    def expire_versions(self, *, keep_last: int = 10) -> int:
        """Snapshot expiry: drop manifest files older than the newest
        ``keep_last`` versions (time travel to them stops working — an AS OF
        read of an expired version fails with FileNotFoundError on the
        MANIFEST, a clear retention error, never a missing-parquet crash,
        because :meth:`vacuum` only reclaims files no retained manifest
        references). Returns the number of manifests removed. The CURRENT
        version is never touched."""
        vs = self._versions()
        victims = vs[:-keep_last] if keep_last > 0 else vs[:-1]
        for v in victims:
            self.io.delete_file(manifest_path(self.log_dir, v))
        return len(victims)

    def expire_change_feed(self, *, below_version: int) -> int:
        """Change-feed retention: commit a metadata-only version whose
        ``change_files`` drops entries below ``below_version``. Without this
        the feed list (and the files it keeps alive, folded deltas
        included) grows with commit count forever. The dropped files stay
        on disk until every retained manifest that still lists them
        expires, then :meth:`vacuum` reclaims them —
        downstream consumers get the full retention window to catch up, and
        a consumer needing older history must re-bootstrap from a snapshot
        (exactly Kafka's compacted-topic contract). Returns entries dropped.
        """
        def attempt(m: Manifest) -> Manifest:
            kept = [e for e in m.change_files if e["version"] >= below_version]
            if len(kept) == len(m.change_files):
                return m
            return self._next(m, {"op": "expire_change_feed",
                                  "dropped": len(m.change_files) - len(kept)},
                              change_files=kept)

        new_m = self._transact(attempt)
        return 0 if new_m is None else new_m.lineage[-1]["dropped"]

    def vacuum(self, *, grace_s: float = 3600.0) -> int:
        """Delete data files no RETAINED manifest references. Returns count
        removed.

        Retention coupling (standard lakehouse semantics): the live set is
        every file a manifest still in the log names as a base file, a
        delta or a change-feed file — a concurrent time-travel reader of any
        retained version never loses a file under it, and a delta a fold
        dropped from ``deltas`` lives on while the feed names it; run
        :meth:`expire_change_feed` and :meth:`expire_versions` first to make
        old files reclaimable.
        In-flight protection is TWO independent guards:

        * a staging dir whose embedded version is AHEAD of the current
          version may belong to a writer racing toward its commit and is
          left alone (if that writer loses, the dir's version becomes
          <= current and a later vacuum reclaims it). Every writer stages
          inside its commit attempt under the version it tries to commit,
          and a retry stages afresh, so a dir at or below the current
          version belongs to an attempt that has lost or will lose;
        * any unreferenced file modified within ``grace_s`` is spared — the
          modification-time retention Delta's VACUUM uses, for files the
          version guard cannot judge (a dir name that does not parse, a
          writer outside this protocol).
          ``grace_s=0`` reclaims immediately (tests / known-dead writers).
        """
        import time as _time
        now = _time.time()
        cur = self.manifest()
        live = {os.path.join(self.root, e["path"])
                for m in map(self.manifest, self._versions())
                for e in m.files + m.deltas + m.change_files}
        removed = 0
        root = os.path.join(self.root, "data")
        for d in self.io.list_dir(root):
            top = os.path.join(root, d)
            if not self.io.is_dir(top):
                continue
            # a staging dir named for a version ahead of the current one
            # may be a writer's in flight; an unparseable name is junk
            hit = re.match(_COMMIT_DIR, d)
            if hit and int(hit.group(1)) > cur.version:
                continue
            for dirpath, files in self.io.walk_files(top):
                for f in files:
                    p = os.path.join(dirpath, f)
                    if p not in live and (f.endswith(".parquet")
                                          or f.startswith(".")
                                          or f.startswith("_")):
                        if grace_s > 0:
                            try:
                                if now - self.io.file_mtime(p) < grace_s:
                                    continue
                            except FileNotFoundError:
                                continue
                        self.io.delete_file(p)
                        removed += 1
                self.io.remove_dir_if_empty(dirpath)
        return removed
