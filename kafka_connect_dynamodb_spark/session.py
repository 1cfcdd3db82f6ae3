"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set cluster-side via spark-submit:
AQE on (runtime skew-join splitting replaces the reference's one-shard-one-
processor ordering), shuffle partitions sized to cores (not 200), Arrow on for
the pandas-UDF envelope path, UTC session timezone so results compare exactly
against the DuckDB oracle.

The parallel partition-discovery threshold is raised above any lake table's
file count. Every lake read (read, scan and the point lookups it serves,
count_live, diff, compact, the pre-image feed's target read) names its files from the
manifest; past 32 paths Spark's InMemoryFileIndex would otherwise launch a
distributed listing job (one task per path: 64 tasks at 64 buckets) that
only re-stats files the manifest already names. The trade: the driver now stats the paths serially,
which is cheap on a local filesystem; a manifest-backed file index would
skip the stats altogether but needs JVM code, so it is out of scope. The
conf is set once per session, never around a read, because the session
conf is shared with the streaming tail's foreachBatch thread.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Above the 4,096-bucket layout the README sizes for, with room for
# several files per bucket; see the module docstring.
_LISTING_THRESHOLD = 1 << 16


def _local_dir() -> str:
    """Shuffle/spill dir. On a cluster this is the node's NVMe scratch set by
    the cluster manager; in the local[*] sandbox, /dev/shm (RAM-backed) stands
    in so shuffle I/O doesn't serialize on the single virtual disk. Override
    with $SPARK_GRAFT_LOCAL_DIR; set SPARK_GRAFT_TMPFS=0 to force /tmp.

    tmpfs competes with the JVM heap for physical memory, so /dev/shm is used
    only when it currently has >=16 GiB free — otherwise spill goes to /tmp
    (real disk) instead of risking tmpfs exhaustion / the OOM killer."""
    env = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if env:
        return env
    if (os.environ.get("SPARK_GRAFT_TMPFS", "1") != "0"
            and os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK)):
        st = os.statvfs("/dev/shm")
        if st.f_bavail * st.f_frsize >= 16 << 30:
            d = "/dev/shm/spark-local"
            os.makedirs(d, exist_ok=True)
            return d
    return "/tmp"


def get_spark(
    app_name: str = "kafka-connect-dynamodb-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all local cores. ``master``
    overrides the sandbox's local[N] default (e.g. ``local-cluster[4,2,6144]``
    for multi-executor-JVM runs). On a real cluster these confs travel
    unchanged through spark-submit --conf.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        # ~2x cores keeps every core busy through stragglers without tiny tasks.
        shuffle_partitions = max(2 * cores, 8)

    # Python workers unpickle package-defined UDFs by reference, so the
    # package root must be importable in THEIR interpreter too — PYTHONPATH
    # set before the JVM spawns covers local mode (a cluster ships the
    # package via spark-submit --py-files instead).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if pkg_root not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + os.pathsep + os.environ.get("PYTHONPATH", "")).rstrip(os.pathsep)

    builder = SparkSession.builder
    # Respect an externally-provided master (spark-submit --master / cluster
    # manager env); local[N] is only the sandbox default.
    submit_args = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    if master:
        builder = builder.master(master)
    elif os.environ.get("SPARK_MASTER"):
        # Spark itself never reads SPARK_MASTER — pass it through explicitly,
        # otherwise session creation outside spark-submit dies with
        # "master URL must be set".
        builder = builder.master(os.environ["SPARK_MASTER"])
    elif "--master" not in submit_args:
        builder = builder.master(f"local[{cores}]")
    builder = (
        builder
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let the planner pick shuffled-hash join when its size conditions
        # hold (guide-recommended baseline; sort-merge remains the fallback
        # whenever the build side might not fit). Uniform 5-20% on the
        # join-heavy bench rows at sf0.1 AND the same choice a cluster
        # submit would make — not a local-mode-only trick. Override with
        # SPARK_GRAFT_PREFER_SMJ=1 to restore sort-merge preference.
        .config("spark.sql.join.preferSortMergeJoin",
                "true" if os.environ.get("SPARK_GRAFT_PREFER_SMJ") == "1"
                else "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                str(_LISTING_THRESHOLD))
        .config("spark.local.dir", _local_dir())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
