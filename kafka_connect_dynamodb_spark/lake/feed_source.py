"""The change feed as a Structured Streaming source: the Python data source
behind :meth:`LakeTable.stream_changes`.

Spark runs a Python data source in fresh interpreters (the process that
instantiates it, the one that plans its micro-batches for the life of a
query, and the workers that read its partitions), and each of them imports
whatever unpickling the source needs. So this module imports no more than
``commitio`` and pyspark's own data-source API: importing ``table.py``
(pandas among its dependencies) would cost ~0.5 s per process, several
times per query start.

The source is one module-level class registered under one name; a table
reaches it through options (its log dir and its pickled ``CommitIO``), so
registering it again for every subscriber replaces the entry instead of
growing the session's data-source registry.
"""

from __future__ import annotations

import base64
import json
import os
import pickle

from pyspark import cloudpickle
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource, DataSourceStreamReader, InputPartition)

from kafka_connect_dynamodb_spark.lake.commitio import CommitIO

__all__ = ["ChangeFeedSource", "log_versions", "manifest_path",
           "source_options"]


def log_versions(io: CommitIO, log_dir: str) -> list[int]:
    """The committed versions in ``log_dir``, ascending."""
    out = []
    for f in io.list_dir(log_dir):
        if f.startswith("v") and f.endswith(".json"):
            try:
                out.append(int(f[1:-5]))
            except ValueError:
                pass
    return sorted(out)


def manifest_path(log_dir: str, version: int) -> str:
    return os.path.join(log_dir, f"v{version:012d}.json")


def _feed_batches(path: str, version: int, schema: T.StructType):
    """Arrow batches of one change-feed file read as ``schema``: columns the
    file lacks (added by a later schema evolution) are null, narrower types
    are cast up, and ``_commit`` is ``version``."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(schema)
    with pq.ParquetFile(path) as pf:
        have = set(pf.schema_arrow.names)
        for b in pf.iter_batches(
                columns=[c for c in target.names if c in have]):
            n = b.num_rows
            yield pa.RecordBatch.from_arrays(
                [pa.repeat(pa.scalar(version, f.type), n)
                 if f.name == "_commit"
                 else b.column(f.name).cast(f.type) if f.name in have
                 else pa.nulls(n, f.type)
                 for f in target], schema=target)


def source_options(root: str, log_dir: str, io: CommitIO,
                   schema: T.StructType) -> dict[str, str]:
    """The options of :class:`ChangeFeedSource` for a table: its ``root``
    and ``log_dir``, its ``io`` and the feed ``schema`` (as JSON). The io
    is pickled with cloudpickle, which pickles a ``CommitIO`` class defined
    in a function by value, so no Python worker has to import it."""
    return {"root": root, "log_dir": log_dir,
            "io": base64.b64encode(cloudpickle.dumps(io)).decode(),
            "schema": schema.json()}


class _Reader(DataSourceStreamReader):
    """Offsets are manifest versions: the latest offset is the current
    version, and the micro-batch ``(start, end]`` reads one partition per
    ``change_files`` entry of a version in that range. Plans read the
    manifest log through the table's ``CommitIO`` and list no data
    directory, so a lost or crashed commit attempt never shows."""

    def __init__(self, options, schema: T.StructType):
        self.root = options["root"]
        self.log_dir = options["log_dir"]
        self.io = pickle.loads(base64.b64decode(options["io"]))
        self.schema = schema

    def _manifest(self) -> dict:
        v = log_versions(self.io, self.log_dir)[-1]
        return json.loads(self.io.read_text(manifest_path(self.log_dir, v)))

    def initialOffset(self):
        return {"version": 0}

    def latestOffset(self):
        return {"version": log_versions(self.io, self.log_dir)[-1]}

    def partitions(self, start, end):
        lo, hi = start["version"], end["version"]
        return [InputPartition((os.path.join(self.root, e["path"]),
                                e["version"]))
                for e in self._manifest()["change_files"]
                if lo < e["version"] <= hi]

    def read(self, partition):
        return _feed_batches(*partition.value, self.schema)


class ChangeFeedSource(DataSource):
    """Its options are :func:`source_options`."""

    @classmethod
    def name(cls):
        return "lake_changes"

    def schema(self):
        return T.StructType.fromJson(json.loads(self.options["schema"]))

    def streamReader(self, schema):
        return _Reader(self.options, schema)
