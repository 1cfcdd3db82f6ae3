"""PySpark-native CDC / incremental-ingest engine.

A brand-new engine with the capabilities of trustpilot/kafka-connect-dynamodb
(reference at /root/reference, read-only), re-expressed Spark-first:

* The reference is *table -> event log* (DynamoDB -> Kafka). This engine is the
  inverse: *event log -> materialized lake table*, which is what the north rule
  asks for (binlog/WAL tail -> lake upsert).
* The reference's per-record Java hot path (``DynamoDBSourceTask.poll()``) becomes
  set-oriented micro-batches: decode via JVM ``from_json`` / Arrow pandas UDFs,
  last-writer-wins dedup via ``max_by``/window, apply via a bucketed
  merge-on-read MERGE (one delta per commit) into a versioned parquet lake
  table.
* The reference's three concurrency layers (blocking queue, shard register, KCL
  leases -- ``DynamoDBSourceTask.java:79,88``, ``kcl/*``) collapse into
  Structured Streaming's checkpointed micro-batch loop.

Subpackages
-----------
``functions``   envelope codec, name sanitizers, hashing (RecordConverter analog)
``operators``   LWW dedup, CDC filters, merge logic, training-data ops
``sources``     deterministic generator, event-log readers, discovery
``lake``        minimal ACID lake table (manifest log, atomic commit, delta merge)
``plans``       SourceInfo-style state + the two-phase INIT_SYNC/SYNC pipeline
``streaming``   Structured Streaming tail with exactly-once foreachBatch sink
"""

__version__ = "0.1.0"
