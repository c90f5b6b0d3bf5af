"""Batch sinks: the key-partitioned parquet writer.

The reference's sinks are Kafka topics — one per camera for results
(``predicted_..._{cam}``, src/params.py:17, prediction_producer.py:
269-271) — plus Flask-served image blobs. This container has no
broker, so the batch sinks materialize the same layouts on files,
read back with plain ``spark.read.parquet``; every streaming sink
(foreachBatch, memory, parquet, noop) starts through
``streaming.harness.drain_stream``.

Scale notes: ``partitionBy`` writes one directory per key value and
enables partition pruning on read-back — the file-side equivalent of
per-key topics. ``repartition(keys)`` before the write keeps one
writer task per key-partition instead of every task opening every
partition's file (the small-files explosion at 1000 executors).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_partitioned(df: DataFrame, path: str, keys: list[str]) -> None:
    """Key-partitioned parquet layout (one dir per key value), with a
    pre-shuffle on the keys so each output partition is written by
    one task — bounded file counts at any executor count."""
    df.repartition(*keys).write.mode("overwrite").partitionBy(*keys).parquet(path)

