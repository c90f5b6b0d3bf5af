"""SparkSession factory.

Local testing runs a single JVM (``local[N]``); the configs below are
chosen so the *same logical plans* scale to a multi-executor cluster:

- AQE on (runtime coalescing, skew-join splitting) so shuffle partition
  counts self-tune between sf0.001 local runs and 100 TB cluster runs.
- Arrow on for every pandas-UDF boundary (the ML-inference path).
- UTC session timezone so timestamp semantics match the DuckDB oracle
  (DuckDB timestamps are UTC-naive).
- Shuffle partitions default to core count locally; on a real cluster
  AQE's coalescing makes the initial number mostly irrelevant as long
  as it is high enough — set ``spark.sql.shuffle.partitions`` to
  2-3x total cores via ``extra_conf`` there.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "eye_of_sauron_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session with scale-aware defaults.

    The streaming state store stays Spark's default executor-heap
    provider, which holds every stateful key in executor memory (342 MB
    at the 10x stream-dedup probe, SCALE.md 'RocksDB state-store
    probe'). A large-state stream picks RocksDB for itself
    (``run_to_memory(..., conf=...)`` / ``drain_stream(..., conf=...)``,
    scoped and restored by ``harness.ephemeral_checkpoint``); a whole
    session picks it through ``extra_conf``. Results are
    provider-independent (pinned by tests/test_round9_ops.py)."""
    cpus = _DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime row-level join pruning: inject a bloom filter from the
        # filtered small side into the big side's scan — at 100 TB this
        # skips reading fact rows that can never join
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # events.ts is TIMESTAMP(NANOS) parquet, which Spark 4 rejects
        # outright (PARQUET_TYPE_ILLEGAL); read nanos as int64 once,
        # session-wide, so no table loader has to flip configs mid-query
        # (the loader truncates ns -> us to match DuckDB's reader).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # the fixtures carry tz-naive TIMESTAMP(MICROS); read them as
        # plain TIMESTAMP (interpreted in the UTC session zone) rather
        # than TIMESTAMP_NTZ so epoch math (unix_micros etc.) and the
        # UTC-naive DuckDB oracle see identical instants
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # parquet scans: vectorized reader + pushdown are on by default;
        # keep files from fragmenting into too many tiny tasks locally.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.ui.enabled", "false")
    )
    if SparkSession.getActiveSession() is None:
        # only effective before the JVM exists; setting it on a live
        # session would silently do nothing, so don't pretend otherwise
        builder = builder.config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
