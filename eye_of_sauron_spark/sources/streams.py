"""Streaming sources: the Kafka reader contract and frame codec.

The reference consumes Kafka topics partition-by-partition with
manual assignors (src/prediction_producer.py:64-66, 94-118); in
Structured Streaming the same ingestion is one ``readStream`` whose
partition->task mapping, offset tracking, and rebalance are handled
by the engine. No broker ships in this container, so ``kafka_stream``
is a configuration builder (exercised in production, not here); the
file source (``streaming.harness.file_stream``) drives every local
test through the identical micro-batch machinery.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# The frame-message value contract: JSON produced by the reference's
# FrameProducer.transform + np_to_json (src/frame_producer.py:154-176,
# src/utils.py:248-254) — {prefix}_frame is the base64 ndarray,
# {prefix}_dtype/_shape its layout, prefix "original". The Kafka
# record key is "{camera}_{frame_num}" (prediction_producer.py:114).
FRAME_MESSAGE_SCHEMA = (
    "timestamp DOUBLE, camera INT, frame_num INT, "
    "original_frame STRING, original_dtype STRING, original_shape ARRAY<INT>"
)


def kafka_reader_options(
    brokers: str,
    topics: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """The EXACT reader-option dict ``kafka_stream`` passes to
    ``readStream.format("kafka")`` — split out pure so the contract is
    pinned by a golden-fixture test even though no broker ships in
    this container (a typo here would otherwise surface only in
    production). Mirrors the reference consumer's subscription
    surface (prediction_producer.py:68-75: earliest reset, explicit
    topic subscribe; group management is the engine's here).
    ``failOnDataLoss=false`` is the availability-over-abort choice for
    expired offsets, matching the reference's skip-forward behavior.
    """
    opts = {
        "kafka.bootstrap.servers": brokers,
        "subscribe": topics,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": "false",
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def decode_frame_messages(raw: DataFrame) -> DataFrame:
    """Kafka (key BINARY, value BINARY) -> typed frame columns per
    FRAME_MESSAGE_SCHEMA, plus the record key as a string. Other
    source columns (topic, partition, offset, ...) pass through
    untouched, EXCEPT the broker-side ``timestamp`` — the decoded
    message carries the producer-embedded ingest ``timestamp``, which
    is the one the reference's latency metric subtracts
    (src/prediction_producer.py:357). Pure column transforms — works
    identically on batch DataFrames, which is how the contract test
    drives it without a broker."""
    passthrough = [
        c for c in raw.columns if c not in ("key", "value", "timestamp")
    ]
    return raw.select(
        *passthrough,
        F.col("key").cast("string").alias("record_key"),
        F.from_json(F.col("value").cast("string"), FRAME_MESSAGE_SCHEMA).alias("m"),
    ).select(*passthrough, "record_key", "m.*")


def encode_frame_records(
    frames: DataFrame,
    topic: str = "raw_frame_topic",
    n_partitions: int = 4,
) -> DataFrame:
    """Producer-side wire encoding (A2 serialize + A3 keyed publish,
    reference src/frame_producer.py:153-182 + utils.py:248-254): a
    (camera INT, frame_num INT/BIGINT, payload BINARY, t DOUBLE)
    frames relation becomes Kafka-shaped records —

    - ``value``: the JSON frame message (np_to_json triple with the
      base64 payload, dtype ``|u1``, 1-D shape) as bytes;
    - ``key``: "{camera}_{frame_num}" bytes
      (prediction_producer.py:114);
    - ``topic`` / ``partition``: keyed publish — every frame of one
      camera lands in one partition (camera % n_partitions), so
      per-camera order survives the broker;
    - ``offset``: the partition-local publish sequence (row_number
      over frame_num — deterministic stand-in for broker-assigned
      offsets).

    ``decode_frame_messages(encode_frame_records(f))`` recovers every
    typed field exactly; the kafka_decode_replay query pins that
    round trip through real micro-batches against a DuckDB oracle."""
    from pyspark.sql.window import Window as W

    part = (F.col("camera") % n_partitions).cast("int")
    value = F.to_json(
        F.struct(
            F.col("t").alias("timestamp"),
            F.col("camera"),
            F.col("frame_num"),
            F.base64(F.col("payload")).alias("original_frame"),
            F.lit("|u1").alias("original_dtype"),
            F.array(F.length("payload").cast("int")).alias("original_shape"),
        )
    )
    return frames.select(
        frame_record_key(F.col("camera"), F.col("frame_num"))
        .cast("binary")
        .alias("key"),
        value.cast("binary").alias("value"),
        F.lit(topic).alias("topic"),
        part.alias("partition"),
        (
            F.row_number().over(W.partitionBy(part).orderBy("frame_num")) - 1
        )
        .cast("bigint")
        .alias("offset"),
    )


def frame_record_key(camera: Column, frame_num: Column) -> Column:
    """The producer-side record key "{camera}_{frame_num}" — keyed
    publish (A3) routes a camera's frames to one partition."""
    return F.concat_ws("_", camera.cast("string"), frame_num.cast("string"))


def kafka_stream(
    spark: SparkSession,
    brokers: str,
    topics: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Kafka ingestion (reference raw_frame_topic analog). Requires
    the spark-sql-kafka connector on the classpath; the returned
    stream carries (key, value BinaryType, topic, partition, offset,
    timestamp) — decode ``value`` with decode_frame_messages."""
    reader = spark.readStream.format("kafka")
    for k, v in kafka_reader_options(
        brokers, topics, starting_offsets, max_offsets_per_trigger
    ).items():
        reader = reader.option(k, v)
    return reader.load()
