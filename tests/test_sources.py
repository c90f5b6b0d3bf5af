"""Source-contract tests: the Kafka reader surface (pinned against a
golden fixture — no broker ships in this container, so a typo in the
option dict or value schema would otherwise ship silently)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from eye_of_sauron_spark.sources.streams import (
    FRAME_MESSAGE_SCHEMA,
    decode_frame_messages,
    frame_record_key,
    kafka_reader_options,
)

# ---------------------------------------------------------------- kafka

# The consumed surface of the reference producer/consumer pair
# (src/prediction_producer.py:68-75,114; src/params.py:9-25). Changing
# kafka_reader_options or FRAME_MESSAGE_SCHEMA must be a deliberate,
# test-visible act.
GOLDEN_READER_OPTIONS = {
    "kafka.bootstrap.servers": "broker1:9092,broker2:9092",
    "subscribe": "raw_frame_topic",
    "startingOffsets": "earliest",
    "failOnDataLoss": "false",
}

GOLDEN_VALUE_SCHEMA = (
    "timestamp DOUBLE, camera INT, frame_num INT, "
    "original_frame STRING, original_dtype STRING, original_shape ARRAY<INT>"
)


def test_kafka_reader_options_match_golden():
    assert (
        kafka_reader_options("broker1:9092,broker2:9092", "raw_frame_topic")
        == GOLDEN_READER_OPTIONS
    )


def test_kafka_reader_options_bounded_trigger():
    opts = kafka_reader_options(
        "b:9092", "t", starting_offsets="latest", max_offsets_per_trigger=5000
    )
    assert opts["startingOffsets"] == "latest"
    assert opts["maxOffsetsPerTrigger"] == "5000"  # str: option() stringifies
    assert set(opts) == set(GOLDEN_READER_OPTIONS) | {"maxOffsetsPerTrigger"}


def test_frame_value_schema_matches_golden():
    assert FRAME_MESSAGE_SCHEMA == GOLDEN_VALUE_SCHEMA


def test_frame_message_roundtrip(spark):
    # producer shape (reference transform + np_to_json) -> kafka
    # record (key/value binary) -> decode_frame_messages recovers
    # every typed field and the "{camera}_{frame_num}" key
    msg = {
        "timestamp": 1723500000.25,
        "camera": 3,
        "frame_num": 41,
        "original_frame": "AAECAw==",
        "original_dtype": "|u1",
        "original_shape": [2, 2, 1],
    }
    raw = spark.createDataFrame(
        [(3, 41, json.dumps(msg))], "camera INT, frame_num INT, js STRING"
    ).select(
        frame_record_key(F.col("camera"), F.col("frame_num"))
        .cast("binary")
        .alias("key"),
        F.col("js").cast("binary").alias("value"),
    )
    row = decode_frame_messages(raw).collect()[0]
    assert row["record_key"] == "3_41"
    assert row["camera"] == 3 and row["frame_num"] == 41
    assert row["original_frame"] == "AAECAw=="
    assert row["original_dtype"] == "|u1"
    assert row["original_shape"] == [2, 2, 1]
    assert row["timestamp"] == pytest.approx(1723500000.25)


def test_decode_passes_kafka_metadata_through(spark):
    # a format("kafka") row carries (key, value, topic, partition,
    # offset, timestamp, timestampType); decode must keep the routing
    # metadata and drop only the broker-side timestamp in favor of the
    # producer-embedded ingest timestamp (the latency-metric one)
    msg = {
        "timestamp": 1723500000.25,
        "camera": 3,
        "frame_num": 41,
        "original_frame": "AAECAw==",
        "original_dtype": "|u1",
        "original_shape": [4],
    }
    raw = spark.createDataFrame(
        [("3_41", json.dumps(msg), "raw_frame_topic", 3, 17)],
        "key STRING, value STRING, topic STRING, partition INT, offset BIGINT",
    ).select(
        F.col("key").cast("binary").alias("key"),
        F.col("value").cast("binary").alias("value"),
        "topic",
        "partition",
        "offset",
        F.lit("2024-08-12 22:40:00").cast("timestamp").alias("timestamp"),
    )
    row = decode_frame_messages(raw).collect()[0]
    assert row["topic"] == "raw_frame_topic"
    assert row["partition"] == 3 and row["offset"] == 17
    assert row["record_key"] == "3_41"
    # the surviving timestamp is the in-message ingest time (double),
    # not the broker timestamp
    assert row["timestamp"] == pytest.approx(1723500000.25)


def test_encode_decode_frame_records_roundtrip(spark):
    from eye_of_sauron_spark.sources.streams import encode_frame_records

    frames = spark.createDataFrame(
        [(3, 41, b"\x00\x01\x02\x03", 1723500000.25),
         (3, 42, b"\xff\xfe", 1723500001.5),
         (6, 7, b"zz", 1723500002.0)],
        "camera INT, frame_num INT, payload BINARY, t DOUBLE",
    )
    wire = encode_frame_records(frames, n_partitions=4)
    # keyed publish: camera -> one partition, offsets dense per partition
    rows = {r["record_key"]: r for r in decode_frame_messages(wire).collect()}
    assert set(rows) == {"3_41", "3_42", "6_7"}
    assert rows["3_41"]["partition"] == 3 and rows["6_7"]["partition"] == 2
    assert {rows["3_41"]["offset"], rows["3_42"]["offset"]} == {0, 1}
    assert rows["3_41"]["original_frame"] == "AAECAw=="
    assert rows["3_41"]["original_dtype"] == "|u1"
    assert rows["3_41"]["original_shape"] == [4]
    assert rows["3_41"]["timestamp"] == pytest.approx(1723500000.25)
