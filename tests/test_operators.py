"""Multimodal codec and batch-sink tests: IMG1 round-trip fidelity,
1->N frame sampling, and partition-pruned read-back of the routed
parquet sink."""

from __future__ import annotations

import struct

from pyspark.sql import functions as F

from eye_of_sauron_spark.operators.multimodal import (
    build_videos,
    encode_images,
    image_stats,
    sample_frames,
)
from eye_of_sauron_spark.operators.sinks import write_partitioned
from eye_of_sauron_spark.sources import load_table


def test_img1_binary_layout(spark, sf_dir):
    row = (
        encode_images(load_table(spark, sf_dir, "documents"))
        .orderBy("doc_id")
        .limit(1)
        .collect()[0]
    )
    b = bytes(row.image)
    assert b[:4] == b"IMG1"
    w, h = struct.unpack(">HH", b[4:8])
    assert (w, h, b[8]) == (row.meta.width, row.meta.height, row.meta.channels)
    assert 9 < len(b) <= 9 + 64  # payload present, capped at 64 bytes


def test_image_stats_matches_meta(spark, sf_dir):
    enc = encode_images(load_table(spark, sf_dir, "documents"))
    joined = image_stats(enc).join(enc.select("doc_id", "meta"), "doc_id")
    bad = joined.filter(
        (F.col("width") != F.col("meta.width"))
        | (F.col("height") != F.col("meta.height"))
        | (F.col("channels") != F.col("meta.channels"))
    ).count()
    assert bad == 0


def test_frame_sampling_counts(spark, sf_dir):
    vids = build_videos(load_table(spark, sf_dir, "events"))
    sampled = sample_frames(vids, step=3)
    got = sampled.groupBy("event_id").count()
    expect = vids.select(
        "event_id", F.ceil(F.col("n_frames") / 3).cast("long").alias("expected")
    )
    bad = got.join(expect, "event_id").filter("count != expected").count()
    assert bad == 0
    # frame indices are the sampled arithmetic progression
    assert sampled.filter("frame_idx % 3 != 0").count() == 0


def test_partitioned_sink_prunes(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "routed")
    write_partitioned(events, out, ["event_type"])
    back = spark.read.parquet(out)
    assert back.count() == events.count()
    one = back.filter(F.col("event_type") == "click")
    assert one.count() == events.filter("event_type = 'click'").count()
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(event_type" in plan, plan[:2000]


def test_bucketed_tables_join_without_shuffle(spark, sf_dir, tmp_path):
    """Two tables bucketed on the same key join with NO exchange —
    the co-located join the brief's 100 TB story depends on."""
    from eye_of_sauron_spark.plans.storage import write_bucketed

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    write_bucketed(orders, "b_orders", "o_orderkey", str(tmp_path), 8)
    write_bucketed(lineitem, "b_lineitem", "l_orderkey", str(tmp_path), 8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast so the planner must pick the shuffle-join
        # path — which bucketing then satisfies without any Exchange
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("b_orders").join(
            spark.table("b_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:1500]
        assert "Bucketed: true" in plan
        assert j.count() == lineitem.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
