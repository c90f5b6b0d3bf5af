"""Structured Streaming behavior tests.

Each test drives a REAL stream (file source, one file per
micro-batch, availableNow trigger) and checks semantics the DuckDB
oracle cannot express: stream/batch equivalence of windowed
aggregations, watermark late-data drop, the stateful reorder buffer,
and checkpointed exactly-once sink delivery.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from eye_of_sauron_spark.sources import load_table
from eye_of_sauron_spark.streaming import windows
from eye_of_sauron_spark.streaming.harness import (
    drain_stream,
    file_stream,
    run_to_memory,
    write_microbatch_files_partitioned,
)
from eye_of_sauron_spark.streaming.pipeline import match_stream
from eye_of_sauron_spark.streaming.reorder import reorder_stream


def _sorted_rows(df, cols):
    return [tuple(r) for r in df.select(*cols).orderBy(*cols).collect()]


@pytest.fixture(scope="module")
def event_stream_dir(spark, sf_dir, tmp_path_factory):
    """events split into 4 time-ordered micro-batch files."""
    out = str(tmp_path_factory.mktemp("event_stream"))
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    quarters = events.withColumn(
        "batch",
        F.ntile(4).over(__import__("pyspark").sql.window.Window.orderBy("ts")) - 1,
    )
    write_microbatch_files_partitioned(quarters, "batch", 4, out)
    return out


@pytest.fixture(scope="module")
def event_schema(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .schema
    )


def test_stream_equals_batch_tumbling(spark, sf_dir, event_stream_dir, event_schema):
    """The same tumbling-window aggregation over a 4-micro-batch
    stream (complete mode) must equal the batch result — the
    stream/batch unification contract."""
    stream = file_stream(spark, event_stream_dir, event_schema)
    got = run_to_memory(windows.tumbling_agg(stream), mode="complete")
    want = windows.tumbling_agg(
        load_table(spark, sf_dir, "events")
    )
    cols = ["w_start", "event_type", "n_events", "total_value"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


def test_stream_equals_batch_session(spark, sf_dir, event_stream_dir, event_schema):
    """Session windows across micro-batch boundaries must merge into
    the same sessions the batch plan produces."""
    stream = file_stream(spark, event_stream_dir, event_schema)
    got = run_to_memory(windows.session_agg(stream), mode="complete")
    want = windows.session_agg(load_table(spark, sf_dir, "events"))
    cols = ["user_id", "session_start", "session_end", "n_events"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


def test_watermark_drops_late_rows(spark, tmp_path):
    """Append-mode windowed count with a 5-minute watermark: a row
    arriving two batches late (event time far behind the advanced
    watermark) must be dropped from its already-finalized window."""
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ev(minute, event_id):
        return Row(
            event_id=event_id,
            ts=t0 + dt.timedelta(minutes=minute),
            user_id=1,
            event_type="click",
            value=1.0,
        )

    schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE"
    batches = [
        [ev(1, 1), ev(2, 2)],  # window [00:00, 01:00)
        [ev(70, 3)],  # after this batch the watermark advances to 01:05
        [ev(140, 5)],  # window 1 is evicted + emitted during this batch
        [ev(3, 4), ev(210, 6)],  # ev(3) is LATE: behind the batch-start watermark
        [ev(280, 7)],  # flush
    ]
    src = str(tmp_path / "late_src")
    write_microbatch_files_partitioned(
        spark.createDataFrame(
            [(*r, i) for i, b in enumerate(batches) for r in b],
            schema + ", batch INT",
        ),
        "batch",
        len(batches),
        src,
    )

    stream = file_stream(spark, src, schema)
    agg = (
        stream.withWatermark("ts", "5 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("w_start"), "n")
    )
    got = run_to_memory(agg, mode="append")
    counts = {r["w_start"]: r["n"] for r in got.collect()}
    # the first window must have finalized with 2 rows: event_id=4
    # (event time 00:03, watermark already past 01:05) was dropped
    assert counts[t0] == 2


def test_reorder_buffer_restores_total_order(spark, tmp_path):
    """Out-of-order frames across micro-batches come out in exact
    frame_num order per camera, with bounded state (A11 semantics)."""
    rows = {
        0: [(0, 1), (0, 0), (1, 2)],  # (camera, frame)
        1: [(0, 4), (1, 0), (1, 1), (0, 3)],
        2: [(0, 2), (1, 3), (0, 5), (1, 4)],
    }
    schema = "camera INT, frame_num INT, payload STRING"
    batches = spark.createDataFrame(
        [(c, f, f"{c}:{f}", i) for i, rs in rows.items() for c, f in rs],
        schema + ", batch INT",
    )
    src = str(tmp_path / "frames_src")
    write_microbatch_files_partitioned(batches, "batch", len(rows), src)

    out = run_to_memory(
        reorder_stream(file_stream(spark, src, schema), buffer_size=16),
        mode="append",
    ).collect()
    by_cam: dict[int, list[int]] = {}
    for r in out:
        by_cam.setdefault(r["camera"], []).append(r["frame_num"])
        assert r["payload"] == f"{r['camera']}:{r['frame_num']}"
    # per-camera output order is the memory-sink insertion order per
    # batch; frames 0..5 / 0..4 all became contiguous so all emitted
    assert by_cam[0] == [0, 1, 2, 3, 4, 5]
    assert by_cam[1] == [0, 1, 2, 3, 4]


def test_reorder_buffer_overflow_skips_gap(spark, tmp_path):
    """A permanently missing frame must not wedge the camera forever:
    when pending exceeds buffer_size the operator skips to the
    smallest buffered frame (reference bounded-heap behavior)."""
    # frame 0 never arrives; frames 1..6 buffer up, buffer_size=4
    batches_rows = [[(0, f) for f in (3, 1, 2)], [(0, f) for f in (6, 4, 5)]]
    schema = "camera INT, frame_num INT, payload STRING"
    batches = spark.createDataFrame(
        [
            (c, f, f"{c}:{f}", i)
            for i, rs in enumerate(batches_rows)
            for c, f in rs
        ],
        schema + ", batch INT",
    )
    src = str(tmp_path / "gap_src")
    write_microbatch_files_partitioned(batches, "batch", len(batches_rows), src)
    out = run_to_memory(
        reorder_stream(file_stream(spark, src, schema), buffer_size=4),
        mode="append",
    ).collect()
    assert sorted(r["frame_num"] for r in out) == [1, 2, 3, 4, 5, 6]


def test_stream_static_join_and_routing_checkpoint(spark, sf_dir, event_stream_dir, event_schema, tmp_path):
    """Stream-static broadcast join (A5) + per-key topic routing (A9)
    + checkpointed exactly-once sink (A10): a second run over the same
    checkpoint must write nothing new."""
    targets = spark.createDataFrame(
        [Row(user_id=i, target_name=f"user_{i}") for i in range(0, 30, 3)]
    )
    out_dir, ckpt = str(tmp_path / "routed"), str(tmp_path / "ckpt")

    def run():
        stream = file_stream(spark, event_stream_dir, event_schema)
        drain_stream(
            match_stream(stream, targets),
            lambda w: w.format("parquet")
            .partitionBy("topic")
            .option("path", out_dir),
            ckpt,
        )

    run()
    first = spark.read.parquet(out_dir)
    n_first = first.count()
    assert n_first > 0
    topics = {r["topic"] for r in first.select("topic").distinct().collect()}
    assert all(t.startswith("predicted_object_raw_frame_topic_") for t in topics)
    # partition layout on disk mirrors per-camera topics
    assert any(d.startswith("topic=") for d in os.listdir(out_dir))
    # expected content: events whose user_id is a broadcast target
    events = load_table(spark, sf_dir, "events")
    expected = events.filter(F.col("user_id").isin([i for i in range(0, 30, 3)])).count()
    assert n_first == expected

    run()  # same checkpoint, no new input -> no duplicates
    assert spark.read.parquet(out_dir).count() == n_first


def test_streaming_face_pipeline_matches_batch(spark, sf_dir, tmp_path):
    """A4->A7 under readStream: frames replayed as 3 micro-batches
    through foreachBatch produce exactly the batch pipeline's rows
    (the reference's two-process standing query, one streaming plan)."""
    from eye_of_sauron_spark.ml.pipeline import (
        face_pipeline,
        first_faces_targets,
        frames_from_events,
    )

    frames = frames_from_events(load_table(spark, sf_dir, "events"))
    targets = first_faces_targets(frames)

    src = str(tmp_path / "frames_src")
    write_microbatch_files_partitioned(
        frames.withColumn("batch", (F.col("frame_num") % 3).cast("int")),
        "batch",
        3,
        src,
    )
    stream = file_stream(spark, src, frames.schema)
    out, ckpt = str(tmp_path / "predicted"), str(tmp_path / "face_ckpt")
    from eye_of_sauron_spark.streaming.pipeline import run_face_pipeline_stream

    run_face_pipeline_stream(stream, targets, out, ckpt)

    got = spark.read.parquet(out)
    want = face_pipeline(frames, targets)
    cols = ["camera", "frame_num", "n_faces", "prediction", "annotated_len"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)
    # per-camera directory layout (A9) and checkpointed re-run (A10)
    assert any(d.startswith("camera=") for d in os.listdir(out))
    run_face_pipeline_stream(file_stream(spark, src, frames.schema), targets, out, ckpt)
    assert spark.read.parquet(out).count() == want.count()


def test_stream_stream_join_matches_batch(spark, sf_dir, tmp_path):
    """Stream-stream equi join with time bound and watermarks on both
    sides: clicks x same-user errors within the following hour,
    replayed as micro-batch streams, equals the batch join."""
    from eye_of_sauron_spark.streaming.joins import clicks_to_errors_stream_join

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    clicks_b = events.filter(F.col("event_type") == "click")
    errors_b = events.filter(F.col("event_type") == "error")

    def as_stream(df, name):
        src = str(tmp_path / name)
        # two time-ordered micro-batches (watermark advances between)
        mid = df.approxQuantile("event_id", [0.5], 0.0)[0]
        write_microbatch_files_partitioned(
            df.withColumn("batch", (F.col("event_id") > mid).cast("int")),
            "batch",
            2,
            src,
        )
        return file_stream(spark, src, df.schema)

    joined = clicks_to_errors_stream_join(
        as_stream(clicks_b, "clicks"), as_stream(errors_b, "errors")
    )
    got = run_to_memory(joined, mode="append")

    # batch reference: same condition on the static frames
    c = clicks_b.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    e = errors_b.select(
        F.col("user_id").alias("e_user"),
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("e_ts"),
    )
    want = (
        c.join(
            e,
            (c.c_user == e.e_user)
            & (e.e_ts >= c.c_ts)
            & (e.e_ts < c.c_ts + F.expr("INTERVAL 1 HOUR")),
        )
        .select(
            F.col("c_user").alias("user_id"),
            "click_id",
            "error_id",
            F.col("c_ts").alias("click_ts"),
            F.col("e_ts").alias("error_ts"),
        )
    )
    cols = ["user_id", "click_id", "error_id", "click_ts", "error_ts"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)
    assert got.count() > 0


def test_stream_drop_duplicates_within_watermark(spark, sf_dir, tmp_path):
    """Streaming exact dedup with bounded state: duplicate event_ids
    re-delivered in a later micro-batch (an at-least-once source) are
    dropped by dropDuplicatesWithinWatermark; state evicts past the
    watermark instead of growing forever like the reference's
    data_dict (utils.py:50,168)."""
    from pyspark.sql.window import Window as W

    events = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    ranked = events.withColumn("rn", F.row_number().over(W.orderBy("ts", "event_id")))
    half = events.count() // 2
    b1 = ranked.filter(F.col("rn") <= half).drop("rn")
    redelivered = ranked.filter(
        (F.col("rn") > half - 50) & (F.col("rn") <= half)
    ).drop("rn")
    b2 = redelivered.unionAll(ranked.filter(F.col("rn") > half).drop("rn"))
    src = str(tmp_path / "dupes_src")
    write_microbatch_files_partitioned(
        b1.withColumn("batch", F.lit(0)).unionByName(
            b2.withColumn("batch", F.lit(1))
        ),
        "batch",
        2,
        src,
    )

    deduped = (
        file_stream(spark, src, events.schema)
        .withWatermark("ts", "24 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    got = run_to_memory(deduped)
    assert got.count() == events.count()
    assert got.select("event_id").distinct().count() == events.count()


def test_observed_latency_metrics_listener(spark, sf_dir, event_stream_dir, event_schema, tmp_path):
    """A8 analog: latency derived in-plan, aggregates computed by
    observe() inside the running query, delivered per micro-batch via
    StreamingQueryListener — no per-row side-effect logging."""
    import time

    from eye_of_sauron_spark.streaming.metrics import (
        MetricsListener,
        observed,
        with_latency,
    )

    listener = MetricsListener()
    spark.streams.addListener(listener)
    try:
        stream = file_stream(spark, event_stream_dir, event_schema)
        q = (
            observed(with_latency(stream))
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "obs_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # listener delivery is asynchronous to query termination
        for _ in range(40):
            if sum(b["num_input_rows"] for b in listener.batches) >= 1000:
                break
            time.sleep(0.25)
    finally:
        spark.streams.removeListener(listener)

    data_batches = [b for b in listener.batches if b["num_input_rows"] > 0]
    assert len(data_batches) >= 4  # one per micro-batch file
    total = sum(b["num_input_rows"] for b in data_batches)
    events = load_table(spark, sf_dir, "events")
    assert total == events.count()
    for b in data_batches:
        obs = b["observed"]
        assert obs is not None and obs["n_rows"] == b["num_input_rows"]
        assert obs["max_latency_ms"] >= obs["avg_latency_ms"] >= 0


def test_change_detector_drops_consecutive_duplicates(spark, tmp_path):
    """A1 'smart mode' as a keyed stateful operator: per camera, only
    frames whose payload differs from the last EMITTED frame survive;
    state carries across micro-batches (the batch-2 repeat of
    batch-1's final hash is dropped)."""
    from eye_of_sauron_spark.streaming.change_detect import drop_unchanged_frames

    schema = "camera INT, frame_num INT, payload_hash STRING"
    b1 = [(0, 0, "a"), (0, 1, "a"), (0, 2, "b"), (1, 0, "x")]
    b2 = [(0, 3, "b"), (0, 4, "c"), (1, 1, "x"), (1, 2, "y")]
    batches = spark.createDataFrame(
        [(*r, i) for i, rs in enumerate((b1, b2)) for r in rs],
        schema + ", batch INT",
    )
    src = str(tmp_path / "chg_src")
    write_microbatch_files_partitioned(batches, "batch", 2, src)
    out = run_to_memory(
        drop_unchanged_frames(file_stream(spark, src, schema)),
        mode="append",
    ).collect()
    got = sorted((r["camera"], r["frame_num"], r["payload_hash"]) for r in out)
    assert got == [(0, 0, "a"), (0, 2, "b"), (0, 4, "c"), (1, 0, "x"), (1, 2, "y")]


def test_microbatch_writer_skips_empty_batches(spark, tmp_path):
    # a batch value with zero rows must not crash the writer (ADVICE
    # r05: _time_sliced can yield empty octiles on skewed timestamp
    # distributions); the absent file is just an empty micro-batch
    df = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 3)], "v INT, batch INT"
    )
    out = str(tmp_path / "mb")
    write_microbatch_files_partitioned(df, "batch", 4, out)
    files = sorted(f for f in os.listdir(out) if f.endswith(".parquet"))
    assert files == ["batch_0000.parquet", "batch_0003.parquet"]
    got = spark.read.parquet(out).collect()
    assert sorted(r["v"] for r in got) == [1, 2, 3]


def test_replay_leaves_no_memory_sink_view(spark, sf_dir, tmp_path):
    """run_to_memory drops its memory sink's temp view before it
    returns, so a replay leaves the session's temp views as it found
    them (a leaked view keeps the sink's rows on the driver), and the
    DataFrame it returns still reads the sink's rows — also when the
    caller does not pin them."""
    from eye_of_sauron_spark.streaming.replay import stream_window_replay

    def temp_views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    before = temp_views()
    out = stream_window_replay(spark, sf_dir)
    assert temp_views() == before
    assert out.collect()

    src = str(tmp_path / "src")
    write_microbatch_files_partitioned(
        spark.range(6).withColumn("batch", (F.col("id") / 3).cast("int")),
        "batch",
        2,
        src,
    )
    got = run_to_memory(file_stream(spark, src, "id BIGINT"))
    assert temp_views() == before
    assert sorted(r["id"] for r in got.collect()) == list(range(6))


def test_drain_stream_is_the_only_stream_start():
    """Every stream start goes through harness.drain_stream, and so
    enters the ephemeral_checkpoint conf scope: ``writeStream`` occurs
    in the package exactly once, in streaming/harness.py."""
    import eye_of_sauron_spark

    root = os.path.dirname(eye_of_sauron_spark.__file__)
    hits = []
    for dirpath, _, files in os.walk(root):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                with open(path, encoding="utf-8") as fh:
                    n = fh.read().count("writeStream")
                if n:
                    hits.append((os.path.relpath(path, root), n))
    assert hits == [(os.path.join("streaming", "harness.py"), 1)]


def test_replays_open_their_logs_through_one_feed():
    """Every replay opens its staged micro-batch log through
    replay._log_stream, or through replay._stop_and_resume for the two
    phased replays: each stages and opens a log exactly once, and no
    replay reaches for the staged directory itself."""
    import eye_of_sauron_spark.streaming.replay as replay

    with open(replay.__file__, encoding="utf-8") as fh:
        src = fh.read()
    assert src.count("staged_microbatch_log(") == 2
    assert src.count("file_stream(") == 2
    assert src.count("_staged_events_log") == 0
    for helper in ("_log_stream", "_stop_and_resume"):
        body = src.split(f"def {helper}(", 1)[1].split("\ndef ", 1)[0]
        assert "staged_microbatch_log(" in body and "file_stream(" in body
