"""Driver-visible replay of the A11 reorder buffer (reference
src/utils.py:95-191): a deterministic scrambled frame sequence runs
through the REAL streaming operator (file-source micro-batches ->
applyInPandasWithState -> memory sink) and the emitted frames are
returned as a batch DataFrame the DuckDB oracle can check.

What the oracle pins: every synthesized frame is emitted exactly once
with its per-camera rank intact, despite arriving scrambled across 8
micro-batches — a dropped, duplicated, or resurrected frame changes
the emitted set and fails the row/hash compare. The strictly-
increasing-emission-order property (which a batch compare cannot see)
is covered by the property tests in tests/test_properties.py.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.hashing import hex32_duck, hex32_spark
from ..functions.money import cents_duck, cents_spark
from ..plans.registry import query
from ..sources import load_table, spread
from .harness import (
    drain_stream,
    file_stream,
    link_batch_files,
    run_to_memory,
    staged_microbatch_log,
)
from .joins import clicks_to_errors_stream_join
from .pipeline import match_stream, run_match_rebroadcast_stream
from .reorder import reorder_stream

# 64 cameras x up to 200 frames each, derived deterministically from
# the events fixture so both engines can reconstruct the exact frame
# set. The reorder buffer is sized above the per-camera frame cap, so
# the replay is lossless and the oracle is exact (overflow/skip
# semantics are property-tested separately).
_N_CAMERAS = 64
_FRAMES_PER_CAMERA = 200
_N_BATCHES = 8
_BUFFER_SIZE = 256
_FRAME_SCHEMA = "camera INT, frame_num INT, payload STRING"


def _log_stream(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    n: int,
    schema: str,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """The replay feed: stage ``build()``'s rows as an ``n``-batch
    micro-batch log (once per session, keyed on ``name``, the real
    fixture path and ``n``; ``build`` runs only on a miss) and open it
    as a file stream projecting ``schema``. The production analogue
    is a consumer subscribing to a broker log that already exists."""
    key = (name, os.path.realpath(sf_dir), n)
    return file_stream(spark, staged_microbatch_log(key, n, build), schema)


def _camera_frames(
    spark: SparkSession, sf_dir: str, n_cameras: int, n_frames: int
) -> DataFrame:
    """(camera, frame_num, payload): the first ``n_frames`` frames of
    each of ``n_cameras`` cameras, derived deterministically from the
    events fixture — camera = event_id mod n_cameras, frames numbered
    in event_id order. The frame source of the reorder, overflow and
    change-detect replays."""
    ev = load_table(spark, sf_dir, "events")
    cam = (F.col("event_id") % n_cameras).cast("int")
    return ev.select(
        cam.alias("camera"),
        (F.row_number().over(W.partitionBy(cam).orderBy(F.col("event_id"))) - 1)
        .cast("int")
        .alias("frame_num"),
        F.col("event_type").alias("payload"),
    ).filter(F.col("frame_num") < n_frames)


def _camera_frames_duck(n_cameras: int) -> str:
    """_camera_frames' (camera, frame_num) numbering restated in DuckDB
    SQL, before the frame cap — the ONE oracle definition of the frame
    derivation, changed in lockstep with _camera_frames (as
    _batch_duck is with _time_sliced)."""
    return f"""
        SELECT CAST(event_id % {n_cameras} AS INT) AS camera,
               CAST(row_number() OVER (
                   PARTITION BY event_id % {n_cameras} ORDER BY event_id
               ) - 1 AS INT) AS frame_num
        FROM events
    """


_REORDER_ORACLE = f"""
    WITH frames AS ({_camera_frames_duck(_N_CAMERAS)})
    SELECT camera, frame_num, frame_num + 1 AS emit_rank
    FROM frames WHERE frame_num < {_FRAMES_PER_CAMERA}
"""


def _scrambled_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(camera, frame_num, payload, batch): the deterministic frame
    set with a deterministic md5-derived micro-batch assignment —
    adjacent frames land in different batches, so every camera sees
    out-of-order arrival."""
    frames = _camera_frames(spark, sf_dir, _N_CAMERAS, _FRAMES_PER_CAMERA)
    batch = (
        F.conv(F.substring(F.md5(F.concat_ws(":", "camera", "frame_num")), 1, 4), 16, 10)
        .cast("bigint")
        % _N_BATCHES
    ).cast("int")
    return frames.withColumn("batch", batch)


@query("reorder_replay", oracle=_REORDER_ORACLE)
def reorder_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 end-to-end: scramble -> stream -> stateful reorder -> emit.

    Runs a real Structured Streaming job (availableNow over 8 ordered
    file micro-batches, per-camera applyInPandasWithState) and returns
    (camera, frame_num, emit_rank). A fresh checkpoint dir and a
    unique memory-sink name per invocation (run_to_memory) keep the
    query idempotent and re-runnable within one session.

    Scale shape: state is one small heap per camera, shuffled once on
    the camera key; eviction-on-emit bounds state by disorder, not
    stream length (the reference's heap leaks instead —
    src/utils.py:50,168).
    """
    # one job for all 8 batch files (the per-batch filter+write form
    # re-ran the scramble window once per batch), staged once per
    # session (the scramble is a pure function of the fixture)
    stream = _log_stream(
        spark, sf_dir, "reorder_frames", _N_BATCHES, _FRAME_SCHEMA,
        lambda: _scrambled_frames(spark, sf_dir),
    )
    # scope the stateful shuffle to the replay's own scale: 64 cameras
    # over 8 state partitions, not the session's 32 — each micro-batch
    # pays per-partition state-store commit + Arrow worker round-trip,
    # so 32 partitions x 8 batches is mostly fixed overhead here.
    return _ranked(
        run_to_memory(
            reorder_stream(stream, buffer_size=_BUFFER_SIZE), width=_N_BATCHES
        )
    )


def _ranked(emitted: DataFrame) -> DataFrame:
    """(camera, frame_num, emit_rank) of a reorder replay's emitted
    frames: the per-camera 1-based rank in frame order, the tail both
    reorder replays share."""
    return emitted.select(
        "camera",
        "frame_num",
        F.row_number()
        .over(W.partitionBy("camera").orderBy("frame_num"))
        .alias("emit_rank"),
    )


# --------------------------------------- reorder overflow / gap skip

# 4 cameras so every SF >= 0.001 yields the full 200 frames per camera
# (1000 events / 4 = 250, capped at 200) — the planted gap positions
# exist at every scale and the trace below is SF-independent.
_OV_CAMERAS = 4
_OV_FRAMES = 200
_OV_SPAN = 25          # frames per micro-batch (8 batches)
_OV_BUFFER = 16        # small enough that every blocked run overflows
_OV_LATE_FRAME = 50    # arrives in batch 5, AFTER the skip -> stale-dropped
_OV_LATE_BATCH = 5
_OV_LOST_FRAME = 120   # never arrives -> gap -> overflow skip

_REORDER_OVERFLOW_ORACLE = f"""
    WITH frames AS ({_camera_frames_duck(_OV_CAMERAS)})
    SELECT camera, frame_num,
           CAST(row_number() OVER (
               PARTITION BY camera ORDER BY frame_num
           ) AS INT) AS emit_rank
    FROM frames
    WHERE frame_num < {_OV_FRAMES}
      AND frame_num NOT IN ({_OV_LATE_FRAME}, {_OV_LOST_FRAME})
"""


@query("stream_reorder_overflow_replay", oracle=_REORDER_OVERFLOW_ORACLE)
def stream_reorder_overflow_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The A11 reorder buffer's DEGENERATE paths, driver-checked: the
    bounded-heap overflow skip and the stale-frame drop (reference
    src/utils.py:48-56 — fixed-size heap under frame loss). The happy
    path is reorder_replay; this replay plants the failure modes and
    the oracle pins their exact contract.

    Per camera, frames 0..199 arrive IN ORDER in 8 batches of 25,
    except: frame 120 never arrives (a lost frame -> permanent gap)
    and frame 50 arrives 3 batches late. With buffer_size=16 the trace
    is deterministic at every SF: batch 2's frames 51..74 pend behind
    the gap at 50, overflow (24 > 16), and the buffer skips to 51;
    when frame 50 finally shows up in batch 5 the emit point is far
    past it -> dropped as stale (emitted order stays strictly
    increasing). Frames 121..149 pend behind the lost 120 and overflow
    the same way. Emitted set = everything except {{50, 120}}, each
    exactly once, in per-camera order — a buffer that leaked state,
    resurrected a stale frame, double-emitted across a skip, or
    stalled forever on a gap changes the set and fails the hash."""
    stream = _log_stream(
        spark, sf_dir, "overflow_frames", _OV_FRAMES // _OV_SPAN, _FRAME_SCHEMA,
        lambda: _camera_frames(spark, sf_dir, _OV_CAMERAS, _OV_FRAMES)
        .filter(F.col("frame_num") != _OV_LOST_FRAME)
        .withColumn(
            "batch",
            F.when(F.col("frame_num") == _OV_LATE_FRAME, F.lit(_OV_LATE_BATCH))
            .otherwise(F.floor(F.col("frame_num") / _OV_SPAN))
            .cast("int"),
        ),
    )
    return _ranked(
        run_to_memory(
            reorder_stream(stream, buffer_size=_OV_BUFFER), width=_OV_CAMERAS
        )
    )


# --------------------------------------- A1 smart-mode change detector

# 16 cameras, 200 in-order frames each, 8 micro-batches of 25 frames.
# Duplicate RUNS are planted hash-deterministically: frame f starts a
# new run iff md5('chg:cam:f') % 3 == 0 (or f == 0), giving variable-
# length runs (mean ~3) whose boundaries BOTH engines recompute from
# first principles; every frame's payload hash is md5 of its run id,
# so consecutive frames within a run are exact duplicates. Runs
# straddle micro-batch boundaries (boundaries are hash-random, batches
# are 25-frame slices), so a detector that loses its per-camera state
# between batches re-emits mid-run frames and fails the hash compare.
_CD_CAMERAS = 16
_CD_FRAMES = 200
_CD_SPAN = 25

_CHANGE_DETECT_ORACLE = f"""
    WITH frames AS ({_camera_frames_duck(_CD_CAMERAS)}),
    flags AS (
        SELECT camera, frame_num,
               CASE WHEN frame_num = 0 OR ({hex32_duck(
                   "'chg:' || CAST(camera AS VARCHAR) || ':' "
                   "|| CAST(frame_num AS VARCHAR)"
               )}) % 3 = 0 THEN 1 ELSE 0 END AS chg
        FROM frames WHERE frame_num < {_CD_FRAMES}
    ),
    runs AS (
        SELECT camera, frame_num, chg,
               sum(chg) OVER (
                   PARTITION BY camera ORDER BY frame_num
               ) AS run_id
        FROM flags
    )
    SELECT camera, frame_num,
           md5('run:' || CAST(camera AS VARCHAR) || ':'
               || CAST(run_id AS VARCHAR)) AS payload_hash
    FROM runs WHERE chg = 1
"""


@query("stream_change_detect_replay", oracle=_CHANGE_DETECT_ORACLE)
def stream_change_detect_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 'smart' frame-skip end-to-end: planted duplicate-frame runs
    stream through the REAL keyed stateful change detector (reference
    frame_producer.py:100-119 — drop frames identical to the previous
    one, per camera) across 8 ordered micro-batches; survivors =
    exactly the first frame of each run.

    What the oracle pins beyond the unit tests: state durability
    across micro-batch boundaries at replay scale — a run that starts
    in batch k and continues into batch k+1 must stay suppressed, so
    a detector whose last-emitted-hash state is lost between batches
    (or whose checkpoint recovery resurrects it stale) changes the
    emitted set and fails the hash compare.

    Scale shape: one shuffle on camera; state is O(1) per key (one
    hash string), read/updated once per batch per key — the filter
    runs where the data is, unlike the reference's source-side skip
    which serializes it per producer process."""
    from .change_detect import drop_unchanged_frames

    def _runs() -> DataFrame:
        frames = _camera_frames(spark, sf_dir, _CD_CAMERAS, _CD_FRAMES)
        chg = (F.col("frame_num") == 0) | (
            hex32_spark(F.concat_ws(":", F.lit("chg"), "camera", "frame_num")) % 3
            == 0
        )
        runs = frames.withColumn("chg", chg.cast("int")).withColumn(
            "run_id", F.sum("chg").over(W.partitionBy("camera").orderBy("frame_num"))
        )
        return runs.select(
            "camera",
            "frame_num",
            F.md5(F.concat_ws(":", F.lit("run"), "camera", "run_id")).alias(
                "payload_hash"
            ),
            F.floor(F.col("frame_num") / _CD_SPAN).cast("int").alias("batch"),
        )

    stream = _log_stream(
        spark, sf_dir, "change_detect_frames", _CD_FRAMES // _CD_SPAN,
        "camera INT, frame_num INT, payload_hash STRING", _runs,
    )
    emitted = run_to_memory(drop_unchanged_frames(stream), width=_CD_CAMERAS)
    return emitted.select("camera", "frame_num", "payload_hash")


# ------------------------------------------------------- stream-stream

def _time_sliced(df: DataFrame, n: int) -> DataFrame:
    """Assign each row a micro-batch = its time octile — contiguous,
    in-order slices, so each stream arrives event-time ordered and
    watermarks never drop rows (ordered arrival means nothing is
    late). Computed with a broadcast min/max, not a global window."""
    rng = df.groupBy().agg(F.min("ts").alias("t0"), F.max("ts").alias("t1"))
    frac = (F.unix_micros("ts") - F.unix_micros("t0")) / (
        F.unix_micros("t1") - F.unix_micros("t0") + 1
    )
    return (
        df.crossJoin(F.broadcast(rng))
        .withColumn("batch", F.least(F.floor(frac * n), F.lit(n - 1)).cast("int"))
        .drop("t0", "t1")
    )


def _events_stream(spark: SparkSession, sf_dir: str, schema: str) -> DataFrame:
    """A stream over the time-sliced events change log, staged ONCE per
    session: all five event columns, ``_N_BATCHES`` octile
    micro-batches. Eight replay consumers (window/update/session/cdc/
    funnel x2/observe/static-match) read this one log — the production
    analogue is the broker's log existing once for every consumer
    group, and the batch octile is a pure function of ``ts``, so the
    shared slicing is byte-identical to what each consumer wrote for
    itself before. ``schema`` projects the consumer's own column
    subset (parquet prunes by name)."""
    return _log_stream(
        spark, sf_dir, "events_sliced", _N_BATCHES, schema,
        lambda: _time_sliced(
            load_table(spark, sf_dir, "events").select(
                "user_id", "event_type", "value", "ts", "event_id"
            ),
            _N_BATCHES,
        ),
    )


def _click_error_replay(
    spark: SparkSession,
    sf_dir: str,
    join: Callable[[DataFrame, DataFrame], DataFrame],
) -> DataFrame:
    """Drain ``join(clicks, errors)`` over the click/error side logs
    and return its (user_id, click_id, error_id, click_ts, error_ts)
    rows — the body both stream-stream join replays share. The side
    logs are staged once per session (4 octile micro-batches each,
    sliced over each side's own ts range — exactly what both join
    replays wrote for themselves before)."""

    def _side(tp: str) -> DataFrame:
        return _log_stream(
            spark, sf_dir, f"{tp}_sliced", _SS_BATCHES,
            "user_id BIGINT, event_id BIGINT, ts TIMESTAMP",
            lambda: _time_sliced(
                load_table(spark, sf_dir, "events")
                .filter(F.col("event_type") == tp)
                .select("user_id", "event_id", "ts"),
                _SS_BATCHES,
            ),
        )

    # 4 micro-batches per side: a stream-stream join keeps FOUR state
    # stores per partition per micro-batch, so batch count is the
    # dominant fixed cost of the replay; 4 ordered slices exercise the
    # same incremental semantics as 8 at half the wall time
    emitted = run_to_memory(
        join(_side("click"), _side("error")), width=_SS_BATCHES
    )
    return emitted.select(
        "user_id", "click_id", "error_id", "click_ts", "error_ts"
    )


_SS_BATCHES = 4

_SS_JOIN_ORACLE = """
    SELECT c.user_id, c.event_id AS click_id, e.event_id AS error_id,
           c.ts AS click_ts, e.ts AS error_ts
    FROM events c JOIN events e
      ON c.user_id = e.user_id
     AND e.ts >= c.ts AND e.ts < c.ts + INTERVAL 1 HOUR
    WHERE c.event_type = 'click' AND e.event_type = 'error'
"""


@query("stream_join_replay", oracle=_SS_JOIN_ORACLE)
def stream_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream join, driver-checked end-to-end: the
    click and error streams replay as 8 event-time-ordered file
    micro-batches each through the REAL watermarked join
    (streaming/joins.py), and the emitted pairs must equal the batch
    inner join exactly.

    Ordered arrival makes the replay lossless for ANY watermark delay
    (an error relevant to a buffered click always arrives before the
    watermark can evict that click), so the oracle is exact; the
    drop-late-rows semantics that ordered replay cannot exercise are
    pytest-pinned in tests/test_streaming.py. Scale shape: both sides
    shuffle once on user_id; watermark-bounded state is the fix for
    the reference's unbounded pairing dict (src/utils.py:50,168)."""
    return _click_error_replay(spark, sf_dir, clicks_to_errors_stream_join)


# ---------------------------------------------------- streaming dedup

_DEDUP_SAMPLE_MOD = 3  # replay every 3rd event, each delivered twice
# the delivery log of the dedup and restart replays
_DELIVERY_SCHEMA = (
    "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, "
    "ts TIMESTAMP"
)


_STREAM_DEDUP_ORACLE = f"""
    SELECT event_id, user_id, event_type, round(value, 6) AS value
    FROM events WHERE event_id % {_DEDUP_SAMPLE_MOD} = 0
"""


@query("stream_dedup_replay", oracle=_STREAM_DEDUP_ORACLE)
def stream_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once delivery collapsed to exactly-once, driver-
    checked: every sampled event is delivered TWICE (its redelivery
    lands one micro-batch later), and
    ``dropDuplicatesWithinWatermark`` on event_id must emit each
    exactly once — any duplicate or dropped row fails the row/hash
    compare against the distinct batch oracle.

    The replay's watermark delay exceeds the fixture's whole time
    span, so no dedup state evicts and the oracle is exact; the
    bounded-state eviction behavior (duplicates beyond the delay MAY
    re-emit) is pytest-pinned in tests/test_streaming.py. This is the
    engine's answer to the reference's Kafka at-least-once consumer,
    which simply re-processes on redelivery (src/
    prediction_producer.py consumer loop)."""
    def _deliveries() -> DataFrame:
        ev = load_table(spark, sf_dir, "events").filter(
            F.col("event_id") % _DEDUP_SAMPLE_MOD == 0
        )
        first = _time_sliced(
            ev.select("event_id", "user_id", "event_type", "value", "ts"),
            _N_BATCHES,
        )
        redelivery = first.withColumn(
            "batch", F.least(F.col("batch") + 1, F.lit(_N_BATCHES - 1))
        )
        return first.unionByName(redelivery)

    stream = _log_stream(
        spark, sf_dir, "dedup_deliveries", _N_BATCHES, _DELIVERY_SCHEMA,
        _deliveries,
    )
    deduped = stream.withWatermark("ts", "90 days").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    emitted = run_to_memory(deduped, width=_N_BATCHES)
    return emitted.select(
        "event_id", "user_id", "event_type", F.round("value", 6).alias("value")
    )


# ------------------------------------------------- stream-static (A5)

_MATCH_MIN_PURCHASE = 90.0  # target users: anyone with a purchase above this


_STREAM_STATIC_ORACLE = f"""
    SELECT e.event_id, e.user_id, e.event_type,
           'predicted_object_raw_frame_topic_' ||
               CAST(e.user_id % 4 AS VARCHAR) AS topic
    FROM events e
    WHERE e.user_id IN (
        SELECT DISTINCT user_id FROM events
        WHERE event_type = 'purchase' AND value > {_MATCH_MIN_PURCHASE}
    )
"""


@query("stream_static_match_replay", oracle=_STREAM_STATIC_ORACLE)
def stream_static_match_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 stream-static broadcast match, driver-checked end-to-end:
    the event stream replays as ordered file micro-batches against a
    STATIC broadcast target set (users with a purchase above a
    threshold — the 'uploaded faces' analog, reference
    src/prediction_producer.py:222-228), through the real
    ``match_stream`` operator (broadcast hash join + per-key topic
    routing, A9's key convention). Every emitted row must match the
    batch semi-join oracle exactly — a stream-static join needs no
    watermark, so the replay is lossless by construction and any
    micro-batch that missed the broadcast side would fail the
    row-count compare."""
    ev = load_table(spark, sf_dir, "events")
    targets = (
        ev.filter(
            (F.col("event_type") == "purchase")
            & (F.col("value") > _MATCH_MIN_PURCHASE)
        )
        .select("user_id")
        .distinct()
    )
    stream = _events_stream(
        spark,
        sf_dir,
        "event_id BIGINT, user_id BIGINT, event_type STRING, ts TIMESTAMP",
    )
    emitted = run_to_memory(match_stream(stream, targets), width=_N_BATCHES)
    return emitted.select("event_id", "user_id", "event_type", "topic")


# ------------------------------------- dynamic re-broadcast (A5 full)

_REBROADCAST_BATCHES = 8  # event_id % 8; batches 0-3 = phase A, 4-7 = B
_REBROADCAST_THRESH_A = 90.0  # initial upload: purchases above this
_REBROADCAST_THRESH_B = 50.0  # re-upload mid-stream: widened target set

_REBROADCAST_ORACLE = f"""
    WITH a AS (
        SELECT DISTINCT user_id, CAST(0 AS INT) AS target_version
        FROM events
        WHERE event_type = 'purchase' AND value > {_REBROADCAST_THRESH_A}
    ),
    b AS (
        SELECT DISTINCT user_id, CAST(1 AS INT) AS target_version
        FROM events
        WHERE event_type = 'purchase' AND value > {_REBROADCAST_THRESH_B}
    )
    SELECT e.event_id, e.user_id, e.event_type,
           'predicted_object_raw_frame_topic_' ||
               CAST(e.user_id % 4 AS VARCHAR) AS topic,
           t.target_version
    FROM events e JOIN a t ON e.user_id = t.user_id
    WHERE e.event_id % {_REBROADCAST_BATCHES} < {_REBROADCAST_BATCHES // 2}
    UNION ALL
    SELECT e.event_id, e.user_id, e.event_type,
           'predicted_object_raw_frame_topic_' ||
               CAST(e.user_id % 4 AS VARCHAR) AS topic,
           t.target_version
    FROM events e JOIN b t ON e.user_id = t.user_id
    WHERE e.event_id % {_REBROADCAST_BATCHES} >= {_REBROADCAST_BATCHES // 2}
"""


def _stop_and_resume(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    n: int,
    schema: str,
    build: Callable[[], DataFrame],
    run: Callable[[DataFrame, str, int], None],
    *cols: str | Column,
) -> DataFrame:
    """Deliver a staged ``n``-batch log (keyed like :func:`_log_stream`)
    in two tranches around a query stop: batches ``[0, n/2)`` are
    linked into a per-run input dir and drained by ``run(stream, work,
    0)``; batches ``[n/2, n)`` land while no query is running, and
    ``run(stream, work, 1)`` drains them from the same checkpoint. Each
    phase's ``run`` writes its parquet sink to ``{work}/out`` under the
    checkpoint ``{work}/ckpt``. Returns the sink's rows projected to
    ``cols``, read through the sink's commit manifest and pinned with
    ``localCheckpoint`` so they outlive the work dir."""
    half = n // 2
    log = staged_microbatch_log((name, os.path.realpath(sf_dir), n), n, build)
    with tempfile.TemporaryDirectory(
        prefix=f"{name}_", ignore_cleanup_errors=True
    ) as work:
        for phase, (lo, hi) in enumerate(((0, half), (half, n))):
            link_batch_files(log, f"{work}/in", lo, hi)
            run(file_stream(spark, f"{work}/in", schema), work, phase)
        out = spark.read.parquet(f"{work}/out").select(*cols)
        return out.localCheckpoint(eager=True)


def _write_targets(ev: DataFrame, thresh: float, version: int, path: str) -> None:
    """The 'upload': (re)write the whole target table with a version
    stamp — reference web/views.py:165-169 re-broadcasts the full
    face set on every upload, never a delta."""
    (
        ev.filter(
            (F.col("event_type") == "purchase") & (F.col("value") > thresh)
        )
        .select("user_id")
        .distinct()
        .withColumn("target_version", F.lit(version).cast("int"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(path)
    )


@query("stream_rebroadcast_replay", oracle=_REBROADCAST_ORACLE)
def stream_rebroadcast_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 DYNAMIC target re-broadcast, driver-checked end-to-end: the
    event stream replays as 8 file micro-batches through
    ``run_match_rebroadcast_stream`` (foreachBatch re-reads the target
    table every batch). After the first 4 batches drain, the target
    table is OVERWRITTEN with a different set (the reference's
    mid-stream re-upload, web/views.py:144-216) and the stream resumes
    from the same checkpoint for batches 4-7. Each output row carries
    the ``target_version`` of the set that matched it, so the oracle
    pins the swap itself: a stale broadcast on the later batches (or a
    premature swap on the earlier ones) changes the version column —
    or drops B-only matches — and fails the hash compare. The shared
    checkpoint additionally proves A10 resume: run 2 must not re-emit
    batches 0-3 (duplicates would double the row count).

    Batch assignment is event_id % 8 — a stream-static join holds no
    watermark state, so arrival order is irrelevant and the phase
    boundary is exactly SQL-expressible."""
    ev = load_table(spark, sf_dir, "events")

    def _match(stream: DataFrame, work: str, phase: int) -> None:
        # phase 0 matches the initial upload; before phase 1 the
        # re-upload swaps the target table, and the stream resumes from
        # the SAME checkpoint over the remaining batches
        thresh = (_REBROADCAST_THRESH_A, _REBROADCAST_THRESH_B)[phase]
        _write_targets(ev, thresh, phase, f"{work}/targets")
        run_match_rebroadcast_stream(
            stream, f"{work}/targets", f"{work}/out", f"{work}/ckpt"
        )

    return _stop_and_resume(
        spark, sf_dir, "rebroadcast_sliced", _REBROADCAST_BATCHES,
        "event_id BIGINT, user_id BIGINT, event_type STRING",
        lambda: ev.select("event_id", "user_id", "event_type").withColumn(
            "batch", (F.col("event_id") % _REBROADCAST_BATCHES).cast("int")
        ),
        _match,
        "event_id", "user_id", "event_type", "topic", "target_version",
    )


# ------------------------------------------------ kafka wire path (A2)

_KAFKA_REPLAY_BATCHES = 4

# The oracle reconstructs the ENTIRE wire round trip from the events
# table alone: payload bytes (sha256 of the producer formula), base64
# text, record key, keyed-publish partition/offset, the embedded
# ingest timestamp (epoch_us/1e6 — the identical integer-to-double
# division Spark performs, so the doubles match bit-for-bit), and the
# detect-stub face count from the payload's first byte.
_KAFKA_DECODE_ORACLE = """
    WITH frames AS (
        SELECT CAST(user_id % 8 AS INT) AS camera,
               CAST(event_id AS INT) AS frame_num,
               sha256(CAST(user_id % 50 AS VARCHAR) || '|' || event_type) AS ph,
               epoch_us(ts) / 1000000.0 AS t
        FROM events WHERE event_id % 20 = 0
    )
    SELECT CAST(camera AS VARCHAR) || '_' || CAST(frame_num AS VARCHAR)
               AS record_key,
           'raw_frame_topic' AS topic,
           CAST(camera % 4 AS INT) AS "partition",
           CAST(row_number() OVER (
               PARTITION BY camera % 4 ORDER BY frame_num
           ) - 1 AS BIGINT) AS "offset",
           camera, frame_num, t AS timestamp,
           base64(from_hex(ph)) AS original_frame,
           '|u1' AS original_dtype,
           array_to_string([CAST(32 AS INT)], ',') AS original_shape,
           CAST(((strpos('0123456789abcdef', substr(ph, 1, 1)) - 1) * 16 +
                 (strpos('0123456789abcdef', substr(ph, 2, 1)) - 1)) % 3
                AS INT) AS n_faces,
           TRUE AS pipeline_ok
    FROM frames
"""


@query("kafka_decode_replay", oracle=_KAFKA_DECODE_ORACLE)
def kafka_decode_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Kafka wire path end-to-end WITHOUT a broker: frames are
    producer-encoded to binary (key, value, topic, partition, offset)
    records (encode_frame_records — the reference's np_to_json +
    keyed publish, src/frame_producer.py:153-182), written as a
    parquet fixture, replayed through real micro-batches in the EXACT
    row shape a ``format("kafka")`` source yields, decoded by
    ``decode_frame_messages``, and the decoded frames then drive the
    full A4->A7 face pipeline. The oracle independently reconstructs
    every decoded field from the events table — any drift in the JSON
    field names, base64/dtype/shape triple, key format, or keyed
    partition/offset assignment breaks the hash compare. n_faces ties
    the DECODED payload bytes to the detect stage (the stub's face
    count is a pure function of the first payload byte);
    ``pipeline_ok`` forces match + annotate to execute per frame
    (their values are model-stub-dependent and stay pytest-checked:
    tests/test_ml.py, ml_face_pipeline)."""
    from ..ml.pipeline import face_pipeline, first_faces_targets, frames_from_events
    from ..sources.streams import decode_frame_messages, encode_frame_records

    stream = _log_stream(
        spark, sf_dir, "kafka_wire", _KAFKA_REPLAY_BATCHES,
        "key BINARY, value BINARY, topic STRING, partition INT, offset BIGINT",
        lambda: encode_frame_records(
            frames_from_events(load_table(spark, sf_dir, "events"))
        ).withColumn(
            "batch", (F.col("offset") % _KAFKA_REPLAY_BATCHES).cast("int")
        ),
    )
    decoded = run_to_memory(decode_frame_messages(stream)).localCheckpoint(
        eager=True
    )
    pframes = spread(
        decoded.select(
            "camera", "frame_num", F.unbase64("original_frame").alias("payload")
        ),
        "camera",
        "frame_num",
    )
    # pin the tiny target set so the full detect pass behind it runs
    # once per invocation, not once per action
    targets = first_faces_targets(pframes).localCheckpoint(eager=True)
    pipe = face_pipeline(pframes, targets)
    return decoded.join(pipe, ["camera", "frame_num"]).select(
        "record_key",
        "topic",
        "partition",
        "offset",
        "camera",
        "frame_num",
        "timestamp",
        "original_frame",
        "original_dtype",
        # flattened to a comma-joined string: the driver canonicalizer
        # (pandas sort/hash) cannot order ArrayType cells
        F.concat_ws(",", F.col("original_shape").cast("array<string>")).alias(
            "original_shape"
        ),
        "n_faces",
        (F.col("prediction").isNotNull() & (F.col("annotated_len") > 6)).alias(
            "pipeline_ok"
        ),
    )


# ------------------------------------- checkpoint recovery (A10 full)

_RESTART_SAMPLE_MOD = 4  # replay every 4th event
_RESTART_BATCHES = 8     # batches 0-3 before the restart, 4-7 after


_RESTART_ORACLE = f"""
    SELECT event_id, user_id, event_type, round(value, 6) AS value
    FROM events WHERE event_id % {_RESTART_SAMPLE_MOD} = 0
"""


@query("stream_restart_replay", oracle=_RESTART_ORACLE)
def stream_restart_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once ACROSS A QUERY RESTART, driver-checked: the stream
    runs 4 micro-batches to a real parquet file sink, the query STOPS
    (availableNow drains and terminates), 4 more batches arrive — the
    first of which REDELIVERS every batch-3 row — and a brand-new
    query restarts from the same checkpoint. Three recovery
    mechanisms have to work together for the result to match the
    distinct batch oracle:

    1. source recovery — the restarted file source must not re-read
       batches 0-3 (re-reading would double their rows in the sink);
    2. state recovery — the cross-restart redelivery collapses ONLY
       if the dedup operator's state store rehydrates from the
       checkpoint (fresh state would emit batch-3 rows twice);
    3. sink recovery — the result is read back through the file
       sink's ``_spark_metadata`` commit manifest, so an uncommitted
       leftover file from a crashed attempt could never leak rows.

    This is the full A10 offset-commit contract the reference
    approximates with Kafka auto-commit + idempotent reprocessing
    (src/prediction_producer.py consumer loop): there, a restart
    re-processes from the last committed offset and re-publishes;
    here, restart resumes exactly where the committed batch log ends.
    The memory-sink replays above cannot test this — Spark refuses to
    recover an append-mode memory sink from a checkpoint, which is
    why this replay uses the production file sink.

    Scale shape: identical to stream_dedup_replay (state keyed on
    event_id, watermark-bounded); the restart machinery itself is
    O(batch log), independent of data volume.
    """
    half = _RESTART_BATCHES // 2

    def _deliveries() -> DataFrame:
        # the full delivery log: original batches 0-7 plus the
        # cross-restart redeliveries in batch 4
        ev = load_table(spark, sf_dir, "events").filter(
            F.col("event_id") % _RESTART_SAMPLE_MOD == 0
        )
        sliced = _time_sliced(
            ev.select("event_id", "user_id", "event_type", "value", "ts"),
            _RESTART_BATCHES,
        )
        phase1 = sliced.filter(F.col("batch") < half)
        # cross-restart redelivery: every batch-3 row arrives AGAIN in
        # batch 4, on the far side of the query restart
        redelivered = sliced.filter(F.col("batch") == half - 1).withColumn(
            "batch", F.lit(half)
        )
        phase2 = sliced.filter(F.col("batch") >= half).unionByName(redelivered)
        return phase1.unionByName(phase2)

    def _dedup_to_file_sink(stream: DataFrame, work: str, _phase: int) -> None:
        drain_stream(
            stream.withWatermark("ts", "90 days").dropDuplicatesWithinWatermark(
                ["event_id"]
            ),
            lambda w: w.format("parquet").option("path", f"{work}/out"),
            f"{work}/ckpt",
            width=_RESTART_BATCHES,
        )

    return _stop_and_resume(
        spark, sf_dir, "restart_deliveries", _RESTART_BATCHES, _DELIVERY_SCHEMA,
        _deliveries,
        _dedup_to_file_sink,
        "event_id", "user_id", "event_type", F.round("value", 6).alias("value"),
    )


# --------------------------------------- left-outer stream-stream join

_LEFT_JOIN_DELAY = "59 minutes"

# The oracle models Spark's outer-join emission rule in closed form:
# matched pairs are the plain interval join; a NULL-extended row
# emits iff the click found no error AND the FINAL watermark — the
# availableNow run's last value, min(max click ts, max error ts) -
# delay, advanced by the closing no-data micro-batch — passed the
# click's last possible match time (click.ts + 1 h). Clicks younger
# than that stay in state and correctly never emit.
_LEFT_JOIN_ORACLE = f"""
    WITH c AS (
        SELECT user_id, event_id AS click_id, ts AS c_ts
        FROM events WHERE event_type = 'click'
    ),
    e AS (
        SELECT user_id AS e_user, event_id AS error_id, ts AS e_ts
        FROM events WHERE event_type = 'error'
    ),
    m AS (
        SELECT c.user_id, c.click_id, e.error_id, c.c_ts, e.e_ts
        FROM c JOIN e
          ON c.user_id = e.e_user
         AND e.e_ts >= c.c_ts AND e.e_ts < c.c_ts + INTERVAL 1 HOUR
    ),
    wm AS (
        SELECT least((SELECT max(c_ts) FROM c), (SELECT max(e_ts) FROM e))
               - INTERVAL 59 MINUTE AS w
    )
    SELECT user_id, click_id, error_id,
           c_ts AS click_ts, e_ts AS error_ts
    FROM m
    UNION ALL
    SELECT c.user_id, c.click_id, CAST(NULL AS BIGINT) AS error_id,
           c.c_ts AS click_ts, CAST(NULL AS TIMESTAMP) AS error_ts
    FROM c
    WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.click_id = c.click_id)
      AND c.c_ts + INTERVAL 1 HOUR <= (SELECT w FROM wm)
"""


@query("stream_left_join_replay", oracle=_LEFT_JOIN_ORACLE)
def stream_left_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked LEFT OUTER stream-stream join, driver-checked: the
    hardest-to-reason-about streaming semantics — NULL rows may only
    emit when the watermark proves no future match can arrive — run
    through the real symmetric hash join over 4+4 ordered file
    micro-batches and compared against a closed-form oracle of the
    emission rule (matched pairs ∪ expired unmatched clicks; clicks
    still inside the final watermark window correctly NEVER emit).

    Ordered arrival makes the matched half lossless for any delay (a
    relevant error always arrives before the watermark could evict
    its click); the NULL half is what the watermark gates, and any
    drift in Spark's eviction boundary, a missing closing no-data
    micro-batch, or a state row lost across batches changes the
    emitted set and fails the hash compare. Scale shape: identical to
    the inner join — one shuffle per side on user_id, state bounded
    by watermark, NULL emission adds no state of its own."""
    from .joins import clicks_to_errors_left_join

    return _click_error_replay(
        spark,
        sf_dir,
        lambda cs, es: clicks_to_errors_left_join(cs, es, delay=_LEFT_JOIN_DELAY),
    )


# ------------------------------------- watermarked window aggregation

_WAGG_BATCHES = 8
_WAGG_DELAY = "2 hours"
# State width of the window, late-drop and update-mode replays: their
# state is a handful of (day, event_type) keys, and each extra state
# partition only adds a commit per batch (A/B: SCALE.md "Replay
# commit floor")
_WAGG_STATE_WIDTH = 1


def _daily_counts_replay(stream: DataFrame, delay: str) -> DataFrame:
    """The daily window-count aggregate the window and late-drop
    replays share: ``window('1 day') x event_type`` counts and
    integer-cents sums under a ``delay`` watermark, drained in append
    mode and returned as (ws, event_type, n_events, cents)."""
    agg = (
        stream.withWatermark("ts", delay)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(cents_spark(F.col("value"))).cast("bigint").alias("cents"),
        )
    )
    emitted = run_to_memory(agg, width=_WAGG_STATE_WIDTH).localCheckpoint(
        eager=True
    )
    return emitted.select(
        F.col("w.start").alias("ws"), "event_type", "n_events", "cents"
    )


# The append-mode emission rule in closed form: a (day, event_type)
# window emits iff the FINAL watermark — max event time across the
# whole replay minus the delay — has passed its end. Ordered
# time-sliced arrival means no row is ever late, so the emitted
# windows carry exact full counts; the last day(s) of the fixture
# stay in state and must NOT appear (asserting their absence is the
# point: it proves the real watermark gate ran, not a batch agg).
_WAGG_ORACLE = f"""
    WITH wm AS (
        SELECT max(ts) - INTERVAL 2 HOUR AS w FROM events
    )
    SELECT date_trunc('day', ts) AS ws, event_type,
           count(*) AS n_events,
           CAST(sum({cents_duck('value')}) AS BIGINT)
               AS cents
    FROM events
    GROUP BY ws, event_type
    HAVING ws + INTERVAL 1 DAY <= (SELECT w FROM wm)
"""


@query("stream_window_replay", oracle=_WAGG_ORACLE)
def stream_window_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation, driver-checked through
    the REAL stateful machinery: events replay as 8 event-time-ordered
    file micro-batches into ``window('1 day') x event_type`` counts
    under a 2-hour watermark, append mode — a window row may only be
    emitted once the watermark passes its end, so the final day(s)
    remain un-emitted in state. The oracle states that emission rule
    in closed form (HAVING window_end <= max_ts - delay) over the
    batch table; a regression in watermark advancement, state
    finalization, or the no-data flush batch shows up as missing or
    extra window rows, not a silent pass (the batch-only pytest
    equality in tests/test_streaming.py cannot see those).

    The summed measure is integer cents (explicit half-up) so the
    incremental partial aggregation order cannot perturb a float
    hash. Scale shape: identical to any production streaming rollup —
    state is one row per open (window, type), eviction is by
    watermark, shuffle is one exchange on the group keys."""
    stream = _events_stream(
        spark, sf_dir, "ts TIMESTAMP, event_type STRING, value DOUBLE"
    )
    return _daily_counts_replay(stream, _WAGG_DELAY)


def _batch_duck(n_batches: int) -> str:
    """_time_sliced's octile arithmetic restated in DuckDB SQL —
    Spark's unix_micros == DuckDB's epoch_us, so both engines assign
    every event the identical micro-batch. The ONE definition of this
    engine-parity-critical formula: every oracle that must predict
    batch assignment (update-mode emission counts, planted-late
    routing) builds on it; changing _time_sliced means changing this
    twin in lockstep, in exactly one place."""
    return f"""
    least(floor(((epoch_us(ts) - (SELECT epoch_us(min(ts)) FROM events)) * 1.0
        / ((SELECT epoch_us(max(ts)) FROM events)
           - (SELECT epoch_us(min(ts)) FROM events) + 1)) * {n_batches}),
        {n_batches - 1})
"""


# ------------------------------------------- planted-late-data drop

_LATE_BATCHES = 8
_LATE_DELAY = "1 hour"
_LATE_MOD = 20  # ~5% of rows planted late, hash-routed
_LATE_SHIFT = 3  # planted rows ARRIVE 3 micro-batches after origin
_LATE_MAX_ORIGIN = 4  # plant only from octiles 0..4 (margin argument)

_LATE_BATCH_DUCK = _batch_duck(_LATE_BATCHES)

_LATE_KEY_DUCK = hex32_duck("'late:' || CAST(event_id AS VARCHAR)")
_LATE_FLAG_DUCK = f"{_LATE_KEY_DUCK} % {_LATE_MOD} = 0"

_LATE_ORACLE = f"""
    WITH flagged AS (
        SELECT ts, event_type, value,
               ({_LATE_FLAG_DUCK}
                AND {_LATE_BATCH_DUCK} <= {_LATE_MAX_ORIGIN}) AS is_late
        FROM events
    ),
    kept AS (SELECT * FROM flagged WHERE NOT is_late),
    wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM kept)
    SELECT date_trunc('day', ts) AS ws, event_type,
           count(*) AS n_events,
           CAST(sum({cents_duck('value')}) AS BIGINT) AS cents
    FROM kept
    GROUP BY ws, event_type
    HAVING ws + INTERVAL 1 DAY <= (SELECT w FROM wm)
"""


@query("stream_late_drop_replay", oracle=_LATE_ORACLE)
def stream_late_drop_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA DROP, driver-checked — the one streaming
    semantic stream_window_replay cannot see, because its time-sliced
    ordered arrival means nothing is ever late. Here a deterministic
    ~5% of rows (md5 hash-routed, origin octiles 0..{_LATE_MAX_ORIGIN}
    only) are delivered {_LATE_SHIFT} micro-batches AFTER their
    origin, with event times untouched. Under a {_LATE_DELAY}
    watermark every planted row arrives unambiguously behind the
    stream's watermark and the real EventTimeWatermark filter must
    drop it before the windowed aggregation; the oracle computes the
    surviving set in closed form (everything except the planted rows)
    plus the append-mode emission gate. An engine that fails to drop
    late input inflates n_events/cents; one that drops too much
    (e.g. filters by arrival batch, not event time) starves them.

    The margin argument that makes the oracle exact: a planted row
    from octile b arrives at batch b+{_LATE_SHIFT}, when the
    watermark already covers on-time octiles through b+{_LATE_SHIFT}-1
    — its event time trails the watermark by >= one octile (days of
    fixture time) minus the {_LATE_DELAY} delay, and every on-time
    row leads it by the same margin, so no row sits near the drop
    boundary and Spark's exact <-vs-<= boundary semantics cannot
    flip the result. Late rows never RAISE the watermark (they are
    old by construction), and the global max-ts row is on-time
    (origin octile {_LATE_BATCHES - 1}), so the final-watermark gate
    matches stream_window_replay's closed form over the kept set.

    Scale shape: identical to stream_window_replay — one exchange on
    the window group keys, state = open windows x types, eviction by
    watermark; the late-routing column is a narrow md5 expression on
    the replay writer side only."""
    def _arrivals() -> DataFrame:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "event_type", "value"
        )
        sliced = _time_sliced(ev, _LATE_BATCHES)
        is_late = (
            hex32_spark(F.concat(F.lit("late:"), F.col("event_id").cast("string")))
            % _LATE_MOD
            == 0
        ) & (F.col("batch") <= _LATE_MAX_ORIGIN)
        routed = sliced.withColumn(
            "arrival",
            F.when(is_late, F.col("batch") + _LATE_SHIFT).otherwise(F.col("batch")),
        )
        # routed arrival order is a pure function of the fixture: the
        # staged log's batch column IS the arrival batch
        return routed.select(
            F.col("arrival").alias("batch"), "ts", "event_type", "value"
        )

    stream = _log_stream(
        spark, sf_dir, "late_drop_arrivals", _LATE_BATCHES,
        "ts TIMESTAMP, event_type STRING, value DOUBLE", _arrivals,
    )
    return _daily_counts_replay(stream, _LATE_DELAY)


# ------------------------------------------- update-mode aggregation

_UPD_BATCHES = 8

# the oracle predicts exactly how many update rows each key emitted
# (one per batch containing at least one row of the key — update mode
# emits changed keys only), via the shared octile twin _batch_duck
_UPD_BATCH_DUCK = _batch_duck(_UPD_BATCHES)

_UPD_ORACLE = f"""
    SELECT event_type,
           count(*) AS n_final,
           CAST(count(DISTINCT {_UPD_BATCH_DUCK}) AS BIGINT) AS n_updates
    FROM events
    GROUP BY event_type
"""


@query("stream_update_mode_replay", oracle=_UPD_ORACLE)
def stream_update_mode_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE output mode, driver-checked: an unwatermarked running
    count per event_type replays over 8 ordered micro-batches; the
    memory sink accumulates the UPDATE LOG (one row per key per batch
    in which the key's count changed). Two facts are checked at once,
    per key: the final running count (max over the log — counts are
    monotone) must equal the batch count, and the NUMBER of log rows
    must equal the number of micro-batches containing that key — the
    oracle recomputes the replay's own octile slicing in SQL to
    predict it. An engine that re-emits unchanged keys, skips a
    batch's emission, or mis-merges state across batches breaks one
    of the two columns. Complements the append-mode window replay
    (stream_window_replay): append checks WHEN rows may finally be
    emitted, update checks WHAT is emitted every intermediate batch."""
    stream = _events_stream(spark, sf_dir, "ts TIMESTAMP, event_type STRING")
    agg = stream.groupBy("event_type").agg(F.count("*").alias("n"))
    log = run_to_memory(
        agg, mode="update", width=_WAGG_STATE_WIDTH
    ).localCheckpoint(eager=True)
    return log.groupBy("event_type").agg(
        F.max("n").alias("n_final"),
        F.count("*").cast("bigint").alias("n_updates"),
    )


# --------------------------------------- session-window aggregation

_SESS_BATCHES = 8
_SESS_GAP_MIN = 10
_SESS_DELAY = "2 hours"

# Append-mode emission for MERGING state: a session emits iff the
# final watermark passed its end (last event ts + gap). The oracle
# rebuilds identical sessions with the gaps-and-islands construction
# and states the gate in closed form; sessions touching the last two
# hours of the fixture must stay in state and NOT appear.
_SESS_ORACLE = f"""
    WITH wm AS (
        SELECT max(ts) - INTERVAL 2 HOUR AS w FROM events
    ),
    marked AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER win IS NULL
                         OR ts - lag(ts) OVER win
                            >= INTERVAL {_SESS_GAP_MIN} MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW win AS (PARTITION BY user_id ORDER BY ts)
    ),
    numbered AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
               ) AS sid
        FROM marked
    ),
    sessions AS (
        SELECT user_id,
               min(ts) AS session_start,
               max(ts) + INTERVAL {_SESS_GAP_MIN} MINUTE AS session_end,
               count(*) AS n_events,
               CAST(sum({cents_duck('value')}) AS BIGINT)
                   AS cents
        FROM numbered GROUP BY user_id, sid
    )
    SELECT user_id, session_start, session_end, n_events, cents
    FROM sessions WHERE session_end <= (SELECT w FROM wm)
"""


@query("stream_session_replay", oracle=_SESS_ORACLE)
def stream_session_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked SESSION-window aggregation driver-checked through
    the real stateful machinery — the only stateful operator whose
    state MERGES (two open sessions fuse when a bridging event
    arrives), which tumbling/update replays cannot exercise. Events
    replay as 8 event-time-ordered micro-batches into per-user
    10-minute-gap session windows under a 2-hour watermark, append
    mode: a session may only emit once the watermark passes its end
    (last event + gap), so sessions touching the fixture's final two
    hours provably stay in state. The oracle derives the identical
    session set with the batch gaps-and-islands construction and
    states the emission gate in closed form — a drift in session
    merge, gap arithmetic (end is exclusive: last_ts + gap), watermark
    advancement, or the closing no-data flush changes the emitted set
    and fails the hash compare.

    Scale shape: one shuffle on user_id; state is one row per OPEN
    session per user (merged eagerly, evicted at watermark), so state
    size tracks concurrent activity, not stream length. The summed
    measure is integer cents so incremental merge order can't perturb
    a float hash."""
    stream = _events_stream(spark, sf_dir, "user_id BIGINT, ts TIMESTAMP, value DOUBLE")
    cents = cents_spark(F.col("value"))
    agg = (
        stream.withWatermark("ts", _SESS_DELAY)
        .groupBy(
            "user_id",
            F.session_window("ts", f"{_SESS_GAP_MIN} minutes").alias("w"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(cents).cast("bigint").alias("cents"),
        )
    )
    emitted = run_to_memory(agg, width=_SESS_BATCHES).localCheckpoint(eager=True)
    return emitted.select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_events",
        "cents",
    )


# --------------------------------------- incremental CDC apply (sink)

_CDC_BATCHES = 8
# 8 buckets at fixture scale (a production snapshot scales this into
# the thousands); the fixture's ~1.2k keys touch every bucket every
# batch, so pruning only fires when key-space >> batch keys — the
# mechanics (per-bucket generations, pruned reads) are what's tested
_CDC_BUCKETS = 8

# The write-side of log compaction must converge to the batch
# compaction's snapshot — ONE shared oracle constant (and tombstone),
# so the convergence contract cannot silently drift between modules.
from ..plans.warehouse import CDC_SNAPSHOT_ORACLE as _CDC_APPLY_ORACLE  # noqa: E402
from ..plans.warehouse import _TOMBSTONE as _CDC_TOMBSTONE  # noqa: E402


def _cdc_compact_batch(batch):
    """Collapse one micro-batch to its per-key latest op (+ op count),
    bucketed for partition-pruned snapshot rewrite."""
    return (
        batch.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("event_type", "value", "ts", "event_id"),
                F.struct("ts", "event_id"),
            ).alias("last"),
            F.count("*").alias("n_ops"),
        )
        .select(
            "user_id",
            F.col("last.event_type").alias("event_type"),
            F.col("last.value").alias("value"),
            F.col("last.ts").alias("ts"),
            F.col("last.event_id").alias("event_id"),
            "n_ops",
            F.pmod(F.hash("user_id"), F.lit(_CDC_BUCKETS)).alias("bucket"),
        )
    )


def _cdc_read_gen(hist: list[tuple[int, str]], epoch_id: int) -> str | None:
    """The bucket generation a merge for ``epoch_id`` must read: the
    latest generation written by an EARLIER epoch. foreachBatch is
    at-least-once — a crash between the generation write and the
    batch commit re-delivers the epoch, and re-merging against the
    epoch's own output would double-accumulate op counts. Keyed on
    epoch, a retry transparently re-reads the pre-epoch state and the
    idempotent gen-dir overwrite replaces the partial attempt."""
    for ep, path in reversed(hist):
        if ep < epoch_id:
            return path
    return None


def _cdc_record_gen(
    hist: list[tuple[int, str]], epoch_id: int, path: str
) -> None:
    """Record ``path`` as ``epoch_id``'s generation (replacing a prior
    attempt of the same epoch, appending otherwise)."""
    if hist and hist[-1][0] == epoch_id:
        hist[-1] = (epoch_id, path)
    else:
        hist.append((epoch_id, path))


def _cdc_merge(cur: DataFrame, inc: DataFrame) -> DataFrame:
    """Greatest-(ts, event_id)-wins full-outer merge of the current
    snapshot slice with a compacted batch; op counts accumulate.
    Tombstones are RETAINED (flagged rows, filtered at read time) so
    a late re-insert after a delete still compares against the
    tombstone's position in the log."""
    c = cur.select(*(F.col(x).alias(f"c_{x}") for x in cur.columns))
    i = inc.select(*(F.col(x).alias(f"i_{x}") for x in inc.columns))
    j = c.join(i, c["c_user_id"] == i["i_user_id"], "full_outer")
    inc_wins = F.col("c_user_id").isNull() | (
        F.col("i_user_id").isNotNull()
        & (
            F.struct(F.col("i_ts"), F.col("i_event_id"))
            > F.struct(F.col("c_ts"), F.col("c_event_id"))
        )
    )
    pick = lambda x: F.when(inc_wins, F.col(f"i_{x}")).otherwise(F.col(f"c_{x}"))  # noqa: E731
    return j.select(
        F.coalesce("c_user_id", "i_user_id").alias("user_id"),
        pick("event_type").alias("event_type"),
        pick("value").alias("value"),
        pick("ts").alias("ts"),
        pick("event_id").alias("event_id"),
        (
            F.coalesce("c_n_ops", F.lit(0)) + F.coalesce("i_n_ops", F.lit(0))
        ).alias("n_ops"),
        F.coalesce("c_bucket", "i_bucket").alias("bucket"),
    )


def make_cdc_apply(
    work: str,
    bucket_hist: dict[int, list[tuple[int, str]]],
    read_log: list[tuple[int, list[tuple[int, str]]]] | None = None,
):
    """Build the foreachBatch upsert for the bucketed parquet snapshot
    under ``work``. ``read_log``, when given, records every
    (epoch_id, [(bucket, generation_path)...]) the merge READS — the
    bucket-pruning contract ("an untouched bucket's files are never
    opened") is asserted against it deterministically in
    tests/test_round7_ops.py, not argued by wall-clock."""

    def _apply(batch: DataFrame, epoch_id: int) -> None:
        s = batch.sparkSession
        # persist, not checkpoint: the touched-bucket collect below is
        # the first action anyway, so caching makes it ALSO populate
        # the compact for the merge write — still 2 jobs per
        # micro-batch, but the agg now evaluates once instead of twice
        # (a localCheckpoint would be a third job; unpersisted after
        # the write so the pinned-RDD census stays clean)
        compacted = _cdc_compact_batch(batch).persist()
        # everything after the persist runs under try/finally so a
        # failing snapshot read / union / write can't leave the cached
        # RDD pinned in the session (ADVICE r15) — the census contract
        # is "0 pinned at session end" even on error paths
        try:
            # control-plane collect, bounded at O(n_buckets) rows (<= 64
            # distinct bucket ids, never data rows): the driver must know
            # WHICH bucket generations to open before it can build the
            # merge plan. The only .collect() in the package — keep it
            # that way; data stays executor-side everywhere else.
            touched = sorted(
                r["bucket"]
                for r in compacted.select("bucket").distinct().collect()
            )
            if not touched:
                return
            cur_paths = [
                (b, _cdc_read_gen(bucket_hist.get(b, []), epoch_id))
                for b in touched
            ]
            if read_log is not None:
                read_log.append(
                    (epoch_id, [(b, p) for b, p in cur_paths if p is not None])
                )
            slices = [
                s.read.parquet(p).withColumn("bucket", F.lit(b))
                for b, p in cur_paths
                if p is not None
            ]
            # touched IS compacted's distinct bucket set — no filter
            # needed
            merged = (
                _cdc_merge(reduce(DataFrame.unionByName, slices), compacted)
                if slices
                else compacted
            )
            gen_dir = f"{work}/snap/gen={epoch_id}"
            # cluster by bucket before the partitioned write: one file
            # per bucket generation instead of shuffle_partitions x
            # buckets
            merged.repartition(F.col("bucket")).write.mode(
                "overwrite"
            ).partitionBy("bucket").parquet(gen_dir)
        finally:
            compacted.unpersist(False)
        for b in touched:
            bdir = f"{gen_dir}/bucket={b}"
            if os.path.isdir(bdir):
                _cdc_record_gen(bucket_hist.setdefault(b, []), epoch_id, bdir)

    return _apply


@query("stream_cdc_apply_replay", oracle=_CDC_APPLY_ORACLE)
def stream_cdc_apply_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CDC APPLY, driver-checked: the events change log
    replays as 8 ordered micro-batches through ``foreachBatch``, each
    batch upserting into a parquet snapshot partitioned into 8 hash
    buckets — and ONLY the buckets a batch actually touches are read
    and rewritten (bucket generations tracked per bucket, so an
    untouched bucket's files are never opened). The final snapshot
    must converge to the batch compaction's closed-form oracle
    (cdc_latest_snapshot): last-writer-wins on (ts, event_id),
    tombstoned keys absent, per-key op counts accumulated across all
    eight merges. A merge that loses a concurrent key, resurrects a
    tombstone, double-counts a batch, or reads a stale bucket
    generation diverges from the oracle.

    This is the write-side of Kafka log compaction — the reference's
    per-camera latest-frame contract (web/views.py:200-236) made
    durable and incremental. Scale shape: per batch, cost is
    O(batch) + O(touched snapshot buckets) — NOT O(snapshot): the
    bucket routing is the poor-man's MERGE a plain-parquet pipeline
    uses where Delta/Iceberg would provide it natively; at 100 TB the
    bucket count scales up and the same plan holds (each merge is one
    equi full-outer join per touched slice). Tombstones stay in the
    snapshot as flagged rows so ordering against late re-inserts
    stays well-defined; the read side filters them."""
    stream = _events_stream(
        spark,
        sf_dir,
        "user_id BIGINT, event_type STRING, value DOUBLE, ts TIMESTAMP,"
        " event_id BIGINT",
    )
    # per-bucket generation HISTORY keyed by epoch — not a bare
    # latest-path pointer — so an at-least-once epoch re-delivery
    # re-reads the pre-epoch generation (see _cdc_read_gen)
    bucket_hist: dict[int, list[tuple[int, str]]] = {}
    with tempfile.TemporaryDirectory(
        prefix="cdc_apply_", ignore_cleanup_errors=True
    ) as work:
        _apply = make_cdc_apply(work, bucket_hist)
        drain_stream(
            stream,
            lambda w: w.foreachBatch(_apply),
            f"{work}/ckpt",
            width=_CDC_BATCHES,
        )
        snap = reduce(
            DataFrame.unionByName,
            [spark.read.parquet(hist[-1][1]) for hist in bucket_hist.values()],
        )
        return (
            snap.filter(F.col("event_type") != _CDC_TOMBSTONE)
            .select(
                "user_id",
                cents_spark(F.col("value")).alias("last_cents"),
                F.col("ts").alias("last_ts"),
                "n_ops",
            )
            .localCheckpoint(eager=True)
        )


# --------------------------------------------- stateful funnel

_FUN_BATCHES = 8
# Stateful-shuffle width for the PER-USER funnel form only. Its cost
# is Python-side per-group work (state decode + pandas assembly per
# active user per batch), so width = concurrent Arrow workers; on
# local[32], 16 measured ~10% faster than 8 interleaved A/B (SCALE.md
# "Replay-family fixed-wall profile, round 15"). The BUCKETED form
# keeps _FUN_BATCHES: with 64 bucket-groups its per-batch Python work
# is already amortized, and 16 measured ~9% SLOWER than 8 there (more
# state-store commits, no Python win).
_FUN_SHUFFLE = 16


def _funnel_replay(
    spark: SparkSession,
    sf_dir: str,
    build: Callable[[DataFrame], DataFrame],
    width: int,
) -> DataFrame:
    """Drain the shared events log through the funnel operator
    ``build`` and count its (user_id, stage) completions per stage —
    the body both funnel replays share. Every stage is listed, with 0
    when no user reached it."""
    stream = _events_stream(
        spark,
        sf_dir,
        "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, event_type STRING",
    )
    emitted = run_to_memory(build(stream), width=width).localCheckpoint(
        eager=True
    )
    stages = spark.createDataFrame(
        [("1_view",), ("2_click",), ("3_purchase",)], "stage STRING"
    )
    counts = emitted.groupBy("stage").agg(F.count("*").alias("n"))
    return stages.join(counts, "stage", "left").select(
        "stage", F.coalesce("n", F.lit(0)).cast("bigint").alias("n_users")
    )

# The batch funnel's ordered-reachability counts, reach-only (the
# streaming operator emits each user's stage completions exactly
# once, so per-stage emission counts == the batch reach sums).
_FUNNEL_REPLAY_ORACLE = """
    WITH v AS (
        SELECT user_id, ts, event_id, event_type,
               max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) OVER w
                   AS seen_view
        FROM events
        -- both funnel forms exclude the NULL user (funnel_stream)
        WHERE user_id IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING)
    ),
    c AS (
        SELECT *,
               CASE WHEN event_type = 'click' AND seen_view = 1
                    THEN 1 ELSE 0 END AS click_ok,
               max(CASE WHEN event_type = 'click' AND seen_view = 1
                        THEN 1 ELSE 0 END) OVER w AS seen_click
        FROM v
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING)
    ),
    reach AS (
        SELECT user_id,
               max(seen_view) AS r1,
               max(click_ok) AS r2,
               max(CASE WHEN event_type = 'purchase' AND seen_click = 1
                        THEN 1 ELSE 0 END) AS r3
        FROM c GROUP BY user_id
    )
    SELECT '1_view' AS stage, CAST(sum(r1) AS BIGINT) AS n_users FROM reach
    UNION ALL
    SELECT '2_click', CAST(sum(r2) AS BIGINT) FROM reach
    UNION ALL
    SELECT '3_purchase', CAST(sum(r3) AS BIGINT) FROM reach
"""


@query("stream_funnel_replay", oracle=_FUNNEL_REPLAY_ORACLE)
def stream_funnel_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The conversion funnel through REAL streaming state: events
    replay as 8 ordered micro-batches into a per-user 3-bit
    applyInPandasWithState machine that emits each stage completion
    exactly once, the first time the user's ordered subsequence
    reaches it — and the per-stage emission counts must equal the
    batch funnel's chained-window reach sums (the oracle). What this
    checks that the batch funnel row (funnel_view_click_purchase)
    cannot: stage progress held in the state store SURVIVES across
    micro-batch boundaries (a view in batch 1 must license a click in
    batch 6), duplicate emissions are structurally impossible, and
    the in-batch (ts, event_id) sort inside the operator reproduces
    the windows' total order.

    Scale shape: 3 ints of state per user forever (no growth with
    stream length), one shuffle on user_id, <= 3 output rows per user
    ever — the cheapest possible stateful operator, and the streaming
    form of the reference's first-match state machine
    (src/prediction_producer.py:321-323)."""
    from .funnel import funnel_stream

    return _funnel_replay(spark, sf_dir, funnel_stream, _FUN_SHUFFLE)


@query("stream_funnel_bucketed_replay", oracle=_FUNNEL_REPLAY_ORACLE)
def stream_funnel_bucketed_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_funnel_replay's exact semantics through the BUCKETED
    state layout (streaming/funnel.py::funnel_stream_bucketed): one
    state-store group per user-id bucket, per-user 3-bit masks as
    parallel arrays inside the bucket row. Same oracle, same
    per-stage emission counts — what this adds is driver proof that
    the per-group-tax mitigation is output-equivalent to the per-user
    form (applyInPandasWithState pays a fixed pandas/Arrow cost PER
    GROUP PER MICRO-BATCH; bucketing pays it n_buckets times instead
    of active-users times — measured 10x comparison in SCALE.md,
    "Bucketed-funnel probe")."""
    from .funnel import funnel_stream_bucketed

    return _funnel_replay(
        spark,
        sf_dir,
        lambda stream: funnel_stream_bucketed(stream, n_buckets=64),
        _FUN_BATCHES,
    )


# ------------------------------------- A8 observe()-metrics replay

_OBS_BATCHES = 8
_OBS_NAME = "replay_obs"

_OBS_ORACLE = f"""
    WITH per AS (
        SELECT CAST({_batch_duck(_OBS_BATCHES)} AS INT) AS oct,
               count(*) AS n_rows,
               CAST(sum({cents_duck('value')}) AS BIGINT) AS cents,
               CAST(min(epoch_us(ts)) AS BIGINT) AS min_ts_us,
               CAST(max(epoch_us(ts)) AS BIGINT) AS max_ts_us
        FROM events GROUP BY oct
    )
    SELECT CAST(row_number() OVER (ORDER BY oct) - 1 AS INT) AS batch,
           n_rows, cents, min_ts_us, max_ts_us, TRUE AS latency_pos
    FROM per
"""


@query("stream_observe_metrics_replay", oracle=_OBS_ORACLE)
def stream_observe_metrics_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 observability (reference src/prediction_producer.py:355-361:
    per-message ``latency = now - ingest_ts`` appended to a per-process
    CSV), driver-checked through the engine's native metric channel
    end-to-end: ``observe()`` computes per-micro-batch aggregates
    INSIDE the running query (no second pass over the data), and a
    ``StreamingQueryListener`` receives them on the engine's event bus
    — the returned DataFrame is built from what the LISTENER heard,
    not from the sink, so a regression anywhere in the
    observe->progress->listener path shows up as a hash mismatch.

    Determinism: the metrics compared are replay-stable (per-batch row
    count, integer-cents sum, event-time range in micros); the
    wall-clock A8 latency metric itself flows through the same
    observation and is pinned by the one assertion that IS
    deterministic for a historical fixture: max latency > 0
    (``latency_pos``). The oracle restates the octile slicing in
    closed form and dense-ranks non-empty octiles, exactly the
    arrival order the file source guarantees (harness.py mtime
    contract), so an empty octile cannot desync the comparison.

    Scale shape: observed metrics are O(1) per micro-batch per
    executor (partial aggregates merged by the engine) — the 100 TB
    replacement for per-row metric writes, which would be write
    amplification of the input itself."""
    import time as _time

    from .metrics import MetricsListener, latest_by_batch, with_latency

    ev = load_table(spark, sf_dir, "events").select("ts", "value")
    total = ev.count()  # control-plane scalar: drain target for the bus
    stream = _events_stream(spark, sf_dir, "ts TIMESTAMP, value DOUBLE")
    observed = with_latency(stream).observe(
        _OBS_NAME,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(cents_spark(F.col("value"))).cast("bigint").alias("cents"),
        F.min(F.unix_micros("ts")).alias("min_ts_us"),
        F.max(F.unix_micros("ts")).alias("max_ts_us"),
        F.max("latency_ms").alias("max_latency_ms"),
    )
    listener = MetricsListener(_OBS_NAME)
    spark.streams.addListener(listener)
    try:
        with tempfile.TemporaryDirectory(
            prefix="obs_replay_", ignore_cleanup_errors=True
        ) as work:
            drain_stream(observed, lambda w: w.format("noop"), f"{work}/ckpt")
        # listener delivery is asynchronous to query termination:
        # drain the bus until every input row has been accounted for
        # a micro-batch re-executed after a checkpoint recovery/retry
        # emits a SECOND progress event for the same batch_id —
        # latest_by_batch collapses to one event per id before any
        # accounting, so a retry can neither over-count `seen` nor
        # duplicate per-batch rows below.
        deadline = _time.monotonic() + 60
        while _time.monotonic() < deadline:
            seen = sum(
                b["observed"]["n_rows"]
                for b in latest_by_batch(listener.batches)
                if b["observed"] is not None
            )
            if seen >= total:
                break
            _time.sleep(0.2)
        else:
            raise TimeoutError(
                f"listener drained {seen}/{total} rows before deadline"
            )
    finally:
        spark.streams.removeListener(listener)
    heard = [
        b
        for b in latest_by_batch(listener.batches)
        # drop the empty no-data flush batch BEFORE enumerating,
        # so its position can never gap the dense batch numbering
        if b["observed"] is not None and b["observed"]["n_rows"] > 0
    ]
    rows = [
        (
            i,
            int(o["n_rows"]),
            int(o["cents"]),
            int(o["min_ts_us"]),
            int(o["max_ts_us"]),
            o["max_latency_ms"] > 0,
        )
        for i, o in enumerate(b["observed"] for b in heard)
    ]
    return spark.createDataFrame(
        rows,
        "batch INT, n_rows BIGINT, cents BIGINT, "
        "min_ts_us BIGINT, max_ts_us BIGINT, latency_pos BOOLEAN",
    )
