"""Stateful per-key ordered-reassembly buffer (reference A11).

The reference restores per-camera frame order after parallel
consumers scramble it: a min-heap of frame numbers plus a payload
dict per camera, popped once the buffer fills (src/utils.py:139-191,
95-135). That implementation never evicts consumed entries
(utils.py:50, 168 — an unbounded leak) and paces emission with
wall-clock sleeps.

Here the same semantics are a step of the package's one keyed state
machine (``keyed.keyed_fold``), folded in arrival order:

- state per camera = (next expected frame, pending out-of-order
  frames); entries are REMOVED on emit — state size is bounded by the
  disorder, not the stream length;
- frames are emitted exactly in frame_num order; a gap stalls its
  camera until the missing frame arrives or the pending buffer
  exceeds ``buffer_size``, at which point the operator skips forward
  to the smallest buffered frame (the reference's fixed-size-heap
  behavior when a frame is lost); frames arriving BEHIND the emit
  point after such a skip are stale and dropped (watermark-style), so
  the output is strictly increasing per camera under every arrival
  order — property-tested in tests/test_properties.py;
- scale: state is per-key and the operator shuffles once on camera;
  1000 cameras on 1000 executors hold one tiny heap each. This is the
  one operator Spark has no built-in for (SURVEY.md §4).
"""

from __future__ import annotations

from functools import partial
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame

from .keyed import keyed_fn, keyed_fold

OUTPUT_SCHEMA = "camera INT, frame_num INT, payload STRING"
STATE_SCHEMA = (
    "next_expected INT, pending_nums ARRAY<INT>, pending_payloads ARRAY<STRING>"
)


def _reorder_step(
    buffer_size: int, key: tuple[Any, ...], state: Any, rows: pd.DataFrame
) -> tuple[tuple, pd.DataFrame | None]:
    """Buffer one camera's micro-batch and emit every frame that is
    now next in order."""
    next_expected, pending = (
        (state[0], dict(zip(state[1], state[2]))) if state else (0, {})
    )
    for frame_num, payload in zip(
        rows["frame_num"].tolist(), rows["payload"].tolist()
    ):
        # frames behind the emit point are STALE (we already skipped
        # past them on overflow) — drop them, like watermark late
        # data: emitted order stays strictly increasing and state
        # cannot resurrect old frames
        if frame_num >= next_expected:
            pending[frame_num] = payload

    out_nums: list[int] = []
    out_payloads: list[str] = []

    def drain(n: int) -> int:
        while n in pending:
            out_nums.append(n)
            out_payloads.append(pending.pop(n))  # evict on emit
            n += 1
        return n

    next_expected = drain(next_expected)
    while len(pending) > buffer_size:
        # buffer overflow: skip the gap to the smallest buffered frame,
        # like the reference's bounded heap under frame loss
        next_expected = drain(min(pending))

    out = None
    if out_nums:
        out = pd.DataFrame(
            {"camera": key[0], "frame_num": out_nums, "payload": out_payloads}
        )
    return (next_expected, list(pending), list(pending.values())), out


def make_reorder_fn(buffer_size: int = 64):
    """The per-group stateful function (picklable closure)."""
    return keyed_fn(partial(_reorder_step, buffer_size))


def reorder_stream(frames: DataFrame, buffer_size: int = 64) -> DataFrame:
    """Apply the reorder buffer to a streaming DataFrame with columns
    (camera INT, frame_num INT, payload STRING)."""
    return keyed_fold(
        frames,
        "camera",
        partial(_reorder_step, buffer_size),
        STATE_SCHEMA,
        OUTPUT_SCHEMA,
    )
