"""Per-camera consecutive-duplicate frame suppression as a step of the
package's one keyed state machine (``keyed.keyed_fold``).

The reference's "smart" capture mode drops frames identical to the
previous one at the SOURCE (imutils path, frame_producer.py:100-119)
— a per-camera stateful filter. Here it is a keyed stateful streaming
operator: state is one value per camera (the last emitted payload
hash), rows fold in frame order, and only change points survive.
Compare reorder.py, the other per-camera step, which folds in arrival
order.

Scale notes: one shuffle on camera; state is O(1) per key (a single
hash), read/updated once per batch per key. The operator is
provider-independent: a large-state stream passes the RocksDB
provider per stream (``run_to_memory(..., conf=...)``).
"""

from __future__ import annotations

from typing import Any

import pandas as pd
from pyspark.sql import DataFrame

from .keyed import keyed_fn, keyed_fold

OUTPUT_SCHEMA = "camera INT, frame_num INT, payload_hash STRING"
_STATE_SCHEMA = "h STRING"
_ORDER = ["frame_num"]


def _change_step(
    key: tuple[Any, ...], state: Any, rows: pd.DataFrame
) -> tuple[tuple, pd.DataFrame | None]:
    """Emit a frame only when its payload hash differs from the last
    EMITTED frame of the same camera (state survives micro-batches)."""
    last = state[0] if state else None
    fns, hs = [], []
    for fn, h in zip(rows["frame_num"].tolist(), rows["payload_hash"].tolist()):
        if h != last:
            fns.append(fn)
            hs.append(h)
            last = h
    out = None
    if fns:
        out = pd.DataFrame(
            {"camera": int(key[0]), "frame_num": fns, "payload_hash": hs}
        )
    return (last,), out


_detect_changes = keyed_fn(_change_step, order=_ORDER)


def drop_unchanged_frames(frames: DataFrame) -> DataFrame:
    """Apply the change detector to a streaming DataFrame with
    columns (camera INT, frame_num INT, payload_hash STRING)."""
    return keyed_fold(
        frames, "camera", _change_step, _STATE_SCHEMA, OUTPUT_SCHEMA, _ORDER
    )
