"""Per-camera consecutive-duplicate frame suppression as a keyed
``applyInPandasWithState`` operator.

The reference's "smart" capture mode drops frames identical to the
previous one at the SOURCE (imutils path, frame_producer.py:100-119)
— a per-camera stateful filter. Here it is a keyed stateful streaming
operator: state is one value per camera (the last emitted payload
hash), rows stream through in frame order, and only change points
survive. Compare reorder.py, the other per-camera state machine on
the same API.

Scale notes: one shuffle on camera; state is O(1) per key (a single
hash), read/updated once per batch per key. The operator is
provider-independent: a large-state stream passes the RocksDB
provider per stream (``run_to_memory(..., conf=...)``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("camera", IntegerType()),
        StructField("frame_num", IntegerType()),
        StructField("payload_hash", StringType()),
    ]
)

_STATE_SCHEMA = StructType([StructField("h", StringType())])


def _detect_changes(key, pdfs, state):
    """Emit a frame only when its payload hash differs from the last
    EMITTED frame of the same camera (state survives micro-batches)."""
    last = state.get[0] if state.exists else None
    cams, fns, hs = [], [], []
    pdf = pd.concat(list(pdfs)).sort_values("frame_num")
    for fn, h in zip(pdf["frame_num"], pdf["payload_hash"]):
        if h != last:
            cams.append(int(key[0]))
            fns.append(int(fn))
            hs.append(h)
            last = h
    state.update((last,))
    if cams:
        yield pd.DataFrame({"camera": cams, "frame_num": fns, "payload_hash": hs})


def drop_unchanged_frames(frames: DataFrame) -> DataFrame:
    """Apply the change detector to a streaming DataFrame with
    columns (camera INT, frame_num INT, payload_hash STRING)."""
    return frames.groupBy("camera").applyInPandasWithState(
        _detect_changes,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
