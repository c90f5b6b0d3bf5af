"""One keyed state machine for every custom stateful stream.

The reference restores per-camera order and keeps first-match state
with hand-written loops (src/utils.py:139-191,
src/prediction_producer.py:321-323). Here each such machine is a pure
``step(key, state_or_None, rows) -> (new_state, out_pdf_or_None)``,
and one wrapper turns it into Spark's grouped-map-with-state call,
the way ``gapply`` turns a per-key function into a grouped-map call.
The reorder buffer, the change detector and the funnel are steps.

The wrapped callable runs once per ACTIVE KEY per micro-batch, so its
constant factor is the operator's hot path. The measured rules live
here once: skip the concat when Arrow delivered one chunk (the common
case), skip the sort when the group has a single row. Steps read
columns with ``.tolist()``: anything that feeds the state must be a
plain Python value, because numpy scalars do not survive the state
pickler.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def keyed_fn(step: Callable, order: list[str] | None = None):
    """The ``(key, pdfs, state)`` callable that folds one key's
    micro-batch through ``step``: rows in ``order`` when given, else
    in arrival order; state ``None`` when the key has none yet."""

    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        chunks = list(pdfs)
        rows = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
        if order and len(rows) > 1:
            rows = rows.sort_values(order)
        new_state, out = step(key, state.get if state.exists else None, rows)
        state.update(new_state)
        if out is not None and len(out):
            yield out

    # plans and the UI name the operator after its step
    fn.__name__ = getattr(step, "func", step).__name__
    return fn


def keyed_fold(
    df: DataFrame,
    key: str,
    step: Callable,
    state_schema: str,
    out_schema: str,
    order: list[str] | None = None,
) -> DataFrame:
    """Fold a streaming DataFrame through ``step`` per ``key``: one
    shuffle on the key, append output, no state timeout."""
    return df.groupBy(key).applyInPandasWithState(
        keyed_fn(step, order),
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.NoTimeout,
    )
