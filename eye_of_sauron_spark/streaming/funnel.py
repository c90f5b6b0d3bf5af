"""Stateful streaming funnel: per-user ordered view -> click ->
purchase progress as a step of the package's one keyed state machine
(``keyed.keyed_fold``).

The batch funnel (plans/window.py::funnel_counts) computes ordered
reachability with chained cumulative windows; streaming cannot window
backwards over an unbounded past, so the same semantics become a
per-user 3-bit state machine — the streaming form of the reference's
first-match state (src/prediction_producer.py:321-323): a stage
completion is emitted exactly once, the first time the ordered
subsequence reaches it.

One machine serves both keyings. State is a ``{user_id: mask}`` dict
held as parallel arrays in the group's state row, and the grouping
key is the only setting:

- keyed by ``user_id``, each group holds one user (arrays of length
  1): state never grows with stream length, but the grouped-map call
  pays a fixed pandas/Arrow cost PER GROUP PER MICRO-BATCH (state row
  decode, DataFrame assembly, generator step) once per active user;
- keyed by ``user_id % n_buckets``, that cost is paid ~n_buckets
  times and amortized across users. The trade: the WHOLE bucket's
  state deserializes/reserializes every batch the bucket is touched,
  so cost shifts from O(active users) to O(users in touched buckets)
  — right when most users are active each batch (replay/backfill),
  wrong for sparse activity over a huge keyspace. Measured comparison
  in SCALE.md ("Bucketed-funnel probe", round 9).

Emission is at most 3 rows per user ever.
"""

from __future__ import annotations

from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .keyed import keyed_fold

OUTPUT_SCHEMA = "user_id LONG, stage STRING"
MASK_STATE_SCHEMA = "users ARRAY<LONG>, masks ARRAY<INT>"
FUNNEL_EVENT_TYPES = ("view", "click", "purchase")
# the (ts, event_id) total order the batch funnel's windows use; a
# bucket-wide sort keeps every user's ordered subsequence
ORDER = ["ts", "event_id"]
# event type -> (prerequisite bits, own bit, emitted stage)
_STAGES = {
    "view": (0, 1, "1_view"),
    "click": (1, 2, "2_click"),
    "purchase": (2, 4, "3_purchase"),
}


def funnel_step(
    key: tuple[Any, ...], state: Any, rows: pd.DataFrame
) -> tuple[tuple, pd.DataFrame | None]:
    """Advance every user of one group over a micro-batch and emit
    each stage the first time a user's ordered subsequence reaches it.
    Event types outside the funnel are no-ops."""
    masks = dict(zip(*state)) if state else {}
    users: list[int] = []
    stages: list[str] = []
    for uid, et in zip(rows["user_id"].tolist(), rows["event_type"].tolist()):
        need, bit, stage = _STAGES.get(et, (0, 0, None))
        m = masks.get(uid, 0)
        if bit and m & need == need and not m & bit:
            masks[uid] = m | bit
            users.append(uid)
            stages.append(stage)
    out = pd.DataFrame({"user_id": users, "stage": stages}) if users else None
    return (list(masks), list(masks.values())), out


def funnel_stream(events: DataFrame, n_buckets: int | None = None) -> DataFrame:
    """Apply the funnel state machine to a streaming DataFrame with
    columns (user_id LONG, ts TIMESTAMP, event_id LONG,
    event_type STRING), keyed by ``user_id`` or, with ``n_buckets``,
    by ``user_id % n_buckets`` (pick a few buckets per core: enough to
    parallelize and keep state rows bounded, few enough to amortize
    the per-group cost).

    NULL user_ids are excluded: a funnel over the NULL key would
    conflate every anonymous event into one state machine, and a NULL
    would coerce the pandas user_id column to float64 and corrupt the
    ARRAY<LONG> state keys; the replay oracle shares this rule.

    Event types outside the funnel's three stages are filtered BEFORE
    the stateful operator: they are no-ops in the state machine, so
    pushing the predicate below the shuffle is output-identical while
    cutting the rows that cross the Arrow boundary — on the events
    fixture that is ~40% of the stream (signup/error). The same
    pushdown-through-state move a relational optimizer makes through a
    filter-invariant operator."""
    events = events.filter(
        F.col("user_id").isNotNull()
        & F.col("event_type").isin(*FUNNEL_EVENT_TYPES)
    )
    key = "user_id"
    if n_buckets is not None:
        key = "bucket"
        events = events.withColumn(key, F.pmod(F.col("user_id"), F.lit(n_buckets)))
    return keyed_fold(
        events, key, funnel_step, MASK_STATE_SCHEMA, OUTPUT_SCHEMA, ORDER
    )
