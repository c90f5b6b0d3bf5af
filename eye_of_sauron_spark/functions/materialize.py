"""The one owner of checkpoint lifetimes.

``DataFrame.localCheckpoint(eager=True)`` runs a job immediately and
pins the result as executor storage blocks, but the public API gives
no way back to the checkpointed RDD, so the blocks live until the
session dies. This module diffs the JVM's persistent-RDD registry
around each checkpoint it makes, so it can free exactly those blocks.

The rule: every checkpoint lives until :func:`drain_session`, except
a :func:`transient` pin (freed when its ``with`` block exits, normally
or by an exception) and a superseded :func:`iterate` round (freed as
soon as the next round is materialized; the live round is freed if
the loop raises). Plans call ``.localCheckpoint(eager=True)`` directly
for state their result still reads, :func:`memo_checkpoint` for state
shared across queries, and the two primitives for everything else —
no plan frees blocks itself.

The same rule covers local files: :func:`scratch` is the package's
one owner of a directory that lives for one call. The directory is
deleted when its ``with`` block exits, normally or by an exception,
and a result that reads files under it is pinned with the ``keep``
it yields, so it outlives the files and lives until
:func:`drain_session` like every other result checkpoint.

Not thread-safe (two concurrent checkpoints would cross-attribute new
RDD ids) — matches the engine's single-threaded driver/bench execution
model; misattribution degrades to blocks freed later, never to wrong
results, because unpersist only ever touches *persisted* RDDs.
"""

from __future__ import annotations

import tempfile
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def _persistent_ids(spark: SparkSession) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(i) for i in jmap.keySet().toArray()}


def _pin(df: DataFrame, ids: list[int]) -> DataFrame:
    """localCheckpoint(eager=True), appending the persistent-RDD ids it
    created to ``ids`` — also when the eager job fails, which leaves
    the half-made checkpoint's RDD persisted."""
    spark = df.sparkSession
    before = _persistent_ids(spark)
    try:
        return df.localCheckpoint(eager=True)
    finally:
        ids.extend(sorted(_persistent_ids(spark) - before))


def unpersist_ids(spark: SparkSession, ids: list[int]) -> int:
    """Free the blocks behind previously tracked checkpoint ids.
    Ids already gone (session restart, double free) are skipped.
    Returns the number of RDDs ACTUALLY unpersisted (ADVICE r13: the
    skip path must not inflate drain counts)."""
    live = spark.sparkContext._jsc.getPersistentRDDs()
    freed = 0
    for rid in ids:
        rdd = live.get(rid)
        if rdd is not None:
            rdd.unpersist(False)
            freed += 1
    return freed


@contextmanager
def transient(spark: SparkSession):
    """Yield ``pin(df)``, an eager localCheckpoint whose blocks are
    freed when the ``with`` block exits. For working state the
    returned result no longer reads (materialize it past the block:
    a later reader of a freed pin cannot recompute it)."""
    ids: list[int] = []
    try:
        yield lambda df: _pin(df, ids)
    finally:
        unpersist_ids(spark, ids)


@contextmanager
def scratch(prefix: str):
    """Yield ``(work, keep)``: ``work`` is a fresh local directory
    under the temp root, named ``{prefix}...`` and deleted when the
    ``with`` block exits, also on an exception; ``keep(df)`` is the
    eager localCheckpoint a result reading files under ``work`` needs
    to outlive it. Kept results stay pinned until
    :func:`drain_session`."""
    with tempfile.TemporaryDirectory(
        prefix=prefix, ignore_cleanup_errors=True
    ) as work:
        yield work, lambda df: df.localCheckpoint(eager=True)


def iterate(state: DataFrame, step, rounds: int, until=None) -> DataFrame:
    """Run ``state = step(state)`` for up to ``rounds`` rounds, cutting
    lineage with an eager localCheckpoint per round and freeing the
    round each one supersedes — a long session must not pin O(rounds)
    dead copies of working state. With ``until``, stop at the first
    round for which ``until(round)`` is true, and raise if none is:
    silently returning an unconverged state would be a wrong answer,
    not a slow one. On any exception the live round is freed, or every
    failed and retried query would re-open the O(rounds) leak. The
    returned last round stays pinned until :func:`drain_session`."""
    spark = state.sparkSession
    live: list[int] = []
    new: list[int] = []
    try:
        for _ in range(rounds):
            state = _pin(step(state), new)
            unpersist_ids(spark, live)
            live, new = new, []
            if until is not None and until(state):
                return state
        if until is not None:
            raise RuntimeError(
                f"{step.__qualname__} did not converge in {rounds} rounds"
            )
    except BaseException:
        unpersist_ids(spark, live + new)
        raise
    return state


# Keyed checkpoint memo. Slots hold SMALL materializations shared
# across queries (the recall contracts' exact top-k baseline, the BM25
# query-term postings, the near-dup pair lists) so a bench/driver
# session doesn't rebuild the same relation once per consumer. Keyed
# by (applicationId, name, *rest).
_CK_MEMO: dict[tuple, tuple[DataFrame, list[int]]] = {}


def memo_checkpoint(spark: SparkSession, key: tuple, build) -> DataFrame:
    """Return the checkpointed result of ``build()`` for ``key`` =
    ``(name, *rest)``, materializing once per session and serving
    every later request from the slot. ``key`` must capture everything
    the result depends on (e.g. the fixture dir). Only memoize SMALL
    relations — each slot pins its blocks until the next
    :func:`drain_session`.

    One slot per name: a miss evicts the other slot of the same name
    once the new slot is built. Contract boundaries (both match the
    driver execution model — build a query, consume it, move on):
    (a) eviction INVALIDATES any still-unconsumed DataFrame built from
    the evicted slot (localCheckpoint cut its lineage, so the freed
    blocks cannot be recomputed) — consume one corpus's results before
    asking for the same name at another; (b) the key is the path, so
    rewriting the parquet at the SAME path mid-session returns the old
    corpus's relation.

    Slots from a dead SparkContext are dropped, never unpersisted: RDD
    ids restart at 0 per context, so their ids can name live blocks
    here — including the checkpoint just created.

    The slot's tracked ids cover every checkpoint ``build()`` itself
    creates, not just the final one: a build function may materialize
    intermediate passes (e.g. dedup_embedding_cosine's corpus and
    signature checkpoints) whose blocks the memoized plan still
    reads, so they share the memo's lifecycle and are freed by the
    same eviction or drain."""
    app_id = spark.sparkContext.applicationId
    full_key = (app_id, *key)
    hit = _CK_MEMO.get(full_key)
    if hit is not None:
        return hit[0]
    before = _persistent_ids(spark)
    ck = build().localCheckpoint(eager=True)
    ids = sorted(_persistent_ids(spark) - before)
    for k, (_, old_ids) in list(_CK_MEMO.items()):
        if k[0] != app_id or k[1] == key[0]:
            if k[0] == app_id:
                unpersist_ids(spark, old_ids)
            del _CK_MEMO[k]
    _CK_MEMO[full_key] = (ck, ids)
    return ck


def drain_session(spark: SparkSession) -> int:
    """Unpersist EVERY persistent RDD on the context and clear the
    memo; returns how many RDDs were released.

    After a query's RESULT has been fully consumed (collected, hashed,
    written), even the one RDD it legitimately pins — its final
    checkpoint — is dead weight: a driver session running the full
    registry otherwise ends holding one block set per iterative query.
    Clearing the memo with it keeps a slot from handing out a plan
    whose blocks were freed underneath it.

    Call ONLY at query boundaries (the previous result consumed, the
    next not yet built): any still-unconsumed DataFrame backed by a
    localCheckpoint is invalidated — its lineage was truncated, so the
    freed blocks cannot be recomputed."""
    _CK_MEMO.clear()
    # the count is what unpersist_ids actually freed, not what the
    # snapshot listed (ids can disappear between the two — ADVICE r13)
    return unpersist_ids(spark, sorted(_persistent_ids(spark)))
