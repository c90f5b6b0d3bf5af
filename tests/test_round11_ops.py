"""Round-11 additions: ADVICE fixes + the two new operators.

Covers
- streaming/replay.py: listener drain dedupes re-executed batches.
- plans/dedup.py: `dedup_semantic_cells` (SemDeDup-style
  cluster-then-prune) — plan pins zero cross-cell pairs.
- plans/curation.py: `quality_classifier_score` — broadcast linear
  classifier over hashed token features, no shuffle beyond the scan.
"""

from __future__ import annotations

import pytest


def test_metrics_listener_dedupes_retried_batches():
    """A micro-batch re-executed after checkpoint recovery emits a
    second progress event for the same batch_id; the drain must keep
    the latest event per id so `seen` is not over-counted and no
    duplicate per-batch rows are emitted (r10 ADVICE, replay.py)."""
    from eye_of_sauron_spark.streaming.metrics import latest_by_batch

    events = [
        {"batch_id": 0, "observed": {"n_rows": 10}},
        {"batch_id": 1, "observed": {"n_rows": 7}},
        # retry of batch 1 after recovery — supersedes the first event
        {"batch_id": 1, "observed": {"n_rows": 7, "retried": True}},
        {"batch_id": 2, "observed": None},  # empty flush batch
    ]
    out = latest_by_batch(events)
    assert [b["batch_id"] for b in out] == [0, 1, 2]
    assert out[1]["observed"].get("retried") is True
    seen = sum(
        b["observed"]["n_rows"] for b in out if b["observed"] is not None
    )
    assert seen == 17  # not 24


class _no_broadcast:
    """Disable AQE broadcast conversion to see the at-scale plan —
    same helper as tests/test_plans.py."""

    def __init__(self, spark):
        self.spark = spark

    def __enter__(self):
        self.thr = self.spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        self.aqe = self.spark.conf.get("spark.sql.adaptive.enabled")
        self.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        self.spark.conf.set("spark.sql.adaptive.enabled", "false")

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", self.thr)
        self.spark.conf.set("spark.sql.adaptive.enabled", self.aqe)


def test_semantic_cells_plan_shape(spark, sf_dir):
    """SemDeDup's pair generation must be cell-bounded: at scale the
    self-join is a pure equi SortMergeJoin on the cell key (zero
    cross-cell pairs by construction), the assignment exchange is
    computed ONCE (ReusedExchange on the other side), and the cosine
    fold runs behind the Generate barrier — never inlined into the
    join condition where it would evaluate twice per pair."""
    from eye_of_sauron_spark.plans.dedup import dedup_semantic_cells

    with _no_broadcast(spark):
        df = dedup_semantic_cells(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert plan.count("SortMergeJoin") == 1
    smj = next(l for l in plan.splitlines() if "SortMergeJoin" in l)
    # equi keys = the cell ids; only the va<vb dedup condition rides
    assert "aggregate(" not in smj and "zip_with" not in smj, (
        "cosine fold leaked into the join condition"
    )
    assert "ReusedExchange" in plan, "cell assignment computed twice"
    assert plan.count("Generate explode") == 1
    # corpus scanned for assignment + seeds: 3 parquet scans, not 6
    assert plan.count("Scan parquet") == 3


def test_semantic_cells_planted_copies_pruned(spark, sf_dir):
    """The duplicated-ingest corpus plants a drifted copy of every
    5th vector at cosine ~1; SemDeDup must drop the copies against
    their originals. Pin vec 0's copy explicitly (keeper can only be
    the original: no smaller id exists) and the keep-first invariant
    keeper < vec_id everywhere."""
    from eye_of_sauron_spark.plans.dedup import (
        _EMB_COPY_OFFSET,
        dedup_semantic_cells,
    )

    rows = {r["vec_id"]: r for r in dedup_semantic_cells(spark, sf_dir).collect()}
    assert rows, "planted near-dups must be non-vacuous"
    for r in rows.values():
        assert r["keeper"] < r["vec_id"]
        assert r["cosine"] >= 0.9
    copy0 = rows.get(_EMB_COPY_OFFSET)
    assert copy0 is not None and copy0["keeper"] == 0
    # most planted copies survive the cell partition (a copy lost to
    # a cell boundary is the documented SemDeDup recall trade; the
    # drift is small enough that it should be rare)
    n_copies = len([v for v in rows if v >= _EMB_COPY_OFFSET])
    import pyarrow.parquet as pq

    n_planted = len(
        [
            v
            for v in pq.read_table(
                f"{sf_dir}/embeddings.parquet", columns=["vec_id"]
            )["vec_id"].to_pylist()
            if v % 5 == 0
        ]
    )
    assert n_copies >= 0.8 * n_planted


def test_quality_classifier_plan_is_narrow_broadcast(spark, sf_dir):
    """The classifier must be broadcast-weights + narrow fold: ONE
    parquet scan, ONE hashpartitioning exchange (the parallelism
    spread), the weight vector as a 1-row broadcast (BNLJ with a pure
    Cross condition — the scoring fold must NOT leak into the join),
    and no per-token explode or weights-table join (which would
    shuffle (token, doc) pairs at corpus scale)."""
    from eye_of_sauron_spark.plans.curation import quality_classifier_score

    df = quality_classifier_score(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("BroadcastNestedLoopJoin") == 1
    bnlj = next(
        l for l in plan.splitlines() if "BroadcastNestedLoopJoin" in l
    )
    assert "aggregate(" not in bnlj, "scoring fold leaked into the join"
    assert "Generate" not in plan  # no per-token explode
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_quality_classifier_closed_form(spark, tmp_path):
    """End-to-end arithmetic contract, independent of DuckDB: a known
    document must score exactly what the hash->bucket->weight->ppm
    pipeline computes in plain Python (md5 via hashlib)."""
    import hashlib
    import math

    from eye_of_sauron_spark.plans.curation import (
        _QC_BUCKETS,
        quality_classifier_score,
    )

    text = "the quick brown fox jumps over the lazy dog"
    spark.createDataFrame(
        [(1, text, len(text))], "doc_id BIGINT, text STRING, n_chars INT"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    def w(i: int) -> int:
        return ((i * 2654435761) % 1000003) % 41 - 20

    toks = text.split(" ")
    raw = sum(
        w(int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % _QC_BUCKETS)
        for t in toks
    )
    expect_ppm = math.floor(float(raw) * 1000000 / len(toks))
    row = quality_classifier_score(spark, str(tmp_path)).collect()[0]
    assert row["n_tok"] == len(toks)
    assert row["score_ppm"] == expect_ppm
    assert row["keep"] == (expect_ppm >= 0)


def test_iterative_loops_free_superseded_checkpoints(spark, sf_dir):
    """The iterative plans (CC label propagation, TextRank, PCA power
    iteration) localCheckpoint per round to cut lineage; superseded
    rounds' blocks must be unpersisted as the loop advances, or a long
    session pins O(rounds) dead copies of working state (the r10
    BM25-ADVICE leak class, generalized). Contract: one query leaves
    at most ONE new persistent RDD (its final materialization) besides
    its session-memo slots, which live until drain_session by design.
    The session is drained first, so the count does not depend on which
    memos earlier tests left populated."""
    from eye_of_sauron_spark import plans
    from eye_of_sauron_spark.functions.materialize import (
        _CK_MEMO,
        _persistent_ids,
        drain_session,
    )

    drain_session(spark)
    qs = plans.all_queries()
    for name in (
        "dedup_cluster_components",
        "textrank_keywords",
        "pca_power_iteration",
    ):
        before = _persistent_ids(spark)
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        memo = {i for _, ids in _CK_MEMO.values() for i in ids}
        grew = len(_persistent_ids(spark) - before - memo)
        assert grew <= 1, (
            f"{name} pinned {grew} new RDDs — superseded round "
            "checkpoints are leaking again"
        )


def test_transient_and_iterate_free_their_blocks(spark):
    """materialize.py contract: a ``transient`` pin's blocks are freed
    when its block exits, normally or by an exception; ``iterate``
    leaves exactly its last round pinned; unpersist_ids is safe to
    call twice (double free / session-restart ids are skipped, never
    an error)."""
    from pyspark.sql import functions as F

    from eye_of_sauron_spark.functions.materialize import (
        _persistent_ids,
        iterate,
        transient,
        unpersist_ids,
    )

    before = _persistent_ids(spark)
    with transient(spark) as pin:
        ck = pin(spark.range(100))
        ids = _persistent_ids(spark) - before
        assert ids, "pin should register persistent RDD blocks"
        assert ck.count() == 100  # readable inside the block
    assert _persistent_ids(spark) == before, "normal exit must free the pin"

    with pytest.raises(RuntimeError, match="planted"):
        with transient(spark) as pin:
            pin(spark.range(10))
            pin(spark.range(20))
            raise RuntimeError("planted")
    assert _persistent_ids(spark) == before, "exception exit must free pins"

    last = iterate(
        spark.range(5).select(F.col("id").alias("x")),
        lambda df: df.select((F.col("x") + 1).alias("x")),
        3,
    )
    live = _persistent_ids(spark) - before
    assert len(live) == 1, f"iterate pinned {len(live)} rounds, expected 1"
    assert sorted(r["x"] for r in last.collect()) == [3, 4, 5, 6, 7]
    unpersist_ids(spark, sorted(live))
    assert not (live & _persistent_ids(spark))
    unpersist_ids(spark, sorted(live))  # idempotent
    unpersist_ids(spark, [10**9])  # unknown id: skipped


def test_cc_failure_path_frees_tracked_blocks(spark):
    """The non-convergence raise (and any mid-loop failure) must free
    the working-state checkpoints too — otherwise every failed/retried
    clustering re-opens the O(rounds) leak the happy path closes."""
    import pytest
    from pyspark.sql import functions as F

    from eye_of_sauron_spark.plans.dedup import connected_components

    def n_persist() -> int:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return len(list(jmap.keySet().toArray()))

    edges = spark.range(63).select(
        F.col("id").alias("s"), (F.col("id") + 1).alias("d")
    )
    sym = edges.unionAll(
        edges.select(F.col("d").alias("s"), F.col("s").alias("d"))
    )
    before = n_persist()
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(sym, max_rounds=2)
    assert n_persist() == before, "failure path leaked checkpoint blocks"


def test_bm25_postings_memo_shares_and_evicts(spark, sf_dir):
    """_bm25_per_doc's localCheckpoint runs a job at construction and
    pins executor storage; the one-slot memo must (a) hand BOTH
    retrieval queries the SAME materialization for a given corpus and
    (b) unpersist the previous corpus's blocks on eviction
    (r10 ADVICE, textual.py)."""
    import os

    from eye_of_sauron_spark.functions.materialize import (
        _CK_MEMO,
        drain_session,
        memo_checkpoint,
    )
    from eye_of_sauron_spark.plans import textual

    def slots() -> list:
        return [v for k, v in _CK_MEMO.items() if k[1] == "bm25_postings"]

    drain_session(spark)
    df1 = textual._bm25_per_doc(spark, sf_dir)
    assert len(slots()) == 1
    (ck1, ids1) = slots()[0]
    assert ids1, "checkpoint should register persistent RDD blocks"
    df2 = textual._bm25_per_doc(spark, sf_dir)
    # same corpus -> same checkpointed relation object, no second job
    assert slots()[0][0] is ck1
    assert sorted(map(tuple, df1.collect())) == sorted(map(tuple, df2.collect()))
    # different memo key -> previous blocks evicted + unpersisted
    memo_checkpoint(
        spark,
        ("bm25_postings", os.path.realpath(sf_dir) + "#other"),
        lambda: ck1.limit(1),
    )
    live = {
        int(i)
        for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }
    assert not (live & set(ids1)), "evicted postings blocks still persisted"
    drain_session(spark)
