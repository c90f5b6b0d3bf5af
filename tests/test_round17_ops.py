"""Round-17 additions.

Covers the MinHash band-count ladder in plans/dedup.py — the
text-dedup mirror of r16's ANN dial ladders (VERDICT r16 #3):

- dedup_minhash_band_ladder: per ground-truth near-dup pair (exact
  n-gram jaccard >= 0.8), an ``in_candidates`` flag at band count
  1, 8 and 16 over the same fixed family of 16 minhash functions.
  Candidate sets NEST as band count grows: band b of a coarse layout
  covers seeds [b*K/n, (b+1)*K/n), so when n divides n' every coarse
  band is a union of fine bands and a coarse signature match forces a
  match on every fine band inside it — per-pair ``in_candidates`` is
  monotone non-DECREASING in the dial.

Per the ladder-test shape set by tests/test_round16_ops.py: shape
(every rung covers every ground-truth pair exactly once, pinned with
an explicit duplicate-key assertion), per-pair monotonicity, the
middle rung row-identical to the standalone registered recall
contract (dedup_minhash_recall), a pinned strict improvement between
the narrowest- and widest-candidate-pool rungs on the shipped
fixture, and no non-broadcast cartesian in the executed plan.

The DuckDB value-hash itself is covered by the registry-wide sweep in
tests/test_queries_oracle.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from eye_of_sauron_spark.plans.dedup import (
    _MINHASH_BANDS,
    _MINHASH_K,
    _MINHASH_LADDER_BANDS,
    dedup_minhash_band_ladder,
    dedup_minhash_recall,
)

from tests._scan import unique_rows


def _rows(spark, sf_dir):
    return unique_rows(
        (
            ((r["n_bands"], r["doc_a"], r["doc_b"]), (r["jaccard"], r["in_candidates"]))
            for r in dedup_minhash_band_ladder(spark, sf_dir).collect()
        ),
        "(n_bands, pair)",
    )


def test_band_ladder_shape_and_monotone_candidates(spark, sf_dir):
    rows = _rows(spark, sf_dir)
    rungs = sorted({b for b, _, _ in rows})
    assert rungs == sorted(_MINHASH_LADDER_BANDS)
    pairs = {(a, b) for _, a, b in rows}
    assert len(rows) == len(rungs) * len(pairs) and len(pairs) > 0
    for a, b in pairs:
        flags = [rows[(n, a, b)][1] for n in rungs]  # by ascending bands
        # nested candidate sets: once in, never out as bands grow
        assert all(x <= y for x, y in zip(flags, flags[1:])), (a, b, flags)
        # jaccard is the exact side's audit value — rung-independent
        jacs = {rows[(n, a, b)][0] for n in rungs}
        assert len(jacs) == 1


def test_band_ladder_middle_rung_matches_recall_contract(spark, sf_dir):
    rows = _rows(spark, sf_dir)
    standalone = {
        (r["doc_a"], r["doc_b"]): (r["jaccard"], r["in_candidates"])
        for r in dedup_minhash_recall(spark, sf_dir).collect()
    }
    mid = {(a, b): v for (n, a, b), v in rows.items() if n == _MINHASH_BANDS}
    assert mid == standalone


def test_band_ladder_wide_pool_beats_narrow_on_fixture(spark, sf_dir):
    """Data-dependent but pinned: on the shipped fixtures the single
    conjunctive band (match prob j^16) strictly misses ground-truth
    pairs that the 16 disjunctive single-row bands catch (measured:
    recall 0.643 at sf0.001, 0.64 at sf0.01, vs 1.0 at rungs 8/16).
    If a fixture regeneration ever flattens this, the ladder has lost
    its point — investigate rather than relax."""
    df = (
        dedup_minhash_band_ladder(spark, sf_dir)
        .groupBy("n_bands")
        .agg(F.avg(F.col("in_candidates").cast("int")).alias("m"))
    )
    means = {r["n_bands"]: r["m"] for r in df.collect()}
    assert means[max(_MINHASH_LADDER_BANDS)] > means[min(_MINHASH_LADDER_BANDS)]


def test_band_ladder_rung_chain_invariants():
    """The monotonicity proof's structural preconditions, pinned so a
    future constant change fails loudly: unique ascending rungs, each
    dividing K, each dividing the next, registered count present as
    the middle rung."""
    rungs = _MINHASH_LADDER_BANDS
    assert list(rungs) == sorted(set(rungs))
    assert all(_MINHASH_K % b == 0 for b in rungs)
    assert all(b2 % b1 == 0 for b1, b2 in zip(rungs, rungs[1:]))
    assert rungs[len(rungs) // 2] == _MINHASH_BANDS


def test_band_ladder_plan_no_unbroadcast_cartesian(spark, sf_dir):
    plan = (
        dedup_minhash_band_ladder(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, plan
