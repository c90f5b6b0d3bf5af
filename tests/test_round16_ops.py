"""Round-16 additions.

Covers the two ANN dial ladders in plans/vector.py — both are
instances of the same shared scaffolding (_ladder_oracle /
_ladder_of), so the tests parametrize over one config row each:

- similarity_ivf_nprobe_ladder: recall@3 at nprobe = 1, 2, 4 over the
  8-cell coarse quantizer. Candidate pool GROWS with the dial, so
  per-query recall is monotone non-DECREASING (growing the pool under
  exact-cosine scoring with the brute-force tie rule can only pull
  the ANN top-3 toward the exact top-3 — any evicting candidate must
  itself be an exact-top-3 member).
- similarity_lsh_plane_ladder: recall@3 at 4, 8, 16 hyperplanes
  (nested PREFIXES of one plane family). Each added plane refines the
  bucket partition, so the pool SHRINKS and recall is monotone
  non-INCREASING — the same argument reversed.

Per ladder: shape (every rung covers every query exactly once),
per-query monotonicity in the dial's direction, the middle rung
row-identical to the standalone registered recall contract (both
rungs and the compare point are DERIVED from the registered constant,
so the invariant is structural, not positional), a pinned strict
improvement between the widest- and narrowest-pool rungs on the
shipped fixture, and no non-broadcast cartesian in the executed plan.

The DuckDB value-hash itself is covered by the registry-wide sweep in
tests/test_queries_oracle.py.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eye_of_sauron_spark.plans.vector import (
    _IVF_LADDER_NPROBES,
    _IVF_NPROBE,
    _LSH_LADDER_PLANES,
    _N_PLANES,
    similarity_ivf_nprobe_ladder,
    similarity_ivf_recall,
    similarity_lsh_plane_ladder,
    similarity_lsh_recall,
)

from tests._scan import unique_rows

# (ladder_fn, rungs, dial_col, registered_rung, registered_contract_fn,
#  pool_grows_with_dial)
_LADDERS = {
    "ivf_nprobe": (
        similarity_ivf_nprobe_ladder,
        _IVF_LADDER_NPROBES,
        "nprobe",
        _IVF_NPROBE,
        similarity_ivf_recall,
        True,
    ),
    "lsh_planes": (
        similarity_lsh_plane_ladder,
        _LSH_LADDER_PLANES,
        "n_planes",
        _N_PLANES,
        similarity_lsh_recall,
        False,
    ),
}


@pytest.fixture(params=sorted(_LADDERS), scope="module")
def ladder(request):
    return _LADDERS[request.param]


def _rows(ladder_fn, dial_col, spark, sf_dir):
    # pin key uniqueness explicitly: a rung emitting the same
    # (dial, query_id) twice would otherwise collapse unseen
    return unique_rows(
        (
            ((r[dial_col], r["query_id"]), (r["n_hits"], r["recall"]))
            for r in ladder_fn(spark, sf_dir).collect()
        ),
        "(dial, query_id)",
    )


def test_ladder_shape_and_monotone_recall(spark, sf_dir, ladder):
    fn, rungs, col, _, _, grows = ladder
    rows = _rows(fn, col, spark, sf_dir)
    dials = sorted({d for d, _ in rows})
    assert dials == sorted(rungs)
    qids = {q for _, q in rows}
    # every rung covers every query exactly once (rows is a dict keyed
    # by (dial, qid), so cardinality == rungs x queries implies it)
    assert len(rows) == len(dials) * len(qids) and len(qids) > 0
    for q in qids:
        seq = [rows[(d, q)][1] for d in dials]  # recall by ascending dial
        pairs = zip(seq, seq[1:])
        if grows:
            assert all(a <= b + 1e-12 for a, b in pairs), (q, seq)
        else:
            assert all(a >= b - 1e-12 for a, b in pairs), (q, seq)


def test_ladder_registered_rung_matches_contract(spark, sf_dir, ladder):
    fn, _, col, reg_rung, contract_fn, _ = ladder
    rows = _rows(fn, col, spark, sf_dir)
    standalone = {
        r["query_id"]: (r["n_hits"], r["recall"])
        for r in contract_fn(spark, sf_dir).collect()
    }
    mid = {q: v for (d, q), v in rows.items() if d == reg_rung}
    assert mid == standalone


def test_ladder_wide_pool_beats_narrow_on_fixture(spark, sf_dir, ladder):
    """Data-dependent but pinned: on the shipped fixture the rung with
    the LARGEST candidate pool strictly beats the smallest on MEAN
    recall (if a fixture regeneration ever flattens this, the ladder
    has lost its point — investigate rather than relax)."""
    fn, rungs, col, _, _, grows = ladder
    df = fn(spark, sf_dir).groupBy(col).agg(F.avg("recall").alias("m"))
    means = {r[col]: r["m"] for r in df.collect()}
    wide, narrow = (max(rungs), min(rungs)) if grows else (min(rungs), max(rungs))
    assert means[wide] > means[narrow]


def test_ladder_plan_no_unbroadcast_cartesian(spark, sf_dir, ladder):
    fn = ladder[0]
    plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
