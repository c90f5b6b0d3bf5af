"""Property-based tests (hypothesis) — the reference has none
(SURVEY.md §5); these pin the invariants that example tests can miss.

The reorder buffer's per-group function is pure Python, so hypothesis
can drive it through hundreds of random arrival orders and batch
splits against a stub GroupState — no Spark session needed. The model
stubs get the same treatment over arbitrary byte strings. One
Spark-backed property (vector folds vs numpy) runs with few examples,
batched into a single DataFrame per example."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from eye_of_sauron_spark.ml.models import (
    EMBED_DIM,
    MAX_FACES,
    detect_faces_np,
    embed_faces_np,
)
from eye_of_sauron_spark.streaming.reorder import make_reorder_fn


class _StubState:
    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


def _drive(batches: list[list[tuple[int, str]]], buffer_size: int) -> list[int]:
    """Feed (frame_num, payload) batches through the reorder fn with a
    persistent stub state; return emitted frame order."""
    fn = make_reorder_fn(buffer_size)
    state = _StubState()
    out: list[int] = []
    for batch in batches:
        pdf = pd.DataFrame(
            {"frame_num": [f for f, _ in batch], "payload": [p for _, p in batch]}
        )
        for res in fn((0,), iter([pdf]), state):
            out.extend(int(v) for v in res["frame_num"])
    return out


@given(
    frames=st.permutations(list(range(12))),
    splits=st.lists(st.integers(1, 11), max_size=4),
    buffer_size=st.integers(12, 64),
)
@settings(max_examples=200, deadline=None)
def test_reorder_contiguous_input_restores_total_order(frames, splits, buffer_size):
    """Any arrival permutation of a contiguous frame range, split into
    any micro-batches, comes out exactly 0..n-1 when the buffer can
    hold the worst-case disorder (>= n). Smaller buffers trade
    completeness for boundedness — covered by the gaps property."""
    cuts = sorted(set(s for s in splits if s < len(frames)))
    idx = [0, *cuts, len(frames)]
    batches = [
        [(f, f"p{f}") for f in frames[a:b]] for a, b in zip(idx, idx[1:]) if a < b
    ]
    out = _drive(batches, buffer_size)
    emitted_sorted = sorted(out)
    assert emitted_sorted == list(range(len(frames)))  # complete, no dups
    # in-order per the skip rule: order must be increasing
    assert out == emitted_sorted


@given(
    present=st.sets(st.integers(0, 30), min_size=1),
    buffer_size=st.integers(1, 8),
)
@settings(max_examples=200, deadline=None)
def test_reorder_with_gaps_never_reorders_or_duplicates(present, buffer_size):
    """With arbitrary missing frames and a small buffer, whatever is
    emitted must be strictly increasing, duplicate-free, and a subset
    of what arrived; pending state stays within buffer_size."""
    arrival = sorted(present, reverse=True)  # worst-case arrival order
    out = _drive([[(f, f"p{f}") for f in arrival]], buffer_size)
    assert out == sorted(set(out))
    assert set(out) <= present
    # the unemitted remainder is bounded by the buffer
    assert len(present) - len(out) <= buffer_size


@given(
    hs=st.lists(st.sampled_from("abc"), min_size=0, max_size=60),
    splits=st.lists(st.integers(0, 60), max_size=5),
    seed=st.integers(0, 2**32 - 1),
)
@settings(max_examples=200, deadline=None)
def test_change_detector_collapses_runs(hs, splits, seed):
    """A1 smart-mode state machine (streaming/change_detect.py
    _detect_changes): for ANY hash sequence, ANY micro-batch
    split, and ANY within-batch arrival shuffle, the emitted frames
    are exactly the change points (frame 0 + every frame whose hash
    differs from its predecessor) — runs collapse across batch
    boundaries (state carries) and within-batch disorder is repaired
    by the frame_num sort. A tiny alphabet forces long duplicate
    runs."""
    from eye_of_sauron_spark.streaming.change_detect import _detect_changes

    n = len(hs)
    bounds = [0, *sorted({min(s, n) for s in splits}), n]
    rng = np.random.default_rng(seed)
    state = _StubState()
    out: list[tuple[int, int, str]] = []
    for a, b in zip(bounds, bounds[1:]):
        if a >= b:
            continue
        idx = list(range(a, b))
        rng.shuffle(idx)  # within-batch arrival order must not matter
        pdf = pd.DataFrame(
            {"frame_num": idx, "payload_hash": [hs[i] for i in idx]}
        )
        for res in _detect_changes((7,), iter([pdf]), state):
            out.extend(
                (int(c), int(f), h)
                for c, f, h in zip(
                    res["camera"], res["frame_num"], res["payload_hash"]
                )
            )
    expect = [(7, i, hs[i]) for i in range(n) if i == 0 or hs[i] != hs[i - 1]]
    assert out == expect


@given(payload=st.binary(min_size=0, max_size=200))
@settings(max_examples=300, deadline=None)
def test_stub_models_total_and_deterministic(payload):
    b1, b2 = detect_faces_np(payload), detect_faces_np(payload)
    assert b1 == b2
    assert len(b1) <= MAX_FACES - 1 if payload else b1 == []
    for top, right, bottom, left in b1:
        assert bottom > top and right > left
    e = embed_faces_np(payload, b1)
    assert embed_faces_np(payload, b1) == e
    assert all(len(v) == EMBED_DIM for v in e)
    assert all(0.0 <= x <= 1.0 for v in e for x in v)


@given(
    vecs=st.lists(
        st.lists(
            st.floats(-10, 10, allow_nan=False, width=32), min_size=8, max_size=8
        ),
        min_size=2,
        max_size=6,
    )
)
@settings(max_examples=5, deadline=None)
def test_vector_folds_match_numpy(spark_global, vecs):
    """cosine_spark's left fold must agree with numpy within float
    tolerance for arbitrary vectors (one DataFrame per example), and
    cosine_normed over precomputed norm COLUMNS must equal it bit for
    bit — the identity every per-row-norm scorer rests on — with both
    NULL against an all-zero vector."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from eye_of_sauron_spark.functions.vector import (
        cosine_normed,
        cosine_spark,
        l2_spark,
    )

    a = vecs[0]
    ys = vecs[1:] + [[0.0] * len(a)]
    base = spark_global.createDataFrame(
        [Row(i=i, x=a, y=v) for i, v in enumerate(ys)]
    )
    # the norms come back as plain data columns, so the optimizer cannot
    # fold the normed side back into the per-pair expression
    norms = {
        r["i"]: r
        for r in base.select(
            "i", l2_spark(F.col("x")).alias("xn"), l2_spark(F.col("y")).alias("yn")
        ).collect()
    }
    df = spark_global.createDataFrame(
        [
            Row(i=i, x=a, y=v, xn=norms[i]["xn"], yn=norms[i]["yn"])
            for i, v in enumerate(ys)
        ]
    )
    got, normed = {}, {}
    for r in df.select(
        "i",
        cosine_spark(F.col("x"), F.col("y")).alias("c"),
        cosine_normed(F.col("x"), F.col("xn"), F.col("y"), F.col("yn")).alias("cn"),
    ).collect():
        got[r["i"]], normed[r["i"]] = r["c"], r["cn"]
    assert normed == got
    assert got[len(ys) - 1] is None
    for i, v in enumerate(vecs[1:]):
        na, nv = np.array(a, dtype=np.float64), np.array(v, dtype=np.float64)
        denom = float(np.linalg.norm(na) * np.linalg.norm(nv))
        want = float(na @ nv / denom) if denom else float("nan")
        g = got[i]
        if g is None or not math.isfinite(want) or not math.isfinite(g):
            continue  # degenerate (zero/underflowed) vectors
        assert abs(g - want) < 1e-9


@pytest.fixture(scope="module")
def spark_global(spark):
    return spark


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=5, deadline=None)
def test_connected_components_matches_union_find(spark_global, edges):
    """Pointer-jumping min-label propagation must agree with a plain
    union-find on arbitrary small graphs — chains, stars, cycles,
    self-loops, parallel edges; the fixture graphs never cover all of
    these shapes at once."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from eye_of_sauron_spark.plans.dedup import connected_components

    # reference: union-find with min-label components
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_of: dict[int, int] = {}
    for n in parent:
        root = find(n)
        comp_of.setdefault(root, n)
        comp_of[root] = min(comp_of[root], n)
    want = {n: comp_of[find(n)] for n in parent}

    rows = [Row(s=a, d=b) for a, b in edges] + [Row(s=b, d=a) for a, b in edges]
    sym = spark_global.createDataFrame(rows)
    got = {
        r["node"]: r["comp"]
        for r in connected_components(sym).select("node", "comp").collect()
    }
    assert got == want


@given(
    histories=st.lists(  # one entry per user: a sequence of event types
        st.lists(st.sampled_from(["view", "click", "purchase", "other"]),
                 min_size=0, max_size=8),
        min_size=1,
        max_size=5,
    )
)
@settings(max_examples=5, deadline=None)
def test_funnel_matches_ordered_reachability_simulation(spark_global, histories):
    """The chained-cumulative-window funnel must agree with a direct
    per-user state-machine simulation of ordered view -> click ->
    purchase reachability for arbitrary event sequences — including
    orderings the fixture never produces (purchase-before-view,
    users with no events, repeated stages)."""
    import datetime

    from pyspark.sql import Row

    from eye_of_sauron_spark.plans.window import funnel_counts

    # reference: explicit state machine per user, in sequence order
    nv = nc = np_ = 0
    for seq in histories:
        seen_view = seen_click = seen_purch = False
        for t in seq:
            if t == "view":
                seen_view = True
            elif t == "click" and seen_view:
                seen_click = True
            elif t == "purchase" and seen_click:
                seen_purch = True
        nv += seen_view
        nc += seen_click
        np_ += seen_purch

    base = datetime.datetime(2024, 1, 1)
    rows = [
        Row(
            user_id=u,
            ts=base + datetime.timedelta(seconds=i),
            event_id=u * 1000 + i,
            event_type=t,
        )
        for u, seq in enumerate(histories)
        for i, t in enumerate(seq)
    ]
    if not rows:
        return  # funnel over an empty relation: nothing to check
    got = {
        r["stage"]: r["n_users"]
        for r in funnel_counts(spark_global.createDataFrame(rows)).collect()
    }
    assert got == {"1_view": nv, "2_click": nc, "3_purchase": np_}


@given(
    ops=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),    # key
            st.integers(min_value=0, max_value=50),   # ts offset (seconds)
            st.booleans(),                            # tombstone?
            st.floats(min_value=-100, max_value=100, allow_nan=False),
        ),
        min_size=1,
        max_size=40,
    ),
    n_batches=st.integers(min_value=1, max_value=4),
)
@settings(max_examples=5, deadline=None)
def test_cdc_merge_matches_lww_dict(spark_global, ops, n_batches):
    """Fold random op sequences through the incremental CDC merge in
    arbitrary batch splits (including ts ties broken by event_id and
    tombstone interleavings) and compare the final snapshot against a
    one-pass last-writer-wins dict — the replay only exercises
    time-ordered batches; this drives the merge rule itself."""
    import datetime

    from pyspark.sql import functions as F

    from eye_of_sauron_spark.streaming.replay import (
        _cdc_compact_batch,
        _cdc_merge,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (
            k,
            "error" if tomb else "set",
            val,
            base + datetime.timedelta(seconds=ts),
            eid,
        )
        for eid, (k, ts, tomb, val) in enumerate(ops)
    ]
    schema = "user_id LONG, event_type STRING, value DOUBLE, ts TIMESTAMP, event_id LONG"
    # deterministic batch split: round-robin by event_id
    cur = None
    for b in range(n_batches):
        batch_rows = [r for r in rows if r[4] % n_batches == b]
        if not batch_rows:
            continue
        inc = _cdc_compact_batch(spark_global.createDataFrame(batch_rows, schema))
        cur = _cdc_merge(cur, inc) if cur is not None else inc
    got = {
        r.user_id: (r.event_type, r.ts, r.event_id, r.n_ops)
        for r in cur.collect()
    }
    # reference: one-pass LWW on (ts, event_id)
    want: dict = {}
    counts: dict = {}
    for k, et, val, ts, eid in rows:
        counts[k] = counts.get(k, 0) + 1
        if k not in want or (ts, eid) > (want[k][1], want[k][2]):
            want[k] = (et, ts, eid)
    assert set(got) == set(want)
    for k in want:
        et, ts, eid = want[k]
        assert got[k][0] == et and got[k][1] == ts and got[k][2] == eid
        assert got[k][3] == counts[k]


# ---------------------------------------------------------------------------
# MinHash band-signature nesting (round 17) — the structural fact the
# band-count ladder's monotonicity proof rides (plans/dedup.py,
# dedup_minhash_band_ladder): band b of an n-band layout covers the
# contiguous seed range [b*K/n, (b+1)*K/n), so for rung pair (n, n')
# with n | n' the coarse signature is EXACTLY the '|'-join of the m =
# n'/n fine signatures it spans — and since every signature is a
# '|'-join of decimal integers, the split is unique and coarse-band
# equality forces equality of every covered fine band. The fixture
# tests in test_round17_ops.py observe the implied per-pair flag
# monotonicity on shipped data; these pin the decomposition itself on
# arbitrary hash multisets, plus a one-example Spark tie so the pure
# Python replica speaks for the Column expression.


def _band_sigs_py(hs: list[int], n_bands: int) -> list[str]:
    """Pure-Python twin of plans/dedup._band_sigs over a pre-hashed
    shingle array (same affine family, same seed layout)."""
    from eye_of_sauron_spark.functions.hashing import MINHASH_P, minhash_affine
    from eye_of_sauron_spark.plans.dedup import _MINHASH_K

    rpb = _MINHASH_K // n_bands

    def mh(seed: int) -> int:
        a, b = minhash_affine(seed)
        return min((a * h + b) % MINHASH_P for h in hs)

    return [
        "|".join(str(mh(b * rpb + r)) for r in range(rpb)) for b in range(n_bands)
    ]


@given(
    hs=st.lists(
        st.integers(min_value=0, max_value=2**32 - 1), min_size=1, max_size=40
    )
)
@settings(max_examples=200, deadline=None)
def test_band_sig_nesting_decomposition(hs):
    from eye_of_sauron_spark.plans.dedup import _MINHASH_LADDER_BANDS

    sigs = {n: _band_sigs_py(hs, n) for n in _MINHASH_LADDER_BANDS}
    for n, n2 in zip(_MINHASH_LADDER_BANDS, _MINHASH_LADDER_BANDS[1:]):
        m = n2 // n
        for b in range(n):
            assert sigs[n][b] == "|".join(
                sigs[n2][b * m + j] for j in range(m)
            )


@given(
    h1=st.lists(
        st.integers(min_value=0, max_value=2**32 - 1), min_size=1, max_size=24
    ),
    h2=st.lists(
        st.integers(min_value=0, max_value=2**32 - 1), min_size=1, max_size=24
    ),
)
@settings(max_examples=200, deadline=None)
def test_coarse_band_match_implies_fine_band_match(h1, h2):
    """The implication the ladder's in_candidates monotonicity needs:
    a coarse-band collision between two documents forces a collision
    on every fine band it covers (candidate sets nest as bands grow)."""
    from eye_of_sauron_spark.plans.dedup import _MINHASH_LADDER_BANDS

    s1 = {n: _band_sigs_py(h1, n) for n in _MINHASH_LADDER_BANDS}
    s2 = {n: _band_sigs_py(h2, n) for n in _MINHASH_LADDER_BANDS}
    for n, n2 in zip(_MINHASH_LADDER_BANDS, _MINHASH_LADDER_BANDS[1:]):
        m = n2 // n
        for b in range(n):
            if s1[n][b] == s2[n][b]:
                for j in range(b * m, (b + 1) * m):
                    assert s1[n2][j] == s2[n2][j]


def test_band_sigs_spark_matches_python_replica(spark_global):
    """Ties the replica to the real Column expression: _band_sigs at
    every ladder rung over a handful of fixed hash arrays evaluates to
    exactly the replica's strings (so the hypothesis coverage above
    speaks for the Spark construction)."""
    from pyspark.sql import functions as F

    from eye_of_sauron_spark.plans.dedup import _MINHASH_LADDER_BANDS, _band_sigs

    arrays = [
        [0],
        [2**32 - 1],
        [123456789, 3141592653, 2718281828],
        list(range(1, 41)),
        [7] * 5 + [2**31, 2**32 - 2],
    ]
    df = spark_global.createDataFrame(
        [(i, a) for i, a in enumerate(arrays)], "i LONG, hs ARRAY<LONG>"
    )
    for n in _MINHASH_LADDER_BANDS:
        got = {
            r["i"]: list(r["sigs"])
            for r in df.select(
                "i", _band_sigs(F.col("hs"), n).alias("sigs")
            ).collect()
        }
        for i, a in enumerate(arrays):
            assert got[i] == _band_sigs_py(a, n), (n, i)



# Shingle hashes from a small pool (plus arbitrary 32-bit values) so
# distinct documents often share some minhash values but not all:
# partial band collisions are the interesting case.
_HASH_POOL = [0, 1, 7, 10, 123456789, 2**31, 2**32 - 2, 2**32 - 1]


@given(
    docs=st.lists(
        st.lists(
            st.one_of(
                st.sampled_from(_HASH_POOL),
                st.integers(min_value=0, max_value=2**32 - 1),
            ),
            min_size=1,
            max_size=4,
        ),
        min_size=200,
        max_size=200,
    )
)
@settings(max_examples=3, deadline=None)
def test_band_sigs_coarse_equal_iff_covered_fine_equal(spark_global, docs):
    """_band_sigs itself (the Spark Column), over every pair of band
    counts where the coarse count divides the fine count: two
    documents' coarse band b is equal exactly when every fine band it
    covers is equal. Checked over all document pairs at once — for
    each coarse band, grouping the documents by the coarse signature
    and by the tuple of covered fine signatures must give the same
    partition. One 200-row DataFrame per example."""
    from pyspark.sql import functions as F

    from eye_of_sauron_spark.plans.dedup import _MINHASH_K, _band_sigs

    counts = [n for n in range(1, _MINHASH_K + 1) if _MINHASH_K % n == 0]
    df = spark_global.createDataFrame(
        list(enumerate(docs)), "i LONG, hs ARRAY<LONG>"
    )
    rows = sorted(
        df.select(
            "i", *[_band_sigs(F.col("hs"), n).alias(f"b{n}") for n in counts]
        ).collect(),
        key=lambda r: r["i"],
    )
    for n in counts:
        for n2 in counts:
            if n2 <= n or n2 % n:
                continue
            m = n2 // n
            for b in range(n):
                coarse = [r[f"b{n}"][b] for r in rows]
                fine = [tuple(r[f"b{n2}"][b * m:(b + 1) * m]) for r in rows]
                assert len(set(coarse)) == len(set(fine)) == len(
                    set(zip(coarse, fine))
                ), (n, n2, b)

# ---------------------------------------------------------------------------
# Hyperplane-signature prefix refinement (round 17) — the structural
# fact the LSH plane-count ladder's monotonicity proof rides
# (plans/vector.py, similarity_lsh_plane_ladder): rung p uses planes
# range(p), nested PREFIXES of one deterministic family, and the
# signature encodes plane i at bit i — so for p <= n the p-plane
# signature is EXACTLY sig_n mod 2^p, equal n-plane signatures force
# equal p-plane signatures, and every added plane refines the bucket
# partition (candidate pools only shrink). The fixture tests in
# test_round16_ops.py observe the implied per-query recall
# monotonicity on shipped data; these pin the refinement itself on
# arbitrary embedding vectors, with a Spark tie so the pure Python
# replica speaks for the Column expression.


def _lsh_sig_py(emb: list[float], n_planes: int) -> int:
    """Pure-Python twin of plans/vector.hyperplane_sig_spark over
    planes range(n_planes): same closed-form plane values, same
    left-to-right double fold for the dot, bit i = sign of plane i."""
    from eye_of_sauron_spark.plans.vector import _plane

    sig = 0
    for i in range(n_planes):
        pl = _plane(i)
        acc = 0.0
        for j, x in enumerate(emb):
            acc = acc + float(x) * float(pl[j])
        if acc > 0:
            sig |= 1 << i
    return sig


def _emb_strategy():
    from eye_of_sauron_spark.plans.vector import _DIM

    return st.lists(
        st.floats(
            allow_nan=False,
            allow_infinity=False,
            min_value=-1e12,
            max_value=1e12,
        ),
        min_size=_DIM,
        max_size=_DIM,
    )


@given(emb=_emb_strategy())
@settings(max_examples=200, deadline=None)
def test_lsh_sig_prefix_decomposition(emb):
    from eye_of_sauron_spark.plans.vector import _LSH_LADDER_PLANES

    sigs = {n: _lsh_sig_py(emb, n) for n in _LSH_LADDER_PLANES}
    for i, p in enumerate(_LSH_LADDER_PLANES):
        for n in _LSH_LADDER_PLANES[i + 1 :]:
            assert sigs[p] == sigs[n] % (1 << p)


@given(e1=_emb_strategy(), e2=_emb_strategy())
@settings(max_examples=100, deadline=None)
def test_finer_bucket_match_implies_coarser_bucket_match(e1, e2):
    """The implication the ladder's shrinking-pool argument needs:
    two vectors sharing an n-plane bucket share every p-plane bucket
    for p <= n (prefix planes), so growing the plane count can only
    split buckets, never merge them."""
    from eye_of_sauron_spark.plans.vector import _LSH_LADDER_PLANES

    s1 = {n: _lsh_sig_py(e1, n) for n in _LSH_LADDER_PLANES}
    s2 = {n: _lsh_sig_py(e2, n) for n in _LSH_LADDER_PLANES}
    for i, p in enumerate(_LSH_LADDER_PLANES):
        for n in _LSH_LADDER_PLANES[i + 1 :]:
            if s1[n] == s2[n]:
                assert s1[p] == s2[p]


def test_hyperplane_sig_spark_matches_python_replica(spark_global):
    """Ties the replica to the real Column expression at every ladder
    rung over fixed vectors (incl. zero and sign-boundary shapes)."""
    from pyspark.sql import functions as F

    from eye_of_sauron_spark.plans.vector import (
        _DIM,
        _LSH_LADDER_PLANES,
        hyperplane_sig_spark,
    )

    vecs = [
        [0.0] * _DIM,
        [1.0] * _DIM,
        [-1.0] * _DIM,
        [(-1.0) ** j * (j + 1) for j in range(_DIM)],
        [1e-9 * (j - _DIM // 2) for j in range(_DIM)],
        [float(j * j % 7 - 3) for j in range(_DIM)],
    ]
    df = spark_global.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "i LONG, emb ARRAY<DOUBLE>"
    )
    for n in _LSH_LADDER_PLANES:
        got = {
            r["i"]: r["sig"]
            for r in df.select(
                "i", hyperplane_sig_spark(F.col("emb"), range(n)).alias("sig")
            ).collect()
        }
        for i, v in enumerate(vecs):
            assert got[i] == _lsh_sig_py(v, n), (n, i)


# ---------------------------------------------------------------------------
# IVF cell-ranking comparator (round 17) — the third dial's structural
# leg: the nprobe ladder's probe sets nest because rung n takes
# slice(ranking, 1, n) of ONE deterministic ranking (plans/vector.py,
# _ivf_topk), which holds only if the array_sort comparator is a
# genuine total order. _ivf_cell_order is documented as the key
# (-coalesce(cos, -2), cid): this evaluates the real Column expression
# over seeded random + adversarial struct arrays (NULL cos, cos ties,
# extremes) in one Spark job and checks the sort agrees with the key
# everywhere — comparator laws (antisymmetry, transitivity, totality)
# follow from key-equivalence for free.


def test_ivf_cell_order_sorts_exactly_by_its_documented_key(spark_global):
    import random

    from pyspark.sql import functions as F

    from eye_of_sauron_spark.plans.vector import _ivf_cell_order

    rng = random.Random(0x17C0)
    arrays = [
        # adversarial shapes: all-NULL cos, cos ties with distinct
        # cids, boundary scores, singletons, empty
        [(None, 3), (None, 1), (None, 2)],
        [(0.5, 9), (0.5, 1), (0.5, 5), (None, 0)],
        [(-1.0, 2), (1.0, 1), (0.0, 3), (None, 4), (-1.0, 1)],
        [(0.123456, 7)],
        [],
    ] + [
        [
            (
                rng.choice([None, -1.0, 1.0, 0.0, round(rng.uniform(-1, 1), 6)]),
                rng.randrange(16),
            )
            for _ in range(rng.randrange(1, 12))
        ]
        for _ in range(30)
    ]
    df = spark_global.createDataFrame(
        [(i, [{"cos": c, "cid": k} for c, k in a]) for i, a in enumerate(arrays)],
        "i LONG, cells ARRAY<STRUCT<cos: DOUBLE, cid: LONG>>",
    )
    got = {
        r["i"]: [(x["cos"], x["cid"]) for x in r["s"]]
        for r in df.select(
            "i", F.array_sort("cells", _ivf_cell_order).alias("s")
        ).collect()
    }
    for i, a in enumerate(arrays):
        want = sorted(a, key=lambda t: (-(t[0] if t[0] is not None else -2.0), t[1]))
        assert got[i] == want, (i, got[i], want)
