"""Similarity search over the ``embeddings`` table: brute-force top-k
cosine and a random-hyperplane-LSH bucketed variant.

The reference's one similarity operator is the per-frame euclidean
face match against broadcast targets (src/prediction_producer.py:
314-325) — a brute-force scan of a small target set. Generalized here
to top-k over a corpus:

- ``similarity_topk_cosine`` is the exact baseline: broadcast the
  (small) query set against the full corpus, one window per query for
  the top-k. At 100 TB the corpus side streams through executors with
  the queries broadcast — no corpus shuffle at all until the final
  per-query k-row aggregation.
- ``similarity_topk_lsh`` is the scale path: 8 deterministic random
  hyperplanes give every vector an 8-bit sign signature; candidates
  are only the corpus vectors in the query's bucket (expected 1/256 of
  the corpus), traded against recall. Signatures are portable
  arithmetic, so even this approximate operator is oracle-checked.

Spark has no ANN index; both shapes are the standard Spark answers
(LSH bucketing mirrors MLlib's BucketedRandomProjectionLSH, rebuilt
here with pure SQL expressions so DuckDB can verify it).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.vector import (
    cosine_duck,
    cosine_normed,
    dot_duck,
    euclid_duck,
    euclid_spark,
    l2_duck,
    l2_spark,
)
from ..sources import load_table, spread
from .registry import query

_TOPK = 5
_LSH_TOPK = 3
_QUERY_FILTER = "vec_id % 50 = 0"  # 10 query vectors per 500 rows
_DIM = 64
_N_PLANES = 8

# Deterministic pseudo-random hyperplanes (values in [-48, 48]);
# inlined as literals on BOTH engines so the bucketing matches
# bit-for-bit. The quadratic term makes planes distinct for counts up
# to 97 (the old affine form was periodic mod 19 — only 19 distinct
# planes); dedup_embedding_cosine's banded sub-bucketing draws 64.
# Production swaps these for Gaussian planes — the structure of the
# plan doesn't change, only the literals.


def _plane(p: int) -> list[int]:
    return [((p * 31 + j * 17 + (p + j) * (p + j) * 7) % 97) - 48 for j in range(_DIM)]


# ------------------------------------------- the one retrieval tail
#
# Every top-k below is built from these: a query side and a corpus
# side, each projected by _side with its l2 norm folded once per ROW
# (cosine_normed then scores a pair with one dot fold, bitwise-equal
# to cosine_spark); the broadcast-query join of _pairs; and one
# ranking tail, _rank_topk. Two-stage tiers (SQ8, PQ, MRL) add an
# approximate score ``acos`` to the pairs and end in _shortlist_rerank
# (filter-and-refine: a cheap score over the corpus, exact refinement
# of the shortlist only).


def _side(df: DataFrame, p: str, *extra) -> DataFrame:
    """``(p+"id", p+"e", p+"n")`` — vec_id, embedding and its l2 norm,
    computed once per row — from a ``(vec_id, embedding)`` relation,
    plus ``extra`` columns."""
    return df.select(
        F.col("vec_id").alias(p + "id"),
        F.col("embedding").alias(p + "e"),
        l2_spark(F.col("embedding")).alias(p + "n"),
        *extra,
    )


def _pairs(c: DataFrame, q: DataFrame, *on: str) -> DataFrame:
    """Corpus side ``c`` against the broadcast query side ``q`` — a
    cross join, or an equi-join on the ``on`` columns — without
    self-matches. The corpus streams; only the small query set is
    broadcast."""
    j = c.join(F.broadcast(q), list(on)) if on else c.crossJoin(F.broadcast(q))
    return j.filter(F.col("cid") != F.col("qid"))


def _rank_topk(pairs: DataFrame, k: int, *extra: str) -> DataFrame:
    """The ranking tail of every top-k: exact cosine of each pair from
    its per-row norms (``qe, qn, ce, cn``), a per-query ``row_number``
    over ``(cos DESC, cid ASC)`` — the oracles' tie rule — then
    ``(query_id, rank, cand_id, round(cos, 6))`` plus ``extra``."""
    cos = cosine_normed(F.col("qe"), F.col("qn"), F.col("ce"), F.col("cn"))
    w = W.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid").asc())
    return (
        pairs.select("qid", "cid", cos.alias("cos"), *extra)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("rn").cast("int").alias("rank"),
            F.col("cid").alias("cand_id"),
            F.round("cos", 6).alias("cosine"),
            *extra,
        )
    )


def _shortlist_rerank(pairs: DataFrame, depth: int, k: int) -> DataFrame:
    """The second stage of every two-stage tier. ``pairs`` carry
    ``qid, cid, acos, qe, qn, ce, cn``: keep the ``depth`` best per
    query by ``(acos DESC, cid ASC)``, re-score only those with exact
    cosine and emit the exact top-``k`` with ``approx_cosine`` beside
    it. The candidate rows carry the full-precision vector and its
    norm, so the exact folds run on O(queries x depth) rows and no
    join re-fetches the shortlist from the corpus."""
    wa = W.partitionBy("qid").orderBy(F.col("acos").desc(), F.col("cid").asc())
    shortlist = pairs.withColumn("arn", F.row_number().over(wa)).filter(
        F.col("arn") <= depth
    )
    return _rank_topk(
        shortlist.withColumn("approx_cosine", F.round("acos", 6)), k, "approx_cosine"
    )


def _plane_lit_duck(p: int) -> str:
    return "[" + ", ".join(f"{v}.0" for v in _plane(p)) + "]"


def _plane_val(p, j):
    """``_plane(p)[j]`` as an in-plan expression (p, j Columns). Same
    closed form, so values are identical to the literal arrays — but
    the signature tree stays O(1) nodes instead of O(planes x dim)
    literals. With 64 planes the literal form is a ~4096-node
    projection that costs seconds of Catalyst optimization per run
    (duplicated again on each self-join side); the closed form makes
    plan time flat. Exact-integer arithmetic before the double cast,
    so cross-engine bitwise equality is unaffected."""
    q = p * 31 + j * 17 + (p + j) * (p + j) * 7
    return (q % 97 - 48).cast("double")


def hyperplane_sig_spark(emb, planes):
    """Sign-bit signature of ``emb`` against the given plane indices:
    bit i set iff dot(emb, plane(planes[i])) > 0.

    Data-driven form: the plane matrix is generated inside the
    expression from ``_plane_val``'s closed form (see its docstring);
    the per-plane dot keeps ``dot_spark``'s exact fold order
    (left-to-right over j), so sig values — and every downstream
    band key — are bit-identical to the literal-plane oracle."""
    planes = list(planes)
    parr = F.array(*[F.lit(int(p)) for p in planes])

    def dot_p(p):
        prods = F.zip_with(
            emb,
            F.sequence(F.lit(0), F.lit(_DIM - 1)),
            lambda x, j: x.cast("double") * _plane_val(p, j),
        )
        return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)

    # fold bits MSB-first (position n-1 .. 0): sig = sig*2 + bit_i,
    # which equals sum(bit_i * 2^i) without a literal per position
    rev = F.sequence(F.lit(len(planes) - 1), F.lit(0), F.lit(-1))
    bits = F.transform(
        rev,
        lambda i: F.when(dot_p(F.get(parr, i)) > 0, F.lit(1)).otherwise(F.lit(0)),
    )
    return F.aggregate(bits, F.lit(0).cast("bigint"), lambda acc, b: acc * 2 + b)


def hyperplane_sig_duck(emb: str, planes) -> str:
    terms = " + ".join(
        f"(CASE WHEN {dot_duck(emb, _plane_lit_duck(p))} > 0 THEN {2 ** i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"({terms})"


_COSINE_ORACLE = f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qe FROM embeddings
        WHERE {_QUERY_FILTER}
    ),
    scored AS (
        SELECT q.qid, c.vec_id AS cid,
               {cosine_duck('q.qe', 'c.embedding')} AS cos
        FROM q, embeddings c
        WHERE c.vec_id != q.qid
    ),
    ranked AS (
        SELECT qid, cid, cos,
               row_number() OVER (
                   PARTITION BY qid ORDER BY cos DESC, cid ASC
               ) AS rn
        FROM scored
    )
    SELECT qid AS query_id, CAST(rn AS INT) AS rank,
           cid AS cand_id, round(cos, 6) AS cosine
    FROM ranked WHERE rn <= {_TOPK}
    """


@query("similarity_topk_cosine", oracle=_COSINE_ORACLE)
def similarity_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force top-k cosine: broadcast query set x corpus
    scan, per-query ranking window. The corpus never shuffles until
    rows are already down to O(queries x k)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = _side(emb.filter(F.expr(_QUERY_FILTER)), "q")
    return _rank_topk(_pairs(_side(spread(emb, "vec_id"), "c"), q), _TOPK)


def _lsh_oracle_sql(planes: int) -> str:
    """The LSH oracle parameterized by plane count — the registered
    ``similarity_topk_lsh`` oracle is this at ``_N_PLANES``; the
    plane-count recall ladder instantiates it per rung."""
    return f"""
    WITH sigs AS (
        SELECT vec_id, embedding,
               {hyperplane_sig_duck('embedding', range(planes))} AS sig
        FROM embeddings
    ),
    q AS (
        SELECT vec_id AS qid, embedding AS qe, sig FROM sigs
        WHERE {_QUERY_FILTER}
    ),
    scored AS (
        SELECT q.qid, c.vec_id AS cid,
               {cosine_duck('q.qe', 'c.embedding')} AS cos
        FROM q JOIN sigs c ON c.sig = q.sig AND c.vec_id != q.qid
    ),
    ranked AS (
        SELECT qid, cid, cos,
               row_number() OVER (
                   PARTITION BY qid ORDER BY cos DESC, cid ASC
               ) AS rn
        FROM scored
    )
    SELECT qid AS query_id, CAST(rn AS INT) AS rank,
           cid AS cand_id, round(cos, 6) AS cosine
    FROM ranked WHERE rn <= {_LSH_TOPK}
    """


_LSH_ORACLE = _lsh_oracle_sql(_N_PLANES)


def _lsh_sigs(spark: SparkSession, sf_dir: str, planes: int) -> DataFrame:
    """The narrow signature pass of the LSH plan: (vec_id, embedding,
    sig) at the given plane count, spread across cores."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    # the signature is a JOIN KEY below, and Catalyst infers an
    # isnotnull(sig) filter on both join sides — with sig's WHOLE
    # 64-plane fold inlined — and pushes it beneath the spread
    # exchange onto the scan's single split (and evaluates it a second
    # time in the projection). coalesce against a non-nullable
    # sentinel makes the column non-nullable, so the inferred
    # constraint constant-folds away; the sentinel is unreachable
    # because null embeddings are filtered at the scan (a cheap,
    # parquet-pushable predicate).
    return spread(emb, "vec_id").select(
        "vec_id",
        "embedding",
        F.coalesce(
            hyperplane_sig_spark(F.col("embedding"), range(planes)),
            F.lit(-1).cast("bigint"),
        ).alias("sig"),
    )


def _lsh_topk(spark: SparkSession, sf_dir: str, planes: int) -> DataFrame:
    """The LSH plan parameterized by plane count (see
    :func:`similarity_topk_lsh` for the full shape discussion)."""
    return _lsh_topk_from(_lsh_sigs(spark, sf_dir, planes))


def _lsh_topk_from(sigs: DataFrame) -> DataFrame:
    """The bucket-join + per-query ranking tail of the LSH plan over a
    prepared (vec_id, embedding, sig) relation. Factored out so the
    plane ladder can feed every rung from ONE materialized max-plane
    signature pass (rung sig = sig_max mod 2^planes, the prefix
    refinement pinned in tests/test_properties.py) while the
    registered single-rung path keeps its exact previous plan."""
    q = _side(sigs.filter(F.expr(_QUERY_FILTER)), "q", "sig")
    return _rank_topk(_pairs(_side(sigs, "c", "sig"), q, "sig"), _LSH_TOPK)


@query("similarity_topk_lsh", oracle=_LSH_ORACLE)
def similarity_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: random-hyperplane signatures bucket the
    corpus; each query only scores its own bucket (equi-join on the
    signature). Recall is probabilistic — queries whose neighbors land
    across a hyperplane miss them — which is the standard
    accuracy/cost dial (measured as a curve by
    similarity_lsh_plane_ladder); the candidate join is an equi
    shuffle join on sig, scaling as O(corpus/2^planes) pairs per
    query."""
    return _lsh_topk(spark, sf_dir, _N_PLANES)


_IVF_CELLS = 8
_IVF_NPROBE = 2
_IVF_TOPK = 3


def _ivf_oracle_sql(nprobe: int) -> str:
    """The IVF oracle parameterized by ``nprobe`` — the registered
    ``similarity_topk_ivf`` oracle is this at ``_IVF_NPROBE``; the
    nprobe recall ladder instantiates it per rung."""
    return f"""
    WITH cent AS (
        SELECT vec_id AS cid, embedding AS ce FROM embeddings
        ORDER BY vec_id LIMIT {_IVF_CELLS}
    ),
    assigned AS (
        SELECT vec_id, embedding, cell FROM (
            SELECT e.vec_id, e.embedding, c.cid AS cell,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {cosine_duck('e.embedding', 'c.ce')} DESC, c.cid ASC
                   ) AS rc
            FROM embeddings e, cent c
        ) WHERE rc = 1
    ),
    probes AS (
        SELECT qid, qe, cell FROM (
            SELECT q.vec_id AS qid, q.embedding AS qe, c.cid AS cell,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {cosine_duck('q.embedding', 'c.ce')} DESC, c.cid ASC
                   ) AS rc
            FROM embeddings q, cent c
            WHERE {_QUERY_FILTER.replace('vec_id', 'q.vec_id')}
        ) WHERE rc <= {nprobe}
    ),
    scored AS (
        SELECT p.qid, a.vec_id AS cid_cand,
               {cosine_duck('p.qe', 'a.embedding')} AS cos
        FROM probes p JOIN assigned a ON a.cell = p.cell
        WHERE a.vec_id != p.qid
    ),
    ranked AS (
        SELECT qid, cid_cand, cos,
               row_number() OVER (
                   PARTITION BY qid ORDER BY cos DESC, cid_cand ASC
               ) AS rn
        FROM scored
    )
    SELECT qid AS query_id, CAST(rn AS INT) AS rank,
           cid_cand AS cand_id, round(cos, 6) AS cosine
    FROM ranked WHERE rn <= {_IVF_TOPK}
    """


_IVF_ORACLE = _ivf_oracle_sql(_IVF_NPROBE)


def _ivf_cell_order(left: F.Column, right: F.Column) -> F.Column:
    """array_sort comparator over (cos, cid) structs: the documented
    TOTAL order behind every IVF cell ranking — cos DESC, cid ASC,
    NULL cos (zero-norm vectors) last. cosine >= -1, so -2 sorts a
    NULL below every real score. Totality/determinism is what makes
    nprobe-n probe sets nested prefixes of one fixed ranking (the
    ladder's monotonicity leg); pinned against its order key in
    tests/test_properties.py. Module-level so the rungs and the tests
    share one definition."""
    lc = F.coalesce(left["cos"], F.lit(-2.0))
    rc = F.coalesce(right["cos"], F.lit(-2.0))
    return (
        F.when(lc > rc, F.lit(-1))
        .when(lc < rc, F.lit(1))
        .when(left["cid"] < right["cid"], F.lit(-1))
        .when(left["cid"] > right["cid"], F.lit(1))
        .otherwise(F.lit(0))
    )


def _ivf_cent_row(emb: DataFrame) -> DataFrame:
    """The whole centroid set folded into ONE broadcast row of
    (cid, ce, cn) structs, each centroid's norm folded once: cell
    assignment and probe selection then run as NARROW
    higher-order-function passes (per-row argmax over the
    array) — no corpus x cells explode, no shuffle, no per-vec_id
    ranking window. At 100 TB this is the difference between a
    map-side-only assignment and shuffling corpus x cells rows into a
    window sort; locally it also drops the window's exchange
    materialization (status-tracker: 7 jobs -> 6, wall warm-identical
    at sf0.1 — the win is the shape, not the local clock; SCALE.md
    "similarity_*_recall drift triage")."""
    cent = (
        emb.orderBy("vec_id")
        .limit(_IVF_CELLS)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("ce"),
            l2_spark(F.col("embedding")).alias("cn"),
        )
    )
    return cent.agg(
        F.array_sort(F.collect_list(F.struct("cid", "ce", "cn"))).alias("cents")
    )


def _ivf_ranked_cells(p: str) -> F.Column:
    """Cell ids of side ``p``'s vector (``p+"e"``, per-row norm
    ``p+"n"``) against the broadcast ``cents`` array, ranked by
    :func:`_ivf_cell_order` — the input of every IVF assignment and
    probe set."""
    scores = F.transform(
        F.col("cents"),
        lambda c: F.struct(
            cosine_normed(F.col(p + "e"), F.col(p + "n"), c["ce"], c["cn"]).alias("cos"),
            c["cid"].alias("cid"),
        ),
    )
    return F.array_sort(scores, _ivf_cell_order)["cid"]


def _ivf_topk(spark: SparkSession, sf_dir: str, nprobe: int) -> DataFrame:
    """The IVF plan parameterized by ``nprobe`` (see
    :func:`similarity_topk_ivf` for the full shape discussion)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent_row = F.broadcast(_ivf_cent_row(emb))
    c = _side(spread(emb, "vec_id"), "c").crossJoin(cent_row)
    q = _side(emb.filter(F.expr(_QUERY_FILTER)), "q").crossJoin(cent_row)
    assigned = c.select("cid", "ce", "cn", _ivf_ranked_cells("c")[0].alias("cell"))
    probes = q.select(
        "qid",
        "qe",
        "qn",
        F.explode(F.slice(_ivf_ranked_cells("q"), 1, nprobe)).alias("cell"),
    )
    return _rank_topk(_pairs(assigned, probes, "cell"), _IVF_TOPK)


@query("similarity_topk_ivf", oracle=_IVF_ORACLE)
def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN — the second scale path next to LSH: a small
    deterministic centroid set (the coarse quantizer; k-means in
    production, the 8 lowest-vec_id vectors here) partitions the
    corpus into cells in ONE broadcast pass; each query probes its
    nprobe=2 nearest cells and scores only those candidates.

    Scale shape: assignment is a broadcast NLJ over the centroid set
    (narrow, no corpus shuffle) followed by one equi-join on cell —
    candidates are O(corpus x nprobe / cells). Recall/cost dials:
    cells up, nprobe up (the dial itself is measured by
    similarity_ivf_nprobe_ladder). All ranking windows are per-query
    keys, so the sort state is tiny everywhere."""
    return _ivf_topk(spark, sf_dir, _IVF_NPROBE)


# ------------------------------------------------------ recall audits

_RECALL_K = 3  # == _LSH_TOPK == _IVF_TOPK, so both ANN paths rank 3 deep


def _recall_select(exact_k: str, ann_k: str) -> str:
    """The recall@k join/agg over two ``(query_id, cand_id)`` CTEs —
    shared by every standalone recall oracle and the nprobe ladder so
    the compare semantics live in exactly one place."""
    return f"""SELECT e.query_id,
           CAST(count(a.cand_id) AS INT) AS n_hits,
           round(count(a.cand_id) / {_RECALL_K}.0, 6) AS recall
    FROM {exact_k} e LEFT JOIN {ann_k} a
      ON a.query_id = e.query_id AND a.cand_id = e.cand_id
    GROUP BY e.query_id"""


def _recall_oracle(ann_oracle: str) -> str:
    """recall@k of an ANN result against the exact brute-force top-k,
    REUSING the registered oracles as nested CTEs — both engines
    compute the identical number from first principles."""
    return f"""
    WITH exact_full AS ({_COSINE_ORACLE}),
         ann_full AS ({ann_oracle}),
         exact_k AS (
             SELECT query_id, cand_id FROM exact_full WHERE rank <= {_RECALL_K}
         ),
         ann_k AS (
             SELECT query_id, cand_id FROM ann_full WHERE rank <= {_RECALL_K}
         )
    {_recall_select('exact_k', 'ann_k')}
    """


def _exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact brute-force top-k ``(query_id, cand_id)`` pairs every
    recall contract audits against (the expensive audit baseline — at
    100 TB this runs over a SAMPLED query set, which is exactly what
    _QUERY_FILTER is). It is IDENTICAL for every recall contract over
    a given corpus, so it is memo-checkpointed once per session
    (queries x k rows — broadcast-sized) instead of re-running the
    brute-force scan once per audited tier."""
    from ..functions.materialize import memo_checkpoint

    return memo_checkpoint(
        spark,
        ("recall_exact_topk", os.path.realpath(sf_dir), _RECALL_K),
        lambda: similarity_topk_cosine(spark, sf_dir)
        .filter(F.col("rank") <= _RECALL_K)
        .select("query_id", "cand_id"),
    )


def _recall_of(spark: SparkSession, sf_dir: str, ann_fn) -> DataFrame:
    """Per-query recall@k: |ANN top-k ∩ exact top-k| / k — the
    one-rung case of :func:`_ladder_of`, its dial column dropped. The
    join/agg sides are O(queries x k) rows, so everything after the
    two scans is broadcast-sized by construction."""
    return _ladder_of(spark, sf_dir, "rung", [(1, ann_fn(spark, sf_dir))]).drop("rung")


def _ladder_oracle(dial_col: str, rungs, oracle_sql_fn) -> str:
    """Shared dial-ladder oracle scaffolding (IVF nprobe + LSH plane
    ladders): ONE shared exact-baseline CTE — the expensive all-pairs
    scan runs once, mirroring the Spark side's session memo — plus an
    (ann, annk, rec) block per rung, UNION ALL tagged by ``dial_col``.
    Nested WITH-in-CTE is the same driver-proven pattern every recall
    contract already uses.

    Rungs must be unique, positive and ascending: per-rung CTEs are
    NAMED by dial value (ann{r}/annk{r}/rec{r}), so a duplicate rung
    would generate duplicate CTE names and broken SQL — a future
    constant change (e.g. _IVF_NPROBE = 1 → rungs (1, 1, 2)) should
    fail HERE at import, not at oracle time (ADVICE r16)."""
    rungs = tuple(rungs)
    assert len(set(rungs)) == len(rungs), f"duplicate ladder rungs {rungs}"
    assert all(r > 0 for r in rungs) and list(rungs) == sorted(rungs), (
        f"ladder rungs must be positive ascending, got {rungs}"
    )
    return (
        f"""WITH exact_full AS ({_COSINE_ORACLE}),
    exact_k AS (
        SELECT query_id, cand_id FROM exact_full WHERE rank <= {_RECALL_K}
    ),
    """
        + ",\n    ".join(
            f"ann{r} AS ({oracle_sql_fn(r)}),\n"
            f"    annk{r} AS (SELECT query_id, cand_id FROM ann{r} "
            f"WHERE rank <= {_RECALL_K}),\n"
            f"    rec{r} AS ({_recall_select('exact_k', f'annk{r}')})"
            for r in rungs
        )
        + "\n    "
        + "\n    UNION ALL ".join(
            f"SELECT CAST({r} AS INT) AS {dial_col}, query_id, n_hits, "
            f"recall FROM rec{r}"
            for r in rungs
        )
    )


def _ladder_of(
    spark: SparkSession, sf_dir: str, dial_col: str, rung_anns
) -> DataFrame:
    """Shared dial-ladder plan over the prepared ``(rung, ann_df)``
    pairs. The rung ANN relations are built by each ladder from ONE
    materialized shared pass (r17 optimization); every rung still
    runs the registered ranking tail byte-for-byte, and the
    shared-pass derivations are property-pinned
    (tests/test_properties.py), so the middle-rung row-identity pins
    keep holding by construction.

    r18 optimization (guide §2.4): one recall plan per rung meant one
    exact-side join + one aggregate PER RUNG, then a union of three
    aggregate outputs — 3 joins, 3 shuffles, 3 codegen units for what
    is one relation. The rung tag is now part of the join key instead:
    the session-memoized exact top-k (:func:`_exact_topk`) explodes to
    (rung, query, cand) — O(rungs x queries x k) rows, still
    broadcast-sized — the tagged rung ANN union joins once, and ONE
    (rung, query) aggregate emits every ladder row. Same rows, same
    per-rung math, one exchange; a single recall contract is the
    one-rung case (:func:`_recall_of`)."""
    exact = _exact_topk(spark, sf_dir)
    ann = None
    for r_, ann_df in rung_anns:
        t = ann_df.filter(F.col("rank") <= _RECALL_K).select(
            F.lit(r_).cast("int").alias("ar"),
            F.col("query_id").alias("aq"),
            F.col("cand_id").alias("ac"),
        )
        ann = t if ann is None else ann.unionByName(t)
    rungs = F.array(*[F.lit(r_).cast("int") for r_, _ in rung_anns])
    ex = exact.select(
        F.explode(rungs).alias(dial_col), "query_id", "cand_id"
    )
    joined = ex.join(
        F.broadcast(ann),
        (F.col(dial_col) == F.col("ar"))
        & (F.col("query_id") == F.col("aq"))
        & (F.col("cand_id") == F.col("ac")),
        "left",
    )
    return joined.groupBy(dial_col, "query_id").agg(
        F.count("ac").cast("int").alias("n_hits"),
        F.round(F.count("ac") / F.lit(float(_RECALL_K)), 6).alias("recall"),
    )


@query("similarity_lsh_recall", oracle=_recall_oracle(_LSH_ORACLE))
def similarity_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the hyperplane-LSH path vs the exact top-3, per
    query — approximation quality as a driver-checked contract, not a
    pytest-only fact. A bucketing regression (bad plane literals, sig
    drift between engines, a lost bucket) shows up as a recall drop
    on BOTH engines only if they drift identically — the oracle
    recomputes signatures independently, so one-sided drift fails the
    hash compare outright."""
    return _recall_of(spark, sf_dir, similarity_topk_lsh)


@query("similarity_ivf_recall", oracle=_recall_oracle(_IVF_ORACLE))
def similarity_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the IVF path (coarse cells + nprobe=2) vs the
    exact top-3, per query. Together with similarity_lsh_recall this
    makes the accuracy/cost dial of every ANN path a measured,
    hash-checked number."""
    return _recall_of(spark, sf_dir, similarity_topk_ivf)


# middle rung == _IVF_NPROBE, so the registered contract is a ladder
# row by construction, not by coincidence of literals
_IVF_LADDER_NPROBES = (1, _IVF_NPROBE, 2 * _IVF_NPROBE)

_IVF_LADDER_ORACLE = _ladder_oracle(
    "nprobe", _IVF_LADDER_NPROBES, _ivf_oracle_sql
)


@query("similarity_ivf_nprobe_ladder", oracle=_IVF_LADDER_ORACLE)
def similarity_ivf_nprobe_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF accuracy/cost DIAL as one measured relation: per-query
    recall@3 at nprobe = 1, 2, 4 over the same 8-cell coarse quantizer
    (VERDICT r15 #5's named candidate). One row per (nprobe, query) —
    the registered nprobe=2 contract (similarity_ivf_recall) is the
    middle rung, so capacity planning reads the whole curve instead of
    a point: candidates scale as O(corpus x nprobe / cells) while
    recall climbs toward the exact scan.

    Recall is MONOTONE non-decreasing in nprobe by construction: a
    larger probe set only GROWS each query's candidate pool, candidates
    are scored by exact cosine with the same (cos DESC, cid ASC) tie
    rule as the brute-force baseline, and any candidate that would
    evict an exact-top-3 member from the ANN top-3 must outrank it
    globally — i.e. it IS an exact-top-3 member itself
    (pytest-pinned per query, tests/test_round16_ops.py).

    Scale shape: the exact side is the session-memoized brute-force
    baseline (ONE computation shared by every recall contract, riding
    a sampled query set at production scale); the rungs share ONE
    materialized cell-ranking pass (r17 optimization): the broadcast
    centroid fold + argmax ranking used to run once per rung AND per
    side — six narrow corpus passes for one ladder; now
    (cid, ce, cn, cells[1..max_nprobe]) is localCheckpointed
    once, every rung's assignment is cells[1] and its probe set is
    the nprobe-prefix of the SAME ranking (nested prefixes — exactly
    the total-order argument in _ivf_cell_order's contract, pinned in
    tests/test_properties.py), and only the cell equi-join + ranking
    tail runs per rung. Everything after the scans is O(queries x k)
    broadcast-sized. At 100 TB the three rungs are three passes over
    the same cell-partitioned candidate layout, not three corpus
    shuffles — and now also ONE assignment pass, not six."""
    emb = load_table(spark, sf_dir, "embeddings")
    max_np = _IVF_LADDER_NPROBES[-1]
    c = _side(spread(emb, "vec_id"), "c").crossJoin(F.broadcast(_ivf_cent_row(emb)))
    shared = c.select(
        "cid", "ce", "cn", F.slice(_ivf_ranked_cells("c"), 1, max_np).alias("cells")
    ).localCheckpoint(eager=True)
    assigned = shared.select("cid", "ce", "cn", F.col("cells")[0].alias("cell"))
    rung_anns = []
    for np_ in _IVF_LADDER_NPROBES:
        probes = shared.filter(F.expr(_QUERY_FILTER.replace("vec_id", "cid"))).select(
            F.col("cid").alias("qid"),
            F.col("ce").alias("qe"),
            F.col("cn").alias("qn"),
            F.explode(F.slice("cells", 1, np_)).alias("cell"),
        )
        ann = _rank_topk(_pairs(assigned, probes, "cell"), _IVF_TOPK)
        rung_anns.append((np_, ann))
    return _ladder_of(spark, sf_dir, "nprobe", rung_anns)


# middle rung == _N_PLANES, so the registered contract is a ladder
# row by construction; rungs are nested prefixes of the one family
_LSH_LADDER_PLANES = (_N_PLANES // 2, _N_PLANES, 2 * _N_PLANES)

_LSH_LADDER_ORACLE = _ladder_oracle(
    "n_planes", _LSH_LADDER_PLANES, _lsh_oracle_sql
)


@query("similarity_lsh_plane_ladder", oracle=_LSH_LADDER_ORACLE)
def similarity_lsh_plane_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH accuracy/cost DIAL as one measured relation — the
    mirror of similarity_ivf_nprobe_ladder on the other ANN scale
    path: per-query recall@3 at 4, 8 and 16 hyperplanes (nested
    PREFIXES of the same deterministic plane family). One row per
    (n_planes, query); the registered 8-plane contract
    (similarity_lsh_recall) is the middle rung, so the
    bucket-size-vs-recall trade reads as a curve: candidates scale as
    O(corpus / 2^planes) per query while recall falls away from the
    exact scan.

    Recall is MONOTONE non-INCREASING in plane count by construction
    — the reverse of the nprobe argument: plane sets are nested
    prefixes, so equal 16-plane signatures imply equal 8-plane (and
    4-plane) signatures; each added plane REFINES the bucket
    partition and each query's candidate pool can only SHRINK.
    Candidates are scored by exact cosine with the brute-force tie
    rule, so a shrinking pool can only pull the ANN top-3 away from
    the exact top-3 (pytest-pinned per query,
    tests/test_round16_ops.py).

    Scale shape: the exact side is the session-memoized brute-force
    baseline shared by every recall contract; the rungs share ONE
    materialized max-plane signature pass (r17 optimization): the
    16-plane signature relation is localCheckpointed once and each
    rung derives its signature as sig_p = sig_16 mod 2^p — the
    nested-prefix refinement pinned BOTH as a hypothesis property and
    against the real Column expression in tests/test_properties.py
    (r16 had left this on the table to keep rungs independent; the
    pins added since make the derivation as auditable as the re-run,
    and the optimization round takes the saved passes). Each rung
    still runs the registered bucket-join + ranking tail
    byte-for-byte (_lsh_topk_from), and everything after the scans is
    O(queries x k) broadcast-sized. At 100 TB this is ONE signature
    pass over the corpus instead of three (the 6 scan-side passes —
    3 rungs x 2 join sides — collapse onto one materialized
    relation); the 4-plane rung's buckets are corpus/16-sized, which
    is exactly the candidate-volume ceiling the dial exists to
    expose."""
    max_p = _LSH_LADDER_PLANES[-1]
    shared = _lsh_sigs(spark, sf_dir, max_p).withColumnRenamed(
        "sig", "sig_max"
    ).localCheckpoint(eager=True)
    rung_anns = []
    for p in _LSH_LADDER_PLANES:
        sigs = shared.select(
            "vec_id",
            "embedding",
            (F.col("sig_max") % F.lit(1 << p)).cast("bigint").alias("sig"),
        )
        rung_anns.append((p, _lsh_topk_from(sigs)))
    return _ladder_of(spark, sf_dir, "n_planes", rung_anns)


# --------------------------------------------------------- quantization

_Q_LEVELS = 127  # symmetric int8: q in [-127, 127], 0 maps to 0 exactly


def _micro(x: F.Column) -> F.Column:
    """``x`` round-half-up to integer micro-units, floor(x*1e6 + 0.5)
    as BIGINT: the per-row quantization behind every cross-row
    integer aggregate here (spelled out because the engines' native
    round() disagree on ties)."""
    return F.floor(x.cast("double") * 1000000 + F.lit(0.5)).cast("bigint")


@query(
    "embedding_int8_quantize",
    oracle=f"""
    WITH scaled AS (
        SELECT vec_id, label,
               list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE)))) / {_Q_LEVELS} AS scale,
               embedding
        FROM embeddings
    ),
    q AS (
        SELECT vec_id, label, scale, embedding,
               list_transform(embedding,
                   x -> floor(CAST(x AS DOUBLE) / scale + 0.5)) AS qv
        FROM scaled
    )
    SELECT vec_id, label, round(scale, 6) AS scale,
           round(list_sum(list_transform(list_zip(embedding, qv),
               p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) * scale)
                    * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) * scale)))
               / {_DIM}, 9) AS mse,
           CAST(list_sum(list_transform(qv,
               v -> CASE WHEN abs(v) = {_Q_LEVELS} THEN 1 ELSE 0 END))
               AS BIGINT) AS n_extreme
    FROM q
    """,
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization — the 4x storage/IO
    compression step of a vector store at 100 TB: scale = max|x|/127,
    q_i = round-half-up(x_i/scale), reported as per-vector scale,
    reconstruction MSE, and the count of components hitting the
    extreme level (by construction >= 1: the max-magnitude component
    maps exactly to +/-127, so n_extreme doubles as a sanity invariant).

    Everything is per-row higher-order folds over the embedding array
    — zero shuffle, fuses into the scan; the fold order is fixed
    left-to-right in both engines so the MSE is bitwise reproducible
    (same discipline as functions/vector.py). round-half-up is spelled
    floor(x + 0.5) explicitly because the engines' native round()
    disagree on ties (banker's vs away-from-zero)."""
    emb = load_table(spark, sf_dir, "embeddings")
    scale = (
        F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
        / _Q_LEVELS
    )
    scaled = emb.select("vec_id", "label", "embedding", scale.alias("scale"))
    qv = F.transform(
        "embedding", lambda x: F.floor(x.cast("double") / F.col("scale") + 0.5)
    )
    q = scaled.withColumn("qv", qv)
    err2 = F.zip_with(
        "embedding",
        "qv",
        lambda x, v: (x.cast("double") - v.cast("double") * F.col("scale"))
        * (x.cast("double") - v.cast("double") * F.col("scale")),
    )
    mse = F.aggregate(err2, F.lit(0.0), lambda a, v: a + v) / _DIM
    n_extreme = F.aggregate(
        F.transform("qv", lambda v: (F.abs(v) == _Q_LEVELS).cast("int")),
        F.lit(0).cast("bigint"),
        lambda a, v: a + v,
    )
    # mse/n_extreme are materialized BEFORE the select that re-aliases
    # the rounded scale as "scale": a same-select alias shadows the
    # input column, so an unresolved F.col("scale") inside the fold
    # lambdas would silently bind to the ROUNDED sibling (caught by
    # the oracle check as a 9th-digit mse drift).
    q = q.withColumn("mse_raw", mse).withColumn("n_extreme", n_extreme)
    return q.select(
        "vec_id",
        "label",
        F.round("scale", 6).alias("scale"),
        F.round("mse_raw", 9).alias("mse"),
        "n_extreme",
    )


# ------------------------------------------------ SQ8 + exact re-rank

_SQ8_RERANK_M = 8  # approx-stage candidates kept per query
_SQ8_TOPK = 3      # final exact-ranked neighbors emitted

# int8 code arrays (same symmetric scheme as embedding_int8_quantize)
_SQ8_QV_DUCK = (
    "list_transform(embedding, x -> floor(CAST(x AS DOUBLE) / "
    f"(list_max(list_transform(embedding, m -> abs(CAST(m AS DOUBLE)))) / {_Q_LEVELS})"
    " + 0.5))"
)

_SQ8_ORACLE = f"""
    WITH codes AS (
        SELECT vec_id, embedding, {_SQ8_QV_DUCK} AS qv FROM embeddings
    ),
    q AS (
        SELECT vec_id AS qid, embedding AS qe, qv AS qqv FROM codes
        WHERE {_QUERY_FILTER}
    ),
    approx AS (
        SELECT q.qid, c.vec_id AS cid, c.embedding AS ce, q.qe,
               list_sum(list_transform(list_zip(q.qqv, c.qv),
                   p -> p[1] * p[2]))
               / (sqrt(list_sum(list_transform(q.qqv, v -> v * v)))
                  * sqrt(list_sum(list_transform(c.qv, v -> v * v))))
                   AS acos
        FROM q, codes c
        WHERE c.vec_id != q.qid
    ),
    shortlist AS (
        SELECT qid, cid, ce, qe, acos,
               row_number() OVER (
                   PARTITION BY qid ORDER BY acos DESC, cid ASC
               ) AS arn
        FROM approx
    ),
    exact AS (
        SELECT qid, cid, round(acos, 6) AS approx_cosine,
               {cosine_duck('qe', 'ce')} AS cos
        FROM shortlist WHERE arn <= {_SQ8_RERANK_M}
    ),
    ranked AS (
        SELECT qid, cid, approx_cosine, cos,
               row_number() OVER (
                   PARTITION BY qid ORDER BY cos DESC, cid ASC
               ) AS rn
        FROM exact
    )
    SELECT qid AS query_id, CAST(rn AS INT) AS rank, cid AS cand_id,
           round(cos, 6) AS cosine, approx_cosine
    FROM ranked WHERE rn <= {_SQ8_TOPK}
    """


@query("similarity_topk_sq8_rerank", oracle=_SQ8_ORACLE)
def similarity_topk_sq8_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval over a scalar-quantized index — the
    production vector-search shape at 100 TB: stage 1 scans int8 CODES
    (4x less IO/memory than fp32, integer dot products; the
    per-vector scales CANCEL in cosine, so the approx score is pure
    integer arithmetic over the codes and bitwise identical across
    engines), keeps the top-8 shortlist per query; stage 2 re-ranks
    ONLY the shortlist with exact fp32 cosine and emits the top-3.

    Plan shape: quantization is a narrow map fused into the corpus
    scan, and each row's code norm and fp32 norm are folded there
    once; stage 1 is broadcast-queries x corpus codes scan (the full-
    precision column and its norm are carried but never folded until
    the shortlist); stage 2's exact fold runs on O(queries x 8) rows
    — the expensive arithmetic moves from |corpus| to |shortlist|.
    Approximation quality is visible in-row: approx_cosine sits
    beside the exact cosine in the output."""
    emb = load_table(spark, sf_dir, "embeddings")
    scale = (
        F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
        / _Q_LEVELS
    )
    codes = spread(emb, "vec_id").select(
        "vec_id",
        "embedding",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") / scale + 0.5).cast("bigint"),
        ).alias("qv"),
    )

    def inorm(col):
        return F.sqrt(
            F.aggregate(
                F.transform(col, lambda v: v * v),
                F.lit(0).cast("bigint"),
                lambda acc, v: acc + v,
            ).cast("double")
        )

    q = _side(
        codes.filter(F.expr(_QUERY_FILTER)),
        "q",
        F.col("qv").alias("qqv"),
        inorm("qv").alias("qqn"),
    )
    c = _side(codes, "c", "qv", inorm("qv").alias("cqn"))
    idot = F.aggregate(
        F.zip_with("qqv", "qv", lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    acos = idot.cast("double") / (F.col("qqn") * F.col("cqn"))
    return _shortlist_rerank(
        _pairs(c, q).withColumn("acos", acos), _SQ8_RERANK_M, _SQ8_TOPK
    )


@query("similarity_sq8_recall", oracle=_recall_oracle(_SQ8_ORACLE))
def similarity_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the SQ8 + re-rank path vs the exact top-3. The only
    loss mechanism is a true neighbor ranked below the approx top-8 by
    quantization error; with 64 dims and int8 codes that is rare, so
    this should sit at/near 1.0 — a sustained drop means the scale or
    code arithmetic regressed on one engine (and a one-sided drift
    fails the hash compare before it fails the recall)."""
    return _recall_of(spark, sf_dir, similarity_topk_sq8_rerank)


# ---------------------------------- product quantization + re-rank

_PQ_M = 8        # subspaces (64 dims -> 8 x 8-dim subvectors)
_PQ_SUBDIM = _DIM // _PQ_M
_PQ_K = 16       # codebook entries per subspace = the 16 smallest vec_ids
_PQ_RERANK_M = 32  # ADC-stage shortlist per query (~10x the final k:
# 8-byte codes rank noisily on the isotropic fixture, so the shortlist
# is deeper than SQ8's 8 — measured at sf0.01: recall@3 0.37 at depth
# 8, 0.53 at 32; a 1-Lloyd-step trained codebook reaches 0.70 only at
# the same depth, so depth is the better lever here)
_PQ_TOPK = 3      # final exact-ranked neighbors emitted


def _pq_slice_duck(arr: str, m: str) -> str:
    """``list_slice(arr, m*8+1, m*8+8)`` — subvector ``m`` (0-based)."""
    return (
        f"list_slice({arr}, CAST({m} * {_PQ_SUBDIM} + 1 AS INT), "
        f"CAST({m} * {_PQ_SUBDIM} + {_PQ_SUBDIM} AS INT))"
    )


def _pq_sub(arr, m):
    """Subvector ``m`` (0-based) of a ``_DIM``-wide array — the Spark
    twin of :func:`_pq_slice_duck`."""
    return F.slice(arr, m * _PQ_SUBDIM + 1, _PQ_SUBDIM)


def _pq_seeds(emb: DataFrame) -> DataFrame:
    """THE flat seed relation — the ``_PQ_K`` smallest vec_ids as
    ``(seed_id, se)`` — defined once so every PQ stage (seed-row fold,
    Lloyd grid) derives from the same subtree."""
    return emb.filter(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").alias("seed_id"), F.col("embedding").alias("se")
    )


def _pq_seed_fold(seeds: DataFrame) -> DataFrame:
    """Fold a flat ``(seed_id, se)`` relation into ONE broadcastable
    row, asc-sorted so the assignment fold's iteration order is
    deterministic."""
    return seeds.agg(
        F.array_sort(F.collect_list(F.struct("seed_id", "se"))).alias("sds")
    )


def _pq_seeds_row(emb: DataFrame) -> DataFrame:
    """ONE-row relation holding the seed codewords (the ``_PQ_K``
    smallest vec_ids)."""
    return _pq_seed_fold(_pq_seeds(emb))


def _pq_nearest(codewords, query_sub, cw_of):
    """THE codeword-assignment fold, shared by every PQ stage — seed
    encode, Lloyd E-step, trained encode — so the micro-quantized
    ``(dm, seed_id)`` tie rule lives in exactly one place: argmin
    over ``codewords`` (structs asc-sorted by ``seed_id``) of
    ``floor(euclid * 1e6)`` to ``query_sub``; strict ``<`` over the
    ascending iteration == ``ORDER BY dm, seed_id`` rn=1
    (kmeans_lloyd_step's convention). ``cw_of(s)`` extracts the
    codeword array from a struct element. Returns
    struct(sid, dm, sub) with the winning codeword riding the
    accumulator (cast to array<double> — exact widening) so
    reconstruction needs no lookup join."""
    none = F.struct(
        F.lit(None).cast("bigint").alias("sid"),
        F.lit(None).cast("bigint").alias("dm"),
        F.lit(None).cast("array<double>").alias("sub"),
    )

    def closer(acc, s):
        cand = cw_of(s)
        d = F.floor(euclid_spark(query_sub, cand) * 1000000).cast("bigint")
        return F.when(
            acc["dm"].isNull() | (d < acc["dm"]),
            F.struct(
                s["seed_id"].alias("sid"),
                d.alias("dm"),
                cand.cast("array<double>").alias("sub"),
            ),
        ).otherwise(acc)

    return F.aggregate(codewords, none, closer)


# shared CTE prefix of both PQ tiers: seed codewords + the seed-codebook
# assignment (which IS the Lloyd E-step the trained tier starts from)
_PQ_SEED_CTES = f"""seeds AS (
        SELECT vec_id AS seed_id, embedding AS se
        FROM embeddings WHERE vec_id < {_PQ_K}
    ),
    subassign AS (
        SELECT e.vec_id, m.m, s.seed_id,
               CAST(floor({euclid_duck(_pq_slice_duck('e.embedding', 'm.m'),
                                       _pq_slice_duck('s.se', 'm.m'))}
                          * 1000000) AS BIGINT) AS dm
        FROM embeddings e,
             unnest(range(0, {_PQ_M})) AS m(m),
             seeds s
    ),
    best AS (
        SELECT vec_id, m, seed_id,
               row_number() OVER (
                   PARTITION BY vec_id, m ORDER BY dm, seed_id
               ) AS rn
        FROM subassign
    )"""

# shared oracle tail of both PQ tiers: ADC against the reconstructed
# candidates (CTE `recon`), depth-{_PQ_RERANK_M} shortlist, exact re-rank
_PQ_TAIL = f"""q AS (
        SELECT vec_id AS qid, embedding AS qe FROM embeddings
        WHERE {_QUERY_FILTER}
    ),
    adc AS (
        SELECT q.qid, r.vec_id AS cid, q.qe,
               {cosine_duck('q.qe', 'r.re')} AS acos
        FROM q, recon r WHERE r.vec_id != q.qid
    ),
    shortlist AS (
        SELECT qid, cid, qe, acos,
               row_number() OVER (
                   PARTITION BY qid ORDER BY acos DESC, cid ASC
               ) AS arn
        FROM adc
    ),
    exact AS (
        SELECT s.qid, s.cid, round(s.acos, 6) AS approx_cosine,
               {cosine_duck('s.qe', 'c.embedding')} AS cos
        FROM shortlist s JOIN embeddings c ON c.vec_id = s.cid
        WHERE s.arn <= {_PQ_RERANK_M}
    ),
    ranked AS (
        SELECT qid, cid, approx_cosine, cos,
               row_number() OVER (
                   PARTITION BY qid ORDER BY cos DESC, cid ASC
               ) AS rn
        FROM exact
    )
    SELECT qid AS query_id, CAST(rn AS INT) AS rank, cid AS cand_id,
           round(cos, 6) AS cosine, approx_cosine
    FROM ranked WHERE rn <= {_PQ_TOPK}"""

_PQ_ORACLE = f"""
    WITH {_PQ_SEED_CTES},
    recon AS (
        SELECT b.vec_id,
               flatten(list({_pq_slice_duck('s.se', 'b.m')} ORDER BY b.m))
                   AS re
        FROM best b JOIN seeds s ON s.seed_id = b.seed_id
        WHERE b.rn = 1
        GROUP BY b.vec_id
    ),
    {_PQ_TAIL}
    """


@query("similarity_topk_pq_rerank", oracle=_PQ_ORACLE)
def similarity_topk_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval over a PRODUCT-QUANTIZED index (Jégou et
    al. 2011) — the memory tier past SQ8: each vector is encoded as 8
    codebook ids (one per 8-dim subspace, 16 entries per codebook =
    the subvectors of the 16 smallest vec_ids), i.e. ~8 BYTES per
    vector vs SQ8's 64 and fp32's 256. Stage 1 scores every query
    against the RECONSTRUCTED candidates (asymmetric distance
    computation: exact query x decoded candidate — cosine over the
    concatenated nearest-codeword subvectors) and keeps a top-32
    shortlist (depth measured against recall — see _PQ_RERANK_M);
    stage 2 re-ranks the shortlist with exact cosine over the
    full-precision vectors its candidate rows carry, emitting the
    top-3.

    Determinism: codeword assignment quantizes each subspace distance
    to micro BIGINTs with the (dm, seed_id) tie rule
    (kmeans_lloyd_step's convention) BEFORE the cross-codeword argmin;
    the winning SUBVECTOR rides in the fold accumulator, so the
    reconstruction is the concatenation both engines build from
    identical float literals — and the ADC cosine is then the
    bitwise-portable functions/vector.py fold over two identical
    arrays.

    Scale shape: the codebook folds into ONE broadcast row
    (collect_list aggregate, no driver collect); encoding is a NARROW
    per-row fold over it (8 subspaces x 16 codewords x 8-dim folds),
    fused into the scan. Stage 1 is broadcast-queries x the encoded
    scan; its rows carry the full-precision vector and its norm beside
    the reconstruction (the carry shape of every two-stage tier, see
    _shortlist_rerank), so stage 2 re-scores the O(queries x 32)
    shortlist in place — no join re-fetches it from the corpus, and
    the final window reuses the shortlist's query partitioning (2
    exchanges and 2 jobs fewer than the re-fetch shape, SCALE.md "One
    retrieval tail, round 19"). Here the codes are computed from the
    embedding column in the same scan; a store that keeps only codes
    on the scan path (the 32x IO cut at production width) would fetch
    the shortlist's fp32 rows instead. Codebooks here are seed-picked
    (deterministic); production trains them with kmeans_lloyd_step
    per subspace — same plan, better centroids.
    Reference tie: A6's tolerance match generalized; the
    compressed-index shape FAISS IVFPQ runs at billion scale."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _pq_topk(
        emb,
        _pq_seeds_row(emb),
        lambda v: F.transform(
            F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
            lambda m: _pq_nearest(
                F.col("sds"), _pq_sub(v, m), lambda s: _pq_sub(s["se"], m)
            ),
        ),
    )


def _pq_topk(emb: DataFrame, codebook: DataFrame, encode) -> DataFrame:
    """Shared plan of both PQ tiers, mirroring ``_PQ_TAIL``'s rows:
    encode every corpus vector against the broadcast one-row
    ``codebook`` (``encode(ce)`` returns the per-subspace
    :func:`_pq_nearest` structs), reconstruct it, score the broadcast
    query set against the reconstructions (ADC, the reconstruction's
    norm folded once per row) and keep a depth-``_PQ_RERANK_M``
    shortlist for the exact re-rank. The oracle re-fetches the
    shortlist's rows by join; the candidate rows here carry them,
    which yields the same rows."""
    c = (
        _side(spread(emb, "vec_id"), "c")
        .crossJoin(F.broadcast(codebook))
        .select(
            "cid",
            "ce",
            "cn",
            F.flatten(F.transform(encode(F.col("ce")), lambda x: x["sub"])).alias("re"),
        )
        .withColumn("rn", l2_spark(F.col("re")))
    )
    q = _side(emb.filter(F.expr(_QUERY_FILTER)), "q")
    acos = cosine_normed(F.col("qe"), F.col("qn"), F.col("re"), F.col("rn"))
    return _shortlist_rerank(
        _pairs(c, q).withColumn("acos", acos), _PQ_RERANK_M, _PQ_TOPK
    )


@query("similarity_pq_recall", oracle=_recall_oracle(_PQ_ORACLE))
def similarity_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the PQ + re-rank path vs the exact top-3 — the
    quality contract for the most aggressive compression tier (8-byte
    codes). Loss mechanism: a true neighbor whose reconstruction
    error pushes it below the ADC top-32. The fixture's embeddings
    are ISOTROPIC unit vectors (within-label variance == global — no
    manifold structure), the information-theoretic worst case for
    vector quantization, so the measured value (~0.5 at sf0.01) sits
    between the LSH contract (~0.07) and IVF (~0.5) rather than near
    SQ8's 1.0; real embedding corpora (intrinsic dim << 64) compress
    far better. That spread is the point of the contract family:
    quality is a measured, hash-checked number per tier — and a
    one-sided arithmetic drift fails the hash compare before it
    moves recall."""
    return _recall_of(spark, sf_dir, similarity_topk_pq_rerank)


# ----------------------- Lloyd-trained PQ codebooks (VERDICT r13 #3)

_PQ_TRAINED_ORACLE = f"""
    WITH {_PQ_SEED_CTES},
    mem AS (
        SELECT b.m, b.seed_id, CAST(t.p AS INT) AS pos,
               CAST(floor(CAST(e.embedding[CAST(b.m * {_PQ_SUBDIM} + t.p
                                                AS INT)] AS DOUBLE)
                          * 1000000 + 0.5) AS BIGINT) AS vm
        FROM best b, embeddings e, unnest(range(1, {_PQ_SUBDIM} + 1)) AS t(p)
        WHERE b.rn = 1 AND e.vec_id = b.vec_id
    ),
    upd AS (
        SELECT m, seed_id, pos, CAST(sum(vm) AS BIGINT) // count(*) AS cm
        FROM mem GROUP BY m, seed_id, pos
    ),
    grid AS (
        SELECT m.m, s.seed_id, CAST(t.p AS INT) AS pos,
               CAST(floor(CAST(s.se[CAST(m.m * {_PQ_SUBDIM} + t.p AS INT)]
                               AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS svm
        FROM unnest(range(0, {_PQ_M})) AS m(m), seeds s,
             unnest(range(1, {_PQ_SUBDIM} + 1)) AS t(p)
    ),
    cw AS (
        SELECT g.m, g.seed_id,
               list(coalesce(u.cm, g.svm) / 1000000.0 ORDER BY g.pos) AS ce
        FROM grid g LEFT JOIN upd u
          ON u.m = g.m AND u.seed_id = g.seed_id AND u.pos = g.pos
        GROUP BY g.m, g.seed_id
    ),
    tassign AS (
        SELECT e.vec_id, c.m, c.seed_id,
               CAST(floor({euclid_duck(_pq_slice_duck('e.embedding', 'c.m'),
                                       'c.ce')}
                          * 1000000) AS BIGINT) AS dm
        FROM embeddings e, cw c
    ),
    tbest AS (
        SELECT vec_id, m, seed_id,
               row_number() OVER (
                   PARTITION BY vec_id, m ORDER BY dm, seed_id
               ) AS rn
        FROM tassign
    ),
    recon AS (
        SELECT b.vec_id, flatten(list(c.ce ORDER BY b.m)) AS re
        FROM tbest b JOIN cw c ON c.m = b.m AND c.seed_id = b.seed_id
        WHERE b.rn = 1
        GROUP BY b.vec_id
    ),
    {_PQ_TAIL}
    """


def _pq_trained_codebook(emb: DataFrame) -> DataFrame:
    """ONE-row codebook relation for the trained PQ tier: a single
    Lloyd iteration per subspace, seeded by the seed-PQ codewords.

    E-step: the seed-codebook assignment (identical arithmetic and
    (dm, seed_id) tie rule as similarity_topk_pq_rerank's encoder,
    here returning only the winning codeword id). M-step: per
    (subspace, codeword, position), the integer-micro mean
    ``sum(vm) div count(*)`` — kmeans_lloyd_step's centroid
    convention — with EMPTY cells falling back to the seed codeword's
    micro values via a left join against the full
    (subspace x codeword x position) grid, so the codebook is total
    by construction. Codewords materialize as double arrays
    (micro / 1e6 — the same IEEE division on both engines), nested
    collect_lists fold them into ONE broadcastable row
    (m -> codewords -> positions), never a driver collect.

    Scale shape: the E-step is a narrow per-row fold over the
    broadcast seeds fused into the scan; the M-step explodes to
    (rows x 64) position rows — embedding_centroid_stats' accepted
    shape — and combines map-side down to the 1,024-row
    (8 x 16 x 8) codebook relation. At 100 TB the training pass runs
    over a SAMPLE (codebooks need ~1e5 vectors, not the corpus) and
    the codebook is persisted with the codes; here it rides the
    fixture scan. More Lloyd rounds = re-running this function's
    E/M pair; one round is registered because it is the measured
    recall knee on the isotropic fixture (SCALE.md round 13/14)."""
    seeds = _pq_seeds(emb)
    seeds_row = _pq_seed_fold(seeds)

    assign_arr = F.transform(
        F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
        lambda m: F.struct(
            m.alias("m"),
            _pq_nearest(
                F.col("sds"),
                _pq_sub(F.col("embedding"), m),
                lambda s: _pq_sub(s["se"], m),
            )["sid"].alias("sid"),
        ),
    )
    mem = (
        emb.crossJoin(F.broadcast(seeds_row))
        .select("embedding", F.explode(assign_arr).alias("a"))
        .select(
            F.col("a.m").alias("m"),
            F.col("a.sid").alias("seed_id"),
            F.posexplode(_pq_sub(F.col("embedding"), F.col("a.m"))).alias(
                "pos", "v"
            ),
        )
        .select(
            "m",
            "seed_id",
            "pos",
            _micro(F.col("v")).alias("vm"),
        )
    )
    upd = mem.groupBy("m", "seed_id", "pos").agg(
        F.expr("sum(vm) div count(*)").alias("cm")
    )
    grid = seeds.select(
        "seed_id", F.posexplode("se").alias("gpos", "v")
    ).select(
        F.expr(f"gpos div {_PQ_SUBDIM}").cast("int").alias("m"),
        "seed_id",
        F.expr(f"gpos % {_PQ_SUBDIM}").cast("int").alias("pos"),
        _micro(F.col("v")).alias("svm"),
    )
    cwords = (
        grid.join(upd, ["m", "seed_id", "pos"], "left")
        .select("m", "seed_id", "pos", F.coalesce("cm", "svm").alias("cm"))
        .groupBy("m", "seed_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cm"))),
                lambda s: s["cm"].cast("double") / F.lit(1000000.0),
            ).alias("ce")
        )
    )
    return (
        cwords.groupBy("m")
        .agg(F.array_sort(F.collect_list(F.struct("seed_id", "ce"))).alias("cws"))
        .agg(F.array_sort(F.collect_list(F.struct("m", "cws"))).alias("cbs"))
    )


@query("similarity_topk_pq_trained", oracle=_PQ_TRAINED_ORACLE)
def similarity_topk_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ tier with TRAINED codebooks — similarity_topk_pq_rerank
    with one per-subspace Lloyd iteration (k-means, the standard PQ
    training loop: Jégou et al. 2011 train to convergence; FAISS
    defaults to 25 iterations) folded in via _pq_trained_codebook.
    Everything downstream is byte-for-byte the seed tier's machinery:
    the same (dm, seed_id)-tied encoder fold over the broadcast
    codebook (now carrying trained codewords), the same
    ADC -> depth-32 shortlist -> exact re-rank tail
    (_pq_topk, whose rows are _PQ_TAIL's).

    Why it exists: the quality ledger's weakest rung. On the
    worst-case isotropic fixture the seed codebooks hold recall@3
    ~0.5; ONE Lloyd round lifts the same plan to ~0.7
    (similarity_pq_trained_recall pins the number per scale) at
    IDENTICAL query-time cost — the codebook is still 16 codewords
    per subspace, still one broadcast row, and the scan-side 32x IO
    cut is unchanged. Training cost is one extra corpus pass (a
    sample at production scale). Reference tie: A6's match-quality
    discipline (src/prediction_producer.py:314-325) — accuracy is a
    measured contract, and this is the measured way to buy more of
    it without touching query cost.

    The trained codebook is session-memoized (r17 optimization,
    guide §1.2): it is ONE row, and production trains a codebook
    once and serves every query from it — re-running the E/M
    training pass per consumer (this row, its recall contract, every
    re-invocation) bought nothing. Same lifecycle as the
    recall_exact_topk memo; drain_session releases it."""
    from ..functions.materialize import memo_checkpoint

    emb = load_table(spark, sf_dir, "embeddings")
    cb = memo_checkpoint(
        spark,
        ("pq_trained_codebook", os.path.realpath(sf_dir)),
        lambda: _pq_trained_codebook(emb),
    )
    return _pq_topk(
        emb,
        cb,
        lambda v: F.transform(
            F.col("cbs"),
            lambda mc: _pq_nearest(mc["cws"], _pq_sub(v, mc["m"]), lambda s: s["ce"]),
        ),
    )


@query(
    "similarity_pq_trained_recall",
    oracle=_recall_oracle(_PQ_TRAINED_ORACLE),
)
def similarity_pq_trained_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the TRAINED-codebook PQ path vs the exact top-3 —
    the contract that justifies the training pass: side by side with
    similarity_pq_recall (seed codebooks, same depth-32 shortlist,
    same fixture) it turns 'training helps' into two hash-checked
    numbers (~0.5 seed -> ~0.7 trained on the isotropic worst case).
    A regression in the Lloyd step (assignment tie rule, empty-cell
    fallback, micro-mean arithmetic) moves recall on one engine only
    and fails the hash compare before it moves the ledger."""
    return _recall_of(spark, sf_dir, similarity_topk_pq_trained)


# ------------------------------- dimension-truncation (MRL) re-rank

_MRL_DIM = 32      # prefix dims scanned (64 -> 32: 2x IO cut untrained;
# Matryoshka-TRAINED embeddings concentrate information in the prefix,
# so production runs 4-8x truncation at the same recall)
_MRL_RERANK_M = 32  # prefix-stage shortlist per query
_MRL_TOPK = 3

_MRL_ORACLE = f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qe,
               list_slice(embedding, 1, {_MRL_DIM}) AS qt
        FROM embeddings WHERE {_QUERY_FILTER}
    ),
    approx AS (
        SELECT q.qid, c.vec_id AS cid, q.qe, c.embedding AS ce,
               {cosine_duck('q.qt', f'list_slice(c.embedding, 1, {_MRL_DIM})')}
                   AS acos
        FROM q, embeddings c WHERE c.vec_id != q.qid
    ),
    shortlist AS (
        SELECT qid, cid, qe, ce, acos,
               row_number() OVER (
                   PARTITION BY qid ORDER BY acos DESC, cid ASC
               ) AS arn
        FROM approx
    ),
    exact AS (
        SELECT qid, cid, round(acos, 6) AS approx_cosine,
               {cosine_duck('qe', 'ce')} AS cos
        FROM shortlist WHERE arn <= {_MRL_RERANK_M}
    ),
    ranked AS (
        SELECT qid, cid, approx_cosine, cos,
               row_number() OVER (
                   PARTITION BY qid ORDER BY cos DESC, cid ASC
               ) AS rn
        FROM exact
    )
    SELECT qid AS query_id, CAST(rn AS INT) AS rank, cid AS cand_id,
           round(cos, 6) AS cosine, approx_cosine
    FROM ranked WHERE rn <= {_MRL_TOPK}
    """


@query("similarity_topk_mrl_rerank", oracle=_MRL_ORACLE)
def similarity_topk_mrl_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval by DIMENSION TRUNCATION (Matryoshka
    representation learning, Kusupati et al. 2022) — the third
    compression tier beside SQ8 (scalar) and PQ (product): stage 1
    ranks by cosine over only the first 32 of 64 dims (at production
    the column store reads half the bytes; MRL-trained embeddings
    front-load information so real deployments truncate 4-8x), keeps
    a top-32 shortlist; stage 2 re-ranks the shortlist with
    full-dimension cosine and emits the top-3.

    No quantization step at all — the approx score is the same
    bitwise-portable cosine fold over a prefix slice, so cross-engine
    equality needs no fixed-point scaffolding. Plan shape is the SQ8
    one: truncation is a narrow slice fused into the scan, where each
    row's prefix norm and full norm are folded once; broadcast-queries
    x corpus scan whose rows carry the full vector into the shortlist;
    exact folds only on O(queries x 32) shortlist rows."""
    emb = load_table(spark, sf_dir, "embeddings")

    def prefix(p):
        t = F.slice("embedding", 1, _MRL_DIM)
        return t.alias(p + "t"), l2_spark(t).alias(p + "tn")

    c = _side(spread(emb, "vec_id"), "c", *prefix("c"))
    q = _side(emb.filter(F.expr(_QUERY_FILTER)), "q", *prefix("q"))
    acos = cosine_normed(F.col("qt"), F.col("qtn"), F.col("ct"), F.col("ctn"))
    return _shortlist_rerank(
        _pairs(c, q).withColumn("acos", acos), _MRL_RERANK_M, _MRL_TOPK
    )


@query("similarity_mrl_recall", oracle=_recall_oracle(_MRL_ORACLE))
def similarity_mrl_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the truncated-prefix + re-rank path vs the exact
    top-3 — completes the per-tier quality ledger: on the isotropic
    fixture (prefix dims carry exactly half the information — the
    untrained worst case) this measures ~0.77 at sf0.01, vs SQ8 ~1.0,
    PQ ~0.5, IVF ~0.5, LSH ~0.07. Matryoshka-trained embeddings exist
    precisely to move this number to ~1.0 at deeper truncation."""
    return _recall_of(spark, sf_dir, similarity_topk_mrl_rerank)


# ------------------------------------------- hard-negative mining

_HN_PLANES = 4  # 16 buckets — coarser than search LSH on purpose: the
# miner WANTS many same-bucket semi-similar candidates per anchor
_HN_DUP_CM = 900_000_000  # floor(cos * 1e9) at dedup's near-dup
# threshold (plans/dedup.py::_COSINE_NEARDUP = 0.9, restated locally —
# dedup imports this module, so importing back would cycle)

_HN_ORACLE = f"""
    WITH sigs AS (
        SELECT vec_id, embedding,
               {hyperplane_sig_duck('embedding', range(_HN_PLANES))} AS sig
        FROM embeddings
    ),
    pairs AS (
        SELECT a.vec_id AS va, b.vec_id AS vb,
               CAST(floor({cosine_duck('a.embedding', 'b.embedding')}
                          * 1000000000) AS BIGINT) AS cm
        FROM sigs a JOIN sigs b
          ON a.sig = b.sig AND a.vec_id != b.vec_id
    ),
    neg AS (
        SELECT va, vb, cm,
               row_number() OVER (
                   PARTITION BY va ORDER BY cm DESC, vb ASC
               ) AS rn,
               count(*) OVER (PARTITION BY va) AS n_candidates
        FROM pairs WHERE cm < {_HN_DUP_CM}
    )
    SELECT va AS vec_id, vb AS neg_id, cm AS hard_cos_e9,
           CAST(n_candidates AS BIGINT) AS n_candidates
    FROM neg WHERE rn = 1
    """


@query("mine_hard_negatives", oracle=_HN_ORACLE)
def mine_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (the DPR/SimCSE
    data-generation step): for every anchor vector, the MOST similar
    same-bucket neighbor that is NOT a near-duplicate — the highest
    cosine strictly below dedup's 0.9 threshold, tie-broken to the
    smallest neighbor id. Dedup wants these pairs gone; retrieval
    training wants exactly these pairs as negatives, so the operator
    is the constructive complement of dedup_embedding_cosine over the
    same banded machinery.

    Candidates come from 4 coarse hyperplane buckets (16 cells —
    deliberately coarser than the 8-plane search LSH: the miner wants
    MANY semi-similar candidates per anchor, and the per-bucket pair
    quadratic is the documented banded trade with plane count as the
    lever). Scores quantize to nano BIGINTs (floor(cos * 1e9)) BEFORE
    any cross-row comparison, so the non-dup gate, the per-anchor
    argmax, and the emitted score are all exact integer arithmetic —
    bit-identical across engines.

    Plan shape: ONE hash exchange on the bucket key reused by both
    self-join sides (byte-identical subplans -> ReusedExchange, the
    dedup_embedding_cosine convention); the cosine fold rides behind
    an explode_outer Generate barrier so the equi join can't merge the
    gate into its condition and double-evaluate the fold (the
    decontam_semantic_embedding trap); then one partial-aggregating
    max_by exchange on the anchor. Anchors whose bucket holds only
    duplicates (or nothing) emit no row, matching the oracle. At
    100 TB the bucket count scales with the corpus (more planes), the
    per-bucket quadratic stays capped, and the output is O(corpus) —
    one training pair per anchor."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _mine_hard_negatives(emb, _HN_PLANES)


def _mine_hard_negatives(emb: DataFrame, n_planes: int) -> DataFrame:
    """The mining core over an arbitrary (vec_id, embedding) relation
    with a parameterized plane count — split out so the 10x probe can
    scale the bucket count with the corpus (the production lever)
    without touching the registered query's fixed-plane contract."""
    # the signature relation is materialized ONCE and both self-join
    # sides derive from it (each vector's norm rides along, so a
    # pair's cosine folds no norm): the repartition-for-ReusedExchange trick
    # holds on the sort-merge path but not when AQE broadcasts a side
    # — there the broadcast side re-ran the scan + hyperplane fold a
    # second time (4 parquet scans in the executed plan; r17
    # optimization, guide §1.2/§2.4). The bucket-key repartition
    # stays, so the at-scale sort-merge path still shares its one
    # exchange; pinned with the returned result, drain_session
    # releases it.
    sigs = spread(emb, "vec_id").select(
        "vec_id",
        "embedding",
        l2_spark(F.col("embedding")).alias("n"),
        hyperplane_sig_spark(F.col("embedding"), range(n_planes)).alias("sig"),
    ).localCheckpoint(eager=True)
    sigs = spread(sigs, "sig")
    from .dedup import _bucket_pairs  # dedup imports this module

    cos = cosine_normed(
        F.col("embedding_a"), F.col("n_a"), F.col("embedding_b"), F.col("n_b")
    )
    cm = F.floor(cos * 1000000000).cast("bigint")
    # 0-or-1-element thresholded array behind a Generate barrier — a
    # plain filter on a projected cm would merge into the join
    # condition and re-evaluate the cosine fold per candidate pair
    hit = F.filter(
        F.array(F.struct(cm.alias("cm"))), lambda c: c["cm"] < _HN_DUP_CM
    )
    negs = (
        _bucket_pairs(sigs, sigs, ["sig"])
        .filter(F.col("vec_id_a") != F.col("vec_id_b"))
        .select("vec_id_a", "vec_id_b", F.explode_outer(hit).alias("h"))
        .filter(F.col("h").isNotNull())
        .select("vec_id_a", F.col("vec_id_b").alias("vb"), F.col("h.cm").alias("cm"))
    )
    return (
        negs.groupBy("vec_id_a")
        .agg(
            F.max_by(
                F.struct("vb", "cm"),
                # max over (cm asc, vb desc) == argmax cm, tie -> min vb
                F.struct(F.col("cm").alias("c"), (-F.col("vb")).alias("nv")),
            ).alias("m"),
            F.count("*").cast("bigint").alias("n_candidates"),
        )
        .select(
            F.col("vec_id_a").alias("vec_id"),
            F.col("m.vb").alias("neg_id"),
            F.col("m.cm").alias("hard_cos_e9"),
            "n_candidates",
        )
    )


# ------------------------------------------------ centroid statistics


def _micro_centroid(rows: DataFrame, key: str) -> DataFrame:
    """``(key, centroid_micro)``: the dimension-parallel integer-micro
    mean of ``rows.embedding`` per ``key`` — posexplode, one
    ``sum(vm) div count(*)`` per (key, pos), then the comma-joined
    vector in pos order (a string, not array<bigint>: the result
    canonicalizer's pandas sort/hash cannot order list cells)."""
    comp = rows.select(key, F.posexplode("embedding").alias("pos", "v")).select(
        key, "pos", _micro(F.col("v")).alias("vm")
    )
    return (
        comp.groupBy(key, "pos")
        .agg(F.expr("sum(vm) div count(*)").alias("m"))
        .groupBy(key)
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"].cast("string"),
                ),
            ).alias("centroid_micro")
        )
    )


@query(
    "embedding_centroid_stats",
    oracle=f"""
    WITH comp AS (
        SELECT label, CAST(t.i AS INT) AS pos,
               CAST(floor(CAST(embedding[CAST(t.i AS INT)] AS DOUBLE)
                          * 1000000 + 0.5) AS BIGINT) AS vm
        FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    ),
    cent AS (
        SELECT label,
               string_agg(CAST(m AS VARCHAR), ',' ORDER BY pos)
                   AS centroid_micro
        FROM (
            SELECT label, pos,
                   CAST(sum(vm) AS BIGINT) // count(*) AS m
            FROM comp GROUP BY label, pos
        ) GROUP BY label
    ),
    stats AS (
        SELECT label,
               count(*) AS n_vecs,
               CAST(sum(CAST(floor({l2_duck('embedding')} * 1000000 + 0.5)
                             AS BIGINT)) AS BIGINT) // count(*)
                   AS avg_norm_micro
        FROM embeddings GROUP BY label
    )
    SELECT s.label, s.n_vecs, s.avg_norm_micro, c.centroid_micro
    FROM stats s JOIN cent c ON c.label = s.label
    """,
)
def embedding_centroid_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid + norm statistics — the corpus
    monitoring pass of a vector pipeline (drift dashboards, IVF
    coarse-quantizer seeding, per-class norm audits before cosine
    retrieval).

    Scale shape is the point: the centroid is computed DIMENSION-
    PARALLEL via posexplode -> (label, pos) partial+final average —
    the shuffle key is (label, pos), so a 1-billion-vector label is
    spread over dim-many reducers instead of hot-spotting one, and
    the map side combines each partition to one partial sum per
    (label, pos) before anything moves. The vector is reassembled
    only on the already-aggregated (label x dim) relation
    (sort_array(collect_list(struct(pos, v)))) — deterministic order
    by construction, never a collect_list over raw rows. Norm stats
    ride a separate one-exchange label aggregate joined back on the
    tiny label key.

    All cross-row aggregation is BIGINT: components (and per-row
    norms, themselves deterministic array-order folds) quantize to
    micro-units per row, then sum/div as integers — a double avg
    would sum in partition order, and Spark-vs-DuckDB ULP drift at a
    rounding boundary would flake the value hash (~640 dice rolls
    per run)."""
    e = load_table(spark, sf_dir, "embeddings")
    cent = _micro_centroid(e, "label")
    norm_micro = _micro(l2_spark(F.col("embedding")))
    stats = (
        e.groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum(norm_micro).alias("norm_sum"),
        )
        .select(
            "label",
            "n_vecs",
            F.expr("norm_sum div n_vecs").alias("avg_norm_micro"),
        )
    )
    return stats.join(cent, "label").select(
        "label", "n_vecs", "avg_norm_micro", "centroid_micro"
    )


# ------------------------------------------------- k-means (Lloyd step)

_KM_K = 8  # seeds = the k smallest vec_ids (fixed k at every SF)


@query(
    "kmeans_lloyd_step",
    oracle=f"""
    WITH seeds AS (
        SELECT vec_id AS seed_id, embedding AS se
        FROM embeddings WHERE vec_id < {_KM_K}
    ),
    dists AS (
        SELECT e.vec_id, s.seed_id, e.embedding,
               CAST(floor({euclid_duck('e.embedding', 's.se')} * 1000000)
                    AS BIGINT) AS dm
        FROM embeddings e, seeds s
    ),
    assign AS (
        SELECT vec_id, seed_id, dm, embedding,
               row_number() OVER (
                   PARTITION BY vec_id ORDER BY dm, seed_id
               ) AS rn
        FROM dists
    ),
    members AS (
        SELECT seed_id, dm, embedding FROM assign WHERE rn = 1
    ),
    comp AS (
        SELECT seed_id, CAST(t.i AS INT) AS pos,
               CAST(floor(CAST(embedding[CAST(t.i AS INT)] AS DOUBLE)
                          * 1000000 + 0.5) AS BIGINT) AS vm
        FROM members, unnest(range(1, len(embedding) + 1)) AS t(i)
    ),
    cent AS (
        SELECT seed_id,
               string_agg(CAST(m AS VARCHAR), ',' ORDER BY pos)
                   AS centroid_micro
        FROM (
            SELECT seed_id, pos, CAST(sum(vm) AS BIGINT) // count(*) AS m
            FROM comp GROUP BY seed_id, pos
        ) GROUP BY seed_id
    ),
    stats AS (
        SELECT seed_id, count(*) AS n_members,
               CAST(sum(dm) AS BIGINT) AS inertia_micro
        FROM members GROUP BY seed_id
    )
    SELECT s.seed_id AS cluster_id, s.n_members, s.inertia_micro,
           c.centroid_micro
    FROM stats s JOIN cent c ON c.seed_id = s.seed_id
    """,
)
def kmeans_lloyd_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration of k-means over the embedding corpus —
    assign every vector to its nearest of k=8 deterministic seed
    centroids (the k smallest vec_ids), then recompute each cluster's
    centroid and inertia. This is the update step behind every IVF
    coarse quantizer (similarity_topk_ivf consumes exactly such
    centroids); iterating it is k-means training at corpus scale.

    Assignment is a broadcast of k seed vectors against a streaming
    corpus scan (per-row euclid folds, deterministic array-order
    arithmetic) collapsed by a partial-aggregating ``min_by`` on the
    integer-quantized (distance, seed) key — one exchange on vec_id
    worth of candidates never materializes because the map side keeps
    only each vector's best seed. Distances are micro-quantized
    BIGINTs BEFORE any cross-row op, and the centroid recompute is
    the dimension-parallel (cluster, pos) integer aggregate of
    embedding_centroid_stats — so assignment, inertia, and centroids
    all hash bit-identically (the assignment argmin would otherwise
    ride on cross-engine float ULPs). Inertia stays in BIGINT to
    ~9e12 distance units — per-CLUSTER, so sharding the sum never
    overflows before the cluster itself is absurd."""
    e = load_table(spark, sf_dir, "embeddings")
    seeds = e.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("seed_id"), F.col("embedding").alias("se")
    )
    dm = (
        F.floor(euclid_spark(F.col("embedding"), F.col("se")) * 1000000)
        .cast("bigint")
        .alias("dm")
    )
    dists = e.crossJoin(F.broadcast(seeds)).select(
        "vec_id", "seed_id", "embedding", dm
    )
    members = (
        dists.groupBy("vec_id")
        .agg(
            F.max_by(
                F.struct("seed_id", "dm", "embedding"),
                # max_by of the NEGATED key == min_by with (dm, seed_id)
                # tie-break; struct asc ordering via negation keeps the
                # whole thing one aggregate
                F.struct((-F.col("dm")).alias("nd"), (-F.col("seed_id")).alias("ns")),
            ).alias("m")
        )
        .select(
            F.col("m.seed_id").alias("seed_id"),
            F.col("m.dm").alias("dm"),
            F.col("m.embedding").alias("embedding"),
        )
    )
    cent = _micro_centroid(members, "seed_id")
    stats = members.groupBy("seed_id").agg(
        F.count("*").alias("n_members"),
        F.sum("dm").cast("bigint").alias("inertia_micro"),
    )
    return stats.join(cent, "seed_id").select(
        F.col("seed_id").alias("cluster_id"),
        "n_members",
        "inertia_micro",
        "centroid_micro",
    )


# --------------------------------------- PCA via power iteration

_PCA_ITERS = 3
_PCA_DOWNSCALE = 10**9  # per-row contribution quantum (see docstring)


def _pca_iter_duck(k: int) -> str:
    """One unrolled power-iteration round: scores per vector against
    v{k-1}, per-dimension accumulation, double-precision norm over the
    ordered 64-vector, fixed-point renormalize back to micro units."""
    return f"""
    s{k} AS (
        SELECT x.vec_id,
               CAST(sum(x.xm * v.v) AS BIGINT) // 1000000 AS sq
        FROM xm x JOIN v{k - 1} v ON v.pos = x.pos
        GROUP BY x.vec_id
    ),
    u{k} AS (
        SELECT x.pos,
               CAST(sum((x.xm * s.sq) // {_PCA_DOWNSCALE}) AS BIGINT) AS u
        FROM xm x JOIN s{k} s ON s.vec_id = x.vec_id
        GROUP BY x.pos
    ),
    n{k} AS (
        SELECT sqrt(list_sum(list_transform(
                   list(CAST(u AS DOUBLE) ORDER BY pos),
                   z -> z * z))) AS nrm
        FROM u{k}
    ),
    v{k} AS (
        SELECT u.pos,
               CAST(floor(CAST(u.u AS DOUBLE) * 1000000 / n.nrm + 0.5)
                    AS BIGINT) AS v
        FROM u{k} u, n{k} n
    )"""


_PCA_ORACLE = (
    f"""
    WITH xm AS (
        SELECT vec_id, CAST(t.i AS INT) AS pos,
               CAST(floor(CAST(embedding[CAST(t.i AS INT)] AS DOUBLE)
                          * 1000000 + 0.5) AS BIGINT) AS xm
        FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    ),
    v0 AS (
        SELECT CAST(t.i AS INT) AS pos, CAST(125000 AS BIGINT) AS v
        FROM (SELECT 1) _x, unnest(range(1, 65)) AS t(i)
    ),"""
    + ",".join(_pca_iter_duck(k) for k in range(1, _PCA_ITERS + 1))
    + f"""
    SELECT pos, v AS loading_micro FROM v{_PCA_ITERS}
    """
)


@query("pca_power_iteration", oracle=_PCA_ORACLE)
def pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus by MATRIX-FREE
    power iteration (3 rounds of v <- normalize(X^T (X v)), uncentered)
    — distributed numerical linear algebra without ever materializing
    the 64x64 Gram matrix, the workhorse behind PCA whitening, spectral
    embedding hashing, and eigencentrality.

    Every cross-row reduction is BIGINT fixed-point: components
    quantize once to micro-units (floor(x*1e6+0.5), per-row exact);
    per-vector scores fold those against the current micro-unit v and
    rescale (div 1e6, bounded 64 * 5.3e5 * 1e6 ~ 3.4e13); per-dimension
    accumulation divides each row's contribution by 1e9 BEFORE summing,
    so a 10^14-row corpus stays under 2^63 at the cost of <= 1
    nano-unit truncation per row — a defined loss both engines share,
    not float drift. Only the per-round normalization touches doubles,
    over exactly 64 values folded in pos order (IEEE-identical on both
    engines), so three chained rounds hash bit-for-bit. The start
    vector is uniform 0.125 (unit-ish for dim 64).

    Scale shape per round: one narrow score pass (broadcast of the
    1-row v against the corpus would be ideal; here the xm relation is
    joined on pos/vec_id — dimension-parallel both ways, 64-key and
    n-key exchanges with map-side combine), then a 64-row
    re-normalization. Nothing is ever driver-collected; v rides a
    1-row broadcast DataFrame, localCheckpointed per round like the
    CC and TextRank loops."""
    from ..functions.materialize import iterate, transient

    e = load_table(spark, sf_dir, "embeddings")
    # the returned relation reads only the final v round; the quantized
    # corpus has no reader past the block
    with transient(spark) as pin:
        base = pin(
            e.select(
                "vec_id",
                F.transform("embedding", _micro).alias("em"),
            )
        )

        def step(v_df: DataFrame) -> DataFrame:
            scored = base.crossJoin(F.broadcast(v_df)).select(
                "em",
                F.aggregate(
                    F.zip_with("em", "varr", lambda x, v: x * v),
                    F.lit(0).cast("bigint"),
                    lambda acc, t: acc + t,
                ).alias("s_raw"),
            ).select("em", F.expr("s_raw div 1000000").alias("sq"))
            u = (
                scored.select(F.posexplode("em").alias("pos", "xm"), "sq")
                .groupBy("pos")
                .agg(
                    F.sum(F.expr(f"(xm * sq) div {_PCA_DOWNSCALE}"))
                    .cast("bigint")
                    .alias("u")
                )
            )
            uarr = u.groupBy().agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "u"))),
                    lambda s: s["u"],
                ).alias("uarr")
            )
            nrm = F.sqrt(
                F.aggregate(
                    F.transform("uarr", lambda z: z.cast("double") * z.cast("double")),
                    F.lit(0.0),
                    lambda acc, t: acc + t,
                )
            )
            return uarr.select(
                F.transform(
                    "uarr",
                    lambda z: F.floor(
                        z.cast("double") * 1000000 / nrm + F.lit(0.5)
                    ).cast("bigint"),
                ).alias("varr")
            )

        # v as a 1-row array DF (micro units); start = uniform 0.125
        v0 = F.array(*[F.lit(125000).cast("bigint") for _ in range(_DIM)])
        v_df = iterate(spark.range(1).select(v0.alias("varr")), step, _PCA_ITERS)
    return v_df.select(
        F.posexplode("varr").alias("pos0", "loading_micro")
    ).select((F.col("pos0") + 1).cast("int").alias("pos"), "loading_micro")
