"""Round-13 additions.

Covers
- plans/curation.py::split_group_routed — leakage-proof cluster-routed
  split: zero-straddle by construction, singleton routing identical to
  split_train_val_test, migration (n_moved) non-vacuous, independent
  python cross-check of the routing over the CC output.
- plans/curation.py::mixture_token_budget — token-budget epoch
  schedule: closed-form python contract, weight normalization bound,
  epoch/residual identity.
- plans/vector.py::similarity_topk_pq_rerank / similarity_pq_recall —
  product-quantization ANN: plan shape (no non-broadcast cartesian),
  shortlist discipline, recall-contract sanity.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from tests._scan import package_hits, package_source


# ------------------------------------------------ split_group_routed


def test_split_group_routed_zero_leakage_and_movement(spark, sf_dir):
    from eye_of_sauron_spark.plans.curation import split_group_routed

    rows = split_group_routed(spark, sf_dir).collect()
    assert {r["split"] for r in rows} == {"train", "val", "test"}
    # the whole point: routing by group key cannot straddle
    assert all(r["leaking_components"] == 0 for r in rows)
    # non-vacuous: clusters exist and at least one doc actually moved
    # relative to per-doc routing (otherwise the fixture can't tell
    # group routing from per-doc routing at all)
    assert sum(r["n_clustered"] for r in rows) > 0
    assert sum(r["n_moved"] for r in rows) > 0
    # only clustered docs may move
    for r in rows:
        assert r["n_moved"] <= r["n_clustered"]


def test_split_group_routed_python_crosscheck(spark, sf_dir):
    """Independent routing of the CC output in plain python must
    reproduce the per-split doc/moved counts (the split_leakage_neardup
    cross-check discipline, applied to the remedy)."""
    import hashlib

    from eye_of_sauron_spark.plans.curation import (
        _TRAIN_PCT,
        _VAL_PCT,
        split_group_routed,
    )
    from eye_of_sauron_spark.plans.dedup import dedup_cluster_components
    from eye_of_sauron_spark.sources import load_table

    comp = {
        r["doc_id"]: r["component"]
        for r in dedup_cluster_components(spark, sf_dir).collect()
    }
    docs = [
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents").select("doc_id").collect()
    ]

    def route(key: int) -> str:
        h = hashlib.md5(f"split:{key}".encode()).hexdigest()
        b = int(h[:8], 16) % 100
        if b < _TRAIN_PCT:
            return "train"
        if b < _TRAIN_PCT + _VAL_PCT:
            return "val"
        return "test"

    exp_docs: dict[str, int] = {"train": 0, "val": 0, "test": 0}
    exp_moved: dict[str, int] = {"train": 0, "val": 0, "test": 0}
    for d in docs:
        gk = comp.get(d, d)
        s = route(gk)
        exp_docs[s] += 1
        if s != route(d):
            exp_moved[s] += 1

    rows = {r["split"]: r for r in split_group_routed(spark, sf_dir).collect()}
    for s in ("train", "val", "test"):
        assert rows[s]["n_docs"] == exp_docs[s]
        assert rows[s]["n_moved"] == exp_moved[s]


# ----------------------------------------------- mixture_token_budget


def test_mixture_token_budget_contract(spark, sf_dir):
    """Closed-form python arithmetic over per-source token counts must
    reproduce the schedule exactly (the quality_classifier_score
    contract discipline)."""
    from eye_of_sauron_spark.functions.text import tokens_spark
    from eye_of_sauron_spark.plans.curation import (
        _BUDGET_TOKENS,
        mixture_token_budget,
    )
    from eye_of_sauron_spark.sources import load_table

    d = load_table(spark, sf_dir, "documents")
    avail = {
        r["source"]: r["t"]
        for r in d.groupBy("source")
        .agg(F.sum(F.size(tokens_spark(F.col("text")))).alias("t"))
        .collect()
    }
    sqrtm = {s: math.floor(math.sqrt(t) * 1000000) for s, t in avail.items()}
    sq_total = sum(sqrtm.values())
    rows = {r["source"]: r for r in mixture_token_budget(spark, sf_dir).collect()}
    assert set(rows) == set(avail)
    assert sum(r["weight_ppm"] for r in rows.values()) <= 1000000
    for s, r in rows.items():
        w = (sqrtm[s] * 1000000) // sq_total
        target = (_BUDGET_TOKENS * w) // 1000000
        assert r["avail_tokens"] == avail[s]
        assert r["weight_ppm"] == w
        assert r["target_tokens"] == target
        assert r["epochs"] == target // avail[s]
        assert r["residual_ppm"] == ((target % avail[s]) * 1000000) // avail[s]
        # identity: epochs * avail + residual_ppm * avail / 1e6
        # reconstructs the target to integer truncation
        recon = r["epochs"] * avail[s] + (r["residual_ppm"] * avail[s]) // 1000000
        assert 0 <= target - recon < avail[s]
    # the fixture budget must exercise the epoch arm somewhere,
    # otherwise the schedule degenerates to plain sampling
    assert any(r["epochs"] >= 1 for r in rows.values())


# ------------------------------------------------------ PQ + re-rank


def test_pq_plan_no_unbroadcast_cartesian(spark, sf_dir):
    """Stage 1 is broadcast-queries x encoded scan; stage 2 re-ranks
    the shortlist rows in place, from the full-precision vectors they
    carry, with no join back to the corpus. Nothing in the plan may be
    a non-broadcast cartesian/BNLJ — at 100 TB that would be a
    corpus x corpus catastrophe."""
    from eye_of_sauron_spark.plans.vector import similarity_topk_pq_rerank

    plan = similarity_topk_pq_rerank(
        spark, sf_dir
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    # exactly the 2 deliberate 1-row/queries-sized broadcasts (codebook
    # row x corpus for encode, query set x recon for ADC) — a join that
    # falls OUT of broadcast hash join into BNLJ would raise this
    # count (the per-line BuildLeft/BuildRight check this replaces was
    # vacuous: Spark prints a build side on every BNLJ line); one of the
    # deliberate broadcasts becoming a hash join would lower it
    assert plan.count("BroadcastNestedLoopJoin") == 2, plan


def test_vector_plans_share_one_retrieval_tail():
    """plans/vector.py builds every top-k from one ranking tail and
    every two-stage tier from one shortlist-and-rerank, and scores
    pairs from per-row norms only: no per-pair ``cosine_spark(``, one
    ``cos`` ranking window, one ``acos`` shortlist window."""
    src = package_source("plans/vector.py")
    assert src.count("cosine_spark(") == 0
    assert src.count('F.col("cos").desc()') == 1
    assert src.count('F.col("acos").desc()') == 1


def test_dedup_plans_share_one_candidate_pipeline():
    """plans/dedup.py builds every banded pass from one bucket join,
    one verify join and one Jaccard verify, scores cosines from
    per-row norms only, and keeps one exact-pairs memo: one
    ``array_intersect(``, one ``"minhash_exact_pairs"`` key, no
    per-pair ``cosine_spark(``, and none of the folded-away helpers
    or the unused ``df_cap`` parameter."""
    src = package_source("plans/dedup.py")
    assert src.count("array_intersect(") == 1
    assert src.count('"minhash_exact_pairs"') == 1
    assert src.count("cosine_spark(") == 0
    for gone in (
        "_lsh_pairs_from",
        "_minhash_lsh_pairs",
        "_semantic_cells_prune",
        "df_cap",
    ):
        assert gone not in src, gone


def test_text_plans_share_one_toolkit():
    """The text plans draw every shared stage from one owner: one
    bigram explode in textual.py (``_bigram_rows``), no hand-written
    ``row_number`` ranking in textual, curation or aggregation (they
    call ``sources.top_k``/``top_k_per``), no salted-hash key spelled
    out for either engine outside functions/hashing.py (they call
    ``keyed_hex32_spark``/``keyed_hex32_duck``), and no ``_t`` table
    wrapper anywhere in the package."""
    assert package_source("plans/textual.py").count("F.explode(bigrams") == 1
    for name in ("textual.py", "curation.py", "aggregation.py"):
        assert "F.row_number()" not in package_source(f"plans/{name}"), name
    hashing = ("functions/hashing.py",)
    # Spark: F.lit("<salt>:") ahead of a cast key
    assert package_hits(r'F\.lit\(f?"[^"]+:"\)', hashing) == {}
    # DuckDB: '<salt>:' || CAST(key AS VARCHAR) as the whole key
    assert package_hits(r"'[a-z]+:' \|\| CAST\([^)]*\)(?! \|\|)", hashing) == {}
    assert "chr(39)" not in package_source("plans/warehouse.py")
    assert package_hits(r"def _t\(") == {}


def test_pq_shortlist_and_output_shape(spark, sf_dir):
    from eye_of_sauron_spark.plans.vector import (
        _PQ_TOPK,
        similarity_topk_pq_rerank,
    )

    rows = similarity_topk_pq_rerank(spark, sf_dir).collect()
    per_q: dict[int, list] = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r)
    for qid, rs in per_q.items():
        assert len(rs) <= _PQ_TOPK
        assert sorted(r["rank"] for r in rs) == list(range(1, len(rs) + 1))
        # exact-ranked: cosine must be non-increasing with rank
        ordered = sorted(rs, key=lambda r: r["rank"])
        for a, b in zip(ordered, ordered[1:]):
            assert a["cosine"] >= b["cosine"]
        # no self-matches
        assert all(r["cand_id"] != qid for r in rs)


def test_pq_recall_contract_sane(spark, sf_dir):
    """Recall rows cover every query, values in [0,1], and the path is
    non-vacuous (some true neighbors ARE found despite the isotropic
    worst-case fixture)."""
    from eye_of_sauron_spark.plans.vector import (
        _QUERY_FILTER,
        similarity_pq_recall,
    )
    from eye_of_sauron_spark.sources import load_table

    n_queries = (
        load_table(spark, sf_dir, "embeddings").filter(F.expr(_QUERY_FILTER)).count()
    )
    rows = similarity_pq_recall(spark, sf_dir).collect()
    assert len(rows) == n_queries
    assert all(0.0 <= r["recall"] <= 1.0 for r in rows)
    assert sum(r["n_hits"] for r in rows) > 0


# ------------------------------------------------- ORC ingest path


def test_orc_roundtrip_actually_writes_orc(spark, sf_dir, tmp_path):
    """Non-vacuity for the format boundary: a silent fallback to
    parquet would still pass the checksum oracle, so pin that Spark's
    orc writer produces real .orc part files and the reader returns
    the nested array column intact."""
    from eye_of_sauron_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    dest = str(tmp_path / "emb_orc")
    emb.write.mode("overwrite").orc(dest)
    import os

    parts = [f for f in os.listdir(dest) if f.endswith(".orc")]
    assert parts, os.listdir(dest)
    back = spark.read.orc(dest)
    assert dict(back.dtypes)["embedding"] == "array<float>"
    assert back.count() == emb.count()


# ------------------------------------------- hard-negative mining


class _static_plan:
    """Disable AQE + auto-broadcast so the executed plan finalizes
    statically (ReusedExchange/SortMergeJoin visible without running
    the query) — the test_round11_ops._no_broadcast convention."""

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


def test_hard_negatives_plan_and_contract(spark, sf_dir):
    """Signatures computed once (since the r17 checkpoint, both
    self-join sides read the SAME materialized ExistingRDD — a
    stronger guarantee than the ReusedExchange this test used to pin,
    which held on the static path but not under AQE broadcast),
    cosine fold behind the Generate barrier, and the mined pairs
    honor the non-dup gate and tie rule."""
    from eye_of_sauron_spark.plans.vector import _HN_DUP_CM, mine_hard_negatives

    with _static_plan(spark):
        df = mine_hard_negatives(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
    # the hyperplane fold must NOT appear in the consumer plan at all
    # (it ran once, inside the checkpoint build), and both join sides
    # must read the materialized signature relation
    assert plan.count("Scan ExistingRDD") == 2, (
        "both self-join sides must read the signature checkpoint"
    )
    assert "CartesianProduct" not in plan
    smj = next(l for l in plan.splitlines() if "SortMergeJoin" in l)
    assert "aggregate(" not in smj and "zip_with" not in smj, (
        "cosine fold leaked into the join condition"
    )
    assert plan.count("Generate explode") == 1

    rows = mine_hard_negatives(spark, sf_dir).collect()
    assert rows, "no hard negatives mined on the fixture"
    assert all(r["hard_cos_e9"] < _HN_DUP_CM for r in rows)
    assert all(r["neg_id"] != r["vec_id"] for r in rows)
    assert all(r["n_candidates"] >= 1 for r in rows)
    # one row per anchor
    anchors = [r["vec_id"] for r in rows]
    assert len(anchors) == len(set(anchors))


def test_hard_negatives_is_bucketwise_argmax(spark, sf_dir):
    """Brute-force recompute within buckets in python: for a sample of
    anchors the mined negative must be the max-cosine non-dup
    bucket-mate with the min-id tie rule."""
    import numpy as np

    from eye_of_sauron_spark.plans.vector import (
        _HN_DUP_CM,
        _HN_PLANES,
        _plane,
        mine_hard_negatives,
    )
    from eye_of_sauron_spark.sources import load_table

    emb_rows = load_table(spark, sf_dir, "embeddings").collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb_rows}
    planes = [np.array(_plane(p), dtype=np.float64) for p in range(_HN_PLANES)]

    def sig(v):
        s = 0
        for i, pl in enumerate(planes):
            # mirror dot_spark's sequential fold order
            acc = 0.0
            for x, y in zip(v, pl):
                acc += float(x) * float(y)
            if acc > 0:
                s += 2 ** i
        return s

    buckets: dict[int, list[int]] = {}
    for vid, v in vecs.items():
        buckets.setdefault(sig(v), []).append(vid)

    mined = {r["vec_id"]: r for r in mine_hard_negatives(spark, sf_dir).collect()}
    checked = 0
    for vid in sorted(vecs)[:25]:
        mates = [m for m in buckets[sig(vecs[vid])] if m != vid]
        best = None
        n_cand = 0
        for m in mates:
            a, b = vecs[vid], vecs[m]
            cos = float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))
            cmv = math.floor(cos * 1_000_000_000)
            if cmv >= _HN_DUP_CM:
                continue
            n_cand += 1
            if best is None or (cmv, -m) > (best[1], -best[0]):
                best = (m, cmv)
        if best is None:
            assert vid not in mined
        else:
            r = mined[vid]
            assert (r["neg_id"], r["hard_cos_e9"]) == best, vid
            assert r["n_candidates"] == n_cand
            checked += 1
    assert checked > 0


# -------------------------------------- MRL truncation re-rank tier


def test_mrl_recall_between_prefix_information_bounds(spark, sf_dir):
    """Prefix truncation keeps HALF the dims of isotropic vectors, so
    recall must land clearly above the PQ tier's (8-byte codes) and
    the path must be non-vacuous; shortlist/output discipline mirrors
    the SQ8 shape."""
    from eye_of_sauron_spark.plans.vector import (
        _MRL_TOPK,
        similarity_mrl_recall,
        similarity_topk_mrl_rerank,
    )

    rows = similarity_topk_mrl_rerank(spark, sf_dir).collect()
    per_q: dict[int, list] = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r)
    for qid, rs in per_q.items():
        assert len(rs) <= _MRL_TOPK
        assert all(r["cand_id"] != qid for r in rs)
        ordered = sorted(rs, key=lambda r: r["rank"])
        for a, b in zip(ordered, ordered[1:]):
            assert a["cosine"] >= b["cosine"]

    rec = similarity_mrl_recall(spark, sf_dir).collect()
    assert rec and all(0.0 <= r["recall"] <= 1.0 for r in rec)
    assert sum(r["n_hits"] for r in rec) > 0


# --------------------------------------------- AUD1 audio windows


def test_audio_windows_wire_format_and_remainders(spark, sf_dir):
    """The decode path parses REAL bytes: cross-check one container
    against python struct from first principles, and pin that the
    fixture exercises short remainder windows (lengths are chosen
    indivisible by the stride)."""
    import struct as _struct

    from eye_of_sauron_spark.operators.multimodal import (
        _AUD_MAGIC,
        _AUD_RATE,
        _AUD_STRIDE,
        _AUD_WIN,
        encode_audio,
        multimodal_audio_windows,
    )
    from eye_of_sauron_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    one = encode_audio(docs.orderBy("doc_id").limit(1)).collect()[0]
    b = bytes(one["audio"])
    assert b[:4] == _AUD_MAGIC
    rate, ch, n = _struct.unpack(">HHH", b[4:10])
    assert (rate, ch) == (_AUD_RATE, 1)
    assert len(b) == 10 + 2 * n
    samples = _struct.unpack(f"<{n}h", b[10:])
    did = one["doc_id"]
    for i, s in enumerate(samples):
        q = did * 31 + i * 17 + (did + i) * (did + i) * 7
        assert s == (q % 65536) - 32768, i

    rows = multimodal_audio_windows(spark, sf_dir).collect()
    assert rows
    assert all(1 <= r["n_samples"] <= _AUD_WIN for r in rows)
    # EVERY doc's final window is a short remainder (lengths chosen so
    # n - 16 is never a stride multiple)
    last = {}
    for r in rows:
        cur = last.get(r["doc_id"])
        if cur is None or r["window_idx"] > cur[0]:
            last[r["doc_id"]] = (r["window_idx"], r["n_samples"])
    assert all(n < _AUD_WIN for _, n in last.values())
    assert all(0 <= r["peak"] <= 32768 for r in rows)
    # per-doc window count matches the chunking formula
    per_doc: dict[int, int] = {}
    for r in rows:
        per_doc[r["doc_id"]] = max(per_doc.get(r["doc_id"], 0), r["window_idx"] + 1)
    for did2, n_w in per_doc.items():
        n2 = 21 + (did2 % 5) * 10
        exp = max(0, -(-(n2 - _AUD_WIN) // _AUD_STRIDE)) + 1
        assert n_w == exp, did2
