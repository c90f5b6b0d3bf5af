"""Round-12 additions: ADVICE fixes.

Covers
- plans/textual.py: BM25 memo eviction must NOT unpersist a stale
  entry from a previous SparkContext — RDD ids restart at 0 per
  context, so stale ids can collide with live blocks (r11 ADVICE).
- plans/dedup.py / plans/textual.py / plans/vector.py: the
  checkpoints of an iterative query are freed when a downstream step
  raises (r11 ADVICE), by functions/materialize.py alone.
"""

from __future__ import annotations

import pytest


def _n_persist(spark) -> int:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return len(list(jmap.keySet().toArray()))


def test_bm25_memo_stale_session_entry_not_unpersisted(spark):
    """A memo entry keyed by a DEAD applicationId carries RDD ids from
    the previous SparkContext; ids restart at 0 per context, so those
    ids can name LIVE blocks here — including the checkpoint the
    eviction pass just created. Eviction must drop the stale slot
    without unpersisting (r11 ADVICE, textual.py)."""
    from pyspark.sql import functions as F

    from eye_of_sauron_spark.functions.materialize import (
        _CK_MEMO,
        _persistent_ids,
        drain_session,
        memo_checkpoint,
        unpersist_ids,
    )

    drain_session(spark)
    # victim: a live checkpoint whose ids we plant in a stale slot
    before = _persistent_ids(spark)
    victim = spark.range(50).localCheckpoint(eager=True)
    victim_ids = sorted(_persistent_ids(spark) - before)
    try:
        _CK_MEMO[("dead-app-id", "bm25_postings", "old_dir")] = (
            victim,
            victim_ids,
        )
        postings = spark.range(10).select(
            F.col("id").alias("doc_id"),
            F.lit("t").alias("term"),
            F.lit(1).alias("tf"),
        )
        key = (spark.sparkContext.applicationId, "bm25_postings", "new_dir")
        ck = memo_checkpoint(spark, key[1:], lambda: postings)
        # stale slot evicted, new entry installed
        assert list(_CK_MEMO) == [key]
        # the victim's blocks must STILL be persisted — the stale
        # entry's ids belong to another context and must not be freed
        assert set(victim_ids) <= _persistent_ids(spark), (
            "stale-session memo eviction freed live blocks"
        )
        assert ck.count() == 10  # new checkpoint is readable
    finally:
        unpersist_ids(spark, victim_ids)
        for _, ids in _CK_MEMO.values():
            unpersist_ids(spark, ids)
        _CK_MEMO.clear()


def test_same_session_memo_eviction_still_frees(spark):
    """The applicationId guard must not break the r10 fix: a previous
    entry from THIS context is still unpersisted on eviction."""
    from pyspark.sql import functions as F

    from eye_of_sauron_spark.functions.materialize import (
        _CK_MEMO,
        _persistent_ids,
        drain_session,
        memo_checkpoint,
        unpersist_ids,
    )

    drain_session(spark)
    app = spark.sparkContext.applicationId
    p1 = spark.range(5).select(
        F.col("id").alias("doc_id"), F.lit("a").alias("term"), F.lit(1).alias("tf")
    )
    p2 = spark.range(7).select(
        F.col("id").alias("doc_id"), F.lit("b").alias("term"), F.lit(1).alias("tf")
    )
    try:
        memo_checkpoint(spark, ("bm25_postings", "dir1"), lambda: p1)
        (_, ids1) = _CK_MEMO[(app, "bm25_postings", "dir1")]
        memo_checkpoint(spark, ("bm25_postings", "dir2"), lambda: p2)
        assert not (set(ids1) & _persistent_ids(spark)), (
            "same-session eviction no longer frees the old corpus"
        )
        assert list(_CK_MEMO) == [(app, "bm25_postings", "dir2")]
    finally:
        for _, ids in _CK_MEMO.values():
            unpersist_ids(spark, ids)
        _CK_MEMO.clear()


def test_cluster_components_call_site_failure_frees_edges(
    spark, sf_dir, monkeypatch
):
    """If connected_components raises (non-convergence), nothing may
    stay pinned beyond the drain-hooked session memos (r11 ADVICE,
    extended for the r17 shared-pair memos: the call sites no longer
    make their own edge checkpoints — the edge lists are the
    session-memoized pipeline outputs, whose blocks the memo owns and
    drain_session releases)."""
    from eye_of_sauron_spark.functions.materialize import (
        _CK_MEMO,
        _persistent_ids,
        drain_session,
    )
    from eye_of_sauron_spark.plans import dedup

    def boom(sym, max_rounds=50):
        raise RuntimeError("planted non-convergence")

    monkeypatch.setattr(dedup, "connected_components", boom)
    # clear the component-relation memo (r14): a hit from an earlier
    # test would serve the checkpointed labels without entering the
    # build path this test plants its failure in
    drain_session(spark)
    before = _persistent_ids(spark)

    def memo_ids() -> set[int]:
        return {i for _, ids in _CK_MEMO.values() for i in ids}

    with pytest.raises(RuntimeError, match="planted non-convergence"):
        dedup.dedup_cluster_components(spark, sf_dir).write.format(
            "noop"
        ).mode("overwrite").save()
    assert _persistent_ids(spark) <= before | memo_ids(), (
        "non-memo blocks leaked on CC failure"
    )
    with pytest.raises(RuntimeError, match="planted non-convergence"):
        dedup.dedup_cluster_multimodal(spark, sf_dir).write.format(
            "noop"
        ).mode("overwrite").save()
    assert _persistent_ids(spark) <= before | memo_ids(), (
        "non-memo blocks leaked on multimodal CC failure"
    )
    # and the memos themselves are drain-released, not stranded
    drain_session(spark)
    assert _n_persist(spark) == 0


def test_drain_session_releases_result_pins(spark, sf_dir):
    """After a query's result is consumed, drain_session must release
    even the one RDD each iterative query legitimately pins (its final
    checkpoint) AND the BM25 memo's postings — leaving ZERO persistent
    RDDs — and the memoized queries must still work afterwards (the
    memo repopulates instead of handing out a freed lineage-cut
    plan)."""
    from eye_of_sauron_spark.functions.materialize import _CK_MEMO, drain_session
    from eye_of_sauron_spark.plans import textual
    from eye_of_sauron_spark.plans.dedup import dedup_cluster_components

    # consume two pinning queries: an iterative CC and the BM25 memo
    dedup_cluster_components(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    n1 = textual.search_bm25_topk(spark, sf_dir).count()
    assert _n_persist(spark) >= 2  # CC result + postings memo
    drain_session(spark)
    assert _n_persist(spark) == 0
    assert _CK_MEMO == {}
    # memoized query repopulates and returns the same result
    assert textual.search_bm25_topk(spark, sf_dir).count() == n1
    drain_session(spark)
    assert _n_persist(spark) == 0


def test_minhash_recall_contract(spark, sf_dir):
    """dedup_minhash_recall: one row per exact ground-truth pair
    (== dedup_ngram_jaccard's result set), with in_candidates true iff
    the banded LSH pass produced the pair. With 16 hashes / 8 bands
    a true j>=0.8 pair misses all bands w.p. ~(1-.64)^8 = 2.8e-4, so
    fixture recall must be exactly 1.0 — any miss here means the
    banding parameters drifted."""
    from eye_of_sauron_spark.plans import dedup

    rows = dedup.dedup_minhash_recall(spark, sf_dir).collect()
    exact_n = dedup.dedup_ngram_jaccard(spark, sf_dir).count()
    assert len(rows) == exact_n > 0
    assert all(r["jaccard"] >= 0.8 for r in rows)
    assert all(r["in_candidates"] for r in rows), (
        f"banded LSH missed {[r for r in rows if not r['in_candidates']]}"
    )
    # and the flagged set IS the LSH result set (pairwise alignment,
    # not just counts)
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.dedup_minhash_lsh(spark, sf_dir).collect()
    }
    flagged = {(r["doc_a"], r["doc_b"]) for r in rows if r["in_candidates"]}
    assert flagged <= lsh


def test_change_detect_replay_contract(spark, sf_dir):
    """stream_change_detect_replay: survivors are EXACTLY the first
    frame of each planted duplicate run (closed-form recomputation
    here, independent of the DuckDB oracle), and at least one run
    straddles a micro-batch boundary with its continuation suppressed
    — the cross-batch state-durability property the replay exists to
    drive (a detector that loses state between batches re-emits the
    boundary frame)."""
    import hashlib

    from eye_of_sauron_spark.sources import load_table
    from eye_of_sauron_spark.streaming import replay

    got = {
        (r["camera"], r["frame_num"]): r["payload_hash"]
        for r in replay.stream_change_detect_replay(spark, sf_dir).collect()
    }
    # closed-form expectation, pure python
    ev = sorted(
        r["event_id"] for r in load_table(spark, sf_dir, "events")
        .select("event_id").collect()
    )
    per_cam: dict[int, int] = {}
    expect = {}
    boundary_suppressed = 0
    run_ids: dict[int, int] = {}
    for eid in ev:
        cam = eid % replay._CD_CAMERAS
        fn = per_cam.get(cam, 0)
        per_cam[cam] = fn + 1
        if fn >= replay._CD_FRAMES:
            continue
        h32 = int(
            hashlib.md5(f"chg:{cam}:{fn}".encode()).hexdigest()[:8], 16
        )
        chg = fn == 0 or h32 % 3 == 0
        run_ids[cam] = run_ids.get(cam, 0) + (1 if chg else 0)
        if chg:
            expect[(cam, fn)] = hashlib.md5(
                f"run:{cam}:{run_ids[cam]}".encode()
            ).hexdigest()
        elif fn % replay._CD_SPAN == 0:
            # run continues across a micro-batch boundary and the
            # boundary frame must be suppressed
            boundary_suppressed += 1
    assert got == expect
    assert boundary_suppressed > 0, (
        "fixture planted no cross-batch duplicate runs — the replay "
        "no longer exercises state durability"
    )


def test_tokenizer_fidelity_probe(spark, sf_dir):
    """Pins the token-UNIT contract of the curation budgets (VERDICT
    r11 item 7): pack_sequences / text_chunking budgets are counted in
    WHITESPACE tokens (functions/text.py::tokens_spark); the BPE-ish
    regex lexer (textual._TOKEN_RX: letter runs | digit runs | single
    symbols) is the production-fidelity proxy.

    Three facts this probe keeps honest:
    1. On the synthetic fixture the two lexers agree EXACTLY (ratio
       1.0 — the documents are space-separated bare words), so every
       fixture-verified curation result is tokenizer-unit-independent.
       If a future fixture generation adds punctuation, this assert
       trips and the budget docs must be re-measured.
    2. On punctuated production-shaped text they diverge (planted
       sample here: BPE-ish > whitespace), so a production deployment
       converting a BPE token budget to this engine's unit must divide
       by the measured corpus ratio — or swap _TOKEN_RX into the
       budget expression (one-line change, same plan shape).
    3. pack_sequences' bins account for every whitespace token exactly
       once: sum(bin_tokens) per lang == total ws tokens per lang.
    """
    from pyspark.sql import functions as F

    from eye_of_sauron_spark.functions.text import tokens_spark
    from eye_of_sauron_spark.plans import curation, textual

    # (1) fixture: whitespace and BPE-ish counts coincide per lang
    counts = textual.text_token_counts(spark, sf_dir).collect()
    assert counts
    for r in counts:
        assert r["ws_tokens"] == r["re_tokens"], (
            f"fixture now tokenizes differently for {r['lang']} "
            f"(ws={r['ws_tokens']} re={r['re_tokens']}): re-measure the "
            "curation token-budget docs"
        )

    # (2) planted punctuated text: the BPE-ish lexer counts more
    planted = spark.createDataFrame(
        [("Dr. Smith's fee is $1,234.50 (invoice #42) -- re-sent!",)],
        "text STRING",
    ).select(
        F.size(tokens_spark(F.col("text"))).alias("ws"),
        F.size(
            F.regexp_extract_all("text", F.lit(textual._TOKEN_RX), F.lit(0))
        ).alias("re"),
    ).collect()[0]
    assert planted["ws"] == 9
    assert planted["re"] > planted["ws"]

    # (3) budget unit: pack bins cover each whitespace token once
    packed = {
        (r["lang"]): r["t"]
        for r in curation.pack_sequences(spark, sf_dir)
        .groupBy("lang")
        .agg(F.sum("bin_tokens").alias("t"))
        .collect()
    }
    totals = {
        r["lang"]: r["ws_tokens"] for r in counts
    }
    assert packed == totals


@pytest.mark.parametrize(
    "query, fail_at",
    [
        pytest.param("textrank_keywords", 2, id="2"),
        pytest.param("textrank_keywords", 3, id="3"),
        pytest.param("textrank_keywords", 5, id="textrank-round-2"),
        pytest.param("pca_power_iteration", 2, id="pca-round-1"),
        pytest.param("pca_power_iteration", 3, id="pca-round-2"),
    ],
)
def test_textrank_graph_checkpoint_failure_frees_prior(
    spark, sf_dir, monkeypatch, query, fail_at
):
    """If any checkpoint of an iterative query fails — TextRank's ew
    (2nd) or nodes (3rd), a loop round of TextRank or PCA — every
    checkpoint materialized before it must be freed before the raise
    propagates (r11 ADVICE, textual.py). The fault is planted in
    localCheckpoint itself, below materialize.py's primitives."""
    from eye_of_sauron_spark import plans

    df_cls = type(spark.range(1))
    real = df_cls.localCheckpoint
    calls = {"n": 0}

    def flaky(df, *args, **kwargs):
        calls["n"] += 1
        if calls["n"] == fail_at:
            raise RuntimeError("planted checkpoint failure")
        return real(df, *args, **kwargs)

    monkeypatch.setattr(df_cls, "localCheckpoint", flaky)
    before = _n_persist(spark)
    with pytest.raises(RuntimeError, match="planted checkpoint failure"):
        plans.all_queries()[query](spark, sf_dir)
    assert _n_persist(spark) == before, (
        f"{query} leaked checkpoints when checkpoint #{fail_at} failed"
    )


def _package_hits(needles, skip=()):
    """(module, needle) for every needle found in a package source
    file, the files named in ``skip`` (package-relative) excepted."""
    import os

    import eye_of_sauron_spark

    root = os.path.dirname(eye_of_sauron_spark.__file__)
    hits = []
    for dirpath, _, files in os.walk(root):
        for f in sorted(files):
            rel = os.path.relpath(os.path.join(dirpath, f), root)
            if not f.endswith(".py") or rel in skip:
                continue
            with open(os.path.join(dirpath, f), encoding="utf-8") as fh:
                text = fh.read()
            hits += [(rel, n) for n in needles if n in text]
    return hits


def test_checkpoint_lifetimes_have_one_owner():
    """functions/materialize.py is the only code that frees checkpoint
    blocks: no plan tracks ids, frees them, or hand-writes a failure
    path of its own."""
    import os

    needles = (
        "checkpoint_tracked",
        "unpersist_ids(",
        "except BaseException",
        "register_drain_hook",
    )
    owner = os.path.join("functions", "materialize.py")
    assert _package_hits(needles, skip={owner}) == []


def test_no_dormant_forks_or_test_only_helpers():
    """The package carries no code path that no registered query runs:
    no transformWithState or PIL fork, no session state-store knob, no
    rate source, no hand-rotated verification list, no per-batch
    micro-batch writer and no second bucketed-table writer."""
    import os

    needles = (
        "transformWithStateInPandas",
        "_has_protobuf",
        "state_store",
        "has_pil",
        "decode_image_real",
        "rate-micro-batch",
        "_VERIFY_FIRST",
        "write_microbatch_files(",
    )
    assert _package_hits(needles) == []
    storage = os.path.join("plans", "storage.py")
    assert _package_hits(("def write_bucketed",), skip={storage}) == []
