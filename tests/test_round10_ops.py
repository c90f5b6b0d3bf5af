"""Round-10 additions: the all-NULL-group sketch-contract
short-circuit (r09 ADVICE), plus the BM25 evidence package and the
observe()-metrics replay."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_sketch_contract_all_null_group(spark, tmp_path):
    """A group whose value column is ENTIRELY NULL has nothing to
    rank: n_vals=0, NULL vmin/vmax, NULL percentile_approx. The old
    bracket evaluated p*_ok to NULL there, mismatching the oracle's
    constant TRUE; the short-circuit makes the contract hold
    vacuously (r09 ADVICE, aggregation.py)."""
    import duckdb

    from eye_of_sauron_spark.plans.aggregation import sketch_quantiles_value
    from eye_of_sauron_spark.plans.registry import get

    path = str(tmp_path / "events.parquet")
    pd.DataFrame(
        {
            "event_type": ["allnull"] * 40 + ["normal"] * 200,
            "value": [None] * 40 + [float(i) for i in range(200)],
            "ts": pd.to_datetime(["2026-01-01"] * 240),
        }
    ).to_parquet(path)
    rows = {
        r["event_type"]: r for r in sketch_quantiles_value(spark, str(tmp_path)).collect()
    }
    assert len(rows) == 2
    for et, r in rows.items():
        assert r["p50_ok"] is True and r["p90_ok"] is True and r["p99_ok"] is True, r
    # and the DuckDB oracle agrees on the same fixture
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
    oracle = {
        r[0]: r
        for r in con.execute(get("sketch_quantiles_value").oracle).fetchall()
    }
    assert set(oracle) == set(rows)
    for et in oracle:
        assert oracle[et][1] == rows[et]["n_events"]


def test_observe_metrics_replay_dense_batches(spark, sf_dir):
    """The A8 driver query's rows must come out DENSE (batch 0..n-1,
    no gaps even if an empty flush batch lands on the listener bus)
    and account for every input row exactly once — the listener-side
    equivalent of delivery accounting. The value/hash parity with the
    closed-form octile oracle is the generic oracle test's job."""
    from eye_of_sauron_spark.sources.tables import load_table
    from eye_of_sauron_spark.streaming.replay import (
        stream_observe_metrics_replay,
    )

    out = stream_observe_metrics_replay(spark, sf_dir).collect()
    assert [r["batch"] for r in sorted(out, key=lambda r: r["batch"])] == list(
        range(len(out))
    )
    assert 2 <= len(out) <= 8
    total = load_table(spark, sf_dir, "events").count()
    assert sum(r["n_rows"] for r in out) == total
    assert all(r["latency_pos"] for r in out)
    assert all(r["min_ts_us"] <= r["max_ts_us"] for r in out)


def test_metrics_listener_custom_observation_name():
    """MetricsListener(observation=...) keys observedMetrics lookup
    by the given name (default stays OBSERVATION)."""
    from eye_of_sauron_spark.streaming.metrics import (
        OBSERVATION,
        MetricsListener,
    )

    assert MetricsListener().observation == OBSERVATION
    assert MetricsListener("replay_obs").observation == "replay_obs"


# ------------------------------------------------ BM25 evidence package


def test_bm25_postings_plan(spark, sf_dir):
    """The postings seek must compile as: term filter BETWEEN the
    explode and the aggregation (only query-term occurrences cross
    the wire), exactly ONE doc_id exchange, and the n_chars gate
    pushed into the parquet scan."""
    import re

    from eye_of_sauron_spark.functions.text import tokens_spark
    from eye_of_sauron_spark.plans.textual import _bm25_postings
    from eye_of_sauron_spark.sources import load_table

    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("n_chars") > 0)
        .select("doc_id", tokens_spark(F.col("text")).alias("toks"))
    )
    plan = _bm25_postings(d)._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning\(doc_id", plan)) == 1
    assert "Exchange hashpartitioning(term" not in plan
    # filter sits above the Generate(explode) and below the exchange
    filt = plan.index("Filter term")
    assert "dup,vector,merge" in plan[filt : filt + 120]
    assert plan.index("Generate explode") > filt > plan.index("Exchange hashpartitioning(doc_id")
    assert "PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,0)]" in plan


def test_bm25_final_plan_reads_materialized_postings(spark, sf_dir):
    """After the postings materialize (localCheckpoint), the final
    plan may contain exactly ONE parquet scan — the 1-row stats
    branch. A second documents scan means Catalyst recompiled the
    corpus-sized explode for the df broadcast (the shape the
    materialization exists to prevent). df/stats broadcast; the
    selection is TakeOrderedAndProject, never a global Sort."""
    from eye_of_sauron_spark.plans.textual import search_bm25_topk

    df = search_bm25_topk(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1
    assert "documents.parquet" in plan  # ... and it is the stats branch
    assert plan.count("Scan ExistingRDD") == 2  # df + per-doc readers
    assert plan.count("BroadcastExchange") == 2  # 3-row df, 1-row stats
    assert "TakeOrderedAndProject" in plan
    assert "Sort [score_e6" not in plan


def test_bm25_ppm_boundary_determinism(spark, tmp_path):
    """Scores are ppm BIGINTs, so ranking is integer selection: a
    1-ppm score gap and an exact score tie are both STABLE across
    engines and runs. Fixture: clones (identical tf/dl -> bit-equal
    doubles -> equal e6, rank decided by the doc_id tiebreak) plus a
    dl ladder (adjacent docs differ by one filler token -> ppm-scale
    score deltas). Spark must match DuckDB exactly, twice (the
    second run rebuilds the postings checkpoint from scratch)."""
    import sys

    sys.path.insert(0, "tests")
    from _oracle import compare

    import duckdb

    from eye_of_sauron_spark.plans.registry import get
    from eye_of_sauron_spark.plans.textual import search_bm25_topk

    rows = []
    # 4 exact clones: same text -> identical scores, doc_id tiebreak
    for i in range(4):
        rows.append((i, "dup dup vector " + "pad " * 10))
    # dl ladder: one extra filler token per doc -> adjacent scores
    # differ at ppm scale (the rounding boundary under test)
    for i in range(4, 40):
        rows.append((i, "dup merge " + "pad " * (5 + i)))
    # background docs so df < n and idf is nondegenerate
    for i in range(40, 120):
        rows.append((i, "filler text only " + "pad " * (i % 7)))
    pdf = pd.DataFrame(
        {"doc_id": [r[0] for r in rows], "text": [r[1].strip() for r in rows]}
    )
    pdf["n_chars"] = pdf["text"].str.len()
    path = str(tmp_path / "documents.parquet")
    pdf.to_parquet(path)

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    oracle = get("search_bm25_topk").oracle
    first = search_bm25_topk(spark, str(tmp_path))
    compare(first, con, oracle)
    out = first.collect()
    # the clone block must appear tie-broken by doc_id, ranks adjacent
    clone_ranks = sorted(r["rank"] for r in out if r["doc_id"] < 4)
    clone_ids = [r["doc_id"] for r in sorted(out, key=lambda r: r["rank"]) if r["doc_id"] < 4]
    assert clone_ids == sorted(clone_ids)
    assert clone_ranks == list(range(min(clone_ranks), min(clone_ranks) + len(clone_ranks)))
    # run 2: fresh checkpoint, identical rows
    second = search_bm25_topk(spark, str(tmp_path))
    assert sorted(map(tuple, second.collect())) == sorted(map(tuple, out))


# --------------------------------------------- hybrid RRF retrieval


def test_hybrid_rrf_fusion_arithmetic(spark, sf_dir):
    """The fused score must be EXACTLY the sum of integer
    floor(1e9/(k0+rank)) contributions of whichever branch ranks are
    present — recomputed independently here — with dense output
    ranks and (rrf_ppb desc, doc_id asc) ordering. Branch-rank
    parity with DuckDB is the generic oracle test's job."""
    from eye_of_sauron_spark.plans.textual import (
        _RRF_K0,
        _RRF_TOPK,
        search_hybrid_rrf,
    )

    out = sorted(search_hybrid_rrf(spark, sf_dir).collect(), key=lambda r: r["rank"])
    assert [r["rank"] for r in out] == list(range(1, len(out) + 1))
    assert len(out) == _RRF_TOPK
    prev = None
    for r in out:
        expect = sum(
            1_000_000_000 // (_RRF_K0 + rk)
            for rk in (r["lex_rank"], r["vec_rank"])
            if rk is not None
        )
        assert r["rrf_ppb"] == expect, r
        assert r["lex_rank"] is not None or r["vec_rank"] is not None
        if prev is not None:
            assert (prev["rrf_ppb"], -prev["doc_id"]) >= (r["rrf_ppb"], -r["doc_id"])
        prev = r


def test_hybrid_rrf_plan_shape(spark, sf_dir):
    """Each branch's depth-k selection and the final top-k must all
    compile to TakeOrderedAndProject (3 total — never a global
    Sort), and the single-row query vector must broadcast, not
    cartesian-join."""
    from eye_of_sauron_spark.plans.textual import search_hybrid_rrf

    df = search_hybrid_rrf(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("TakeOrderedAndProject") == 3
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_semantic_decontam_closed_form_and_planted(spark, sf_dir, tmp_path):
    """Two contracts for decontam_semantic_embedding:

    1. Closed form on a synthetic corpus: a train vector identical to
       an eval vector is flagged at cosine 1.0 against exactly that
       eval item; an orthogonal train vector is not flagged; eval
       items never appear in the output.
    2. Non-vacuity + planted-signal guarantee on the real fixture:
       every original/drifted-copy pair that straddles the hash-routed
       eval split puts its TRAIN member in the flagged set (the
       planted contamination the operator exists to catch).
    """
    import hashlib

    import numpy as np
    import pandas as pd

    from eye_of_sauron_spark.plans.decontam import (
        _SEM_EVAL_MOD,
        decontam_semantic_embedding,
    )

    def is_eval(vid: int) -> bool:
        h = hashlib.md5(f"sev:{vid}".encode()).hexdigest()[:8]
        return int(h, 16) % _SEM_EVAL_MOD == 0

    # --- 1. synthetic closed form (ids chosen off the %5==0 drift
    # path so the corpus is exactly the three written rows)
    from itertools import count, islice

    ev = next(i for i in count(1) if is_eval(i) and i % 5)
    tr_same, tr_orth = islice(
        (j for j in count(1) if not is_eval(j) and j % 5 and j != ev), 2
    )
    base = np.zeros(64, dtype=np.float32)
    base[0] = 1.0
    orth = np.zeros(64, dtype=np.float32)
    orth[1] = 1.0
    pd.DataFrame(
        {
            "vec_id": np.array([ev, tr_same, tr_orth], dtype=np.int64),
            "embedding": [base, base.copy(), orth],
            "label": np.array([0, 1, 2], dtype=np.int32),
        }
    ).to_parquet(str(tmp_path / "embeddings.parquet"))
    out = {
        r["train_vec"]: r
        for r in decontam_semantic_embedding(spark, str(tmp_path)).collect()
    }
    assert set(out) == {tr_same}
    assert out[tr_same]["matched_eval"] == ev
    assert out[tr_same]["cosine"] == 1.0

    # --- 2. real fixture: planted straddling pairs are all caught
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    planted_train = set()
    for vid in emb.vec_id[emb.vec_id % 5 == 0]:
        o, c = int(vid), int(vid) + 1_000_000
        if is_eval(o) != is_eval(c):
            planted_train.add(c if is_eval(o) else o)
    flagged = {
        r["train_vec"]
        for r in decontam_semantic_embedding(spark, sf_dir).collect()
    }
    assert planted_train, "fixture must plant at least one straddling pair"
    assert planted_train <= flagged
    # eval items never leak into the train-side verdict
    assert not any(is_eval(v) for v in flagged)


def test_semantic_decontam_plan_shape(spark, sf_dir):
    """The verdict must be a map-side-only scan: ONE broadcast
    nested-loop join against the single-row eval array (no cartesian
    product, no shuffle join, no window), exactly one corpus-side
    hashpartitioning exchange (the key-free spread), and the argmax
    fold evaluated ONCE — behind the Generate barrier, never inlined
    into the join condition."""
    from eye_of_sauron_spark.plans.decontam import decontam_semantic_embedding

    df = decontam_semantic_embedding(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    bnlj = next(l for l in plan.splitlines() if "BroadcastNestedLoopJoin" in l)
    # r11: the argmax is an aggregate() running max (was array_sort)
    assert "aggregate(" not in bnlj and "array_sort" not in bnlj, (
        "argmax fold leaked into the join condition"
    )
    assert plan.count("Generate explode") == 1
    # corpus branch: exactly the parallelism spread, no keyed shuffle
    assert plan.count("REPARTITION_BY_NUM") == 1


def _exec_final_plan(df):
    """Execute df via collect() and return (final physical plan node,
    plan string) — metrics are only populated on the Dataset's own
    QueryExecution, not on a fresh one from a write command."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    try:
        final = plan.executedPlan()  # unwrap AdaptiveSparkPlanExec
    except Exception:
        final = plan
    return final, final.toString()


def _walk_metrics(node, cls_substr, wanted):
    """Collect {metric: value} dicts from every plan node whose class
    name contains cls_substr (descends into AQE query stages)."""
    out = []
    if cls_substr in node.getClass().getSimpleName():
        row = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() in wanted:
                row[kv._1()] = kv._2().value()
        out.append(row)
    ch = node.children().iterator()
    while ch.hasNext():
        out += _walk_metrics(ch.next(), cls_substr, wanted)
    try:  # QueryStageExec / ReusedExchange wrap their subtree in .plan()
        out += _walk_metrics(node.plan(), cls_substr, wanted)
    except Exception:
        pass
    return out


def test_runtime_bloom_filter_prunes_probe_shuffle(spark, sf_dir):
    """session.py enables runtime bloom-filter injection; this pins
    that the lever actually FIRES: on a shuffled lineitem-orders join
    with a selective creation side, Catalyst must inject a
    might_contain(bloom) filter on the probe side BELOW its exchange,
    and the measured shuffleRecordsWritten must drop to ~the exact
    semi-join cardinality (the minimum any shuffled join must move)
    instead of the full probe table. Thresholds are lowered only
    because the local fixture is tiny — at 100 TB the defaults (10 GB
    probe-side scan) fire on their own."""
    from pyspark.sql import functions as F

    from eye_of_sauron_spark.sources import load_table

    conf = spark.conf
    keys = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "1KB",
    }
    saved = {k: conf.get(k) for k in keys}

    def build():
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        return (
            li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )

    li = load_table(spark, sf_dir, "lineitem")
    n_li = li.count()
    n_semi = li.join(
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey"),
        F.col("l_orderkey") == F.col("o_orderkey"),
        "left_semi",
    ).count()
    try:
        for k, v in keys.items():
            conf.set(k, v)
        final, s = _exec_final_plan(build())
        assert "might_contain" in s, "bloom filter was not injected"
        on = _walk_metrics(final, "ShuffleExchange", ("shuffleRecordsWritten",))
        conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
        final_off, s_off = _exec_final_plan(build())
        assert "might_contain" not in s_off
        off = _walk_metrics(
            final_off, "ShuffleExchange", ("shuffleRecordsWritten",)
        )
    finally:
        conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        for k, v in saved.items():
            conf.set(k, v)
    probe_on = max(m["shuffleRecordsWritten"] for m in on)
    probe_off = max(m["shuffleRecordsWritten"] for m in off)
    # without the bloom, the whole probe table crosses the wire
    assert probe_off == n_li
    # with it, ~only the true matches do (small bloom FP allowance)
    assert n_semi <= probe_on <= n_semi * 1.05 + 100, (probe_on, n_semi)


def test_dynamic_partition_pruning_prunes_fact_scan(spark, sf_dir, tmp_path):
    """Partition-pruning's RUNTIME form: a filter on a NON-join dim
    column (so no static constant propagation can pre-prune) must
    still reach the partitioned fact scan as a
    dynamicpruningexpression, and the executed scan must read exactly
    the partitions the dim filter selects — 1 of 5 here. This is the
    routed-sink layout's query-side payoff when the partition keys
    come from a JOIN instead of a literal predicate (the literal case
    is pinned by routed_sink_pruned_read)."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from eye_of_sauron_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    ev.write.partitionBy("event_type").mode("overwrite").parquet(
        str(tmp_path / "fact")
    )
    types = sorted(r[0] for r in ev.select("event_type").distinct().collect())
    assert len(types) == 5
    spark.createDataFrame(
        [Row(event_type=t, tier=(1 if t == types[0] else 0)) for t in types]
    ).write.mode("overwrite").parquet(str(tmp_path / "dim"))
    fact = spark.read.parquet(str(tmp_path / "fact"))
    dim = spark.read.parquet(str(tmp_path / "dim")).filter(F.col("tier") == 1)
    j = (
        fact.join(dim, "event_type")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    final, s = _exec_final_plan(j)
    assert "dynamicpruningexpression(event_type" in s
    scans = _walk_metrics(
        final, "FileSourceScan", ("numPartitions", "numOutputRows")
    )
    fact_scan = next(m for m in scans if "numPartitions" in m)
    assert fact_scan["numPartitions"] == 1
    n_kept = ev.filter(F.col("event_type") == types[0]).count()
    assert fact_scan["numOutputRows"] == n_kept


def test_split_leakage_audit_matches_cluster_routing(spark, sf_dir):
    """The audit's rows must be EXACTLY the connected components whose
    members route to >= 2 distinct splits — recomputed independently
    here from dedup_cluster_components' output plus the md5 split
    rule in plain python — with per-split member counts, the sorted
    splits csv, and the n_docs accounting all agreeing. Non-vacuous
    on the fixture (hash-split guarantees straddling pairs exist)."""
    import hashlib
    from collections import defaultdict

    from eye_of_sauron_spark.plans.curation import (
        _TRAIN_PCT,
        _VAL_PCT,
        split_leakage_neardup,
    )
    from eye_of_sauron_spark.plans.dedup import dedup_cluster_components

    def split_of(doc: int) -> str:
        b = int(hashlib.md5(f"split:{doc}".encode()).hexdigest()[:8], 16) % 100
        if b < _TRAIN_PCT:
            return "train"
        return "val" if b < _TRAIN_PCT + _VAL_PCT else "test"

    members = defaultdict(int)
    counts = defaultdict(lambda: defaultdict(int))
    for r in dedup_cluster_components(spark, sf_dir).collect():
        s = split_of(r["doc_id"])
        members[r["component"]] += 1
        counts[r["component"]][s] += 1
    expected = {c for c in members if len(counts[c]) >= 2}
    out = {
        r["component"]: r for r in split_leakage_neardup(spark, sf_dir).collect()
    }
    assert expected, "fixture must contain at least one straddling cluster"
    assert set(out) == expected
    for c, r in out.items():
        assert r["n_docs"] == members[c] >= 2
        assert r["n_train"] + r["n_val"] + r["n_test"] == r["n_docs"]
        assert (r["n_train"], r["n_val"], r["n_test"]) == (
            counts[c].get("train", 0),
            counts[c].get("val", 0),
            counts[c].get("test", 0),
        )
        assert r["splits"] == ",".join(sorted(counts[c]))
        assert r["n_splits"] == len(counts[c])
