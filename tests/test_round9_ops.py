"""Round-9 additions: small-group sketch-contract clamp, bucketed
stateful funnel parity, and per-stream RocksDB state-store parity."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F


def test_sketch_contract_survives_tiny_groups(spark, tmp_path):
    """The r08-advice scenario: a group with n < 100 rows, where the
    q +/- 0.01 window is narrower than one discrete rank. With 3 rows
    the old bracket could flip p50_ok/p90_ok/p99_ok false; the min/max
    clamp keeps every booleans TRUE (the sketch answer is an element
    of the group, so membership bounds always hold)."""
    from eye_of_sauron_spark.plans.aggregation import sketch_quantiles_value

    path = str(tmp_path / "events.parquet")
    # third group: 120 ROWS but only 50 non-null values — count(*)
    # says "big", count(value) says "small"; the clamp must key on
    # the non-null count both percentile functions actually rank over
    pd.DataFrame(
        {
            "event_type": ["tiny"] * 3 + ["alsotiny"] * 7 + ["nullheavy"] * 120,
            "value": [1.0, 2.0, 100.0]
            + [float(i) for i in range(7)]
            + [float(i) if i < 50 else None for i in range(120)],
            "ts": pd.to_datetime(["2026-01-01"] * 130),
        }
    ).to_parquet(path)
    out = sketch_quantiles_value(spark, str(tmp_path)).collect()
    assert len(out) == 3
    for r in out:
        assert r["p50_ok"] and r["p90_ok"] and r["p99_ok"], r


def _run_funnel(spark, sf_dir, tmp_path, build, tag, conf=None):
    """Replay sf events as 8 micro-batches through a funnel operator
    (``conf``: per-stream confs for the drain) and return the full
    emitted (user_id, stage) row set."""
    from eye_of_sauron_spark.sources.tables import load_table
    from eye_of_sauron_spark.streaming.harness import (
        file_stream,
        run_to_memory,
        write_microbatch_files_partitioned,
    )
    from eye_of_sauron_spark.streaming.replay import _time_sliced

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    work = str(tmp_path / tag)
    write_microbatch_files_partitioned(_time_sliced(ev, 8), "batch", 8, f"{work}/in")
    stream = file_stream(
        spark,
        f"{work}/in",
        "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, event_type STRING",
    )
    emitted = run_to_memory(build(stream), conf=conf)
    return sorted((r["user_id"], r["stage"]) for r in emitted.collect())


def test_funnel_bucketed_matches_per_user_rowwise(spark, sf_dir, tmp_path):
    """The bucketed state layout must emit the IDENTICAL row set as
    the per-user form — not just equal per-stage counts (which the
    shared driver oracle already pins): every (user_id, stage)
    completion, each exactly once, surviving micro-batch boundaries."""
    from eye_of_sauron_spark.streaming.funnel import (
        funnel_stream,
        funnel_stream_bucketed,
    )

    per_user = _run_funnel(spark, sf_dir, tmp_path, funnel_stream, "user")
    bucketed = _run_funnel(
        spark, sf_dir, tmp_path, lambda s: funnel_stream_bucketed(s, 16), "bucket"
    )
    assert per_user == bucketed
    assert len(per_user) > 0


def test_stateful_replay_identical_under_rocksdb_state_store(
    spark, sf_dir, tmp_path
):
    """The state-store provider is an executor-capacity knob, never a
    semantics knob: the same stateful replay must emit the identical
    row set under the default heap provider and RocksDB (the 100x
    choice — state on local SSD, not executor heap; SCALE.md
    'RocksDB state-store probe'). providerClass is a runtime SQL conf
    read at stream start, so one stream picks it through the drain's
    ``conf=``, and the session's provider is restored afterwards."""
    from eye_of_sauron_spark.streaming.funnel import funnel_stream

    key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    default = spark.conf.get(key)
    assert "RocksDB" not in default
    heap = _run_funnel(spark, sf_dir, tmp_path, funnel_stream, "heap")
    rocks = _run_funnel(
        spark, sf_dir, tmp_path, funnel_stream, "rocks", conf={key: rocksdb}
    )
    assert spark.conf.get(key) == default
    assert heap == rocks
    assert len(heap) > 0


def test_span_coverage_interval_merge(spark, tmp_path):
    """dedup_span_coverage's island merge on a hand-built corpus:
    overlapping duplicated spans must count each covered token ONCE,
    and single-occurrence (unique) spans must contribute nothing.

    doc 0 and doc 1 share tokens a..i (9 tokens -> two overlapping
    8-token spans at pos 1 and 2, merged island covers 9 tokens);
    doc 2 is unique text and must report 0 coverage; doc 3 is SHORTER
    than one span (3 tokens) and exercises the sequence(1, k<1)
    count-down guard — it must still appear, with 0 coverage.
    """
    import duckdb

    from eye_of_sauron_spark.plans.decontam import _COV_SQL, dedup_span_coverage

    shared = "a b c d e f g h i"
    rows = [
        (0, shared + " unique0 tail0", "en", "src0", 0),
        (1, shared + " unique1 other1", "en", "src0", 0),
        (2, "w x y z only once here appearing solo now", "en", "src1", 0),
        (3, "too short doc", "en", "src1", 0),
    ]
    cols = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    sf = str(tmp_path / "sfcov")
    (tmp_path / "sfcov").mkdir()
    spark.createDataFrame(rows, cols).write.parquet(f"{sf}/documents.parquet")

    got = {
        r["doc_id"]: (r["n_tokens"], r["covered_tokens"], r["coverage_ppm"])
        for r in dedup_span_coverage(spark, sf).collect()
    }
    # 11 tokens/doc; 9 covered by the merged island (pos 1..9), not
    # 16 (2 spans x 8 unmerged) and not 8 (missing the second span)
    assert got[0] == (11, 9, 9 * 1_000_000 // 11)
    assert got[1] == (11, 9, 9 * 1_000_000 // 11)
    assert got[2] == (10, 0, 0)
    assert got[3] == (3, 0, 0)

    # the DuckDB oracle agrees on the same fixture
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    want = {r[0]: (r[1], r[2], r[3]) for r in con.sql(_COV_SQL).fetchall()}
    assert want == got


def test_span_rewrite_keep_first_semantics(spark, tmp_path):
    """dedup_span_rewrite: the lowest-doc_id document containing a
    duplicated span keeps its text verbatim; the others cut the
    merged island; unique and sub-span-length docs pass through."""
    import duckdb

    from eye_of_sauron_spark.plans.decontam import _REWRITE_SQL, dedup_span_rewrite

    shared = "a b c d e f g h i"
    rows = [
        (0, shared + " unique0 tail0", "en", "src0", 0),
        (1, shared + " unique1 other1", "en", "src0", 0),
        (2, "w x y z only once here appearing solo now", "en", "src1", 0),
        (3, "too short doc", "en", "src1", 0),
    ]
    cols = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    sf = str(tmp_path / "sfrw")
    (tmp_path / "sfrw").mkdir()
    spark.createDataFrame(rows, cols).write.parquet(f"{sf}/documents.parquet")

    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["text_clean"])
        for r in dedup_span_rewrite(spark, sf).collect()
    }
    assert got[0] == (11, 0, rows[0][1])          # keeper: untouched
    assert got[1] == (11, 9, "unique1 other1")    # island a..i cut once
    assert got[2] == (10, 0, rows[2][1])          # unique: untouched
    assert got[3] == (3, 0, rows[3][1])           # sub-span-length guard

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    want = {r[0]: (r[1], r[2], r[3]) for r in con.sql(_REWRITE_SQL).fetchall()}
    assert want == got


def test_late_drop_replay_scenario_not_vacuous(spark, sf_dir):
    """stream_late_drop_replay's oracle equality is only meaningful if
    the replay actually delivers rows late: the hash-routed planted
    set must be non-empty at test scale, and the emitted window
    totals must fall short of the full batch totals by exactly that
    set's size (i.e. the real watermark filter dropped them — a
    vacuous scenario or an engine that stops dropping both fail
    here)."""
    from pyspark.sql import functions as F

    from eye_of_sauron_spark.functions.hashing import hex32_spark
    from eye_of_sauron_spark.sources.tables import load_table
    from eye_of_sauron_spark.streaming.replay import (
        _LATE_MAX_ORIGIN,
        _LATE_MOD,
        _time_sliced,
        stream_late_drop_replay,
    )

    ev = load_table(spark, sf_dir, "events")
    sliced = _time_sliced(ev.select("event_id", "ts"), 8)
    is_late = (
        hex32_spark(F.concat(F.lit("late:"), F.col("event_id").cast("string")))
        % _LATE_MOD
        == 0
    ) & (F.col("batch") <= _LATE_MAX_ORIGIN)
    n_planted = sliced.filter(is_late).count()
    assert n_planted > 0

    wm_gate = ev.agg(
        F.date_trunc("day", F.max("ts") - F.expr("INTERVAL 1 HOUR")).alias("d")
    ).collect()[0]["d"]
    n_gated = ev.filter(F.col("ts") < wm_gate).count()  # rows in emitted windows
    emitted_total = (
        stream_late_drop_replay(spark, sf_dir)
        .agg(F.sum("n_events").alias("n"))
        .collect()[0]["n"]
    )
    planted_in_gated = sliced.filter(is_late & (F.col("ts") < wm_gate)).count()
    assert planted_in_gated > 0
    assert emitted_total == n_gated - planted_in_gated


def test_routed_sink_read_prunes_partitions(spark, sf_dir, tmp_path):
    """The routed sink's read side must resolve the camera filter into
    a directory-level PartitionFilter touching exactly ONE of the 8
    camera partitions — the A9 per-camera-topic guarantee on files: a
    consumer's scan cost is its partition, not the table."""
    from pyspark.sql import functions as F

    from eye_of_sauron_spark.operators.sinks import write_partitioned
    from eye_of_sauron_spark.plans.storage import _ROUTE_CAMERAS
    from eye_of_sauron_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").withColumn(
        "camera", (F.col("user_id") % _ROUTE_CAMERAS).cast("bigint")
    )
    path = str(tmp_path / "routed")
    write_partitioned(ev, path, ["camera"])

    read = spark.read.parquet(path).filter(F.col("camera") == 3)
    plan = read._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "camera" in plan, plan
    # the file index must have pruned to the single matching directory
    assert read.select("camera").distinct().count() == 1
    import os

    n_dirs = len([d for d in os.listdir(path) if d.startswith("camera=")])
    assert n_dirs == _ROUTE_CAMERAS


def test_countmin_never_undercounts_and_bounds_overcount(spark, sf_dir):
    """CMS guarantee: est >= exact always; and with d=4 rows the min
    over rows keeps the overcount well under one row's worst case
    (total_mass / w per colliding bucket). The fixture check pins the
    invariant, not the luck: every ok flag TRUE and overcount >= 0."""
    from eye_of_sauron_spark.plans.aggregation import sketch_countmin_freq

    rows = sketch_countmin_freq(spark, sf_dir).collect()
    assert rows, "top-N estimate set must be non-empty"
    for r in rows:
        assert r["ok"], r
        assert r["overcount"] == r["cm_est"] - r["exact_n"] >= 0, r


def test_countmin_plan_broadcasts_sketch_and_takeordered_topn(spark, sf_dir):
    """Scale shape: the 256-cell sketch reaches the probe join as a
    BroadcastExchange (never a shuffle join against the key table)
    and the top-N exact side is TakeOrdered, not a global sort."""
    from eye_of_sauron_spark.plans.aggregation import sketch_countmin_freq

    plan = (
        sketch_countmin_freq(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_weighted_reservoir_prefers_heavy_docs(spark, sf_dir):
    """A-ES with w = n_chars: the mean weight of the k sampled docs
    must exceed the corpus mean (length-biased inclusion), and the
    sample must be exactly k distinct docs with ranks 1..k."""
    from eye_of_sauron_spark.plans.curation import _WRS_K, sample_weighted_reservoir
    from eye_of_sauron_spark.sources import load_table

    out = sample_weighted_reservoir(spark, sf_dir).collect()
    assert len(out) == _WRS_K
    assert sorted(r["rank"] for r in out) == list(range(1, _WRS_K + 1))
    assert len({r["doc_id"] for r in out}) == _WRS_K
    corpus_mean = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("n_chars") > 0)
        .agg(F.avg("n_chars"))
        .first()[0]
    )
    sample_mean = sum(r["weight"] for r in out) / _WRS_K
    assert sample_mean > corpus_mean


def test_weighted_reservoir_plan_is_takeordered_no_shuffle(spark, sf_dir):
    """The selection must compile to TakeOrderedAndProject over the
    scan (per-partition k-heaps, no Exchange before the limit) — a
    global Sort here would be the 100 TB failure mode."""
    from eye_of_sauron_spark.plans.curation import sample_weighted_reservoir

    plan = (
        sample_weighted_reservoir(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan
