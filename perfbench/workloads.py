"""The benchmark's workloads and its metric schema.

A workload is a fixed list of registered queries. One *pass* runs every
query of the list once, serially, in one session (a closed loop with
one client: the next query starts only after the previous result has
been fully written to the ``noop`` sink), then drains the session. The
seed only permutes the query order within each pass.

The lists are the cheapest queries that still reach each layer the
workload is meant to stress: a run has to fit a cold start, a cold
first pass, ``WARM_PASSES`` warm passes and the oracle check in under a
minute. Each workload is the bypass workload of the other: llm-curation
runs no stream, and stream-replay makes no memo call and runs no UDF.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]


# Every run does the same work: one cold first pass, then this many warm
# passes, so ``pass_s`` is a median of three samples. An odd count also
# lets a traced run order its warm passes traced, untraced, traced.
WARM_PASSES = 3


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "llm-curation",
            "vector self-joins with an MRL rerank tail, pandas-UDF "
            "inference and the cross-query postings memo",
            (
                "similarity_mrl_recall",
                "search_bm25_topk",
                "search_hybrid_rrf",
                "ml_match_first_target",
            ),
        ),
        Workload(
            "stream-replay",
            "a Kafka-shaped micro-batch replay into windowed state, where "
            "the per-batch commit protocol dominates",
            ("stream_window_replay",),
        ),
    )
}


# (name, unit, better, bound) of every end-to-end metric, printed by an
# untraced run. ``bound`` is the share of the parent's median by which
# the metric may worsen before a change counts as a regression.
END_TO_END: tuple[tuple[str, str, str, float], ...] = (
    ("setup_s", "s", "lower", 0.25),
    ("first_pass_s", "s", "lower", 0.25),
    ("pass_s", "s", "lower", 0.25),
    ("query_geomean_s", "s", "lower", 0.25),
)

_SPARK_PHASE = (
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("executor_run_s", "s"),
    ("executor_cpu_s", "s"),
    ("shuffle_read_mb", "MB"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
)

# (name, unit, better) of every per-layer metric, printed by a traced
# run as one value per workload. Times and counts are per warm pass
# (the median over traced warm passes) unless the README says otherwise.
PER_LAYER: tuple[tuple[str, str, str], ...] = (
    ("session.start_s", "s", "lower"),
    ("session.warmup_s", "s", "lower"),
    ("plans.build_s", "s", "lower"),
    ("plans.action_s", "s", "lower"),
    ("plans.failed_share", "ratio", "lower"),
    *(
        (f"spark.{p}.{m}", u, "lower")
        for p in ("build", "action")
        for m, u in _SPARK_PHASE
    ),
    ("spark.busy_share", "ratio", "higher"),
    ("spark.core_scaling", "ratio", "higher"),
    ("spark.slower_with_cores", "count", "lower"),
    ("sources.input_mb", "MB", "lower"),
    ("sources.input_rows", "count", "lower"),
    ("sources.output_mb", "MB", "lower"),
    ("materialize.checkpoint_calls", "count", "lower"),
    ("materialize.checkpoint_s", "s", "lower"),
    ("materialize.memo_hits", "count", "higher"),
    ("materialize.memo_misses", "count", "lower"),
    ("materialize.memo_hit_ratio", "ratio", "higher"),
    ("materialize.storage_mb", "MB", "lower"),
    ("pinned_storage_mb", "MB", "lower"),
    ("materialize.drain_s", "s", "lower"),
    ("materialize.pinned_rdds", "count", "lower"),
    ("materialize.leaked_rdds", "count", "lower"),
    ("streaming.batches", "count", "lower"),
    ("streaming.input_rows", "count", "lower"),
    ("streaming.batch_p50_ms", "ms", "lower"),
    ("streaming.batch_p90_ms", "ms", "lower"),
    ("streaming.addBatch_ms", "ms", "lower"),
    ("streaming.walCommit_ms", "ms", "lower"),
    ("streaming.commitOffsets_ms", "ms", "lower"),
    ("streaming.latestOffset_ms", "ms", "lower"),
    ("streaming.queryPlanning_ms", "ms", "lower"),
    ("streaming.getBatch_ms", "ms", "lower"),
    ("streaming.state_commit_ms", "ms", "lower"),
    ("streaming.state_rows", "count", "lower"),
    ("streaming.state_mb", "MB", "lower"),
    ("streaming.staged_log_builds", "count", "lower"),
    ("trace.pass_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.accounted_share", "ratio", "higher"),
)

UNITS: dict[str, str] = {
    **{n: u for n, u, _, _ in END_TO_END},
    **{n: u for n, u, _ in PER_LAYER},
}
