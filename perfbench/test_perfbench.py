"""Tests of the benchmark itself: span arithmetic, the metric schema,
and an sf0.001 smoke run of every workload.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import changed_files  # noqa: E402
from tracing import SpanRecorder, covered, percentile, stream_totals  # noqa: E402
from worker import pass_layers  # noqa: E402
from workloads import END_TO_END, PER_LAYER, UNITS, WORKLOADS  # noqa: E402


def test_changed_files_sees_created_deleted_and_modified_files():
    before = {"a": (1, 10), "b": (2, 20), "c": (3, 30)}
    after = {"a": (1, 10), "b": (2, 21), "d": (4, 40)}
    assert changed_files(before, after) == ["b", "c", "d"]
    assert changed_files(before, dict(before)) == []


def test_covered_is_union_clipped_to_window():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5)
    # clipped at both ends; empty and inverted intervals count nothing
    assert covered([(-5, 2), (9, 20), (4, 4), (6, 5)], 0, 10) == pytest.approx(3)


def _tree() -> SpanRecorder:
    """query [0, 10] -> build [0, 6] -> {checkpoint [1, 3], batch [2, 5]},
    action [6, 10]; every span shares the query's id."""
    rec = SpanRecorder()
    q = rec.add("q", "query", 0.0, 10.0, None)
    rec.spans[q].qid = "p0-q"
    build = rec.add("build", "plans", 0.0, 6.0, q)
    rec.add("ck", "materialize", 1.0, 3.0, build)
    rec.add("batch", "streaming", 2.0, 5.0, build)
    rec.add("action", "plans", 6.0, 10.0, q)
    return rec


def test_self_time_subtracts_the_union_of_children():
    rec = _tree()
    # build: 6 s minus the union [1, 5] of its overlapping children
    assert rec.self_time(1) == pytest.approx(2.0)
    assert rec.self_time(0) == pytest.approx(0.0)
    assert rec.self_time(4) == pytest.approx(4.0)
    layers = rec.self_time_by_layer("p0-q")
    assert layers["plans"] == pytest.approx(6.0)
    assert layers["materialize"] == pytest.approx(2.0)
    assert layers["streaming"] == pytest.approx(3.0)
    # self times of a tree without overlapping siblings sum to the root
    rec2 = SpanRecorder()
    root = rec2.add("root", "pass", 0.0, 4.0, None)
    rec2.add("a", "plans", 0.5, 1.5, root)
    rec2.add("b", "plans", 2.0, 4.0, root)
    assert sum(rec2.self_time(i) for i in range(3)) == pytest.approx(4.0)


def test_nested_spans_record_parent_and_query_id():
    rec = SpanRecorder()
    with rec.span("q", "query", qid="p1-x") as q:
        with rec.span("build", "plans") as b:
            pass
    assert rec.spans[b].parent == q
    assert rec.spans[b].qid == "p1-x"
    assert rec.spans[q].start <= rec.spans[b].start <= rec.spans[b].end <= rec.spans[q].end


def test_innermost_picks_the_shortest_enclosing_span():
    rec = _tree()
    assert rec.innermost(2.5, 4.5, 1) == 3  # inside the batch
    assert rec.innermost(1.2, 2.8, 1) == 2  # inside the checkpoint call
    assert rec.innermost(0.1, 5.5, 1) == 1  # only the build holds it


def test_percentile_is_nearest_rank():
    assert percentile([], 0.9) == 0.0
    assert percentile([5.0], 0.9) == 5.0
    assert percentile(list(range(1, 11)), 0.9) == 9.0
    assert percentile(list(range(1, 11)), 0.5) == 5.0


def test_stream_totals_sum_phases_and_keep_final_state():
    def batch(run, bid, trig, commit, rows):
        return {"run_id": run, "batch_id": bid, "input_rows": 10,
                "duration_ms": {"triggerExecution": trig, "addBatch": trig - 10,
                                "walCommit": 5},
                "state": [{"commit_ms": commit, "rows": rows, "bytes": 2**20}]}

    out = stream_totals([batch("a", 0, 100, 7, 3), batch("a", 1, 300, 9, 4),
                         batch("b", 0, 200, 1, 10)])
    assert out["batches"] == 3
    assert out["input_rows"] == 30
    assert out["batch_p50_ms"] == 200
    assert out["addBatch_ms"] == 570
    assert out["walCommit_ms"] == 15
    assert out["commitOffsets_ms"] == 0
    assert out["state_commit_ms"] == 17
    assert out["state_rows"] == 14  # last batch of each stream
    assert out["state_mb"] == pytest.approx(2.0)
    assert stream_totals([])["batch_p90_ms"] == 0.0


def test_pass_layers_accounts_for_the_pass():
    row = {"build_s": 1.5, "action_s": 0.5, "materialize.storage_mb": 1.0}
    for phase in ("build", "action"):
        for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                  "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
                  "input_mb", "input_rows", "output_mb"):
            row[f"spark.{phase}.{k}"] = 1.0
    for k in ("checkpoint_calls", "checkpoint_s", "memo_hits", "memo_misses"):
        row[f"materialize.{k}"] = 1.0
    out = pass_layers([row, row], [], wall=4.5, drain_s=0.5, pinned=2, cores=2)
    assert out["plans.build_s"] == 3.0
    assert out["trace.accounted_share"] == pytest.approx(1.0)
    assert out["spark.busy_share"] == pytest.approx(4.0 / (4.5 * 2))
    assert out["sources.input_mb"] == 4.0
    assert out["materialize.memo_hit_ratio"] == 0.5
    assert out["streaming.batches"] == 0


# every metric the benchmark's design names, with its unit; the
# failure share and leak count are per-layer because they are 0 on a
# healthy commit, and a bound relative to 0 means nothing
NAMED = {
    "setup_s": "s", "first_pass_s": "s", "pass_s": "s", "query_geomean_s": "s",
    "pinned_storage_mb": "MB", "plans.failed_share": "ratio",
    "materialize.leaked_rdds": "count",
    "session.start_s": "s", "session.warmup_s": "s",
    "plans.build_s": "s", "plans.action_s": "s",
    "spark.busy_share": "ratio", "spark.core_scaling": "ratio",
    "sources.input_mb": "MB", "sources.input_rows": "count",
    "sources.output_mb": "MB",
    "materialize.checkpoint_calls": "count", "materialize.checkpoint_s": "s",
    "materialize.memo_hits": "count", "materialize.memo_misses": "count",
    "materialize.memo_hit_ratio": "ratio", "materialize.storage_mb": "MB",
    "materialize.drain_s": "s", "materialize.pinned_rdds": "count",
    "streaming.batches": "count", "streaming.input_rows": "count",
    "streaming.batch_p50_ms": "ms", "streaming.batch_p90_ms": "ms",
    "streaming.addBatch_ms": "ms", "streaming.walCommit_ms": "ms",
    "streaming.commitOffsets_ms": "ms", "streaming.latestOffset_ms": "ms",
    "streaming.queryPlanning_ms": "ms", "streaming.getBatch_ms": "ms",
    "streaming.state_commit_ms": "ms", "streaming.state_rows": "count",
    "streaming.state_mb": "MB", "streaming.staged_log_builds": "count",
    "trace.overhead_s": "s",
    **{f"spark.{p}.{m}": u for p in ("build", "action") for m, u in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("executor_run_s", "s"), ("executor_cpu_s", "s"),
        ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"),
        ("spill_mb", "MB"))},
}


def test_every_named_metric_has_its_unit():
    missing = {n: u for n, u in NAMED.items() if UNITS.get(n) != u}
    assert not missing


def test_benchmark_json_matches_the_schema():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert [w["why"] for w in bench["workloads"]] == [w.why for w in WORKLOADS.values()]
    assert [(m["name"], m["unit"], m["better"], m["bound"])
            for m in bench["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"], m["better"])
            for m in bench["per_layer"]] == list(PER_LAYER)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert max(bounds.values()) == bounds["setup_s"] <= 0.25


def test_workload_queries_are_registered():
    sys.path.insert(0, ROOT)
    from eye_of_sauron_spark import plans

    registered = plans.all_queries()
    for w in WORKLOADS.values():
        assert set(w.queries) <= set(registered), w.name
        assert len(set(w.queries)) == len(w.queries), w.name


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_run_at_sf0001(workload, trace):
    res = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        capture_output=True, text=True, timeout=300, cwd=ROOT)
    assert res.returncode == 0, res.stderr[-2000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0
    want = END_TO_END if not trace else PER_LAYER
    assert {n: m["unit"] for n, m in out["metrics"].items()} == {
        n: u for n, u, *_ in want}
