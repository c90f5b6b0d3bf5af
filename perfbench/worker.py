"""One benchmark run, in a fresh process started by ``run.py``.

Sets up a session (``get_spark`` plus the ``bench.py`` warmup), runs
a cold first pass and ``WARM_PASSES`` warm passes over one workload,
checks every query's result against its DuckDB oracle on the last pass
(outside the timed region), checks for leaked RDDs and live streams,
and prints one JSON line with the run's figures.

With ``--trace 1`` the warm passes run traced, untraced, traced, so the
tracing overhead is measured inside the same run and a steady drift
between passes does not bias it; one more traced pass runs on a
``local[1]`` context for the single-core baseline. Spans are written to ``--trace-out``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import random
import statistics
import sys
import time
import traceback

import pandas as pd

from tracing import (
    BatchListener,
    MaterializeProbe,
    SpanRecorder,
    persistent_ids,
    spark_phase_totals,
    stream_totals,
    batch_start_epoch,
    storage_mb,
    PHASE_FIELDS,
)
from workloads import WARM_PASSES, WORKLOADS


def _args() -> argparse.Namespace:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--trace-out", default="")
    return ap.parse_args()


def warmup(spark, sf_dir: str, cores: int) -> None:
    """The ``bench.py`` warmup: JVM/codegen and parquet footers via a
    full lineitem scan, then one pandas UDF so Python worker spawn is
    not billed to whichever UDF query runs first."""
    from pyspark.sql.functions import col, pandas_udf

    spark.read.parquet(f"{sf_dir}/lineitem.parquet").write.format("noop").mode(
        "overwrite"
    ).save()

    @pandas_udf("long")
    def _identity(s: pd.Series) -> pd.Series:
        return s

    spark.range(0, 1000, 1, cores).select(_identity(col("id"))).write.format(
        "noop"
    ).mode("overwrite").save()


def staged_log_dirs() -> set[str]:
    """Staged micro-batch logs live in the run's private TMPDIR."""
    tmp = os.environ["TMPDIR"]
    return {d for d in os.listdir(tmp) if d.startswith("staged_log_")}


class Oracle:
    """Result check for one query: the DuckDB oracle where the registry
    has one, otherwise a non-empty result whose schema matches the
    query's first-pass schema."""

    def __init__(self, sf_dir: str) -> None:
        from _oracle import duckdb_con

        from eye_of_sauron_spark import plans

        self.con = duckdb_con(sf_dir)
        self.sql = plans.all_oracles()
        self.schemas: dict[str, str] = {}

    def note_schema(self, name: str, df) -> None:
        self.schemas.setdefault(name, df.schema.simpleString())

    def check(self, name: str, df) -> str | None:
        from _oracle import compare

        try:
            if name in self.sql:
                compare(df, self.con, self.sql[name])
                return None
            if df.schema.simpleString() != self.schemas.get(name):
                return "schema differs from the first pass"
            if df.limit(1).count() == 0:
                return "empty result"
            return None
        except AssertionError as exc:
            return f"oracle mismatch: {exc}"[:500]


class Tracer:
    """Job groups per phase, the streaming listener and the
    materialize wrappers; collects per-query layer figures."""

    def __init__(self, spark, rec: SpanRecorder) -> None:
        self.spark = spark
        self.rec = rec
        self.listener = BatchListener()
        self.probe = MaterializeProbe(spark, rec)
        self.queries: list[dict] = []

    def rebind(self, spark) -> None:
        """Follow a new session (the single-core pass)."""
        self.spark = spark
        self.probe = MaterializeProbe(spark, self.rec)

    def attach(self) -> None:
        self.spark.streams.addListener(self.listener)
        self.probe.install()

    def detach(self) -> None:
        self.probe.uninstall()
        self.spark.streams.removeListener(self.listener)
        self.spark.sparkContext.setJobGroup("perfbench-idle", "")

    def group(self, qid: str, phase: str) -> None:
        g = f"perfbench-{qid}-{phase}"
        self.spark.sparkContext.setJobGroup(g, g)

    def collect(self, qid: str, name: str, spans: dict[str, int],
                n_started: int) -> dict:
        """Per-query figures, read after the query's action ended."""
        run_ids = self.listener.started[n_started:]
        if run_ids and not self.listener.settled(run_ids):
            print(f"warning: listener missed the end of {name}", file=sys.stderr)
        batches = self.listener.batches_of(run_ids)
        for b in batches:
            start = self.rec.from_epoch(batch_start_epoch(b))
            dur = b["duration_ms"].get("triggerExecution", 0) / 1e3
            self.rec.add(f"batch {b['batch_id']}", "streaming", start,
                         start + dur, spans["build"], run_id=b["run_id"])
        row = {"qid": qid, "query": name,
               "build_s": self.rec.spans[spans["build"]].duration,
               "action_s": self.rec.spans[spans["action"]].duration}
        for phase in ("build", "action"):
            extra = tuple(run_ids) if phase == "build" else ()
            tot = spark_phase_totals(self.spark, f"perfbench-{qid}-{phase}",
                                     self.rec, spans[phase], extra)
            row.update({f"spark.{phase}.{k}": v for k, v in tot.items()})
        row.update({f"streaming.{k}": v for k, v in stream_totals(batches).items()})
        row.update({f"materialize.{k}": v
                    for k, v in self.probe.totals({qid}).items()})
        row["materialize.storage_mb"] = storage_mb(self.spark)
        self.queries.append(row)
        return row


def _sum(rows: list[dict], key: str) -> float:
    return float(sum(r[key] for r in rows))


def pass_layers(rows: list[dict], batches: list[dict], wall: float,
                drain_s: float, pinned: int, cores: int) -> dict[str, float]:
    """Workload totals of one traced pass from its per-query rows and
    every micro-batch the pass ran."""
    out: dict[str, float] = {
        "plans.build_s": _sum(rows, "build_s"),
        "plans.action_s": _sum(rows, "action_s"),
        "materialize.drain_s": drain_s,
        "materialize.pinned_rdds": float(pinned),
        "materialize.storage_mb": max((r["materialize.storage_mb"] for r in rows),
                                      default=0.0),
        "trace.pass_s": wall,
    }
    for phase in ("build", "action"):
        for k in PHASE_FIELDS:
            out[f"spark.{phase}.{k}"] = _sum(rows, f"spark.{phase}.{k}")
    run_s = out["spark.build.executor_run_s"] + out["spark.action.executor_run_s"]
    out["spark.busy_share"] = run_s / (wall * cores) if wall > 0 else 0.0
    for k, short in (("input_mb", "input_mb"), ("input_rows", "input_rows"),
                     ("output_mb", "output_mb")):
        out[f"sources.{short}"] = (out.pop(f"spark.build.{k}")
                                   + out.pop(f"spark.action.{k}"))
    for k in ("checkpoint_calls", "checkpoint_s", "memo_hits", "memo_misses"):
        out[f"materialize.{k}"] = _sum(rows, f"materialize.{k}")
    calls = out["materialize.memo_hits"] + out["materialize.memo_misses"]
    out["materialize.memo_hit_ratio"] = (
        out["materialize.memo_hits"] / calls if calls else 0.0)
    out.update({f"streaming.{k}": v for k, v in stream_totals(batches).items()})
    acct = out["plans.build_s"] + out["plans.action_s"] + drain_s
    out["trace.accounted_share"] = acct / wall if wall > 0 else 0.0
    return out


class Run:
    def __init__(self, args: argparse.Namespace) -> None:
        from eye_of_sauron_spark import plans

        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.fns = {n: plans.all_queries()[n] for n in self.workload.queries}
        self.rec = SpanRecorder() if args.trace else None
        self.tracer: Tracer | None = None
        self.attempted = 0
        self.failures: list[dict] = []
        self.oracle: Oracle | None = None

    def run_pass(self, spark, idx: int, traced: bool, check: bool) -> dict:
        """One pass: every query once in the seed's order, then a drain.
        With ``check``, the results are checked after the last query and
        before the drain, so every result is still readable; ``wall``
        excludes the checks."""
        from eye_of_sauron_spark.functions.materialize import drain_session

        order = list(self.workload.queries)
        random.Random(f"{self.args.seed}:{idx}").shuffle(order)
        tracer = self.tracer if traced else None
        times: dict[str, float] = {}
        results = {}
        rows: list[dict] = []
        logs_before = staged_log_dirs()
        n_streams = len(tracer.listener.started) if tracer else 0
        t_pass = time.perf_counter()
        pass_span = (self.rec.span(f"pass {idx}", "pass")
                     if tracer else contextlib.nullcontext())
        with pass_span:
            for name in order:
                qid = f"p{idx}-{name}"
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    if tracer:
                        spans, n_started = {}, len(tracer.listener.started)
                        with self.rec.span(name, "query", qid=qid):
                            tracer.group(qid, "build")
                            with self.rec.span("build", "plans") as spans["build"]:
                                df = self.fns[name](spark, self.args.sf_dir)
                            tracer.group(qid, "action")
                            with self.rec.span("action", "plans") as spans["action"]:
                                df.write.format("noop").mode("overwrite").save()
                        times[name] = time.perf_counter() - t0
                        tracer.spark.sparkContext.setJobGroup("perfbench-idle", "")
                        rows.append(tracer.collect(qid, name, spans, n_started))
                    else:
                        df = self.fns[name](spark, self.args.sf_dir)
                        df.write.format("noop").mode("overwrite").save()
                        times[name] = time.perf_counter() - t0
                    self.oracle.note_schema(name, df)
                    results[name] = df
                except Exception as exc:  # noqa: BLE001 - one failed query must not end the run
                    self.fail(name, idx, f"{type(exc).__name__}: {exc}")
            c0 = time.perf_counter()
            if check:
                for name, df in results.items():
                    self.attempted += 1
                    err = self.oracle.check(name, df)
                    if err:
                        self.fail(name, idx, err)
            check_s = time.perf_counter() - c0
            pinned = len(persistent_ids(spark))
            pinned_mb = storage_mb(spark)
            c0 = time.perf_counter()
            drain_session(spark)
            drain_s = time.perf_counter() - c0
        wall = time.perf_counter() - t_pass - check_s
        out = {"idx": idx, "traced": traced, "wall": wall, "times": times,
               "check_s": check_s, "pinned_mb": pinned_mb, "drain_s": drain_s,
               "staged_log_builds": len(staged_log_dirs() - logs_before)}
        if tracer:
            batches = tracer.listener.batches_of(tracer.listener.started[n_streams:])
            out["layers"] = pass_layers(rows, batches, wall, drain_s, pinned,
                                        self.args.cores)
        return out

    def fail(self, name: str, idx: int, err: str) -> None:
        self.failures.append({"query": name, "pass": idx, "error": err[:500]})
        print(f"FAILED {name} (pass {idx}): {err[:500]}", file=sys.stderr)

    def passes(self, spark) -> list[dict]:
        """The first pass, then ``WARM_PASSES`` warm passes; the last
        one also checks every result. A traced run traces the odd warm
        passes (traced, untraced, traced), so traced and untraced passes
        have the same mean position and a steady drift cancels out of
        the overhead."""
        trace = bool(self.args.trace)
        out = [self.run_pass(spark, 0, traced=trace, check=False)]
        for i in range(1, WARM_PASSES + 1):
            out.append(self.run_pass(spark, i, traced=trace and i % 2 == 1,
                                     check=i == WARM_PASSES))
        return out


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def query_geomean(warm: list[dict], names: tuple[str, ...]) -> float:
    meds = [_median([p["times"][n] for p in warm if n in p["times"]]) for n in names]
    meds = [m for m in meds if m > 0]
    return math.exp(sum(math.log(m) for m in meds) / len(meds)) if meds else 0.0


def main() -> int:
    args = _args()
    t_spawn = float(os.environ["PERFBENCH_SPAWN_EPOCH"])
    from eye_of_sauron_spark.session import get_spark

    run = Run(args)
    spark = get_spark("perfbench")
    t_ready = time.time()
    warmup(spark, args.sf_dir, args.cores)
    t_warm = time.time()
    session = {"start_s": t_ready - t_spawn, "warmup_s": t_warm - t_ready}
    run.oracle = Oracle(args.sf_dir)

    if args.trace:
        run.tracer = Tracer(spark, run.rec)
        run.tracer.attach()
    passes = run.passes(spark)

    # leak check after the final drain (every pass ends with one)
    leaked = len(persistent_ids(spark))
    active = len(spark.streams.active)
    if active:
        run.fail("<session>", len(passes), f"{active} streams still active")

    if args.trace:
        run.tracer.detach()
        metrics = traced_layers(run, spark, passes, session, leaked)
        metrics["plans.failed_share"] = len(run.failures) / run.attempted
    else:
        warm = passes[1:]
        metrics = {
            "setup_s": session["start_s"] + session["warmup_s"],
            "first_pass_s": passes[0]["wall"],
            "pass_s": _median([p["wall"] for p in warm]),
            "query_geomean_s": query_geomean(warm, run.workload.queries),
        }
        spark.stop()
    result = {
        "attempted": run.attempted,
        "failed": len(run.failures),
        "leaked_rdds": leaked,
        "failures": run.failures,
        "session": session,
        "passes": [{k: v for k, v in p.items() if k != "layers"} for p in passes],
        "metrics": metrics,
    }
    if args.trace:
        run.rec.dump(args.trace_out, {
            "workload": args.workload, "seed": args.seed,
            "queries": run.tracer.queries, **result,
        })
    print(json.dumps(result))
    return 0


def traced_layers(run: Run, spark, passes: list[dict], session: dict,
                  leaked: int) -> dict[str, float]:
    """Per-layer metrics: medians over the traced warm passes, plus the
    set-up split, the tracing overhead and the single-core baseline."""
    warm = passes[1:]
    traced = [p for p in warm if p["traced"]]
    plain = [p for p in warm if not p["traced"]]
    keys = traced[0]["layers"].keys()
    out = {k: _median([p["layers"][k] for p in traced]) for k in keys}
    out["session.start_s"] = session["start_s"]
    out["session.warmup_s"] = session["warmup_s"]
    out["streaming.staged_log_builds"] = float(passes[0]["staged_log_builds"])
    out["trace.overhead_s"] = out["trace.pass_s"] - _median([p["wall"] for p in plain])
    out["materialize.leaked_rdds"] = float(leaked)
    out["pinned_storage_mb"] = _median([p["pinned_mb"] for p in traced])

    # single-core baseline: one traced pass on local[1], same seed
    from eye_of_sauron_spark.session import get_spark

    spark.stop()
    one = get_spark("perfbench-local1", master="local[1]")
    run.tracer.rebind(one)
    run.tracer.attach()
    p1 = run.run_pass(one, len(passes), traced=True, check=False)
    run.tracer.detach()
    ratios = {}
    for name in run.workload.queries:
        tn = _median([p["times"][name] for p in warm if name in p["times"]])
        t1 = p1["times"].get(name)
        if tn > 0 and t1:
            ratios[name] = t1 / tn
    p1["core_scaling"] = ratios
    logs = [math.log(r) for r in ratios.values()]
    out["spark.core_scaling"] = math.exp(sum(logs) / len(logs)) if logs else 0.0
    out["spark.slower_with_cores"] = float(sum(r < 1 for r in ratios.values()))
    passes.append(p1)
    left = len(persistent_ids(one))
    if left:
        run.fail("<local[1]>", p1["idx"], f"{left} RDDs left after drain")
    one.stop()
    return out


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 - report and exit non-zero, printing no result
        traceback.print_exc()
        sys.exit(1)
