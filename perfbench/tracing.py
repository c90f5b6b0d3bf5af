"""Per-layer observation of the engine from outside the package.

Everything here hooks public seams, so the package under test runs
unmodified:

- ``SpanRecorder`` keeps a span tree (pass -> query -> build/action ->
  Spark job / micro-batch / checkpoint call) in memory; spans of one
  query share a query id, and a layer's self time is its span minus the
  part of that interval its child spans cover.
- ``spark_phase_totals`` reads job, stage and task metrics for a job
  group out of the SparkContext status store.
- ``BatchListener`` is a ``StreamingQueryListener`` that records every
  micro-batch's ``durationMs`` phases and state-operator metrics.
- ``MaterializeProbe`` wraps ``DataFrame.localCheckpoint`` and the memo
  entry points so every eager checkpoint and memo hit/miss is seen.

The tracer is single-threaded by design, like the engine's driver: the
checkpoint and memo helpers it observes are documented serial-only.
"""

from __future__ import annotations

import contextlib
import json
import math
import statistics
import threading
import time
from dataclasses import asdict, dataclass, field
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

MB = 1024.0 * 1024.0

# Spark metrics summed per phase (build = the registered plan function,
# including eager checkpoints and stream drains; action = the noop write)
PHASE_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "input_mb",
    "input_rows",
    "output_mb",
)

# durationMs phases reported by Structured Streaming progress events
STREAM_PHASES = (
    "addBatch",
    "walCommit",
    "commitOffsets",
    "latestOffset",
    "queryPlanning",
    "getBatch",
)


# ------------------------------------------------------------------ spans


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    qid: str | None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class SpanRecorder:
    """In-memory span tree; ``span()`` nests by call structure and
    ``add()`` records an externally timed child (a Spark job or a
    micro-batch whose times come from the engine's own clocks)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._kids: dict[int | None, list[int]] = {}
        self._stack: list[int] = []
        # perf_counter = epoch - offset, to place engine timestamps
        self._epoch_offset = time.time() - time.perf_counter()

    @property
    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    @contextlib.contextmanager
    def span(self, name: str, layer: str, qid: str | None = None, **attrs):
        parent = self.current
        if qid is None and parent is not None:
            qid = self.spans[parent].qid
        t = time.perf_counter()
        idx = self._append(Span(name, layer, t, t, parent, qid, attrs))
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def add(self, name: str, layer: str, start: float, end: float,
            parent: int | None, **attrs) -> int:
        qid = self.spans[parent].qid if parent is not None else None
        return self._append(Span(name, layer, start, end, parent, qid, attrs))

    def _append(self, span: Span) -> int:
        self.spans.append(span)
        idx = len(self.spans) - 1
        self._kids.setdefault(span.parent, []).append(idx)
        return idx

    def innermost(self, start: float, end: float, root: int,
                  slack: float = 0.005) -> int:
        """The shortest span under ``root`` (or ``root`` itself) whose
        interval holds ``[start, end]``; ``slack`` absorbs the engine's
        millisecond clock."""
        best = root
        stack = [root]
        while stack:
            i = stack.pop()
            s = self.spans[i]
            if s.start - slack <= start and end <= s.end + slack:
                if s.duration < self.spans[best].duration:
                    best = i
                stack.extend(self.children(i))
        return best

    def from_epoch(self, epoch_s: float) -> float:
        return epoch_s - self._epoch_offset

    def children(self, idx: int) -> list[int]:
        return self._kids.get(idx, [])

    def self_time(self, idx: int) -> float:
        s = self.spans[idx]
        kids = [(self.spans[i].start, self.spans[i].end) for i in self.children(idx)]
        return s.duration - covered(kids, s.start, s.end)

    def self_time_by_layer(self, qid: str | None = None) -> dict[str, float]:
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if qid is None or s.qid == qid:
                out[s.layer] = out.get(s.layer, 0.0) + self.self_time(i)
        return out

    def dump(self, path: str, extra: dict) -> None:
        rows = [dict(asdict(s), id=i, self_s=self.self_time(i))
                for i, s in enumerate(self.spans)]
        qids = sorted({s.qid for s in self.spans if s.qid})
        by_query = {q: self.self_time_by_layer(q) for q in qids}
        with open(path, "w") as fh:
            json.dump({**extra, "self_s_by_query": by_query, "spans": rows}, fh)


# ------------------------------------------------------- Spark status store


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def spark_phase_totals(spark, group: str, rec: SpanRecorder | None = None,
                       parent: int | None = None,
                       extra_groups: tuple[str, ...] = ()) -> dict[str, float]:
    """Sum job/stage/task metrics over every job of ``group`` (and of
    ``extra_groups``: a stream's micro-batch jobs carry its runId as
    their group). Skipped stages count as neither stages nor tasks.
    With ``rec``, each job is also recorded as a span, under the
    innermost span of ``parent``'s subtree that holds it (a micro-batch
    or a checkpoint call, else ``parent`` itself)."""
    jsc = spark.sparkContext._jsc
    tracker = jsc.statusTracker()
    store = jsc.sc().statusStore()
    tot = dict.fromkeys(PHASE_FIELDS, 0.0)
    seen: set[int] = set()
    for g in (group, *extra_groups):
        for job_id in tracker.getJobIdsForGroup(g):
            tot["jobs"] += 1
            info = tracker.getJobInfo(job_id)
            if rec is not None:
                jd = store.job(job_id)
                start, end = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
                if start is not None and end is not None:
                    a, b = rec.from_epoch(start), rec.from_epoch(end)
                    rec.add(f"job {job_id}", "spark", a, b,
                            rec.innermost(a, b, parent), group=g)
            for sid in (info.stageIds() if info is not None else ()):
                if sid in seen:
                    continue
                seen.add(sid)
                sd = store.lastStageAttempt(sid)
                if str(sd.status()) == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += sd.numTasks()
                tot["executor_run_s"] += sd.executorRunTime() / 1e3
                tot["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                tot["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
                tot["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                tot["spill_mb"] += sd.diskBytesSpilled() / MB
                tot["input_mb"] += sd.inputBytes() / MB
                tot["input_rows"] += sd.inputRecords()
                tot["output_mb"] += sd.outputBytes() / MB
    return tot


def persistent_ids(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(i) for i in jmap.keySet().toArray()}


def storage_mb(spark) -> float:
    """Memory plus disk held by cached/checkpointed RDD blocks."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


# ------------------------------------------------------------- streaming


class BatchListener(StreamingQueryListener):
    """Records micro-batch progress. Query-started events arrive on
    the caller's thread before ``start()`` returns; progress and
    termination arrive later on the listener bus, so callers wait
    for ``settled()`` before reading a query's batches."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.started: list[str] = []
        self.terminated: set[str] = set()
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.started.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ops = [
            {
                "commit_ms": o.commitTimeMs,
                "rows": o.numRowsTotal,
                "bytes": o.memoryUsedBytes,
            }
            for o in p.stateOperators
        ]
        row = {
            "run_id": str(p.runId),
            "batch_id": p.batchId,
            "timestamp": p.timestamp,
            "input_rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "state": ops,
        }
        with self._lock:
            self.batches.append(row)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated.add(str(event.runId))

    def settled(self, run_ids: list[str], timeout_s: float = 10.0) -> bool:
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if all(r in self.terminated for r in run_ids):
                    return True
            time.sleep(0.01)
        return False

    def batches_of(self, run_ids: list[str]) -> list[dict]:
        with self._lock:
            return [b for b in self.batches if b["run_id"] in run_ids]


def batch_start_epoch(b: dict) -> float:
    return datetime.fromisoformat(b["timestamp"].replace("Z", "+00:00")).timestamp()


def stream_totals(batches: list[dict]) -> dict[str, float]:
    """Per-pass streaming metrics from the listener's batch records.
    State rows/bytes are taken from each stream's last batch (the state
    a stream ends with); times and rows are summed over batches."""
    trig = [b["duration_ms"].get("triggerExecution", 0) for b in batches]
    out = {
        "batches": float(len(batches)),
        "input_rows": float(sum(b["input_rows"] for b in batches)),
        "batch_p50_ms": float(statistics.median(trig)) if trig else 0.0,
        "batch_p90_ms": percentile(trig, 0.9),
    }
    for ph in STREAM_PHASES:
        out[f"{ph}_ms"] = float(sum(b["duration_ms"].get(ph, 0) for b in batches))
    out["state_commit_ms"] = float(sum(o["commit_ms"] for b in batches for o in b["state"]))
    last: dict[str, dict] = {}
    for b in batches:
        if b["run_id"] not in last or b["batch_id"] >= last[b["run_id"]]["batch_id"]:
            last[b["run_id"]] = b
    out["state_rows"] = float(sum(o["rows"] for b in last.values() for o in b["state"]))
    out["state_mb"] = sum(o["bytes"] for b in last.values() for o in b["state"]) / MB
    return out


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile; 0.0 for no samples."""
    if not values:
        return 0.0
    s = sorted(values)
    k = max(0, min(len(s) - 1, math.ceil(q * len(s)) - 1))
    return float(s[k])


# --------------------------------------------------------- materialize


class MaterializeProbe:
    """Wraps the engine's checkpoint and memo entry points.

    - ``DataFrame.localCheckpoint`` is patched on the session's concrete
      DataFrame class, so tracked, memo and raw checkpoint sites are all
      counted alike.
    - ``functions.materialize.memo_checkpoint`` and the BM25 postings
      memo in ``plans.textual`` are memo entry points: a call is a miss
      when it pins new persistent RDDs, a hit otherwise. Plans import
      these names inside their function bodies, so patched module
      attributes see every call.
    """

    def __init__(self, spark, rec: SpanRecorder) -> None:
        self.spark = spark
        self.rec = rec
        self.events: list[dict] = []
        self._saved: list[tuple[object, str, object]] = []

    def _wrap_checkpoint(self, orig):
        probe = self

        def localCheckpoint(df, *args, **kwargs):
            with probe.rec.span("localCheckpoint", "materialize") as idx:
                out = orig(df, *args, **kwargs)
            s = probe.rec.spans[idx]
            probe.events.append({"kind": "checkpoint", "qid": s.qid, "s": s.duration})
            return out

        return localCheckpoint

    def _wrap_memo(self, orig, name: str):
        probe = self

        def memo(spark, *args, **kwargs):
            before = persistent_ids(spark)
            with probe.rec.span(name, "materialize") as idx:
                out = orig(spark, *args, **kwargs)
            hit = not (persistent_ids(spark) - before)
            s = probe.rec.spans[idx]
            s.attrs["hit"] = hit
            probe.events.append({"kind": "memo", "qid": s.qid, "hit": hit, "s": s.duration})
            return out

        return memo

    def install(self) -> None:
        from eye_of_sauron_spark.functions import materialize
        from eye_of_sauron_spark.plans import textual

        df_cls = type(self.spark.range(1))
        targets = [(df_cls, "localCheckpoint", self._wrap_checkpoint)]
        targets.append((materialize, "memo_checkpoint",
                        lambda f: self._wrap_memo(f, "memo_checkpoint")))
        if hasattr(textual, "_bm25_postings_shared"):
            targets.append((textual, "_bm25_postings_shared",
                            lambda f: self._wrap_memo(f, "bm25_postings_memo")))
        for owner, attr, wrap in targets:
            orig = getattr(owner, attr)
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, wrap(orig))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    def totals(self, qids: set[str]) -> dict[str, float]:
        ev = [e for e in self.events if e["qid"] in qids]
        ck = [e for e in ev if e["kind"] == "checkpoint"]
        memo = [e for e in ev if e["kind"] == "memo"]
        hits = sum(1 for e in memo if e["hit"])
        return {
            "checkpoint_calls": float(len(ck)),
            "checkpoint_s": sum(e["s"] for e in ck),
            "memo_hits": float(hits),
            "memo_misses": float(len(memo) - hits),
            "memo_hit_ratio": hits / len(memo) if memo else 0.0,
        }

