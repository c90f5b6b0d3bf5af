#!/usr/bin/env python
"""Profile the stream-replay family under harness-config variants.

The replay rows are dominated by fixed per-micro-batch machinery
(offset/commit WAL writes, state-store commits, per-batch job
scheduling), not data — BENCH_LOCAL_r14 measured ~85 s of the 184.6 s
bench in this family. This tool measures candidate levers WITHOUT
touching query code, so a before/after lands in SCALE.md with the
variant spelled out:

    python tools/replay_profile.py                 # baseline
    python tools/replay_profile.py --shm           # work dirs on /dev/shm
    python tools/replay_profile.py --shuffle-cap 4 # cap stateful shuffle
    python tools/replay_profile.py --queries stream_window_replay,...

Each query runs once cold (staging memo + codegen) then WARM_RUNS
warm; the reported number is the warm minimum (the protocol's
burst-noise guard). Prints one JSON line at the end; besides the
walls it holds, per query and for that fastest warm run, the layer
record the commit floor is read from: processes forked on the host
(the ``processes`` counter of /proc/stat, null where it is absent)
plus the benchmark's streaming totals (perfbench/tracing.py: batch
count, per-phase ``durationMs`` sums, summed
``stateOperators[*].commitTimeMs``, final state rows).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

REPLAY_MODULE = "eye_of_sauron_spark.streaming.replay"


def replay_queries() -> list[str]:
    """Every registered replay (a query defined in streaming/replay.py),
    in registration order."""
    from eye_of_sauron_spark import plans

    queries = plans.all_queries()
    return [n for n, fn in queries.items() if fn.__module__ == REPLAY_MODULE]


def _forks() -> int | None:
    """Processes forked on the host since boot (/proc/stat)."""
    try:
        with open("/proc/stat") as fh:
            for line in fh:
                if line.startswith("processes "):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--shm",
        action="store_true",
        help="work dirs on /dev/shm: Python tempfiles (TMPDIR) AND "
        "Spark's own scratch (spark.local.dir + driver java.io.tmpdir "
        "via extraJavaOptions, applied at session build — only "
        "effective when no JVM is already running)",
    )
    ap.add_argument("--shuffle-cap", type=int, default=0,
                    help="cap the state width that ephemeral_checkpoint "
                    "scopes (its width argument) at N")
    ap.add_argument("--queries", type=str, default="")
    ap.add_argument("--warm-runs", type=int, default=2)
    ap.add_argument("--sf", type=str,
                    default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf0.1"))
    args = ap.parse_args()

    shm_conf: dict[str, str] = {}
    if args.shm:
        os.environ["TMPDIR"] = "/dev/shm"
        import tempfile
        tempfile.tempdir = None  # re-resolve from env
        # also move Spark's OWN scratch (shuffle spill, state-store
        # working dirs, checkpoint tmp) — TMPDIR alone only relocates
        # Python-side tempfiles (ADVICE r15). Both confs bind at JVM
        # launch, so they only take effect when this process builds
        # the session fresh (the normal CLI case).
        os.makedirs("/dev/shm/replay_profile_local", exist_ok=True)
        # APPEND to any driver Java options supplied via
        # spark-defaults.conf / SPARK_DRIVER_JAVA_OPTS rather than
        # clobbering them (ADVICE r16)
        existing_opts = os.environ.get("SPARK_DRIVER_JAVA_OPTS", "").strip()
        defaults = os.path.join(
            os.environ.get("SPARK_CONF_DIR")
            or os.path.join(os.environ.get("SPARK_HOME", ""), "conf"),
            "spark-defaults.conf",
        )
        if os.path.isfile(defaults):
            import re

            with open(defaults) as fh:
                for line in fh:
                    # java.util.Properties accepts 'key value',
                    # 'key=value', 'key = value' and 'key:value'
                    # — handle all four (code-review r17)
                    m = re.match(
                        r"\s*spark\.driver\.extraJavaOptions\s*[=:\s]\s*(\S.*)",
                        line,
                    )
                    if m:
                        existing_opts = f"{existing_opts} {m.group(1).strip()}".strip()
        tmpdir_opt = "-Djava.io.tmpdir=/dev/shm/replay_profile_local"
        shm_conf = {
            "spark.local.dir": "/dev/shm/replay_profile_local",
            "spark.driver.extraJavaOptions":
                f"{existing_opts} {tmpdir_opt}".strip(),
        }

    from eye_of_sauron_spark.session import get_spark
    from eye_of_sauron_spark import plans
    from perfbench.tracing import BatchListener, stream_totals

    if args.shuffle_cap:
        import eye_of_sauron_spark.streaming.harness as H

        orig = H.ephemeral_checkpoint
        cap = args.shuffle_cap

        def capped(spark, checkpoint_dir, width=None, conf=None):
            return orig(spark, checkpoint_dir,
                        None if width is None else min(width, cap), conf)

        # every stream start (harness.drain_stream) resolves the scope
        # in harness
        H.ephemeral_checkpoint = capped

    names = [n for n in args.queries.split(",") if n] or replay_queries()
    spark = get_spark(extra_conf=shm_conf or None)
    listener = BatchListener()
    spark.streams.addListener(listener)
    try:
        q = plans.all_queries()
        rows: dict[str, float] = {}
        cold: dict[str, float] = {}
        layers: dict[str, dict] = {}
        for name in names:
            t0 = time.time()
            q[name](spark, args.sf).count()
            cold[name] = round(time.time() - t0, 3)
            best = float("inf")
            for _ in range(args.warm_runs):
                n_started = len(listener.started)
                f0 = _forks()
                t0 = time.time()
                q[name](spark, args.sf).count()
                dt = time.time() - t0
                f1 = _forks()
                runs = listener.started[n_started:]
                listener.settled(runs)
                run = stream_totals(listener.batches_of(runs))
                run["forks"] = None if f0 is None else f1 - f0
                if dt < best:
                    best, layers[name] = dt, run
            rows[name] = round(best, 3)
            print(f"{name:40s} cold {cold[name]:7.2f}  warm {rows[name]:7.2f}"
                  f"  forks {layers[name]['forks']}"
                  f"  state_commit {layers[name]['state_commit_ms']:.0f} ms",
                  flush=True)
        print(json.dumps({
            "variant": {"shm": args.shm, "shuffle_cap": args.shuffle_cap},
            "sf": args.sf,
            "warm_sum": round(sum(rows.values()), 2),
            "cold_sum": round(sum(cold.values()), 2),
            "rows": rows,
            "layers": layers,
        }))
    finally:
        spark.streams.removeListener(listener)
        if args.shm:
            # RAM-backed tmpfs accumulates shuffle spill across
            # repeated profiling runs — reclaim it once the JVM is
            # down, on EVERY exit path (ADVICE r16, code-review r17)
            import shutil

            spark.stop()
            shutil.rmtree("/dev/shm/replay_profile_local",
                          ignore_errors=True)


if __name__ == "__main__":
    main()
