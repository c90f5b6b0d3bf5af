#!/usr/bin/env python
"""Host-window sentinel probe (SCALE.md 'Benchmark adjudication').

Times four code-stable queries (unchanged since r09) at sf0.1 against
their all-time quiet-window bands, plus ONE checkpointed-write stream
drain against its own band. When they read above band while the guest
sits idle, the host is in a degraded window: do NOT ship or
solo-re-time a bench into it — keep probing and re-take the WHOLE
bench when the sentinels return to band (>=2/4 in-band, rest near
band, was the shipping condition of rounds 13-14). Bursts can hit a
run while its own sentinel rows stay clean, so judge a candidate run
by its MEDIAN unchanged-row ratio vs the prior shipped file too.

The IO sentinel exists because r16 proved host degradation is
TWO-SIDED and the sides move independently: runs D/E had CPU sentinel
medians of 0.985-1.070 while `kafka_decode_replay` (checkpoint/commit
bound, code untouched since r15) read 11.7-12.8 s against its 4.4-4.8
band. The CPU sentinels are scan/shuffle/agg work and cannot see
commit-IO degradation; the IO probe is an 8-batch availableNow
micro-stream (stateful count, state width 4) draining into a memory
sink through a THROWAWAY checkpoint, so its wall is almost purely the
offset-WAL/commit/state-delta file protocol — the exact path the
replay family and the memo_checkpoint writers ride (VERDICT r16 #1).

    python tools/sentinel_probe.py            # one probe
    python tools/sentinel_probe.py --loop 360 # probe forever, sleep N s
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# (query, quiet-window band in seconds: r09-r13 history at sf0.1)
BANDS = {
    "pricing_summary": (0.26, 0.33),
    "stats_acctbal_by_nation": (0.13, 0.21),
    "join_revenue_by_priority": (0.46, 0.59),
    "dedup_exact_keep_first": (0.24, 0.30),
}

# Checkpointed-write drain, warm, quiet-window band (pinned r17 —
# see SCALE.md "IO sentinel" for the calibration evidence). The drain
# is commit-protocol bound: ~2.5 s of it is 8 x (offset WAL + commit
# file + 4 state-store delta commits) plus stream start/stop. Pinned
# under Spark's default checkpoint manager; the drain now runs on the
# rename-based one (harness.ephemeral_checkpoint), so re-take the band
# in a quiet window (SCALE.md "Replay commit floor").
IO_BAND = (2.3, 3.1)

_IO_BATCHES = 8
_IO_STATE_WIDTH = 4


def io_probe(spark) -> float:
    """One timed checkpointed-write drain (seconds). SERIAL-ONLY like
    the replay family itself: run_to_memory's ephemeral_checkpoint
    scope sets the session-wide shuffle width, checksum and
    checkpoint-manager confs while it runs. run_to_memory owns the
    throwaway checkpoint dir and the memory-sink view."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from eye_of_sauron_spark.streaming import harness

    log_dir = harness.staged_microbatch_log(
        ("io_sentinel", _IO_BATCHES),
        _IO_BATCHES,
        lambda: spark.range(0, 256).select(
            (F.col("id") % _IO_BATCHES).cast("int").alias("batch"),
            (F.col("id") % _IO_STATE_WIDTH).cast("int").alias("k"),
            F.col("id").alias("v"),
        ),
    )
    schema = T.StructType(
        [
            T.StructField("k", T.IntegerType()),
            T.StructField("v", T.LongType()),
        ]
    )
    t0 = time.perf_counter()
    harness.run_to_memory(
        harness.file_stream(spark, log_dir, schema)
        .groupBy("k")
        .agg(F.count("*").alias("n")),
        mode="complete",
        width=_IO_STATE_WIDTH,
    ).collect()
    return time.perf_counter() - t0


def probe(spark, queries, sf_dir: str) -> tuple[int, bool]:
    """Returns (cpu_in_band_count, io_in_band) — BOTH sides, so a
    caller gating on the return value cannot ship into an IO burst
    the CPU count is blind to (code-review r17)."""
    in_band = 0
    for name, (lo, hi) in BANDS.items():
        ts = []
        for _ in range(4):
            t = time.perf_counter()
            queries[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            ts.append(time.perf_counter() - t)
        med = statistics.median(ts[1:])  # drop the cold sample
        ok = med <= hi * 1.15
        in_band += ok
        print(
            f"{med:6.3f}s band({lo:.2f}-{hi:.2f}) "
            f"{'IN-BAND' if ok else 'ABOVE'}  {name}",
            flush=True,
        )
    io_s = io_probe(spark)
    io_ok = io_s <= IO_BAND[1] * 1.15
    print(
        f"{io_s:6.3f}s band({IO_BAND[0]:.2f}-{IO_BAND[1]:.2f}) "
        f"{'IN-BAND' if io_ok else 'ABOVE'}  io_checkpointed_write",
        flush=True,
    )
    print(f"{in_band}/4 CPU in-band, IO {'in' if io_ok else 'ABOVE'}-band",
          flush=True)
    return in_band, io_ok


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument(
        "--loop",
        type=int,
        default=0,
        metavar="SECONDS",
        help="probe forever, sleeping N seconds between probes "
        "(default: one probe and exit)",
    )
    args = ap.parse_args()
    sleep_s = args.loop
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from eye_of_sauron_spark import plans
    from eye_of_sauron_spark.functions.materialize import drain_session
    from eye_of_sauron_spark.session import get_spark

    spark = get_spark("sentinel-probe")
    queries = plans.all_queries()
    # warm the scan path so JVM startup is not read as host noise
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").write.format(
        "noop"
    ).mode("overwrite").save()
    # warm the IO probe too: the first drain of a process pays the
    # one-time log staging + stream-machinery init (~2x warm)
    io_probe(spark)
    while True:
        print(f"=== {time.strftime('%H:%M:%S')}", flush=True)
        probe(spark, queries, sf_dir)
        if not sleep_s:
            return 0
        # hygiene: a long-lived probe loop must not accumulate session
        # state (checkpoint memos etc.) between probes (r14 ADVICE)
        drain_session(spark)
        time.sleep(sleep_s)


if __name__ == "__main__":
    raise SystemExit(main())
