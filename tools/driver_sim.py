#!/usr/bin/env python
"""Simulate the external driver's correctness gate locally.

Runs the first N (default 50 — the driver's measured per-round budget)
entries of ``__spark_entry__.queries()`` in the order it returns them
(oldest evidence first, computed from the CORRECTNESS_r*.json
ledgers) against their DuckDB oracles at the given scale factor,
using the same order-insensitive compare the pytest suite uses. Run
this after the round's last code change so ``CORRECTNESS_r{N}.json``
holds no surprises.

    python tools/driver_sim.py [sf_dir] [n_queries]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 50

    import __spark_entry__ as entry_mod
    from _oracle import compare, duckdb_con

    from eye_of_sauron_spark.session import get_spark

    spark = get_spark("driver-sim")
    queries, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    names = list(queries)[:n]
    con = duckdb_con(sf_dir)
    fails: list[str] = []
    t0 = time.time()
    from eye_of_sauron_spark.functions.materialize import drain_session

    for i, name in enumerate(names):
        try:
            compare(queries[name](spark, sf_dir), con, oracles[name])
            print(f"{i + 1:3d}/{len(names)} OK   {name}", flush=True)
            # the result is consumed (compare collected it): release
            # even the final-result checkpoint the iterative queries
            # legitimately pin, so the session's executor storage is
            # flat across the registry instead of accumulating one
            # block set per iterative query. (Deliberate trade: the
            # drain also clears every memo_checkpoint slot — the BM25
            # postings, the shared pair lists — so a later consumer
            # rebuilds its slot; cross-query memo warmth is
            # sacrificed for a flat-storage guarantee the gate
            # certifies; the rebuild cost is already inside each
            # consumer's own bench row.)
            #
            # OUTSIDE the compare try: the oracle verdict is already
            # printed, and a transient drain error must not relabel a
            # hash-green query as FAIL (it would print contradictory
            # OK/FAIL rows for the same name and fail the round).
            try:
                drain_session(spark)
            except Exception:  # noqa: BLE001 — best-effort between rows
                pass
        except Exception as exc:  # noqa: BLE001 — report, keep going
            fails.append(name)
            print(
                f"{i + 1:3d}/{len(names)} FAIL {name}: "
                f"{type(exc).__name__}: {exc}",
                flush=True,
            )
            # one broken query can leave the shared session in a bad
            # state (e.g. a streaming query that failed mid-start) and
            # cascade into later rows — clear what we can so the
            # report stays one-failure-one-row, and flag the first
            # failure as the likely root cause of any cascade. The
            # cleanup itself is best-effort: a session broken enough
            # to fail it must not abort the remaining report rows.
            try:
                for q in spark.streams.active:
                    try:
                        q.stop()
                    except Exception:  # noqa: BLE001
                        pass
                spark.catalog.clearCache()
                # a failed query may have pinned checkpoints before
                # raising; drain them like the success path does
                drain_session(spark)
            except Exception:  # noqa: BLE001 — best-effort cleanup
                pass
    # best-effort: a session broken enough to fail the final drain or
    # the pinned-RDD count must not eat the summary line and the
    # documented 0/1 exit contract — the report is the product here
    try:
        drain_session(spark)
        n_pinned = len(
            list(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
        )
        pinned_msg = str(n_pinned)
    except Exception as exc:  # noqa: BLE001
        pinned_msg = f"unknown ({type(exc).__name__} during final drain)"
    print(
        f"done in {time.time() - t0:.0f}s; {len(fails)} failures: {fails}; "
        f"pinned RDDs at session end: {pinned_msg}"
    )
    if len(fails) > 1:
        print(
            f"note: first failure ({fails[0]}) is the likely root cause; "
            "session state is reset between queries but a cascade from "
            "one broken query is still possible — fix in order."
        )
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
