#!/usr/bin/env python
"""Oracle gate: compare queries against their DuckDB oracles with the
pytest suite's order-insensitive compare.

    python tools/oracle_check.py <query> [query ...] [--sf DIR ...]
    python tools/oracle_check.py [--first N] [--sf DIR ...]

Named queries run at every ``--sf`` dir (default sf0.01 and sf0.1
under the fixture root, the per-change proof points). With no names
the tool rehearses the external driver's per-round correctness gate:
the first N entries (default 50, the driver's per-round budget) of
``__spark_entry__.queries()`` in the order it returns them (the
rotation: oldest evidence first, computed from the
CORRECTNESS_r*.json ledgers), at sf0.01 unless ``--sf`` says
otherwise. Run it after a round's last code change so
``CORRECTNESS_r{N}.json`` holds no surprises.

After each query the session is drained; the line reports how many
RDDs the drain released, how many streams are still active and how
many RDDs are still persistent. A query that fails or leaves
anything behind has its streams stopped, the cache cleared and the
session drained again, so one broken query does not cascade into the
rows after it. The exit status is non-zero if any query fails its
oracle or leaves a stream active or an RDD pinned.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))
FIXTURES = "/root/testdata"  # the fixture root __spark_entry__.entry reads


def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*", metavar="query")
    ap.add_argument("--sf", action="append", default=[], metavar="DIR")
    ap.add_argument("--first", type=int, metavar="N")
    args = ap.parse_args()
    if args.names and args.first is not None:
        ap.error("--first runs the rotation; give it no query names")
    return args


def _reset(spark) -> None:
    """Best-effort cleanup after a failed or leaking query: a session
    broken enough to fail it must not abort the remaining rows."""
    from eye_of_sauron_spark.functions.materialize import drain_session

    try:
        for q in spark.streams.active:
            try:
                q.stop()
            except Exception:  # noqa: BLE001
                pass
        spark.catalog.clearCache()
        drain_session(spark)
    except Exception:  # noqa: BLE001
        pass


def main() -> int:
    args = _parse()
    names, sf_dirs = args.names, args.sf

    import __spark_entry__ as entry_mod
    from _oracle import compare, duckdb_con

    from eye_of_sauron_spark.functions.materialize import drain_session
    from eye_of_sauron_spark.session import get_spark

    queries, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    unknown = [n for n in names if n not in queries]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    if not names:
        names = list(queries)[: 50 if args.first is None else args.first]
        sf_dirs = sf_dirs or [f"{FIXTURES}/sf0.01"]
    sf_dirs = sf_dirs or [f"{FIXTURES}/sf0.01", f"{FIXTURES}/sf0.1"]

    spark = get_spark("oracle-check")
    fails: list[str] = []
    leaks = 0
    t_all = time.time()
    for sf_dir in sf_dirs:
        con = duckdb_con(sf_dir)
        for i, name in enumerate(names, 1):
            t0 = time.time()
            verdict, detail = "OK  ", ""
            try:
                compare(queries[name](spark, sf_dir), con, oracles[name])
            except Exception as exc:  # noqa: BLE001 — report every failure
                verdict, detail = "FAIL", f": {type(exc).__name__}: {exc}"
                fails.append(f"{name} @ {sf_dir}")
            try:
                released = drain_session(spark)
                active = len(spark.streams.active)
                pinned = spark.sparkContext._jsc.getPersistentRDDs().size()
                leaked = bool(active or pinned)
                left = (
                    f"released {released} RDDs, {active} active streams, "
                    f"{pinned} pinned"
                )
            except Exception as exc:  # noqa: BLE001 — the row still prints
                leaked, left = True, f"drain failed: {type(exc).__name__}"
            leaks += leaked
            if verdict == "FAIL" or leaked:
                _reset(spark)
            print(
                f"{i:3d}/{len(names)} {verdict} {name} @ {sf_dir} "
                f"({time.time() - t0:.1f}s; {left}){detail}",
                flush=True,
            )
    print(
        f"done in {time.time() - t_all:.0f}s; {len(fails)} failures: {fails}; "
        f"{leaks} queries left a stream active or an RDD pinned"
    )
    if len(fails) > 1:
        print(
            f"note: the first failure ({fails[0]}) is the likely root cause; "
            "the session is reset after every failure, but a cascade from "
            "one broken query is still possible, so fix them in order."
        )
    return 1 if fails or leaks else 0


if __name__ == "__main__":
    raise SystemExit(main())
