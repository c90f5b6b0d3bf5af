#!/usr/bin/env python
"""Targeted oracle gate: compare NAMED queries against their DuckDB
oracles at one or more scale dirs (guide §1 / round rules: every
restructured query must prove result-identity before it ships).

    python tools/oracle_check.py <query> [query ...] [--sf DIR ...]

Default sf dirs: /root/testdata/sf0.01 and /root/testdata/sf0.1 —
the r17 optimization round's per-change proof points.

After each query the session is drained; the line reports how many
RDDs the drain released, how many streams are still active and how
many RDDs are still persistent. The exit status is non-zero if any
query fails its oracle or leaves a stream active or an RDD pinned.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))


def main() -> int:
    args = sys.argv[1:]
    sf_dirs: list[str] = []
    names: list[str] = []
    it = iter(args)
    for a in it:
        if a == "--sf":
            try:
                sf_dirs.append(next(it))
            except StopIteration:
                raise SystemExit("--sf needs a directory argument") from None
        else:
            names.append(a)
    if not sf_dirs:
        sf_dirs = ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
    if not names:
        raise SystemExit("usage: oracle_check.py <query> [...] [--sf DIR]")

    import __spark_entry__ as entry_mod
    from _oracle import compare, duckdb_con

    from eye_of_sauron_spark.functions.materialize import drain_session
    from eye_of_sauron_spark.session import get_spark

    spark = get_spark("oracle-check")
    queries, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    unknown = [n for n in names if n not in queries]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    rc = 0
    for sf_dir in sf_dirs:
        con = duckdb_con(sf_dir)
        for name in names:
            t0 = time.time()
            verdict, detail = "OK  ", ""
            try:
                compare(queries[name](spark, sf_dir), con, oracles[name])
            except Exception as exc:  # noqa: BLE001 — report every failure
                verdict, detail = "FAIL", f": {exc}"
            released = drain_session(spark)
            active = len(spark.streams.active)
            pinned = spark.sparkContext._jsc.getPersistentRDDs().size()
            if verdict == "FAIL" or active or pinned:
                rc = 1
            print(
                f"{verdict} {name} @ {sf_dir} ({time.time() - t0:.1f}s; "
                f"released {released} RDDs, {active} active streams, "
                f"{pinned} pinned){detail}",
                flush=True,
            )
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
