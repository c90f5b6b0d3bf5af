"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Each round's correctness check covers about 50 entries, in iteration
order, so both maps lead with the queries whose evidence is oldest:
the order is computed from the ``CORRECTNESS_r*.json`` ledgers next
to this file (:func:`rotation`), never edited by hand.

All real logic lives in the ``eye_of_sauron_spark`` package; this
module is a thin adapter over its query registry.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

from eye_of_sauron_spark import plans  # noqa: E402


def latest_rows(root: str = _HERE) -> dict[str, int]:
    """Each query's latest checked round, read from the
    ``CORRECTNESS_r*.json`` ledgers in ``root`` (pre-r08 files may
    nest rows under "queries"; r08+ are flat)."""
    latest: dict[str, int] = {}
    for f in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)", os.path.basename(f)).group(1))
        with open(f) as fh:
            d = json.load(fh)
        if isinstance(d.get("queries"), dict):
            d = d["queries"]
        for name in d:
            latest[name] = max(rnd, latest.get(name, 0))
    return latest


def rotation(names: Iterable[str], root: str = _HERE) -> list[str]:
    """``names`` ordered by (latest checked round, name); a name with
    no ledger row ranks as round 0, so it comes first."""
    latest = latest_rows(root)
    return sorted(names, key=lambda n: (latest.get(n, 0), n))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return plans.all_queries()["flagship_purchases_by_nation"](
        spark, "/root/testdata/sf0.001"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    qs = plans.all_queries()
    return {n: qs[n] for n in rotation(qs)}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent ANSI SQL per query; omitted entries get
    rows-only checks (non-SQL-expressible ops)."""
    sql = plans.all_oracles()
    return {n: sql[n] for n in rotation(sql)}
