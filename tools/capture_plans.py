#!/usr/bin/env python
"""Capture .explain("formatted") for every registered query.

Usage::

    python tools/capture_plans.py <out_dir> [<suffix>] [query ...]

Writes ``<out_dir>/<query>_<suffix>.txt`` (suffix default "before")
for each named query (default: all). Plans are captured at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) — plan SHAPE
(join strategy, Exchange count, PushedFilters) is what the files pin.
The final action is never run, but queries built on a materialized
shared pass (an eager localCheckpoint, a memo_checkpoint slot or an
iterate loop) DO execute that pass at plan-construction time, so the
session is drained after each query to keep a full sweep's executor
storage flat.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from eye_of_sauron_spark import plans  # noqa: E402
from eye_of_sauron_spark.session import get_spark  # noqa: E402


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "plans/r17"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("capture_plans")
    from eye_of_sauron_spark.functions.materialize import drain_session

    registry = plans.all_queries()
    todo = names or sorted(registry)
    for name in todo:
        buf = io.StringIO()
        try:
            df = registry[name](spark, sf_dir)
            with redirect_stdout(buf):
                df.explain("formatted")
        except Exception as exc:  # noqa: BLE001 — record, keep going
            buf.write(f"\nEXPLAIN FAILED: {type(exc).__name__}: {exc}\n")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}")
        drain_session(spark)


if __name__ == "__main__":
    main()
