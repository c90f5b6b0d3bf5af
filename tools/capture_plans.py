#!/usr/bin/env python
"""Capture .explain("formatted") for every registered query.

Usage::

    python tools/capture_plans.py <out_dir> [<suffix>] [query ...]
        [--streams] [--checkpoints]

Evidence for one change lives in its own directory,
``plans/r<N>/<change>/`` (round, then a short change name), so a later
change cannot overwrite an earlier change's dumps. Capture ``before``
on the parent tree and ``after`` on the change tree into the same
directory.

Writes ``<out_dir>/<query>_<suffix>.txt`` (suffix default "before")
for each named query (default: all). Plans are captured at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) — plan SHAPE
(join strategy, Exchange count, PushedFilters) is what the files pin.
Every dump writes that directory as ``<SPARK_GRAFT_SF_DIR>``, a
replay's staged micro-batch log as ``<staged_log>``, any other
directory under the temp root (a query's scratch files) as
``<scratch>``, and the per-run stream UUIDs and exchange ``plan_id``
counters as ``<uuid>`` and ``<n>``, so dumps from two trees or hosts
diff clean and commit as written.

With ``--streams`` the dump holds, instead of the query's final plan,
the plan of every streaming DataFrame the query drains, taken just
before the drain starts (a replay's final plan reads the drained
rows, not the stateful operator). With ``--checkpoints`` it holds the
plan of every DataFrame the query pins, taken just before its
``localCheckpoint`` (a pinned query's final plan is a bare scan of
the pinned rows). Given both, the dump holds both kinds in the order
the query runs them.

The final action is never run, but queries built on a materialized
shared pass (an eager localCheckpoint, a memo_checkpoint slot, an
iterate loop or a replay's drain) DO execute that pass at
plan-construction time, so the session is drained after each query to
keep a full sweep's executor storage flat.
"""

from __future__ import annotations

import io
import os
import re
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from eye_of_sauron_spark import plans  # noqa: E402
from eye_of_sauron_spark.session import get_spark  # noqa: E402


def _explain_streams(buf: io.StringIO) -> None:
    """Make every stream drain print its plan into ``buf`` first: each
    loaded package module's ``drain_stream`` binding is replaced."""
    from eye_of_sauron_spark.streaming import harness

    drain = harness.drain_stream

    def explained(stream_df, *args, **kwargs):
        with redirect_stdout(buf):
            stream_df.explain("formatted")
        return drain(stream_df, *args, **kwargs)

    for name, mod in list(sys.modules.items()):
        if name.startswith("eye_of_sauron_spark."):
            if getattr(mod, "drain_stream", None) is drain:
                mod.drain_stream = explained


def _explain_checkpoints(spark, buf: io.StringIO):
    """Make every ``localCheckpoint`` print the plan it pins into
    ``buf`` first, patched on the session's DataFrame class; returns
    the callable that restores the original."""
    df_cls = type(spark.range(1))
    real = df_cls.localCheckpoint

    def explained(df, *args, **kwargs):
        with redirect_stdout(buf):
            df.explain("formatted")
        return real(df, *args, **kwargs)

    df_cls.localCheckpoint = explained
    return lambda: setattr(df_cls, "localCheckpoint", real)


def _normalize(text: str, sf_dir: str) -> str:
    """Replace what differs between runs, trees and hosts by the
    placeholders the module docstring names."""
    text = text.replace(os.path.realpath(sf_dir), "<SPARK_GRAFT_SF_DIR>").replace(
        sf_dir.rstrip("/"), "<SPARK_GRAFT_SF_DIR>"
    )
    tmp = re.escape(os.path.realpath(tempfile.gettempdir()))
    for pattern, repl in (
        (r"[^\s\[,]*/staged_log_\w+", "<staged_log>"),
        (rf"[^\s\[,]*{tmp}/[\w.-]+", "<scratch>"),
        (r"\b[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}\b", "<uuid>"),
        (r"plan_id=\d+", "plan_id=<n>"),
    ):
        text = re.sub(pattern, repl, text)
    return text


def main() -> None:
    flags = {"--streams", "--checkpoints"}
    streams = "--streams" in sys.argv[1:]
    checkpoints = "--checkpoints" in sys.argv[1:]
    args = [a for a in sys.argv[1:] if a not in flags]
    if not args:
        raise SystemExit(
            "usage: capture_plans.py <out_dir> [<suffix>] [query ...]"
            " [--streams] [--checkpoints]"
        )
    out_dir = args[0]
    suffix = args[1] if len(args) > 1 else "before"
    names = args[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("capture_plans")
    from eye_of_sauron_spark.functions.materialize import drain_session

    buf = io.StringIO()
    registry = plans.all_queries()
    if streams:
        _explain_streams(buf)
    restore = _explain_checkpoints(spark, buf) if checkpoints else lambda: None
    todo = names or sorted(registry)
    try:
        for name in todo:
            buf.seek(0)
            buf.truncate()
            try:
                df = registry[name](spark, sf_dir)
                if not (streams or checkpoints):
                    with redirect_stdout(buf):
                        df.explain("formatted")
            except Exception as exc:  # noqa: BLE001 — record, keep going
                buf.write(f"\nEXPLAIN FAILED: {type(exc).__name__}: {exc}\n")
            path = os.path.join(out_dir, f"{name}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(_normalize(buf.getvalue(), sf_dir))
            print(f"wrote {path}")
            drain_session(spark)
    finally:
        restore()


if __name__ == "__main__":
    main()
