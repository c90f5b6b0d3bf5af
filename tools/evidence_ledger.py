#!/usr/bin/env python
"""Generate the SURVEY.md §8.1 evidence-ledger bullet lists.

Reads each query's LATEST checked round from the CORRECTNESS_r*.json
files through ``__spark_entry__.latest_rows`` (the same read that
orders ``queries()``) and groups the full registry by that
freshness. Output is the markdown
bullet list §8.1 embeds — queries with no driver row yet are listed
separately so the ledger never claims evidence that does not exist.

    python tools/evidence_ledger.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from __spark_entry__ import latest_rows  # noqa: E402


def main() -> None:
    from eye_of_sauron_spark import plans

    registered = list(plans.all_queries())
    oracles = plans.all_oracles()
    latest = latest_rows()
    by_round: dict[int, list[str]] = {}
    for name in registered:
        by_round.setdefault(latest.get(name, 0), []).append(name)
    print(
        f"registered: {len(registered)}; with oracle: {len(oracles)}; "
        f"driver rows cover: {sum(len(v) for r, v in by_round.items() if r)}"
    )
    for rnd in sorted(by_round, reverse=True):
        names = sorted(by_round[rnd])
        tag = (
            f"**driver hash-green, last r{rnd:02d}** ({len(names)})"
            if rnd
            else f"**no driver row yet** ({len(names)})"
        )
        print(f"- {tag}: " + ", ".join(f"`{n}`" for n in names))


if __name__ == "__main__":
    main()
