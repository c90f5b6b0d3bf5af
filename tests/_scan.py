"""Text scans over the package source, for tests that pin where a
mechanism lives (one owner, one call site, no dormant copy)."""

from __future__ import annotations

import os
import re

import eye_of_sauron_spark

ROOT = os.path.dirname(eye_of_sauron_spark.__file__)


def package_hits(pattern: str, skip: tuple[str, ...] = ()) -> dict[str, int]:
    """``{package-relative path: count}`` of the regex ``pattern`` over
    the package's .py files, leaving out the ``/``-separated paths in
    ``skip``; files without a match are left out."""
    hits = {}
    for dirpath, _, files in os.walk(ROOT):
        for f in sorted(files):
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, ROOT).replace(os.sep, "/")
            if not f.endswith(".py") or rel in skip:
                continue
            with open(path, encoding="utf-8") as fh:
                n = len(re.findall(pattern, fh.read()))
            if n:
                hits[rel] = n
    return hits


def package_source(rel: str) -> str:
    """The text of one package file, by ``/``-separated relative path."""
    with open(os.path.join(ROOT, *rel.split("/")), encoding="utf-8") as fh:
        return fh.read()


def unique_rows(pairs, what: str) -> dict:
    """``dict(pairs)`` after asserting no key repeats — a dict built
    straight from the pairs would silently collapse a duplicate row."""
    pairs = list(pairs)
    keys = [k for k, _ in pairs]
    assert len(keys) == len(set(keys)), f"duplicate {what} rows"
    return dict(pairs)
