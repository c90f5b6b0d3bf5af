#!/usr/bin/env python
"""Count code lines and raw lines of Python sources.

Usage::

    python tools/loc.py [path ...]

Each path is a .py file or a directory walked for .py files (default:
the package, ``eye_of_sauron_spark``). Prints one line per path,
``<code lines> <raw lines> <path>``, then a total when more than one
path is given.

A code line is a line that holds a token other than COMMENT, NL,
NEWLINE, INDENT, DEDENT or ENDMARKER, excluding statement-level
docstrings (a string literal standing alone as an expression
statement). A token spanning several lines (a multi-line string in
code) counts every line it spans. Raw lines are ``wc -l`` lines.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

_LAYOUT = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
}


def file_counts(path: str) -> tuple[int, int]:
    """(code lines, raw lines) of one Python file."""
    with open(path, encoding="utf-8") as fh:
        src = fh.read()
    docstrings = set()
    for node in ast.walk(ast.parse(src)):
        if (
            isinstance(node, ast.Expr)
            and isinstance(node.value, ast.Constant)
            and isinstance(node.value.value, str)
        ):
            docstrings.update(range(node.lineno, node.end_lineno + 1))
    code = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _LAYOUT:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - docstrings), src.count("\n")


def counts(path: str) -> tuple[int, int]:
    """(code lines, raw lines) of a file, or summed over a directory."""
    if not os.path.isdir(path):
        return file_counts(path)
    code = raw = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".py"):
                c, r = file_counts(os.path.join(dirpath, f))
                code, raw = code + c, raw + r
    return code, raw


def main() -> None:
    paths = sys.argv[1:] or ["eye_of_sauron_spark"]
    total_code = total_raw = 0
    for path in paths:
        code, raw = counts(path)
        total_code, total_raw = total_code + code, total_raw + raw
        print(f"{code:>7} {raw:>7} {path}")
    if len(paths) > 1:
        print(f"{total_code:>7} {total_raw:>7} total")


if __name__ == "__main__":
    main()
