"""Tokenization, shingling and token-statistics builders (Spark
Column + DuckDB SQL twins).

The ``documents.text`` fixture is whitespace-tokenizable by
construction (FIXTURES.md); shingles are n-token windows joined by a
single space, deduplicated — the standard unit for MinHash/Jaccard
near-dup detection.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens_spark(text: Column) -> Column:
    """Whitespace tokens."""
    return F.split(text, " ")


def tokens_duck(expr: str) -> str:
    return f"string_split({expr}, ' ')"


# The stopword list every quality statistic counts against.
STOPWORDS = ("the", "a")


def marker_count_spark(toks: Column, markers: tuple[str, ...]) -> Column:
    """How many elements of the token array ``toks`` are in ``markers``
    (occurrence-weighted), as BIGINT."""
    return F.aggregate(
        F.transform(toks, lambda t: F.when(t.isin(*markers), 1).otherwise(0)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def marker_count_duck(toks: str, markers: tuple[str, ...]) -> str:
    """DuckDB SQL twin of :func:`marker_count_spark`."""
    inlist = ", ".join(f"'{m}'" for m in markers)
    return (
        f"list_sum(list_transform({toks}, "
        f"t -> CASE WHEN t IN ({inlist}) THEN 1 ELSE 0 END))"
    )


def token_stats_spark(text: Column) -> tuple[Column, Column, Column]:
    """``(n_tok, n_distinct, n_stop)`` of ``text``'s whitespace tokens:
    token count, distinct-token count and :data:`STOPWORDS` count, the
    per-document statistics the quality scores and gates read."""
    toks = tokens_spark(text)
    return (
        F.size(toks),
        F.size(F.array_distinct(toks)),
        marker_count_spark(toks, STOPWORDS),
    )


def token_stats_duck(expr: str) -> tuple[str, str, str]:
    """DuckDB SQL twin of :func:`token_stats_spark`."""
    toks = tokens_duck(expr)
    return (
        f"len({toks})",
        f"len(list_distinct({toks}))",
        marker_count_duck(toks, STOPWORDS),
    )


def shingles_spark(text: Column, n: int = 3) -> Column:
    """Distinct n-token shingles of ``text`` as array<string>.

    Built as n-1 nested ``zip_with`` concats over shifted slices of
    the token array (the :func:`bigrams_spark` shape generalized):
    element i of the result is toks[i..i+n-1] joined by single
    spaces, exactly the strings the previous per-element
    ``slice``+``concat_ws`` transform produced (r18 optimization,
    guide §1.2 per-task work: the shifted-slice form pre-slices the
    token array once per offset instead of allocating an n-element
    sub-array per shingle — measured 1.4-1.7x faster at both n=3 and
    n=8, output-identical including short/empty/null documents).

    Empty when the document has fewer than n tokens or is null: the
    slice length is clamped at 0, so no row can reach a negative-length
    slice whichever CaseWhen branch the engine evaluates.
    """
    toks = tokens_spark(text)
    n_sh = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    make = F.slice(toks, 1, n_sh)
    for j in range(1, n):
        make = F.zip_with(
            make,
            F.slice(toks, j + 1, n_sh),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.array_distinct(F.when(n_sh >= 1, make).otherwise(F.array()))


def shingles_duck(expr: str, n: int = 3) -> str:
    """DuckDB SQL twin of :func:`shingles_spark` (same shingle strings;
    DuckDB's range(a, b) is empty when b <= a, so no guard needed)."""
    toks = tokens_duck(expr)
    return (
        f"list_distinct(list_transform(range(1, len({toks}) - {n - 2}), "
        f"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' ')))"
    )


def bigrams_spark(text: Column) -> Column:
    """Ordered token bigrams of ``text`` as array<struct<w1,w2>> —
    the token array zipped against itself shifted by one (narrow
    per-row expression, no positional self-join). Empty below 2
    tokens; the slice length is clamped at 0, as in shingles_spark."""
    toks = tokens_spark(text)
    n = F.size(toks)
    n_bi = F.greatest(n - 1, F.lit(0))
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n_bi),
            F.slice(toks, 2, n_bi),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array())


def bigrams_duck_from(table: str, cols: str, text_expr: str = "text") -> str:
    """DuckDB FROM-clause twin of :func:`bigrams_spark`: expands
    ``table`` into one row per token bigram with columns ``cols``
    (caller-projected) plus w1/w2; ``text_expr`` names the tokenized
    column (mirroring tokens_duck/shingles_duck taking the expression
    rather than assuming one). DuckDB's range(a, b) is empty for
    b <= a, so short docs vanish without a guard."""
    toks = tokens_duck(text_expr)
    return f"""(
        SELECT {cols}, ts[CAST(i AS INT)] AS w1, ts[CAST(i AS INT) + 1] AS w2
        FROM (SELECT *, {toks} AS ts FROM {table}),
             unnest(range(1, len(ts))) AS t(i)
    )"""
