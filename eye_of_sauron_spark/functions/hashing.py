"""Portable (engine-agnostic) hashing primitives.

The natural Spark choice for content hashing is ``xxhash64`` — but the
DuckDB oracle can't reproduce it, so every hash that feeds an
oracle-checked result is built from ``md5`` (identical hex output in
both engines) plus plain integer arithmetic. All of it stays inside
WholeStageCodegen on the Spark side; swapping ``xxhash64`` back in for
a production deployment is a one-line change per call site.

Reference parity: content hashing replaces the reference's identity-
by-key convention (``"{camera}_{frame}"`` message keys,
src/frame_producer.py:135) with content-derived keys for dedup.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hex32_spark(col: Column) -> Column:
    """First 32 bits of md5(col) as a non-negative BIGINT (0..2^32-1)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def hex32_duck(expr: str) -> str:
    """DuckDB SQL computing the same value as :func:`hex32_spark`.

    DuckDB has no ``conv``; fold the 8 hex chars with a list_reduce.
    """
    return (
        "list_reduce(list_transform("
        f"string_split(substr(md5({expr}), 1, 8), ''), "
        "c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT)), "
        "(a, b) -> a * 16 + b)"
    )


def keyed_hex32_spark(salt: str, key: Column | str) -> Column:
    """:func:`hex32_spark` of ``'<salt>:' || CAST(key AS STRING)`` —
    the salted per-row hash every deterministic route (splits, samples,
    mixtures, eval holdouts, late drops) draws from. The salt keeps
    the routes independent of each other for the same key."""
    key = F.col(key) if isinstance(key, str) else key
    return hex32_spark(F.concat(F.lit(f"{salt}:"), key.cast("string")))


def keyed_hex32_duck(salt: str, expr: str) -> str:
    """DuckDB SQL twin of :func:`keyed_hex32_spark`."""
    return hex32_duck(f"'{salt}:' || CAST({expr} AS VARCHAR)")


def hex32_at_spark(md5_hex: Column, offset: int) -> Column:
    """32 bits of an md5 hex string, starting at 1-based hex-char
    ``offset``, as a non-negative BIGINT (0..2^32-1).

    The portable 64-bit primitive: a full md5 digest yields two
    independent 32-bit halves at offsets 1 and 9, carried as separate
    BIGINTs so every downstream shift/mod/xor stays below 2^32 —
    a single 64-bit value would need a ``2^63`` literal (overflows a
    Java signed long at plan construction) and put bit 63 in the sign
    position, where div/mod semantics diverge between engines.
    """
    return F.conv(F.substring(md5_hex, offset, 8), 16, 10).cast("bigint")


def hex32_at_duck(hex_expr: str, offset: int) -> str:
    """DuckDB SQL twin of :func:`hex32_at_spark` (``hex_expr`` is any
    SQL expression producing a lowercase hex string, e.g. md5(...))."""
    return (
        "list_reduce(list_transform("
        f"string_split(substr({hex_expr}, {offset}, 8), ''), "
        "c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT)), "
        "(a, b) -> a * 16 + b)"
    )


# Universal-hash MinHash family: ONE md5 per shingle (via hex32), then
# k independent functions h_i(x) = (a_i * x + b_i) mod P by integer
# arithmetic — 16x less hashing than seeded-md5 per function, which is
# the difference between rehashing the corpus k times and streaming it
# once at 100 TB. P = 2^31 - 1 (Mersenne); a_i odd < 2^20 keeps
# a_i * x < 2^52, exact in BIGINT on both engines.
MINHASH_P = 2_147_483_647


def minhash_affine(seed: int) -> tuple[int, int]:
    a = (2 * seed + 1) * 40_503 % (1 << 20) | 1
    b = seed * 1_000_003 + 12_345
    return a, b


def minhash_u_spark(seed: int, h32: Column) -> Column:
    a, b = minhash_affine(seed)
    return (F.lit(a) * h32 + F.lit(b)) % F.lit(MINHASH_P)
