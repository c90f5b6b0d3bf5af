"""Column-level function library shared by the plan modules.

Builders here come in pairs: a Spark ``Column`` expression and (where a
query needs a DuckDB oracle) a SQL-text snippet computing the exact
same value in DuckDB 1.0. Keeping both sides in one module is what
makes the LLM-pipeline operators (MinHash, SimHash, cosine top-k)
hash-checkable against the oracle: every hash/fold below is portable
arithmetic or md5, bit-for-bit identical across engines.
"""

from .hashing import hex32_duck, hex32_spark
from .text import shingles_duck, shingles_spark, tokens_duck, tokens_spark
from .vector import cosine_duck, cosine_spark, dot_duck, dot_spark, l2_duck, l2_spark

__all__ = [
    "hex32_spark",
    "hex32_duck",
    "tokens_spark",
    "tokens_duck",
    "shingles_spark",
    "shingles_duck",
    "dot_spark",
    "dot_duck",
    "l2_spark",
    "l2_duck",
    "cosine_spark",
    "cosine_duck",
]
