"""Text-analysis operators over the ``documents`` corpus: term
statistics, language-ID heuristic, quality scoring, token counting,
and document fingerprinting.

LLM-training-data-pipeline operators (SURVEY.md §2 Part B last row).
All token work uses built-in split/explode/higher-order functions —
JVM-side, no Python UDFs. At 100 TB each of these is a narrow per-doc
computation followed by one partial+final aggregate; the explode-based
ones (term stats) shuffle O(tokens) rows but combine map-side first.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.hashing import hex32_duck, hex32_spark
from ..functions.text import (
    bigrams_duck_from,
    bigrams_spark,
    tokens_duck,
    tokens_spark,
)
from ..functions.vector import cosine_duck, cosine_spark
from ..sources import load_table, spread
from .registry import query

# Disjoint marker-token sets per language for the n-gram-frequency
# language-ID heuristic. The fixture corpus is a synthetic token soup
# with langs assigned independently of content (FIXTURES.md), so this
# exercises the *operator* (portable scoring + argmax), not a real
# language model — swap real stopword lists in production.
_LANG_MARKERS = {
    "de": ("scan", "column", "window"),
    "en": ("the", "a", "row"),
    "es": ("order", "sort", "part"),
    "fr": ("join", "merge", "query"),
    "zh": ("hash", "stream", "filter"),
}
_STOPWORDS = ("the", "a")
_QUALITY_KEEP = 0.7

_FP_MOD = 10**17  # fold modulus: _FP_MOD * 31 + 2^32 stays under 2^63


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _marker_score_spark(toks: Column, markers: tuple[str, ...]) -> Column:
    return F.aggregate(
        F.transform(toks, lambda t: F.when(t.isin(*markers), 1).otherwise(0)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def _marker_score_duck(toks: str, markers: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{m}'" for m in markers)
    return (
        f"list_sum(list_transform({toks}, "
        f"t -> CASE WHEN t IN ({inlist}) THEN 1 ELSE 0 END))"
    )


@query(
    "text_term_stats",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({tokens_duck('text')}) AS term FROM documents
    ),
    tot AS (SELECT count(*) AS n FROM toks)
    SELECT term,
           count(*) AS tf,
           count(DISTINCT doc_id) AS df,
           round(count(*) / (SELECT n FROM tot), 6) AS share
    FROM toks
    GROUP BY term
    ORDER BY tf DESC, term ASC
    LIMIT 20
    """,
)
def text_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term statistics: tokenize -> explode -> tf/df/share,
    top-20 terms. The shuffle carries (term, partial counts) only;
    the top-k is TakeOrdered, not a global sort."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens_spark(F.col("text"))).alias("term"))
    total = toks.groupBy().agg(F.count("*").alias("n"))
    return (
        toks.groupBy("term")
        .agg(F.count("*").alias("tf"), F.countDistinct("doc_id").alias("df"))
        .crossJoin(F.broadcast(total))
        .select(
            "term",
            "tf",
            "df",
            F.round(F.col("tf") / F.col("n"), 6).alias("share"),
        )
        .orderBy(F.col("tf").desc(), F.col("term").asc())
        .limit(20)
    )


_LANG_ORACLE_SCORES = ",\n               ".join(
    f"{_marker_score_duck('toks', m)} AS s_{lang}"
    for lang, m in sorted(_LANG_MARKERS.items())
)
_LANG_ORACLE_MAX = "greatest(" + ", ".join(
    f"s_{lang}" for lang in sorted(_LANG_MARKERS)
) + ")"
_LANG_ORACLE_PICK = "CASE " + " ".join(
    f"WHEN s_{lang} = {_LANG_ORACLE_MAX} THEN '{lang}'"
    for lang in sorted(_LANG_MARKERS)
) + " END"


@query(
    "text_language_id",
    oracle=f"""
    WITH m AS (
        SELECT lang, {tokens_duck('text')} AS toks FROM documents
    ),
    scored AS (
        SELECT lang,
               {_LANG_ORACLE_SCORES}
        FROM m
    )
    SELECT lang, {_LANG_ORACLE_PICK} AS predicted, count(*) AS n_docs
    FROM scored
    GROUP BY lang, predicted
    """,
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: score each doc against per-language
    marker-token lists (occurrence-weighted), predict the argmax
    (alphabetical tie-break), and cross-tab predictions against the
    labeled lang — the confusion-matrix shape of a corpus lang filter."""
    docs = _t(spark, sf_dir, "documents")
    toks = tokens_spark(F.col("text"))
    scored = docs.select(
        "lang",
        *[
            _marker_score_spark(toks, m).alias(f"s_{lang}")
            for lang, m in sorted(_LANG_MARKERS.items())
        ],
    )
    mx = F.greatest(*[F.col(f"s_{lang}") for lang in sorted(_LANG_MARKERS)])
    predicted = None
    for lang in sorted(_LANG_MARKERS):
        cond = F.col(f"s_{lang}") == mx
        predicted = (
            F.when(cond, lang) if predicted is None else predicted.when(cond, lang)
        )
    return (
        scored.withColumn("predicted", predicted)
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n_docs"))
    )


@query(
    "text_quality_score",
    oracle=f"""
    WITH m AS (
        SELECT doc_id, source, {tokens_duck('text')} AS toks FROM documents
    ),
    q AS (
        SELECT doc_id, source,
               len(toks) AS n_tok,
               {_marker_score_duck('toks', _STOPWORDS)} * 1.0 / len(toks) AS stop_ratio,
               len(list_distinct(toks)) * 1.0 / len(toks) AS diversity,
               0.35 * least(len(toks) / 60.0, 1.0)
                 + 0.35 * (1 - {_marker_score_duck('toks', _STOPWORDS)} * 1.0 / len(toks))
                 + 0.3 * (len(list_distinct(toks)) * 1.0 / len(toks)) AS quality
        FROM m
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN quality >= {_QUALITY_KEEP} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_keep,
           round(avg(quality), 6) AS avg_quality,
           round(avg(diversity), 6) AS avg_diversity
    FROM q
    GROUP BY source
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality score (length saturation, stopword
    ratio, lexical diversity) with a keep/drop threshold — the quality
    filter stage of a training-data pipeline, aggregated per source."""
    docs = _t(spark, sf_dir, "documents")
    toks = tokens_spark(F.col("text"))
    n_tok = F.size(toks)
    stop_ratio = _marker_score_spark(toks, _STOPWORDS) * 1.0 / n_tok
    diversity = F.size(F.array_distinct(toks)) * 1.0 / n_tok
    quality = (
        0.35 * F.least(n_tok / 60.0, F.lit(1.0))
        + 0.35 * (1 - stop_ratio)
        + 0.3 * diversity
    )
    return (
        docs.select("source", quality.alias("quality"), diversity.alias("diversity"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("quality") >= _QUALITY_KEEP, 1).otherwise(0))
            .cast("bigint")
            .alias("n_keep"),
            F.round(F.avg("quality"), 6).alias("avg_quality"),
            F.round(F.avg("diversity"), 6).alias("avg_diversity"),
        )
    )


_TOKEN_RX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


@query(
    "text_token_counts",
    oracle=f"""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(len({tokens_duck('text')})) AS BIGINT) AS ws_tokens,
           CAST(sum(len(regexp_extract_all(text, '{_TOKEN_RX}'))) AS BIGINT)
               AS re_tokens,
           round(avg(n_chars * 1.0 / len({tokens_duck('text')})), 6)
               AS avg_chars_per_token
    FROM documents
    GROUP BY lang
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways — whitespace split and a BPE-ish regex
    lexer (letter runs | digit runs | single symbols) — the
    token-budget accounting stage of a data pipeline."""
    docs = _t(spark, sf_dir, "documents")
    ws = F.size(tokens_spark(F.col("text")))
    re_toks = F.size(F.regexp_extract_all("text", F.lit(_TOKEN_RX), F.lit(0)))
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(ws).cast("bigint").alias("ws_tokens"),
        F.sum(re_toks).cast("bigint").alias("re_tokens"),
        F.round(F.avg(F.col("n_chars") * 1.0 / ws), 6).alias("avg_chars_per_token"),
    )


@query(
    "doc_fingerprint",
    oracle=f"""
    WITH fp AS (
        SELECT doc_id, lang,
               len({tokens_duck('text')}) AS n_tokens,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform({tokens_duck('text')}, t -> {hex32_duck('t')})),
                   (acc, h) -> (acc * 31 + h) % {_FP_MOD}) AS fingerprint
        FROM documents
    )
    SELECT lang,
           count(*) AS n_docs,
           count(DISTINCT fingerprint) AS n_distinct_fp,
           CAST(min(fingerprint) AS BIGINT) AS min_fp,
           CAST(max(fingerprint) AS BIGINT) AS max_fp
    FROM fp
    GROUP BY lang
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive document fingerprint: rolling polynomial fold
    (base 31 mod 1e17) over per-token portable hashes. Unlike the
    shingle/jaccard operators this is sequence-aware — re-ordered
    tokens produce different fingerprints, equal texts collide.
    One 8-byte state per doc regardless of doc length."""
    docs = _t(spark, sf_dir, "documents")
    toks = tokens_spark(F.col("text"))
    fp = F.aggregate(
        F.transform(toks, hex32_spark),
        F.lit(0).cast("bigint"),
        lambda acc, h: (acc * 31 + h) % _FP_MOD,
    )
    return (
        docs.select("lang", fp.alias("fingerprint"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("fingerprint").alias("n_distinct_fp"),
            F.min("fingerprint").cast("bigint").alias("min_fp"),
            F.max("fingerprint").cast("bigint").alias("max_fp"),
        )
    )


@query(
    "text_pii_scrub",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '\\b(key|hash|table)\\b')) AS INT)
               AS n_masked,
           CAST(length(regexp_replace(text, '\\b(key|hash|table)\\b',
                                      '[MASKED]', 'g')) AS INT) AS masked_len,
           substr(regexp_replace(text, '\\b(key|hash|table)\\b',
                                 '[MASKED]', 'g'), 1, 80) AS masked_prefix
    FROM documents
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern scrubbing — the PII-redaction shape of a training-data
    pipeline (here masking jargon tokens; swap in SSN/email/phone
    regexes in production): regexp_replace over the corpus plus a
    regexp_extract_all count of what was masked. Narrow per-doc
    expression work; nothing shuffles."""
    d = load_table(spark, sf_dir, "documents")
    pat = r"\b(key|hash|table)\b"
    masked = F.regexp_replace("text", pat, "[MASKED]")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(pat), F.lit(0)))
        .cast("int")
        .alias("n_masked"),
        F.length(masked).cast("int").alias("masked_len"),
        F.substring(masked, 1, 80).alias("masked_prefix"),
    )


@query(
    "deterministic_sample_documents",
    oracle=f"""
    WITH rated AS (
        SELECT *,
               CASE WHEN lang IN ('en', 'de') THEN 20 ELSE 5 END AS pct,
               {hex32_duck("'smpl:' || CAST(doc_id AS VARCHAR)")} % 100 AS bucket
        FROM documents
    )
    SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars
    FROM rated WHERE bucket < pct
    """,
)
def deterministic_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling by content-hash bucket — the reproducible
    alternative to RNG sampling for training-data curation: every
    engine, run, and scale picks the same rows (hash(doc_id) % 100
    against a per-stratum rate: 20% for en/de, 5% otherwise). A pure
    filter: pushes down, shuffles nothing, and composes with any
    downstream operator."""
    d = load_table(spark, sf_dir, "documents")
    pct = F.when(F.col("lang").isin("en", "de"), 20).otherwise(5)
    bucket = hex32_spark(F.concat(F.lit("smpl:"), F.col("doc_id").cast("string"))) % 100
    return d.filter(bucket < pct).select(
        "doc_id", "lang", "source", F.col("n_chars").cast("bigint").alias("n_chars")
    )


_CHUNK_TOKENS = 32
_CHUNK_STRIDE = 16


@query(
    "text_chunking",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    chunks AS (
        SELECT doc_id,
               CAST(i.i AS INT) AS chunk_idx,
               list_slice(ts, i.i * {_CHUNK_STRIDE} + 1,
                          i.i * {_CHUNK_STRIDE} + {_CHUNK_TOKENS}) AS chunk
        FROM toks,
             unnest(range(0, CAST(ceil(greatest(len(ts) - {_CHUNK_TOKENS}, 0)
                                       / {_CHUNK_STRIDE}.0) AS BIGINT) + 1)) AS i(i)
    )
    SELECT doc_id, chunk_idx,
           CAST(len(chunk) AS INT) AS n_tokens,
           chunk[1] AS first_token,
           chunk[len(chunk)] AS last_token,
           array_to_string(chunk, ' ') AS chunk_text
    FROM chunks
    """,
)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size token windows (size 32, stride 16) — the
    chunking stage every LLM training-data pipeline runs before
    tokenization. Chunk boundaries are computed per-document with
    sequence/transform/slice (narrow, zero shuffle) and exploded to
    one row per chunk; the final chunk is the remainder (may be short,
    every token appears in >= 1 chunk).

    Token-unit contract: windows count WHITESPACE tokens — see
    pack_sequences' note (plans/curation.py) and SCALE.md 'Tokenizer
    fidelity' for the BPE-budget conversion."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens_spark(F.col("text"))
    n_chunks = (
        F.ceil(F.greatest(F.size(toks) - _CHUNK_TOKENS, F.lit(0)) / _CHUNK_STRIDE)
        + 1
    ).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("int").alias("chunk_idx"),
            F.slice(toks, i * _CHUNK_STRIDE + 1, _CHUNK_TOKENS).alias("chunk"),
        ),
    )
    return (
        d.select("doc_id", F.explode(chunks).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.size("c.chunk").cast("int").alias("n_tokens"),
            F.element_at("c.chunk", 1).alias("first_token"),
            F.element_at("c.chunk", F.size("c.chunk")).alias("last_token"),
            F.array_join("c.chunk", " ").alias("chunk_text"),
        )
    )


# ------------------------------------------------ bigram LM statistics

_BIGRAM_TOPK = 5


@query(
    "text_bigram_lm",
    oracle=f"""
    WITH pairs AS (
        SELECT lang, w1, w2 FROM {bigrams_duck_from('documents', 'lang')} b
    ),
    counts AS (
        SELECT lang, w1, w2,
               count(*) AS n_pair,
               CAST(sum(count(*)) OVER (PARTITION BY lang, w1) AS BIGINT)
                   AS n_first
        FROM pairs GROUP BY lang, w1, w2
    ),
    ranked AS (
        SELECT *, (n_pair * 1000000) // n_first AS cond_ppm,
               row_number() OVER (
                   PARTITION BY lang ORDER BY n_pair DESC, w1, w2
               ) AS rank
        FROM counts
    )
    SELECT lang, CAST(rank AS INT) AS rank, w1, w2,
           n_pair, n_first, cond_ppm
    FROM ranked WHERE rank <= {_BIGRAM_TOPK}
    """,
)
def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model statistics per language: pair counts,
    first-token marginals, and integer-ppm conditional probabilities
    P(w2|w1), reported as the top-5 bigrams per lang — the n-gram LM
    every data pipeline fits for perplexity-style quality filters and
    contamination forensics.

    Bigrams are built JVM-side by zipping the token array against
    itself shifted by one (``zip_with(slice, slice)``) — a narrow
    per-document expression, no self-join on token position. One
    explode + one (lang, w1, w2) hash aggregate with map-side combine
    is the only O(tokens) shuffle; downstream, Catalyst plans a
    SINGLE exchange on ``lang`` alone for the already-aggregated
    distinct-bigram relation — hashpartitioning(lang) satisfies the
    clustering of BOTH window passes (the (lang, w1) marginal SUM and
    the per-lang top-k row_number) by the partitioning-subset rule,
    so the marginal and the rank share one shuffle (verified in the
    formatted plan: exactly 2 exchanges). The conditional probability
    is pure integer arithmetic (``* 1000000 div``), so both engines
    compute bit-identical ppm with no float division in the hash."""
    d = _t(spark, sf_dir, "documents")
    bigrams = bigrams_spark(F.col("text"))
    pairs = d.select("lang", F.explode(bigrams).alias("p")).select(
        "lang", "p.w1", "p.w2"
    )
    counts = pairs.groupBy("lang", "w1", "w2").agg(F.count("*").alias("n_pair"))
    counts = counts.withColumn(
        "n_first", F.sum("n_pair").over(W.partitionBy("lang", "w1"))
    )
    ranked = counts.withColumn(
        "cond_ppm", F.expr("(n_pair * 1000000) div n_first")
    ).withColumn(
        "rank",
        F.row_number().over(
            W.partitionBy("lang").orderBy(
                F.col("n_pair").desc(), F.col("w1"), F.col("w2")
            )
        ),
    )
    return ranked.filter(F.col("rank") <= _BIGRAM_TOPK).select(
        "lang", "rank", "w1", "w2", "n_pair", "n_first", "cond_ppm"
    )


# ------------------------------------------------ TextRank keywords

_TR_ITERS = 5
_TR_TOTAL = 10**12  # fixed-point mass: 1.0 == 10^12 micro-units
_TR_PPM = 10**6  # edge probabilities quantized to parts-per-million
_TR_TOPK = 10

_TR_GRAPH_DUCK = f"""
    pairs AS (
        SELECT lang, w1, w2 FROM {bigrams_duck_from('documents', 'lang')} b
    ),
    edges AS (
        SELECT lang, w1, w2, count(*) AS wt FROM pairs GROUP BY lang, w1, w2
    ),
    wsum AS (
        SELECT lang, w1, CAST(sum(wt) AS BIGINT) AS wsum
        FROM edges GROUP BY lang, w1
    ),
    ew AS (
        SELECT e.lang, e.w1, e.w2, (e.wt * {_TR_PPM}) // s.wsum AS p_ppm
        FROM edges e JOIN wsum s ON s.lang = e.lang AND s.w1 = e.w1
    ),
    nodes AS (
        SELECT DISTINCT lang, w1 AS token FROM edges
        UNION
        SELECT DISTINCT lang, w2 AS token FROM edges
    ),
    base AS (
        SELECT lang,
               {_TR_TOTAL} // count(*) AS m0,
               (15 * ({_TR_TOTAL} // count(*))) // 100 AS b
        FROM nodes GROUP BY lang
    ),
    r0 AS (
        SELECT n.lang, n.token, b.m0 AS m
        FROM nodes n JOIN base b ON b.lang = n.lang
    )
"""


def _tr_iter_duck(k: int) -> str:
    return f"""
    r{k} AS (
        SELECT n.lang, n.token,
               b.b + (85 * COALESCE(c.contrib, 0)) // 100 AS m
        FROM nodes n
        JOIN base b ON b.lang = n.lang
        LEFT JOIN (
            SELECT e.lang, e.w2 AS token,
                   CAST(sum((r.m * e.p_ppm) // {_TR_PPM}) AS BIGINT) AS contrib
            FROM r{k - 1} r
            JOIN ew e ON e.lang = r.lang AND e.w1 = r.token
            GROUP BY e.lang, e.w2
        ) c ON c.lang = n.lang AND c.token = n.token
    )"""


_TR_ORACLE = (
    "WITH "
    + _TR_GRAPH_DUCK
    + ","
    + ",".join(_tr_iter_duck(k) for k in range(1, _TR_ITERS + 1))
    + f""",
    ranked AS (
        SELECT lang, token, m,
               row_number() OVER (
                   PARTITION BY lang ORDER BY m DESC, token
               ) AS rank
        FROM r{_TR_ITERS}
    )
    SELECT lang, CAST(rank AS INT) AS rank, token, m
    FROM ranked WHERE rank <= {_TR_TOPK}
    """
)


@query("textrank_keywords", oracle=_TR_ORACLE)
def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction: weighted PageRank (damping 0.85,
    5 iterations) over the per-language bigram co-occurrence graph,
    reporting the top-10 tokens per lang — the second iterative graph
    algorithm in the engine after connected components, and the
    graph-centrality cousin of tfidf_top_terms for curation-time
    keyword/salience scoring.

    The iteration is FIXED-POINT INTEGER arithmetic end to end: node
    mass lives in micro-units of 10^-12 (m0 = 10^12 div N per lang),
    each edge carries its transition probability quantized to ppm
    (p_ppm = (wt * 10^6) div wsum <= 10^6), and the update rule is

        m'(v) = (15 * m0) div 100
              + (85 * SUM over u->v of (m(u) * p_ppm(u,v)) div 10^6) div 100

    — every operation BIGINT multiply/divide/sum, so five chained
    iterations are bit-identical across Spark and DuckDB (a float
    PageRank would accumulate engine-dependent ULP drift that no
    end-rounding can reliably hash), and every intermediate is
    PROVABLY in range at any corpus scale: m <= 10^12 (mass only
    shrinks) and p_ppm <= 10^6 bound the product at 10^18 < 2^63,
    where the naive (m * wt) div wsum form overflows once a
    stop-bigram count crosses ~9.2e6. Truncation loses bounded,
    *defined* mass per round — both engines lose exactly the same
    units, immaterial for ranking.

    Scale shape: the edge list (lang, w1, w2, wt) and out-strength
    table are built once (one combine-first O(tokens) shuffle) and
    localCheckpointed; each iteration is an equi-join of ranks
    against edges on (lang, w1) followed by one (lang, w2) partial
    aggregate — two bounded shuffles per round on the DISTINCT-bigram
    relation, never the raw token stream, with lineage cut per round
    exactly like the CC pointer-jumping loop (plans/dedup.py)."""
    d = _t(spark, sf_dir, "documents")
    bigrams = bigrams_spark(F.col("text"))
    pairs = d.select("lang", F.explode(bigrams).alias("p")).select(
        "lang", "p.w1", "p.w2"
    )
    from ..functions.materialize import iterate, transient

    # the returned ranking reads only the final ranks round; the graph
    # materializations (ew, nodes) have no reader past the block
    with transient(spark) as pin:
        # ew and nodes are pinned before the inner block exits, so the
        # raw edge checkpoint it frees has no remaining reader
        with transient(spark) as pin_edges:
            edges = pin_edges(
                pairs.groupBy("lang", "w1", "w2").agg(F.count("*").alias("wt"))
            )
            wsum = edges.groupBy("lang", "w1").agg(F.sum("wt").alias("wsum"))
            # edges carrying the source's transition probability in
            # ppm: the normalization join runs once, not once per
            # iteration, and the bounded p_ppm <= 10^6 is what keeps
            # every later multiply inside BIGINT (m * p_ppm <= 10^12 *
            # 10^6 < 2^63) at ANY corpus scale — the raw (m * wt) form
            # overflows once a stop-bigram's count exceeds ~9.2e6
            # against a hub node's mass
            ew = pin(
                edges.join(wsum, ["lang", "w1"]).select(
                    "lang",
                    "w1",
                    "w2",
                    F.expr(f"(wt * {_TR_PPM}) div wsum").alias("p_ppm"),
                )
            )
            nodes = pin(
                edges.select("lang", F.col("w1").alias("token"))
                .union(edges.select("lang", F.col("w2").alias("token")))
                .distinct()
            )
        base = nodes.groupBy("lang").agg(
            F.expr(f"{_TR_TOTAL} div count(*)").alias("m0"),
            F.expr(f"(15 * ({_TR_TOTAL} div count(*))) div 100").alias("b"),
        )
        ranks = nodes.join(F.broadcast(base), "lang").select(
            "lang", "token", F.col("m0").alias("m")
        )

        def step(ranks: DataFrame) -> DataFrame:
            # explicit renames: nodes/ew share lineage (exprIds survive
            # localCheckpoint), so qualified access would be ambiguous
            r = ranks.select(
                F.col("lang").alias("r_lang"),
                F.col("token").alias("r_token"),
                "m",
            )
            contrib = (
                r.join(
                    ew,
                    (F.col("r_lang") == F.col("lang"))
                    & (F.col("r_token") == F.col("w1")),
                )
                .select(
                    "lang",
                    F.col("w2").alias("token"),
                    F.expr(f"(m * p_ppm) div {_TR_PPM}").alias("c"),
                )
                .groupBy("lang", "token")
                .agg(F.sum("c").alias("contrib"))
            )
            return (
                nodes.join(contrib, ["lang", "token"], "left")
                .join(F.broadcast(base), "lang")
                .select(
                    "lang",
                    "token",
                    (
                        F.col("b")
                        + F.expr("(85 * COALESCE(contrib, 0L)) div 100")
                    ).alias("m"),
                )
            )

        ranks = iterate(ranks, step, _TR_ITERS)
    ranked = ranks.withColumn(
        "rank",
        F.row_number().over(
            W.partitionBy("lang").orderBy(F.col("m").desc(), F.col("token"))
        ),
    )
    return ranked.filter(F.col("rank") <= _TR_TOPK).select(
        "lang", "rank", "token", "m"
    )


# --------------------------------------- LM-based document scoring


@query(
    "text_lm_score",
    oracle=f"""
    WITH pairs AS (
        SELECT doc_id, lang, w1, w2
        FROM {bigrams_duck_from('documents', 'doc_id, lang')} b
    ),
    lm AS (
        SELECT lang, w1, w2,
               (count(*) * 1000000) //
               CAST(sum(count(*)) OVER (PARTITION BY lang, w1) AS BIGINT)
                   AS cond_ppm
        FROM pairs GROUP BY lang, w1, w2
    )
    SELECT p.doc_id, p.lang,
           count(*) AS n_bigrams,
           CAST(sum(lm.cond_ppm) AS BIGINT) // count(*) AS score_ppm
    FROM pairs p
    JOIN lm ON lm.lang = p.lang AND lm.w1 = p.w1 AND lm.w2 = p.w2
    GROUP BY p.doc_id, p.lang
    """,
)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document under the corpus bigram language model:
    train (aggregate bigram conditionals, integer ppm) and apply
    (join each document's bigram stream back against the model, mean
    conditional per doc) — the perplexity-style quality filter of a
    training-data pipeline, here with the LM self-trained on the
    scored corpus so every bigram is in-vocabulary and no smoothing
    constant has to be pinned across engines (production trains on a
    held-out slice and adds backoff; the plan is identical).

    All arithmetic is BIGINT (ppm conditionals, integer-mean per
    doc), so the score hashes bit-identically. Scale shape: one
    O(tokens) combine-first shuffle builds the model; the apply side
    is an equi-join of the O(tokens) bigram stream against the
    O(distinct bigrams) model on (lang, w1, w2) — left UNHINTED so
    AQE broadcasts the model iff it measures small (the
    tfidf-vocabulary lesson: a web-scale bigram table is GBs), then
    one partial-aggregating mean per doc."""
    d = _t(spark, sf_dir, "documents")
    bigrams = bigrams_spark(F.col("text"))
    pairs = d.select("doc_id", "lang", F.explode(bigrams).alias("p")).select(
        "doc_id", "lang", "p.w1", "p.w2"
    )
    lm = (
        pairs.groupBy("lang", "w1", "w2")
        .agg(F.count("*").alias("n_pair"))
        .withColumn(
            "cond_ppm",
            F.expr(
                "(n_pair * 1000000) div sum(n_pair)"
                " over (partition by lang, w1)"
            ),
        )
        .select(
            F.col("lang").alias("m_lang"),
            F.col("w1").alias("m_w1"),
            F.col("w2").alias("m_w2"),
            "cond_ppm",
        )
    )
    return (
        pairs.join(
            lm,
            (pairs["lang"] == lm["m_lang"])
            & (pairs["w1"] == lm["m_w1"])
            & (pairs["w2"] == lm["m_w2"]),
        )
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.expr("sum(cond_ppm) div count(*)").alias("score_ppm"),
        )
    )


# --------------------------------------------- triangle census

_TRI_DEG_CAP = 64


@query(
    "graph_triangle_census",
    oracle=f"""
    WITH pairs AS (
        SELECT lang, w1, w2 FROM {bigrams_duck_from('documents', 'lang')} b
    ),
    und AS (
        SELECT DISTINCT lang,
               least(w1, w2) AS a, greatest(w1, w2) AS b
        FROM pairs WHERE w1 <> w2
    ),
    deg AS (
        SELECT lang, node, count(*) AS d FROM (
            SELECT lang, a AS node FROM und
            UNION ALL SELECT lang, b FROM und
        ) GROUP BY lang, node
    ),
    kept AS (
        SELECT u.lang, u.a, u.b
        FROM und u
        JOIN deg da ON da.lang = u.lang AND da.node = u.a
        JOIN deg db ON db.lang = u.lang AND db.node = u.b
        WHERE da.d <= {_TRI_DEG_CAP} AND db.d <= {_TRI_DEG_CAP}
    ),
    wedges AS (
        SELECT e1.lang, e1.a, e1.b, e2.b AS c
        FROM kept e1 JOIN kept e2 ON e2.lang = e1.lang AND e2.a = e1.b
    ),
    tri AS (
        SELECT w.lang, count(*) AS n_triangles
        FROM wedges w
        JOIN kept e3 ON e3.lang = w.lang AND e3.a = w.a AND e3.b = w.c
        GROUP BY w.lang
    ),
    kdeg AS (
        SELECT lang, node, count(*) AS d FROM (
            SELECT lang, a AS node FROM kept
            UNION ALL SELECT lang, b FROM kept
        ) GROUP BY lang, node
    ),
    wcount AS (
        SELECT lang, CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges
        FROM kdeg GROUP BY lang
    ),
    ecount AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_edges FROM kept
        GROUP BY lang
    )
    SELECT e.lang, e.n_edges, w.n_wedges,
           CAST(coalesce(t.n_triangles, 0) AS BIGINT) AS n_triangles,
           (CAST(coalesce(t.n_triangles, 0) AS BIGINT) * 3000000)
               // w.n_wedges AS closure_ppm
    FROM ecount e
    JOIN wcount w ON w.lang = e.lang
    LEFT JOIN tri t ON t.lang = e.lang
    """,
)
def graph_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language triangle census of the bigram co-occurrence graph
    — edge/wedge/triangle counts (wedges = sum of C(deg, 2)
    over the capped graph) and the global clustering coefficient
    (3 x triangles / wedges, integer ppm — bounded by 1 since every
    triangle contains exactly 3 wedges) — the third
    graph primitive after connected components and PageRank, and the
    density diagnostic that tells you whether a token graph is
    hub-dominated boilerplate or genuinely clustered phrasing.

    Standard two-join triangle enumeration with the degree cap the
    ngram family uses everywhere: hub nodes (degree > 64 — stop-token
    territory) are dropped BEFORE wedge expansion, bounding candidate
    wedges at cap x edges instead of sum-of-degrees-squared; each
    ordered triangle (a < b < c) is counted exactly once by keeping
    edges canonically ordered, so the wedge join (e1.b = e2.a) and
    the closing equi-join cannot double-count. Both joins are plain
    equi-joins on (lang, node) keys — shuffled, AQE-skew-handled,
    never a cartesian."""
    d = _t(spark, sf_dir, "documents")
    pairs = d.select("lang", F.explode(bigrams_spark(F.col("text"))).alias("p")).select(
        "lang", "p.w1", "p.w2"
    )
    # the canonical edge list feeds THREE consumers (both degree
    # branches and the cap join's probe side); materialize the
    # explode-bigrams -> distinct pass once so the cap-join
    # checkpoint job below reads it instead of re-deriving it per
    # consumer (r17 optimization, guide §1.2) — pinned with the
    # returned result, drain_session releases it
    und = (
        pairs.filter(F.col("w1") != F.col("w2"))
        .select(
            "lang",
            F.least("w1", "w2").alias("a"),
            F.greatest("w1", "w2").alias("b"),
        )
        .distinct()
    ).localCheckpoint(eager=True)
    deg = (
        und.select("lang", F.col("a").alias("node"))
        .unionAll(und.select("lang", F.col("b").alias("node")))
        .groupBy("lang", "node")
        .agg(F.count("*").alias("deg"))
    )
    da = deg.select(
        F.col("lang").alias("la"), F.col("node").alias("a"), F.col("deg").alias("dg_a")
    )
    db = deg.select(
        F.col("lang").alias("lb"), F.col("node").alias("b"), F.col("deg").alias("dg_b")
    )
    kept = (
        und.join(da, (und["lang"] == da["la"]) & (und["a"] == da["a"]))
        .join(db, (und["lang"] == db["lb"]) & (und["b"] == db["b"]))
        .filter((F.col("dg_a") <= _TRI_DEG_CAP) & (F.col("dg_b") <= _TRI_DEG_CAP))
        .select(und["lang"], und["a"], und["b"])
        .localCheckpoint(eager=True)
    )
    e2 = kept.select(
        F.col("lang").alias("l2"), F.col("a").alias("m"), F.col("b").alias("c")
    )
    wedges = kept.join(
        e2, (kept["lang"] == e2["l2"]) & (kept["b"] == e2["m"])
    ).select("lang", "a", "b", "c")
    e3 = kept.select(
        F.col("lang").alias("l3"), F.col("a").alias("ta"), F.col("b").alias("tc")
    )
    tri = (
        wedges.join(
            e3,
            (wedges["lang"] == e3["l3"])
            & (wedges["a"] == e3["ta"])
            & (wedges["c"] == e3["tc"]),
        )
        .groupBy("lang")
        .agg(F.count("*").alias("n_triangles"))
    )
    kdeg = (
        kept.select("lang", F.col("a").alias("node"))
        .unionAll(kept.select("lang", F.col("b").alias("node")))
        .groupBy("lang", "node")
        .agg(F.count("*").alias("d"))
    )
    wcount = kdeg.groupBy("lang").agg(
        F.expr("sum(d * (d - 1) div 2)").cast("bigint").alias("n_wedges")
    )
    ecount = kept.groupBy("lang").agg(F.count("*").cast("bigint").alias("n_edges"))
    return (
        ecount.join(wcount, "lang")
        .join(tri, "lang", "left")
        .select(
            "lang",
            "n_edges",
            "n_wedges",
            F.coalesce("n_triangles", F.lit(0)).cast("bigint").alias("n_triangles"),
            F.expr(
                "(coalesce(n_triangles, 0L) * 3000000) div n_wedges"
            ).alias("closure_ppm"),
        )
    )


@query(
    "text_char_diversity",
    oracle="""
    WITH ch AS (
        SELECT doc_id, c, CAST(count(*) AS BIGINT) AS cnt
        FROM (
            SELECT doc_id, unnest(string_split(text, '')) AS c
            FROM documents
        ) WHERE c <> ''
        GROUP BY doc_id, c
    )
    SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_chars_tot,
           CAST(count(*) AS BIGINT) AS n_distinct_chars,
           CAST(floor(1000000.0 * sum(cnt * cnt) / (sum(cnt) * sum(cnt)))
                AS BIGINT) AS simpson_ppm
    FROM ch GROUP BY doc_id
    """,
)
def text_char_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-collision diversity (Simpson index, ppm): the
    probability two random characters of a document coincide —
    sum(cnt^2)/total^2 — a log-free repetitiveness/quality signal
    (gibberish and run-on repetition score high, natural prose low)
    that stays in integer counts until one exact final division, so
    it hashes across engines where an entropy (log) variant would
    drift in the last ulp. Plan: explode chars (narrow), two
    map-combined groupBys keyed by (doc, char) then doc — the same
    partial-agg ladder as a word count; no window, no join."""
    d = load_table(spark, sf_dir, "documents")
    chars = d.select(
        "doc_id",
        F.explode(F.filter(F.split("text", ""), lambda c: c != "")).alias("c"),
    )
    per_char = chars.groupBy("doc_id", "c").agg(F.count("*").alias("cnt"))
    return per_char.groupBy("doc_id").agg(
        F.sum("cnt").cast("bigint").alias("n_chars_tot"),
        F.count("*").cast("bigint").alias("n_distinct_chars"),
        F.floor(
            F.lit(1000000.0)
            * F.sum(F.col("cnt") * F.col("cnt"))
            / (F.sum("cnt") * F.sum("cnt"))
        )
        .cast("bigint")
        .alias("simpson_ppm"),
    )


# ------------------------------------------------------ BM25 retrieval

_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TERMS = ("dup", "vector", "merge")  # rare + two common (df check
# in docstring); the rare term dominates ranking via its idf
_BM25_TOPK = 10

_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)

def _bm25_postings(d: DataFrame) -> DataFrame:
    """The postings seek: explode tokens, keep ONLY query-term rows
    (the filter sits between explode and aggregation, so nothing but
    query-term occurrences crosses the exchange), cluster by doc_id
    once, and reduce to (doc_id, dl, term, tf). Plan shape pinned by
    tests/test_round10_ops.py::test_bm25_postings_plan."""
    occ = d.select(
        "doc_id",
        F.size("toks").alias("dl"),
        F.explode("toks").alias("term"),
    ).filter(F.col("term").isin(*_BM25_TERMS))
    return (
        spread(occ, "doc_id")
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )


# the per-doc BM25 relation as shared CTEs: search_bm25_topk selects
# its top-k; search_hybrid_rrf fuses its ranks with the vector branch
_BM25_PERDOC_CTES = f"""
    d AS (
        SELECT doc_id, {tokens_duck('text')} AS toks
        FROM documents WHERE n_chars > 0
    ),
    stats AS (
        SELECT count(*) AS n,
               CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl
        FROM d
    ),
    base AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM d),
    tf AS (
        SELECT doc_id, dl, term, count(*) AS tf
        FROM base WHERE term IN ({_BM25_TERMS_SQL})
        GROUP BY doc_id, dl, term
    ),
    dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    scored AS (
        SELECT tf.doc_id,
               CAST(round(
                   ln(1.0 + (n - df + 0.5) / (df + 0.5))
                   * (tf * {_BM25_K1 + 1.0})
                   / (tf + {_BM25_K1}
                      * (1.0 - {_BM25_B} + {_BM25_B} * (dl / avgdl)))
                   * 1000000.0) AS BIGINT) AS e6
        FROM tf JOIN dft USING (term), stats
    ),
    per_doc AS (
        SELECT doc_id, CAST(sum(e6) AS BIGINT) AS score_e6,
               CAST(count(*) AS BIGINT) AS n_terms
        FROM scored GROUP BY doc_id
    )"""

_BM25_ORACLE = f"""
    WITH {_BM25_PERDOC_CTES},
    top AS (
        SELECT * FROM per_doc
        ORDER BY score_e6 DESC, doc_id ASC LIMIT {_BM25_TOPK}
    )
    SELECT CAST(row_number() OVER (ORDER BY score_e6 DESC, doc_id ASC) AS INT)
               AS rank,
           doc_id, n_terms, score_e6
    FROM top
"""


def _bm25_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, score_e6, n_terms) for every document matching at
    least one query term — the relation both retrieval queries rank.
    Plan shape (single corpus explode via the postings
    materialization, broadcast df/stats) is described in
    search_bm25_topk's docstring and pinned in
    tests/test_round10_ops.py."""
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("n_chars") > 0)
        .select("doc_id", tokens_spark(F.col("text")).alias("toks"))
    )
    stats = d.agg(
        F.count("*").alias("n"),
        (F.sum(F.size("toks")).cast("double") / F.count("*")).alias("avgdl"),
    )
    # materialize the query-term postings ONCE per session: both
    # consumers below (df count + per-doc sum) AND both retrieval
    # queries read this single checkpoint, instead of each recompiling
    # the scan->explode->shuffle lineage (and leaking a second copy of
    # its blocks, r10 ADVICE)
    from ..functions.materialize import memo_checkpoint

    tf = memo_checkpoint(
        spark,
        ("bm25_postings", os.path.realpath(sf_dir)),
        lambda: _bm25_postings(d),
    )
    dft = tf.groupBy("term").agg(F.count("*").alias("df"))
    contrib = (
        F.log(
            F.lit(1.0)
            + (F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        )
        * (F.col("tf") * F.lit(_BM25_K1 + 1.0))
        / (
            F.col("tf")
            + F.lit(_BM25_K1)
            * (
                F.lit(1.0)
                - F.lit(_BM25_B)
                + F.lit(_BM25_B) * (F.col("dl") / F.col("avgdl"))
            )
        )
        * F.lit(1000000.0)
    )
    return (
        tf.join(F.broadcast(dft), "term")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", F.round(contrib, 0).cast("bigint").alias("e6"))
        .groupBy("doc_id")
        .agg(
            F.sum("e6").alias("score_e6"),
            F.count("*").alias("n_terms"),
        )
    )


@query("search_bm25_topk", oracle=_BM25_ORACLE)
def search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 full-text retrieval (k1=1.2, b=0.75, Lucene idf
    ln(1+(N-df+0.5)/(df+0.5))): top-10 documents for a fixed 3-term
    query — the lexical-search complement to the embedding ANN
    family (similarity_topk_*), and the second half of a hybrid
    retrieval stack.

    Determinism: each (doc, term) contribution is rounded to a ppm
    BIGINT before the per-doc sum, so the score is an order-free
    integer sum (same convention as textrank_keywords' fixed-point
    ranks) and selection/ranking run entirely on integers with a
    doc_id tiebreak.

    Scale shape: the term filter lands BEFORE the tf aggregation, so
    only query-term postings are ever grouped (at web scale: the
    inverted-index seek, not a corpus scan-and-group); dl rides the
    explode as a narrow column (no separate doc-length join); the
    3-row df table and 1-row corpus stats broadcast; the final top-k
    is TakeOrderedAndProject. The filtered postings are
    hash-partitioned on doc_id ONCE and reduced to (doc,dl,term,tf),
    then MATERIALIZED (localCheckpoint — the transient
    inverted-index build): the df aggregation and the per-doc score
    sum both read the materialized postings, so the corpus-sized
    explode is computed and shuffled exactly once; every exchange
    after the materialization moves only the REDUCED postings
    (O(sum of query-term df) rows, not corpus rows). Without the
    materialization, Catalyst compiles df's lineage as a SECOND full
    scan+explode+shuffle of the corpus — the broadcast subtree does
    not reuse the main tree's exchange (pinned the hard way in
    tests/test_round10_ops.py: the final plan may contain exactly ONE
    parquet scan, the stats branch). In production both sides come
    from index-time artifacts (doc-length norms + postings), so the
    per-query cost is the seek, not the scan. Reference analog: none
    — the reference has no text retrieval; modeled on Lucene/ES BM25
    semantics."""
    per_doc = _bm25_per_doc(spark, sf_dir)
    top = per_doc.orderBy(F.col("score_e6").desc(), F.col("doc_id").asc()).limit(
        _BM25_TOPK
    )
    # rank window runs over the k surviving rows only (post-limit)
    w = W.orderBy(F.col("score_e6").desc(), F.col("doc_id").asc())
    return top.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "doc_id",
        "n_terms",
        "score_e6",
    )


# ------------------------------------------- hybrid retrieval (RRF)

_RRF_DEPTH = 50  # per-branch candidate depth
_RRF_K0 = 60  # standard RRF damping constant
_RRF_TOPK = 10
_RRF_QVEC = 0  # the fixed query: embedding of item 0

_RRF_ORACLE = f"""
    WITH {_BM25_PERDOC_CTES},
    lex AS (
        SELECT doc_id,
               CAST(row_number() OVER (
                   ORDER BY score_e6 DESC, doc_id ASC) AS INT) AS lex_rank
        FROM per_doc ORDER BY score_e6 DESC, doc_id ASC LIMIT {_RRF_DEPTH}
    ),
    qv AS (
        SELECT embedding AS qe FROM embeddings WHERE vec_id = {_RRF_QVEC}
    ),
    vscored AS (
        SELECT vec_id, {cosine_duck('qe', 'embedding')} AS cos
        FROM embeddings, qv WHERE vec_id != {_RRF_QVEC}
    ),
    vec AS (
        SELECT vec_id AS doc_id,
               CAST(row_number() OVER (
                   ORDER BY cos DESC, vec_id ASC) AS INT) AS vec_rank
        FROM vscored ORDER BY cos DESC, vec_id ASC LIMIT {_RRF_DEPTH}
    ),
    fused AS (
        SELECT doc_id, l.lex_rank, v.vec_rank,
               CAST(coalesce(1000000000 // ({_RRF_K0} + l.lex_rank), 0)
                  + coalesce(1000000000 // ({_RRF_K0} + v.vec_rank), 0)
                  AS BIGINT) AS rrf_ppb
        FROM lex l FULL OUTER JOIN vec v USING (doc_id)
    ),
    top AS (
        SELECT * FROM fused ORDER BY rrf_ppb DESC, doc_id ASC LIMIT {_RRF_TOPK}
    )
    SELECT CAST(row_number() OVER (ORDER BY rrf_ppb DESC, doc_id ASC) AS INT)
               AS rank,
           doc_id, lex_rank, vec_rank, rrf_ppb
    FROM top
"""


@query("search_hybrid_rrf", oracle=_RRF_ORACLE)
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (k0=60) of the BM25
    lexical branch (search_bm25_topk's per-doc relation, fixed 3-term
    query) and an embedding-cosine branch (fixed query = item 0's
    vector over the embeddings table, which shares the documents id
    space) — the fusion step that completes the hybrid stack the two
    retrieval families provide halves of. Items surface on lexical
    evidence alone, vector evidence alone, or both (full-outer
    fusion), matching Cormack et al.'s RRF as used by
    Elasticsearch/OpenSearch hybrid search.

    Determinism: each branch contributes floor(1e9/(k0+rank)) as an
    EXACT integer division of the branch's integer rank, so the fused
    score is a sum of BIGINTs — no float addition to drift — and the
    final selection runs on (rrf_ppb, doc_id) integers. Branch ranks
    themselves follow the established conventions: BM25 ranks are ppm
    integers; cosine ranks order identically in both engines because
    cosine_spark/cosine_duck share one fold order.

    Scale shape: the lexical branch pays the postings seek (see
    search_bm25_topk); the vector branch is one broadcast query row
    against the embedding scan with TakeOrderedAndProject depth-50
    selection (swap in the IVF/LSH variants from plans/vector.py for
    a billion-vector corpus — the fusion is rank-based, so the
    branch's retrieval algorithm is a plug); fusion itself joins two
    <=depth-row lists (broadcast, sub-millisecond at any corpus
    size). A regression anywhere in either branch's top-50 ORDER
    shifts a rank and breaks the fused hash. Reference analog: none —
    modeled on RRF (Cormack/Clarke/Buettcher, SIGIR'09) and
    Lucene-style hybrid retrieval."""
    per_doc = _bm25_per_doc(spark, sf_dir)
    w_lex = W.orderBy(F.col("score_e6").desc(), F.col("doc_id").asc())
    lex = (
        per_doc.orderBy(F.col("score_e6").desc(), F.col("doc_id").asc())
        .limit(_RRF_DEPTH)
        .select(
            "doc_id",
            F.row_number().over(w_lex).cast("int").alias("lex_rank"),
        )
    )
    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == _RRF_QVEC).select(
        F.col("embedding").alias("qe")
    )
    vscored = (
        emb.filter(F.col("vec_id") != _RRF_QVEC)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id", cosine_spark(F.col("qe"), F.col("embedding")).alias("cos")
        )
    )
    w_vec = W.orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    vec = (
        vscored.orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(_RRF_DEPTH)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.row_number().over(w_vec).cast("int").alias("vec_rank"),
        )
    )
    rrf = (
        F.coalesce(
            F.expr(f"1000000000 DIV ({_RRF_K0} + lex_rank)"), F.lit(0)
        )
        + F.coalesce(
            F.expr(f"1000000000 DIV ({_RRF_K0} + vec_rank)"), F.lit(0)
        )
    ).cast("bigint")
    fused = lex.join(vec, "doc_id", "full_outer").select(
        "doc_id", "lex_rank", "vec_rank", rrf.alias("rrf_ppb")
    )
    top = fused.orderBy(F.col("rrf_ppb").desc(), F.col("doc_id").asc()).limit(
        _RRF_TOPK
    )
    w_out = W.orderBy(F.col("rrf_ppb").desc(), F.col("doc_id").asc())
    return top.select(
        F.row_number().over(w_out).cast("int").alias("rank"),
        "doc_id",
        "lex_rank",
        "vec_rank",
        "rrf_ppb",
    )
