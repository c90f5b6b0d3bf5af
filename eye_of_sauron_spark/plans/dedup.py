"""Deduplication operators over the ``documents`` / ``embeddings``
corpora: exact (content hash), MinHash-LSH, SimHash, exact n-gram
Jaccard, and embedding-cosine near-dup.

These are the LLM-training-data-pipeline operators mandated beyond the
reference's own surface (SURVEY.md §2 Part B last row). Every pipeline
below is banded/bucketed — candidate generation is always an equi-join
on a derived key (hash, band signature, simhash band, label), never an
all-pairs cross product, which is what makes the same plan run at
100 TB: the only shuffles are group-bys on derived keys and the
candidate joins touch O(collisions), not O(n^2).

Hashing is md5-based portable arithmetic (see functions/hashing.py) so
the DuckDB oracle reproduces signatures bit-for-bit; swap xxhash64 in
production for ~2x hash throughput.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.hashing import (
    hex32_at_duck,
    hex32_at_spark,
    hex32_duck,
    hex32_spark,
    minhash_u_duck,
    minhash_u_spark,
)
from ..functions.text import shingles_duck, shingles_spark, tokens_duck, tokens_spark
from ..functions.vector import (
    cosine_duck,
    cosine_spark,
    euclid_duck,
    euclid_spark,
)
from ..sources import load_table
from .registry import query
from .vector import hyperplane_sig_duck, hyperplane_sig_spark

# MinHash parameters: 16 hash functions in 8 bands of 2 rows. With
# band-match probability 1-(1-j^2)^8, a pair at jaccard 0.9 is caught
# with p > 1-1e-7; candidates are then verified with exact jaccard, so
# the band layout only affects recall, never precision.
_MINHASH_K = 16
_MINHASH_BANDS = 8
_JACCARD_THRESHOLD = 0.8

# SimHash signature width. 64 bits, carried as two non-negative 32-bit
# halves (lo, hi) so every shift/mod/xor stays inside portable BIGINT
# arithmetic on both engines (a single 64-bit int needs a 2^63 literal,
# which overflows a Java signed long at plan construction, and puts
# bit 63 in the sign position where div/mod semantics diverge). The
# token hash is the full md5 width: hex chars 1-8 -> lo half, 9-16 ->
# hi half (functions/hashing.py::hex32_at_*), so all 64 signature bits
# carry real entropy. 8 bands of 8 bits (4 per half) are pigeonhole-
# complete for hamming <= 7 >= _HAMMING_MAX. The r02 10x probe
# saturated 32-bit signatures (7.6M pairs — random collisions at
# density); 64 bits restore MinHash-comparable selectivity (SCALE.md).
_SIMHASH_HALF_BITS = 32
_SIMHASH_BAND_BITS = 8
_SIMHASH_BANDS_PER_HALF = _SIMHASH_HALF_BITS // _SIMHASH_BAND_BITS  # 4
_HAMMING_MAX = 3

# Embedding near-dup parameters. 0.9 is a realistic near-dup bar; the
# synthetic fixture has no natural pairs above cosine 0.51, so the
# corpus re-ingests every 5th vector with a small deterministic drift
# (the embedding analog of dedup_exact's re-crawl) — planted pairs land
# at cosine ~0.9985. Candidate generation sub-buckets each label by a
# 64-bit random-hyperplane signature in 8 bands of 8 bits: any pair
# whose signatures differ in <= 7 bits collides on at least one band
# (pigeonhole), so recall is structural for near-identical vectors;
# measured on the fixtures, banding finds 100% of cosine>=0.9 pairs
# while cutting candidates ~25x vs label-only (tests/test_plans.py).
_COSINE_NEARDUP = 0.9
_EMB_PLANES = 64
_EMB_BANDS = 8
_EMB_BAND_BITS = _EMB_PLANES // _EMB_BANDS
_EMB_DRIFT = 0.005
_EMB_COPY_OFFSET = 1_000_000


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _spread(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition on ``keys`` with an EXPLICIT partition count before
    CPU-heavy narrow work. The local fixtures scan as a single parquet
    split, which would serialize shingling/hashing on one core — and
    the byte-based AQE coalescer would undo a bare ``repartition(key)``
    (tiny bytes, huge per-row CPU), so the count is pinned to
    defaultParallelism, which AQE respects. At 100 TB the exchange is
    no-op-sized relative to the scan and also evens out skewed input
    file sizes."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *keys)


@query(
    "dedup_exact",
    oracle="""
    WITH corpus AS (
        SELECT * FROM documents
        UNION ALL
        SELECT * FROM documents WHERE doc_id % 7 = 0
    )
    SELECT lang,
           count(*) AS n_rows,
           count(DISTINCT md5(text)) AS n_unique,
           CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_dups_removed
    FROM corpus
    GROUP BY lang
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash over a corpus with duplicated ingest
    (every 7th document re-ingested, simulating a re-crawl).

    At scale: one groupBy on md5(text) — partial agg makes shuffle
    volume O(distinct docs); with doc bodies large, hash first and
    shuffle only (hash, doc_id), never the text.
    """
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.unionAll(docs.filter(F.col("doc_id") % 7 == 0))
    return corpus.groupBy("lang").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
        (F.count("*") - F.countDistinct(F.md5("text")))
        .cast("bigint")
        .alias("n_dups_removed"),
    )


def _affine_lists() -> tuple[str, str]:
    from ..functions.hashing import minhash_affine

    pairs = [minhash_affine(s) for s in range(_MINHASH_K)]
    return (
        "[" + ", ".join(str(a) for a, _ in pairs) + "]",
        "[" + ", ".join(str(b) for _, b in pairs) + "]",
    )


_A_LIST, _B_LIST = _affine_lists()

@query(
    "dedup_exact_keep_first",
    oracle="""
    WITH corpus AS (
        SELECT * FROM documents
        UNION ALL
        SELECT * FROM documents WHERE doc_id % 7 = 0
    )
    SELECT min(doc_id) AS doc_id,
           arg_min(lang, doc_id) AS lang,
           arg_min(source, doc_id) AS source,
           arg_min(n_chars, doc_id) AS n_chars,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM corpus
    GROUP BY md5(text)
    """,
)
def dedup_exact_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operator form of exact dedup: the SURVIVING row per content
    hash (lowest doc_id wins) plus its copy count — what a training-
    data pipeline actually materializes, vs dedup_exact's audit stats.

    At scale: one partial-aggregated groupBy on md5(text); only the
    keep-columns shuffle (never the text body). min(struct(...))
    selects the keeper without a second ranking pass.
    """
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.unionAll(docs.filter(F.col("doc_id") % 7 == 0))
    keeper = F.min(F.struct("doc_id", "lang", "source", "n_chars")).alias("m")
    return (
        corpus.groupBy(F.md5("text").alias("h"))
        .agg(keeper, F.count("*").alias("n_copies"))
        .select(
            F.col("m.doc_id").alias("doc_id"),
            F.col("m.lang").alias("lang"),
            F.col("m.source").alias("source"),
            F.col("m.n_chars").alias("n_chars"),
            F.col("n_copies"),
        )
    )


def _minhash_oracle_sql(n_bands: int) -> str:
    """The MinHash-LSH near-dup oracle, parameterized by band count
    at fixed _MINHASH_K hashes (rows per band = K / n_bands). The
    registered single-point oracle below is this at _MINHASH_BANDS,
    byte-for-byte; the band-count ladder reuses it per rung."""
    return f"""
    WITH sh AS (
        SELECT doc_id, unnest({shingles_duck('text')}) AS shingle
        FROM documents
    ),
    hashed AS (
        SELECT doc_id, {hex32_duck('shingle')} AS h FROM sh
    ),
    minh AS (
        SELECT doc_id, s.s AS seed,
               min(({_A_LIST}[s.s + 1] * h + {_B_LIST}[s.s + 1]) % 2147483647)
                   AS mh
        FROM hashed, unnest(range(0, {_MINHASH_K})) AS s(s)
        GROUP BY doc_id, s.s
    ),
    bands AS (
        SELECT doc_id, CAST(floor(seed / {_MINHASH_K // n_bands}) AS BIGINT)
                   AS band,
               string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed) AS sig
        FROM minh GROUP BY doc_id, band
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.da, c.db, count(*) AS i
        FROM cand c
        JOIN sh x ON x.doc_id = c.da
        JOIN sh y ON y.doc_id = c.db AND y.shingle = x.shingle
        GROUP BY c.da, c.db
    )
    SELECT i.da AS doc_a, i.db AS doc_b,
           round(i.i / (sa.n + sb.n - i.i), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.da
    JOIN sizes sb ON sb.doc_id = i.db
    WHERE i.i / (sa.n + sb.n - i.i) >= {_JACCARD_THRESHOLD}
"""


_MINHASH_ORACLE = _minhash_oracle_sql(_MINHASH_BANDS)


def _band_sigs(hs, n_bands: int = _MINHASH_BANDS):
    """All ``n_bands`` banded signatures from a PRE-HASHED shingle
    array (one md5 per shingle, materialized as its own projection so
    it is computed once, not once per minhash function): every
    function is then 3 integer ops over the hash array — no
    per-shingle explode, no groupBy, no k-fold rehashing. Signature
    computation shuffles nothing at any scale. Band ``b`` always
    covers the contiguous seed range [b*K/n_bands, (b+1)*K/n_bands),
    so a coarser layout's bands are unions of a finer layout's bands
    whenever the coarse count divides the fine count — the nesting
    the band-count ladder's monotonicity proof rides."""
    assert _MINHASH_K % n_bands == 0, (_MINHASH_K, n_bands)
    rows_per_band = _MINHASH_K // n_bands

    def mh(seed: int):
        return F.array_min(F.transform(hs, lambda h: minhash_u_spark(seed, h)))

    return F.array(
        *[
            F.concat_ws(
                "|", *[mh(b * rows_per_band + r) for r in range(rows_per_band)]
            )
            for b in range(n_bands)
        ]
    )


def _minhash_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The narrow shingling prefix shared by every MinHash path:
    (doc_id, sh) for non-empty-shingle documents, spread across
    cores."""
    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")
    # the non-empty-shingles gate is stated on the TOKEN count (tokens
    # >= shingle width <=> shingles non-empty): pushdown clones scan-
    # side filters below the spread exchange, and this form costs one
    # split() there instead of the full shingling expression a
    # size(sh)>0 filter would inline (see plans/decontam.py)
    return docs.filter(F.size(tokens_spark(F.col("text"))) >= 3).select(
        "doc_id", shingles_spark(F.col("text")).alias("sh")
    )


def _minhash_lsh_pairs(
    spark: SparkSession, sf_dir: str, n_bands: int = _MINHASH_BANDS
) -> DataFrame:
    """The MinHash-LSH pipeline at a given band count (fixed
    _MINHASH_K hashes) — the registered query below is this at
    _MINHASH_BANDS; the band-count ladder runs the same rung pipeline
    per rung over a shared materialized prefix (r17 optimization)."""
    # NOT checkpointed (r17 optimization round, measured negative):
    # unlike the self-join pipelines above, AQE's runtime exchange
    # reuse already dedupes this shape's repeated subtrees (5 jobs
    # executed), and an eager shared-pass checkpoint — the band
    # ladder's trick, profitable there because THREE rungs consume it
    # — added a synchronous materialization barrier for a single rung:
    # interleaved A/B read 1.26x WORSE (jobs 5 -> 8).
    base = _minhash_base(spark, sf_dir)
    hashed = base.select(
        "doc_id", F.transform("sh", hex32_spark).alias("hs")
    )
    return _lsh_pairs_from(spark, base, hashed, n_bands)


def _lsh_pairs_from(
    spark: SparkSession, base: DataFrame, hashed: DataFrame, n_bands: int
) -> DataFrame:
    """The banded rung pipeline over a (doc_id, sh) base relation and
    its (doc_id, hs) pre-hashed view: band signatures -> (band, sig)
    bucket self-join -> exact-jaccard verification. Factored out of
    :func:`_minhash_lsh_pairs` (identical math, plan unchanged for
    the single-rung callers) so the band-count ladder can feed every
    rung from ONE materialized shingle+hash pass instead of repeating
    the scan->shingle->md5->minhash prefix per rung (guide §1.2: the
    distributed algorithm first — don't compute things three times)."""
    # posexplode_OUTER: exempt from InferFiltersFromGenerate, whose
    # size/notnull constraint would re-evaluate all 8 band signatures
    # below the exchange (the band array is never empty — 8 literals)
    bands = hashed.select(
        "doc_id",
        F.posexplode_outer(_band_sigs(F.col("hs"), n_bands)).alias("band", "sig"),
    )
    a = bands.select(
        F.col("doc_id").alias("da"), F.col("band").alias("b1"), F.col("sig").alias("s1")
    )
    b = bands.select(
        F.col("doc_id").alias("db"), F.col("band").alias("b2"), F.col("sig").alias("s2")
    )
    cand = (
        a.join(b, (a.b1 == b.b2) & (a.s1 == b.s2) & (a.da < b.db))
        .select("da", "db")
        .distinct()
    )
    # one shuffled copy of the shingle arrays feeds BOTH verify joins:
    # the two join branches have byte-identical subplans up to this
    # exchange, so the physical planner reuses it (ReusedExchange) —
    # shingling runs once for verification instead of once per side
    verify = base.repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    pairs = cand.join(
        verify.select(F.col("doc_id").alias("da"), F.col("sh").alias("sha")), "da"
    ).join(verify.select(F.col("doc_id").alias("db"), F.col("sh").alias("shb")), "db")
    i = F.size(F.array_intersect("sha", "shb"))
    jac = i / (F.size("sha") + F.size("shb") - i)
    return (
        pairs.select("da", "db", jac.alias("jac"))
        .filter(F.col("jac") >= _JACCARD_THRESHOLD)
        .select(
            F.col("da").alias("doc_a"),
            F.col("db").alias("doc_b"),
            F.round("jac", 6).alias("jaccard"),
        )
    )


@query("dedup_minhash_lsh", oracle=_MINHASH_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup detection: shingle -> 16 min-hashes ->
    8 banded signatures -> bucket equi-join for candidates -> exact
    jaccard verification >= 0.8.

    Scale shape: signatures are computed per-document with
    higher-order folds (zero shuffle, O(docs x 8) band rows out); the
    candidate join keys on (band, signature) so only colliding
    buckets meet — never an all-pairs comparison; verification is
    array_intersect on the two shingle arrays, joined only for the
    (few) candidate pairs. The reference has no dedup at all; its
    nearest analog is 'smart' frame skipping
    (frame_producer.py:110-119), exact-dup dropping at the source.
    """
    return _minhash_lsh_pairs(spark, sf_dir, _MINHASH_BANDS)


def _minhash_pairs_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized OUTPUT of :func:`dedup_minhash_lsh` — the
    (doc_a, doc_b, jaccard) near-dup pair relation, O(near-dup pairs)
    rows (broadcast-sized), consumed by three downstream registered
    queries (the recall audit's candidate side, the CC keeper
    election's edge list, the multimodal union's text edges). A
    production pipeline emits this relation once and every downstream
    stage reads it; re-running the full shingle->minhash->band->verify
    pipeline per consumer bought nothing (r17 optimization,
    guide §1.2). The registered ``dedup_minhash_lsh`` row itself keeps
    computing the full pipeline — it IS the measurement of the banded
    pass — and drain_session releases the slot, so every
    driver/oracle invocation still computes from the parquet inputs."""
    from ..functions.materialize import memo_checkpoint

    return memo_checkpoint(
        spark,
        ("minhash_lsh_pairs", os.path.realpath(sf_dir)),
        lambda: dedup_minhash_lsh(spark, sf_dir),
    )


# Document-frequency cutoff for the postings index: a shingle shared
# by m documents emits O(m^2) candidate pairs, and a natural-language
# stop-shingle ("one of the") can have df in the millions at 100 TB —
# one such posting row OOMs its task. Shingles that common carry no
# near-dup signal (exactly like stopwords in retrieval), so postings
# wider than the cap are dropped BEFORE pair emission on both engines.
# 64 is ~2.5x the max fixture df (25 at sf0.1), so fixture results are
# unchanged while the worst-case per-shingle emission is bounded at
# 64^2 regardless of corpus size.
#
# The cap is a CORPUS PARAMETER, not a universal constant: every
# shingle's df scales with the corpus duplication factor, so a cap
# tuned for one density drops the near-dup signal itself at higher
# density (measured at the 10x probe: cap=64 -> 0 pairs; cap=640 ->
# the exact full-recall result, 3.4x faster than the uncapped r02
# run; SCALE.md). Size it ~base_cap x expected duplication, and watch
# ngram_dropped_shingle_count in production — a dropped-count spike
# means the cap is eating signal, not stopwords.
_NGRAM_DF_CAP = 64

_NGRAM_ORACLE = f"""
    WITH sh AS (
        SELECT doc_id, unnest({shingles_duck('text')}) AS shingle
        FROM documents
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    keep AS (
        SELECT shingle FROM sh GROUP BY shingle
        HAVING count(*) BETWEEN 2 AND {_NGRAM_DF_CAP}
    ),
    inter AS (
        SELECT x.doc_id AS da, y.doc_id AS db, count(*) AS i
        FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        WHERE x.shingle IN (SELECT shingle FROM keep)
        GROUP BY x.doc_id, y.doc_id
    )
    SELECT i.da AS doc_a, i.db AS doc_b,
           CAST(sa.n AS BIGINT) AS n_shingles_a,
           CAST(sb.n AS BIGINT) AS n_shingles_b,
           round(i.i / (sa.n + sb.n - i.i), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.da
    JOIN sizes sb ON sb.doc_id = i.db
    WHERE i.i / (sa.n + sb.n - i.i) >= {_JACCARD_THRESHOLD}
"""


def ngram_jaccard_pairs(docs: DataFrame, df_cap: int = _NGRAM_DF_CAP) -> DataFrame:
    """(doc_a, doc_b, n_shingles_a, n_shingles_b, jaccard) for pairs at
    Jaccard >= _JACCARD_THRESHOLD over 3-word shingles, via an
    inverted-index (postings) join with a document-frequency cutoff."""
    base = docs.select("doc_id", shingles_spark(F.col("text")).alias("sh"))
    # shingle arrays are distinct, so each doc's postings count IS its
    # array size — attach it BEFORE the explode so it rides the
    # postings structs and the query needs ZERO joins (a sizes join
    # here invites the planner to mis-broadcast the giant pair
    # aggregate on bad post-explode estimates — observed at 10x).
    # explode_OUTER + isnotnull, not plain explode: the non-outer
    # Generate's inferred `size(sh)>0` constraint would be pushed below
    # the spread exchange with the WHOLE shingling expression inlined,
    # serializing it on the scan's single input split (see
    # plans/decontam.py; measured 2.5x there).
    sh = base.select(
        "doc_id",
        F.size("sh").cast("bigint").alias("n"),
        F.explode_outer("sh").alias("shingle"),
    ).filter(F.col("shingle").isNotNull())
    # inverted index WITHOUT a self-join: group the postings per
    # shingle, drop df=1 shingles (they generate no pairs — usually
    # the vast majority) and df>cap stop-shingles (no near-dup signal,
    # O(df^2) pair blowup), and emit the ordered (da < db) pairs with
    # TWO explodes. The two-stage shape keeps every materialized
    # array O(df) — a single nested flatten would build the full
    # O(df^2) pair array of a hot shingle in one row's memory.
    postings = (
        sh.groupBy("shingle")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "n"))).alias("ds"))
        .filter(F.size("ds").between(2, df_cap))
    )
    pairs = postings.select(
        "ds", F.posexplode("ds").alias("i", "a")
    ).select(
        "a", F.explode(F.slice("ds", F.col("i") + 2, F.size("ds"))).alias("b")
    )
    inter = pairs.groupBy(
        F.col("a.doc_id").alias("da"),
        F.col("a.n").alias("na"),
        F.col("b.doc_id").alias("db"),
        F.col("b.n").alias("nb"),
    ).agg(F.count("*").alias("i"))
    jac = F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.filter(jac >= _JACCARD_THRESHOLD)
        .select(
            F.col("da").alias("doc_a"),
            F.col("db").alias("doc_b"),
            F.col("na").alias("n_shingles_a"),
            F.col("nb").alias("n_shingles_b"),
            F.round(jac, 6).alias("jaccard"),
        )
    )


def ngram_dropped_shingle_count(docs: DataFrame, df_cap: int = _NGRAM_DF_CAP) -> DataFrame:
    """Single-row (dropped_shingles, max_df) diagnostic: how many
    distinct shingles the df-cutoff removed from the postings index.
    Log this alongside production runs — silent truncation reads as
    full coverage when it isn't."""
    sh = docs.select(
        "doc_id", F.explode(shingles_spark(F.col("text"))).alias("shingle")
    )
    dfs = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    return dfs.agg(
        F.sum(F.when(F.col("df") > df_cap, 1).otherwise(0)).alias("dropped_shingles"),
        F.max("df").alias("max_df"),
    )


@query("dedup_ngram_jaccard", oracle=_NGRAM_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup via an inverted-index (postings)
    join on shingles — the exact-answer baseline MinHash-LSH
    approximates.

    Scale shape: a shingle shared by m docs contributes O(m^2) pairs,
    so postings wider than _NGRAM_DF_CAP are dropped before pair
    emission (stop-shingles carry no near-dup signal); per-shingle
    work is thereby bounded at cap^2 regardless of corpus size. Use
    ngram_dropped_shingle_count for the dropped-postings diagnostic.
    """
    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")
    return ngram_jaccard_pairs(docs)


_MINHASH_RECALL_ORACLE = f"""
    WITH lsh AS ({_MINHASH_ORACLE}),
         exact AS ({_NGRAM_ORACLE})
    SELECT e.doc_a, e.doc_b, e.jaccard,
           (l.doc_a IS NOT NULL) AS in_candidates
    FROM exact e
    LEFT JOIN lsh l ON l.doc_a = e.doc_a AND l.doc_b = e.doc_b
"""


def _candidate_flags(exact: DataFrame, lsh: DataFrame) -> DataFrame:
    """One row per ground-truth pair with an ``in_candidates`` flag:
    ``exact`` (doc_a, doc_b, jaccard) left-joined against the LSH
    candidate pairs (aliased la/lb). Shared by the registered recall
    contract and every rung of the band-count ladder — middle-rung
    row-identity holds by construction, the vector.py ladder pattern
    (code-review r17). The (doc_a, doc_b) equi join is left unhinted
    so AQE broadcasts the LSH side when it is audit-sized."""
    return exact.join(
        lsh,
        (F.col("doc_a") == F.col("la")) & (F.col("doc_b") == F.col("lb")),
        "left",
    ).select(
        "doc_a",
        "doc_b",
        "jaccard",
        F.col("la").isNotNull().alias("in_candidates"),
    )


@query("dedup_minhash_recall", oracle=_MINHASH_RECALL_ORACLE)
def dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit of the banded MinHash-LSH near-dup pass against
    the EXACT all-pairs Jaccard >= 0.8 ground truth — the text-dedup
    mirror of the ANN family's recall contracts
    (similarity_{{lsh,ivf,sq8}}_recall): one row per ground-truth pair
    with an ``in_candidates`` flag, so banded-candidate misses are
    measured instead of invisible (the LSH oracle can only verify the
    candidates the bands produce; a pair the bands never collide on is
    absent from BOTH sides there).

    Ground truth is the inverted-index exact pass
    (``dedup_ngram_jaccard``): exact as long as NO shared shingle of
    a qualifying pair exceeds _NGRAM_DF_CAP — an over-cap SHARED
    shingle is excluded from the intersection count but not from the
    set sizes, deflating the computed jaccard, so a true >= 0.8 pair
    can silently drop out of the audit's denominator and read recall
    HIGHER than reality. Guaranteed at audit scale (fixture max df
    25 < 64, so no shingle is capped at all); in production a
    nonzero ``ngram_dropped_shingle_count`` means exactly this risk
    is live and the audit slice must be chosen under the cap. Scale shape: like
    the ANN recall audits, the exact side is the expensive audit
    baseline — at 100 TB this runs over a sampled corpus slice, and
    both join sides are O(near-dup pairs); the (doc_a, doc_b) equi
    join is left unhinted so AQE broadcasts the LSH side when it is
    audit-sized. With 16 hashes in 8 bands of 2 rows, a true j = 0.8
    pair misses every band with probability (1 - 0.8^2)^8 ~= 2.8e-4,
    so fixture recall is 1.0 by construction margin.

    Reference tie: the A6 tolerance match (src/utils.py) is the
    reference's one approximate operator; this row is the measured-
    error discipline its text restatement was missing (r11 verdict
    item 4).

    The exact side is the SAME session memo the band ladder reads
    (``minhash_exact_pairs`` — r17 optimization, guide §1.2): two
    registered audit rows consumed one inverted-index exact pass
    each, and the relation is O(near-dup pairs) rows — broadcast-
    sized — so the second computation bought nothing. The r17
    build-phase note deferred this share until "more text-dedup audit
    rows appear"; the ladder made it two consumers, and the
    optimization round is the re-certification point the note was
    waiting for. The LSH candidate side is likewise the session-
    memoized pipeline OUTPUT (``_minhash_pairs_shared``): the audit
    consumes the same pair relation the pipeline emits — exactly what
    a production recall audit joins against — instead of re-running
    the banded pass a second time inside the same session."""
    from ..functions.materialize import memo_checkpoint

    exact = memo_checkpoint(
        spark,
        ("minhash_exact_pairs", os.path.realpath(sf_dir)),
        lambda: dedup_ngram_jaccard(spark, sf_dir).select(
            "doc_a", "doc_b", "jaccard"
        ),
    )
    lsh = _minhash_pairs_shared(spark, sf_dir).select(
        F.col("doc_a").alias("la"), F.col("doc_b").alias("lb")
    )
    return _candidate_flags(exact, lsh)


# Band-count dial at fixed _MINHASH_K hashes: rungs sweep rows-per-band
# 16/2/1, i.e. the three banding regimes — one pure-conjunctive band
# (match prob j^16: high precision, collapsed recall), the registered
# balanced 8x2 layout, and 16 disjunctive single-row bands (match prob
# 1-(1-j)^16: candidate volume ceiling). The natural 'half the
# registered count' bottom rung (4 bands of 4 rows) is deliberately
# NOT used: measured on the fixtures it already reads recall 1.0 at
# every scale (sf0.001/0.01/0.1 — the fixture's true pairs sit at
# j >= 0.8 where 1-(1-j^4)^4 > 0.87), so a (4, 8, 16) ladder would be
# flat and expose nothing; rung 1 is where the fixture's knee lives
# (measured 0.64 at sf0.01).
_MINHASH_LADDER_BANDS = (1, _MINHASH_BANDS, _MINHASH_K)

# the monotonicity proof needs each rung to DIVIDE the next (coarse
# bands = unions of fine bands), every rung to divide K, and — like
# the ANN ladders (ADVICE r16) — unique ascending rungs so the
# per-rung oracle CTE names never collide
assert list(_MINHASH_LADDER_BANDS) == sorted(set(_MINHASH_LADDER_BANDS))
assert all(_MINHASH_K % b == 0 for b in _MINHASH_LADDER_BANDS)
assert all(
    b2 % b1 == 0
    for b1, b2 in zip(_MINHASH_LADDER_BANDS, _MINHASH_LADDER_BANDS[1:])
)


def _minhash_ladder_oracle() -> str:
    rungs = _MINHASH_LADDER_BANDS
    return (
        f"""WITH exact AS ({_NGRAM_ORACLE}),
    """
        + ",\n    ".join(
            f"lsh{b} AS ({_minhash_oracle_sql(b)})" for b in rungs
        )
        + "\n    "
        + "\n    UNION ALL ".join(
            f"SELECT CAST({b} AS INT) AS n_bands, e.doc_a, e.doc_b, "
            f"e.jaccard, (l{b}.doc_a IS NOT NULL) AS in_candidates "
            f"FROM exact e LEFT JOIN lsh{b} l{b} "
            f"ON l{b}.doc_a = e.doc_a AND l{b}.doc_b = e.doc_b"
            for b in rungs
        )
    )


@query("dedup_minhash_band_ladder", oracle=_minhash_ladder_oracle())
def dedup_minhash_band_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH candidate-volume/recall DIAL as one measured
    relation — the text-dedup mirror of the ANN ladders
    (similarity_ivf_nprobe_ladder / similarity_lsh_plane_ladder, per
    VERDICT r16 #3): for every exact ground-truth near-dup pair
    (n-gram jaccard >= 0.8), an ``in_candidates`` flag at band count
    1, 8 and 16 over the same fixed family of _MINHASH_K = 16 hash
    functions. One row per (n_bands, pair); the registered 8-band
    contract (dedup_minhash_recall) is the middle rung by
    construction, so the S-curve every production dedup tunes —
    candidate-pair volume vs recall — reads as a curve instead of a
    point: a j-similar pair band-matches with prob 1-(1-j^(K/b))^b,
    while candidate volume grows with b as bucket keys shorten.

    ``in_candidates`` is MONOTONE non-decreasing in band count by
    construction: band b of a coarse layout covers the contiguous
    seed range [b*K/n, (b+1)*K/n), so when n divides n' every coarse
    band is a union of fine bands, and a coarse-band signature match
    (all K/n minhashes equal — the '|' join of integers decomposes
    uniquely) forces a signature match on every fine band inside it.
    Candidate sets therefore NEST: cand(1) ⊆ cand(8) ⊆ cand(16) —
    the rung chain's pairwise divisibility is asserted at import.
    Verification cannot break the nesting: a ground-truth pair has
    full-shingle jaccard >= its postings-capped audit jaccard >= 0.8,
    so it passes the >= 0.8 verify filter whenever its bands collide
    (pytest-pinned per pair, tests/test_round17_ops.py).

    Scale shape: the exact side is the inverted-index audit baseline
    (dedup_ngram_jaccard), session-memoized once for the ladder —
    O(near-dup pairs) rows, broadcast-sized, sampled-slice at 100 TB
    exactly like dedup_minhash_recall documents; the rungs share ONE
    materialized shingle+hash pass (r17 optimization, guide §1.2) AND
    — r18 optimization, same guide section — ONE banded pass: because
    coarse-band signatures decompose into their single-minhash fine
    bands ('|'-joined integers, unique decomposition), a pair's
    candidacy at EVERY rung is a function of which of the K fine
    bands match. So the ladder runs the bucket self-join once at the
    finest layout (K single-minhash bands — exactly the old rung-K
    join, the candidate-volume ceiling the dial exists to expose),
    folds each colliding pair's matched band indices into a K-bit
    mask (bit_or of 1<<band), verifies jaccard >= 0.8 once on that
    superset, and derives rung b's flag as "some aligned window of
    K/b consecutive mask bits is all-ones" — the same coarse-band
    membership the per-rung join used to recompute. The previous
    shape ran 3 bucket self-joins + 3 two-sided verification joins +
    3 audit joins; this shape runs 1 + 1 + 1 with a per-rung bitmask
    test, i.e. the marginal cost of a rung is a constant expression,
    not a corpus pass. At 100 TB the one-pass materialization is the
    standard time/space trade (MEMORY_AND_DISK blocks of O(corpus
    tokens) hashes) against re-scanning the corpus per rung."""
    from ..functions.materialize import memo_checkpoint

    exact = memo_checkpoint(
        spark,
        ("minhash_exact_pairs", os.path.realpath(sf_dir)),
        lambda: dedup_ngram_jaccard(spark, sf_dir).select(
            "doc_a", "doc_b", "jaccard"
        ),
    )
    shared = _minhash_base(spark, sf_dir).select(
        "doc_id", "sh", F.transform("sh", hex32_spark).alias("hs")
    ).localCheckpoint(eager=True)
    # the returned plan reads the checkpoint, so it stays pinned with
    # the result (same lifecycle as textrank's final ranks checkpoint;
    # drain_session releases it once the result is consumed)
    base = shared.select("doc_id", "sh")
    hashed = shared.select("doc_id", "hs")

    # ONE bucket self-join at the finest (single-minhash) layout; the
    # matched fine-band set per pair, as a K-bit mask
    fine = hashed.select(
        "doc_id",
        F.posexplode_outer(_band_sigs(F.col("hs"), _MINHASH_K)).alias(
            "band", "sig"
        ),
    )
    a = fine.select(
        F.col("doc_id").alias("da"), F.col("band").alias("b1"), F.col("sig").alias("s1")
    )
    b = fine.select(
        F.col("doc_id").alias("db"), F.col("band").alias("b2"), F.col("sig").alias("s2")
    )
    matched = (
        a.join(b, (a.b1 == b.b2) & (a.s1 == b.s2) & (a.da < b.db))
        .groupBy("da", "db")
        .agg(
            # pyspark's shiftleft only takes a literal shift; the SQL
            # form accepts a column
            F.bit_or(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(b1 AS INT))")
            ).alias("mask")
        )
    )
    # ONE candidate-only jaccard verification on the rung-K superset
    # (verified sets nest exactly like candidate sets, so rung flags
    # below stay the per-rung pipeline's verified output)
    verify = base.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    vpairs = matched.join(
        verify.select(F.col("doc_id").alias("da"), F.col("sh").alias("sha")), "da"
    ).join(verify.select(F.col("doc_id").alias("db"), F.col("sh").alias("shb")), "db")
    i = F.size(F.array_intersect("sha", "shb"))
    jac = i / (F.size("sha") + F.size("shb") - i)
    verified = (
        vpairs.select("da", "db", "mask", jac.alias("vjac"))
        .filter(F.col("vjac") >= _JACCARD_THRESHOLD)
        .select(F.col("da").alias("la"), F.col("db").alias("lb"), "mask")
    )

    # ONE audit join; per-rung candidacy is a bitmask expression
    flags = exact.join(
        verified,
        (F.col("doc_a") == F.col("la")) & (F.col("doc_b") == F.col("lb")),
        "left",
    )

    def _rung_flag(n_bands: int) -> F.Column:
        assert _MINHASH_K % n_bands == 0, (_MINHASH_K, n_bands)
        width = _MINHASH_K // n_bands
        full = (1 << width) - 1
        hit = None
        for w in range(n_bands):
            t = (
                F.shiftrightunsigned(F.col("mask"), w * width).bitwiseAND(
                    F.lit(full)
                )
                == F.lit(full)
            )
            hit = t if hit is None else (hit | t)
        # missed pairs carry a NULL mask -> flag false, same as the
        # per-rung left join's la.isNotNull()
        return F.coalesce(hit, F.lit(False))

    tiers = F.array(
        *[
            F.struct(
                F.lit(n).cast("int").alias("n_bands"),
                _rung_flag(n).alias("in_candidates"),
            )
            for n in _MINHASH_LADDER_BANDS
        ]
    )
    return flags.select(
        "doc_a", "doc_b", "jaccard", F.explode(tiers).alias("t")
    ).select(
        F.col("t.n_bands").alias("n_bands"),
        "doc_a",
        "doc_b",
        "jaccard",
        F.col("t.in_candidates").alias("in_candidates"),
    )


# SimHash: 64-bit signature (as lo/hi 32-bit halves) from the token
# *multiset*; near-dups are pairs at hamming distance <= 3. Banding the
# 64 bits into 8 bytes guarantees (pigeonhole) that any pair within
# hamming 7 collides on at least one band, so the candidate join is
# complete, not heuristic.
_SIMHASH_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, unnest({tokens_duck('text')}) AS tok FROM documents
    ),
    hashed AS (
        SELECT doc_id,
               {hex32_at_duck('md5(tok)', 1)} AS hlo,
               {hex32_at_duck('md5(tok)', 9)} AS hhi
        FROM toks
    ),
    bits AS (
        SELECT doc_id, j.j,
               sum(CASE WHEN (hlo // CAST(pow(2, j.j) AS BIGINT)) % 2 = 1
                        THEN 1 ELSE -1 END) AS vlo,
               sum(CASE WHEN (hhi // CAST(pow(2, j.j) AS BIGINT)) % 2 = 1
                        THEN 1 ELSE -1 END) AS vhi
        FROM hashed, unnest(range(0, {_SIMHASH_HALF_BITS})) AS j(j)
        GROUP BY doc_id, j.j
    ),
    sims AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN vlo > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END)
                    AS BIGINT) AS slo,
               CAST(sum(CASE WHEN vhi > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END)
                    AS BIGINT) AS shi
        FROM bits GROUP BY doc_id
    ),
    banded AS (
        SELECT doc_id, slo, shi, b.b,
               CASE WHEN b.b < {_SIMHASH_BANDS_PER_HALF}
                    THEN (slo // CAST(pow(2, {_SIMHASH_BAND_BITS} * b.b) AS BIGINT))
                         % {2 ** _SIMHASH_BAND_BITS}
                    ELSE (shi // CAST(pow(2, {_SIMHASH_BAND_BITS}
                                           * (b.b - {_SIMHASH_BANDS_PER_HALF}))
                                      AS BIGINT))
                         % {2 ** _SIMHASH_BAND_BITS}
               END AS bandval
        FROM sims, unnest(range(0, {2 * _SIMHASH_BANDS_PER_HALF})) AS b(b)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS da, a.slo AS la, a.shi AS ha,
                        b.doc_id AS db, b.slo AS lb, b.shi AS hb
        FROM banded a JOIN banded b
          ON a.b = b.b AND a.bandval = b.bandval AND a.doc_id < b.doc_id
    )
    SELECT da AS doc_a, db AS doc_b,
           CAST(bit_count(xor(la, lb)) + bit_count(xor(ha, hb)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(la, lb)) + bit_count(xor(ha, hb)) <= {_HAMMING_MAX}
"""


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, slo, shi): the 64-bit SimHash signature of each doc's
    token multiset, carried as two non-negative 32-bit BIGINT halves.

    Shape: explode tokens -> hash once per token -> ONE HashAggregate
    with 64 conditional sums (the per-bit votes). Partial aggregation
    combines map-side, so the exchange carries O(docs) rows of 64
    longs, not O(tokens). This beats 64 per-document higher-order
    array folds ~1.7x: each exploded row is scanned once for all 64
    bits inside a single codegen stage, instead of 64 lambda
    traversals of the token array per document."""
    toks = docs.select(
        "doc_id", F.explode(tokens_spark(F.col("text"))).alias("tok")
    )
    # staged projection: md5 once per token, then both halves — inline
    # md5 in both hex32_at_spark calls is evaluated twice per row
    # (r18; verified in the optimized plan)
    hashed = toks.select("doc_id", F.md5("tok").alias("m")).select(
        "doc_id",
        hex32_at_spark(F.col("m"), 1).alias("hlo"),
        hex32_at_spark(F.col("m"), 9).alias("hhi"),
    )
    aggs = [
        F.sum(
            F.when(F.col(col).bitwiseAND(F.lit(2**j)) != 0, 1).otherwise(-1)
        ).alias(f"{col}_{j}")
        for col in ("hlo", "hhi")
        for j in range(_SIMHASH_HALF_BITS)
    ]
    votes = hashed.groupBy("doc_id").agg(*aggs)

    def assemble(col: str):
        return sum(
            (
                F.when(F.col(f"{col}_{j}") > 0, F.lit(2**j)).otherwise(0)
                for j in range(_SIMHASH_HALF_BITS)
            ),
            F.lit(0),
        ).cast("bigint")

    return votes.select(
        "doc_id", assemble("hlo").alias("slo"), assemble("hhi").alias("shi")
    )


def simhash_pairs(docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, hamming): pairs within hamming <= _HAMMING_MAX of
    each other's 64-bit signature, via the 8-band candidate equi-join
    (pigeonhole-complete for hamming <= 7).

    The signature relation (O(docs) rows, three BIGINTs) is
    materialized ONCE and both self-join sides read it: the previous
    shape relied on the repartition-for-ReusedExchange trick, which
    holds on the sort-merge path but not when AQE broadcasts a side —
    there the broadcast side re-ran the whole explode-tokens ->
    hash -> 64-vote aggregation (the query's dominant cost) a second
    time (r17 optimization, guide §1.2/§2.4). Pinned with the
    returned result; drain_session releases it."""
    sims = simhash_signatures(docs).localCheckpoint(eager=True)
    n_bands = 2 * _SIMHASH_BANDS_PER_HALF
    banded = sims.select(
        "doc_id",
        "slo",
        "shi",
        F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("b"),
    ).withColumn(
        "bandval",
        F.expr(
            f"CASE WHEN b < {_SIMHASH_BANDS_PER_HALF} THEN "
            f"(slo div CAST(pow(2, {_SIMHASH_BAND_BITS} * b) AS BIGINT))"
            f" % {2 ** _SIMHASH_BAND_BITS} ELSE "
            f"(shi div CAST(pow(2, {_SIMHASH_BAND_BITS}"
            f" * (b - {_SIMHASH_BANDS_PER_HALF})) AS BIGINT))"
            f" % {2 ** _SIMHASH_BAND_BITS} END"
        ),
    )
    # both self-join sides derive from the checkpointed signatures:
    # the per-side banding re-derivation is a projection over
    # materialized rows, so no repartition-for-reuse is needed and
    # the join shuffles (or broadcasts, at fixture scale) narrow
    # already-computed rows on either path
    a = banded.select(
        F.col("doc_id").alias("da"),
        F.col("slo").alias("la"),
        F.col("shi").alias("ha"),
        F.col("b").alias("b1"),
        F.col("bandval").alias("v1"),
    )
    b = banded.select(
        F.col("doc_id").alias("db"),
        F.col("slo").alias("lb"),
        F.col("shi").alias("hb"),
        F.col("b").alias("b2"),
        F.col("bandval").alias("v2"),
    )
    cand = (
        a.join(b, (a.b1 == b.b2) & (a.v1 == b.v2) & (a.da < b.db))
        .select("da", "la", "ha", "db", "lb", "hb")
        .distinct()
    )
    hamming = F.bit_count(F.expr("la ^ lb")) + F.bit_count(F.expr("ha ^ hb"))
    return (
        cand.filter(hamming <= _HAMMING_MAX)
        .select(
            F.col("da").alias("doc_a"),
            F.col("db").alias("doc_b"),
            hamming.cast("int").alias("hamming"),
        )
    )


@query("dedup_simhash", oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: per-token 64-bit hashes (md5 lo/hi 32-bit
    halves) vote per bit position (+1/-1 weighted by multiplicity); the
    sign vector is the document signature; candidates join on 8-bit
    bands (complete for hamming <= 7 by pigeonhole) and verify with
    popcount(xor) summed over the halves.

    Scale shape: signatures are two BIGINTs per doc; the band join is
    8 rows/doc. This is the cheapest fuzzy dedup here — O(docs) state
    vs MinHash's O(docs x k) — at the cost of weaker recall on heavily
    edited near-dups. Reference analog: 'smart' frame change detection
    (src/frame_producer.py:110-119) as fuzzy content identity.
    """
    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")
    return simhash_pairs(docs)


# Deterministic drift applied to the re-ingested copies: element j of
# vector v moves by DRIFT * ((vec_id + j) % 5 - 2). Both engines
# compute it with the same double ops in the same order, so the
# drifted vectors — and every cosine downstream — are bitwise equal.
_DRIFT_DUCK = (
    "list_transform(list_zip(CAST(embedding AS DOUBLE[]), range(0, 64)), "
    f"p -> p[1] + {_EMB_DRIFT} * ((vec_id + p[2]) % 5 - 2))"
)

_EMB_BAND_KEYS_DUCK = ", ".join(
    f"{b * 256} + "
    + hyperplane_sig_duck(
        "emb", range(b * _EMB_BAND_BITS, (b + 1) * _EMB_BAND_BITS)
    )
    for b in range(_EMB_BANDS)
)

# NOTE: this oracle mirrors the plan's (label, band-sig) candidate
# generation, so the driver compare verifies the BANDED CONTRACT
# (same candidates, same cosines, both engines), not ground-truth
# recall — banding recall loss is invisible here by construction
# (same trade as similarity_topk_lsh). The recall gate is
# tests/test_plans.py::test_embedding_dedup_banding_has_full_recall,
# which compares against an exact all-pairs DuckDB scan.
_EMB_NEARDUP_ORACLE = f"""
    WITH corpus AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
        UNION ALL
        SELECT vec_id + {_EMB_COPY_OFFSET} AS vec_id, label, {_DRIFT_DUCK} AS emb
        FROM embeddings WHERE vec_id % 5 = 0
    ),
    sigs AS (
        SELECT vec_id, label, unnest([{_EMB_BAND_KEYS_DUCK}]) AS bsig
        FROM corpus
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb, a.label AS label
        FROM sigs a JOIN sigs b
          ON a.label = b.label AND a.bsig = b.bsig AND a.vec_id < b.vec_id
    )
    SELECT c.va AS vec_a, c.vb AS vec_b, CAST(c.label AS INT) AS label,
           round({cosine_duck('ca.emb', 'cb.emb')}, 6) AS cosine
    FROM cand c
    JOIN corpus ca ON ca.vec_id = c.va
    JOIN corpus cb ON cb.vec_id = c.vb
    WHERE {cosine_duck('ca.emb', 'cb.emb')} >= {_COSINE_NEARDUP}
"""


def _emb_corpus(emb: DataFrame) -> DataFrame:
    """Original vectors (widened to double) plus a drifted copy of
    every 5th — the duplicated-ingest corpus both engines share."""
    orig = emb.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    drifted = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + _EMB_COPY_OFFSET).alias("vec_id"),
        "label",
        F.zip_with(
            "embedding",
            F.sequence(F.lit(0), F.lit(63)),
            lambda x, j: x.cast("double")
            + F.lit(_EMB_DRIFT) * (((F.col("vec_id") + j) % 5) - 2),
        ).alias("emb"),
    )
    return orig.unionByName(drifted)


def _emb_band_keys(emb_col):
    """Array of 8 keyed band signatures (band*256 + 8-bit hyperplane
    sig) — the sub-bucket join keys; see hyperplane_sig_spark."""
    return F.array(
        *[
            F.lit(b * 256)
            + hyperplane_sig_spark(
                emb_col, range(b * _EMB_BAND_BITS, (b + 1) * _EMB_BAND_BITS)
            )
            for b in range(_EMB_BANDS)
        ]
    )


@query("dedup_embedding_cosine", oracle=_EMB_NEARDUP_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup over a duplicated-ingest corpus
    (every 5th vector re-ingested with deterministic drift): pairs at
    cosine >= 0.9, with candidate generation keyed on
    (label, hyperplane band signature) — never label-only, never
    all-pairs.

    Scale shape: each vector computes a 64-bit random-hyperplane
    signature (codegen'd literal-plane dot folds, zero shuffle) and
    emits 8 (band, 8-bit sig) keys; candidates are an equi-join on
    (label, band key), so a label's candidate volume drops ~64x vs the
    label-only join (measured ~25x on the fixture) and keeps falling
    as bands widen — the banding is pigeonhole-complete for signature
    hamming <= 7, which planted near-identical vectors never exceed.
    Verification joins the (few) candidate pairs back to the corpus by
    vec_id and checks the exact cosine fold from functions/vector.py —
    bitwise equal to the oracle's, which is why a float similarity can
    be hash-checked at all. Reference analog: A6's broadcast face
    match (src/prediction_producer.py:314-325), generalized to
    corpus-scale near-dup detection.
    """
    emb = _t(spark, sf_dir, "embeddings")
    # ONE parquet pass builds the widened+drifted corpus and every
    # consumer — both signature sides, both verify sides — reads the
    # materialized partitions (r17 optimization, guide §1.2/§2.4).
    # The previous shape relied on ReusedExchange to dedupe the four
    # byte-identical corpus subtrees, but the reuse never fired: at
    # fixture scale AQE broadcasts the tiny sides, and the
    # broadcast-vs-shuffle asymmetry defeats canonical subtree
    # identity — the executed plan carried 8 parquet scans and 4
    # widen/drift folds for one query. Production materializes the
    # normalized corpus once (at 100 TB: written to parquet, not
    # recomputed per stage); the checkpoint is pinned with the
    # returned result and drain_session releases it.
    corpus = _spread(_emb_corpus(emb), "vec_id").localCheckpoint(eager=True)
    # the banded signature fold (8 bands x 8 literal-plane dot folds)
    # likewise runs ONCE: both self-join sides read this checkpoint
    sigs = corpus.select(
        "vec_id", "label",
        F.explode(_emb_band_keys(F.col("emb"))).alias("bsig"),
    ).localCheckpoint(eager=True)
    # both sides rename EVERY column (ba/bb, not a shared "bsig"):
    # an ambiguous self-join reference resolves to a trivially-true
    # predicate that cannot serve as an equi key, silently demoting
    # the hash join to label-only all-pairs + post-filter (measured
    # 4.7x slower at sf0.1; arbitrarily worse at scale)
    a = sigs.select(
        F.col("vec_id").alias("va"), F.col("label").alias("la"),
        F.col("bsig").alias("ba"),
    )
    b = sigs.select(
        F.col("vec_id").alias("vb"), F.col("label").alias("lb"),
        F.col("bsig").alias("bb"),
    )
    cand = (
        a.join(b, (a.la == b.lb) & (a.ba == b.bb) & (a.va < b.vb))
        .select("va", "vb", "la")
        .distinct()
    )
    # verify joins read the corpus checkpoint directly — no
    # per-side recompute regardless of the join strategy AQE picks
    ver = corpus
    pairs = cand.join(
        ver.select(F.col("vec_id").alias("va"), F.col("emb").alias("ea")), "va"
    ).join(ver.select(F.col("vec_id").alias("vb"), F.col("emb").alias("eb")), "vb")
    cos = cosine_spark(F.col("ea"), F.col("eb"))
    return (
        pairs.select("va", "vb", "la", cos.alias("cos"))
        .filter(F.col("cos") >= _COSINE_NEARDUP)
        .select(
            F.col("va").alias("vec_a"),
            F.col("vb").alias("vec_b"),
            F.col("la").cast("int").alias("label"),
            F.round("cos", 6).alias("cosine"),
        )
    )


def _emb_pairs_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized OUTPUT of :func:`dedup_embedding_cosine` —
    the (vec_a, vec_b, label, cosine) near-dup pair relation,
    O(near-dup pairs) rows (broadcast-sized), consumed downstream by
    the multimodal keeper election's embedding edges. Same contract
    as :func:`_minhash_pairs_shared`: the registered
    ``dedup_embedding_cosine`` row keeps computing the full banded
    pipeline, and drain_session releases the slot so every
    driver/oracle invocation computes from the parquet inputs."""
    from ..functions.materialize import memo_checkpoint

    return memo_checkpoint(
        spark,
        ("emb_cosine_pairs", os.path.realpath(sf_dir)),
        lambda: dedup_embedding_cosine(spark, sf_dir),
    )


# ---------------------------------------------- SemDeDup (cells)

# Cluster-then-prune semantic dedup (SemDeDup, Abbas et al. 2023):
# assign every vector to its nearest of K fixed centroids, compare
# pairs ONLY within a cell, drop every vector that has a near-dup
# with a smaller vec_id in its cell (keep-first, the same rule as
# dedup_exact_keep_first). K is the scale lever: production picks
# K ~ corpus/target_cell_size (SemDeDup used 50k cells for LAION) so
# the within-cell quadratic stays capped while assignment stays a
# narrow map over broadcast centroids.
_SEMDEDUP_K = 32  # seed centroids = the K smallest vec_ids

_SEMDEDUP_ORACLE = f"""
    WITH corpus AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
        UNION ALL
        SELECT vec_id + {_EMB_COPY_OFFSET} AS vec_id, {_DRIFT_DUCK} AS emb
        FROM embeddings WHERE vec_id % 5 = 0
    ),
    seeds AS (
        SELECT vec_id AS seed_id, CAST(embedding AS DOUBLE[]) AS se
        FROM embeddings WHERE vec_id < {_SEMDEDUP_K}
    ),
    dists AS (
        SELECT c.vec_id, c.emb, s.seed_id,
               CAST(floor({euclid_duck('c.emb', 's.se')} * 1000000)
                    AS BIGINT) AS dm
        FROM corpus c, seeds s
    ),
    assign AS (
        SELECT vec_id, emb, seed_id AS cell,
               row_number() OVER (
                   PARTITION BY vec_id ORDER BY dm, seed_id
               ) AS rn
        FROM dists
    ),
    asg AS (SELECT vec_id, emb, cell FROM assign WHERE rn = 1),
    dropped AS (
        SELECT b.vec_id AS vec_id, b.cell AS cell, a.vec_id AS va,
               {cosine_duck('a.emb', 'b.emb')} AS cos
        FROM asg a JOIN asg b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE {cosine_duck('a.emb', 'b.emb')} >= {_COSINE_NEARDUP}
    )
    SELECT vec_id, CAST(cell AS INT) AS cell,
           min(va) AS keeper, round(arg_min(cos, va), 6) AS cosine
    FROM dropped GROUP BY vec_id, cell
"""


@query("dedup_semantic_cells", oracle=_SEMDEDUP_ORACLE)
def dedup_semantic_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup over the duplicated-ingest
    corpus: k-means cell assignment (the coarse quantizer step shared
    with kmeans_lloyd_step / similarity_topk_ivf) followed by
    within-cell pairwise cosine, dropping every vector that is
    near-dup (cosine >= 0.9) of a smaller-id cell-mate. Output = the
    PRUNE LIST: (dropped vec_id, its cell, the smallest dominating
    keeper, cosine to that keeper).

    Determinism: assignment quantizes distances to micro BIGINTs with
    a (dm, seed_id) tie rule (kmeans_lloyd_step's convention) before
    any cross-row op; the verdict cosine is the bitwise-portable fold
    from functions/vector.py; keeper selection is min/arg_min — so
    the whole result hash-compares against the oracle.

    Scale shape: centroids fold into ONE broadcast row (collect_list
    aggregate, never a driver collect) and assignment is a NARROW
    per-row argmin over that array — no exchange beyond the _spread.
    The assigned relation is hash-partitioned on cell ONCE and reused
    by BOTH self-join sides (byte-identical subplans ->
    ReusedExchange, as in dedup_embedding_cosine's banded verify), so
    pairs are generated co-partitioned, never cross-cell — the plan
    contains zero cartesian/BNLJ joins besides the 1-row centroid
    broadcast. Cost is sum(|cell|^2) with |cell| capped by K's
    choice, vs the LSH family's banded candidates: cells give the
    RECALL-complete-within-radius trade IVF gives search (a pair
    split across a cell boundary is missed, same as SemDeDup itself),
    while dedup_embedding_cosine's hyperplane bands give the
    hamming-bounded trade. Both exist because both regimes exist at
    100 TB. Reference analog: A6's tolerance match
    (src/prediction_producer.py:314-325) generalized from
    target-vs-stream to corpus-vs-itself, routed through A4's
    embedding space."""
    emb = _t(spark, sf_dir, "embeddings")
    corpus = _emb_corpus(emb).select("vec_id", "emb")
    seeds = emb.filter(F.col("vec_id") < _SEMDEDUP_K).select(
        F.col("vec_id").alias("seed_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("se"),
    )
    return _semantic_cells_prune(spark, corpus, seeds)


def _semantic_cells_prune(
    spark: SparkSession, corpus: DataFrame, seeds: DataFrame
) -> DataFrame:
    """The SemDeDup core over an arbitrary (vec_id, emb) corpus and
    (seed_id, se) centroid set — split out so the 10x probe can scale
    K with the corpus (the production lever) without touching the
    registered query's fixed-K contract."""
    seeds_row = (
        seeds
        .agg(
            # array_sort on (seed_id, se) structs orders by seed_id
            # asc, so the fold's first-strict-win tie rule below
            # resolves equal distances to the SMALLEST seed_id —
            # the oracle's ORDER BY dm, seed_id
            F.array_sort(F.collect_list(F.struct("seed_id", "se"))).alias("sds")
        )
    )
    _no_cell = F.struct(
        F.lit(None).cast("bigint").alias("sid"),
        F.lit(None).cast("bigint").alias("dm"),
    )

    def _closer(acc: Column, s: Column) -> Column:
        d = (
            F.floor(euclid_spark(F.col("emb"), s["se"]) * 1000000)
            .cast("bigint")
        )
        return F.when(
            acc["dm"].isNull() | (d < acc["dm"]),
            F.struct(s["seed_id"].alias("sid"), d.alias("dm")),
        ).otherwise(acc)

    n = spark.sparkContext.defaultParallelism
    assigned = (
        _spread(corpus, "vec_id")
        .crossJoin(F.broadcast(seeds_row))
        .select(
            "vec_id",
            "emb",
            F.aggregate(F.col("sds"), _no_cell, _closer)["sid"].alias("cell"),
        )
        # ONE exchange hash-partitioned on cell: both self-join sides
        # are byte-identical up to it (ReusedExchange), so assignment
        # computes once and the pair join reads it co-partitioned
        .repartition(n, "cell")
    )
    # rename EVERY column on both sides — the ambiguous-self-join trap
    # documented at dedup_embedding_cosine's candidate join
    a = assigned.select(
        F.col("vec_id").alias("va"), F.col("emb").alias("ea"),
        F.col("cell").alias("ca"),
    )
    b = assigned.select(
        F.col("vec_id").alias("vb"), F.col("emb").alias("eb"),
        F.col("cell").alias("cb"),
    )
    cos = cosine_spark(F.col("ea"), F.col("eb"))
    # explode_outer of the 0-or-1-element thresholded array, NOT a
    # plain filter on a projected cos: Catalyst would merge that
    # filter into the join condition and re-evaluate the cosine fold
    # twice per candidate pair (condition + output) — the
    # decontam_semantic_embedding Generate-barrier trap. Behind the
    # Generate the fold runs exactly once per pair and the join stays
    # a pure equi join on cell.
    hit = F.filter(
        F.array(F.struct(cos.alias("cos"))),
        lambda c: c["cos"] >= _COSINE_NEARDUP,
    )
    dropped = (
        a.join(b, (a.ca == b.cb) & (a.va < b.vb))
        .select("vb", "cb", "va", F.explode_outer(hit).alias("h"))
        .filter(F.col("h").isNotNull())
        .select("vb", "cb", "va", F.col("h.cos").alias("cos"))
    )
    return (
        dropped.groupBy("vb", "cb")
        .agg(
            F.min("va").alias("keeper"),
            F.min_by("cos", "va").alias("kcos"),
        )
        .select(
            F.col("vb").alias("vec_id"),
            F.col("cb").cast("int").alias("cell"),
            "keeper",
            F.round("kcos", 6).alias("cosine"),
        )
    )


# The recursive-CTE closure of the MinHash near-dup pair graph,
# exposed as a reusable CTE list so downstream audits (e.g.
# curation.py::split_leakage_neardup) can build on the identical
# component definition without restating it.
_CC_CTES = f"""pairs AS (
        {_MINHASH_ORACLE.replace('round(i.i / (sa.n + sb.n - i.i), 6) AS jaccard',
                                 'i.i AS dummy_i')}
    ),
    sym AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION ALL
        SELECT doc_b AS s, doc_a AS d FROM pairs
    ),
    nodes AS (SELECT DISTINCT s AS node FROM sym),
    cc AS (
        SELECT node, node AS comp FROM nodes
        UNION
        SELECT sym.d AS node, cc.comp FROM cc JOIN sym ON sym.s = cc.node
    )"""

_CC_ORACLE = f"""
    WITH RECURSIVE {_CC_CTES}
    SELECT node AS doc_id,
           min(comp) AS component,
           (min(comp) = node) AS is_keeper
    FROM cc GROUP BY node
"""


@query("dedup_cluster_components", oracle=_CC_ORACLE)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stage AFTER pair generation in a real dedup pipeline:
    cluster the near-dup pair graph into connected components
    (jaccard >= 0.8 is NOT transitive, so pairs must be closed) and
    elect each component's keeper (its minimum doc_id).

    Spark side: iterative min-label propagation with pointer jumping
    — each round (a) takes the per-node min over neighbor labels and
    (b) path-halves (comp := comp[comp]), so the distance a label
    still has to travel halves per round and rounds needed are
    O(log diameter), not O(diameter); chain-shaped clusters converge
    in ~log2(len) rounds. The loop runs until a round changes nothing
    (the changed-count is iteration coordination, the one legitimate
    driver-side loop shape: every iteration is fully distributed) and
    RAISES if the safety cap is hit — silently returning unconverged
    labels would be wrong answers, not slow ones. The oracle closes
    the same graph with a recursive CTE.

    The labeled relation is memo-checkpointed once per session: three
    registered queries consume it (this one, split_leakage_neardup,
    split_group_routed), and the component relation is tiny (one row
    per CLUSTERED doc), so re-running the minhash + propagation loop
    per consumer bought nothing."""
    from ..functions.materialize import memo_checkpoint

    def _build() -> DataFrame:
        # the directed edge list is the session-memoized pipeline
        # OUTPUT (r17 optimization) — already materialized, so the
        # symmetrizing swap is a projection over checkpointed
        # partitions and every propagation round joins cheap
        # materialized data; the memo (not this builder) owns the
        # blocks, so no call-site free is needed on a CC failure
        edges = _minhash_pairs_shared(spark, sf_dir).select(
            F.col("doc_a").alias("s"), F.col("doc_b").alias("d")
        )
        sym = edges.unionAll(
            edges.select(F.col("d").alias("s"), F.col("s").alias("d"))
        )
        labels = connected_components(sym)
        return labels.select(
            F.col("node").alias("doc_id"),
            F.col("comp").alias("component"),
            (F.col("comp") == F.col("node")).alias("is_keeper"),
        )

    return memo_checkpoint(
        spark, ("cc_components", os.path.realpath(sf_dir)), _build
    )


def connected_components(sym: DataFrame, max_rounds: int = 50) -> DataFrame:
    """Min-label connected components over a symmetric edge list
    (columns ``s``, ``d``; caller should localCheckpoint it). Returns
    (node, comp) where comp is the component's minimum node id.

    ``max_rounds`` with pointer jumping covers label distances up to
    2^max_rounds — unreachable in practice, but a loud failure beats
    silently wrong components.

    The edge list is materialized ONCE, hash-partitioned on ``s`` (the
    per-round join key): every propagation round then reads
    pre-partitioned materialized edges instead of re-exchanging them —
    measured 1.5-2x on the loop, and at scale it removes an
    O(edges) shuffle per round.
    """
    from ..functions.materialize import iterate, transient

    spark = sym.sparkSession
    n_part = spark.sparkContext.defaultParallelism
    # the returned labels are themselves materialized, so the edge
    # checkpoint has no reader past the block
    with transient(spark) as pin:
        sym = pin(sym.repartition(n_part, "s"))

        def propagate(labels: DataFrame) -> DataFrame:
            labels = labels.select("node", "comp")
            neighbor_min = (
                sym.join(labels, sym.s == labels.node)
                .groupBy(F.col("d").alias("node2"))
                .agg(F.min("comp").alias("ncomp"))
            )
            propagated = labels.join(
                neighbor_min, labels.node == neighbor_min.node2, "left"
            ).select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce(F.col("ncomp"), F.col("comp"))
                ).alias("comp"),
                F.col("comp").alias("prev"),
            )
            # pointer jumping (path halving): comp := comp[comp]. comp
            # values are always node ids with comp[x] <= x, so following
            # one hop through the label table itself halves the
            # remaining distance to each component's minimum —
            # neighbor-min alone moves labels a single edge-hop per
            # round, which on a chain-shaped cluster needs diameter
            # rounds and used to overrun the old fixed cap silently.
            hop = propagated.select(
                F.col("node").alias("jnode"), F.col("comp").alias("jcomp")
            )
            jumped = F.least(
                F.col("comp"), F.coalesce(F.col("jcomp"), F.col("comp"))
            )
            return propagated.join(hop, propagated.comp == hop.jnode, "left").select(
                "node",
                jumped.alias("comp"),
                # convergence flag rides along so the changed-count is a
                # filter over the materialized round, not an extra
                # per-round join against the previous labels
                (jumped != F.col("prev")).alias("changed"),
            )

        labels = sym.select(F.col("s").alias("node")).distinct().withColumn(
            "comp", F.col("node")
        )
        labels = iterate(
            labels,
            propagate,
            max_rounds,
            until=lambda r: r.filter("changed").count() == 0,
        )
    return labels.select("node", "comp")


_CC_MULTI_ORACLE = f"""
    WITH RECURSIVE tpairs AS (
        {_MINHASH_ORACLE.replace('round(i.i / (sa.n + sb.n - i.i), 6) AS jaccard',
                                 'i.i AS dummy_i')}
    ),
    epairs AS (
        {_EMB_NEARDUP_ORACLE}
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM tpairs
        UNION
        SELECT vec_a AS a, vec_b AS b FROM epairs
    ),
    sym AS (
        SELECT a AS s, b AS d FROM edges
        UNION ALL
        SELECT b AS s, a AS d FROM edges
    ),
    nodes AS (SELECT DISTINCT s AS node FROM sym),
    cc AS (
        SELECT node, node AS comp FROM nodes
        UNION
        SELECT sym.d AS node, cc.comp FROM cc JOIN sym ON sym.s = cc.node
    )
    SELECT node AS item_id,
           min(comp) AS component,
           (min(comp) = node) AS is_keeper
    FROM cc GROUP BY node
"""


@query("dedup_cluster_multimodal", oracle=_CC_MULTI_ORACLE)
def dedup_cluster_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal keeper election — the real pipeline shape: an item
    is a duplicate if EITHER its text (MinHash-LSH pairs over
    documents) OR its embedding (cosine pairs over the duplicated-
    ingest embeddings corpus) says so, and one connected-components
    pass over the union graph elects one keeper per cluster.

    documents.doc_id and embeddings.vec_id share the item id space
    (vec_id IS the item's embedding row; re-ingested drifted copies
    live at vec_id + 1_000_000), so the union graph merges modalities
    on the shared ids: a text edge can glue two embedding clusters and
    vice versa. Scale shape: both edge generators are banded equi-join
    pipelines (O(collisions), never all-pairs); the union is a cheap
    unionAll of two small pair sets; clustering reuses
    connected_components (pointer-jumping min-label, O(log diameter)
    rounds) unchanged.
    """
    # both edge sides are the session-memoized pipeline OUTPUTS (r17
    # optimization): the multimodal election consumes the SAME pair
    # relations the text and embedding dedup passes emit — the
    # production shape, where each modality's pairs are produced once
    # and every downstream stage reads them — instead of re-running
    # both banded pipelines inside this query. The memos are already
    # materialized, so the union + symmetrizing swap are projections
    # over checkpointed partitions and no call-site checkpoint (or
    # failure-path free) is needed; the memos own their blocks.
    text_edges = _minhash_pairs_shared(spark, sf_dir).select(
        F.col("doc_a").alias("s"), F.col("doc_b").alias("d")
    )
    emb_edges = _emb_pairs_shared(spark, sf_dir).select(
        F.col("vec_a").alias("s"), F.col("vec_b").alias("d")
    )
    sym = text_edges.unionAll(emb_edges)
    sym = sym.unionAll(sym.select(F.col("d").alias("s"), F.col("s").alias("d")))
    labels = connected_components(sym)
    return labels.select(
        F.col("node").alias("item_id"),
        F.col("comp").alias("component"),
        (F.col("comp") == F.col("node")).alias("is_keeper"),
    )


# ------------------------------------------------- incremental (batch-vs-corpus)

# Deterministic ingest split: ~80% of documents play the role of the
# already-indexed corpus, the rest arrive as the "new shard". Hash
# routing (not doc_id ranges) so the straddle pattern is unbiased.
_INC_KEY_DUCK = "'inc:' || CAST(doc_id AS VARCHAR)"
_INC_CORPUS_BUCKETS = 8  # corpus: bucket 0-7 of 10; batch: 8-9
_INC_RECRAWL_MOD = 13    # every 13th corpus doc re-arrives in the shard
_INC_RECRAWL_OFFSET = 1_000_000  # ...under a fresh doc_id (a re-crawl)

_INC_ORACLE = f"""
    WITH b AS (
        SELECT *, {hex32_duck(_INC_KEY_DUCK)} % 10 AS bkt FROM documents
    ),
    corpus AS (SELECT * FROM b WHERE bkt < {_INC_CORPUS_BUCKETS}),
    batch AS (
        SELECT doc_id, text, lang FROM b WHERE bkt >= {_INC_CORPUS_BUCKETS}
        UNION ALL
        SELECT doc_id + {_INC_RECRAWL_OFFSET}, text, lang
        FROM corpus WHERE doc_id % {_INC_RECRAWL_MOD} = 0
    ),
    ch AS (SELECT DISTINCT md5(text) AS h FROM corpus),
    shc AS (
        SELECT doc_id, unnest({shingles_duck('text')}) AS shingle FROM corpus
    ),
    shb AS (
        SELECT doc_id, unnest({shingles_duck('text')}) AS shingle FROM batch
    ),
    minc AS (
        SELECT doc_id, s.s AS seed,
               min(({_A_LIST}[s.s + 1] * {hex32_duck('shingle')}
                    + {_B_LIST}[s.s + 1]) % 2147483647) AS mh
        FROM shc, unnest(range(0, {_MINHASH_K})) AS s(s)
        GROUP BY doc_id, s.s
    ),
    minb AS (
        SELECT doc_id, s.s AS seed,
               min(({_A_LIST}[s.s + 1] * {hex32_duck('shingle')}
                    + {_B_LIST}[s.s + 1]) % 2147483647) AS mh
        FROM shb, unnest(range(0, {_MINHASH_K})) AS s(s)
        GROUP BY doc_id, s.s
    ),
    bandc AS (
        SELECT doc_id,
               CAST(floor(seed / {_MINHASH_K // _MINHASH_BANDS}) AS BIGINT) AS band,
               string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed) AS sig
        FROM minc GROUP BY doc_id, band
    ),
    bandb AS (
        SELECT doc_id,
               CAST(floor(seed / {_MINHASH_K // _MINHASH_BANDS}) AS BIGINT) AS band,
               string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed) AS sig
        FROM minb GROUP BY doc_id, band
    ),
    cand AS (
        SELECT DISTINCT bb.doc_id AS db, cc.doc_id AS dc
        FROM bandb bb JOIN bandc cc ON bb.band = cc.band AND bb.sig = cc.sig
    ),
    szc AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
    szb AS (SELECT doc_id, count(*) AS n FROM shb GROUP BY doc_id),
    inter AS (
        SELECT c.db, c.dc, count(*) AS i
        FROM cand c
        JOIN shb x ON x.doc_id = c.db
        JOIN shc y ON y.doc_id = c.dc AND y.shingle = x.shingle
        GROUP BY c.db, c.dc
    ),
    near AS (
        SELECT DISTINCT i.db AS doc_id
        FROM inter i
        JOIN szb sb ON sb.doc_id = i.db
        JOIN szc sc ON sc.doc_id = i.dc
        WHERE i.i * 1.0 / (sb.n + sc.n - i.i) >= {_JACCARD_THRESHOLD}
    )
    SELECT doc_id, lang,
           CASE WHEN md5(text) IN (SELECT h FROM ch) THEN 'exact'
                WHEN doc_id IN (SELECT doc_id FROM near) THEN 'near'
                ELSE 'keep' END AS verdict
    FROM batch
"""


@query("dedup_incremental_corpus", oracle=_INC_ORACLE)
def dedup_incremental_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup — the shape a production pipeline actually
    runs daily: a new shard (hash buckets 8-9 of the ingest split)
    checked against the standing corpus (buckets 0-7), never corpus
    against itself. The shard also carries a simulated RE-CRAWL —
    every 13th corpus document re-arrives under a fresh doc_id — so
    both dup classes genuinely fire. Verdict per new document, with
    precedence: 'exact' (content hash already indexed) > 'near'
    (shares a MinHash band bucket with a corpus doc AND verified
    Jaccard >= 0.8) > 'keep'.

    Scale shape — why incremental beats re-running full dedup: the
    corpus side of BOTH probes is exactly the (hash) / (band, sig)
    index a production deployment keeps materialized in parquet, so
    the recurring cost is O(shard) signature computation + an
    equi-join probe into the index, NOT O(corpus + shard)^2 or even
    O(corpus) rescan — only candidate corpus doc_ids (few) are
    re-read for shingle verification. Exact probe is a broadcast-able
    semi-join on md5; near probe keys on (band, sig); nothing is ever
    all-pairs. The asymmetry also kills the self-join's da < db
    dedup-direction concern: pairs are (batch x corpus) by
    construction."""
    docs = _spread(
        _t(spark, sf_dir, "documents").select("doc_id", "text", "lang"), "doc_id"
    )
    bkt = (
        hex32_spark(F.concat(F.lit("inc:"), F.col("doc_id").cast("string"))) % 10
    )
    # ONE parquet pass materializes the bucket-tagged corpus WITH its
    # derived index columns — content hash, shingle array and banded
    # MinHash signatures (r17 materialized only the raw text; r18,
    # guide §1.2/§2.4: every downstream consumer re-derived md5/
    # shingles/minhash from the text per branch). The checkpoint now
    # IS the (hash, band-sig, shingles) index a production deployment
    # keeps materialized in parquet; the exact probe, both banded
    # sides, the verification shingle sides and the final projection
    # are pure filters/projections/joins over it. The recrawl rows
    # re-key their originals, so their index columns are reused, not
    # recomputed. Pinned with the returned result; drain_session
    # releases it.
    # STAGED projections: sh and hs must be their own projection steps
    # so CollapseProject keeps them single-evaluation — inlining the
    # whole chain into _band_sigs duplicates the shingle split 51x and
    # the per-shingle md5 16x in the optimized plan (measured; same
    # rationale as _band_sigs' own docstring)
    tagged = (
        docs.select(
            "doc_id",
            "lang",
            bkt.alias("bkt"),
            F.md5("text").alias("h"),
            shingles_spark(F.col("text")).alias("sh"),
        )
        .withColumn("hs", F.transform("sh", hex32_spark))
        .select(
            "doc_id", "lang", "bkt", "h", "sh", _band_sigs(F.col("hs")).alias("bands")
        )
    ).localCheckpoint(eager=True)
    corpus = tagged.filter(F.col("bkt") < _INC_CORPUS_BUCKETS)
    batch = tagged.filter(F.col("bkt") >= _INC_CORPUS_BUCKETS).select(
        "doc_id", "lang", "h", "sh", "bands"
    ).unionAll(
        corpus.filter(F.col("doc_id") % _INC_RECRAWL_MOD == 0).select(
            (F.col("doc_id") + _INC_RECRAWL_OFFSET).alias("doc_id"),
            "lang",
            "h",
            "sh",
            "bands",
        )
    )

    # exact probe: distinct corpus hashes, flagged via left join (lang
    # rides along so the final projection needs no re-join with batch)
    ch = corpus.select("h").distinct()
    exact = (
        batch.select("doc_id", "lang", "h")
        .join(ch.withColumn("is_exact", F.lit(True)), "h", "left")
        .select(
            "doc_id", "lang", F.coalesce("is_exact", F.lit(False)).alias("is_exact")
        )
    )

    # near probe: both sides' banded signatures are index reads; the
    # non-empty-shingles gate (= the old token-count gate) keeps short
    # docs out of banding exactly as before
    def bands_of(side: DataFrame, alias: str) -> DataFrame:
        return side.filter(F.size("sh") > 0).select(
            F.col("doc_id").alias(alias),
            F.posexplode_outer("bands").alias("band", "sig"),
        )

    cbands = bands_of(corpus, "dc")
    bbands = bands_of(batch, "db")
    cand = bbands.join(cbands, ["band", "sig"]).select("db", "dc").distinct()
    pairs = cand.join(
        batch.select(F.col("doc_id").alias("db"), F.col("sh").alias("shb")), "db"
    ).join(corpus.select(F.col("doc_id").alias("dc"), F.col("sh").alias("shc")), "dc")
    i = F.size(F.array_intersect("shb", "shc"))
    jac = i * F.lit(1.0) / (F.size("shb") + F.size("shc") - i)
    near = (
        pairs.select("db", jac.alias("jac"))
        .filter(F.col("jac") >= _JACCARD_THRESHOLD)
        .select(F.col("db").alias("doc_id"))
        .distinct()
        .withColumn("is_near", F.lit(True))
    )

    verdict = (
        F.when(F.col("is_exact"), "exact")
        .when(F.coalesce(F.col("is_near"), F.lit(False)), "near")
        .otherwise("keep")
    )
    return (
        exact.join(near, "doc_id", "left")
        .select("doc_id", "lang", verdict.alias("verdict"))
    )


# --- edit-distance near-dup ------------------------------------------------

# band bucket cap: a prefix/suffix shared by more than this many docs
# (boilerplate headers/footers) is dropped from candidate generation —
# the same per-key work bound the ngram pipeline's df cutoff enforces
_EDIT_BAND_CAP = 32
_EDIT_BAND_CHARS = 32
# verify threshold: edit distance <= 15% of the longer text
_EDIT_PCT = 15


@query(
    "dedup_edit_distance",
    oracle=f"""
    WITH b AS (
        SELECT doc_id, lang, text, 'p' AS bt,
               left(text, {_EDIT_BAND_CHARS}) AS band FROM documents
        UNION ALL
        SELECT doc_id, lang, text, 's' AS bt,
               right(text, {_EDIT_BAND_CHARS}) AS band FROM documents
    ),
    capped AS (
        SELECT * FROM (
            SELECT *, count(*) OVER (PARTITION BY lang, bt, band) AS bn
            FROM b
        ) WHERE bn <= {_EDIT_BAND_CAP}
    ),
    cand AS (
        SELECT a.doc_id AS a_id, c.doc_id AS b_id,
               max(a.text) AS a_text, max(c.text) AS b_text
        FROM capped a JOIN capped c
          ON a.lang = c.lang AND a.bt = c.bt AND a.band = c.band
         AND a.doc_id < c.doc_id
        GROUP BY a.doc_id, c.doc_id
    )
    SELECT a_id, b_id,
           CAST(levenshtein(a_text, b_text) AS BIGINT) AS edit_dist,
           CAST(greatest(length(a_text), length(b_text)) AS BIGINT) AS max_len
    FROM cand
    WHERE levenshtein(a_text, b_text) * 100
          <= {_EDIT_PCT} * greatest(length(a_text), length(b_text))
    """,
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup detection — the third verification family
    after set-similarity (MinHash/ngram) and vector-cosine: candidates
    from two character bands (shared 32-char prefix OR suffix within a
    language — a k-edit pair whose edits miss one end collides there),
    a per-band bucket cap of 32 so boilerplate bands can't go
    quadratic, then exact Levenshtein verification at <= 15% of the
    longer text. Candidate generation is two equi-joins on (lang,
    band) — never all-pairs — and the DP verify runs JVM-side
    (``F.levenshtein``) on O(band_cap^2)-bounded pairs. Recall is
    banding-bounded (mid-text-only edits sharing neither end are
    missed) exactly as LSH recall is band-bounded; the driver-checked
    contract makes the trade explicit."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    bands = d.select(
        "doc_id", "lang", "text", F.lit("p").alias("bt"),
        F.expr(f"left(text, {_EDIT_BAND_CHARS})").alias("band"),
    ).unionByName(
        d.select(
            "doc_id", "lang", "text", F.lit("s").alias("bt"),
            F.expr(f"right(text, {_EDIT_BAND_CHARS})").alias("band"),
        )
    )
    wb = W.partitionBy("lang", "bt", "band")
    capped = (
        bands.withColumn("bn", F.count("*").over(wb))
        .filter(F.col("bn") <= _EDIT_BAND_CAP)
        .drop("bn")
    )
    left = capped.select(
        F.col("doc_id").alias("a_id"), "lang", "bt", "band",
        F.col("text").alias("a_text"),
    )
    right = capped.select(
        F.col("doc_id").alias("b_id"), "lang", "bt", "band",
        F.col("text").alias("b_text"),
    )
    # the DP runs INSIDE the aggregate's result projection: a filter on
    # `edit_dist` cannot push below an Aggregate, so each pair is
    # verified exactly once (phrased as select-then-filter, pushdown
    # would clone the levenshtein into the predicate — the SCALE.md
    # double-evaluation trap)
    cand = (
        left.join(right, ["lang", "bt", "band"])
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(
            F.levenshtein(F.max("a_text"), F.max("b_text"))
            .cast("bigint")
            .alias("edit_dist"),
            F.greatest(F.length(F.max("a_text")), F.length(F.max("b_text")))
            .cast("bigint")
            .alias("max_len"),
        )
    )
    return cand.filter(
        F.col("edit_dist") * 100 <= _EDIT_PCT * F.col("max_len")
    )
