"""Invariant tests for the curation operators — independent of the
DuckDB oracles (which mirror the implementations), these pin the
properties a training-data pipeline actually relies on."""

from __future__ import annotations

import pyspark.sql.functions as F

from eye_of_sauron_spark.plans.curation import (
    pack_sequences,
    split_train_val_test,
    text_repetition_score,
    tfidf_top_terms,
)
from eye_of_sauron_spark.functions.text import (
    bigrams_spark,
    shingles_spark,
    tokens_spark,
)
from eye_of_sauron_spark.sources import load_table


def test_split_is_total_and_deterministic(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    out = split_train_val_test(spark, sf_dir)
    rows = {(r["split"], r["lang"]): r for r in out.collect()}
    # every document lands in exactly one (split, lang) cell
    assert sum(r["n_docs"] for r in rows.values()) == n_docs
    assert {s for s, _ in rows} <= {"train", "val", "test"}
    # hash routing is deterministic: a second evaluation is identical
    rows2 = {(r["split"], r["lang"]): r for r in split_train_val_test(spark, sf_dir).collect()}
    assert rows.keys() == rows2.keys()
    assert all(rows[k]["n_docs"] == rows2[k]["n_docs"] for k in rows)


def test_pack_sequences_conserves_tokens_and_bins_are_contiguous(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    # derive the expected counts with the OPERATOR'S tokenizer so a
    # tokenizer change shows up as a pack_sequences diff, not a silent
    # desync of this invariant (ADVICE r05)
    per_lang_tokens = {
        r["lang"]: (r["toks"], r["n"])
        for r in docs.groupBy("lang")
        .agg(
            F.sum(F.size(tokens_spark(F.col("text")))).alias("toks"),
            F.count("*").alias("n"),
        )
        .collect()
    }
    bins = pack_sequences(spark, sf_dir).collect()
    by_lang: dict[str, list] = {}
    for r in bins:
        by_lang.setdefault(r["lang"], []).append(r)
    assert set(by_lang) == set(per_lang_tokens)
    for lang, rs in by_lang.items():
        # token and doc conservation: packing reassigns, never drops
        assert sum(r["bin_tokens"] for r in rs) == per_lang_tokens[lang][0]
        assert sum(r["n_docs"] for r in rs) == per_lang_tokens[lang][1]
        # bins are contiguous from 0 (no empty bin can exist: every
        # bin index is some document's starting offset // budget)
        ids = sorted(r["bin"] for r in rs)
        assert ids == list(range(len(ids)))


def test_repetition_score_bounds(spark, sf_dir):
    out = text_repetition_score(spark, sf_dir)
    bad = out.filter(
        (F.col("n_distinct") > F.col("n_tokens"))
        | (F.col("rep_ratio") < 0)
        | (F.col("rep_ratio") > 1)
        | (F.col("keep") != (F.col("rep_ratio") <= 0.8))
    ).count()
    assert bad == 0
    # it scores every document
    assert out.count() == load_table(spark, sf_dir, "documents").count()


def test_tfidf_topk_shape(spark, sf_dir):
    out = tfidf_top_terms(spark, sf_dir).collect()
    per_doc: dict[int, list] = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, rs in per_doc.items():
        ranks = sorted(r["rank"] for r in rs)
        assert ranks == list(range(1, len(ranks) + 1)), doc_id
        assert len(rs) <= 3
        # scores are non-increasing in rank order
        by_rank = sorted(rs, key=lambda r: r["rank"])
        scores = [r["tfidf"] for r in by_rank]
        assert all(a >= b for a, b in zip(scores, scores[1:])), doc_id


def test_shingles_and_bigrams_total_on_short_empty_null(spark):
    """Documents shorter than the window, empty or null yield an empty
    array (never a runtime error from a negative slice length); longer
    ones yield their distinct n-token windows in order."""
    docs = spark.createDataFrame(
        [(0, None), (1, ""), (2, "a"), (3, "a b"), (4, "a b c"),
         (5, "a b c d a b c")],
        "id INT, text STRING",
    )
    rows = {
        r["id"]: r
        for r in docs.select(
            "id",
            shingles_spark(F.col("text")).alias("sh3"),
            shingles_spark(F.col("text"), 8).alias("sh8"),
            bigrams_spark(F.col("text")).alias("bi"),
        ).collect()
    }
    for i in (0, 1, 2, 3):
        assert rows[i]["sh3"] == [], i
    assert rows[4]["sh3"] == ["a b c"]
    assert rows[5]["sh3"] == ["a b c", "b c d", "c d a", "d a b"]
    assert all(rows[i]["sh8"] == [] for i in rows)
    assert [r["bi"] for r in (rows[0], rows[1], rows[2])] == [[], [], []]
    assert [tuple(b) for b in rows[3]["bi"]] == [("a", "b")]
    assert len(rows[5]["bi"]) == 6
