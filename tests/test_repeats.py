"""Corpus-level hot-n-gram stats and char entropy.

Unit-level checks with hand-computed expectations; driver-facing
correctness lives in the q_hot_ngrams / q_char_entropy DuckDB oracle
pairs.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from skewer_spark.functions.text import char_entropy
from skewer_spark.operators.repeats import hot_ngram_stats


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_hot_ngram_stats_flags_shared_grams(spark):
    # "x y z" appears in docs 0, 1, 2 (hot at min_docs=3);
    # every other 3-gram is unique to its doc
    df = _docs(
        spark,
        [
            "x y z p q r",          # grams: xyz yzp zpq pqr -> 1 hot of 4
            "a b x y z c",          # abx bxy xyz yzc        -> 1 hot of 4
            "x y z",                # xyz                    -> 1 hot of 1
            "totally different words here",
        ],
    )
    out = {
        r["doc_id"]: r
        for r in hot_ngram_stats(df, n=3, min_docs=3, flag_frac=0.5).collect()
    }
    assert len(out) == 4
    assert (out[0]["n_grams"], out[0]["n_hot"], out[0]["flagged"]) == (4, 1, False)
    assert (out[1]["n_grams"], out[1]["n_hot"], out[1]["flagged"]) == (4, 1, False)
    assert (out[2]["n_grams"], out[2]["n_hot"], out[2]["flagged"]) == (1, 1, True)
    assert out[2]["hot_frac"] == 1.0
    assert (out[3]["n_grams"], out[3]["n_hot"], out[3]["flagged"]) == (2, 0, False)


def test_hot_ngram_stats_short_doc_and_df_not_occurrences(spark):
    # doc 0 repeats "u v w" three times INSIDE itself — per-doc grams
    # are distinct, so its self-repetition alone must NOT make the
    # gram hot at min_docs=2
    df = _docs(spark, ["u v w u v w u v w", "no overlap at all", "xy"])
    out = {
        r["doc_id"]: r
        for r in hot_ngram_stats(df, n=3, min_docs=2, flag_frac=0.5).collect()
    }
    assert out[0]["n_hot"] == 0
    # 2-token doc: zero grams, never flagged, still present
    assert (out[2]["n_grams"], out[2]["n_hot"], out[2]["flagged"]) == (0, 0, False)


def test_char_entropy_known_values(spark):
    df = _docs(spark, ["aaaa", "ab", "aabb", "abab", ""])
    out = {
        r["doc_id"]: r["h"]
        for r in df.select(
            "doc_id", char_entropy().alias("h")
        ).collect()
    }
    assert out[0] == 0.0          # single symbol
    assert out[1] == 1.0          # two equiprobable symbols
    assert out[2] == 1.0          # run-lengths (2,2) -> 1 bit
    assert out[3] == 1.0          # order-invariant: same multiset as aabb
    assert out[4] == 0.0          # empty text guard
    # hand-computed mixed case: "aab c" -> counts a:2 b:1 ' ':1 c:1 of 5
    expect = -(
        0.4 * math.log2(0.4) + 3 * (0.2 * math.log2(0.2))
    )
    got = (
        _docs(spark, ["aab c"])
        .select(char_entropy().alias("h"))
        .collect()[0]["h"]
    )
    assert got == pytest.approx(round(expect, 4), abs=1e-4)


def test_line_dedup_first_occurrence_wins(spark):
    from skewer_spark.operators.repeats import line_dedup

    df = _docs(
        spark,
        [
            "alpha\nshared line\nbeta",
            "shared line\ngamma\nshared line",   # both copies dropped
            "shared line",                        # full husk
        ],
    )
    out = {r["doc_id"]: r for r in line_dedup(df).collect()}
    assert (out[0]["n_lines"], out[0]["n_kept"]) == (3, 3)
    assert out[0]["text_clean"] == "alpha\nshared line\nbeta"
    assert (out[1]["n_lines"], out[1]["n_kept"]) == (3, 1)
    assert out[1]["text_clean"] == "gamma"
    assert (out[2]["n_lines"], out[2]["n_kept"]) == (1, 0)
    assert out[2]["text_clean"] == ""


def test_line_dedup_within_doc_and_order(spark):
    from skewer_spark.operators.repeats import line_dedup

    # same-doc repeat: only the first copy stays; original order kept
    df = _docs(spark, ["z\na\nz\nb\na"])
    r = line_dedup(df).collect()[0]
    assert (r["n_lines"], r["n_kept"]) == (5, 3)
    assert r["text_clean"] == "z\na\nb"


def test_corpus_overlap_identical_and_disjoint(spark):
    from skewer_spark.operators.dedup import corpus_overlap

    df = spark.createDataFrame(
        [
            ("A", "one two three four"),
            ("A", "five six"),
            ("B", "one two three four five six"),   # same vocab as A
            ("C", "zz yy xx ww"),                    # disjoint vocab
        ],
        "corpus string, text string",
    )
    out = {
        (r["corpus_a"], r["corpus_b"]): r
        for r in corpus_overlap(df, n_hashes=16).collect()
    }
    assert set(out) == {("A", "B"), ("A", "C"), ("B", "C")}
    # identical vocabularies -> every min matches
    assert out[("A", "B")]["n_match"] == 16
    assert out[("A", "B")]["jaccard_est"] == 1.0
    # disjoint vocabularies -> mins collide only by 2^-32 accident
    assert out[("A", "C")]["n_match"] == 0
    assert out[("B", "C")]["n_match"] == 0


def test_retrieval_metrics_hand_computed(spark):
    import math

    from skewer_spark.operators.search import retrieval_metrics

    # query 1: rels {d1 (rel 3), d2 (rel 1), d9 (rel 2)}; top-3
    # retrieved = d5, d1, d2 -> hits at ranks 2 (rel 3) and 3 (rel 1)
    res = spark.createDataFrame(
        [(1, "d5", 1), (1, "d1", 2), (1, "d2", 3),
         (2, "d7", 1), (2, "d8", 2)],
        "query_id long, doc_id string, rank int",
    )
    qrels = spark.createDataFrame(
        [(1, "d1", 3), (1, "d2", 1), (1, "d9", 2), (2, "d0", 1)],
        "query_id long, doc_id string, rel int",
    )
    out = {
        r["query_id"]: r
        for r in retrieval_metrics(res, qrels, k=3).collect()
    }
    q1 = out[1]
    assert (q1["n_rel"], q1["n_hit"]) == (3, 2)
    assert q1["recall_at_k"] == pytest.approx(2 / 3, abs=1e-6)
    assert q1["mrr_at_k"] == 0.5
    dcg = 3 / math.log2(3) + 1 / math.log2(4)
    idcg = 3 / math.log2(2) + 2 / math.log2(3) + 1 / math.log2(4)
    assert q1["ndcg_at_k"] == pytest.approx(round(dcg / idcg, 6), abs=1e-6)
    # query 2: nothing relevant retrieved -> zeros, but the row exists
    q2 = out[2]
    assert (q2["n_hit"], q2["recall_at_k"], q2["mrr_at_k"], q2["ndcg_at_k"]) == (
        0, 0.0, 0.0, 0.0,
    )


def test_fd_violations_holds_and_fails(spark):
    from skewer_spark.operators.validate import fd_violations

    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "a"), (2, "b"), (3, None), (3, "c")],
        "k long, v string",
    )
    out = {r["k"]: r for r in fd_violations(df, ["k"], "v").collect()}
    assert 1 not in out                      # dependency holds for k=1
    assert out[2]["n_rhs_values"] == 2
    assert (out[2]["rhs_min"], out[2]["rhs_max"]) == ("a", "b")
    assert out[3]["n_rhs_values"] == 2       # NULL counts as a level


def test_long_doc_ngram_ops_are_not_quadratic(spark):
    # 40 docs x 20k tokens: the BOUND forms finish in seconds; the
    # unbound (per-element split re-evaluation) forms measured 84x
    # slower at a tenth of this length and would stall for many
    # minutes here.  Wide margin so CPU-grant swings can't flake it.
    import time

    from skewer_spark.operators.dedup import word_shingles
    from skewer_spark.operators.repeats import hot_ngram_stats

    doc = " ".join(f"w{i % 997}" for i in range(20000))
    df = spark.createDataFrame(
        [(i, doc) for i in range(40)], "doc_id long, text string"
    )
    t = time.time()
    df.select(F.size(word_shingles("text", 3)).alias("s")).agg(
        F.sum("s")
    ).collect()
    hot_ngram_stats(df, n=3, min_docs=2).agg(F.sum("n_hot")).collect()
    assert time.time() - t < 120


def test_ngram_expressions_use_bound_split():
    # the binding idiom is load-bearing (functions/hof.py): the split
    # must appear as transform(array(split(...)), ...) so it evaluates
    # once per row, not once per element
    from skewer_spark.functions.text import char_entropy
    from skewer_spark.operators.dedup import word_shingles

    assert "transform(array(split" in str(word_shingles("text", 3))
    # char_entropy folds over the sorted array directly — the sort must
    # be the aggregate's INPUT, never referenced inside its lambdas
    s = str(char_entropy())
    assert "aggregate(array_sort(" in s


def test_line_dedup_null_text_doc_is_kept(spark):
    from skewer_spark.operators.repeats import line_dedup

    df = spark.createDataFrame(
        [(0, "alpha\nbeta"), (1, None)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in line_dedup(df).collect()}
    assert set(out) == {0, 1}          # NULL-text doc NOT dropped
    assert (out[1]["n_lines"], out[1]["n_kept"]) == (1, 1)
    assert out[1]["text_clean"] == ""  # its single empty line, kept
