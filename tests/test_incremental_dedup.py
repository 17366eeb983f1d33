"""Incremental (new-batch vs committed-corpus) MinHash dedup tests."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from skewer_spark.operators.dedup import (
    incremental_dedup,
    incremental_minhash_matches,
    minhash_signatures,
)


@pytest.fixture(scope="module")
def corpus_and_new(spark):
    corpus = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog"),
            (101, "pack my box with five dozen liquor jugs"),
            (102, "sphinx of black quartz judge my vow"),
        ]
        # degenerate boilerplate class: many corpus docs, identical text
        + [(200 + i, "subscribe to our newsletter for updates now") for i in range(30)],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 100
            (2, "completely unrelated fresh content entirely novel words"),
            (3, "subscribe to our newsletter for updates now"),  # dup of boilerplate
        ],
        ["doc_id", "text"],
    )
    sigs = minhash_signatures(corpus, "text", "doc_id", n_hashes=8)
    return corpus, new, sigs


def test_incremental_dedup_flags_corpus_dup(spark, corpus_and_new):
    _, new, sigs = corpus_and_new
    out = {r["new_id"]: r for r in incremental_dedup(new, sigs).collect()}
    assert out[1]["is_dup"] and out[1]["best_corpus_id"] == 100
    assert out[1]["est_jaccard"] == 1.0
    # novel doc: no band collision -> NULL match, not a dup
    assert not out[2]["is_dup"] and out[2]["best_corpus_id"] is None
    assert out[2]["est_jaccard"] is None
    # boilerplate dup: matched into the degenerate bucket
    assert out[3]["is_dup"]
    assert len(out) == 3  # exactly one verdict per new doc


def test_corpus_bucket_cap_bounds_and_still_flags(spark, corpus_and_new):
    _, new, sigs = corpus_and_new
    # cap the corpus side at 4 per bucket: the 30-doc boilerplate class
    # contributes at most 4 rows per band, yet the new dup still flags
    matches = incremental_minhash_matches(
        new, sigs, corpus_bucket_cap=4
    ).collect()
    boiler = [m for m in matches if m["new_id"] == 3]
    assert 0 < len(boiler) <= 4 * 4  # <= cap * bands
    # survivors are the lowest corpus ids
    assert min(m["corpus_id"] for m in boiler) == 200
    out = {r["new_id"]: r for r in
           incremental_dedup(new, sigs, corpus_bucket_cap=4).collect()}
    assert out[3]["is_dup"] and out[3]["best_corpus_id"] == 200


def test_best_match_tiebreak_deterministic(spark):
    # two corpus docs identical to the new doc: best = lowest corpus id
    corpus = spark.createDataFrame(
        [(7, "alpha beta gamma delta"), (5, "alpha beta gamma delta")],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame([(1, "alpha beta gamma delta")], ["doc_id", "text"])
    sigs = minhash_signatures(corpus, "text", "doc_id", n_hashes=8)
    row = incremental_dedup(new, sigs).collect()[0]
    assert row["best_corpus_id"] == 5 and row["est_jaccard"] == 1.0


def test_band_join_fixed_width_exchange(spark, corpus_and_new):
    """The candidate join must run on the explicit fixed-width
    repartition (AQE quadratic-output guard), not an AQE-coalesced
    exchange."""
    _, new, sigs = corpus_and_new
    plan = (
        incremental_minhash_matches(new, sigs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    n = spark.sparkContext.defaultParallelism
    assert f"hashpartitioning(band_id" in plan
    assert f", {n}), REPARTITION_BY_NUM" in plan


def test_groupby_max_reduction_equals_windowed_reference(spark, corpus_and_new):
    """incremental_dedup's best-match reduction is a row_number window
    (top-1 per new_id) over the distinct candidate matches.  Pin its
    contract row-for-row against an independent windowed reference:
    (est desc, corpus_id asc) top-1, NULL match for new docs without
    candidates.  The fixture has multi-band collisions (exact dups
    collide in every band) AND score ties (the 30-doc identical-
    boilerplate class all score 1.0 against new doc 3, so the tie-break
    must pick the LOWEST corpus id).  Any future rewrite of the
    reduction (e.g. a groupBy-max) must match it row-for-row."""
    from pyspark.sql import Window

    _, new, sigs = corpus_and_new
    got = {
        r["new_id"]: (r["best_corpus_id"], r["est_jaccard"], r["is_dup"])
        for r in incremental_dedup(new, sigs, threshold=0.5).collect()
    }
    w = Window.partitionBy("new_id").orderBy(
        F.col("est_jaccard").desc(), F.col("corpus_id").asc()
    )
    ref_best = (
        incremental_minhash_matches(new, sigs)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
    )
    ref = {
        r["new_id"]: (
            r["corpus_id"], r["est_jaccard"], r["est_jaccard"] >= 0.5
        )
        for r in ref_best.collect()
    }
    for new_id, verdict in ref.items():
        assert got[new_id] == verdict
    # new docs without any candidate: NULL match, not a dup
    for new_id in set(got) - set(ref):
        assert got[new_id] == (None, None, False)
    # tie-break hits the boilerplate class: lowest id of the 200..229 run
    assert got[3][0] == 200
