"""Mergeable distinct-count sketches: exactness + merge semantics."""

from __future__ import annotations

import pyspark.sql.functions as F


def _events(spark, n=2000, n_users=137):
    return spark.range(n).select(
        F.col("id").alias("event_id"),
        F.pmod(F.xxhash64(F.col("id")), F.lit(n_users)).alias("user_id"),
        F.concat(F.lit("t"), F.pmod("id", F.lit(3)).cast("string")).alias(
            "event_type"
        ),
    )


def test_bitmap_distinct_is_exact(spark):
    from skewer_spark.operators.sketches import bitmap_distinct

    ev = _events(spark)
    got = {
        r.event_type: r.n_distinct
        for r in bitmap_distinct(ev, "user_id", ["event_type"]).collect()
    }
    want = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got == want


def test_bitmap_merge_across_arbitrary_slices(spark):
    # slices cut ACROSS users (by event id), so per-slice counts sum to
    # far more than the true distinct count — the merge must be exact
    from skewer_spark.operators.sketches import (
        bitmap_merge, bitmap_partials,
    )

    ev = _events(spark)
    sliced = ev.withColumn("slice", F.pmod("event_id", F.lit(9)))
    parts = bitmap_partials(sliced, "user_id", ["event_type", "slice"])
    merged = {
        r.event_type: r.n_distinct
        for r in bitmap_merge(parts.drop("slice"), ["event_type"]).collect()
    }
    want = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert merged == want
    # and summing per-slice distincts really would over-count
    oversum = (
        bitmap_merge(parts, ["event_type", "slice"])
        .groupBy("event_type")
        .agg(F.sum("n_distinct").alias("s"))
        .collect()
    )
    assert all(r.s > want[r.event_type] for r in oversum)


def test_bitmap_negative_and_boundary_keys(spark):
    from skewer_spark.operators.sketches import bitmap_distinct

    df = spark.createDataFrame(
        [(v,) for v in [-5, -5, 0, 1, 32768, 32769, 2**40, -(2**40)]],
        "k long",
    ).withColumn("g", F.lit("all"))
    got = bitmap_distinct(df, "k", ["g"]).collect()[0].n_distinct
    assert got == 7


def _hll_merged_vs_single(spark, ev, n_slices):
    from skewer_spark.operators.sketches import hll_merge, hll_partials

    single = {
        r.event_type: r.n_distinct
        for r in hll_merge(
            hll_partials(ev, "user_id", ["event_type"]), ["event_type"]
        ).collect()
    }
    sliced = ev.withColumn("slice", F.pmod("event_id", F.lit(n_slices)))
    merged = {
        r.event_type: r.n_distinct
        for r in hll_merge(
            hll_partials(sliced, "user_id", ["event_type", "slice"]).drop(
                "slice"
            ),
            ["event_type"],
        ).collect()
    }
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    return single, merged, exact


def test_hll_union_exact_at_low_cardinality(spark):
    # sparse/coupon mode: both build paths are exact → all three agree
    single, merged, exact = _hll_merged_vs_single(
        spark, _events(spark, n=2000, n_users=60), 11
    )
    assert merged == single == exact


def test_hll_union_within_error_bound_and_deterministic(spark):
    # at ~330 distinct per group the two build paths are NOT guaranteed
    # bit-identical (sparse→dense promotion differs), but both must sit
    # within the lgK=12 error bound, and re-merging the same partials
    # must reproduce the estimate exactly
    single, merged, exact = _hll_merged_vs_single(
        spark, _events(spark, n=5000, n_users=997), 11
    )
    for k in exact:
        assert abs(merged[k] - exact[k]) / exact[k] < 0.05
        assert abs(single[k] - exact[k]) / exact[k] < 0.05
        assert abs(merged[k] - single[k]) / exact[k] < 0.02
    _, merged2, _ = _hll_merged_vs_single(
        spark, _events(spark, n=5000, n_users=997), 11
    )
    assert merged2 == merged


def test_pipeline_metrics_carry_mergeable_sketches(spark, tmp_path):
    # incoming_counts partials store per-bucket HLL state; finalize
    # unions them into n_convs, the true distinct count on this fixture
    from skewer_spark.plans.job import run_pipeline
    from skewer_spark.synth import write_transcripts

    tdir = str(tmp_path / "t")
    odir = str(tmp_path / "o")
    write_transcripts(spark, tdir, n_convs=20, turns_per_conv=10)
    run_pipeline(spark, tdir, odir, n_buckets=3)
    inc = spark.read.parquet(f"{odir}/agg_final/incoming_counts").collect()
    assert inc and "n_convs_merged" not in inc[0].asDict()
    exact = {
        r.role: r.n
        for r in spark.read.parquet(tdir)
        .groupBy("role")
        .agg(F.countDistinct("conv_id").alias("n"))
        .collect()
    }
    assert {r.role: r.n_convs for r in inc} == exact


# ---------------------------------------------------------------------------
# count-min sketch
# ---------------------------------------------------------------------------

def test_cms_merge_equals_single_pass(spark):
    # SUM-mergeability: arbitrary slices, merged cells == one-pass cells
    from skewer_spark.operators.sketches import cms_merge, cms_partials

    ev = _events(spark)
    one = {
        (r.row_id, r.bucket): r.cnt
        for r in cms_partials(ev, "user_id").collect()
    }
    sliced = ev.withColumn("slice", F.pmod("event_id", F.lit(9)))
    merged = {
        (r.row_id, r.bucket): r.cnt
        for r in cms_merge(
            cms_partials(sliced, "user_id", ["slice"]).drop("slice")
        ).collect()
    }
    assert merged == one


def test_cms_estimate_upper_bounds_exact(spark):
    from skewer_spark.operators.sketches import (
        cms_estimate, cms_merge, cms_partials,
    )

    ev = _events(spark)
    sketch = cms_merge(cms_partials(ev, "user_id"))
    exact = {
        r.user_id: r.n
        for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    keys = ev.select("user_id").distinct()
    est = {
        r.user_id: r.cms_count
        for r in cms_estimate(sketch, keys, "user_id").collect()
    }
    assert set(est) == set(exact)
    # CMS never under-counts; at 137 keys in a 4x1024 table collisions
    # are rare, so the estimate is almost always exact
    assert all(est[k] >= exact[k] for k in exact)
    n_exact = sum(1 for k in exact if est[k] == exact[k])
    assert n_exact >= len(exact) * 0.95


def test_cms_absent_key_estimates_zero_or_collision(spark):
    from skewer_spark.operators.sketches import (
        cms_estimate, cms_merge, cms_partials,
    )

    ev = _events(spark)
    sketch = cms_merge(cms_partials(ev, "user_id"))
    ghosts = spark.range(900000, 900004).select(
        F.col("id").alias("user_id")
    )
    est = cms_estimate(sketch, ghosts, "user_id").collect()
    assert len(est) == 4
    # min-over-rows with coalesce(0): a key the sketch never saw reads
    # 0 unless ALL 4 of its cells collide with live keys
    assert all(r.cms_count >= 0 for r in est)


# ---------------------------------------------------------------------------
# DDSketch quantiles
# ---------------------------------------------------------------------------

def _values(spark, n=3000):
    # deterministic positive values spanning ~4 decades, 3 keys
    return spark.range(n).select(
        F.col("id"),
        F.concat(F.lit("k"), F.pmod("id", F.lit(3)).cast("string")).alias(
            "key"
        ),
        F.pmod("id", F.lit(5)).alias("slice"),
        (
            F.pow(F.lit(10.0), F.pmod(F.xxhash64("id"), F.lit(4000)) / 1000.0)
            + F.lit(0.25)
        ).alias("v"),
    )


def test_dd_merge_equals_single_pass(spark):
    """Per-slice partials SUM-merged == the single-pass sketch, cell
    for cell — mergeability under arbitrary slicing."""
    from skewer_spark.operators.sketches import dd_merge, dd_partials

    df = _values(spark)
    merged = dd_merge(
        dd_partials(df, "v", key_cols=["key"], slice_cols=["slice"]),
        key_cols=["key"],
    )
    single = dd_partials(df, "v", key_cols=["key"])
    a = {(r.key, r.bucket): r.cnt for r in merged.collect()}
    b = {(r.key, r.bucket): r.cnt for r in single.collect()}
    assert a == b


def test_dd_quantiles_relative_error_bound(spark):
    """alpha = (gamma-1)/(gamma+1): every estimate within alpha of the
    exact rank-based quantile (the paper's guarantee)."""
    from skewer_spark.operators.sketches import dd_partials, dd_quantiles

    gamma = 1.02
    alpha = (gamma - 1.0) / (gamma + 1.0)
    df = _values(spark)
    sk = dd_partials(df, "v", key_cols=["key"], gamma=gamma)
    got = {
        r.key: r
        for r in dd_quantiles(
            sk, (0.5, 0.95, 0.99), key_cols=["key"], gamma=gamma
        ).collect()
    }
    import math

    vals = {}
    for r in df.collect():
        vals.setdefault(r.key, []).append(r.v)
    for key, xs in vals.items():
        xs.sort()
        for q, col in ((0.5, "p50"), (0.95, "p95"), (0.99, "p99")):
            exact = xs[max(1, math.ceil(q * len(xs))) - 1]
            est = getattr(got[key], col)
            assert abs(est - exact) / exact <= alpha + 1e-9, (key, col)


def test_dd_zero_and_negative_bucket(spark):
    from skewer_spark.operators.sketches import dd_partials, dd_quantiles

    df = spark.createDataFrame(
        [(0.0,), (-5.0,), (0.0,), (100.0,)], "v double"
    )
    sk = dd_partials(df, "v")
    [r] = dd_quantiles(sk, (0.5, 0.99)).collect()
    assert r.p50 == 0.0          # 3 of 4 values are <= 0
    assert abs(r.p99 - 100.0) / 100.0 <= 0.01
    assert r.n == 4


def test_dd_quantiles_ungrouped(spark):
    from skewer_spark.operators.sketches import dd_partials, dd_quantiles

    df = _values(spark)
    [r] = dd_quantiles(dd_partials(df, "v"), (0.5,)).collect()
    assert r.n == 3000 and r.p50 > 0
