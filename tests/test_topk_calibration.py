"""Unit tests: two-stage salted top-k."""

from __future__ import annotations

from pyspark.sql import functions as F

from skewer_spark.operators.skew import salted_topk


def test_salted_topk_equals_window_formulation(spark):
    # 1000 rows, 7 groups, duplicate values → id tie-break must match
    rows = [(i % 7, i, float((i * 31) % 50)) for i in range(1000)]
    df = spark.createDataFrame(rows, ["g", "id", "v"])
    got = {
        (r["g"], r["rank"]): (r["id"], r["v"])
        for r in salted_topk(df, ["g"], "v", "id", k=5, n_salts=4).collect()
    }
    from pyspark.sql.window import Window

    w = Window.partitionBy("g").orderBy(F.col("v").desc(), F.col("id").asc())
    want = {
        (r["g"], r["rank"]): (r["id"], r["v"])
        for r in df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .collect()
    }
    assert got == want


def test_salted_topk_plan_has_no_window(spark):
    # the whole point: two partial-aggregable HashAggregate stages,
    # never a per-group window sort over all rows
    df = spark.createDataFrame([("a", 1, 5.0)], ["g", "id", "v"])
    plan = (
        salted_topk(df, ["g"], "v", "id", k=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan
    assert "ObjectHashAggregate" in plan or "HashAggregate" in plan or "SortAggregate" in plan


def test_salted_topk_small_group(spark):
    # a group with fewer than k rows returns all of them, ranked
    df = spark.createDataFrame([("a", 1, 5.0), ("a", 2, 9.0)], ["g", "id", "v"])
    got = [(r["rank"], r["id"]) for r in
           salted_topk(df, ["g"], "v", "id", k=10).orderBy("rank").collect()]
    assert got == [(1, 2), (2, 1)]

