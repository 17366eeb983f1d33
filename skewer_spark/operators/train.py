"""Distributed classifier training: logistic regression by exact
integer-quantized gradient aggregation.

Trains a linear model over fastText-style hashed features in-cluster,
so a quality-filter gate (hashed features → linear classifier →
keep/drop) never leaves Spark.  Batch gradient
descent — the right shape for a corpus-scale shuffle-once-per-epoch
trainer (SGD's per-sample updates don't distribute; L-BFGS and friends
add state for little benefit at these dimensionalities).

Determinism (the repo-wide resume/oracle contract): weights start at
ZERO (no RNG), and each per-dimension gradient contribution is
quantized ``round(g·2^20)`` to BIGINT before the cross-partition sum —
exact integer addition is commutative, so the fitted weights are
bit-identical regardless of partitioning, retries, or engine (the
:func:`..cluster.kmeans_update` trick).  The float work (sigmoid) is
per-row and order-free; only its quantized products are ever summed.

Scale shape (the 100 TB contract): per epoch, ONE narrow pass computes
each row's margin via a sequential array fold against the BROADCAST
weight literal (no join — weights are plan literals, dim ≤ a few
thousand), then one ``posexplode`` + partial-aggregable
``groupBy(pos)`` reduces dim·rows contributions to ``dim`` rows
collected at the driver.  Per-epoch cost: one shuffle of compact
``(pos, int64)`` rows.  The loop re-plans from the cached input each
round — persist the feature frame before calling (the
``dedup_clusters`` lesson).

Reference parity: no analog in the reference; part of the
training-data toolbox the task brief adds (SURVEY.md "beyond the
reference").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_QUANT = 1 << 20


def _margin(features_col: str, weights: list[float]):
    """w·x as a sequential double fold against the weight literal."""
    warr = F.array(*[F.lit(float(w)) for w in weights])
    prods = F.zip_with(
        F.col(features_col), warr, lambda x, w: x.cast("double") * w
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def logreg_gradient_step(
    df: DataFrame,
    weights: list[float],
    features_col: str = "features",
    label_col: str = "label",
    lr: float = 0.5,
    l2: float = 0.0,
) -> list[float]:
    """One exact batch-GD step; returns the new weight vector.

    ``w_j ← w_j − lr·( mean_rows[(σ(w·x) − y)·x_j] + l2·w_j )`` with
    the mean computed from integer-quantized contributions (see module
    docstring).  Dimensions no row touches keep their weight (decayed
    by l2 only)."""
    dim = len(weights)
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-_margin(features_col, weights)))
    err = p - F.col(label_col).cast("double")
    contrib = (
        df.select(err.alias("_e"), F.posexplode(features_col).alias("_p", "_x"))
        .select(
            "_p",
            F.round(
                F.col("_e") * F.col("_x").cast("double") * F.lit(float(_QUANT)),
                0,
            ).cast("long").alias("_qg"),
        )
        .groupBy("_p")
        .agg(F.sum("_qg").alias("_sq"), F.count("*").alias("_n"))
        .collect()
    )
    if not contrib:
        # empty input: no data gradient, only the l2 decay applies
        return [w - lr * l2 * w for w in weights]
    # dense equal-length feature arrays: every dimension's row count IS
    # the row count — no separate df.count() action (one scan per step,
    # not two)
    n_rows = max(r["_n"] for r in contrib)
    grads = [0.0] * dim
    for r in contrib:
        grads[r["_p"]] = (r["_sq"] / float(_QUANT)) / float(n_rows)
    return [
        w - lr * (g + l2 * w) for w, g in zip(weights, grads)
    ]


def logreg_fit(
    df: DataFrame,
    dim: int,
    features_col: str = "features",
    label_col: str = "label",
    epochs: int = 10,
    lr: float = 0.5,
    l2: float = 0.0,
) -> list[float]:
    """Fit from zero weights; returns the final vector.  Persist the
    feature frame first — every epoch re-reads it."""
    w = [0.0] * dim
    for _ in range(epochs):
        w = logreg_gradient_step(df, w, features_col, label_col, lr, l2)
    return w


def logreg_predict(
    df: DataFrame,
    weights: list[float],
    features_col: str = "features",
    out_col: str = "score",
) -> DataFrame:
    """σ(w·x) per row — narrow map against the broadcast weight
    literal, 6-dp rounded (the cross-engine contract)."""
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-_margin(features_col, weights)))
    return df.withColumn(out_col, F.round(p, 6))


def weights_frame(spark, weights: list[float]) -> DataFrame:
    """``(pos, weight)`` rows (6-dp) — the storable/auditable form."""
    return spark.createDataFrame(
        [(i, round(w, 6)) for i, w in enumerate(weights)], "pos int, weight double"
    )


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-curve bins for a [0,1] classifier score — the audit
    that must run before :func:`logreg_predict` scores gate a corpus
    (a quality classifier that says 0.9 but is right 60% of the time
    silently reshapes the training mix).

    Equal-width bins on the score (``floor(score·n)``, top edge
    clamped into the last bin); per bin: count, mean predicted score,
    observed positive rate, and the signed gap (observed − predicted
    — positive means the model is under-confident there).  The
    weighted mean |gap| over bins is the standard ECE; emitting the
    per-bin rows (not just the scalar) keeps the diagnosis:
    WHICH score region is miscalibrated.

    One partial-aggregable groupBy on a ≤ n_bins-cardinality key —
    free at any scale.  Sums accumulate the raw doubles; rounding at
    emit only.
    """
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("double")
    b = F.least(
        F.floor(s * n_bins).cast("int"), F.lit(n_bins - 1)
    )
    agg = df.groupBy(b.alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(s).alias("_ss"),
        F.sum(y).alias("_sy"),
    )
    n = F.col("n").cast("double")
    return agg.select(
        "bin",
        "n",
        F.round(F.col("_ss") / n, 6).alias("mean_score"),
        F.round(F.col("_sy") / n, 6).alias("pos_rate"),
        F.round(F.col("_sy") / n - F.col("_ss") / n, 6).alias("gap"),
    )
