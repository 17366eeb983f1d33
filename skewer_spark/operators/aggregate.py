"""Aggregate stage: the metric tables (SURVEY.md §2.7).

The reference's only aggregations are Prometheus counters; each becomes
a count table here:

* incoming by source dims — ``skw_incoming_messages_total``
  (``/root/reference/services/base/metrics.go:17-23``).
* parse errors by parser — ``skw_parsing_errors_total``
  (``metrics.go:33-39``).
* filter verdicts by (status, client-analog, destination) —
  ``skw_message_filtering_total`` (``store/store.go:77-84``,
  ``store/forwarder.go:193-207``).
* per-sink delivered counts — ``skw_store_acks_total``
  (``store/store.go:69-75``).
* distinct conversations — ``skw_client_connections_total`` analog
  (``metrics.go:25-31``) via a mergeable HLL sketch at scale.

The incoming, parse-error and filter tables come out of one scan,
``metric_grouping_sets``; ``plans.job.write_outputs`` splits them.

Plus the batch-native **windowed** rollup the north rule asks for:
``groupBy(window(ts, '1 hour'), sink, severity_name, tool).count()``.

All are partial-aggregating hash aggregates (map-side combine free from
Catalyst); the only shuffle key is the group-by key itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from skewer_spark.operators.route import with_sink_labels


def metric_grouping_sets(routed: DataFrame) -> DataFrame:
    """All counter-style metric tables in ONE scan + ONE shuffle.

    GROUPING SETS ((filter_status, role), (parser_name, parse_ok),
    (role)) — the per-set results are split back out by the caller
    (grouping-set id column ``gid``).  The combined result cardinality
    is tiny at any input scale (products of enum dims), so callers can
    collect it and write the final tables driver-side without extra
    Spark jobs — this halves the fixed job count per slice, which is
    what dominates wall time for small slices.
    """
    return (
        routed.groupingSets(
            [["filter_status", "role"], ["parser_name", "parse_ok"], ["role"]],
            "filter_status", "role", "parser_name", "parse_ok",
        )
        .agg(
            F.count("*").alias("n_messages"),
            # the one distinct count, as mergeable sketch state
            # (operators/sketches.py): stored with the slice's partials
            # so whole-table distincts come from unioning sketches,
            # valid under ANY slicing (micro-batches too, where summing
            # per-slice counts double-counts).  Exact count_distinct
            # under grouping sets would expand the input 3x before the
            # shuffle.
            F.hll_sketch_agg("conv_id", F.lit(12)).alias("convs_hll"),
            F.grouping_id().alias("gid"),
        )
    )


def sink_counts(routed: DataFrame) -> DataFrame:
    """Per-sink routed-row counts by severity name (ack-total analog).

    Single pass: explode the matching-sink array instead of N filtered
    unions — one scan regardless of destination count.
    """
    return (
        with_sink_labels(routed)
        .groupBy("sink", "severity_name")
        .agg(F.count("*").alias("n_messages"))
        .select("sink", "severity_name", "n_messages")
    )


def windowed_counts_from_labeled(labeled: DataFrame, window: str = "1 hour") -> DataFrame:
    """Hourly rollup on an already sink-labeled frame."""
    return (
        labeled
        .groupBy(
            F.window("ts", window).alias("w"), "sink", "severity_name", "tool"
        )
        .agg(F.count("*").alias("n_messages"))
        .select(
            F.col("w.start").alias("window_start"),
            "sink", "severity_name", "tool", "n_messages",
        )
    )


def windowed_counts(routed: DataFrame, window: str = "1 hour") -> DataFrame:
    """Hourly rollup per (sink, severity_name, tool) — one exploded pass."""
    return windowed_counts_from_labeled(with_sink_labels(routed), window)


def time_rollup(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Hour / day / week rollups of count+sum in ONE corpus scan via
    GROUPING SETS — the multi-granularity dashboard feed.

    Three separate GROUP BYs would scan the table three times; the
    grouping-sets plan expands each row into its three bucket rows
    AFTER the narrow projection, and every set partial-aggregates
    map-side, so 10^12 rows pay one scan + one compact-key exchange
    (the `metric_grouping_sets` pattern applied to time).  Buckets are
    epoch-anchored (never calendar-aware) so any engine agrees on the
    cuts.

    Output: ``(level, bucket_start, n_events, sum_v)`` with ``level``
    ∈ {hour, day, week}; sum rounded 6dp.
    """
    e = F.unix_micros(F.col(ts_col).cast("timestamp")) / F.lit(1e6)
    v = F.col(value_col).cast("double")
    binned = df.select(
        F.floor(e / 3600).cast("bigint").alias("_h"),
        F.floor(e / 86400).cast("bigint").alias("_d"),
        F.floor(e / 604800).cast("bigint").alias("_w"),
        v.alias("_v"),
    )
    rolled = binned.groupingSets(
        [["_h"], ["_d"], ["_w"]], "_h", "_d", "_w"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("_v"), 6).alias("sum_v"),
        F.grouping_id().alias("_gid"),
    )
    # grouping_id bit = 1 when the column is aggregated-away; column
    # order (_h, _d, _w) → hour-set 0b011, day-set 0b101, week 0b110
    return rolled.select(
        F.when(F.col("_gid") == 3, "hour")
        .when(F.col("_gid") == 5, "day")
        .otherwise("week")
        .alias("level"),
        F.date_format(
            F.timestamp_seconds(
                F.when(F.col("_gid") == 3, F.col("_h") * 3600)
                .when(F.col("_gid") == 5, F.col("_d") * 86400)
                .otherwise(F.col("_w") * 604800)
            ),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("bucket_start"),
        "n_events",
        "sum_v",
    )


def agg_state(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Mergeable per-key aggregate state: ``(key…, n_rows, sum_v,
    min_v, max_v)`` — the stored half of incremental view
    maintenance.  One partial-aggregable groupBy."""
    v = F.col(value_col).cast("double")
    return df.groupBy(*[F.col(c) for c in key_cols]).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(v).alias("sum_v"),
        F.min(v).alias("min_v"),
        F.max(v).alias("max_v"),
    )


def merge_agg_state(
    state: DataFrame,
    delta: DataFrame,
    key_cols: list[str],
) -> DataFrame:
    """Merge two :func:`agg_state` frames — incremental view
    maintenance: yesterday's committed state + today's micro-batch
    state == the full recompute, without rescanning history.

    count/sum/min/max are associative+commutative, so the merge is a
    full-outer join on the key with field-wise combine (NULL side =
    absent key).  sum rounded 6dp at EMIT time only (the stored state
    keeps full precision so repeated merges don't accumulate rounding).

    Scale shape: the 10^12-row history is touched NEVER — both inputs
    are already key-cardinality frames; one compact full-outer join.
    The same layout Structured Streaming keeps in its state store,
    here as explicit, resumable table rows (plans/checkpoint bucket
    pattern).
    """
    a = state.select(
        *[F.col(c) for c in key_cols],
        F.col("n_rows").alias("_n1"),
        F.col("sum_v").alias("_s1"),
        F.col("min_v").alias("_mn1"),
        F.col("max_v").alias("_mx1"),
    )
    b = delta.select(
        *[F.col(c) for c in key_cols],
        F.col("n_rows").alias("_n2"),
        F.col("sum_v").alias("_s2"),
        F.col("min_v").alias("_mn2"),
        F.col("max_v").alias("_mx2"),
    )
    j = a.join(b, key_cols, "full_outer")
    return j.select(
        *key_cols,
        (F.coalesce(F.col("_n1"), F.lit(0)) + F.coalesce(F.col("_n2"), F.lit(0))).alias("n_rows"),
        (F.coalesce(F.col("_s1"), F.lit(0.0)) + F.coalesce(F.col("_s2"), F.lit(0.0))).alias("sum_v"),
        # least/greatest skip NULL arguments (null only if ALL are
        # null) — exactly the absent-key semantics wanted
        F.least(F.col("_mn1"), F.col("_mn2")).alias("min_v"),
        F.greatest(F.col("_mx1"), F.col("_mx2")).alias("max_v"),
    )


def linear_trend(
    df: DataFrame,
    key_cols: list[str],
    x_col: str,
    y_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Per-key least-squares trend (slope / intercept / r²) from EXACT
    integer sums — the telemetry "is this host's error rate climbing"
    primitive over the metric tables of SURVEY §2.7.

    Why not ``regr_slope``: the built-in accumulates doubles in
    partition order, so the last ulps of the result depend on the
    physical plan — unacceptable for an engine whose correctness gate
    is a cross-engine value hash, and for resumable jobs that must
    reproduce byte-identical outputs (plans/checkpoint contract).
    Instead the inputs are required to be integers (callers scale
    fixed-point: ``floor(value * 1000)``), the five moment sums
    ``n, Σx, Σy, Σxy, Σx²`` reduce as BIGINT — associative, exact, and
    order-independent — and the closed forms

        slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²)
        intercept = (Σy − slope·Σx) / n
        r² = (nΣxy − ΣxΣy)² / ((nΣx² − (Σx)²)(nΣy² − (Σy)²))

    evaluate in double once per KEY, from identical integers on any
    engine.  One partial-aggregable groupBy, key-width shuffle rows.

    Overflow discipline: callers pass x relative to a fixed epoch so
    ``Σx²`` fits BIGINT (x ≤ 3·10⁶s ≈ a month of seconds and 10⁶
    rows/key ⇒ Σx² ≤ 9·10¹⁸, the BIGINT edge — shift the epoch or
    bucket time coarser for longer spans; the expression raises on
    overflow rather than wrapping, per ANSI mode).

    Degenerate keys (n == 1 or zero x-variance) emit NULL slope /
    intercept / r², matching SQL ``regr_*`` semantics.
    """
    x = F.col(x_col).cast("bigint")
    y = F.col(y_col).cast("bigint")
    sums = df.groupBy(*[F.col(c) for c in key_cols]).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * y).alias("_sxy"),
        F.sum(x * x).alias("_sxx"),
        F.sum(y * y).alias("_syy"),
    )
    n = F.col("_n").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sxx = F.col("_sxx").cast("double")
    syy = F.col("_syy").cast("double")
    cov_n = n * sxy - sx * sy
    varx_n = n * sxx - sx * sx
    vary_n = n * syy - sy * sy
    slope = F.when(varx_n > 0, cov_n / varx_n)
    return sums.select(
        *key_cols,
        F.col("_n").alias("n_points"),
        F.round(slope, round_dp).alias("slope"),
        F.round(F.when(varx_n > 0, (sy - (cov_n / varx_n) * sx) / n), round_dp).alias(
            "intercept"
        ),
        F.round(
            F.when(
                (varx_n > 0) & (vary_n > 0), cov_n * cov_n / (varx_n * vary_n)
            ),
            round_dp,
        ).alias("r2"),
    )
