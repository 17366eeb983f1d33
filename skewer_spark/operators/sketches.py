"""Mergeable distinct-count sketches for incremental / resumable metrics.

The pipeline's snapshot model (``plans/checkpoint.py``) appends data in
slices: per-bucket waves today, time-sliced ingest on a real cluster.
Counter metrics compose across slices because SUM is associative — but
``COUNT(DISTINCT ...)`` does not: per-slice distinct counts can only be
summed when the slice key partitions the distinct key (true for the
conv-hash buckets, false for time slices, where one conversation spans
many snapshots).  The reference sidesteps this by keeping one global
process counter (``metrics.go`` gauges); at 10^12 turns the Spark-native
answer is a MERGEABLE sketch column stored with each slice's metrics:
new slice → build the slice's partial sketch (one pass over the slice
only) → union with the stored sketches → exact-or-bounded distinct
count for the whole table, never rescanning history.

Two sketch families, both JVM built-ins (no Python in the hot path):

* ``hll_*`` — Apache DataSketches HLL via ``hll_sketch_agg`` /
  ``hll_union_agg``: ~1.6 % error at the default lgK=12, 2–4 KB per
  group, any key type.  Union of partials estimates the union within
  the same error bound as a single-pass sketch (register-wise max);
  at low cardinality (sparse/coupon mode) both are exact, but the two
  build paths are NOT guaranteed bit-identical mid-promotion —
  measured ≤1 % apart at ~800 distinct (pinned by test).  Merging the
  same partials is always deterministic.
* ``bitmap_*`` — exact distinct for integer keys via
  ``bitmap_construct_agg`` / ``bitmap_or_agg``: one bit per potential
  key in 4 KB buckets of 32768 positions.  Exact and mergeable — the
  right tool for dense ids (user ids, event ids); HLL for strings or
  sparse/huge domains.

Scale shape: both build sides are partial-aggregable (map-side combine
on the group keys — the sketch IS the combiner state), the merge side
runs over the tiny metrics frames only.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = [
    "hll_partials",
    "hll_merge",
    "bitmap_partials",
    "bitmap_merge",
    "bitmap_distinct",
    "cms_coords",
    "cms_partials",
    "cms_merge",
    "cms_estimate",
    "dd_bucket",
    "dd_partials",
    "dd_merge",
    "dd_quantiles",
]

_DEFAULT_LGK = 12


def hll_partials(
    df: DataFrame,
    key: str | Column,
    group_cols: list[str],
    lgk: int = _DEFAULT_LGK,
) -> DataFrame:
    """One slice → per-group HLL partial sketches (binary ``hll``).

    Store this next to the slice's counter metrics; it is the only
    state needed to fold the slice into any future distinct count.
    """
    key = F.col(key) if isinstance(key, str) else key
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(key, F.lit(lgk)).alias("hll")
    )


def hll_merge(partials: DataFrame, group_cols: list[str]) -> DataFrame:
    """Union stored partials → per-group ``n_distinct`` estimate."""
    return partials.groupBy(*group_cols).agg(
        F.hll_sketch_estimate(F.hll_union_agg("hll"))
        .cast("bigint")
        .alias("n_distinct")
    )


def bitmap_partials(
    df: DataFrame,
    key: str | Column,
    group_cols: list[str],
) -> DataFrame:
    """One slice → per-(group, bucket) exact bitmaps for an int key.

    ``(bitmap_bucket_number, bitmap_bit_position)`` is a bijection on
    int64, so distinct keys ↔ distinct set bits: the count is EXACT.
    """
    key = F.col(key) if isinstance(key, str) else key
    return (
        df.select(
            *group_cols,
            F.bitmap_bucket_number(key).alias("bkt"),
            F.bitmap_bit_position(key).alias("pos"),
        )
        .groupBy(*group_cols, "bkt")
        .agg(F.bitmap_construct_agg("pos").alias("bm"))
    )


def bitmap_merge(partials: DataFrame, group_cols: list[str]) -> DataFrame:
    """OR stored bitmaps bucket-wise, then sum set bits per group."""
    return (
        partials.groupBy(*group_cols, "bkt")
        .agg(F.bitmap_or_agg("bm").alias("bm"))
        .groupBy(*group_cols)
        .agg(F.sum(F.bitmap_count("bm")).cast("bigint").alias("n_distinct"))
    )


def bitmap_distinct(
    df: DataFrame,
    key: str | Column,
    group_cols: list[str],
) -> DataFrame:
    """Exact per-group distinct count of an integer key via bitmaps,
    end-to-end (build + merge in one plan).  Same result as
    ``countDistinct`` but the intermediate state is mergeable — split
    the input into arbitrary slices, ``bitmap_partials`` each, and
    ``bitmap_merge`` later gives the identical count (pinned by test).
    """
    return bitmap_merge(bitmap_partials(df, key, group_cols), group_cols)


# ---------------------------------------------------------------------------
# Count-min sketch: SUM-mergeable frequency estimates
# ---------------------------------------------------------------------------
#
# HLL/bitmap answer "how many DISTINCT keys"; the CMS answers "how OFTEN
# is key k" without keeping per-key counters.  Same slice model as the
# sketches above: each ingest slice builds its own d×w counter table in
# one pass, and because the table cells are plain counts the merge is a
# plain SUM over (row_id, bucket) — the strongest mergeability there is
# (associative, commutative, works under ANY slicing, exactly equal to
# the single-pass sketch, pinned by test).  estimate(k) = min over the d
# rows of cell(row, h_row(k)); always >= the true count, within
# eps = e/width with prob 1 - (1/e)^depth (Cormode & Muthukrishnan '05).
#
# Hashes are md5 slices (the repo-wide contract: bit-replicable in any
# SQL engine), so the DuckDB oracle reproduces the sketch — and its
# estimates — exactly.  Scale shape: the build is ONE explode(depth) +
# a partial-aggregable groupBy whose combiner state is bounded at
# depth·width cells per task regardless of input rows; estimates join
# candidate keys against the <= depth·width-row sketch (broadcast).

_CMS_DEPTH = 4
_CMS_WIDTH = 1024


def cms_coords(key: Column, depth: int = _CMS_DEPTH, width: int = _CMS_WIDTH) -> Column:
    """``array<struct<row_id,bucket>>`` — the CMS cells one key hits.

    Row i's hash is the first 32 bits of ``md5('cms{i}|' || key)`` mod
    ``width`` (independent md5 personas per row, same trick as the
    MinHash signature slicing).
    """
    return F.array(
        *[
            F.struct(
                F.lit(i).cast("int").alias("row_id"),
                (
                    F.conv(
                        F.substring(
                            F.md5(F.concat(F.lit(f"cms{i}|"), key)), 1, 8
                        ),
                        16,
                        10,
                    ).cast("long")
                    % width
                )
                .cast("int")
                .alias("bucket"),
            )
            for i in range(depth)
        ]
    )


def cms_partials(
    df: DataFrame,
    key: str | Column,
    slice_cols: list[str] | None = None,
    depth: int = _CMS_DEPTH,
    width: int = _CMS_WIDTH,
) -> DataFrame:
    """One slice → its CMS counter cells ``(slice…, row_id, bucket, cnt)``.

    Only occupied cells are materialized (missing cell == 0), so a slice
    costs at most ``depth·width`` rows however large its input.
    """
    key = F.col(key) if isinstance(key, str) else key
    sc = list(slice_cols or [])
    ex = df.select(
        *sc, F.explode(cms_coords(key.cast("string"), depth, width)).alias("e")
    )
    return ex.groupBy(*sc, "e.row_id", "e.bucket").agg(
        F.count("*").alias("cnt")
    )


def cms_merge(partials: DataFrame) -> DataFrame:
    """Fold stored per-slice cells into one sketch: SUM per cell."""
    return partials.groupBy("row_id", "bucket").agg(
        F.sum("cnt").alias("cnt")
    )


def cms_estimate(
    cms: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = _CMS_DEPTH,
    width: int = _CMS_WIDTH,
) -> DataFrame:
    """Point-query candidate keys against a (merged) sketch.

    Returns ``(key_col, cms_count)`` with ``cms_count`` = min over the
    ``depth`` rows of the key's counter (0 where the cell is absent —
    an absent cell proves count 0).  The sketch side is at most
    ``depth·width`` rows → broadcast; the candidate frame never
    shuffles wide.
    """
    coords = keys.select(
        key_col,
        F.explode(
            cms_coords(F.col(key_col).cast("string"), depth, width)
        ).alias("e"),
    ).select(key_col, "e.row_id", "e.bucket")
    return (
        coords.join(F.broadcast(cms), ["row_id", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("cms_count"))
    )


# ---------------------------------------------------------------------------
# DDSketch: SUM-mergeable quantile estimates with relative-error bounds
# ---------------------------------------------------------------------------
#
# Completes the mergeable-metrics family: HLL/bitmap = distincts, CMS =
# frequencies, DDSketch (Masson, Rim & Lee, VLDB'19) = quantiles.  The
# per-snapshot use case is latency/size percentiles: exact percentiles
# need the raw values (unmergeable), while a DDSketch is a tiny
# bucket→count table whose merge is a plain SUM per bucket — exactly
# equal to the single-pass sketch under ANY slicing (pinned by test).
#
# bucket(v) = ceil(ln v / ln gamma) for v > 0 (v <= 0 → reserved zero
# bucket), estimate(bucket i) = 2·gamma^i/(gamma+1), giving relative
# error <= alpha where gamma = (1+alpha)/(1-alpha).  All arithmetic is
# IEEE-double builtins, so the DuckDB oracle replays the sketch
# cell-for-cell (estimates rounded 6 dp on both engines — the
# cross-engine contract used by rrf_fuse).
#
# Scale shape: the build is a partial-aggregable groupBy whose combiner
# state is bounded at the bucket count (~ln(max/min)/ln(gamma) ≈ 1.4k
# buckets for 12 decades at gamma=1.02) per task regardless of input
# rows; quantile extraction runs windows over the tiny (keys × buckets)
# frame only.

_DD_GAMMA = 1.02
_DD_ZERO_BUCKET = -(2**31)


def dd_bucket(value: Column, gamma: float = _DD_GAMMA) -> Column:
    """DDSketch bucket index; v <= 0 (and NULL) land in the zero bucket."""
    return (
        F.when(
            value > 0,
            F.ceil(F.log(value.cast("double")) / math.log(gamma)),
        )
        .otherwise(F.lit(_DD_ZERO_BUCKET))
        .cast("long")
    )


def dd_partials(
    df: DataFrame,
    value_col: str | Column,
    key_cols: list[str] | None = None,
    slice_cols: list[str] | None = None,
    gamma: float = _DD_GAMMA,
) -> DataFrame:
    """One slice → its sketch cells ``(slice…, key…, bucket, cnt)``."""
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    kc, sc = list(key_cols or []), list(slice_cols or [])
    return (
        df.select(*sc, *kc, dd_bucket(v, gamma).alias("bucket"))
        .groupBy(*sc, *kc, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def dd_merge(partials: DataFrame, key_cols: list[str] | None = None) -> DataFrame:
    """Fold stored per-slice cells into one sketch: SUM per cell."""
    kc = list(key_cols or [])
    return partials.groupBy(*kc, "bucket").agg(F.sum("cnt").alias("cnt"))


def dd_quantiles(
    sketch: DataFrame,
    qs: tuple[float, ...] = (0.5, 0.95, 0.99),
    key_cols: list[str] | None = None,
    gamma: float = _DD_GAMMA,
) -> DataFrame:
    """Quantile estimates off a (merged) sketch: one row per key with a
    ``p50/p95/p99``-style DOUBLE column per requested quantile.

    q's estimate is the lowest bucket whose cumulative count reaches
    ``max(1, ceil(q·n))`` (rank semantics: the value at that rank in
    sorted order, the DDSketch paper's definition), mapped back through
    the bucket midpoint ``2·gamma^i/(gamma+1)`` and rounded to 6 dp for
    cross-engine determinism.  Zero-bucket hits estimate 0.0.  Windows
    run on the compact (keys × buckets) frame only.
    """
    kc = list(key_cols or [])
    part = Window.partitionBy(*[F.col(c) for c in kc]) if kc else Window.partitionBy()
    w_cum = part.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = part.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = sketch.select(
        *kc,
        "bucket",
        F.sum("cnt").over(w_cum).alias("_cum"),
        F.sum("cnt").over(w_all).alias("_n"),
    )
    def _est(bcol: Column) -> Column:
        return F.when(bcol == _DD_ZERO_BUCKET, F.lit(0.0)).otherwise(
            F.round(
                F.lit(2.0) * F.pow(F.lit(gamma), bcol) / F.lit(gamma + 1.0),
                6,
            )
        )

    names = [("p%g" % (100.0 * q)).replace(".", "_") for q in qs]
    aggs = []
    for q, name in zip(qs, names):
        rank = F.greatest(
            F.lit(1).cast("long"),
            F.ceil(F.lit(float(q)) * F.col("_n")),
        )
        aggs.append(
            F.min(
                F.when(F.col("_cum") >= rank, F.col("bucket"))
            ).alias(f"_b_{name}")
        )
    rowed = cum.groupBy(*kc).agg(F.max("_n").alias("n"), *aggs)
    return rowed.select(
        *kc,
        "n",
        *[_est(F.col(f"_b_{name}")).alias(name) for name in names],
    )


# ---------------------------------------------------------------------------
# Bloom filter: mergeable set membership for scale-out semi-join pruning
# ---------------------------------------------------------------------------
#
# An exact decontamination check broadcasts the benchmark shingle SET
# — fine while the reference corpus fits in a broadcast (~100s of MB),
# wrong once the "do not train on this" list is itself web-scale
# (every eval suite + every opted-out domain).
# The classic production answer is a Bloom filter: membership bits, no
# keys, zero false negatives — probe-side docs that miss CANNOT be
# contaminated, so the expensive exact check (or the full anti-join)
# runs only on the tiny might-contain remainder.  The filter is
# SUM-of-bits mergeable (bitwise OR), so per-slice partials compose
# exactly like the CMS/DDSketch partials above — build it incrementally
# as new benchmark sets arrive, never rescan the old ones.
#
# Engine-replicable hashing (the q_bloom_decontam oracle mirrors it
# cell-for-cell): position i of a key is the low 60 bits of
# md5(key || ':' || i) taken as hex → BIGINT, mod m.  All arithmetic is
# exact int64 in both Spark and DuckDB; bits live in 64-bit words, and
# `shiftleft(1L, 63)` wraps to the sign bit identically in both engines
# (two's complement), pinned by test.

_BLOOM_BITS = 1 << 20  # 1 Mi bits = 16 Ki int64 words = 128 KiB
_BLOOM_K = 5


def _bloom_pos(key: Column, i: int, m_bits: int) -> Column:
    """Bit position of hash ``i`` for ``key`` — 60-bit md5 draw mod m."""
    h = F.conv(
        F.substring(F.md5(F.concat(key, F.lit(f":{i}"))), 1, 15), 16, 10
    ).cast("long")
    return F.pmod(h, F.lit(m_bits))


def bloom_partials(
    keys: DataFrame,
    key_col: str = "key",
    m_bits: int = _BLOOM_BITS,
    k: int = _BLOOM_K,
) -> DataFrame:
    """Build the filter: ``(word_idx, word)`` int64 rows, ≤ m/64 of them.

    ONE explode(k) + ONE partial-aggregable groupBy(word_idx) — the
    combiner state per task is bounded at m/64 words regardless of key
    count.  Absent words mean all-zero (the probe treats missing
    word_idx as unset bits), so the frame stays sparse for small sets.
    """
    key = F.col(key_col).cast("string")
    pos = F.explode(
        F.array(*[_bloom_pos(key, i, m_bits) for i in range(k)])
    ).alias("pos")
    positions = keys.select(pos)
    return (
        positions.select(
            (F.col("pos") / F.lit(64)).cast("long").alias("word_idx"),
            # pyspark's F.shiftleft only takes a literal numBits; the
            # SQL function accepts an expression
            F.expr("shiftleft(1L, cast(pos % 64 as int))").alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("word"))
    )


def bloom_merge(partials: DataFrame) -> DataFrame:
    """OR per-slice filters together — exact mergeability, any slicing."""
    return partials.groupBy("word_idx").agg(F.bit_or("word").alias("word"))


def bloom_probe(
    probes: DataFrame,
    bloom: DataFrame,
    key_col: str = "key",
    m_bits: int = _BLOOM_BITS,
    k: int = _BLOOM_K,
) -> DataFrame:
    """Membership verdicts: ``(key, might_contain)``, one row per
    distinct probe key.

    Membership is a pure function of the key, so the probe frame is
    reduced to distinct keys first (dedups repeated shingles for free).
    The filter frame is ≤ m/64 rows (128 KiB of words at the default
    m=2^20) — Spark broadcasts it, so the probe side's only exchange is
    its own distinct: explode the k positions, broadcast-join the
    words, AND the bit tests back per key.  No false negatives by
    construction; false-positive rate ≈ (1 - e^(-k·n/m))^k.
    """
    from pyspark.sql.functions import broadcast

    key = F.col(key_col).cast("string")
    probed = (
        probes.select(key.alias("key"))
        .distinct()
        .withColumn(
            "_pos",
            F.explode(
                F.array(
                    *[_bloom_pos(F.col("key"), i, m_bits) for i in range(k)]
                )
            ),
        )
        .withColumn("_widx", (F.col("_pos") / F.lit(64)).cast("long"))
    )
    joined = probed.join(
        broadcast(bloom), probed["_widx"] == bloom["word_idx"], "left"
    )
    mask = F.expr("shiftleft(1L, cast(_pos % 64 as int))")
    bit_set = (
        F.coalesce(F.col("word"), F.lit(0).cast("long")).bitwiseAND(mask)
        != 0
    )
    return (
        joined.withColumn("_hit", bit_set.cast("int"))
        .groupBy("key")
        .agg((F.sum("_hit") == F.lit(k)).alias("might_contain"))
    )
