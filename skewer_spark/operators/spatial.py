"""Spatial grid bucketing: radius self-join without a cross join.

The geometric sibling of the LSH band joins in ``dedup.py`` /
``similarity.py``: find all point pairs within distance ``r`` by
hashing points into an ``r × r`` integer grid and equi-joining
neighbor cells — the candidate set shrinks from n² to the points
sharing a 3×3 cell neighborhood, and the join is a plain shuffled
hash join on compact integer keys.

Uses: co-located host pairs in a latency coordinate embedding,
near-duplicate UI click positions, 2-D projections of embeddings
(after ``cluster.jl_project`` to 2 dims), geo points on an
equirectangular approximation.

Scale shape:

* One side keeps its HOME cell; the other explodes to the 3×3
  neighborhood.  A qualifying pair (a, b) meets EXACTLY once: a's
  9-cell probe set contains b's unique home cell (and the ``id_a <
  id_b`` predicate lives in the join condition, so the mirrored
  direction never materializes — the lesson from
  ``simhash_candidate_pairs`` r2).
* The self-join rides an explicit fixed-width ``repartition`` on the
  cell key: AQE sizes post-shuffle partitions by the join's *input*
  bytes and would coalesce a quadratic-*output* join to one task
  (CLAUDE.md; same guard as ``dedup._band_pairs``).
* ``cell_cap`` deterministically bounds degenerate cells (every point
  at the origin, a default-coordinate pathology) at |cell|·cap join
  output, same one-sided cap contract as ``_band_pairs``.
* Distances compare as **exact integer** dx²+dy² against r² — no
  sqrt, no float drift across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from skewer_spark.operators.dedup import cap_per_group


def grid_cells(
    df: DataFrame,
    x_col: str,
    y_col: str,
    cell_size: int,
) -> DataFrame:
    """Add integer grid coordinates ``(cx, cy)`` = x DIV cell, y DIV
    cell — exact BIGINT division, no float in the key path.  Integer
    ``DIV`` truncates toward zero, which equals floor only for
    non-negative inputs — callers shift coordinates non-negative
    first (the fixtures synthesize non-negative grids)."""
    cell = int(cell_size)
    return df.withColumns(
        {
            "cx": F.expr(f"CAST(`{x_col}` AS BIGINT) DIV {cell}"),
            "cy": F.expr(f"CAST(`{y_col}` AS BIGINT) DIV {cell}"),
        }
    )


def radius_pairs(
    df: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    radius: int,
    cell_cap: int | None = None,
) -> DataFrame:
    """All unordered point pairs with dx² + dy² ≤ radius² (integer
    metric), as ``(id_a, id_b, dist_sq)`` with ``id_a < id_b``.

    Grid cell size = radius, so any qualifying pair lies within one
    cell of each other in both axes — the 3×3 neighborhood explode on
    the probe side is exhaustive (no recall loss; this is exact, not
    approximate).
    """
    pts = grid_cells(
        df.select(
            F.col(id_col).cast("bigint").alias("pid"),
            F.col(x_col).cast("bigint").alias("px"),
            F.col(y_col).cast("bigint").alias("py"),
        ),
        "px",
        "py",
        radius,
    )
    n = df.sparkSession.sparkContext.defaultParallelism

    # build side: home cell only, fixed-width exchange on the cell key
    build = pts.select(
        F.col("pid").alias("id_b"),
        F.col("px").alias("bx"),
        F.col("py").alias("by"),
        "cx",
        "cy",
    ).repartition(n, "cx", "cy")
    build = cap_per_group(build, ["cx", "cy"], "id_b", cell_cap)

    # probe side: explode to the 3×3 neighborhood (pure expressions)
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    probe = (
        pts.select(
            F.col("pid").alias("id_a"),
            F.col("px").alias("ax"),
            F.col("py").alias("ay"),
            "cx",
            "cy",
        )
        .withColumn("o", F.explode(offsets))
        .select(
            "id_a",
            "ax",
            "ay",
            (F.col("cx") + F.col("o.dx")).alias("cx"),
            (F.col("cy") + F.col("o.dy")).alias("cy"),
        )
        .repartition(n, "cx", "cy")
    )

    dist_sq = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    # the capped (home-cell) side must be the LOW-id side of each pair
    # so every point still pairs with its cell's lowest-id survivors
    # (the _band_pairs cap contract) — hence probe > build, swapped on
    # emit so the output keeps id_a < id_b.
    return (
        probe.join(
            build,
            on=[
                probe["cx"] == build["cx"],
                probe["cy"] == build["cy"],
                F.col("id_a") > F.col("id_b"),
            ],
        )
        .where(dist_sq <= F.lit(radius * radius))
        .select(
            F.col("id_b").alias("id_a"),
            F.col("id_a").alias("id_b"),
            dist_sq.alias("dist_sq"),
        )
    )


def radius_counts(
    df: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    radius: int,
    cell_cap: int | None = None,
) -> DataFrame:
    """Per-point neighbor count within ``radius`` (undirected) — the
    density signal for spatial outlier screens.  Points with no
    neighbor appear with count 0 (left join back to the point set)."""
    pairs = radius_pairs(df, id_col, x_col, y_col, radius, cell_cap)
    per = (
        pairs.select(F.col("id_a").alias("pid"))
        .unionAll(pairs.select(F.col("id_b").alias("pid")))
        .groupBy("pid")
        .agg(F.count(F.lit(1)).alias("n_neighbors"))
    )
    ids = df.select(F.col(id_col).cast("bigint").alias("pid")).distinct()
    return ids.join(per, "pid", "left").na.fill({"n_neighbors": 0})
