"""Exploded-span machinery for corpus-wide span operators.

:func:`~skewer_spark.operators.dedup.dedup_substring_spans`
(occurrence-level keep-first substring dedup) cuts token spans out of
documents corpus-wide.  The halves that do not depend on which shingle
OCCURRENCES are covered live here: tokenize + shingle, and the rebuild
that drops covered positions.

Scale shape: everything is exploded ROWS,
never per-row quadratic work; the token stream rides each shuffle as
narrow ``(id, pos, tok)`` / ``(id, spos, sh)`` rows — text bytes never
shuffle whole.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tokenize_and_shingle(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """``(base, tok_rows, sh_rows)`` for one whitespace-token corpus.

    * ``base`` — ``(id, _toks)``, the split token arrays (callers reuse
      it for the per-doc ``n_tokens`` total);
    * ``tok_rows`` — ``(id, pos, tok)`` via map-side posexplode;
    * ``sh_rows`` — ``(id, spos, sh)``: every word ``n``-gram position
      with its 8-char md5-prefix key.  32-bit shingle keys are the
      MinHash trade — 2^-32 collision slack for a 4x narrower shuffle
      key.
    """
    toks = F.split(F.col(text_col), " ")
    base = df.select(F.col(id_col), toks.alias("_toks"))
    tok_rows = base.select(
        id_col, F.posexplode("_toks").alias("pos", "tok")
    )
    sh_rows = base.select(
        F.col(id_col),
        F.posexplode(
            F.when(
                F.size("_toks") >= n,
                F.transform(
                    F.sequence(F.lit(0), F.size("_toks") - n),
                    lambda i: F.substring(
                        F.md5(F.concat_ws(" ", F.slice("_toks", i + 1, n))),
                        1, 8,
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("spos", "sh"),
    )
    return base, tok_rows, sh_rows


def covered_positions(occ: DataFrame, id_col: str, n: int) -> DataFrame:
    """Expand covered shingle occurrences ``(id, spos)`` to the
    distinct covered token positions ``(id, pos)`` (sequence explode +
    distinct — overlapping spans collapse here)."""
    return (
        occ.select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("spos"), F.col("spos") + (n - 1))
            ).alias("pos"),
        )
        .distinct()
    )


def rebuild_minus_covered(
    base: DataFrame, tok_rows: DataFrame, covered: DataFrame, id_col: str
) -> DataFrame:
    """Drop covered ``(id, pos)`` tokens (LEFT ANTI — Catalyst makes it
    a shuffled hash join), then rebuild per doc with one
    ``groupBy(id)`` + ``array_sort(collect_list(struct(pos, tok)))`` —
    order restored without a sort-within-partitions pass.

    Returns ``(id, n_tokens, n_removed, text_clean)``, one row per
    input doc; fully-covered docs come back with empty text.
    """
    kept = tok_rows.join(covered, [id_col, "pos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count("*").alias("_n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("text_clean"),
    )
    return (
        base.select(id_col, F.size("_toks").alias("n_tokens"))
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("_n_kept"), F.lit(0)))
            .cast("int")
            .alias("n_removed"),
            F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
        )
    )
