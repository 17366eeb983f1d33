"""Corpus-level repeated-n-gram detection (C4-style excision signal).

This module is the cross-document signal: an n-gram is "hot" when it
appears in at least ``min_docs`` distinct documents, and a document
is flagged when too many of its n-grams are hot — the C4
pipeline's "remove any document containing a repeated span" rule,
re-expressed as two map-side-combinable aggregations instead of a
corpus-wide suffix structure.

Scale shape (the whole point at 10^12 grams):

* The gram shuffle key is ``xxhash64(gram)`` — an 8-byte int instead of
  a ~20-40 byte 3-word string, so both shuffles move compact fixed
  width keys and the groupBy combines map-side.  Collision bound: for
  G distinct grams the expected number of colliding PAIRS is
  ~G²/2^65 — at G = 10^12 that is ~0.03 pairs corpus-wide, and a
  collision only ever *overcounts* a gram's document frequency (it can
  never hide a genuinely hot gram).  The sf0.01 oracle joins on the
  gram string itself and hash-matches exactly (no collisions at ~10^5
  grams, p < 10^-9).
* Per-document grams are DISTINCT before exploding (document frequency,
  not occurrence count) — a degenerate looping document contributes
  each gram once, so one pathological writer cannot promote its own
  spam to "hot" alone.
* Two shuffles total: gram→doc-frequency (ints, partial agg) and the
  hot-set semi-join back onto the exploded grams (ints again); the
  text column never shuffles.  The hot set is usually tiny (that is
  what "hot" means) and auto-broadcasts under AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from skewer_spark.operators.dedup import word_shingles


def hot_ngram_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_docs: int = 3,
    flag_frac: float = 0.5,
) -> DataFrame:
    """Per-document hot-n-gram exposure.

    Returns ``(doc_id, n_grams, n_hot, hot_frac, flagged)`` where
    ``n_grams`` counts the document's distinct word n-grams, ``n_hot``
    how many of those appear in >= ``min_docs`` distinct documents
    corpus-wide, and ``flagged`` is ``hot_frac >= flag_frac`` — the
    excision verdict.  Documents shorter than ``n`` tokens yield
    ``n_grams = 0`` and are never flagged.
    """
    # per-doc stats come from the exploded frame itself (n_grams = its
    # per-doc row count).  Document frequency per gram is a COUNT OVER
    # (PARTITION BY gk) window on that frame, so the expensive shingle
    # expression chain (split → transform/slice/concat → array_distinct
    # → explode) runs exactly ONCE (r6: the previous aggregate+join
    # shape rebuilt the exploded corpus for each branch — guide §2.4
    # "remove shuffles outright" / dedup of duplicated subtrees; 2
    # gram builds + agg-exchange + join → 1 gram build + window
    # exchange, measured 6.1 s → 0.95 s at sf0.1, same-burn window).
    # Scale trade: the window shuffles the full 16-byte (doc_id, gk)
    # frame once where the old agg shuffled compact partials — but it
    # buys back a full gram build (string-alloc-heavy, the dominant
    # cost) and the join; at 10^12 grams both shapes are one full pass
    # + one compact pass, and the gram build is the wall.  The only
    # extra
    # scan is the id-column-pruned `ids` frame that re-admits short
    # docs with zero grams (it never touches text or the gram
    # expressions).
    from pyspark.sql import Window

    ex = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(word_shingles(text_col, n)).alias("gram"),
        )
        .select("doc_id", F.xxhash64("gram").alias("gk"))
    )
    per = (
        ex.withColumn(
            "_df", F.count(F.lit(1)).over(Window.partitionBy("gk"))
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("_df") >= min_docs, 1).otherwise(0)
            ).alias("n_hot"),
        )
    )
    ids = df.select(F.col(id_col).alias("doc_id"))
    return ids.join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_grams"), F.lit(0)).cast("bigint").alias("n_grams"),
        F.coalesce(F.col("n_hot"), F.lit(0)).cast("bigint").alias("n_hot"),
        F.round(
            F.coalesce(F.col("n_hot"), F.lit(0)).cast("double")
            / F.greatest(F.coalesce(F.col("n_grams"), F.lit(0)), F.lit(1)).cast(
                "double"
            ),
            4,
        ).alias("hot_frac"),
        (
            F.coalesce(F.col("n_hot"), F.lit(0)).cast("double")
            / F.greatest(F.coalesce(F.col("n_grams"), F.lit(0)), F.lit(1)).cast(
                "double"
            )
            >= F.lit(float(flag_frac))
        ).alias("flagged"),
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """CCNet-style corpus-level line dedup with document reassembly.

    ``sep`` is a Java regex (it feeds ``split``); the default newline
    is regex-safe, escape anything fancier.

    A line occurrence survives iff it is the line's FIRST occurrence in
    the whole corpus, ordered by ``(doc_id, line_pos)`` — every later
    copy (in other documents OR later in the same document) is dropped.
    This is the paragraph/line dedup CCNet (Wenzek et al. 2020) and C4
    run before document-level dedup: boilerplate (nav bars, cookie
    banners, license headers) repeats across millions of pages line-
    for-line while the documents containing it are all distinct.

    Returns ``(doc_id, n_lines, n_kept, text_clean)`` with
    ``text_clean`` the kept lines re-joined by ``sep`` in original
    order (may be ``''`` when every line was a repeat — the caller
    drops such husks).

    Scale shape: keeper election is a groupBy-min on the compact
    ``(line_hash, doc_id, pos)`` triplet — min over a struct partial-
    combines map-side, so a line duplicated 10^9 times (the hottest of
    hot keys: empty lines, "Subscribe to our newsletter") reduces
    inside each map task instead of flooding one reducer the way a
    ``row_number`` window over the line key would.  The split+explode
    runs twice (the election branch is column-pruned to the hash
    triplet, the join branch carries text — different projections, no
    exchange reuse; narrow recompute beats persisting an exploded
    corpus).  The line TEXT rides exactly two exchanges (the keeper
    join, AQE-skew-join guarded, and the per-doc reassembly groupBy —
    the latter is irreducible: putting documents back together is a
    shuffle by doc).  Every doc reaches
    the reassembly (keep flags are computed per line, never filtered
    before the group), so husks come out with ``n_kept = 0`` WITHOUT a
    second corpus scan or a fix-up join — ``collect_list`` drops the
    NULLs the non-kept lines contribute.  Line identity is the PAIR
    ``(xxhash64(line), line)``: unlike :func:`hot_ngram_stats`, whose
    collision failure mode is a harmless overcount, a hash-only keeper
    key here would silently DROP one of two different lines that share
    a 64-bit hash (content loss, the asymmetric failure mode ADVICE
    r3 flagged) — so the raw line rides both the election groupBy and
    the keeper join key.  Scale cost is bounded: the min-struct
    partial-combines map-side, so the election exchange carries at
    most one row per distinct line per map task (the 10^9-dup hot line
    still reduces in place), and the hash prefix keeps the shuffle key
    cheap to compare for the overwhelmingly-common distinct-hash case.
    The sf0.01 oracle dedups on the raw line string and hash-matches
    exactly.
    """
    # NULL text reads as empty text: split(NULL) is NULL and
    # posexplode(NULL) emits ZERO rows, which would silently drop the
    # document from the output (breaking the every-doc contract and
    # any row-count compare); coalescing first gives such docs the
    # single empty line, which then participates in line dedup like
    # any other line
    lines = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), sep)
        ).alias("pos", "line"),
    ).withColumn("lk", F.xxhash64("line"))
    first = lines.groupBy("lk", "line").agg(
        F.min(F.struct("doc_id", "pos")).alias("keeper")
    )
    flagged = lines.join(first, ["lk", "line"]).withColumn(
        "_keep",
        (F.col("doc_id") == F.col("keeper.doc_id"))
        & (F.col("pos") == F.col("keeper.pos")),
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.col("_keep").cast("long")).cast("bigint").alias("n_kept"),
        F.coalesce(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("_keep"), F.struct("pos", "line"))
                        )
                    ),
                    lambda x: x["line"],
                ),
                sep,
            ),
            F.lit(""),
        ).alias("text_clean"),
    )
