"""Exact set-similarity self-join via prefix filtering (AllPairs/PPJoin).

The LSH stack in :mod:`skewer_spark.operators.dedup` trades recall for
speed — banded MinHash *misses* pairs whose signatures never collide.
This module is the complementary EXACT path: every pair of documents
with token-set Jaccard >= t is returned, none invented, none missed
(the guarantee a dedup-compliance pass needs).  Algorithm family:
AllPairs (Bayardo et al., WWW'07) / PPJoin (Xiao et al., WWW'08) prefix
filtering, re-expressed as three DataFrame shuffles.

Prefix-filtering principle (Chaudhuri et al., ICDE'06): order every
set's tokens by one global total order; if ``J(x, y) >= t`` then the
first ``|x| - ceil(t*|x|) + 1`` tokens of x and the first
``|y| - ceil(t*|y|) + 1`` tokens of y share at least one token.  So an
equi-join on *prefix* tokens generates a candidate superset, and an
exact verify keeps only true pairs.  The global order is
(document-frequency ascending, token) — rarest-first, so the tokens
that land in prefixes are the most selective ones and hot stopwords
never generate candidates unless a doc is almost all stopwords.

Scale shape (the 100 TB contract):

* index build = TWO corpus-scale shuffles: one ``groupBy(token)`` for
  document frequencies, one token-keyed join to stamp df back onto the
  exploded token stream, then a per-doc ``sort_array(struct(df, tok))``
  aggregate.  Both are partial-aggregable / sort-merge shapes.
* candidate generation = equi-join of two ASYMMETRIC prefix streams on
  the token — pairs oriented by the global (size, id) order, the
  smaller side probing with the shorter AllPairs *indexing* prefix
  (``|s| - ceil(2t/(1+t)·|s|) + 1``) — with the orientation predicate
  and the one-directional size filter ``|s| >= t·|l|`` *inside* the
  join condition (never materialize the unfiltered product).  Both
  prefix streams are ``repartition(n, tok)`` explicitly: AQE sizes
  post-shuffle partitions by the shuffle's INPUT bytes and would
  coalesce this quadratic-OUTPUT join onto too few tasks (same guard
  as ``dedup._band_pairs``).
* verify = the candidate frame (narrow ``(id_a, id_b)``) joins the
  per-doc token arrays twice and computes exact Jaccard via
  ``array_intersect`` in codegen — candidates x tokens never becomes a
  shuffled row explosion (same shape as ``ngram_jaccard_pairs``).

Unlike the LSH operators there is NO bucket cap: a cap would break the
exactness contract.  The worst case — a corpus where many documents
share their *rarest* tokens — is exactly the case where those pairs are
real near-duplicates, i.e. the output itself is large; prefix + size
filtering bounds the candidates that FAIL verification.

Reference parity: the reference has no similarity search at all (it is
a syslog router); this operator is part of the training-data toolbox
the task brief adds on top (SURVEY.md "beyond the reference" section).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import shingle_windows
from .search import _tokens


def _doc_token_frame(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int
) -> DataFrame:
    """``(doc_id, tok)`` distinct set elements per doc.

    ``shingle_n=1`` → word tokens (lowercase, non-alphanumeric split —
    the tokenizer contract shared with the DuckDB oracles via
    :mod:`skewer_spark.operators.search`); ``shingle_n>1`` → word
    n-gram shingles over those tokens (space-joined).  Shingles are
    the right granularity for near-dup detection on small-vocabulary
    corpora where plain word SETS of unrelated docs already overlap
    heavily (measured on the driver fixture: 74% of all doc pairs have
    word-set Jaccard >= 0.5, but only the 25 planted near-dup pairs
    have bigram-shingle Jaccard >= 0.5)."""
    words = _tokens(text_col)
    if shingle_n <= 1:
        elems = F.array_distinct(words)
    else:
        elems = shingle_windows(words, shingle_n)
    return df.select(
        F.col(id_col).alias("doc_id"), F.explode(elems).alias("tok")
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_n: int = 1,
    shuffle_parts: int | None = None,
) -> DataFrame:
    """All pairs with set Jaccard >= ``threshold`` — EXACT.

    Returns ``(id_a, id_b, jaccard)`` with ``id_a < id_b`` and jaccard
    rounded to 6 dp (driver-oracle determinism contract).  Documents
    with zero set elements never pair (Jaccard undefined → excluded),
    which matches the brute-force oracle that only enumerates docs with
    non-empty sets.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError("threshold must be in (0, 1]")
    t = float(threshold)

    toks = _doc_token_frame(df, text_col, id_col, shingle_n)

    # global order: document frequency ascending, token as tiebreak —
    # DENSIFIED to an integer rank (an exact bijection, so every set
    # operation downstream is on ints: the candidate join keys, the
    # shuffled prefix rows, and the ~|candidates| verify intersections
    # all drop the string payload; measured 3-4x less shuffle + cheaper
    # hashing than (df, tok) struct arrays).  The rank window runs on
    # the |vocab|-row frame only; if the vocabulary itself outgrows one
    # task (10^9+ distinct shingles), swap in the distributed two-phase
    # prefix-sum rank from operators/transcripts._dense_conv_pos — the
    # corpus never touches this window either way.
    dfreq = toks.groupBy("tok").agg(F.count("*").alias("df"))
    vocab = dfreq.select(
        "tok",
        F.row_number()
        .over(Window.orderBy("df", "tok"))
        .alias("rk"),
    )
    ordered = (
        toks.join(vocab, "tok")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("rk")).alias("toks"))
        .select("doc_id", "toks", F.size("toks").alias("sz"))
        .filter(F.col("sz") > 0)
        # materialize the AllPairs index ONCE (r6): four consumers read
        # this frame (both prefix sides + both verify sides) and each
        # replayed the shingle build + vocab join + collect_list final
        # aggregate (16 ObjectHashAggregate nodes in the plan; the
        # exchanges were reused but final aggs are not).  An EAGER
        # localCheckpoint is the standard PPJoin "build the index, then
        # probe it" materialization — compact densified-int arrays, the
        # same bytes the verify joins ship anyway — and, unlike
        # .persist(), cannot leak results across separate invocations
        # (checkpoint blocks are instance-scoped, not analyzed-plan-
        # keyed).  Plan: 16 → 4 aggregate nodes.
        .localCheckpoint(eager=True)
    )

    # ASYMMETRIC prefixes (AllPairs "indexing prefix", Bayardo §3.1 /
    # PPJoin Lemma 1): orient every pair by the global (size, id)
    # order with s = the smaller set, l = the larger.  J(s,l) >= t
    # forces overlap alpha = ceil(t/(1+t)·(|s|+|l|)); since |l| >= |s|,
    # alpha >= ceil(2t/(1+t)·|s|) and alpha >= ceil(t·|l|).  The
    # prefix lemma (prefixes of length |x|-alpha+1 under one global
    # token order must intersect when O >= alpha) then lets the SMALL
    # side probe with only |s| - ceil(2t/(1+t)·|s|) + 1 tokens (at
    # t=0.5 that is |s|/3+1 vs the symmetric |s|/2+1) while the large
    # side keeps the standard |l| - ceil(t·|l|) + 1 — strictly fewer
    # candidates, zero recall loss (exactness pinned vs brute force in
    # tests/test_setsim.py).
    # EXACTNESS-AT-THE-BOUNDARY guard: fp `sz * factor` can round UP
    # past the exact rational product (e.g. factor = 2t/(1+t) has no
    # exact double), and an overestimated ceil SHORTENS the prefix one
    # token below what the lemma requires — a silent missed pair.  The
    # 1e-9 slack can only lengthen a prefix (more candidates, never
    # fewer), so exactness is preserved on both sides of the rounding.
    eps = 1e-9
    idx_len = (
        F.col("sz")
        - F.ceil(
            F.col("sz") * F.lit(2.0 * t / (1.0 + t)) - F.lit(eps)
        ).cast("int")
        + 1
    )
    probe_len = (
        F.col("sz")
        - F.ceil(F.col("sz") * F.lit(t) - F.lit(eps)).cast("int")
        + 1
    )

    sc = df.sparkSession
    n_parts = shuffle_parts or int(
        sc.conf.get("spark.sql.shuffle.partitions", "32")
    )

    def _prefix(length):
        p = ordered.select(
            "doc_id",
            "sz",
            F.explode(F.slice("toks", 1, length)).alias("tok"),
        )
        # explicit fixed-width exchange: AQE would size this self-join's
        # post-shuffle partitions by INPUT bytes and coalesce the
        # quadratic-output join onto one task (CLAUDE.md / _band_pairs)
        return p.repartition(n_parts, "tok")

    small = _prefix(idx_len).select(
        F.col("doc_id").alias("id_s"), F.col("sz").alias("sz_s"), "tok"
    )
    large = _prefix(probe_len).select(
        F.col("doc_id").alias("id_l"), F.col("sz").alias("sz_l"), "tok"
    )
    # size filter: with s the smaller side, J >= t forces |s| >= t·|l|;
    # the (size, id) orientation replaces the other direction.  Same
    # eps slack: a fp-rounded-up t·|l| must not reject an integer |s|
    # sitting exactly on the boundary.
    cands = (
        small.join(
            large,
            on=[
                small["tok"] == large["tok"],
                (small["sz_s"] < large["sz_l"])
                | (
                    (small["sz_s"] == large["sz_l"])
                    & (small["id_s"] < large["id_l"])
                ),
                large["sz_l"] * F.lit(t) - F.lit(eps) <= small["sz_s"],
            ],
        )
        .select("id_s", "id_l")
        .distinct()
    )

    sets_s = ordered.select(
        F.col("doc_id").alias("id_s"), F.col("toks").alias("toks_s")
    )
    sets_l = ordered.select(
        F.col("doc_id").alias("id_l"), F.col("toks").alias("toks_l")
    )
    n_inter = F.size(F.array_intersect("toks_s", "toks_l"))
    denom = F.size("toks_s") + F.size("toks_l") - n_inter
    # threshold on the UNROUNDED double quotient (one IEEE division —
    # deterministic on any engine); rounding first would admit pairs
    # just below t and drop pairs exactly at a non-6dp-representable t
    # (e.g. t=1/3 with J=1/3).  The 6dp round is display/hash contract
    # only.
    jac_exact = n_inter / denom
    return (
        cands.join(sets_s, "id_s")
        .join(sets_l, "id_l")
        .filter(jac_exact >= F.lit(t))
        .select(
            F.least("id_s", "id_l").alias("id_a"),
            F.greatest("id_s", "id_l").alias("id_b"),
            F.round(jac_exact, 6).alias("jaccard"),
        )
    )
