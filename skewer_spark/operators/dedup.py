"""Deduplication operators for training-data pipelines.

Four tiers, cheapest first — at 100 TB you run them in this order so
each stage shrinks the candidate set for the next:

1. **exact** — hash group-by on the raw text (one shuffle on md5(text),
   not on the text bytes themselves: tiny shuffle keys).
2. **fingerprint** — word-set fingerprint (order/multiplicity
   insensitive) — still one shuffle, catches shuffled/duplicated-word
   near-dups.
3. **MinHash + LSH** — shingle → per-seed min-hash → band buckets →
   candidate pairs only within buckets.  Hashing is md5-based so the
   DuckDB oracle can reproduce signatures bit-for-bit (Spark xxhash64
   has no DuckDB twin).  The band join is a self-join on the band
   signature: Catalyst turns it into a shuffled hash join keyed on tiny
   strings; no O(n²) pair scan ever materializes, and ``bucket_cap``
   bounds a degenerate bucket's join output at |bucket|·cap (see
   :func:`_band_pairs`: the cap applies to ONE join side, so every
   member still pairs with the survivors and the transitive closure
   is preserved).
4. **SimHash** — 64-bit sign-sum signature carried as two 32-bit
   halves (``sig_hi``, ``sig_lo``), token bits from md5 so the DuckDB
   oracle reproduces signatures exactly (xxhash64 would be ~2× faster
   at scale but has no DuckDB twin — same trade as MinHash above);
   near-dup candidates via a 4×16-bit banded self-join
   (``simhash_candidate_pairs``): by pigeonhole, any pair within
   hamming distance 3 shares at least one exact band, so the banded
   join is COMPLETE for the default radius while never materializing
   O(n²) pairs.

Embedding near-dup lives in operators/similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest id per identical text; expose the group size."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").alias("n_copies"),
        )
    )


def fingerprint_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Word-set fingerprint groups (order-insensitive near-dup)."""
    from skewer_spark.functions.text import word_fingerprint

    return (
        df.withColumn("fp", word_fingerprint(text_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_members"))
    )


def shingle_windows(tokens, n: int):
    """Distinct space-joined n-gram shingles over a token-array Column
    (empty when fewer than ``n`` tokens) — the ONE shingle-window
    builder (also used by setsim; tokenizer choice stays the caller's).

    The token array is lambda-bound (``functions.hof.bind``) so callers
    may pass a raw ``split()`` EXPRESSION without paying the per-element
    re-evaluation trap (O(n²)/row on long documents)."""
    from skewer_spark.functions.hof import bind

    return bind(
        tokens,
        lambda tk: F.array_distinct(
            F.when(
                F.size(tk) >= n,
                F.transform(
                    F.sequence(F.lit(0), F.size(tk) - n),
                    lambda i: F.concat_ws(" ", F.slice(tk, i + 1, n)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ),
    )


def word_shingles(text_col: str, n: int = 3):
    """Distinct word n-gram shingles as an array column (empty when the
    doc has fewer than ``n`` tokens)."""
    return shingle_windows(F.split(F.col(text_col), " "), n)


def cap_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    cap: int | None,
) -> DataFrame:
    """One-sided deterministic per-group width cap: keep each group's
    ``cap`` lowest ``order_col`` rows (``row_number`` — ties impossible
    on unique ids, resume/retry-stable by construction).

    THE degenerate-bucket guard of the whole dedup/LSH/linkage stack —
    bounding a B-row bucket's self-join output at B·cap instead of B².
    Single home so the ordering/determinism semantics can never drift
    between call sites (was three inline copies).  No-op when ``cap``
    is None."""
    if cap is None:
        return df
    w = Window.partitionBy(*group_cols).orderBy(order_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )


def _signatures_from_tokens(toks: DataFrame, id_col: str, n_hashes: int) -> DataFrame:
    """(id, tok) frame → minhash signature row per id (see
    minhash_signatures for the one-permutation md5 slicing)."""
    n_digests = (n_hashes + 3) // 4
    digs = toks.select(
        id_col,
        *[
            F.md5(F.concat(F.lit(f"g{g}|"), F.col("tok"))).alias(f"d{g}")
            for g in range(n_digests)
        ],
    )
    aggs = [
        F.min(F.substring(F.col(f"d{i // 4}"), 8 * (i % 4) + 1, 8)).alias(f"mh_{i}")
        for i in range(n_hashes)
    ]
    return digs.groupBy(id_col).agg(*aggs)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
) -> DataFrame:
    """Per-document MinHash signature over whitespace tokens.

    One md5 digest yields FOUR independent 32-bit hash functions (slice
    the 32 hex chars into 8-char windows — md5 bits are independent, so
    per-slice minima are independent order statistics: the
    one-permutation-hashing trick).  ``h_i(doc) = min over tokens of
    substr(md5('g{i//4}|' || token), 8*(i%4)+1, 8)`` — ¼ the hashing of
    one-md5-per-seed, still bit-replicable in any SQL engine with md5.
    P(h_i(a)==h_i(b)) = Jaccard(a,b) + 2^-32 slack.  Digests are
    pre-projected per token so each md5 runs ONCE (agg inputs would
    otherwise re-evaluate it per slice).  One explode + one
    groupBy(doc) shuffle; signature width = ``n_hashes``.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("tok"),
    )
    return _signatures_from_tokens(toks, id_col, n_hashes)


def minhash_lsh_buckets(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 2,
) -> DataFrame:
    """Band the signature: (band_id, band_key) per doc.

    Docs sharing a band key are near-dup candidates; downstream joins
    group on (band_id, band_key) — a small-key shuffle even at 10^12
    docs.
    """
    # single pass: explode an array of (band_id, band_key) structs so the
    # signature final-aggregate runs ONCE per join side — the previous
    # per-band union replayed the HashAggregate `bands` times per side
    # (the shuffle itself was deduped by ReusedExchange, but the final
    # aggregates were not); same shape simhash_candidate_pairs uses
    entries = [
        F.struct(
            F.lit(b).cast("int").alias("band_id"),
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        f"mh_{b * rows_per_band + r}"
                        for r in range(rows_per_band)
                    ],
                )
            ).alias("band_key"),
        )
        for b in range(bands)
    ]
    return sigs.select(
        F.col(id_col), F.explode(F.array(*entries)).alias("e")
    ).select(id_col, "e.band_id", "e.band_key")


def _band_pairs(
    buckets: DataFrame, id_col: str, bucket_cap: int | None = None
) -> DataFrame:
    """Distinct (a<b) pairs sharing a band bucket — a shuffled hash
    self-join on small keys, never an all-pairs scan.

    The self-join is forced to a FIXED-width co-partitioned exchange on
    the band key: AQE sizes post-shuffle partitions by the join's tiny
    *input* bytes and would coalesce to one task, but the join's
    *output* is quadratic in duplicate-group size (every dup class of
    B docs emits B² candidate rows per matching band) — exactly the
    stage that must stay wide.  Both sides share one exchange
    (ReusedExchange), so the explicit repartition costs nothing.

    ``bucket_cap`` deterministically caps ONE side of the self-join at
    each bucket's ``cap`` lowest ids (``row_number``): every member —
    capped-out or not — still pairs with the bucket's lowest-id
    survivors, so per-bucket join output is bounded at |bucket|·cap
    instead of |bucket|² (the guard that keeps one degenerate bucket —
    boilerplate text shared by millions of docs — from going quadratic
    at 10^12 docs) while the transitive closure
    (:func:`dedup_clusters`) still merges the whole bucket into one
    cluster through the survivors.  What the cap trades away is only
    survivor-to-survivor completeness BEYOND the cap set — pairs among
    capped-out members — which dedup never needs."""
    n = buckets.sparkSession.sparkContext.defaultParallelism
    buckets = buckets.repartition(n, "band_id", "band_key")
    a = cap_per_group(buckets, ["band_id", "band_key"], id_col, bucket_cap)
    a = a.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.band_id") == F.col("b.band_id"),
                F.col("a.band_key") == F.col("b.band_key"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 2,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Distinct candidate near-dup pairs (a<b) from LSH banding.

    The 100 TB configuration is ``bands=16, rows_per_band=8`` (128
    hashes — S-curve threshold ≈ (1/16)^(1/8) ≈ 0.71 Jaccard) with
    ``bucket_cap`` set (see :func:`_band_pairs`); the 8-hash default
    here keeps the DuckDB oracle's column list reviewable."""
    sigs = minhash_signatures(
        df, text_col, id_col, n_hashes=bands * rows_per_band
    )
    return _band_pairs(
        minhash_lsh_buckets(sigs, id_col, bands, rows_per_band), id_col,
        bucket_cap,
    )


def incremental_minhash_matches(
    new_df: DataFrame,
    corpus_sigs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 2,
    corpus_bucket_cap: int | None = None,
) -> DataFrame:
    """Asymmetric LSH match: NEW batch vs the COMMITTED corpus — the
    production shape of continuous dedup, where today's crawl must
    check against a 10^12-doc corpus WITHOUT re-touching corpus text.

    ``corpus_sigs`` is the stored signature table (the output of
    :func:`minhash_signatures`, persisted alongside each snapshot —
    ~0.5 KB/doc at the 128-hash production width vs re-reading 100 TB
    of text).  The new batch is signed fresh (one explode + one
    groupBy, new-batch-sized), both sides band identically, and
    candidates meet in an equi-join on ``(band_id, band_key)``.

    Returns one row per candidate ``(new_id, corpus_id, est_jaccard)``
    with ``est_jaccard`` = fraction of agreeing minhash slots — the
    unbiased signature-space Jaccard estimate (P(slot agrees) =
    Jaccard), so the verify step ALSO never touches corpus text.

    Scale shape:

    * the join is forced to a fixed-width exchange on the band key
      (the AQE quadratic-output-coalesce guard ``_band_pairs`` uses);
    * ``corpus_bucket_cap`` caps the CORPUS side per bucket at the
      ``cap`` lowest ids — degenerate boilerplate buckets live in the
      corpus, and a new doc landing in one still pairs with the
      bucket's survivors, which is all a dup FLAG needs; the new side
      is never capped (every new doc must be judged);
    * signatures join back by id (two narrow hash joins) — band rows
      stay ``(id, band_id, band_key)`` wide.  Each side's signature
      subtree appears twice in the plan (bucket branch + verify
      branch): the token-explode SHUFFLE is deduped by ReusedExchange
      at execution, only the final aggregate replays (the bounded
      ``minhash_lsh_buckets`` trade-off; carrying the 128-hash
      production signature through the band shuffle instead would cost
      far more bytes than the replayed reduce).  In production the
      corpus side is a stored table read, so the replay touches only
      the new batch.
    """
    n_hashes = bands * rows_per_band
    # the fresh new-batch signatures feed TWO subtrees (banding +
    # verify); an eager localCheckpoint computes the sign pass once —
    # new-batch-sized, the same "sign once, store, probe" shape the
    # corpus side gets from its stored table (r6; instance-scoped
    # blocks, so separate invocations never share results)
    new_sigs = minhash_signatures(
        new_df, text_col, id_col, n_hashes
    ).localCheckpoint(eager=True)
    nb = (
        minhash_lsh_buckets(new_sigs, id_col, bands, rows_per_band)
        .withColumnRenamed(id_col, "new_id")
    )
    cb = (
        minhash_lsh_buckets(corpus_sigs, id_col, bands, rows_per_band)
        .withColumnRenamed(id_col, "corpus_id")
    )
    n = new_df.sparkSession.sparkContext.defaultParallelism
    nb = nb.repartition(n, "band_id", "band_key")
    cb = cb.repartition(n, "band_id", "band_key")
    cb = cap_per_group(cb, ["band_id", "band_key"], "corpus_id", corpus_bucket_cap)
    cands = (
        nb.join(cb, ["band_id", "band_key"])
        .select("new_id", "corpus_id")
        .distinct()
    )
    ns = new_sigs.select(
        F.col(id_col).alias("new_id"),
        *[F.col(f"mh_{i}").alias(f"n_mh_{i}") for i in range(n_hashes)],
    )
    cs = corpus_sigs.select(
        F.col(id_col).alias("corpus_id"),
        *[F.col(f"mh_{i}").alias(f"c_mh_{i}") for i in range(n_hashes)],
    )
    agree = sum(
        F.when(F.col(f"n_mh_{i}") == F.col(f"c_mh_{i}"), 1).otherwise(0)
        for i in range(n_hashes)
    )
    return (
        cands.join(ns, "new_id")
        .join(cs, "corpus_id")
        .select(
            "new_id",
            "corpus_id",
            F.round(agree.cast("double") / F.lit(float(n_hashes)), 6).alias(
                "est_jaccard"
            ),
        )
    )


def incremental_dedup(
    new_df: DataFrame,
    corpus_sigs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    corpus_bucket_cap: int | None = None,
) -> DataFrame:
    """Per-NEW-doc dedup verdict against the committed corpus: one row
    per new doc — ``(new_id, best_corpus_id, est_jaccard, is_dup)``.

    ``best_corpus_id`` is the candidate with the highest signature
    agreement (ties broken by lowest corpus id — deterministic across
    engines/retries); docs with no band collision at all come back
    with NULL match and ``is_dup = false`` via a LEFT join from the
    new batch.  The post-candidate work is all candidate-frame-sized:
    one window partitioned by ``new_id``, then one join back to the
    new batch's id column.

    (r6, measured and REVERTED: a groupBy(new_id).max(struct(est,
    ~corpus_id)) reduction over the band-collision multiset — skipping
    the candidate distinct — lost ~10% in 3/3 alternating A/B runs:
    max-over-struct falls back to partial/final SortAggregate, which
    costs more than the hash distinct + WindowGroupLimit top-1 it
    replaced.  The windowed shape below is the measured winner; the
    differential test pinning reduction semantics stays.)"""
    matches = incremental_minhash_matches(
        new_df, corpus_sigs, text_col, id_col, bands, rows_per_band,
        corpus_bucket_cap,
    )
    w = Window.partitionBy("new_id").orderBy(
        F.col("est_jaccard").desc(), F.col("corpus_id").asc()
    )
    best = (
        matches.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return (
        new_df.select(F.col(id_col).alias("new_id"))
        .join(best, "new_id", "left")
        .select(
            "new_id",
            F.col("corpus_id").alias("best_corpus_id"),
            "est_jaccard",
            F.coalesce(
                F.col("est_jaccard") >= F.lit(threshold), F.lit(False)
            ).alias("is_dup"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    bands: int = 4,
    rows_per_band: int = 2,
    bucket_cap: int | None = None,
) -> DataFrame:
    """LSH-propose, exactly-verify near-dup pairs on word n-grams.

    Stage 1 runs MinHash banding over md5'd n-gram shingles (same
    one-permutation signatures as :func:`minhash_signatures`, so no
    O(n²) scan); stage 2 computes EXACT shingle-set Jaccard for the
    surviving candidates only, as a per-pair ``array_intersect`` over
    the docs' collected shingle-hash sets: two joins attach the (small,
    fixed-width) hash arrays to each candidate pair and the
    intersection runs inside codegen.  This keeps verify cost at
    O(candidates × shingles-per-doc) WITHOUT materializing the
    candidates×shingles row explosion a (pair ⋈ shingle-rows) re-key
    would shuffle — on a dup-dense corpus that intermediate is ~100×
    the candidate count.  Shingle sets travel as 8-char md5 prefixes
    (32-bit, 2^-32 collision slack — the MinHash trade), so a
    1000-shingle doc is a ~12 KB array: broadcast-joinable for dim-side
    corpora, sort-merge-joinable at 10^12 docs.
    """
    sh = (
        df.select(
            F.col(id_col), F.explode(word_shingles(text_col, n)).alias("s")
        )
        .select(F.col(id_col), F.md5("s").alias("tok"))
    )
    # ONE pass over the shingle frame for BOTH doc-level artifacts (r6):
    # the minhash minima and the 8-char-prefix shingle set ride the same
    # groupBy — previously two independent subtrees each rebuilt the
    # shingle+md5 frame and shuffled it separately.  The doc-level
    # result (a signature row + a ~12 KB hash array per doc — the
    # stored-index shape) is eagerly checkpointed because THREE
    # consumers read it (banding + both verify sides); instance-scoped
    # blocks, so separate invocations never share results.
    n_hashes = bands * rows_per_band
    n_digests = (n_hashes + 3) // 4
    digs = sh.select(
        F.col(id_col),
        F.substring("tok", 1, 8).alias("tok8"),
        *[
            F.md5(F.concat(F.lit(f"g{g}|"), F.col("tok"))).alias(f"d{g}")
            for g in range(n_digests)
        ],
    )
    aggs = [
        F.min(F.substring(F.col(f"d{i // 4}"), 8 * (i % 4) + 1, 8)).alias(
            f"mh_{i}"
        )
        for i in range(n_hashes)
    ]
    combined = (
        digs.groupBy(id_col)
        .agg(*aggs, F.collect_set("tok8").alias("toks"))
        .localCheckpoint(eager=True)
    )
    sigs = combined.select(
        id_col, *[f"mh_{i}" for i in range(n_hashes)]
    )
    cands = _band_pairs(
        minhash_lsh_buckets(sigs, id_col, bands, rows_per_band), id_col,
        bucket_cap,
    )
    # 8-char prefix: the md5 already collision-guards per doc (shingles
    # are distinct pre-hash); 32 bits keep the arrays narrow on the wire
    sets_df = combined.select(id_col, "toks")
    a_sets = sets_df.select(
        F.col(id_col).alias("id_a"), F.col("toks").alias("toks_a")
    )
    b_sets = sets_df.select(
        F.col(id_col).alias("id_b"), F.col("toks").alias("toks_b")
    )
    n_inter = F.size(F.array_intersect("toks_a", "toks_b"))
    denom = F.size("toks_a") + F.size("toks_b") - n_inter
    return (
        cands.join(a_sets, "id_a")
        .join(b_sets, "id_b")
        .select(
            "id_a", "id_b",
            F.round(n_inter / denom, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Near-dup pairs → transitive clusters: (id, cluster_id) where
    ``cluster_id`` is the minimum id reachable through the pair graph.

    The step after any pair generator (minhash / n-gram Jaccard /
    simhash / embedding LSH): near-duplication is transitive in intent
    — A~B and B~C means keep ONE of {A,B,C} — so pairs must be closed
    into components before picking keepers.  Iterative min-label
    propagation: each round every node takes the min label among itself
    and its neighbors; converges in O(diameter) rounds (near-dup
    components are shallow — dozens of rounds would mean a pathological
    chain).  Each round is one shuffle join on the edge list; the loop
    stops early via an aggregate convergence probe (a scalar count, not
    a collect of data rows).  Raises if ``max_iter`` rounds pass
    without convergence — a silently-truncated closure would split
    clusters and KEEP duplicates; for graphs that deep use
    :func:`dedup_clusters_star` (O(log diameter) rounds).  Docs in no
    pair are their own singleton cluster.
    """
    und = (
        # both orientations via ONE explode: a union's branches are
        # separate subtrees, so the whole upstream pair pipeline
        # (LSH + verify) would evaluate twice just to build the edge
        # cache (r6, duplicated-subtree trap)
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("id_a").alias("s"), F.col("id_b").alias("d")
                    ),
                    F.struct(
                        F.col("id_b").alias("s"), F.col("id_a").alias("d")
                    ),
                )
            ).alias("_e")
        )
        .select("_e.s", "_e.d")
        .distinct()
        .persist()  # every round joins the SAME edges — without this the
        # pair pipeline re-executes per iteration AND per probe
    )
    labels = df.select(F.col(id_col).alias("s"), F.col(id_col).cast("long").alias("lbl"))
    labels.persist()
    converged = False
    try:
        for it in range(max_iter):
            neigh = (
                und.join(
                    labels.select(F.col("s").alias("d"), F.col("lbl").alias("nlbl")),
                    "d",
                )
                .groupBy("s")
                .agg(F.min("nlbl").alias("min_nlbl"))
            )
            # carry the OLD label through the same projection: the
            # convergence probe then reads the cached frame directly
            # instead of paying a labels-vs-new-labels shuffle join per
            # round (r6, fused probe)
            new_labels = (
                labels.join(neigh, "s", "left")
                .select(
                    "s",
                    F.least(
                        F.col("lbl"), F.coalesce(F.col("min_nlbl"), F.col("lbl"))
                    ).alias("lbl"),
                    F.col("lbl").alias("old_lbl"),
                )
            )
            new_labels.persist()
            changed = (
                new_labels.filter(F.col("lbl") != F.col("old_lbl")).count()
            )
            labels.unpersist()
            labels = new_labels
            if changed == 0:
                converged = True
                break
            # each round's LOGICAL plan references the previous labels
            # twice (directly + through neigh), so the plan tree doubles
            # per round — 2^r nodes OOMs the driver around r≈25 even
            # though execution hits the cache.  Cut the lineage with an
            # eager localCheckpoint every 8 rounds (bounded plan,
            # already-materialized data, negligible cost next to the
            # per-round convergence count).
            if (it + 1) % 8 == 0:
                cp = labels.localCheckpoint(eager=True)
                labels.unpersist()
                labels = cp
                labels.persist()
        if not converged:
            raise RuntimeError(
                f"dedup_clusters did not converge in {max_iter} rounds "
                "(component diameter exceeds max_iter) — a truncated "
                "closure would silently keep duplicates; raise max_iter "
                "or use dedup_clusters_star (O(log diameter) rounds)"
            )
        # Detach the result from the loop's caches: localCheckpoint cuts
        # the O(max_iter)-deep lineage (so consuming the result does NOT
        # re-run the propagation loop) and lets us release every cache
        # the loop pinned — the returned frame owns only its own
        # checkpoint blocks, which the ContextCleaner frees when the
        # caller drops the frame.  Without this, `und` + the final
        # `labels` stayed persisted forever on a long multi-operator job.
        # (project the probe's old_lbl away first — cache hit either way)
        out = labels.select("s", "lbl").localCheckpoint(eager=True)
    finally:
        und.unpersist()
        labels.unpersist()
    return out.select(F.col("s").alias(id_col), F.col("lbl").alias("cluster_id"))


def dedup_clusters_star(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 30,
) -> DataFrame:
    """Transitive clusters via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — same output contract as :func:`dedup_clusters`
    ``(id, cluster_id = min reachable id)``, but O(log diameter)
    rounds instead of O(diameter): the scale path for deep components
    (long near-dup chains, web-graph-shaped link data at 10^12 edges).

    Per round, two single-shuffle steps over the edge list:

    * **large-star** — group the bidirectional edges by ``u``; every
      strictly-larger neighbor re-attaches to ``m = min(N(u) ∪ {u})``.
    * **small-star** — orient each edge toward its larger endpoint and
      group; the smaller neighbors (and ``u`` itself) attach to ``m``.

    Both steps strictly flatten trees toward component minima; the
    fixed point is a star per component rooted at its minimum id.
    Convergence is detected by a scalar (count, hash-sum) probe on the
    edge set; each round's frame is localCheckpointed (eager) so the
    iterative lineage never stacks and superseded caches are freed
    round-by-round — nothing stays pinned on return.
    """
    e = (
        pairs.select(
            F.col("id_a").cast("long").alias("u"),
            F.col("id_b").cast("long").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # (count, bit_xor-of-hashes) probe: order-insensitive, cannot
    # overflow under ANSI mode (a SUM of 10^12 xxhash64 values would)
    probe = e.agg(
        F.count("*").alias("n"), F.bit_xor(F.xxhash64("u", "v")).alias("h")
    ).collect()[0]
    sig = (probe.n, probe.h)
    converged = False
    for _ in range(max_iter):
        bi = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = bi.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            bi.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # the large-star output feeds THREE subtrees of the round's
        # materialization (oriented, mins2, and the union's second
        # branch) — its shuffles dedup via ReusedExchange but the join
        # + final distinct aggregate replay per consumer; a per-round
        # persist computes it once (released after the round's eager
        # checkpoint — instance-scoped, never crosses invocations)
        e1 = large.filter(F.col("u") != F.col("v")).distinct().persist()
        try:
            # small-star on the large-star output: orient toward the max
            oriented = e1.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            mins2 = oriented.groupBy("u").agg(F.min("v").alias("m"))
            # emit (v, m) for every smaller neighbor v, plus (u, m) itself
            small = (
                oriented.join(mins2, "u")
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .union(mins2.select("u", F.col("m").alias("v")))
            )
            e_next = (
                small.filter(F.col("u") != F.col("v"))
                .distinct()
                .localCheckpoint(eager=True)
            )
        finally:
            e1.unpersist()
        p = e_next.agg(
            F.count("*").alias("n"), F.bit_xor(F.xxhash64("u", "v")).alias("h")
        ).collect()[0]
        e = e_next
        if (p.n, p.h) == sig:
            converged = True
            break
        sig = (p.n, p.h)
    if not converged:
        raise RuntimeError(
            f"dedup_clusters_star did not converge in {max_iter} rounds"
        )
    # fixed point: every edge is (member, component-min).  Nodes in no
    # edge are their own singleton cluster.
    labels = e.select(F.col("u").alias("s"), F.col("v").alias("lbl"))
    return (
        df.select(F.col(id_col).alias("s"))
        .join(labels, "s", "left")
        .select(
            F.col("s").alias(id_col),
            F.coalesce(F.col("lbl"), F.col("s").cast("long")).alias("cluster_id"),
        )
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document as two 32-bit halves (sign-sum).

    Pure JVM expressions: explode tokens → md5 hex → two 32-bit token
    halves (``conv`` is materialized once per token, not per bit) →
    per-bit ±1 contributions → one groupBy(doc) with 64 sums →
    signature halves reassembled as longs.  md5 (not xxhash64) is the
    price of a bit-exact DuckDB oracle — see the module docstring.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).select(F.col(id_col), F.md5("tok").alias("h"))
    halves = toks.select(
        F.col(id_col),
        F.conv(F.substring("h", 1, 8), 16, 10).cast("long").alias("thi"),
        F.conv(F.substring("h", 9, 8), 16, 10).cast("long").alias("tlo"),
    )
    sums = halves.groupBy(id_col).agg(
        *[
            F.sum(
                F.shiftright(F.col(src), b).bitwiseAND(F.lit(1)) * 2 - 1
            ).alias(f"{name}{b}")
            for src, name in (("thi", "h"), ("tlo", "l"))
            for b in range(32)
        ]
    )

    def _reassemble(prefix: str):
        sig = F.lit(0).cast("long")
        for b in range(32):
            bit = (F.col(f"{prefix}{b}") > 0).cast("long")
            sig = sig + F.shiftleft(bit, b)
        return sig

    return sums.select(
        F.col(id_col),
        _reassemble("h").alias("sig_hi"),
        _reassemble("l").alias("sig_lo"),
    )


def simhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Near-dup pairs within ``max_hamming`` bits, banded join.

    The 64-bit signature splits into four 16-bit bands; a pair within
    hamming distance 3 must agree on ≥1 band (pigeonhole over 4 bands),
    so the per-band self-join finds ALL such pairs — one shuffle on
    16-bit band keys, never an all-pairs scan.  The exact distance is
    re-checked with ``bit_count(xor)`` on the joined signatures.

    ``bucket_cap`` is MANDATORY at scale: a band key has only 2^16
    possible values, so at 10^9+ docs every bucket holds thousands of
    docs and the uncapped self-join output is Σ|bucket|² per band —
    quadratic death.  Same one-sided deterministic cap as
    :func:`_band_pairs`: one join side keeps only each bucket's ``cap``
    lowest ids, bounding per-bucket output at |bucket|·cap while every
    member still pairs with the survivors (transitive closure through
    :func:`dedup_clusters` is preserved; only survivor-bypass pairs
    among capped-out members are traded away).  For tighter radii at
    extreme scale, 2×32-bit bands with multi-probe cover hamming ≤ 1
    with far sparser buckets.
    """
    sigs = simhash(df, text_col, id_col)
    mask = F.lit(0xFFFF)
    band_exprs = [
        F.col("sig_lo").bitwiseAND(mask),
        F.shiftright("sig_lo", 16).bitwiseAND(mask),
        F.col("sig_hi").bitwiseAND(mask),
        F.shiftright("sig_hi", 16).bitwiseAND(mask),
    ]
    buckets = sigs.select(
        F.col(id_col), "sig_hi", "sig_lo",
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("band_id"), e.alias("band_key"))
                for i, e in enumerate(band_exprs)
            ])
        ).alias("e"),
    ).select(id_col, "sig_hi", "sig_lo", "e.band_id", "e.band_key")
    # fixed-width co-partitioned self-join: AQE sizes partitions by the
    # tiny bucket-row input and would coalesce the (quadratic-output)
    # join to one task — same trap as _band_pairs; one reused exchange
    n = buckets.sparkSession.sparkContext.defaultParallelism
    buckets = buckets.repartition(n, "band_id", "band_key")
    capped = cap_per_group(buckets, ["band_id", "band_key"], id_col, bucket_cap)
    a = capped.select(
        F.col(id_col).alias("id_a"), F.col("sig_hi").alias("hi_a"),
        F.col("sig_lo").alias("lo_a"), "band_id", "band_key",
    ).alias("a")
    b = buckets.select(
        F.col(id_col).alias("id_b"), F.col("sig_hi").alias("hi_b"),
        F.col("sig_lo").alias("lo_b"), "band_id", "band_key",
    ).alias("b")
    # id_a < id_b INSIDE the join condition: joining on band equality
    # alone materializes both orderings + self-pairs (3× the rows) only
    # to filter them afterwards
    return (
        a.join(
            b,
            on=[
                F.col("a.band_id") == F.col("b.band_id"),
                F.col("a.band_key") == F.col("b.band_key"),
                F.col("a.id_a") < F.col("b.id_b"),
            ],
        )
        .select(
            "id_a", "id_b",
            (
                F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
                + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def dedup_substring_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Exact-substring span deduplication (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"):
    any word ``n``-gram occurring MORE THAN ONCE corpus-wide — across
    documents or repeated inside one — is a duplicated span; every
    occurrence EXCEPT the globally first (min ``(doc, pos)``) is cut,
    so exactly one copy of each duplicated span survives the corpus.

    Substring dedup is occurrence-level and keep-first, the semantics
    of the reference suffix-array method (here n-gram shingles stand in
    for the 50-byte suffix-array threshold — the distributed-shuffle
    shape is what matters, the suffix automaton does not distribute).

    Returns ``(id, n_tokens, n_removed, text_clean)``, one row per
    input doc.

    Scale shape — exploded rows, no per-row quadratic work anywhere:

    1. map-side posexplode of tokens and 32-bit shingle keys;
    2. per-shingle ``count(*)`` + ``min(struct(doc, pos))`` in ONE
       compact-key aggregate (struct min = lexicographic first
       occurrence; partial-aggregates map-side, so a shingle repeated
       10^6 times ships one row per partition, never a hot key);
    3. duplicate occurrences = shingle join back, dropping the row
       equal to the first occurrence;
    4. covered positions → LEFT ANTI join → groupBy(doc) rebuild
       (:func:`~skewer_spark.operators.spans.rebuild_minus_covered`).

    The keep-first rule makes the result deterministic and
    resume-idempotent (no RNG, no partition-order dependence).  The
    tokenize/shingle and rebuild halves live in
    :mod:`~skewer_spark.operators.spans`.
    """
    from skewer_spark.operators.spans import (
        covered_positions, rebuild_minus_covered, tokenize_and_shingle,
    )

    base, tok_rows, sh_rows = tokenize_and_shingle(df, text_col, id_col, n)
    # one aggregate yields both the duplicate test and the survivor:
    # min(struct(doc, pos)) orders lexicographically, so `_first` IS
    # the globally-first occurrence of the shingle
    dup_sh = (
        sh_rows.groupBy("sh")
        .agg(
            F.count("*").alias("_cnt"),
            F.min(
                F.struct(F.col(id_col).alias("d"), F.col("spos").alias("p"))
            ).alias("_first"),
        )
        .filter(F.col("_cnt") > 1)
        .select("sh", "_first")
    )
    occ = sh_rows.join(dup_sh, "sh").filter(
        ~(
            (F.col(id_col) == F.col("_first.d"))
            & (F.col("spos") == F.col("_first.p"))
        )
    )
    covered = covered_positions(occ, id_col, n)
    return rebuild_minus_covered(base, tok_rows, covered, id_col)


def corpus_overlap(
    df: DataFrame,
    corpus_col: str = "corpus",
    text_col: str = "text",
    n_hashes: int = 16,
) -> DataFrame:
    """Pairwise corpus-vocabulary Jaccard ESTIMATE from mergeable
    MinHash sketches — "how much does corpus A share with corpus B"
    without ever joining their token sets.

    Each corpus reduces to one ``n_hashes``-wide signature over its
    token VOCABULARY (the union of its documents' token sets) — the
    same one-permutation md5 slicing as :func:`minhash_signatures`, so
    the DuckDB oracle reproduces every min bit-for-bit.  The estimator
    is the textbook one: P(min_i(A) == min_i(B)) = J(A, B), so
    ``n_match / n_hashes`` is an unbiased Jaccard estimate with
    stderr ~ sqrt(J(1-J)/k).

    Returns ``(corpus_a, corpus_b, n_match, jaccard_est)`` for every
    unordered corpus pair.

    Scale shape: min is idempotent, so cross-document duplicate tokens
    need NO pre-distinct — the per-corpus min partial-combines
    map-side and the only shuffle moves ``n_corpora x n_digests``
    8-char strings.  The pair join broadcasts one side explicitly so
    the inequality join plans as a BroadcastNestedLoopJoin over the
    n_corpora-row sketch frame — without the hint Spark falls back to
    a CartesianProduct that re-computes the sketch subtree on both
    sides (plan-pinned in tests/test_plans.py); sketches MERGE by
    taking element-wise mins, which is how a snapshot's sketch
    updates incrementally as batches land.
    """
    toks = df.select(
        F.col(corpus_col).alias("_corpus"),
        F.explode(
            F.array_distinct(F.split(F.col(text_col), " "))
        ).alias("tok"),
    )
    sig = _signatures_from_tokens(toks, "_corpus", n_hashes)
    a = sig.select(
        F.col("_corpus").alias("corpus_a"),
        *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(n_hashes)],
    )
    b = sig.select(
        F.col("_corpus").alias("corpus_b"),
        *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(n_hashes)],
    )
    n_match = sum(
        (F.col(f"a_{i}") == F.col(f"b_{i}")).cast("int")
        for i in range(n_hashes)
    )
    return (
        a.join(F.broadcast(b), F.col("corpus_a") < F.col("corpus_b"))
        .select(
            "corpus_a",
            "corpus_b",
            n_match.cast("bigint").alias("n_match"),
            F.round(
                n_match.cast("double") / F.lit(float(n_hashes)), 4
            ).alias("jaccard_est"),
        )
    )
