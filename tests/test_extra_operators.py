"""Tests for the streaming pipeline, the GELF encoder and the
dedup/similarity operators."""

from __future__ import annotations

import json

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# streaming
# ---------------------------------------------------------------------------

def test_streaming_pipeline(spark, tmp_path):
    from skewer_spark.plans.job import build_routed, finalize_aggregates
    from skewer_spark.streaming.pipeline import run_streaming
    from skewer_spark.synth import transcripts_df

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    transcripts_df(spark, 10, 10).write.parquet(inp)
    q = run_streaming(spark, inp, out, trigger_once=True)
    assert q.awaitTermination(120)

    sinks = spark.read.option("basePath", f"{out}/sinks").parquet(f"{out}/sinks")
    n_firehose = sinks.filter(F.col("sink") == "sink_firehose").count()
    assert n_firehose > 0
    # batch pipeline on the same input agrees on the PASS count
    batch_pass = (
        build_routed(spark.read.parquet(inp))
        .filter(F.col("filter_status") == "PASS").count()
    )
    assert n_firehose == batch_pass
    finalize_aggregates(spark, out)
    fc = spark.read.parquet(f"{out}/agg_final/filter_counts")
    assert fc.agg(F.sum("n_messages")).collect()[0][0] == 100


def test_encode_gelf(spark):
    from skewer_spark.sinks.encoders import encode_gelf
    from datetime import datetime
    df = spark.createDataFrame(
        [("h1", "boom", datetime(2026, 1, 1), 3, "auth", "sshd", "42", "m1",
          '{"a":{"k":"v"}}')],
        "hostname string, message string, time_reported timestamp, "
        "severity int, facility_name string, appname string, procid string, "
        "msgid string, properties_json string",
    )
    out = json.loads(df.select(encode_gelf().alias("g")).collect()[0].g)
    assert out["version"] == "1.1" and out["host"] == "h1"
    assert out["short_message"] == "boom" and out["level"] == 3
    assert out["_facility"] == "auth" and out["_appname"] == "sshd"
    assert out["_properties"] == {"a": {"k": "v"}}
    assert out["timestamp"] == 1767225600.0


def test_simhash_order_insensitive_and_banded_pairs(spark):
    from skewer_spark.operators.dedup import simhash, simhash_candidate_pairs

    base = " ".join(f"word{i}" for i in range(80))
    reordered = " ".join(f"word{i}" for i in reversed(range(80)))
    near = base.replace("word7 ", "word7x ")  # one token swapped
    other = " ".join(f"zzz{i}" for i in range(80))
    docs = spark.createDataFrame(
        [(0, base), (1, reordered), (2, near), (3, other)],
        "doc_id int, text string",
    )
    sigs = {r.doc_id: (r.sig_hi, r.sig_lo) for r in simhash(docs).collect()}
    # multiset sign-sum is order-insensitive
    assert sigs[0] == sigs[1]
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_candidate_pairs(docs, max_hamming=16).collect()
    }
    assert pairs.get((0, 1)) == 0
    # one token in 80 flips only the bits whose sign-sum sat at +-1
    assert (0, 2) in pairs and 0 < pairs[(0, 2)] <= 16
    assert not any(3 in p for p in pairs)


def test_simhash_bucket_cap_bounds_degenerate_bucket(spark):
    """VERDICT r02 #1: one degenerate band bucket (N identical docs)
    must emit |cap-side| × |bucket| pairs, not |bucket|² — the cap keeps
    a boilerplate-text bucket from going quadratic at 10^9 docs while
    every member still pairs with the cap-set survivors (transitive
    closure preserved)."""
    from skewer_spark.operators.dedup import simhash_candidate_pairs

    n, cap = 20, 4
    docs = spark.createDataFrame(
        [(i, "same boilerplate text repeated everywhere") for i in range(n)],
        "doc_id int, text string",
    )
    capped = simhash_candidate_pairs(docs, max_hamming=3, bucket_cap=cap)
    # identical docs → identical signatures → one bucket per band; the
    # capped side keeps ids 0..cap-1, so distinct (a<b) pairs are
    # sum_{a=0}^{cap-1} (n-1-a)
    expect = sum(n - 1 - a for a in range(cap))
    assert capped.count() == expect
    # every member appears in some surviving pair (closure intact)
    ids = {
        x for r in capped.collect() for x in (r.id_a, r.id_b)
    }
    assert ids == set(range(n))
    uncapped = simhash_candidate_pairs(docs, max_hamming=3)
    assert uncapped.count() == n * (n - 1) // 2


def test_dedup_clusters_releases_caches(spark):
    """VERDICT r02 #3: the operator must not leave the edge/label loop
    caches pinned in executor storage — only the returned frame's own
    localCheckpoint blocks may remain."""
    from skewer_spark.operators.dedup import dedup_clusters

    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame([(0, 1), (1, 2)], "id_a long, id_b long")
    out = dedup_clusters(docs, pairs)
    got = {r.doc_id: r.cluster_id for r in out.collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 5}
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    # at most the result's checkpoint RDD is new; the persisted edge
    # frame and per-iteration label frames are all released
    assert len(after - before) <= 1


def _rows(df, drop=()):
    """Every row of ``df`` without the ``drop`` columns, sorted."""
    cols = sorted(c for c in df.columns if c not in drop)
    return sorted(df.select(*cols).collect(), key=repr)


def _store_rows(spark, path):
    """Every row under ``path`` (partition columns included), sorted."""
    return _rows(spark.read.option("basePath", path).parquet(path))


def test_streaming_sink_write_idempotent(spark, tmp_path):
    """A retried micro-batch must replace, not duplicate (ADVICE r01):
    the foreachBatch body, ``write_outputs(..., sub="batch=<id>")``,
    run twice for one batch id leaves routed, sinks and every aggregate
    partial unchanged."""
    from skewer_spark.operators.enrich import enrich
    from skewer_spark.operators.parse import parse_transcripts
    from skewer_spark.operators.route import route
    from skewer_spark.plans.job import write_outputs
    from skewer_spark.synth import transcripts_df

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    transcripts_df(spark, 6, 8).write.parquet(inp)
    # a micro-batch as the stream routes it (no turn rank)
    routed = route(enrich(
        parse_transcripts(spark.read.parquet(inp)).drop("text")))
    tables = ["routed", "sinks"] + [
        f"agg/{t}" for t in ("filter_counts", "windowed_counts",
                             "parse_error_counts", "incoming_counts")
    ]
    first = write_outputs(spark, routed, out, sub="batch=0")
    rows = {t: _store_rows(spark, f"{out}/{t}") for t in tables}
    # simulated retry of the same batch
    assert write_outputs(spark, routed, out, sub="batch=0") == first
    assert first[0] == 48
    for t in tables:
        assert rows[t] and _store_rows(spark, f"{out}/{t}") == rows[t], t


def test_stream_output_equals_batch(spark, tmp_path):
    """A drained stream equals ``run_flat`` + ``finalize_aggregates`` on
    the same input: every ``agg_final`` table, every sink through
    ``read_sink`` and, apart from ``turn_rank`` (a batch construct),
    ``read_routed``.  The input spreads every conversation over three
    data micro-batches, redelivers turns across them, and the drained
    stream fires a no-data micro-batch."""
    from datetime import timedelta

    from skewer_spark.plans import job
    from skewer_spark.streaming.pipeline import run_streaming
    from skewer_spark.synth import transcripts_df

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    flat = str(tmp_path / "flat")
    df = transcripts_df(spark, 24, 10)
    # three waves of 80 s of turns, 8 files each (one micro-batch a
    # wave): conversations interleave in time, so each one's turns land
    # in every data micro-batch and only a slicing-agnostic distinct
    # count finalizes right
    t0 = df.agg(F.min("ts")).collect()[0][0]
    cut1, cut2 = t0 + timedelta(seconds=80), t0 + timedelta(seconds=160)
    waves = [
        df.filter(F.col("ts") < cut1),
        df.filter((F.col("ts") >= cut1) & (F.col("ts") < cut2)),
        # the last wave also redelivers every third earlier turn
        df.filter(F.col("ts") >= cut2).unionByName(
            df.filter((F.col("ts") < cut2) & (F.col("turn_idx") % 3 == 0))),
    ]
    for wave in waves:
        wave.repartition(8).write.mode("append").parquet(inp)
    q = run_streaming(spark, inp, out, trigger_once=True)
    assert q.awaitTermination(180)
    # the last wave advances the watermark: a no-data micro-batch follows
    n_in = [p["numInputRows"] for p in q.recentProgress]
    assert sum(n > 0 for n in n_in) == 3 and 0 in n_in, n_in
    job.finalize_aggregates(spark, out)

    job.run_flat(spark, inp, flat)
    job.finalize_aggregates(spark, flat)

    for name in job.AGG_TABLES:
        got = _store_rows(spark, f"{out}/agg_final/{name}")
        assert got and got == _store_rows(spark, f"{flat}/agg_final/{name}"), name

    for sink in ("sink_alerts", "sink_tools", "sink_firehose",
                 "sink_rejects", "_dropped"):
        got = _rows(job.read_sink(spark, out, sink), drop=("batch",))
        assert got and got == _rows(job.read_sink(spark, flat, sink)), sink
    got = _rows(job.read_routed(spark, out), drop=("batch",))
    want = _rows(job.read_routed(spark, flat), drop=("turn_rank",))
    assert len(got) == 240 and got == want


def test_stream_windowed_counts_equals_batch(spark, tmp_path):
    """The drained stream's finalized ``windowed_counts`` agrees
    row-for-row with the batch ``windowed_counts`` rollup.  A DROPPED
    sentinel (severity 7 → no sink on either side, reference four-way
    filter) placed far in the future advances the watermark without
    contributing a single count."""
    from datetime import timedelta

    from skewer_spark.operators.aggregate import windowed_counts
    from skewer_spark.plans.job import build_routed, finalize_aggregates
    from skewer_spark.streaming.pipeline import run_streaming
    from skewer_spark.synth import transcripts_df

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    transcripts_df(spark, 8, 10).write.parquet(inp)
    last_ts = spark.read.parquet(inp).agg(F.max("ts")).collect()[0][0]
    sentinel = spark.createDataFrame(
        [("wm-sentinel", 0, "system", "<7>advance watermark", "none",
          last_ts + timedelta(hours=6))],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    sentinel.write.mode("append").parquet(inp)

    q = run_streaming(spark, inp, out, trigger_once=True)
    assert q.awaitTermination(120)
    finalize_aggregates(spark, out)

    streamed = {
        (r.window_start, r.sink, r.severity_name, r.tool, r.n_messages)
        for r in spark.read.parquet(
            f"{out}/agg_final/windowed_counts").collect()
    }
    expected = {
        (r.window_start, r.sink, r.severity_name, r.tool, r.n_messages)
        for r in windowed_counts(
            build_routed(spark.read.parquet(inp))
        ).collect()
    }
    assert streamed == expected and len(streamed) > 0


def test_streaming_refuses_earlier_store_layout(spark, tmp_path):
    """A store whose stream checkpointed a separate windowed-counts
    query in ``_ckpt/agg`` is refused before any query starts: that
    query's file-sink metadata would hide the ``batch=`` partials from
    ``finalize_aggregates``."""
    import pytest

    from skewer_spark.streaming.pipeline import run_streaming
    from skewer_spark.synth import transcripts_df

    inp = str(tmp_path / "in")
    out = tmp_path / "out"
    transcripts_df(spark, 2, 5).write.parquet(inp)
    (out / "_ckpt" / "agg").mkdir(parents=True)
    with pytest.raises(ValueError, match="fresh out_dir"):
        run_streaming(spark, inp, str(out))
    assert not spark.streams.active
    assert not (out / "routed").exists()


def test_dedup_clusters_transitive_closure(spark):
    from skewer_spark.operators.dedup import dedup_clusters

    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    # chain 0-1-2-3 (diameter forces >1 propagation round), pair 5-6,
    # singletons 4 and 7
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    got = {
        r.doc_id: r.cluster_id
        for r in dedup_clusters(docs, pairs).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 5, 6: 5, 7: 7}


def test_dedup_clusters_star_matches_min_label(spark):
    """Large-star/small-star must produce the identical closure as
    min-label propagation (same min-id cluster contract)."""
    import random

    from skewer_spark.operators.dedup import dedup_clusters, dedup_clusters_star

    rng = random.Random(31)
    n = 60
    edges = sorted({
        tuple(sorted(rng.sample(range(n), 2))) for _ in range(70)
    })
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    a = {r.doc_id: r.cluster_id for r in dedup_clusters(docs, pairs, max_iter=60).collect()}
    b = {r.doc_id: r.cluster_id for r in dedup_clusters_star(docs, pairs).collect()}
    assert a == b


def test_dedup_clusters_star_deep_chain_and_min_label_raises(spark):
    """A 120-node chain has diameter 119: min-label with default
    max_iter=20 must now RAISE (a truncated closure silently keeps
    duplicates); the star variant converges in O(log n) rounds and is
    exact."""
    import pytest as _pytest

    from skewer_spark.operators.dedup import dedup_clusters, dedup_clusters_star

    n = 120
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    got = {r.doc_id: r.cluster_id for r in dedup_clusters_star(docs, chain, max_iter=12).collect()}
    assert got == {i: 0 for i in range(n)}
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(docs, chain, max_iter=20)


def test_ngram_jaccard_pairs(spark):
    from skewer_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),   # near-dup of 1
            (3, "completely different words in this one entirely"),
            (4, "the quick brown fox jumps over the lazy dog"),   # exact dup of 1
            (5, "too short"),                                     # < n tokens
        ],
        "doc_id int, text string",
    )
    out = {(r.id_a, r.id_b): r.jaccard
           for r in ngram_jaccard_pairs(docs, threshold=0.2).collect()}
    # exact dup → jaccard 1.0
    assert out[(1, 4)] == 1.0
    # 9 tokens → 7 shingles; docs 1/2 differ only in the last one:
    # J = 6 shared / 8 union = 0.75
    assert out[(1, 2)] == 0.75
    assert out[(2, 4)] == 0.75
    # disjoint and sub-n docs never pair
    assert not any(3 in p or 5 in p for p in out)


def test_minhash_bucket_cap_bounds_pairs(spark):
    from skewer_spark.operators.dedup import minhash_candidate_pairs

    # 12 identical docs: every band puts all 12 in one bucket
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(12)],
        "doc_id int, text string",
    )
    uncapped = minhash_candidate_pairs(docs).collect()
    assert len(uncapped) == 12 * 11 // 2

    capped = minhash_candidate_pairs(docs, bucket_cap=4).collect()
    # one-sided cap: survivors {0..3} pair among themselves (C(4,2))
    # and every capped-out member pairs with all 4 survivors — the
    # closure still reaches every doc through the survivors
    expect = [(a, b) for a in range(4) for b in range(a + 1, 12)]
    assert sorted((r.id_a, r.id_b) for r in capped) == sorted(expect)
    assert {r.id_b for r in capped} | {r.id_a for r in capped} == set(range(12))

    # cap larger than any bucket is a no-op
    wide = minhash_candidate_pairs(docs, bucket_cap=100).collect()
    assert len(wide) == len(uncapped)


def test_dedup_substring_spans(spark):
    """Exact-substring dedup (Lee et al. 2022): duplicated 5-grams are
    cut from every occurrence EXCEPT the globally-first — across docs
    (doc 2 loses the span doc 1 keeps) and within one doc (doc 3's
    self-repeat loses only the second copy)."""
    from skewer_spark.operators.dedup import dedup_substring_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g"),
            (2, "x a b c d e f y"),
            (3, "p q r s t p q r s t u"),
            (4, "m n o aa bb cc"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.text_clean)
        for r in dedup_substring_spans(docs, n=5).collect()
    }
    assert got == {
        # every shingle of doc 1 is a first occurrence: untouched
        1: (7, 0, "a b c d e f g"),
        # "a b c d e"@1 and "b c d e f"@2 are repeats of doc 1's spans
        # → positions 1-6 cut
        2: (8, 6, "x y"),
        # same-doc repeat: "p q r s t"@5 duplicates @0 → 5-9 cut
        3: (11, 5, "p q r s t u"),
        4: (6, 0, "m n o aa bb cc"),
    }


def test_sft_pairs_window(spark):
    """SFT extraction: each assistant turn pairs with the previous <=k
    turns joined in order; openers keep an empty prompt."""
    from skewer_spark.operators.transcripts import sft_pairs

    turns = spark.createDataFrame(
        [
            ("c1", 1, "user", "hi"),
            ("c1", 2, "assistant", "hello"),
            ("c1", 3, "user", "do x"),
            ("c1", 4, "tool", "x done"),
            ("c1", 5, "assistant", "done"),
            ("c2", 1, "assistant", "opener"),
        ],
        "conv_id string, turn_idx int, role string, text string",
    )
    got = {
        (r.conv_id, r.turn_idx): (r.n_context, r.prompt, r.response)
        for r in sft_pairs(turns, k=2).collect()
    }
    assert got == {
        ("c1", 2): (1, "hi", "hello"),
        ("c1", 5): (2, "do x\nx done", "done"),
        ("c2", 1): (0, "", "opener"),
    }


def test_sft_pairs_paths_equal(spark):
    """The skew-safe join formulation is bit-identical to the window
    path, across bucket boundaries (tiny buckets force context spans
    to cross several range buckets and empty (conv,bucket) cells)."""
    from skewer_spark.operators.transcripts import sft_pairs

    rows = [
        (f"c{i % 3}", i, ["user", "assistant", "tool"][i % 3] if i % 7 else "assistant", f"t{i}")
        for i in range(1, 200)
    ]
    turns = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )
    a = sorted(map(tuple, sft_pairs(turns, k=5).collect()))
    b = sorted(
        map(
            tuple,
            sft_pairs(turns, k=5, skew_safe=True, n_buckets=7).collect(),
        )
    )
    assert a == b and len(a) > 50


def test_conv_stats(spark):
    from skewer_spark.operators.transcripts import conv_stats

    from datetime import datetime as DT

    turns = spark.createDataFrame(
        [
            ("c1", 1, "user", "abc", "none", DT(2024, 1, 1, 0, 0, 0)),
            ("c1", 2, "assistant", "defgh", "bash", DT(2024, 1, 1, 0, 1, 30)),
            ("c1", 5, "user", "i", "bash", DT(2024, 1, 1, 0, 2, 0)),
            ("c2", 9, "system", "xy", "editor", DT(2024, 2, 1, 10, 0, 0)),
        ],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp",
    )
    got = {r.conv_id: r for r in conv_stats(turns).collect()}
    c1 = got["c1"]
    assert (
        c1.n_turns, c1.n_roles, c1.n_tools, c1.tools,
        c1.first_turn, c1.last_turn, c1.duration_sec,
        c1.total_chars, c1.max_chars,
    ) == (3, 2, 2, "bash,none", 1, 5, 120, 9, 5)
    assert (got["c2"].n_turns, got["c2"].duration_sec) == (1, 0)


def test_streaming_watermark_late_data(spark, tmp_path):
    """Two incremental runs against one checkpoint: a row later than the
    watermark is dropped (never stored or counted, so it cannot reopen
    an hour), and a duplicate (conv_id, turn_idx) within the watermark
    is dropped before the sinks.  Each micro-batch's counts are final
    when it is written, so an hour is counted as its rows arrive."""
    from datetime import datetime

    from skewer_spark.plans.job import finalize_aggregates
    from skewer_spark.streaming.pipeline import run_streaming

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")

    def rows_df(rows):
        return spark.createDataFrame(
            [(c, i, "user", t, "none", ts) for (c, i, t, ts) in rows], schema
        )

    def firehose_by_hour():
        finalize_aggregates(spark, out)
        by_hour = {}
        # firehose carries every PASS row exactly once, so its rows are
        # the per-hour message counts
        for r in spark.read.parquet(f"{out}/agg_final/windowed_counts") \
                .filter(F.col("sink") == "sink_firehose").collect():
            by_hour.setdefault(r.window_start.hour, []).append(r.n_messages)
        return by_hour

    d = lambda h, m=30: datetime(2026, 1, 1, h, m)  # noqa: E731
    wave1 = [("c1", 0, "plain zero", d(0)), ("c1", 1, "plain one", d(1)),
             ("c1", 2, "plain two", d(2)), ("c1", 3, "plain three", d(3))]
    rows_df(wave1).write.parquet(inp)
    assert run_streaming(spark, inp, out, watermark="1 hour") \
        .awaitTermination(120)
    assert firehose_by_hour() == {0: [1], 1: [1], 2: [1], 3: [1]}

    # wave 2: one too-late row (00:15 < the 02:30 watermark), one
    # duplicate of a wave-1 row inside the watermark, one genuinely new
    # row at 05:30
    wave2 = [("c1", 0, "late dupe-hour row", datetime(2026, 1, 1, 0, 15)),
             ("c1", 3, "plain three", d(3)),      # duplicate key
             ("c1", 9, "plain nine", d(5))]
    rows_df(wave2).write.mode("append").parquet(inp)
    assert run_streaming(spark, inp, out, watermark="1 hour") \
        .awaitTermination(120)

    by_hour = firehose_by_hour()
    # hour 0 still counts 1: the 00:15 row was dropped as late; hour 3
    # still counts 1: the duplicate (c1, 3) was never re-counted; hour
    # 5 is counted in the micro-batch it arrived in
    assert by_hour == {0: [1], 1: [1], 2: [1], 3: [1], 5: [1]}

    sinks = spark.read.option("basePath", f"{out}/sinks").parquet(
        f"{out}/sinks"
    )
    per_key = (
        sinks.filter(F.col("sink") != "sink__dropped")
        .groupBy("conv_id", "turn_idx")
        .agg(F.countDistinct("sink").alias("nsinks"),
             F.count("*").alias("n"))
        .collect()
    )
    # within-watermark duplicate dropped: every key appears once per
    # routed destination, never more
    assert all(r.n == r.nsinks for r in per_key)
    keys = {(r.conv_id, r.turn_idx) for r in per_key}
    assert ("c1", 9) in keys


def test_sft_skew_safe_wide_int_order_key(spark):
    """_dense_conv_pos must bucket in LONG arithmetic: an int order
    key spanning more than 2^31 / n_buckets would wrap the bucket
    multiply and silently corrupt per-conv positions."""
    from skewer_spark.operators.transcripts import sft_pairs

    hi = 2**31 - 2
    rows = [
        ("c1", 0, "user", "q one"),
        ("c1", hi // 2, "user", "q two"),
        ("c1", hi, "assistant", "answer"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )
    got = sft_pairs(df, k=5, skew_safe=True, n_buckets=64).collect()
    assert len(got) == 1
    assert got[0].n_context == 2
    assert got[0].prompt == "q one\nq two"
    assert got[0].response == "answer"
