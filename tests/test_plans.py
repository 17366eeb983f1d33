"""Physical-plan assertions: the scale properties PLANS.md claims.

These are regression guards, not correctness tests — each pins a plan
shape that silently degrades at 100 TB if lost:

* enrich decodes its static dictionaries as narrow CASE chains — no
  join, no exchange (r6; a shuffle here would re-key the full corpus
  four times);
* the LSH band self-joins keep their EXPLICIT fixed-width exchange on
  the band key (without it AQE coalesces the quadratic-output join to
  one task — the trap documented in PLANS.md);
* parquet scans push filters and prune columns (a scan that reads all
  columns for a 2-column projection re-reads the corpus);
* the pipeline's parse runs in the JVM: no Python evaluation node on
  the batch, streaming or entry paths, and the parse projection inside
  a whole-stage-codegen stage.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F


def _plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _assert_parse_native(plan: str) -> None:
    from skewer_spark.operators.parse import RE_PRI

    for node in ("ArrowEvalPython", "BatchEvalPython", "PythonUDF"):
        assert node not in plan, plan
    # the PRI extraction lives in the parse projection; "*(n)" marks an
    # operator compiled into whole-stage-codegen stage n (an adaptive
    # plan also prints its pre-codegen initial plan: skip that part)
    final = plan.split("== Initial Plan ==")[0]
    pri = [ln for ln in final.splitlines() if RE_PRI in ln]
    assert pri, plan
    assert all(ln.lstrip(" +-:").startswith("*(") for ln in pri), pri


def test_pipeline_parse_runs_without_python_workers(spark, tmp_path):
    """The batch (plans.job.build_routed), streaming
    (streaming.pipeline.build_streaming_routed) and entry
    (__spark_entry__._routed_events) paths parse with Spark SQL
    expressions only, inside the scan stage's codegen."""
    import __spark_entry__ as entry
    from skewer_spark.plans.job import build_routed
    from tests.test_wire_codecs import SF
    from skewer_spark.streaming.pipeline import (
        build_streaming_routed, streaming_transcripts)
    from skewer_spark.synth import transcripts_df

    def executed(df) -> str:
        df.collect()
        return df._jdf.queryExecution().executedPlan().toString()

    _assert_parse_native(executed(build_routed(transcripts_df(spark, 4, 10))))
    _assert_parse_native(executed(entry._routed_events(spark, SF)))

    inp = str(tmp_path / "in")
    transcripts_df(spark, 4, 10).write.parquet(inp)
    q = (
        build_streaming_routed(streaming_transcripts(spark, inp))
        .writeStream.format("memory").queryName("plan_guard_stream")
        .trigger(availableNow=True).start()
    )
    try:
        q.awaitTermination()
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            q.explain()
    finally:
        q.stop()
    _assert_parse_native(buf.getvalue())


def test_pipeline_codegen_methods_fit_the_jit_limit(spark, tmp_path):
    """Every whole-stage-codegen method of build_routed over a parquet
    scan stays under HotSpot's 8000-byte HugeMethodLimit: a larger one
    is never JIT-compiled and runs in the bytecode interpreter (the
    parse as one fused stage measured 14.4 kB and twice the CPU)."""
    from skewer_spark.plans.job import build_routed
    from skewer_spark.synth import transcripts_df

    inp = str(tmp_path / "in")
    transcripts_df(spark, 4, 10).write.parquet(inp)
    debug = getattr(getattr(
        spark._jvm.org.apache.spark.sql.execution.debug, "package$"), "MODULE$")
    spark.conf.set("spark.sql.adaptive.enabled", "false")  # one static plan
    try:
        plan = build_routed(spark.read.parquet(inp))._jdf.queryExecution() \
            .executedPlan()
        stages = debug.codegenStringSeq(plan).iterator()
        sizes = []
        while stages.hasNext():
            sizes.append(stages.next()._3().maxMethodCodeSize())
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert len(sizes) >= 2 and max(sizes) < 8000, sizes


def _docs(spark, n=50):
    return spark.createDataFrame(
        [(i, f"alpha beta gamma delta doc {i % 7}") for i in range(n)],
        "doc_id int, text string",
    )


def test_enrich_dictionary_decode_is_narrow(spark):
    """r6: the four static dictionaries decode as codegen CASE chains
    (enrich._dict_case) — the enrich stage must stay JOIN- and
    EXCHANGE-free entirely (guide §2.4; was: four broadcast hash joins,
    each paying a BroadcastExchange build per query)."""
    from skewer_spark.operators.enrich import enrich
    from skewer_spark.operators.parse import parse_transcripts
    from skewer_spark.synth import transcripts_df

    routed = enrich(parse_transcripts(transcripts_df(spark, 4, 10)).drop("text"))
    plan = _plan(routed)
    assert "Join" not in plan
    # the synth source carries its own round-robin repartition; enrich
    # itself must add no exchange of any kind (the old dims showed up
    # as BroadcastExchange builds here)
    assert "BroadcastExchange" not in plan
    assert plan.count("Exchange") == _plan(
        parse_transcripts(transcripts_df(spark, 4, 10)).drop("text")
    ).count("Exchange")
    # the decode itself must still be present (not optimized away)
    assert "facility_name" in plan and "tool_family" in plan


def test_minhash_band_join_keeps_explicit_exchange(spark):
    from skewer_spark.operators.dedup import minhash_candidate_pairs

    plan = _plan(minhash_candidate_pairs(_docs(spark)))
    # the fixed-width co-partitioned exchange on the band key must
    # survive (REPARTITION_BY_NUM defeats AQE's input-sized coalesce)
    assert "REPARTITION_BY_NUM" in plan
    assert "band_key" in plan


def test_simhash_band_join_keeps_explicit_exchange(spark):
    from skewer_spark.operators.dedup import simhash_candidate_pairs

    plan = _plan(simhash_candidate_pairs(_docs(spark)))
    assert "REPARTITION_BY_NUM" in plan
    assert "band_key" in plan


def test_simhash_band_join_cap_and_pair_order_in_join(spark):
    """VERDICT r02 #1/#2 guards: with bucket_cap set, ONE join side is
    width-capped by a row_number window, and id_a < id_b sits INSIDE
    the join condition (not a post-join filter) so reversed/self pairs
    never materialize."""
    from skewer_spark.operators.dedup import simhash_candidate_pairs

    import re

    plan = _plan(simhash_candidate_pairs(_docs(spark), bucket_cap=8))
    # cap applies as a rank-limited window (WindowGroupLimit = Spark's
    # pushed-down top-k per group, so the cap never buffers full buckets)
    assert "row_number" in plan and "WindowGroupLimit" in plan
    # the inequality rides the join condition itself
    assert re.search(r"Join condition:.*id_a#\d+ < id_b#\d+", plan)


def test_embedding_band_join_keeps_explicit_exchange(spark):
    from skewer_spark.operators.similarity import cosine_pairs_above

    emb = spark.createDataFrame(
        [(i, [float(i % 5), 1.0, -1.0, float(i % 3)]) for i in range(40)],
        "vec_id int, embedding array<double>",
    )
    plan = _plan(cosine_pairs_above(emb, threshold=0.5, dim=4))
    assert "REPARTITION_BY_NUM" in plan
    assert "bucket" in plan


def test_parquet_scan_pushes_filters_and_prunes_columns(spark, tmp_path):
    p = str(tmp_path / "docs.parquet")
    _docs(spark, 200).write.parquet(p)
    q = (
        spark.read.parquet(p)
        .filter(F.col("doc_id") > 100)
        .select("doc_id")
    )
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(doc_id), GreaterThan(doc_id,100)]" in plan
    # column pruning: the scan schema must not include text
    scan = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert "text" not in scan and "doc_id" in scan


def test_semdedup_cell_join_keeps_explicit_exchange(spark):
    """Same AQE trap as the LSH self-joins: the within-cell pair join
    must keep its explicit fixed-width exchange on the cell id, the
    one-sided width cap must be a rank-limited window, and id_a < id_b
    must ride the join condition."""
    import re

    from skewer_spark.operators.cluster import semdedup

    emb = spark.createDataFrame(
        [(i, [float(i % 5), 1.0, -1.0, float(i % 3)]) for i in range(40)],
        "vec_id int, embedding array<double>",
    )
    cents = {0: [1.0, 0.0, 0.0, 0.0], 1: [0.0, 1.0, 0.0, 0.0]}
    plan = _plan(semdedup(emb, cents, threshold=0.5, cell_cap=8))
    assert "REPARTITION_BY_NUM" in plan
    assert "row_number" in plan and "WindowGroupLimit" in plan
    assert re.search(r"Join condition:.*id_a#\d+ < id_b#\d+", plan)


def test_bm25_topk_is_take_ordered(spark):
    """BM25's rank-k cut must plan as TakeOrderedAndProject (no global
    sort) and broadcast the tiny df/stats frames — the query path must
    not scale with corpus size beyond the pruned postings scan."""
    from skewer_spark.operators.search import bm25_search

    plan = _plan(bm25_search(_docs(spark), ["alpha", "doc"], k=5))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_funnel_milestones_single_exchange(spark):
    """All n milestone minima must share ONE partitionBy(user)
    exchange — never n self-joins."""
    from skewer_spark.operators.funnel import funnel_milestones

    ev = spark.createDataFrame(
        [("u1", 1.0, "a"), ("u1", 2.0, "b")],
        "user_id string, ts double, event_type string",
    )
    plan = _plan(
        funnel_milestones(ev, ["a", "b", "c"], ts_col="ts"), "simple"
    )
    assert plan.count("Exchange hashpartitioning") <= 2  # window + final agg
    assert "Join" not in plan


def test_rate_anomaly_reuses_counts_exchange(spark):
    """The raw stream's counts exchange is computed once and REUSED by
    the self-referencing stat branches (canonicalized exchange reuse
    happens at runtime, so assert on the executed adaptive plan); the
    stat frames join back as broadcasts."""
    from skewer_spark.operators.anomaly import rate_anomalies

    ev = spark.createDataFrame(
        [
            ("a", "2024-01-01 00:00:00"),
            ("a", "2024-01-01 02:00:00"),
            ("b", "2024-01-01 00:30:00"),
        ],
        "event_type string, ts string",
    ).select("event_type", F.col("ts").cast("timestamp"))
    df = rate_anomalies(ev)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan
    assert "BroadcastHashJoin" in plan


def test_assign_templates_join_is_broadcast(spark):
    from skewer_spark.operators.templates import assign_templates

    lines = spark.createDataFrame(
        [(i, f"svc{i % 3} event {i}") for i in range(40)],
        "line_id int, text string",
    )
    plan = _plan(assign_templates(lines))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_template_mining_distinct_before_agreement(spark):
    # the (group,pos,tok) stream must dedup BEFORE the agreement agg:
    # partial HashAggregates on the explode side, no corpus window
    from skewer_spark.operators.templates import mine_templates

    lines = spark.createDataFrame(
        [(i, f"svc{i % 3} event {i}") for i in range(40)],
        "line_id int, text string",
    )
    plan = _plan(mine_templates(lines))
    assert "Window" not in plan
    assert "HashAggregate" in plan


def test_cdc_winner_is_partial_aggregable(spark):
    # max_by must plan as a two-phase hash aggregate (map-side combine
    # for hot keys), and the merge join must not be a nested loop
    from skewer_spark.operators.cdc import apply_cdc_log

    base = spark.range(100).selectExpr(
        "id AS k", "'a' AS status", "CAST(id AS DOUBLE) AS price"
    )
    ch = spark.range(50).selectExpr(
        "id AS k", "'b' AS status", "CAST(id+1 AS DOUBLE) AS price",
        "timestamp'2024-01-02' AS ts", "'U' AS op", "id AS seq"
    )
    plan = _plan(apply_cdc_log(base, ch, ["k"], "ts", "op", "seq"))
    # struct-ordered max_by plans as SortAggregate — what matters is
    # the partial phase (map-side combine on hot keys)
    assert "partial_max_by" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dd_partials_is_partial_aggregable(spark):
    from skewer_spark.operators.sketches import dd_partials

    df = spark.range(100).selectExpr(
        "CAST(id AS DOUBLE) + 1.0 AS v", "id % 3 AS key"
    )
    plan = _plan(dd_partials(df, "v", key_cols=["key"]))
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_rate_limit_partitions_by_key_and_window(spark):
    from skewer_spark.operators.flow import rate_limit

    ev = spark.range(100).selectExpr(
        "CAST(id AS STRING) AS key",
        "timestamp'2024-01-01' + make_interval(0,0,0,0,0,0,id) AS ts",
        "id AS seq",
    )
    plan = _plan(
        rate_limit(ev, ["key"], "ts", burst=2, tiebreak_col="seq"),
        mode="extended",
    )
    # the window partition spec must include BOTH key and rl_window —
    # partitioning by key alone would serialize a hot key's history
    assert "rl_window" in plan
    import re as _re
    m = _re.search(r"windowspecdefinition\(key[^)]*rl_window", plan)
    assert m, "rate-limit window not partitioned by (key, rl_window)"


def test_prefix_jaccard_join_keeps_explicit_exchange(spark):
    from skewer_spark.operators.setsim import prefix_jaccard_pairs

    plan = _plan(prefix_jaccard_pairs(_docs(spark)))
    # the prefix-token self-join's output is quadratic in bucket width;
    # the explicit fixed-width exchange must survive AQE (same trap as
    # the LSH band joins) and the size-ratio filter must sit INSIDE the
    # join condition, not above it
    assert "REPARTITION_BY_NUM" in plan
    assert "tok" in plan


def test_bloom_probe_join_is_broadcast(spark):
    from skewer_spark.operators.sketches import bloom_partials, bloom_probe

    keys = _docs(spark).select(F.col("text").alias("key"))
    bloom = bloom_partials(keys, m_bits=1 << 14, k=3)
    plan = _plan(bloom_probe(keys, bloom, m_bits=1 << 14, k=3))
    # the word table is <= m/64 rows and must broadcast: a shuffle here
    # re-keys the probe corpus on word_idx for nothing
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_json_schema_single_corpus_scan(spark):
    """infer_json_schema must scan its input exactly once: the frac
    denominator is derived from the histogram's root rows, not a
    second corpus aggregate (a 2x scan at 100 TB)."""
    from skewer_spark.operators.jsonschema import infer_json_schema

    df = spark.createDataFrame(
        [('{"a":1}',), ('{"a":"x","b":true}',)], "j string"
    )
    plan = _plan(infer_json_schema(df, "j"), "simple")
    scans = plan.count("Scan ExistingRDD") + plan.count("Scan parquet")
    assert scans == 1, plan
    # and exactly one generate: all depth levels ride one explode
    assert plan.count("Generate") == 1, plan


def test_sq8_scoring_is_narrow_take_ordered(spark):
    """sq8_topk's scored frame: narrow maps + TakeOrderedAndProject,
    no Exchange anywhere (the int8 scan must not shuffle)."""
    from skewer_spark.operators.similarity import sq8_topk

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0 - i, 0.5]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    plan = _plan(sq8_topk(emb, [1.0, 0.0, 0.25], k=5))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange" not in plan, plan


def test_psi_single_scan_per_side(spark):
    from skewer_spark.operators.diff import psi_drift

    ref = spark.range(100).select(
        (F.col("id") % 10).cast("double").alias("v")
    )
    cur = spark.range(100).select(
        (F.col("id") % 7).cast("double").alias("v")
    )
    df = psi_drift(ref, cur, "v", lo=0.0, hi=10.0)
    df.collect()
    # totals come off the reduced bin frame: each side's range scan
    # appears once live, the second reference is a reused exchange
    # (canonicalized reuse materializes at runtime — assert on the
    # executed adaptive plan, the rate_anomalies pattern)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan
    # the only sort-merge join allowed is the FULL OUTER bin merge —
    # it runs on the two already-reduced n_bins-row frames (full
    # outer cannot broadcast); the corpus itself never joins
    assert plan.count("SortMergeJoin FullOuter") <= 1
    assert plan.count("SortMergeJoin Inner") == 0


def test_transition_matrix_normalizer_is_broadcast(spark):
    from skewer_spark.operators.funnel import transition_matrix

    df = spark.range(100).select(
        (F.col("id") % 5).alias("user_id"),
        F.col("id").alias("event_id"),
        (F.col("id") % 3).cast("string").alias("event_type"),
    )
    plan = _plan(transition_matrix(df), "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_compaction_plan_single_window_exchange(spark):
    from skewer_spark.operators.maintenance import compaction_plan

    files = spark.range(100).select(
        (F.col("id") % 4).alias("part"),
        F.col("id").alias("file_id"),
        (F.col("id") % 17 * 100).alias("bytes"),
    )
    plan = _plan(compaction_plan(files, ["part"]), "simple")
    # the running sum and both group totals share the partition-keyed
    # exchange; nothing reshuffles a second time
    assert plan.count("Exchange hashpartitioning") == 1


def test_range_partition_assignment_has_no_join_per_row(spark):
    from skewer_spark.operators.layout import range_partition_plan

    df = spark.range(1000).select(F.col("id").cast("double").alias("v"))
    plan = _plan(range_partition_plan(df, "v", n_partitions=8), "simple")
    # boundary array rides a broadcast nested-loop of a 1-row frame;
    # the corpus is never hash-exchanged on the key itself
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_orphan_join_is_broadcast_anti(spark):
    from skewer_spark.operators.maintenance import orphan_files

    listing = spark.range(100).select(
        F.col("id").alias("file_id"),
        (F.col("id") * 10).alias("bytes"),
        F.timestamp_seconds(F.col("id") * 86400).alias("mtime"),
    )
    manifest = listing.filter(F.col("file_id") % 3 == 0).select("file_id")
    plan = _plan(orphan_files(listing, manifest), "simple")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_salted_agg_two_partial_aggregable_exchanges(spark):
    from skewer_spark.operators.skew import salted_agg

    df = spark.range(1000).select(
        (F.col("id") % 3).alias("k"),
        (F.col("id") % 7).cast("double").alias("v"),
    )
    plan = _plan(salted_agg(df, ["k"], "v"), "simple")
    # stage 1 exchanges on (key, salt), stage 2 on key — exactly two,
    # each fed by a map-side partial HashAggregate
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("HashAggregate") >= 4


def test_time_rollup_single_scan_expand(spark):
    from skewer_spark.operators.aggregate import time_rollup

    df = spark.range(100).select(
        F.timestamp_seconds(F.col("id") * 1000).alias("ts"),
        (F.col("id") % 7).cast("double").alias("value"),
    )
    plan = _plan(time_rollup(df), "simple")
    # grouping sets = ONE scan + one Expand; three separate GROUP BYs
    # would triple-scan (three Range/Scan nodes)
    assert plan.count("Expand") == 1
    assert plan.count("Range") == 1


def test_char_entropy_no_shuffle_no_python(spark):
    from skewer_spark.functions.text import char_entropy

    plan = _plan(_docs(spark).select("doc_id", char_entropy().alias("h")))
    # pure scalar HOF expression riding the scan
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_hot_ngram_shuffles_hashed_keys_only(spark):
    from skewer_spark.operators.repeats import hot_ngram_stats

    plan = _plan(hot_ngram_stats(_docs(spark)), "simple")
    # gram shuffles ride int64 xxhash64 keys, not n-gram strings,
    # and the doc-frequency agg partial-combines map-side
    assert "xxhash64" in plan
    assert "partial_count" in plan
    assert "EvalPython" not in plan


def test_line_dedup_keeper_election_partial_aggregates(spark):
    from skewer_spark.operators.repeats import line_dedup

    plan = _plan(line_dedup(_docs(spark)), "simple")
    # keeper = groupBy-MIN over (hash, doc, pos): the min must partial-
    # combine map-side (a window over the line key would funnel every
    # hot line's occurrences to one reducer)
    assert "partial_min" in plan
    assert "Window" not in plan


def test_retrieval_metrics_no_window_over_results(spark):
    from skewer_spark.operators.search import retrieval_metrics

    res = spark.createDataFrame(
        [(1, "d1", 1), (1, "d2", 2)], "query_id long, doc_id string, rank int"
    )
    qrels = spark.createDataFrame(
        [(1, "d1", 1)], "query_id long, doc_id string, rel int"
    )
    plan = _plan(retrieval_metrics(res, qrels, k=10), "simple")
    # ideal-DCG reduces qrels per query independently — no rank window
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_corpus_overlap_pair_join_is_broadcast_not_cartesian(spark):
    from skewer_spark.operators.dedup import corpus_overlap

    df = spark.createDataFrame(
        [("A", "x y"), ("B", "y z")], "corpus string, text string"
    )
    plan = _plan(corpus_overlap(df, n_hashes=8), "simple")
    # without the explicit broadcast the inequality join planned as a
    # CartesianProduct recomputing the sketch subtree on both sides
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
