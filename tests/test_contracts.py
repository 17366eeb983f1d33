"""Contract guards: synth determinism (FIXTURES.md), encoder goldens,
the driver-compare registry and no test-only modules."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from skewer_spark.synth import transcripts_df


def test_synth_is_deterministic(spark):
    """Same parameters → identical content regardless of partitioning."""
    a = transcripts_df(spark, 30, 10, partitions=4)
    b = transcripts_df(spark, 30, 10, partitions=16)

    def fp(df):
        return (
            df.select(
                F.sha2(F.concat_ws("\x1f", "conv_id", "turn_idx", "role",
                                   "text", "tool",
                                   F.date_format("ts", "yyyy-MM-dd HH:mm:ss")),
                       256).alias("h"))
            .agg(F.count("*").alias("n"),
                 F.sum(F.conv(F.substring("h", 1, 8), 16, 10)
                       .cast("decimal(38,0)")).alias("s"))
            .collect()[0]
        )

    ra, rb = fp(a), fp(b)
    assert ra["n"] == rb["n"] == 300
    assert ra["s"] == rb["s"]


def test_synth_hot_conv_skew(spark):
    """conv 0 owns ~10% of all turns (FIXTURES.md skew contract)."""
    df = transcripts_df(spark, 100, 40)  # 4000 rows
    n0 = df.filter(F.col("conv_id") == "conv-00000000").count()
    assert abs(n0 - 400) <= 1


def test_synth_format_mix(spark):
    """All seven text shapes appear with roughly FIXTURES.md weights."""
    df = transcripts_df(spark, 100, 40)
    n = df.count()
    shapes = {
        "rfc5424_full": df.filter(F.col("text").rlike(r"^<\d+>1 2026")).count(),
        "rfc5424_nil": df.filter(F.col("text").startswith("<14>1 - ")).count(),
        "bare": df.filter(F.col("text").startswith("plain text")).count(),
        "badpri": df.filter(F.col("text").startswith("<9999999999>")).count(),
    }
    assert 0.25 < shapes["rfc5424_full"] / n < 0.35   # 3/10 (minus bad-ts rows still match)
    assert 0.05 < shapes["rfc5424_nil"] / n < 0.15    # 1/10
    assert 0.05 < shapes["bare"] / n < 0.15
    assert 0.05 < shapes["badpri"] / n < 0.15


def test_encode_rfc3164_golden(spark):
    from skewer_spark.sinks.encoders import encode_rfc3164
    df = spark.createDataFrame(
        [(34, datetime(2026, 1, 10, 13, 14, 15), "host42", "sshd", "42", "msg x"),
         (13, datetime(2026, 1, 1, 0, 0, 5), "", "app", "", "y")],
        "priority int, time_reported timestamp, hostname string, "
        "appname string, procid string, message string",
    )
    out = [r.e for r in df.select(encode_rfc3164().alias("e")).collect()]
    # Go 'Jan _2 15:04:05' day padding; procid bracketed only when set;
    # empty hostname → deterministic localhost (documented deviation
    # from os.Hostname())
    assert out[0] == "<34>Jan 10 13:14:15 host42 sshd[42]: msg x"
    assert out[1] == "<13>Jan  1 00:00:05 localhost app: y"


def test_driver_entry_smoke(spark):
    """The driver's first gate: entry(spark) must run and return a
    stable-schema DataFrame with >= 0 rows on the sf0.001 fixture."""
    import __spark_entry__ as em

    df = em.entry(spark)
    cols = df.columns
    rows = df.collect()
    assert len(rows) >= 0
    # re-running yields the identical schema (driver checks stability)
    assert em.entry(spark).columns == cols
    assert len(rows) > 0  # the fixture is non-empty, so the rollup is too


def test_queries_oracle_parity_and_window():
    """Every registered query has an oracle pair (the driver-compare
    contract), names are unique, and the first-50 driver window holds
    exactly 50 distinct entries."""
    import __spark_entry__ as entry

    q = list(entry.queries().keys())
    o = set(entry.oracle_sql().keys())
    assert len(q) == len(set(q))
    assert set(q) == o, (set(q) - o, o - set(q))
    assert len(q) >= 50
    window = q[:50]
    assert len(set(window)) == 50
    # r1-r3 the window held the flagship queries; with those
    # driver-green three rounds running, r4 rotates the window onto
    # pairs the driver has never externally checked (VERDICT r3 #1).
    # The flagship parse/route/aggregate legs must stay REGISTERED
    # (oracle-paired, check_oracles-verified) even while demoted.
    for must in ("q_window_rank", "q_parse_rfc3164", "q_sink_counts",
                 "q_windowed_agg", "q_filter_fourway"):
        assert must in q, must
    # rotation invariant (VERDICT r4 #1 / r5 #2): every oracle pair NO
    # prior driver round has externally checked must sit inside the
    # first-50 window.  After r5 the never-checked set is EMPTY
    # (164/164 ever-driver-verified), so this reduces to a regression
    # guard: a pair added without ever entering the window would trip
    # it; the window itself now back-fills least-recently-checked
    # pairs (tools/rotate_window.py).
    import json
    import os
    green = set()
    for r in ("01", "02", "03", "04", "05"):
        p = os.path.join(os.path.dirname(__file__), "..",
                         f"CORRECTNESS_r{r}.json")
        if os.path.exists(p):
            with open(p) as f:
                green |= {
                    k for k, v in json.load(f).items()
                    if isinstance(v, dict) and v.get("hash_match")
                }
    never = set(q) - green
    assert never <= set(window), sorted(never - set(window))


def test_every_module_has_a_non_test_importer():
    """Every package module is reached from a pipeline entry point
    (``tools/loc_report.py``'s ``ENTRIES``) or from ``__spark_entry__``
    by static imports: a module only tests import is dead code."""
    from tools.loc_report import ENTRIES, PKG, ROOT, closure, imports, modules

    mods = modules()
    roots = [f"{PKG}.{e}" for e in ENTRIES]
    roots += imports("__spark_entry__", ROOT / "__spark_entry__.py", mods)
    test_only = sorted(set(mods) - closure(roots, mods))
    assert not test_only, test_only
