"""End-to-end routed-row equality vs the per-row oracle (north rule).

Runs the full pipeline (stage → per-bucket waves → sinks + aggregates)
on the deterministic synthetic transcript table and compares, per sink,
the full uid-keyed row set against tests/oracle.py, plus the
aggregate-count tables.
"""

from __future__ import annotations

import collections
import glob
import json
import os

import pandas as pd
import pyarrow.parquet as pq
import pytest

from skewer_spark.plans import job
from skewer_spark.synth import transcripts_df
from tests import oracle

N_CONVS, TURNS = 40, 25  # 1000 rows


@pytest.fixture(scope="module")
def pipeline_out(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("e2e")
    inp = str(base / "transcripts")
    out = str(base / "out")
    transcripts_df(spark, N_CONVS, TURNS).write.parquet(inp)
    res = job.run_pipeline(spark, inp, out, n_buckets=4)
    return inp, out, res


@pytest.fixture(scope="module")
def oracle_rows(pipeline_out):
    inp, _, _ = pipeline_out
    pdf = pd.read_parquet(inp)
    rows = []
    for r in pdf.to_dict("records"):
        # the store keeps UTC-adjusted INT64 timestamps, which pandas
        # reads tz-aware; the oracle works in naive UTC
        r["ts"] = pd.Timestamp(r["ts"]).tz_convert(None).to_pydatetime()
        rows.append(oracle.enrich_route_row(r))
    return rows


COMPARE_COLS = [
    "conv_id", "turn_idx", "role", "tool", "priority", "facility",
    "severity", "version", "hostname", "appname", "procid", "msgid",
    "message", "parse_ok", "parser_name", "facility_name", "severity_name",
    "filter_status", "topic", "partition_key",
]


def test_row_counts(pipeline_out):
    _, _, res = pipeline_out
    assert res["rows"] == N_CONVS * TURNS


def test_routed_table_row_equality(spark, pipeline_out, oracle_rows):
    """Full-fidelity routed-row equality (every parsed/enriched field)."""
    _, out, _ = pipeline_out
    got = {
        r["uid"]: r
        for r in job.read_routed(spark, out).toPandas().to_dict("records")
    }
    want = {r["uid"]: r for r in oracle_rows}
    assert set(got) == set(want)
    for uid, w in want.items():
        g = got[uid]
        for c in COMPARE_COLS:
            assert g[c] == w[c], f"routed uid={uid[:8]} col={c}: {g[c]!r} != {w[c]!r}"
        for c in ("time_reported", "time_generated", "ts"):
            assert pd.Timestamp(g[c]) == pd.Timestamp(w[c]), (
                f"routed uid={uid[:8]} {c}: {g[c]} != {w[c]}")


SINK_SLIM_COLS = ["conv_id", "turn_idx", "role", "tool", "severity",
                  "severity_name", "filter_status", "topic", "partition_key"]


@pytest.mark.parametrize("sink", ["sink_alerts", "sink_tools",
                                  "sink_firehose", "sink_rejects"])
def test_routed_row_equality(spark, pipeline_out, oracle_rows, sink):
    """Per-sink membership + Kafka-message-shaped fields vs oracle."""
    _, out, _ = pipeline_out
    got = {
        r["uid"]: r
        for r in job.read_sink(spark, out, sink)
        .toPandas()
        .to_dict("records")
    }
    want = {r["uid"]: r for r in oracle_rows if sink in r["sinks"]}
    assert set(got) == set(want), (
        f"{sink}: uid sets differ "
        f"(+{len(set(got) - set(want))} -{len(set(want) - set(got))})"
    )
    for uid, w in want.items():
        g = got[uid]
        for c in SINK_SLIM_COLS:
            assert g[c] == w[c], f"{sink} uid={uid[:8]} col={c}: {g[c]!r} != {w[c]!r}"
        for c in ("time_reported", "ts"):
            assert pd.Timestamp(g[c]) == pd.Timestamp(w[c]), (
                f"{sink} uid={uid[:8]} {c}: {g[c]} != {w[c]}")


def test_filter_count_equality(spark, pipeline_out, oracle_rows):
    _, out, _ = pipeline_out
    got = (
        spark.read.parquet(f"{out}/agg_final/filter_counts")
        .toPandas()
        .set_index(["filter_status", "role"])["n_messages"]
        .to_dict()
    )
    want: dict = collections.Counter(
        (r["filter_status"], r["role"]) for r in oracle_rows
    )
    assert got == dict(want)


def test_sink_count_equality(spark, pipeline_out, oracle_rows):
    _, out, _ = pipeline_out
    got = (
        spark.read.parquet(f"{out}/agg_final/sink_counts")
        .toPandas()
        .set_index(["sink", "severity_name"])["n_messages"]
        .to_dict()
    )
    want: dict = collections.Counter(
        (s, r["severity_name"]) for r in oracle_rows for s in r["sinks"]
    )
    assert got == dict(want)


def test_windowed_count_equality(spark, pipeline_out, oracle_rows):
    _, out, _ = pipeline_out
    got = (
        spark.read.parquet(f"{out}/agg_final/windowed_counts")
        .toPandas()
        .assign(window_start=lambda d: pd.to_datetime(d["window_start"]))
        .set_index(["window_start", "sink", "severity_name", "tool"])["n_messages"]
        .to_dict()
    )
    want: dict = collections.Counter(
        (pd.Timestamp(r["ts"]).floor("1h"), s, r["severity_name"], r["tool"])
        for r in oracle_rows
        for s in r["sinks"]
    )
    assert got == dict(want)


def test_turn_rank_is_stable_ordering(spark, pipeline_out):
    """turn_rank == dense position of turn_idx within conv regardless of
    file order (the RELP txnr analog)."""
    _, out, _ = pipeline_out
    pdf = job.read_routed(spark, out).toPandas()
    for conv, grp in pdf.groupby("conv_id"):
        srt = grp.sort_values("turn_idx")
        # ranks must be strictly increasing with turn_idx
        assert srt["turn_rank"].is_monotonic_increasing


def test_encoded_payloads_shape(spark, pipeline_out):
    _, out, _ = pipeline_out
    alerts = job.read_sink(spark, out, "sink_alerts").toPandas()
    # rfc5424 encoder
    assert alerts["encoded"].str.match(r"^<\d+>1 \d{4}-").all()
    tools = job.read_sink(spark, out, "sink_tools").toPandas()
    assert tools["encoded"].str.startswith('{"facility":').all()


def test_flat_store_layout(spark, tmp_path):
    """run_flat writes routed files in conversation order, stores
    every timestamp as INT64 micros adjusted to UTC, and stores no
    derived uid."""
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    transcripts_df(spark, 30, 40).write.parquet(inp)
    job.run_flat(spark, inp, out)

    routed = glob.glob(os.path.join(out, "routed", "*.parquet"))
    sinks = glob.glob(os.path.join(out, "sinks", "sink=*", "*.parquet"))
    assert routed and sinks
    for f in routed:
        t = pq.read_table(f, columns=["conv_id", "turn_idx"])
        keys = list(zip(t["conv_id"].to_pylist(), t["turn_idx"].to_pylist()))
        assert keys == sorted(keys), f

    seen = set()
    for f in routed + sinks:
        schema = pq.ParquetFile(f).schema
        assert "uid" not in schema.names, f
        for i in range(len(schema)):
            c = schema.column(i)
            if c.name in ("ts", "time_reported", "time_generated"):
                seen.add(c.name)
                assert c.physical_type == "INT64", (f, c.name)
                lt = json.loads(c.logical_type.to_json())
                assert (lt["Type"], lt["isAdjustedToUTC"], lt["timeUnit"]) \
                    == ("Timestamp", True, "microseconds"), (f, c.name)
    assert seen == {"ts", "time_reported", "time_generated"}


def test_derived_keys_round_trip(spark):
    """strip_derived → restore_derived gives back every enriched row:
    an ordinary msgid, a backfilled one, NULL, and a parsed msgid that
    equals its own uid."""
    from skewer_spark.operators.enrich import (
        add_missing_msgid, restore_derived, strip_derived, with_uid,
    )

    own_uid = oracle.uid_of("c", 3)
    x = add_missing_msgid(with_uid(spark.createDataFrame(
        [("c", 0, "ID47"), ("c", 1, ""), ("c", 2, None), ("c", 3, own_uid)],
        "conv_id string, turn_idx int, msgid string",
    )))
    stored = strip_derived(x)
    assert "uid" not in stored.columns
    assert [r.msgid for r in stored.orderBy("turn_idx").collect()] \
        == ["ID47", "", None, ""]
    got = restore_derived(stored).select(*x.columns).orderBy("turn_idx")
    assert got.collect() == x.orderBy("turn_idx").collect()
