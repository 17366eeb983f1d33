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
import shutil
from datetime import datetime

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from skewer_spark.plans import job
from skewer_spark.synth import transcripts_df
from tests import oracle
from tests.store_meta import ts_encodings

N_CONVS, TURNS = 40, 25  # 1000 rows
SINKS = ("sink_alerts", "sink_tools", "sink_firehose", "sink_rejects",
         "_dropped")


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
    "severity", "version", "time_reported", "hostname", "appname", "procid",
    "msgid", "message", "parse_ok", "parser_name", "facility_name",
    "severity_name", "filter_status", "topic", "partition_key",
]


def _props(js: str | None) -> dict:
    return json.loads(js) if js else {}


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
        assert _props(g["properties_json"]) == _props(w["properties"]), (
            f"routed uid={uid[:8]} properties")
        for c in ("time_generated", "ts"):
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
    every timestamp as INT64 micros adjusted to UTC, delta-packs ts
    (Parquet v2 pages), stores no derived uid and no routed
    time_generated, and stores time_reported as NULL exactly where the
    reader's value equals ts."""
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
        assert "time_generated" not in pq.ParquetFile(f).schema.names, f

    seen = set()
    for f in routed + sinks:
        schema = pq.ParquetFile(f).schema
        assert "uid" not in schema.names, f
        assert "DELTA_BINARY_PACKED" in ts_encodings(f), f
        for i in range(len(schema)):
            c = schema.column(i)
            if c.name in ("ts", "time_reported", "time_generated"):
                seen.add(c.name)
                assert c.physical_type == "INT64", (f, c.name)
                lt = json.loads(c.logical_type.to_json())
                assert (lt["Type"], lt["isAdjustedToUTC"], lt["timeUnit"]) \
                    == ("Timestamp", True, "microseconds"), (f, c.name)
    assert seen == {"ts", "time_reported"}

    def stored_vs_read(raw_dir, reader):
        cols = ["conv_id", "turn_idx", "ts", "time_reported"]
        raw = spark.read.parquet(raw_dir).select(
            "conv_id", "turn_idx", F.col("time_reported").alias("stored"))
        return [tuple(r) for r in reader.select(*cols)
                .join(raw, ["conv_id", "turn_idx"], "full_outer").collect()]

    checked = [
        stored_vs_read(os.path.join(out, "routed"), job.read_routed(spark, out))
    ] + [
        stored_vs_read(os.path.join(out, "sinks", f"sink={name}"),
                       job.read_sink(spark, out, name))
        for name in SINKS
    ]
    # the synthetic lines' own timestamps equal their turn's ts, so
    # every stored time_reported here is NULL; test_derived_keys_round_trip
    # covers one stored as-is
    for rows in checked:
        assert rows
        for conv_id, turn_idx, ts, tr, stored in rows:
            assert ts is not None and tr is not None, (conv_id, turn_idx)
            assert stored == (None if tr == ts else tr), \
                (conv_id, turn_idx, stored, tr)


def test_derived_keys_round_trip(spark):
    """strip_derived → restore_derived (+ with_time_generated, as the
    routed readers do) gives back every enriched row: an ordinary msgid,
    a backfilled one, NULL, and a parsed msgid that equals its own uid;
    a time_reported equal to ts, a different one (stored as-is), a NULL
    parsed time that enrich filled from ts, and NULL ts beside a parsed
    time and beside none."""
    from skewer_spark.operators.enrich import (
        add_missing_msgid, restore_derived, strip_derived, with_time_generated,
        with_uid,
    )

    own_uid = oracle.uid_of("c", 3)
    t0, t1 = datetime(2026, 1, 1, 0, 0, 5), datetime(2026, 1, 10, 13, 14, 15)
    raw = spark.createDataFrame(
        [("c", 0, "ID47", t0, t0), ("c", 1, "", t0, t1),
         ("c", 2, None, t0, None), ("c", 3, own_uid, None, t1),
         ("c", 4, "ID48", None, None)],
        "conv_id string, turn_idx int, msgid string, ts timestamp, "
        "time_reported timestamp",
    )
    # enrich's timestamp defaulting, on a frame with no parse columns
    x = add_missing_msgid(with_uid(
        raw.withColumn("time_generated", F.col("ts"))
        .withColumn("time_reported", F.coalesce("time_reported", "ts"))
    ))
    stored = strip_derived(x)
    assert not {"uid", "time_generated"} & set(stored.columns)
    rows = stored.orderBy("turn_idx").collect()
    assert [r.msgid for r in rows] == ["ID47", "", None, "", "ID48"]
    assert [r.time_reported for r in rows] == [None, t1, None, t1, None]
    got = with_time_generated(restore_derived(stored)).select(*x.columns)
    assert got.orderBy("turn_idx").collect() \
        == x.orderBy("turn_idx").collect()


def test_old_and_mixed_stores_read_alike(spark, pipeline_out, tmp_path):
    """Buckets written before the store stripped its timestamps and
    moved to v2 pages (full time_reported, a routed time_generated,
    Parquet v1 pages with PLAIN ts) read through read_routed and
    read_sink exactly like buckets written now, in either order: Spark
    takes a store's schema from its first file, so the old layout in
    bucket 0 makes time_generated a stored column and the new layout in
    bucket 0 leaves it out."""
    _, out, _ = pipeline_out

    def rewrite_old(store, buckets):
        # the restored frame without uid, written raw (v1 pages)
        routed = job.read_routed(spark, out).drop("uid")
        for b in buckets:
            routed.filter(F.col("bucket") == b).drop("bucket").write.mode(
                "overwrite").parquet(f"{store}/routed/bucket={b}")
            for name in SINKS:
                job.read_sink(spark, out, name).filter(
                    F.col("bucket") == b
                ).drop("uid", "bucket", "sink").write.mode("overwrite").parquet(
                    f"{store}/sinks/bucket={b}/sink={name}")

    def read_all(store):
        return [
            (df.columns, sorted(df.collect(),
                                key=lambda r: (r.conv_id, r.turn_idx)))
            for df in [job.read_routed(spark, store)]
            + [job.read_sink(spark, store, n) for n in SINKS]
        ]

    want = read_all(out)
    for old_buckets, old_first in (([0, 2], True), ([1, 3], False)):
        store = str(tmp_path / f"mixed{old_buckets[0]}")
        shutil.copytree(out, store)
        rewrite_old(store, old_buckets)
        inferred = spark.read.parquet(f"{store}/routed").columns
        assert ("time_generated" in inferred) is old_first
        # the store really mixes page versions
        for b in range(4):
            files = glob.glob(f"{store}/routed/bucket={b}/*.parquet") \
                + glob.glob(f"{store}/sinks/bucket={b}/sink=*/*.parquet")
            assert files, b
            for f in files:
                enc = ts_encodings(f)
                if b in old_buckets:
                    assert "PLAIN" in enc, (f, enc)
                    assert "DELTA_BINARY_PACKED" not in enc, (f, enc)
                else:
                    assert "DELTA_BINARY_PACKED" in enc, (f, enc)
        assert read_all(store) == want, old_buckets


def test_raw_readers_read_v2_store(spark, pipeline_out):
    """DuckDB and pyarrow read the v2-page routed and sink files: keyed
    on (conv_id, turn_idx), their rows, ts and encoded values equal
    read_routed's and read_sink's."""
    import duckdb
    import pyarrow.dataset as ds

    _, out, _ = pipeline_out
    con = duckdb.connect()

    def by_key(rows):
        got = {(r[0], r[1]): tuple(r[2:]) for r in rows}
        assert len(got) == len(rows)
        return got

    def check(pattern, reader, extra=()):
        want = by_key(reader.select(
            "conv_id", "turn_idx", F.unix_micros("ts"), *extra).collect())
        assert want
        files = sorted(glob.glob(os.path.join(out, pattern)))
        assert files, pattern
        select = ", ".join(["conv_id", "turn_idx", "epoch_us(ts)", *extra])
        duck = con.execute(
            f"SELECT {select} FROM read_parquet(?)", [files]).fetchall()
        assert by_key(duck) == want, pattern
        t = ds.dataset(files, format="parquet").to_table(
            columns=["conv_id", "turn_idx", "ts", *extra])
        t = t.set_column(2, "ts", t["ts"].cast("int64"))
        arrow = list(zip(*(t[c].to_pylist() for c in t.column_names)))
        assert by_key(arrow) == want, pattern

    check("routed/bucket=*/*.parquet", job.read_routed(spark, out))
    for name in SINKS:
        check(f"sinks/bucket=*/sink={name}/*.parquet",
              job.read_sink(spark, out, name), ["encoded"])


def test_store_report_smoke(pipeline_out):
    """tools/store_report.py reports every table of a bucketed store
    from its footers: routed, each sink, _staged."""
    import subprocess
    import sys

    from tools.store_report import report

    _, out, _ = pipeline_out
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    text = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "store_report.py"), out],
        check=True, capture_output=True, text=True).stdout
    reps = report(out)
    assert list(reps) == ["routed", *sorted(f"sinks/{n}" for n in SINKS),
                          "_staged"]
    for name, rep in reps.items():
        assert f"{name}: {rep.files} files, {rep.file_bytes:,} B" in text
        assert rep.footer_bytes + sum(rep.column_bytes.values()) \
            < rep.file_bytes, name
        assert "uid" not in rep.column_bytes, name
    assert "DELTA_BINARY_PACKED" in reps["routed"].encodings["ts"]
    assert "DELTA_BINARY_PACKED" not in reps["_staged"].encodings["ts"]
