"""Envelope + encoder registry (SURVEY.md §2.5)."""

from __future__ import annotations

import json
from datetime import datetime

import pytest
from pyspark.sql import functions as F


def _routed_fixture(spark):
    rows = [
        # conv, turn, role, tool, ts, fac, sev, host, app, proc, msgid, msg
        ("c1", 1, "user", "none", datetime(2024, 1, 10, 8, 0, 0),
         4, 2, "h1", "appA", "77", "M1", "hello world"),
        ("c1", 2, "assistant", "bash", datetime(2024, 1, 11, 9, 0, 0),
         1, 6, "h2", "", "", "", "second"),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, tool string, "
        "ts timestamp, facility int, severity int, hostname string, "
        "appname string, procid string, msgid string, message string",
    )
    return (
        df.withColumn("priority", F.col("facility") * 8 + F.col("severity"))
        .withColumn("version", F.lit(1))
        .withColumn("time_reported", F.col("ts"))
        .withColumn("time_generated", F.col("ts"))
        .withColumn("facility_name", F.lit("auth"))
        .withColumn("severity_name", F.lit("crit"))
        .withColumn("structured", F.lit(""))
        .withColumn("properties_json", F.lit(None).cast("string"))
        .withColumn("parse_ok", F.lit(True))
        .withColumn("uid", F.sha2(F.concat_ws("|", "conv_id", "turn_idx"), 256))
    )


def test_fulljson_envelope(spark):
    from skewer_spark.sinks.encoders import encode_fulljson, with_envelope

    r = with_envelope(_routed_fixture(spark), source_port=0)
    r = r.withColumn("client_addr", F.lit("10.1.2.3:5514")).withColumn(
        "source_type", F.lit("relp")
    )
    enc = r.orderBy("turn_idx").select(encode_fulljson().alias("e")).collect()
    d = json.loads(enc[0].e)
    # RegularFullMessage shape (model/types.go:310-317)
    assert list(d)[:2] == ["client_addr", "source_type"]
    assert d["client_addr"] == "10.1.2.3:5514"
    assert d["source_type"] == "relp"
    assert "source_path" not in d          # omitempty
    assert d["source_port"] == 0           # NO omitempty → always present
    assert d["uid"] and d["fields"]["message"] == "hello world"
    assert d["fields"]["msgid"] == "M1"


def test_content_type_negotiation(spark):
    from skewer_spark.sinks.encoders import (
        ENCODERS, MIMETYPES, encoder_for_content_type,
    )

    assert encoder_for_content_type("application/json") is ENCODERS["json"]
    assert encoder_for_content_type("text/plain") is ENCODERS["rfc5424"]
    assert MIMETYPES["fulljson"] == "application/json"
    with pytest.raises(ValueError):
        encoder_for_content_type("application/x-unknown")
