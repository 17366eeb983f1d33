"""Per-sink payload encoders (SURVEY.md §2.5), as Column expressions.

Each mirrors a reference encoder (registry
``/root/reference/encoders/encoder.go:57-69``):

* ``encode_json`` — the "Regular" JSON view with facility/severity
  *names* and RFC3339 times (``model/types.go:210-262``,
  ``encoders/json.go:31-44``), omit-empty semantics via ``nullif``.
* ``encode_rfc5424`` — ``<PRI>1 TS HOST APP PROC MSGID SD MSG`` with
  ``-`` for absent fields; SD rebuilt from the properties map with
  value escaping per ``encoders/rfc5424.go:84-122``.
* ``encode_rfc3164`` — ``<PRI>Mmm _2 15:04:05 HOST APP[PROC]: MSG``
  (``encoders/rfc3164.go:26-45``); the reference falls back to
  ``os.Hostname()`` for empty hostname — batch-deterministic substitute
  is the literal ``localhost``.
* ``encode_file`` — ``TS HOST APP MSG`` with ``-`` fallbacks
  (``encoders/file.go:11-37``).

All pure ``pyspark.sql.functions`` — these stay inside whole-stage
codegen; no Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ISO = "yyyy-MM-dd'T'HH:mm:ss'Z'"


def _iso(c: str | Column) -> Column:
    return F.date_format(c, ISO)


def _dash(c: str) -> Column:
    return F.coalesce(F.nullif(F.col(c), F.lit("")), F.lit("-"))


def _regular_struct() -> Column:
    """RegularSyslog struct (model/types.go:210-221), field order kept."""
    return F.struct(
        F.col("facility_name").alias("facility"),
        F.col("severity_name").alias("severity"),
        _iso("time_reported").alias("timereported"),
        _iso("time_generated").alias("timegenerated"),
        F.nullif(F.col("hostname"), F.lit("")).alias("hostname"),
        F.nullif(F.col("appname"), F.lit("")).alias("appname"),
        F.nullif(F.col("procid"), F.lit("")).alias("procid"),
        F.nullif(F.col("msgid"), F.lit("")).alias("msgid"),
        F.nullif(F.col("message"), F.lit("")).alias("message"),
        F.from_json(
            F.col("properties_json"),
            "map<string,map<string,string>>",
        ).alias("properties"),
    )


def encode_json() -> Column:
    """Regular JSON view (field order = RegularSyslog struct order)."""
    return F.to_json(_regular_struct(), {"ignoreNullFields": "true"})


def encode_fulljson() -> Column:
    """FullMessage envelope JSON (encoders/json.go:83-95): the
    RegularFullMessage shape of model/types.go:310-348 — delivery
    envelope (client_addr / source_type / source_path / source_port /
    uid) around the RegularSyslog ``fields``.  ``source_port`` has no
    omitempty in the reference so it always serializes; the string
    envelope fields omit when empty.  Frames lacking envelope columns
    should pass through :func:`with_envelope` first."""
    return F.to_json(
        F.struct(
            F.nullif(F.col("client_addr"), F.lit("")).alias("client_addr"),
            F.nullif(F.col("source_type"), F.lit("")).alias("source_type"),
            F.nullif(F.col("source_path"), F.lit("")).alias("source_path"),
            F.col("source_port").cast("int").alias("source_port"),
            F.nullif(F.col("uid"), F.lit("")).alias("uid"),
            _regular_struct().alias("fields"),
        ),
        {"ignoreNullFields": "true"},
    )


_ENVELOPE_DEFAULTS = {
    "client_addr": "", "source_type": "", "source_path": "",
}


def with_envelope(df, source_port: int = 0):
    """Backfill missing FullMessage envelope columns with zero values
    (model/types.go ZeroFullMessage semantics)."""
    for col, default in _ENVELOPE_DEFAULTS.items():
        if col not in df.columns:
            df = df.withColumn(col, F.lit(default))
    if "source_port" not in df.columns:
        df = df.withColumn("source_port", F.lit(source_port))
    return df


def encode_rfc5424() -> Column:
    # the parser keeps the raw SD block in `structured`; re-emitting it
    # avoids a map round-trip (reference rebuilds from the map with the
    # same escaping — byte-equal for valid input)
    sd = F.when(
        F.coalesce(F.col("structured"), F.lit("")) == "", F.lit("-")
    ).otherwise(F.col("structured"))
    body = F.concat(
        F.lit("<"), F.col("priority").cast("string"), F.lit(">1 "),
        _iso("time_reported"), F.lit(" "),
        _dash("hostname"), F.lit(" "),
        _dash("appname"), F.lit(" "),
        _dash("procid"), F.lit(" "),
        _dash("msgid"), F.lit(" "),
        sd,
    )
    return F.when(
        F.col("message") == "", body
    ).otherwise(F.concat(body, F.lit(" "), F.col("message")))


def _stamp(c: str) -> Column:
    """Go 'Jan _2 15:04:05' (space-padded day)."""
    day = F.dayofmonth(c)
    return F.concat(
        F.date_format(c, "MMM"),
        F.when(day < 10, F.concat(F.lit("  "), day.cast("string")))
        .otherwise(F.concat(F.lit(" "), day.cast("string"))),
        F.lit(" "),
        F.date_format(c, "HH:mm:ss"),
    )


def encode_rfc3164() -> Column:
    procid = F.trim(F.col("procid"))
    proc_part = F.when(
        F.length(procid) > 0, F.concat(F.lit("["), procid, F.lit("]"))
    ).otherwise(F.lit(""))
    hostname = F.when(
        F.length(F.trim(F.col("hostname"))) > 0, F.trim(F.col("hostname"))
    ).otherwise(F.lit("localhost"))
    return F.concat(
        F.lit("<"), F.col("priority").cast("string"), F.lit(">"),
        _stamp("time_reported"), F.lit(" "),
        hostname, F.lit(" "),
        F.col("appname"), proc_part, F.lit(": "),
        F.col("message"),
    )


def encode_gelf() -> Column:
    """GELF 1.1 JSON (encoders/gelf.go:15-45): version/host/
    short_message/timestamp(epoch s)/level=severity/_facility name +
    _appname/_procid/_msgid extras when present (GELF extras carry a
    leading underscore on the wire) and the properties map."""
    return F.to_json(
        F.struct(
            F.lit("1.1").alias("version"),
            F.col("hostname").alias("host"),
            F.col("message").alias("short_message"),
            F.unix_timestamp("time_reported").cast("double").alias("timestamp"),
            F.col("severity").alias("level"),
            F.col("facility_name").alias("_facility"),
            F.nullif(F.col("appname"), F.lit("")).alias("_appname"),
            F.nullif(F.col("procid"), F.lit("")).alias("_procid"),
            F.nullif(F.col("msgid"), F.lit("")).alias("_msgid"),
            F.from_json(
                F.col("properties_json"), "map<string,map<string,string>>"
            ).alias("_properties"),
        ),
        {"ignoreNullFields": "true"},
    )


def encode_file() -> Column:
    return F.concat_ws(
        " ", _iso("time_reported"), _dash("hostname"), _dash("appname"),
        F.col("message"),
    )


# format-name → encoder registry (encoders/encoder.go:57-69).  No
# avro/protobuf library ships with the package, so sinks/wire.py
# produces both wire formats from the public specs.
from skewer_spark.sinks.wire import (  # noqa: E402
    encode_avro,
    encode_fullavro,
    encode_fulljsonavro,
    encode_jsonavro,
    encode_protobuf,
)

ENCODERS = {
    "rfc5424": encode_rfc5424,
    "rfc3164": encode_rfc3164,
    "json": encode_json,
    "fulljson": encode_fulljson,
    "file": encode_file,
    "gelf": encode_gelf,
    "avro": encode_avro,
    "fullavro": encode_fullavro,
    "jsonavro": encode_jsonavro,
    "fulljsonavro": encode_fulljsonavro,
    "protobuf": encode_protobuf,
}

# content-type negotiation (encoders/encoder.go:17-55): format → MIME
# for responses, and accepted MIME → encoder for requests.
PLAIN_MIMETYPE = "text/plain; charset=utf-8"
JSON_MIMETYPE = "application/json"
NDJSON_MIMETYPE = "application/x-ndjson"

AVRO_MIMETYPE = "application/avro"
PROTOBUF_MIMETYPE = "application/vnd.google.protobuf"

MIMETYPES = {
    "rfc5424": PLAIN_MIMETYPE,
    "rfc3164": PLAIN_MIMETYPE,
    "json": JSON_MIMETYPE,
    "fulljson": JSON_MIMETYPE,
    "file": PLAIN_MIMETYPE,
    "gelf": JSON_MIMETYPE,
    "avro": AVRO_MIMETYPE,
    "fullavro": AVRO_MIMETYPE,
    "jsonavro": JSON_MIMETYPE,
    "fulljsonavro": JSON_MIMETYPE,
    "protobuf": PROTOBUF_MIMETYPE,
}

RMIMETYPES = {
    JSON_MIMETYPE: "json",
    NDJSON_MIMETYPE: "json",
    PLAIN_MIMETYPE: "rfc5424",
    "text/plain": "rfc5424",
}


def encoder_for_content_type(content_type: str):
    """HTTP-source/sink encoder selection (encoders/encoder.go:33-40).

    Unknown types raise like the reference's 415 path."""
    name = RMIMETYPES.get(content_type.strip().lower())
    if name is None:
        raise ValueError(f"unsupported content type: {content_type}")
    return ENCODERS[name]


# sink → encoder, mirroring per-destination encoder config
SINK_ENCODERS = {
    "sink_alerts": encode_rfc5424,
    "sink_tools": encode_json,
    "sink_firehose": encode_file,
    "sink_rejects": encode_json,
}


def encoded_by_sink() -> Column:
    """Per-destination payload on a sink-labeled frame: one expression,
    branch on the ``sink`` column — lets the one-pass fan-out write
    encode all destinations in a single projection."""
    expr = None
    for name, enc in SINK_ENCODERS.items():
        expr = (
            F.when(F.col("sink") == name, enc())
            if expr is None
            else expr.when(F.col("sink") == name, enc())
        )
    return expr.otherwise(encode_json())
