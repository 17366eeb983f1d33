"""Canonical schemas and dictionary (lookup) tables.

Data model per SURVEY.md §1 / the reference protobuf message
(``/root/reference/model/types.proto:19-45``): a parsed syslog record
has priority / facility / severity / version ints, nanosecond
timestamps, hostname / appname / procid / msgid / structured / message
strings, and a two-level properties map.  The input is the transcript
table ``(conv_id, turn_idx, role, text, tool, ts)`` per
BASELINE.json ``input_hint``.

Facility / severity dictionaries copied from
``/root/reference/model/types.go:45-92`` (24 + 8 rows); unknown codes
default to ``user`` / ``info`` (``model/types.go:182-208``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Input schema (BASELINE.json input_hint)
# ---------------------------------------------------------------------------

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Structured-data properties (SyslogMessage analog, model/types.proto:19-33).
# The parse carries them as the compact JSON string ``properties_json``
# (a nested map column costs ~2x the rest of the row in parquet); readers
# that need map semantics revive it with from_json into this type.
# ---------------------------------------------------------------------------

PROPERTIES_TYPE = T.MapType(
    T.StringType(), T.MapType(T.StringType(), T.StringType())
)

# ---------------------------------------------------------------------------
# Dictionaries (broadcast-join dims)
# ---------------------------------------------------------------------------

# /root/reference/model/types.go:45-70
FACILITIES: dict[int, str] = {
    0: "kern", 1: "user", 2: "mail", 3: "daemon", 4: "auth", 5: "syslog",
    6: "lpr", 7: "news", 8: "uucp", 9: "clock", 10: "authpriv", 11: "ftp",
    12: "ntp", 13: "logaudit", 14: "logalert", 15: "cron", 16: "local0",
    17: "local1", 18: "local2", 19: "local3", 20: "local4", 21: "local5",
    22: "local6", 23: "local7",
}

# /root/reference/model/types.go:72-81
SEVERITIES: dict[int, str] = {
    0: "emerg", 1: "alert", 2: "crit", 3: "err", 4: "warning", 5: "notice",
    6: "info", 7: "debug",
}

# Unknown-code defaults: model/types.go:182-208
DEFAULT_FACILITY_NAME = "user"
DEFAULT_SEVERITY_NAME = "info"

# Transcript-specific dims (FIXTURES.md §2)
ROLE_KINDS: dict[str, str] = {
    "user": "human", "assistant": "model", "system": "system", "tool": "tool",
}
TOOL_FAMILIES: dict[str, str] = {
    "bash": "shell", "search": "retrieval", "editor": "fs",
    "browser": "web", "none": "none",
}


def facility_dim(spark: SparkSession) -> DataFrame:
    """24-row facility dictionary (model/types.go:45-70)."""
    return spark.createDataFrame(
        [(k, v) for k, v in sorted(FACILITIES.items())],
        T.StructType([
            T.StructField("facility", T.IntegerType(), False),
            T.StructField("facility_name", T.StringType(), False),
        ]),
    )


def severity_dim(spark: SparkSession) -> DataFrame:
    """8-row severity dictionary (model/types.go:72-81)."""
    return spark.createDataFrame(
        [(k, v) for k, v in sorted(SEVERITIES.items())],
        T.StructType([
            T.StructField("severity", T.IntegerType(), False),
            T.StructField("severity_name", T.StringType(), False),
        ]),
    )

