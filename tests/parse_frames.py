"""Run ``parse_transcripts`` over a list of lines, shared by the parse
tests."""

from __future__ import annotations

from datetime import datetime

from skewer_spark.operators.parse import parse_transcripts


def parse_lines(spark, lines: list[str], ts: datetime) -> list:
    """Parse ``lines`` through a DataFrame; rows in input order."""
    df = spark.createDataFrame(
        [(i, line, ts) for i, line in enumerate(lines)],
        "i int, text string, ts timestamp",
    )
    return sorted(parse_transcripts(df).collect(), key=lambda r: r.i)
