"""Golden tests for every parse branch of the reference decoders.

Each case is checked twice: against the Spark expression parse
(skewer_spark.operators.parse.parse_transcripts, through a DataFrame)
and against the independent per-row oracle (tests/oracle.py).  Both
must agree with the golden.
Branch labels cite /root/reference/decoders/rfc3164_format.go.
"""

from __future__ import annotations

import json
from datetime import datetime

import pytest

from tests import oracle
from tests.parse_frames import parse_lines

TS = datetime(2026, 1, 1, 0, 0, 0)

# (line, expected-subset-of-fields)
CASES: list[tuple[str, dict]] = [
    # --- default branch (:40-54): no PRI → whole line is message
    ("plain text with no priority", dict(
        priority=0, facility=0, severity=0, message="plain text with no priority",
        hostname="", appname="", parse_ok=True, parser_name="rfc3164")),
    # '<' but no '>'
    ("<34 no closing", dict(priority=0, message="<34 no closing")),
    # empty pri  '<>'
    ("<>x", dict(priority=0, message="<>x")),
    # >9-digit PRI (spec deviation documented in parse.py)
    ("<9999999999>broken", dict(priority=0, message="<9999999999>broken")),
    # --- PRI only (:59-61): no message, no timestamp
    ("<34>", dict(priority=34, facility=4, severity=2, message="",
                  time_reported=None)),
    ("<34>   ", dict(priority=34, message="")),
    # --- RFC3339 ts branch (:70-90)
    ("<34>2026-01-01T00:00:05Z host42 app: msg here", dict(
        priority=34, time_reported=datetime(2026, 1, 1, 0, 0, 5),
        hostname="host42", appname="app", message="msg here")),
    # RFC3339 with offset normalizes to UTC
    ("<34>2026-01-01T02:00:05+02:00 h a: m", dict(
        time_reported=datetime(2026, 1, 1, 0, 0, 5), hostname="h",
        appname="a", message="m")),
    # invalid leading-digit ts → degrade (:74-81)
    ("<34>2026-99-99T00:00:05Z host app: msg", dict(
        priority=34, message="2026-99-99T00:00:05Z host app: msg",
        hostname="", appname="")),
    ("<34>12:30 not a date", dict(message="12:30 not a date")),
    # ts only, nothing after (:86-89)
    ("<34>2026-01-01T00:00:05Z", dict(
        time_reported=datetime(2026, 1, 1, 0, 0, 5), message="")),
    # --- Stamp branch (:92-114); year injected from row ts (2026)
    ("<34>Jan 10 13:14:15 host42 sshd[42]: Failed password", dict(
        priority=34, time_reported=datetime(2026, 1, 10, 13, 14, 15),
        hostname="host42", appname="sshd", procid="42",
        message="Failed password")),
    # double-space day → time.Stamp fails → degrade (reference quirk)
    ("<34>Jan  1 00:00:05 host42 sshd[42]: Failed password", dict(
        priority=34, time_reported=None,
        message="Jan  1 00:00:05 host42 sshd[42]: Failed password")),
    # fewer than 3 tokens (:93-98)
    ("<34>hello world", dict(message="hello world")),
    ("<34>hello", dict(message="hello")),
    # stamp, exactly 3 tokens (:109-111): no message
    ("<34>Jan 10 13:14:15", dict(
        time_reported=datetime(2026, 1, 10, 13, 14, 15), message="")),
    # --- tail branches ---
    # len(s)==1 (:116-120)
    ("<34>Jan 10 13:14:15 onlymsg", dict(message="onlymsg", hostname="",
                                         appname="")),
    # len(s)==2, s[0] IPv4-ish (3 dots), s[1] tag (:124-135)
    ("<34>Jan 10 13:14:15 10.0.0.1 app[7]:", dict(
        hostname="10.0.0.1", appname="app", procid="7", message="")),
    # len(s)==2, s[0] IPv4-ish, s[1] plain → message
    ("<34>Jan 10 13:14:15 10.0.0.1 hello", dict(
        hostname="10.0.0.1", message="hello", appname="")),
    # len(s)==2, s[0] is tag (:136-141)
    ("<34>Jan 10 13:14:15 app[7]: hello", dict(
        appname="app", procid="7", message="hello", hostname="")),
    # len(s)==2, s[1] has bracket → reference parses tag from s[0] (:142-146)
    ("<34>Jan 10 13:14:15 myhost app[7]", dict(
        hostname="myhost", appname="myhost", procid="", message="")),
    # len(s)==2 plain/plain (:148-151)
    ("<34>Jan 10 13:14:15 app hello", dict(
        appname="app", message="hello", hostname="")),
    # len(s)>=3, s[0] tag-ish → hostname omitted (:154-159)
    ("<13>Jan 10 13:14:15 app[7]: tag only line", dict(
        appname="app", procid="7", message="tag only line", hostname="")),
    # len(s)>=3, s[0] not hostname-charset (e.g. '=') → hostname omitted
    ("<13>Jan 10 13:14:15 a=b x y", dict(
        appname="a=b", message="x y", hostname="")),
    # len(s)>=3 full HOSTNAME TAG MSG (:161-164)
    ("<34>Jan 10 13:14:15 host42 sshd: a b c", dict(
        hostname="host42", appname="sshd", message="a b c")),
    # parseTag: '[' last char → appname keeps bracket (:171 else-branch)
    ("<34>Jan 10 13:14:15 host42 app[ x y", dict(
        hostname="host42", appname="app[", procid="", message="x y")),
    # parseTag: no ']' → procid to end
    ("<34>Jan 10 13:14:15 host42 app[77 x y", dict(
        hostname="host42", appname="app", procid="77", message="x y")),
    # --- RFC5424 ---
    ('<165>1 2026-01-01T00:00:05Z host42 sshd 4242 MSG01 '
     '[meta k="v" k2="a\\]b"] Accepted publickey', dict(
        priority=165, facility=20, severity=5, version=1,
        time_reported=datetime(2026, 1, 1, 0, 0, 5), hostname="host42",
        appname="sshd", procid="4242", msgid="MSG01",
        message="Accepted publickey", parse_ok=True, parser_name="rfc5424",
        properties={"meta": {"k": "v", "k2": "a\\]b"}})),
    # nil fields
    ("<14>1 - - - - - - minimal message", dict(
        priority=14, facility=1, severity=6, version=1, time_reported=None,
        hostname="", appname="", procid="", msgid="",
        message="minimal message", parse_ok=True, parser_name="rfc5424")),
    # nil SD, no message
    ("<14>1 2026-01-01T00:00:05Z h a p m -", dict(
        hostname="h", appname="a", procid="p", msgid="m", message="",
        parse_ok=True)),
    # multiple SD elements, back-to-back
    ('<14>1 - h a p m [a x="1"][b y="2" z="3"] tail msg', dict(
        message="tail msg",
        properties={"a": {"x": "1"}, "b": {"y": "2", "z": "3"}})),
    # SD with escaped quote in value (raw kept)
    ('<14>1 - h a p m [s q="a\\"b"]', dict(
        properties={"s": {"q": 'a\\"b'}}, message="")),
    # bad timestamp → decode error (rfc5424_format.go:146-150)
    ("<14>1 2026-13-01T00:00:00Z h a p m - x", dict(
        parse_ok=False, parser_name="rfc5424", priority=0, message="")),
    # truncated header → decode error
    ("<14>1 2026-01-01T00:00:05Z onlyhost", dict(
        parse_ok=False, parser_name="rfc5424")),
    # malformed SD → decode error
    ("<14>1 - h a p m [unclosed", dict(parse_ok=False)),
    # version>1 ok
    ("<14>2 - h a p m - v2 msg", dict(version=2, message="v2 msg",
                                      parse_ok=True)),
]


@pytest.fixture(scope="module")
def golden_rows(spark) -> dict:
    lines = [c[0] for c in CASES]
    return dict(zip(lines, parse_lines(spark, lines, TS)))


@pytest.mark.parametrize("line,want", CASES, ids=[c[0][:40] for c in CASES])
def test_vectorized_parser_golden(golden_rows, line: str, want: dict):
    row = golden_rows[line]
    for k, v in want.items():
        if k == "properties":
            got = json.loads(row["properties_json"]) if row["properties_json"] else {}
            assert got == v, f"properties: {got!r} != {v!r}"
        else:
            assert row[k] == v, f"{k}: {row[k]!r} != {v!r}"


@pytest.mark.parametrize("line,want", CASES, ids=[c[0][:40] for c in CASES])
def test_oracle_parser_golden(line: str, want: dict):
    m = oracle.parse_line(line, TS.year)
    for k, v in want.items():
        got = getattr(m, k)
        assert got == v, f"{k}: {got!r} != {v!r}"


def test_vectorized_matches_oracle_bulk(golden_rows):
    """Both implementations agree on every golden in one batch."""
    for line, row in golden_rows.items():
        m = oracle.parse_line(line, TS.year)
        for f in ("priority", "facility", "severity", "version", "hostname",
                  "appname", "procid", "msgid", "message", "parse_ok",
                  "parser_name", "time_reported"):
            assert row[f] == getattr(m, f), f"{line!r} field {f}"
        got = json.loads(row["properties_json"]) if row["properties_json"] else {}
        assert got == m.properties, line
