"""Seeded fuzz: the Spark expression parser vs the independent oracle.

Generates 20,000 adversarial syslog-ish lines — valid RFC5424 /
RFC3164, malformed PRIs, garbage timestamps (fractions, offsets, Feb 29
in a non-leap year), truncations, junk bytes, odd and Unicode
whitespace, Unicode hostnames, repeated SD-IDs and parameter names,
non-ASCII SD values — parses them through a DataFrame with
``parse_transcripts`` and asserts that it and the independent
reimplementation in tests/oracle.py agree on EVERY field, the decoded
properties and ``time_reported`` included.  Deterministic (seeded):
failures reproduce.
"""

from __future__ import annotations

import json
import random
import string
from datetime import datetime

from tests import oracle
from tests.parse_frames import parse_lines

TS = datetime(2026, 1, 5, 10, 20, 30)  # 2026: Feb 29 does not exist

_PRINTABLE = string.ascii_letters + string.digits + " .:-_[]<>\"'=!@#"
# Python str.isspace() characters beyond ASCII space (the trim set)
_UNI_WS = "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f\x85\xa0\u1680\u2003\u2028\u3000"
# letters, numbers (isalpha / isnumeric), combining marks, connector
# punctuation and symbols: only the first two are hostname characters
_UNI_WORD = (
    "\u00e9\u00df\u0414\u0436\u4e2d\u6587\uff71"      # letters
    "\u0663\u0967\u00b2\u00bd\u216b"                 # numbers
    "\u0301\u0308"                                  # marks
    "\u203f\u2040\uff3f"                            # connectors
    "\u20ac\u2122"                                  # symbols
)
_UNI_VALUE = "\u00e9\u4e2d\U0001f600 \u0436"


def _gen_lines(n: int, seed: int) -> list[str]:
    rng = random.Random(seed)

    def rnd_str(a, b, alphabet=_PRINTABLE):
        return "".join(rng.choice(alphabet) for _ in range(rng.randint(a, b)))

    def pri():
        r = rng.random()
        if r < 0.5:
            return f"<{rng.randint(0, 191)}>"
        if r < 0.6:
            return f"<{rng.randint(192, 9999)}>"   # out of range
        if r < 0.7:
            return "<" + rnd_str(0, 3, string.digits + "x") + ">"
        if r < 0.8:
            return ""                              # missing PRI
        return "<" + rnd_str(0, 2) + ">"

    def ts5424():
        r = rng.random()
        if r < 0.4:
            return (f"2026-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
                    f"T{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}"
                    f":{rng.randint(0, 59):02d}Z")
        if r < 0.55:                               # fraction and offset
            frac = rng.choice(["", "." + rnd_str(1, 9, string.digits)])
            off = rng.choice(["Z", f"{rng.choice('+-')}{rng.randint(0, 25):02d}"
                                   f":{rng.choice([0, 30, 59, 60, 75]):02d}"])
            return (f"20{rng.randint(10, 30)}-{rng.randint(0, 13):02d}"
                    f"-{rng.randint(0, 31):02d}T{rng.randint(0, 24):02d}"
                    f":{rng.randint(0, 60):02d}:{rng.randint(0, 60):02d}"
                    f"{frac}{off}")
        if r < 0.6:
            return "2026-13-40T99:99:99Z"          # invalid
        if r < 0.7:
            return "-"
        return rnd_str(1, 10)

    def ts3164():
        mon = rng.choice(["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul",
                          "Aug", "Sep", "Oct", "Nov", "Dec", "Foo"])
        day = rng.choice([f"{rng.randint(1, 28):2d}", f"{rng.randint(1, 28)}",
                          "29", "30", "31", "0", "00"])
        return (f"{mon} {day} {rng.randint(0, 24):02d}"
                f":{rng.randint(0, 60):02d}:{rng.randint(0, 60):02d}")

    def host():
        return rng.choice([
            "host" + rnd_str(1, 5, string.ascii_lowercase + string.digits),
            "10.0.0." + str(rng.randint(0, 255)),
            "fe80:0:0:0:0:0:0:" + str(rng.randint(1, 9)),
            "-", rnd_str(1, 8),
            rnd_str(1, 6, _UNI_WORD + "ab._-"),
        ])

    def sd_value():
        v = rnd_str(0, 8, _PRINTABLE + _UNI_VALUE)
        v = v.replace("\\", "").replace('"', "").replace("]", "")
        if rng.random() < 0.2:
            v += rng.choice(['\\"', "\\]", "\\\\"])
        return v

    def sd_elem(ids):
        sid = rng.choice(ids)
        params = " ".join(
            f'{rng.choice(["k", "k2", "x", rnd_str(1, 4, string.ascii_lowercase)])}'
            f'="{sd_value()}"'
            for _ in range(rng.randint(0, 3))
        )
        return f"[{sid} {params}]" if params else f"[{sid}]"

    def sd():
        r = rng.random()
        if r < 0.4:
            return "-"
        # a small pool of SD-IDs, so elements repeat; names repeat too
        ids = ["ex@123", "meta", "origin", rnd_str(1, 5, string.ascii_lowercase)]
        return "".join(sd_elem(ids) for _ in range(rng.randint(1, 4)))

    def ws():
        return rnd_str(0, 2, " " + _UNI_WS)

    out = []
    for _ in range(n):
        shape = rng.random()
        if shape < 0.3:
            out.append(
                f"{pri()}1 {ts5424()} {host()} app{rng.randint(0, 99)} "
                f"{rng.randint(1, 9999)} MSG{rng.randint(0, 99)} {sd()} "
                + rnd_str(0, 40)
            )
        elif shape < 0.5:
            out.append(
                f"{pri()}{ts3164()} {host()} "
                f"app{rng.randint(0, 99)}[{rng.randint(1, 999)}]: "
                + rnd_str(0, 40)
            )
        elif shape < 0.6:
            out.append(f"{pri()}{ts3164()} {host()} " + rnd_str(0, 30))
        elif shape < 0.7:
            # Unicode words and whitespace around and inside the line
            words = [rnd_str(0, 6, _UNI_WORD + _PRINTABLE + _UNI_WS)
                     for _ in range(rng.randint(1, 4))]
            out.append(f"{ws()}{pri()}{ws()}{ts3164()} " + " ".join(words)
                       + ws())
        elif shape < 0.75:
            out.append(f"{pri()}{ts5424()} {host()} "
                       + rnd_str(0, 20, _PRINTABLE + _UNI_WORD))
        elif shape < 0.85:
            out.append(rnd_str(0, 60))             # pure junk
        elif shape < 0.95:
            line = (f"{pri()}1 {ts5424()} {host()} a 1 m {sd()} payload")
            out.append(line[: rng.randint(0, len(line))])  # truncation
        else:
            out.append(rng.choice(["", " ", "<>", "<1>", "<189>  ",
                                   "\t<34>1 - - - - - -",
                                   "<34>Feb 29 10:00:00 host app: leap",
                                   "\u3000<34>Jan 5 10:00:00 h a: m\x1c"]))
    return out


def test_fuzz_vectorized_matches_oracle(spark):
    lines = _gen_lines(20_000, seed=20260816)
    rows = parse_lines(spark, lines, TS)
    mismatches = []
    for line, row in zip(lines, rows):
        m = oracle.parse_line(line, TS.year)
        for f in ("priority", "facility", "severity", "version", "hostname",
                  "appname", "procid", "msgid", "message", "parse_ok",
                  "parser_name", "time_reported"):
            if row[f] != getattr(m, f):
                mismatches.append((line, f, row[f], getattr(m, f)))
                break
        else:
            got = json.loads(row["properties_json"]) if row["properties_json"] else {}
            if got != m.properties:
                mismatches.append((line, "properties", got, m.properties))
    assert not mismatches, f"{len(mismatches)} disagreements; first 5: {mismatches[:5]}"
