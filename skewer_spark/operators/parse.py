"""The decode stage: vectorized syslog parsing.

Reproduces the reference decoders' semantics (SURVEY.md §2.2):

* RFC3164 with every graceful-degradation branch of
  ``/root/reference/decoders/rfc3164_format.go:28-194`` — including its
  quirks: split on *every* single space (consecutive spaces yield empty
  tokens, so ``"Jan  1"`` day-padding fails time.Stamp and degrades the
  whole line to ``message``), the two-token branch that parses the tag
  out of ``s[0]`` when the bracket is in ``s[1]``
  (``rfc3164_format.go:142-146``), and tag parsing per
  ``parseTag`` (``:168-185``) / ``isHostname`` (``:187-194``).
* RFC5424 per the reference grammar
  (``/root/reference/grammars/rfc5424/RFC5424.g4``) with the listener
  semantics of ``rfc5424_format.go:110-230``: ``-`` fields → empty,
  invalid priority/timestamp → decode error (``parse_ok = false``),
  SD params stored *raw* (escapes kept, as ``value.GetText()`` does)
  into a two-level properties map.
* Lines with no ``<PRI>`` fall into RFC3164's default branch: the whole
  trimmed line becomes ``message`` and every other field is zero/empty
  (``rfc3164_format.go:31-47``).

Spec deviations (deliberate, documented):

* PRI / version must be 1-9 digits.  Go's ``strconv.Atoi`` would accept
  ``9999999999`` on 64-bit and wrap when narrowed to the int32 proto
  field; we treat >9 digits as malformed (FIXTURES.md "malformed PRI"
  branch).
* ``time.Now()`` substitutions resolve to the row's ``ts`` column
  (batch determinism): the parser returns NULL ``time_reported`` where
  the reference would stamp wall-clock "now", and the enrich stage
  coalesces to ``ts``.  The RFC3164 ``Mmm dd`` year injection
  (``rfc3164_format.go:107``) uses ``year(ts)``.
* Spark timestamps are µs, the reference stores int64 ns — all fixtures
  are second-granularity so equality holds.

Everything is pandas-vectorized (``.str`` ops / extract / extractall)
inside one Arrow-batched pandas UDF; the only Python-level loop is the
assembly of structured-data dicts, grouped per SD-bearing row.
"""

from __future__ import annotations

import json
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from skewer_spark.schema import PARSED_STRUCT, PROPERTIES_TYPE


# --------------------------------------------------------------------------
# RE2 fast-path twins of the hot pandas .str ops (r6, guide §4.2).
#
# pandas .str.extract/match/count loop per element in Python; pyarrow's
# RE2 kernels run the same ASCII-structural patterns 2-6× faster at the
# C++ level.  ONLY patterns whose semantics are identical under RE2 are
# converted (digit/space/bracket structure — no \w, no backreferences);
# RE_HOSTNAME keeps Python re because its \w must stay UNICODE word
# chars (Go unicode.IsLetter parity), and .str.strip() keeps Python
# whitespace semantics (isspace covers \x1c-\x1f, Unicode WSpace does
# not).  Known deviation, audited at every converted call site: RE2
# returns '' (not NaN) for a non-participating OPTIONAL group — at each
# such site the '' row flows into an assignment of message='' that
# equals the column default, so outputs are unchanged (pinned by the
# 50k-line differential fuzz in tests/test_parse_fuzz.py).
# --------------------------------------------------------------------------


def _pa_arr(s: pd.Series) -> pa.Array:
    return pa.array(s, type=pa.large_utf8(), from_pandas=True)


def _pc_extract(s: pd.Series, pattern: str) -> pd.DataFrame:
    """``Series.str.extract`` twin: integer-labeled columns, NaN rows
    where the whole pattern failed to match."""
    if len(s) == 0:
        n_groups = pattern.count("(?P<")
        return pd.DataFrame(
            {i: pd.Series(dtype=object) for i in range(n_groups)},
            index=s.index,
        )
    r = pc.extract_regex(_pa_arr(s), pattern)
    invalid = ~np.asarray(r.is_valid())
    cols = {}
    for i in range(r.type.num_fields):
        v = r.field(i).to_pandas().astype(object)
        if invalid.any():
            v[invalid] = np.nan
        v.index = s.index
        cols[i] = v
    return pd.DataFrame(cols, index=s.index)


def _pc_match(s: pd.Series, pattern: str) -> pd.Series:
    """``Series.str.match`` twin (anchored via a leading ``^`` in the
    pattern itself); nulls match False."""
    m = pc.match_substring_regex(_pa_arr(s), pattern)
    return pd.Series(
        np.asarray(m.fill_null(False)), index=s.index, dtype=bool
    )


def _pc_contains_re(s: pd.Series, pattern: str) -> pd.Series:
    m = pc.match_substring_regex(_pa_arr(s), pattern)
    return pd.Series(
        np.asarray(m.fill_null(False)), index=s.index, dtype=bool
    )


def _pc_contains_lit(s: pd.Series, lit: str) -> pd.Series:
    m = pc.match_substring(_pa_arr(s), lit)
    return pd.Series(
        np.asarray(m.fill_null(False)), index=s.index, dtype=bool
    )


def _pc_count_lit(s: pd.Series, lit: str) -> pd.Series:
    c = pc.count_substring(_pa_arr(s), lit)
    return pd.Series(
        np.asarray(c.fill_null(0)), index=s.index, dtype="int64"
    )

# --------------------------------------------------------------------------
# regexes
# --------------------------------------------------------------------------

RE_SD_ELEM = re.compile(r"\[([^\]\\ =]+)((?:\\.|[^\]\\])*)\]")
RE_SD_PARAM = re.compile(r'([^=\s\]]+)="((?:\\.|[^"\\])*)"')
RE_HOSTNAME = re.compile(r"^[\w.:\-]*$")  # isHostname: letter|digit|.|:|-|_

# RE2 patterns for the pyarrow kernels (named groups g0.., inline
# (?s)); see the fast-path note at the helpers above
RE2_5424_DETECT = r"^<\d{1,9}>\d{1,9} "
RE2_5424_HEAD = (
    r"(?s)^<(?P<g0>\d{1,9})>(?P<g1>\d{1,9}) +(?P<g2>[^ ]+) +(?P<g3>[^ ]+)"
    r" +(?P<g4>[^ ]+) +(?P<g5>[^ ]+) +(?P<g6>[^ ]+) +(?P<g7>.*)$"
)
RE2_3339 = (
    r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?(Z|[+-]\d{2}:\d{2})$"
)
RE2_SD_BLOCK = (
    r"(?s)^(?P<g0>(?:\[(?:\\.|[^\]\\])*\])+)(?: +(?P<g1>.*))?$"
)
RE2_PRI = r"(?s)^<(?P<g0>\d{1,9})>(?P<g1>.*)$"
RE2_STAMP_TIME = r"^\d{2}:\d{2}:\d{2}$"

MONTHS = {
    "Jan": 1, "Feb": 2, "Mar": 3, "Apr": 4, "May": 5, "Jun": 6,
    "Jul": 7, "Aug": 8, "Sep": 9, "Oct": 10, "Nov": 11, "Dec": 12,
}

_COLS = [
    "priority", "facility", "severity", "version", "time_reported",
    "hostname", "appname", "procid", "msgid", "structured", "message",
    "properties_json", "parse_ok", "parser_name",
]


def _empty_result(index) -> pd.DataFrame:
    """Defaults = model.Factory() zero message."""
    return pd.DataFrame(
        {
            "priority": pd.Series(0, index=index, dtype="int64"),
            "facility": pd.Series(0, index=index, dtype="int64"),
            "severity": pd.Series(0, index=index, dtype="int64"),
            "version": pd.Series(0, index=index, dtype="int64"),
            "time_reported": pd.Series(pd.NaT, index=index, dtype="datetime64[ns]"),
            "hostname": pd.Series("", index=index, dtype="object"),
            "appname": pd.Series("", index=index, dtype="object"),
            "procid": pd.Series("", index=index, dtype="object"),
            "msgid": pd.Series("", index=index, dtype="object"),
            "structured": pd.Series("", index=index, dtype="object"),
            "message": pd.Series("", index=index, dtype="object"),
            "properties_json": pd.Series(None, index=index, dtype="object"),
            "parse_ok": pd.Series(True, index=index, dtype="bool"),
            "parser_name": pd.Series("rfc3164", index=index, dtype="object"),
        },
        index=index,
    )


# --------------------------------------------------------------------------
# parseTag (rfc3164_format.go:168-185), vectorized
# --------------------------------------------------------------------------

def _parse_tag(tag: pd.Series) -> tuple[pd.Series, pd.Series]:
    t = pd.Series(
        np.asarray(
            pc.utf8_trim(_pa_arr(tag.fillna("")), characters=":")
        ),
        index=tag.index, dtype=object,
    )
    e = _pc_extract(t, r"(?s)^(?P<g0>[^\[]*)\[(?P<g1>.*)$")
    app_part, after = e[0], e[1]
    # Go: use the bracket split only when '[' exists AND something follows it
    use = after.notna() & (after.str.len() > 0)
    # procid = tag[i+1:j] when the first ']' of the WHOLE tag is after '[',
    # else tag[i+1:].  ']' inside app_part means j < i.
    app_has_rb = _pc_contains_lit(app_part.fillna(""), "]")
    proc_to_rb = _pc_extract(after, r"^(?P<g0>[^\]]*)")[0]
    proc = after.where(app_has_rb, proc_to_rb)
    appname = app_part.where(use, t)
    procid = proc.where(use, "")
    return appname.fillna(""), procid.fillna("")


def _is_hostname(s: pd.Series) -> pd.Series:
    return s.fillna("").str.match(RE_HOSTNAME)


# --------------------------------------------------------------------------
# RFC3164 (rfc3164_format.go:28-166), vectorized over a sub-frame
# --------------------------------------------------------------------------

def _parse_3164(s: pd.Series, ts_year: pd.Series, out: pd.DataFrame) -> None:
    """Mutates ``out.loc[s.index]`` in place.  ``s`` is pre-trimmed."""
    idx = s.index
    out.loc[idx, "parser_name"] = "rfc3164"

    ext = _pc_extract(s, RE2_PRI)
    haspri = ext[0].notna()
    # default branch (:40-54): no '<', '>' missing/too-early, or bad PRI →
    # whole line is message, timestamps = now (NULL → coalesce(ts)).
    didx = idx[~haspri]
    out.loc[didx, "message"] = s[~haspri]

    if not haspri.any():
        return
    pidx = idx[haspri]
    pri = ext.loc[pidx, 0].astype("int64")
    out.loc[pidx, "priority"] = pri
    out.loc[pidx, "facility"] = pri // 8
    out.loc[pidx, "severity"] = pri % 8

    rest = ext.loc[pidx, 1].str.strip()
    # nothing after '>' (:59-67): fields from PRI only, no message.
    live = rest.str.len() > 0
    rest = rest[live]
    if rest.empty:
        return
    ridx = rest.index

    # ---- timestamp ----
    is3339 = _pc_match(rest, r"^[0-9]")
    tail = pd.Series(None, index=ridx, dtype="object")

    # RFC3339 branch (:70-90)
    r1 = rest[is3339]
    if not r1.empty:
        e1 = _pc_extract(r1, r"(?s)^(?P<g0>[^ ]*)(?: (?P<g1>.*))?$")
        f0, rem = e1[0], e1[1]
        okfmt = _pc_match(f0, RE2_3339)
        parsed = pd.to_datetime(
            f0.where(okfmt), utc=True, errors="coerce", format="ISO8601"
        )
        ok = parsed.notna()
        out.loc[r1.index[ok], "time_reported"] = (
            parsed[ok].dt.tz_localize(None)
        )
        # failure (:74-81): message = whole remainder, time = now
        out.loc[r1.index[~ok], "message"] = r1[~ok]
        tail.loc[r1.index[ok]] = rem[ok]

    # old unix-timestamp branch (:92-114)
    r2 = rest[~is3339]
    if not r2.empty:
        n_sp = _pc_count_lit(r2, " ")
        short = n_sp < 2  # len(s) < 3 → degrade (:93-98)
        out.loc[r2.index[short], "message"] = r2[short]
        r2b = r2[~short]
        if not r2b.empty:
            e2 = _pc_extract(
                r2b,
                r"(?s)^(?P<g0>[^ ]*) (?P<g1>[^ ]*) (?P<g2>[^ ]*)"
                r"(?: (?P<g3>.*))?$",
            )
            mon = e2[0].map(MONTHS)
            dayok = _pc_match(e2[1], r"^\d{1,2}$")
            timok = _pc_match(e2[2], RE2_STAMP_TIME)
            cand = mon.notna() & dayok & timok
            stamp = (
                ts_year.loc[r2b.index].astype("int64").astype(str).str.zfill(4)
                + "-"
                + mon.fillna(1).astype("int64").astype(str).str.zfill(2)
                + "-"
                + e2[1].where(dayok, "01").str.zfill(2)
                + " "
                + e2[2].where(timok, "00:00:00")
            )
            parsed = pd.to_datetime(
                stamp.where(cand), format="%Y-%m-%d %H:%M:%S", errors="coerce"
            )
            ok = parsed.notna()
            out.loc[r2b.index[ok], "time_reported"] = parsed[ok]
            out.loc[r2b.index[~ok], "message"] = r2b[~ok]  # degrade (:101-105)
            tail.loc[r2b.index[ok]] = e2.loc[ok, 3]

    # ---- tail: HOSTNAME / TAG / MSG (:116-165) ----
    t = tail[tail.notna()]
    if t.empty:
        return
    tidx = t.index
    n_sp = _pc_count_lit(t, " ")

    # len(s) == 1 (:116-120)
    one = n_sp == 0
    out.loc[tidx[one], "message"] = t[one]

    # len(s) == 2 (:122-152)
    two = n_sp == 1
    t2 = t[two]
    if not t2.empty:
        e = _pc_extract(t2, r"(?s)^(?P<g0>[^ ]*) (?P<g1>.*)$")
        t0, t1 = e[0], e[1]
        ipish = (_pc_count_lit(t0, ":") == 7) | (_pc_count_lit(t0, ".") == 3)
        t0brk = _pc_contains_re(t0, r"[\[\]:]")
        t1brk = _pc_contains_re(t1, r"[\[\]:]")

        c1 = ipish  # looks like IPv6/IPv4 (:124-135)
        i1 = t2.index[c1]
        out.loc[i1, "hostname"] = t0[c1]
        a, p = _parse_tag(t1[c1 & t1brk])
        out.loc[a.index, "appname"] = a
        out.loc[p.index, "procid"] = p
        out.loc[t2.index[c1 & ~t1brk], "message"] = t1[c1 & ~t1brk]

        c2 = ~c1 & t0brk  # TAG MSG (:136-141)
        a, p = _parse_tag(t0[c2])
        out.loc[a.index, "appname"] = a
        out.loc[p.index, "procid"] = p
        out.loc[t2.index[c2], "message"] = t1[c2]

        c3 = ~c1 & ~c2 & t1brk  # HOSTNAME + tag-from-s[0] (:142-147,
        # reference parses the tag out of s[0] here — quirk preserved)
        i3 = t2.index[c3]
        out.loc[i3, "hostname"] = t0[c3]
        a, p = _parse_tag(t0[c3])
        out.loc[a.index, "appname"] = a
        out.loc[p.index, "procid"] = p

        c4 = ~c1 & ~c2 & ~c3  # APPNAME MSG (:148-151)
        out.loc[t2.index[c4], "appname"] = t0[c4]
        out.loc[t2.index[c4], "message"] = t1[c4]

    # len(s) >= 3 (:154-165)
    many = n_sp >= 2
    t3 = t[many]
    if not t3.empty:
        e = _pc_extract(t3, r"(?s)^(?P<g0>[^ ]*) (?P<g1>[^ ]*) (?P<g2>.*)$")
        t0, t1, rest2 = e[0], e[1], e[2]
        noheur = _pc_contains_re(t0, r"[\[\]:]") | ~_is_hostname(t0)
        # hostname omitted (:154-159)
        i1 = t3.index[noheur]
        a, p = _parse_tag(t0[noheur])
        out.loc[i1, "appname"] = a
        out.loc[i1, "procid"] = p
        out.loc[i1, "message"] = (t1[noheur] + " " + rest2[noheur])
        # HOSTNAME TAG MSG (:161-164)
        i2 = t3.index[~noheur]
        out.loc[i2, "hostname"] = t0[~noheur]
        a, p = _parse_tag(t1[~noheur])
        out.loc[i2, "appname"] = a
        out.loc[i2, "procid"] = p
        out.loc[i2, "message"] = rest2[~noheur]


# --------------------------------------------------------------------------
# RFC5424 (grammar RFC5424.g4 + listener rfc5424_format.go:110-230)
# --------------------------------------------------------------------------

def _parse_5424(s: pd.Series, out: pd.DataFrame) -> None:
    idx = s.index
    out.loc[idx, "parser_name"] = "rfc5424"

    e = _pc_extract(s, RE2_5424_HEAD)
    ok = e[0].notna()
    # header mismatch → decode error (errorListener path)
    out.loc[idx[~ok], "parse_ok"] = False
    if not ok.any():
        return
    h = e[ok]
    hidx = h.index

    pri = h[0].astype("int64")
    out.loc[hidx, "priority"] = pri
    out.loc[hidx, "facility"] = pri // 8
    out.loc[hidx, "severity"] = pri % 8
    out.loc[hidx, "version"] = h[1].astype("int64")

    # timestamp: '-' → now (NULL, coalesced to ts); invalid → error (:136-152)
    tsx = h[2]
    isnil = tsx == "-"
    okfmt = _pc_match(tsx, RE2_3339) & ~isnil
    parsed = pd.to_datetime(
        tsx.where(okfmt), utc=True, errors="coerce", format="ISO8601"
    )
    badts = ~isnil & parsed.isna()
    out.loc[hidx[badts], "parse_ok"] = False
    tok = parsed.notna()
    out.loc[hidx[tok], "time_reported"] = parsed[tok].dt.tz_localize(None)

    good = ~badts
    # '-' → empty (:154-192)
    for gi, col in ((3, "hostname"), (4, "appname"), (5, "procid"), (6, "msgid")):
        v = h[gi].where(h[gi] != "-", "")
        out.loc[hidx[good], col] = v[good]

    # structured + msg
    rest = h[7][good]
    if rest.empty:
        return
    nil_sd = _pc_match(rest, r"^-( |$)")
    # '- msg' → message after the spaces
    m1 = _pc_extract(rest[nil_sd], r"(?s)^- +(?P<g0>.*)$")[0]
    has_m1 = m1.notna()
    out.loc[m1.index[has_m1], "message"] = m1[has_m1]

    sd = rest[~nil_sd]
    if sd.empty:
        return
    blk = _pc_extract(sd, RE2_SD_BLOCK)
    sd_ok = blk[0].notna()
    out.loc[sd.index[~sd_ok], "parse_ok"] = False  # malformed SD → error
    if not sd_ok.any():
        return
    # keep the raw SD block so sink encoders re-emit it without a map
    # round-trip (the reference's Structured field stays "", but the
    # canonical re-encode equals the raw block for valid input)
    out.loc[sd.index[sd_ok], "structured"] = blk[0][sd_ok]
    msg = blk[1][sd_ok]
    has_msg = msg.notna()
    out.loc[msg.index[has_msg], "message"] = msg[has_msg]

    # SD params: values stored raw (escapes kept), per listener
    # value.GetText() at rfc5424_format.go:206-223.
    elems = blk[0][sd_ok].str.extractall(RE_SD_ELEM)
    if elems.empty:
        return
    props: dict = {}
    for (row, _m), sid, ptxt in zip(
        elems.index, elems[0].to_numpy(), elems[1].to_numpy()
    ):
        d = props.setdefault(row, {})
        d[sid] = {}  # ClearDomain per element (:194-204)
        for k, v in RE_SD_PARAM.findall(ptxt):
            d[sid][k] = v
    pidx = list(props.keys())
    out.loc[pidx, "properties_json"] = [
        json.dumps(props[i], separators=(",", ":"), sort_keys=True) for i in pidx
    ]


# --------------------------------------------------------------------------
# the UDF + operator
# --------------------------------------------------------------------------

def parse_batch(text: pd.Series, ts: pd.Series) -> pd.DataFrame:
    """Vectorized core: one batch of raw lines → parsed frame."""
    s = text.fillna("").str.strip()
    out = _empty_result(s.index)
    is5424 = _pc_match(s, RE2_5424_DETECT)
    ts_year = pd.to_datetime(ts).dt.year.fillna(1970)
    if is5424.any():
        _parse_5424(s[is5424], out)
    if (~is5424).any():
        _parse_3164(s[~is5424], ts_year, out)
    # decode error → nil message (all fields default), matching the
    # reference's parse-error path (decoders/decode.go: message dropped).
    bad = ~out["parse_ok"]
    if bad.any():
        bidx = out.index[bad]
        out.loc[bidx, ["priority", "facility", "severity", "version"]] = 0
        out.loc[bidx, "time_reported"] = pd.NaT
        for c in ("hostname", "appname", "procid", "msgid", "structured", "message"):
            out.loc[bidx, c] = ""
        out.loc[bidx, "properties_json"] = None
    out["priority"] = out["priority"].astype("int32")
    out["facility"] = out["facility"].astype("int32")
    out["severity"] = out["severity"].astype("int32")
    out["version"] = out["version"].astype("int32")
    return out[_COLS]


@pandas_udf(PARSED_STRUCT)
def parse_syslog_udf(text: pd.Series, ts: pd.Series) -> pd.DataFrame:
    return parse_batch(text, ts)


# The udf is PURE; ``_parse_syslog_nd`` is the same function marked
# non-deterministic — the single-eval guard for plans that FILTER on a
# parsed field (parse_ok, severity, …): such a filter otherwise gets
# pushed below the flatten projection and the optimizer duplicates the
# WHOLE parse — two ArrowEvalPython nodes, every row parsed twice
# (guide §4.4; observed in q_parse_errors / q_parse_rfc5424, r6: 2
# nodes → 1, ~390k → 200k UDF rows at sf0.1).  It is OPT-IN
# (``parse_transcripts(single_eval=True)``) because the
# non-deterministic marker also blocks every OTHER reordering through
# the projection — measured ~2 s (~30%) on the 1M-row headline
# pipeline, which has no parsed-field filter and wants the default
# optimizer freedom.  Callers opting in must place PRE-parse filters
# below parse themselves (the entry queries do).
_parse_syslog_nd = parse_syslog_udf.asNondeterministic()


def parse_transcripts(
    df: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    single_eval: bool = False,
) -> DataFrame:
    """Scan-stage operator: attach the parsed struct, flattened.

    Narrow (no shuffle): one whole-stage-codegen span feeding an
    Arrow-batched UDF.  Properties travel as the compact JSON string
    ``properties_json`` — writing a nested map column to parquet costs
    ~2× the rest of the row combined (measured), so the map is revived
    with :func:`with_properties_map` / ``from_json`` only where an
    operator actually needs map semantics.  ``single_eval`` applies the
    non-deterministic duplicate-eval guard (see ``_parse_syslog_nd``);
    set it when the consumer filters on a PARSED field.
    """
    udf = _parse_syslog_nd if single_eval else parse_syslog_udf
    parsed = df.withColumn("_p", udf(F.col(text_col), F.col(ts_col)))
    flat = parsed.select(
        "*",
        *[F.col(f"_p.{f.name}").alias(f.name) for f in PARSED_STRUCT.fields],
    ).drop("_p")
    return flat


def with_properties_map(df: DataFrame) -> DataFrame:
    """Revive properties_json → map<string,map<string,string>>."""
    return df.withColumn(
        "properties", F.from_json(F.col("properties_json"), PROPERTIES_TYPE)
    )
