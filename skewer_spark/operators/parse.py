"""The decode stage: syslog parsing as Spark SQL expressions.

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
  branch).  Digits are ASCII ``[0-9]``, as Go's ``Atoi`` and
  ``time.Parse`` read them; ``tests/oracle.py``'s Python ``\\d`` also
  takes other Unicode decimal digits in the PRI and ``Mmm dd hh:mm:ss``
  fields, so its fuzz keeps those fields ASCII.
* ``time.Now()`` substitutions resolve to the row's ``ts`` column
  (batch determinism): the parser returns NULL ``time_reported`` where
  the reference would stamp wall-clock "now", and the enrich stage
  coalesces to ``ts``.  The RFC3164 ``Mmm dd`` year injection
  (``rfc3164_format.go:107``) uses ``year(ts)`` (1970 for a NULL ``ts``).
* Spark timestamps are µs, the reference stores int64 ns: RFC3339
  fractions beyond 6 digits are truncated.
* Trimming and the SD key class use Python's ``str.isspace`` set
  (``_WS``), hostnames Unicode letters and numbers (``\\p{L}\\p{N}``),
  as the independent oracle does; Java's ``\\s`` and ``(?U)\\w`` differ
  from both.
* ``properties_json`` is Spark's ``to_json`` of the sorted two-level
  map: byte-identical to ``json.dumps(sort_keys=True,
  separators=(",", ":"))`` for printable-ASCII SD text; non-ASCII
  values stay raw UTF-8 (Python writes ``\\uXXXX``) and control
  characters use upper-case hex escapes.  The decoded maps are equal.

The parse is a chain of narrow projections (:func:`_stages`).  Each
stage names the values the next ones reuse, so each regex of the
common path runs at most once per row, gated by the ``when`` of the
branch that needs it; one
nested expression would re-evaluate shared subtrees (CLAUDE.md's
codegen trap).  Every call is ANSI-safe (``try_make_timestamp``,
``try_cast``, ``get``).  The chain compiles to two whole-stage-codegen
stages around the SD-properties projection, and no Python worker runs.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from skewer_spark.schema import PROPERTIES_TYPE

# Python's str.isspace() set (str.strip() with no argument), for btrim
_WS = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680"
    "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a"
    "\u2028\u2029\u202f\u205f\u3000"
)
# the same set as a Java regex class body
_WS_CLASS = (
    r"\t\n\x0B\f\r\x1C-\x20\x85\xA0\u1680\u2000-\u200A"
    r"\u2028\u2029\u202F\u205F\u3000"
)

RE_5424_DETECT = r"^<[0-9]{1,9}>[0-9]{1,9} "
# RFC5424 HEADER up to MSGID and the spaces after it; no match = a
# header the grammar rejects
RE_5424_HEAD = r"^<[0-9]{1,9}>[0-9]{1,9}(?: ++[^ ]++){5} ++"
RE_PRI = r"^<([0-9]{1,9})>"
RE_3339 = (
    r"^[0-9]{4}-[0-9]{2}-[0-9]{2}T[0-9]{2}:[0-9]{2}:[0-9]{2}"
    r"(?:\.[0-9]+)?(?:Z|[+-][0-9]{2}:[0-9]{2})\z"
)
# time.Stamp "Jan _2 15:04:05" as the first three single-space tokens
RE_STAMP = (
    r"^(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)"
    r" [0-9]{1,2} [0-9]{2}:[0-9]{2}:[0-9]{2}(?: |\z)"
)
RE_TAG_CHARS = r"[\[\]:]"
RE_HOSTNAME = r"^[\p{L}\p{N}._:\-]*\z"  # isHostname: letter|number|.|:|-|_
# The maximal run of SD elements at the start of the SD field; the
# element grammar is deterministic, so the possessive quantifiers give
# the same match as backtracking ones, and keep Java's regex from
# recursing once per character of a long value.
RE_SD_BLOCK = r"(?s)^(?:\[(?:[^\]\\]++|\\.)*+\])++"
# findall over the block: SD-ID + raw params text, and over the params
# text: name + raw value.  No DOTALL, as in the oracle: an escaped
# newline ends the element.
RE_SD_ELEM = r"\[([^\]\\ =]++)((?:[^\]\\]++|\\[^\n])*+)\]"
RE_SD_PARAM = (
    rf'([^=\]{_WS_CLASS}]++)="((?:[^"\\]++|\\[^\n])*+)"'
)

_MONTHS = "JanFebMarAprMayJunJulAugSepOctNovDec"
_US = 1_000_000

_COLS = [
    "priority", "facility", "severity", "version", "time_reported",
    "hostname", "appname", "procid", "msgid", "structured", "message",
    "properties_json", "parse_ok", "parser_name",
]


def _c(name: str) -> Column:
    return F.col(f"_p_{name}")


def _dash(field: Column) -> Column:
    """RFC5424 NILVALUE → empty."""
    return F.when(field == "-", "").otherwise(field)


def _timestamp(y, mo, d, hh, mi, ss) -> Column:
    """The instant of digit strings read in the session time zone (UTC,
    ``session._SQL_TUNING``); NULL if they are no valid date-time,
    second 60 (which ``make_timestamp`` rolls over) and year 0
    included."""
    i = [c.try_cast("int") for c in (y, mo, d, hh, mi, ss)]
    return F.when((i[0] > 0) & (i[5] < 60), F.try_make_timestamp(*i))


def _rfc3339(x: Column) -> Column:
    """The instant of a string already matched by ``RE_3339``, as
    Python's ``fromisoformat`` takes it: fraction truncated to µs, any
    offset under 24 h (minutes up to 99)."""
    zulu = x.endswith("Z")
    frac = F.when(
        F.substr(x, F.lit(20), F.lit(1)) == ".",
        F.rpad(F.substr(x, F.lit(21), F.length(x) - F.when(zulu, 21)
                        .otherwise(26)), 6, "0"),
    ).otherwise("0").try_cast("long")
    off_min = F.when(zulu, 0).otherwise(
        F.when(F.substr(x, F.lit(-6), F.lit(1)) == "-", -1).otherwise(1)
        * (F.substr(x, F.lit(-5), F.lit(2)).try_cast("int") * 60
           + F.substr(x, F.lit(-2), F.lit(2)).try_cast("int"))
    )
    local = _timestamp(*(x.substr(a, n) for a, n in (
        (1, 4), (6, 2), (9, 2), (12, 2), (15, 2), (18, 2))))
    return F.when(F.abs(off_min) < 1440, F.timestamp_micros(
        F.unix_micros(local) + frac - off_min * F.lit(60 * _US).cast("long")))


def _stamp(x: Column, year: Column) -> Column:
    """The time.Stamp that starts ``x`` (already matched by
    ``RE_STAMP``), in ``year``."""
    day = F.substring_index(F.substr(x, F.lit(5)), " ", 1)
    hms = F.substr(x, F.length(day) + 6, F.lit(8))
    mon = (F.position(x.substr(1, 3), F.lit(_MONTHS)) + 2) / 3
    return _timestamp(year, mon.cast("int"), day,
                      hms.substr(1, 2), hms.substr(4, 2), hms.substr(7, 2))


def _properties(ids: Column, params: Column) -> Column:
    """SD elements → JSON of ``{sd_id: {name: raw value}}``, keys
    ascending (``sort_keys``); the last of a repeated name wins (the
    listener's map assignment), and an element replaces an earlier one
    with the same SD-ID (ClearDomain, rfc5424_format.go:194-204).
    Higher-order functions: evaluated interpreted, per row."""
    def last_wins(pairs: Column) -> Column:
        # array<struct<k, v>> → sorted map; bound once via a 1-array
        return F.get(F.transform(F.array(pairs), lambda ps: F.map_from_entries(
            F.array_sort(
                F.filter(ps, lambda e, i: ~F.exists(
                    F.slice(ps, i + 2, F.size(ps)), lambda x: x.k == e.k)),
                lambda a, b: F.when(a.k < b.k, -1).when(a.k > b.k, 1)
                .otherwise(0),
            )
        )), 0)

    elems = F.zip_with(ids, params, lambda sid, p: F.struct(
        sid.alias("k"),
        last_wins(F.zip_with(
            F.regexp_extract_all(p, F.lit(RE_SD_PARAM), F.lit(1)),
            F.regexp_extract_all(p, F.lit(RE_SD_PARAM), F.lit(2)),
            lambda k, v: F.struct(k.alias("k"), v.alias("v")),
        )).alias("v"),
    ))
    return F.to_json(last_wins(elems))


def _stages(text_col: str, ts_col: str) -> list[dict[str, Column]]:
    """The parse as a chain of projections; each dict is one stage.

    The stages before ``props`` run in the scan's whole-stage codegen.
    ``props`` holds higher-order functions, so Catalyst compiles that
    projection on its own (expression by expression); it also takes
    the timestamps and the RFC5424 fields, and the stages after it form
    a second codegen stage.  Each codegen stage stays under the JVM's
    8000-byte limit for JIT-compiling a method; the whole parse fused
    into one method exceeded it and ran in the bytecode interpreter.
    ``props`` references ``ids`` more than once, and the stage after it
    ``tstamp``, so CollapseProject merges neither neighbour into it."""
    s, h, r = _c("s"), _c("h"), _c("r")
    t, t0, t1, n = _c("t"), _c("t0"), _c("t1"), _c("n")
    is5424, hdr, rest5 = _c("is5424"), _c("hdr"), _c("rest5")
    ids, blk, tg = _c("ids"), _c("blk"), _c("tg")
    first = F.substr(r, F.lit(1), F.lit(1))
    year = F.coalesce(F.year(F.col(ts_col)), F.lit(1970))
    return [
        {"s": F.btrim(F.coalesce(F.col(text_col), F.lit("")), F.lit(_WS))},
        {"is5424": s.rlike(RE_5424_DETECT)},
        {
            "hdr": F.when(is5424, F.regexp_extract(s, RE_5424_HEAD, 0)),
            "pri": F.when(
                is5424, F.substring_index(F.substr(s, F.lit(2)), ">", 1)
            ).otherwise(F.regexp_extract(s, RE_PRI, 1)),
        },
        {
            # RFC5424: <PRI>VERSION, TIMESTAMP, HOSTNAME, APP-NAME,
            # PROCID, MSGID; the SD and MSG rest
            "h": F.when(hdr != "", F.array_remove(F.split(hdr, " "), "")),
            "rest5": F.when(hdr != "", F.substr(s, F.length(hdr) + 1)),
            # RFC3164: the trimmed text after <PRI>
            "r": F.when(~is5424 & (_c("pri") != ""), F.btrim(
                F.substr(s, F.length(_c("pri")) + 3), F.lit(_WS))),
        },
        {
            # RFC3164: a leading digit selects the RFC3339 branch
            # (:70-90), anything else time.Stamp (:92-114)
            "dig": first.between("0", "9"),
            "stok": F.when((r != "") & ~first.between("0", "9"),
                           r.rlike(RE_STAMP)),
            # RFC5424 SD field: the maximal element run at its start
            "blk": F.when((rest5 != "-") & ~rest5.startswith("- "),
                          F.regexp_extract(rest5, RE_SD_BLOCK, 0)),
        },
        {
            "tsx": F.when(hdr != "", F.get(h, 1)).when(
                _c("dig"), F.substring_index(r, " ", 1)),
            # SD block + optional " +MSG" must be the whole field
            "sdok": (blk != "") & (
                (F.length(blk) == F.length(rest5))
                | (F.substr(rest5, F.length(blk) + 1, F.lit(1)) == " ")),
            "ids": F.when(blk != "", F.regexp_extract_all(
                blk, F.lit(RE_SD_ELEM), F.lit(1))),
            "ps": F.when(blk != "", F.regexp_extract_all(
                blk, F.lit(RE_SD_ELEM), F.lit(2))),
        },
        {"tsok": (_c("tsx") != "-") & _c("tsx").rlike(RE_3339)},
        {
            "props": F.when(_c("sdok") & (F.size(ids) > 0),
                            _properties(ids, _c("ps"))),
            "t3339": F.when(_c("tsok"), _rfc3339(_c("tsx"))),
            "tstamp": F.when(_c("stok"), _stamp(r, year)),
            # RFC5424 fields; '-' → empty (:154-192)
            "version5": F.substring_index(F.get(h, 0), ">", -1)
            .try_cast("int"),
            "host5": _dash(F.get(h, 2)),
            "app5": _dash(F.get(h, 3)),
            "proc5": _dash(F.get(h, 4)),
            "msgid5": _dash(F.get(h, 5)),
            "msg5": F.when(rest5 == "-", "").otherwise(F.ltrim(F.substr(
                rest5, F.when(rest5.startswith("- "), 3)
                .otherwise(F.length(blk) + 1)), F.lit(" "))),
        },
        {
            "time": F.coalesce(_c("t3339"), _c("tstamp")),
            # RFC3164 HOSTNAME/TAG/MSG tokens; NULL = no tail
            "t": F.when(_c("dig") & _c("t3339").isNotNull(), F.when(
                F.instr(r, " ") > 0, F.substr(r, F.instr(r, " ") + 1)
            )).when(_c("tstamp").isNotNull(), F.get(F.split(r, " ", 4), 3)),
            # RFC3164 timestamp failure (:74-81, :93-105): the whole
            # remainder is the message
            "deg": (r != "") & _c("t3339").isNull() & _c("tstamp").isNull(),
            # RFC5424 decode errors: header, timestamp (:136-152), SD
            "err5": is5424 & ((hdr == "") | (
                (_c("tsx") != "-") & _c("t3339").isNull())
                | (blk.isNotNull() & ~_c("sdok"))),
        },
        {
            "ok5": is5424 & ~_c("err5"),
            # token count of the tail: 1, 2 or 3+ (:116-165)
            "n": F.when(F.instr(t, " ") == 0, 1).when(
                F.instr(F.substr(t, F.instr(t, " ") + 1), " ") == 0, 2
            ).otherwise(3),
            "t0": F.substring_index(t, " ", 1),
            "aft": F.substr(t, F.instr(t, " ") + 1),
        },
        {
            "t1": F.substring_index(_c("aft"), " ", 1),
            "brk0": F.when(n >= 2, t0.rlike(RE_TAG_CHARS)),
            "host0": F.when(n == 3, t0.rlike(RE_HOSTNAME)),
            "ip0": (n == 2) & (
                (F.length(t0) - F.length(F.replace(t0, F.lit(":"))) == 7)
                | (F.length(t0) - F.length(F.replace(t0, F.lit("."))) == 3)),
        },
        {
            "brk1": F.when(n == 2, t1.rlike(RE_TAG_CHARS)),
            "c_tag0": ((n == 2) & ~_c("ip0") & _c("brk0"))
            | ((n == 3) & (_c("brk0") | ~_c("host0"))),
        },
        {
            # len(s)==2 (:122-152) and len(s)>=3 (:154-165) branches;
            # quirk: HOSTNAME + tag parsed from s[0] (:142-147)
            "c_quirk": (n == 2) & ~_c("ip0") & ~_c("brk0") & _c("brk1"),
            "c_host": (n == 3) & ~_c("c_tag0"),
        },
        {
            "host3": F.when(_c("ip0") | _c("c_quirk") | _c("c_host"), t0),
            "tag": F.when(_c("c_tag0") | _c("c_quirk"), t0).when(
                (_c("ip0") & _c("brk1")) | _c("c_host"), t1),
            "msg3": F.when(_c("deg"), r).when(n == 1, t).when(
                _c("ip0"), F.when(_c("brk1"), "").otherwise(t1)).when(
                _c("c_tag0"), _c("aft")).when(_c("c_quirk"), "").when(
                n == 2, t1).when(n == 3, F.substr(
                    _c("aft"), F.instr(_c("aft"), " ") + 1)),
            # len(s)==2 APPNAME MSG (:148-151): s[0] verbatim, no parseTag
            "app_raw": F.when((n == 2) & ~_c("ip0") & ~_c("c_tag0")
                              & ~_c("c_quirk"), t0),
            "prio": F.when(~_c("err5") & (_c("pri") != ""),
                           _c("pri").try_cast("int")).otherwise(0),
        },
        # parseTag (rfc3164_format.go:168-185)
        {"tg": F.btrim(_c("tag"), F.lit(":"))},
        {"ti": F.instr(tg, "["), "tj": F.instr(tg, "]")},
        {
            "tuse": (_c("ti") > 0) & (F.length(tg) > _c("ti")),
            "proc3": F.when(_c("tj") > _c("ti"), F.substr(
                tg, _c("ti") + 1, _c("tj") - _c("ti") - 1)).otherwise(
                F.substr(tg, _c("ti") + 1)),
        },
        {
            "priority": _c("prio"),
            "facility": F.shiftright(_c("prio"), 3),
            "severity": _c("prio").bitwiseAND(7),
            "version": F.when(_c("ok5"), _c("version5")).otherwise(0),
            "time_reported": F.when(~_c("err5"), _c("time")),
            "hostname": F.when(_c("ok5"), _c("host5")).otherwise(
                F.coalesce(_c("host3"), F.lit(""))),
            "appname": F.when(_c("ok5"), _c("app5")).otherwise(
                F.coalesce(_c("app_raw"), F.when(_c("tuse"), F.substr(
                    tg, F.lit(1), _c("ti") - 1)).otherwise(tg), F.lit(""))),
            "procid": F.when(_c("ok5"), _c("proc5")).when(
                _c("tuse"), _c("proc3")).otherwise(""),
            "msgid": F.when(_c("ok5"), _c("msgid5")).otherwise(""),
            "structured": F.when(_c("ok5") & _c("sdok"), blk).otherwise(""),
            "message": F.when(_c("ok5"), _c("msg5")).when(is5424, "").when(
                _c("pri") == "", s).otherwise(
                F.coalesce(_c("msg3"), F.lit(""))),
            "properties_json": F.when(_c("ok5"), _c("props")),
            "parse_ok": ~_c("err5"),
            # no ELSE: nullable like every parsed column, so the stored
            # schema (and its parquet definition levels) stays as it was
            "parser_name": F.when(is5424, "rfc5424").when(~is5424, "rfc3164"),
        },
    ]


@functools.lru_cache(maxsize=None)
def _stages_in(gateway, text_col: str, ts_col: str) -> list[dict[str, Column]]:
    """``_stages`` built once per JVM gateway: its ~1,000 expression
    nodes are one py4j round trip each, about 1 s of Python and JVM CPU
    per build, and the unresolved Columns are reusable on any frame."""
    return _stages(text_col, ts_col)


def parse_transcripts(
    df: DataFrame, text_col: str = "text", ts_col: str = "ts"
) -> DataFrame:
    """Scan-stage operator: append the 14 parsed columns.

    Narrow (no shuffle, no Python).  Properties travel as the compact
    JSON string ``properties_json`` — writing a nested map column to
    parquet costs ~2× the rest of the row combined (measured), so the
    map is revived with :func:`with_properties_map` / ``from_json`` only
    where an operator actually needs map semantics.

    Do not filter the result on a parsed column: Catalyst pushes the
    filter down through the whole projection chain with every alias
    inlined, into a condition too big for codegen (over 1 M characters
    of plan for ``parse_ok``) that evaluates the parse a second time.
    Aggregate first, or drop rows with ``inline`` over a ``when``.
    """
    out = df
    for stage in _stages_in(df.sparkSession.sparkContext._gateway,
                            text_col, ts_col):
        out = out.withColumns({
            (k if k in _COLS else f"_p_{k}"): v for k, v in stage.items()
        })
    return out.select(*[F.col(f"`{c}`") for c in df.columns], *_COLS)


def with_properties_map(df: DataFrame) -> DataFrame:
    """Revive properties_json → map<string,map<string,string>>."""
    return df.withColumns(
        {"properties": F.from_json(F.col("properties_json"), PROPERTIES_TYPE)}
    )
