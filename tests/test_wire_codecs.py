"""Avro + protobuf wire-format encoders (sinks/wire.py).

The decoders in THIS file are written independently from the pipeline
code, straight from the public Avro 1.x / proto3 wire specs, so a bug in
``skewer_spark/sinks/wire.py`` cannot self-verify (same policy as
tests/oracle.py).  They are strict: they accept only the one encoding
the encoders promise (minimal varints, one key-sorted avro map block,
ascending protobuf fields with zero/empty scalars omitted and the
properties message always present).  So a reader check that decodes the
expected values AND consumes every byte pins the bytes exactly.  Golden
byte vectors were additionally hand-checked against the specs.
"""

from __future__ import annotations

import datetime
import json

import pytest
from pyspark.sql import functions as F

from skewer_spark.sinks.encoders import ENCODERS, MIMETYPES

SF = "/root/testdata/sf0.001"

# ---------------------------------------------------------------------------
# independent spec-based readers (no imports from the encoder under test)
# ---------------------------------------------------------------------------


def read_uvarint(b: bytes, i: int) -> tuple[int, int]:
    start, shift = i, 0
    out = 0
    while True:
        x = b[i]
        i += 1
        out |= (x & 0x7F) << shift
        if x < 0x80:
            assert x or i - start == 1, "non-minimal varint"
            assert out < 1 << 64, "varint overflow"
            return out, i
        shift += 7


def read_avro_long(b: bytes, i: int) -> tuple[int, int]:
    u, i = read_uvarint(b, i)
    return (u >> 1) ^ -(u & 1), i


def read_avro_str(b: bytes, i: int) -> tuple[str, int]:
    n, i = read_avro_long(b, i)
    assert n >= 0 and i + n <= len(b)
    return b[i : i + n].decode("utf-8"), i + n


def read_avro_map(b: bytes, i: int, read_value) -> tuple[dict, int]:
    """One positive-count block, keys in ascending UTF-8 byte order,
    then the 0 terminator; an empty map is the terminator alone."""
    out: dict = {}
    n, i = read_avro_long(b, i)
    assert n >= 0, "negative (byte-size prefixed) block"
    prev = None
    for _ in range(n):
        k, i = read_avro_str(b, i)
        kb = k.encode("utf-8")
        assert prev is None or prev < kb, "map keys not ascending"
        prev = kb
        out[k], i = read_value(b, i)
    if n:
        end, i = read_avro_long(b, i)
        assert end == 0, "more than one map block"
    return out, i


def read_avro_syslog(b: bytes, i: int = 0) -> tuple[dict, int]:
    rec = {}
    for f in ("Facility", "Severity", "TimeReported", "TimeGenerated",
              "Hostname", "Appname", "Procid", "Msgid", "Message"):
        rec[f], i = read_avro_str(b, i)
    rec["Properties"], i = read_avro_map(
        b, i, lambda bb, j: read_avro_map(bb, j, read_avro_str)
    )
    return rec, i


def read_avro_full(b: bytes) -> dict:
    rec = {}
    i = 0
    for f in ("ClientAddr", "SourceType", "SourcePath"):
        rec[f], i = read_avro_str(b, i)
    rec["SourcePort"], i = read_avro_long(b, i)
    rec["Uid"], i = read_avro_str(b, i)
    rec["Fields"], i = read_avro_syslog(b, i)
    assert i == len(b)
    return rec


def _pb_fields(b: bytes) -> list[tuple[int, int, int | bytes]]:
    """(field, wire, value) triples of one message; varint or
    length-delimited only, the whole buffer consumed."""
    out = []
    i = 0
    while i < len(b):
        tag, i = read_uvarint(b, i)
        field, wire = tag >> 3, tag & 7
        if wire == 0:
            val, i = read_uvarint(b, i)
        elif wire == 2:
            n, i = read_uvarint(b, i)
            assert i + n <= len(b), "length overruns the message"
            val, i = b[i : i + n], i + n
        else:
            raise AssertionError(f"unexpected wire type {wire}")
        out.append((field, wire, val))
    return out


def _pb_kv(b: bytes, read_value) -> tuple[str, object]:
    """Map entry: exactly key (field 1) then value (field 2), both
    written even when empty."""
    (f1, w1, k), (f2, w2, v) = _pb_fields(b)
    assert (f1, w1, f2, w2) == (1, 2, 2, 2), "malformed map entry"
    return k.decode("utf-8"), read_value(v)


def _pb_sorted_map(b: bytes, read_value) -> dict:
    """Repeated field-1 map entries with ascending UTF-8 keys."""
    out: dict = {}
    prev = None
    for field, wire, entry in _pb_fields(b):
        assert (field, wire) == (1, 2), "unexpected map field"
        k, v = _pb_kv(entry, read_value)
        kb = k.encode("utf-8")
        assert prev is None or prev < kb, "map keys not ascending"
        prev = kb
        out[k] = v
    return out


def read_pb_syslog(b: bytes) -> dict:
    """SyslogMessage: ascending field numbers; fields 1-6 varints and
    7-12 strings, present only when nonzero/nonempty; field 13 (the
    properties message) always present."""
    rec: dict = {}
    prev = 0
    for field, wire, val in _pb_fields(b):
        assert field > prev, "fields not in ascending order"
        prev = field
        if field <= 6:
            assert wire == 0 and val != 0, f"field {field}"
            rec[field] = val
        elif field <= 12:
            assert wire == 2 and val, f"field {field}"
            rec[field] = val.decode("utf-8")
        else:
            assert (field, wire) == (13, 2), f"field {field}"
            rec["properties"] = _pb_sorted_map(
                val, lambda inner: _pb_sorted_map(
                    inner, lambda s: s.decode("utf-8")
                )
            )
    assert "properties" in rec, "properties message missing"
    return rec


def read_avro(b: bytes) -> dict:
    rec, used = read_avro_syslog(b)
    assert used == len(b), "trailing bytes"
    return rec


# ---------------------------------------------------------------------------
# expected records, derived from a frame's source columns
# ---------------------------------------------------------------------------

_EPOCH = datetime.datetime(1970, 1, 1)


def _rfc3339nano_expected(dt) -> str:
    """Independent re-derivation of Go time.RFC3339Nano (UTC, trailing
    zeros trimmed from the fraction; epoch for NULL)."""
    if dt is None:
        return "1970-01-01T00:00:00Z"
    frac = f"{dt.microsecond:06d}".rstrip("0")
    base = dt.strftime("%Y-%m-%dT%H:%M:%S")
    return base + ("." + frac if frac else "") + "Z"


def _utc(us):
    return None if us is None else _EPOCH + datetime.timedelta(microseconds=us)


_SYSLOG_STR = (
    ("Facility", "facility_name"), ("Severity", "severity_name"),
    ("Hostname", "hostname"), ("Appname", "appname"), ("Procid", "procid"),
    ("Msgid", "msgid"), ("Message", "message"),
)
_PB_INT = ((1, "priority"), (2, "facility"), (3, "severity"), (4, "version"))
_PB_STR = ((7, "hostname"), (8, "appname"), (9, "procid"), (10, "msgid"),
           (11, "structured"), (12, "message"))


def _source_rows(df, encoded):
    """Collect the encoder's output next to the columns it reads: times
    as UTC epoch micros, properties through Spark's own from_json (a
    null inner map or value reads back as empty)."""
    props = F.to_json(
        F.from_json("properties_json", "map<string,map<string,string>>")
    )
    return df.select(
        "*",
        F.unix_micros(F.col("time_reported").cast("timestamp")).alias("_tr"),
        F.unix_micros(F.col("time_generated").cast("timestamp")).alias("_tg"),
        props.alias("_props"),
        encoded.alias("_enc"),
    ).collect()


def _expect_props(r) -> dict:
    if r._props is None:
        return {}
    return {
        k: {k2: v2 or "" for k2, v2 in (inner or {}).items()}
        for k, inner in json.loads(r._props).items()
    }


def _expect_avro(r) -> dict:
    rec = {f: r[c] or "" for f, c in _SYSLOG_STR}
    rec["TimeReported"] = _rfc3339nano_expected(_utc(r._tr))
    rec["TimeGenerated"] = _rfc3339nano_expected(_utc(r._tg))
    rec["Properties"] = _expect_props(r)
    return rec


def _expect_fullavro(r) -> dict:
    return {
        "ClientAddr": r.client_addr or "", "SourceType": r.source_type or "",
        "SourcePath": r.source_path or "", "SourcePort": r.source_port or 0,
        "Uid": r.uid or "", "Fields": _expect_avro(r),
    }


def _expect_pb(r) -> dict:
    rec: dict = {f: r[c] for f, c in _PB_INT if r[c]}
    for f, us in ((5, r._tr), (6, r._tg)):
        if us:  # int64 UnixNano, two's complement on the wire
            rec[f] = (us * 1000) % (1 << 64)
    rec.update({f: r[c] for f, c in _PB_STR if r[c]})
    rec["properties"] = _expect_props(r)
    return rec


def _check_frame(df, name: str, key: str = "turn_idx") -> None:
    read, expect = {
        "avro": (read_avro, _expect_avro),
        "fullavro": (read_avro_full, _expect_fullavro),
        "protobuf": (read_pb_syslog, _expect_pb),
    }[name]
    rows = _source_rows(df, ENCODERS[name]())
    assert rows, "empty frame"
    for r in rows:
        assert read(bytes(r._enc)) == expect(r), (r[key], bytes(r._enc).hex())


# ---------------------------------------------------------------------------
# fixtures
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def frame(spark):
    df = spark.createDataFrame(
        [
            (
                1, "kern", "err", "host1", "app1", "7", "MSG1",
                "hello world", '{"meta":{"k":"v"},"aa":{"x":"y","b":"c"}}',
                3, 0, 3, 1, '[meta k="v"]',
                "10.0.0.1:5000", "tcp", "", 1514, "UIDX",
                "2024-01-01 01:45:40", "2024-01-01 01:45:40.167754",
            ),
            (
                2, "user", "emerg", "", "", "", "U2", "", None,
                0, 0, 0, 0, "",
                "", "", "", 0, "U2",
                "2024-02-29 23:59:59", "2024-03-01 00:00:00.5",
            ),
        ],
        "event_id int, facility_name string, severity_name string,"
        " hostname string, appname string, procid string, msgid string,"
        " message string, properties_json string, priority int,"
        " facility int, severity int, version int, structured string,"
        " client_addr string, source_type string, source_path string,"
        " source_port int, uid string, tr string, tg string",
    )
    return df.withColumn("time_reported", F.to_timestamp("tr")).withColumn(
        "time_generated", F.to_timestamp("tg")
    )


def _rows(frame, col):
    return {
        r.event_id: r.enc
        for r in frame.select("event_id", col.alias("enc")).collect()
    }


@pytest.fixture(scope="module")
def routed(spark):
    """The sf0.001 routed fixture: every producer shape and every
    degradation branch of parse/enrich."""
    import __spark_entry__ as entry

    return entry._routed_events(spark, SF)


@pytest.fixture(scope="module")
def enveloped(routed):
    return (
        routed.withColumn(
            "client_addr",
            F.format_string(
                "10.0.0.%d:%d",
                F.pmod(F.col("conv_id").cast("long"), F.lit(200)),
                F.lit(40000) + F.pmod(F.col("turn_idx"), F.lit(1000)),
            ),
        )
        .withColumn("source_type", F.lit("tcp"))
        .withColumn("source_path", F.lit(""))
        .withColumn("source_port", F.lit(1514))
    )


@pytest.fixture(scope="module")
def adversarial(spark):
    """Nulls everywhere, unicode, empty strings, sub-second, pre-epoch
    and year-2262 timestamps, nested/empty/null/invalid properties."""
    rows = [
        # (turn_idx, pri, fac, sev, ver, t_rep, t_gen, host, app, procid,
        #  msgid, structured, message, properties_json)
        (1, 0, 0, 0, 0, None, None, "", "", "", "", "", "", None),
        (2, 191, 23, 7, 1, "2024-01-10 01:02:03", "2024-01-10 01:02:03.5",
         "höst✓", "äpp", "p1", "MSG01", '[meta k="v"]', "msg é" * 10,
         '{"meta":{"k":"v"},"z":{"b":"2","a":"1"}}'),
        (3, 5, None, None, None, "1969-12-31 23:59:59.999999", None,
         None, "a", None, "m", None, "x", '{"empty":{}}'),
        (4, 2**31 - 1, 1, 1, 1, "2024-06-05 12:13:14.000001",
         "2262-04-11 23:47:16", "h", "", "p", "", "", "",
         '{"outer":null}'),
        (5, 1, 1, 1, 1, "2024-01-01 00:00:00", "2024-01-01 00:00:00",
         "h", "a", "p", "m", "s", "m", "not json at all"),
        (6, 1, 1, 1, 1, "2024-01-01 00:00:00", "2024-01-01 00:00:00",
         "h", "a", "p", "m", "s", "m", '{"k":{"ü":"ß","a":"✓"}}'),
        (7, 1, 1, 1, 1, "2024-01-01 00:00:00", "2024-01-01 00:00:00",
         "h", "a", "p", "m", "s", "m", "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "turn_idx int, priority int, facility int, severity int, "
        "version int, time_reported string, time_generated string, "
        "hostname string, appname string, procid string, msgid string, "
        "structured string, message string, properties_json string",
    )
    return (
        df.withColumn("time_reported", F.col("time_reported").cast("timestamp"))
        .withColumn("time_generated", F.col("time_generated").cast("timestamp"))
        .withColumn("facility_name", F.coalesce("hostname", F.lit("kern")))
        .withColumn("severity_name", F.lit("info"))
        .withColumn("client_addr", F.lit(None).cast("string"))
        .withColumn("source_type", F.lit("tcp"))
        .withColumn("source_path", F.lit(""))
        .withColumn("source_port", F.lit(0))
        .withColumn("uid", F.sha2(F.col("turn_idx").cast("string"), 256))
    )


# ---------------------------------------------------------------------------
# golden vectors (hand-derived from the Avro/proto3 specs)
# ---------------------------------------------------------------------------

def test_avro_golden(frame):
    enc = _rows(frame, ENCODERS["avro"]())
    # row 1 decoded by the independent reader
    assert read_avro(bytes(enc[1])) == {
        "Facility": "kern", "Severity": "err",
        "TimeReported": "2024-01-01T01:45:40Z",
        "TimeGenerated": "2024-01-01T01:45:40.167754Z",
        "Hostname": "host1", "Appname": "app1", "Procid": "7",
        "Msgid": "MSG1", "Message": "hello world",
        "Properties": {"aa": {"b": "c", "x": "y"}, "meta": {"k": "v"}},
    }
    # spot-check raw prefix: len("kern")*2=8 → 0x08 + utf8
    assert bytes(enc[1]).hex().startswith("086b65726e0665727228")
    rec2 = read_avro(bytes(enc[2]))
    assert rec2["Properties"] == {}
    assert rec2["TimeGenerated"] == "2024-03-01T00:00:00.5Z"
    assert rec2["Hostname"] == ""


def test_fullavro_golden(frame):
    enc = _rows(frame, ENCODERS["fullavro"]())
    rec = read_avro_full(bytes(enc[1]))
    assert rec["ClientAddr"] == "10.0.0.1:5000"
    assert rec["SourceType"] == "tcp"
    assert rec["SourcePath"] == ""
    assert rec["SourcePort"] == 1514
    assert rec["Uid"] == "UIDX"
    assert rec["Fields"]["Msgid"] == "MSG1"
    # zigzag(1514) = 3028 → varint d4 17
    assert "d417" in bytes(enc[1]).hex()


def test_jsonavro_golden(frame):
    enc = _rows(frame, ENCODERS["jsonavro"]())
    d = json.loads(enc[1])
    assert list(d) == [
        "Facility", "Severity", "TimeReported", "TimeGenerated",
        "Hostname", "Appname", "Procid", "Msgid", "Message", "Properties",
    ]
    assert d["Properties"] == {"meta": {"k": "v"}, "aa": {"x": "y", "b": "c"}}
    d2 = json.loads(enc[2])
    assert d2["Properties"] == {} and d2["Hostname"] == ""

    full = _rows(frame, ENCODERS["fulljsonavro"]())
    fd = json.loads(full[1])
    assert list(fd) == [
        "ClientAddr", "SourceType", "SourcePath", "SourcePort", "Uid", "Fields",
    ]
    assert fd["SourcePort"] == 1514 and fd["Fields"]["Message"] == "hello world"


def test_protobuf_golden(frame):
    enc = _rows(frame, ENCODERS["protobuf"]())
    rec = read_pb_syslog(bytes(enc[1]))
    ns_reported = rec[5]
    assert ns_reported == 1704073540 * 10**9
    assert rec[6] == 1704073540 * 10**9 + 167754000
    assert rec[1] == 3 and rec[3] == 3 and 2 not in rec  # facility 0 omitted
    assert rec[7] == "host1" and rec[12] == "hello world"
    assert rec[11] == '[meta k="v"]'
    assert rec["properties"] == {"aa": {"b": "c", "x": "y"}, "meta": {"k": "v"}}
    # row 2: all zero ints / empty strings omitted except msgid + times
    rec2 = read_pb_syslog(bytes(enc[2]))
    assert 1 not in rec2 and 7 not in rec2 and 12 not in rec2
    assert rec2[10] == "U2"
    assert rec2["properties"] == {}


def test_registry_complete():
    for name in ("avro", "fullavro", "jsonavro", "fulljsonavro", "protobuf"):
        assert name in ENCODERS and name in MIMETYPES
    assert MIMETYPES["protobuf"] == "application/vnd.google.protobuf"


def test_strict_readers_reject_alternative_encodings():
    """The readers must refuse every other valid-by-spec encoding of
    the same values, or a used == len check would not pin the bytes."""
    assert read_uvarint(b"\x80\x01", 0) == (128, 2)
    with pytest.raises(AssertionError):
        read_uvarint(b"\x81\x00", 0)  # 1 padded to two bytes
    # {"a": {}, "b": {}} as two one-entry blocks / keys descending /
    # a negative-count block with its byte size
    for bad in (
        b"\x02\x02a\x00\x02\x02b\x00\x00",
        b"\x04\x02b\x00\x02a\x00\x00",
        b"\x03\x08\x02a\x00\x02b\x00\x00",
    ):
        with pytest.raises(AssertionError):
            read_avro_map(
                bad, 0, lambda bb, j: read_avro_map(bb, j, read_avro_str)
            )
    assert read_pb_syslog(b"\x08\x01\x6a\x00") == {1: 1, "properties": {}}
    for bad in (
        b"\x6a\x00\x08\x01",      # fields out of order
        b"\x08\x00\x6a\x00",      # present zero varint
        b"\x3a\x00\x6a\x00",      # present empty string
        b"\x08\x01",              # properties message missing
        b"\x08\x81\x00\x6a\x00",  # non-minimal varint
    ):
        with pytest.raises(AssertionError):
            read_pb_syslog(bad)


# ---------------------------------------------------------------------------
# whole frames: every row decoded by the strict readers must equal the
# record derived from the frame's own columns
# ---------------------------------------------------------------------------

def test_protobuf_fixture_frame(routed):
    _check_frame(routed, "protobuf")


def test_avro_fixture_frame(routed):
    _check_frame(routed, "avro")


def test_fullavro_fixture_frame(enveloped):
    _check_frame(enveloped, "fullavro")


def test_protobuf_adversarial_frame(adversarial):
    _check_frame(adversarial, "protobuf")


def test_avro_adversarial_frame(adversarial):
    _check_frame(adversarial, "avro")


def test_fullavro_adversarial_frame(adversarial):
    _check_frame(adversarial, "fullavro")


_VARINT_BOUNDARIES = [0, 1, 127, 128, 300, 16383, 16384, 1704073540 * 10**9]


def test_varint_boundary_values(spark):
    """Varint widths at every 7-bit boundary the data can reach:
    ``priority`` (protobuf uvarint) and ``source_port`` (avro zig-zag
    long, negatives included) take the boundary values; timestamps put
    UnixNano just below and at each 2^(7k) from 4 to 9 bytes, the
    ns-scale boundary value, and one pre-epoch time (10 bytes)."""
    ports = _VARINT_BOUNDARIES + [-1, -64, -65, -8192, -8193]
    micros = [v // 1000 for v in _VARINT_BOUNDARIES[-1:]] + [-1]
    for k in range(4, 9):
        edge = 1 << (7 * k)
        micros += [edge // 1000, -(-edge // 1000)]
    n = max(len(ports), len(micros))
    rows = [
        (i, _VARINT_BOUNDARIES[i % len(_VARINT_BOUNDARIES)],
         ports[i % len(ports)], micros[i % len(micros)])
        for i in range(n)
    ]
    df = (
        spark.createDataFrame(
            rows, "turn_idx int, priority long, source_port long, us long"
        )
        .withColumn("time_reported", F.timestamp_micros("us"))
        .withColumn("time_generated", F.timestamp_micros(F.col("us") + 1))
    )
    for c in ("facility", "severity", "version"):
        df = df.withColumn(c, F.lit(0))
    for c in ("facility_name", "severity_name", "hostname", "appname",
              "procid", "msgid", "structured", "message", "properties_json",
              "client_addr", "source_type", "source_path", "uid"):
        df = df.withColumn(c, F.lit(None).cast("string"))
    got = {r.turn_idx: r for r in df.select(
        "turn_idx",
        ENCODERS["protobuf"]().alias("pb"),
        ENCODERS["fullavro"]().alias("fa"),
    ).collect()}
    for i, pri, port, us in rows:
        rec = read_pb_syslog(bytes(got[i].pb))
        assert rec.get(1, 0) == pri
        assert rec.get(5, 0) == (us * 1000) % (1 << 64)
        assert rec.get(6, 0) == ((us + 1) * 1000) % (1 << 64)
        assert read_avro_full(bytes(got[i].fa))["SourcePort"] == port


# ---------------------------------------------------------------------------
# seeded fuzz: the binary codecs vs the independent spec readers (r4).
# The golden tests pin hand-derived vectors; this drives the encoders
# across 300 randomized records — unicode (incl. astral plane), empty
# and NULL fields, empty/nested property maps, random timestamps — and
# round-trips every byte through the strict readers above.
# ---------------------------------------------------------------------------

def test_avro_fuzz_roundtrip(spark):
    import random

    rng = random.Random(0xA5_0401)
    alphabet = (
        "abcXYZ 019 _-:/"
        "éß中Ж☃"  # é ß 中 Ж ☃
        "\U0001F600\U0001F680"            # astral: 😀 🚀
    )

    def rnd_str(maxlen=24):
        if rng.random() < 0.15:
            return ""
        if rng.random() < 0.08:
            return None
        return "".join(
            rng.choice(alphabet) for _ in range(rng.randrange(1, maxlen))
        )

    def rnd_props():
        if rng.random() < 0.25:
            return None
        out = {}
        for _ in range(rng.randrange(0, 4)):
            inner = {
                f"k{rng.randrange(10)}é"[: rng.randrange(1, 8)]:
                    (rnd_str(10) or "")
                for _ in range(rng.randrange(0, 4))
            }
            out[f"ns{rng.randrange(6)}"] = inner
        return out

    rows = []
    for i in range(300):
        ts = (
            None if rng.random() < 0.1
            else datetime.datetime(2020, 1, 1)
            + datetime.timedelta(
                seconds=rng.randrange(0, 200_000_000),
                microseconds=rng.randrange(0, 1_000_000),
            )
        )
        props = rnd_props()
        rows.append(
            (
                i, rnd_str(), rnd_str(), rnd_str(), rnd_str(), rnd_str(),
                rnd_str(), rnd_str(),
                json.dumps(props, ensure_ascii=False)
                if props is not None else None,
                ts, ts,
            )
        )
    df = spark.createDataFrame(
        rows,
        "event_id int, facility_name string, severity_name string,"
        " hostname string, appname string, procid string, msgid string,"
        " message string, properties_json string,"
        " time_reported timestamp, time_generated timestamp",
    )
    enc = {
        r.event_id: bytes(r.enc)
        for r in df.select(
            "event_id", ENCODERS["avro"]().alias("enc")
        ).collect()
    }
    for i, row in enumerate(rows):
        rec = read_avro(enc[i])
        expect_props = json.loads(row[8]) if row[8] is not None else {}
        assert rec["Facility"] == (row[1] or "")
        assert rec["Severity"] == (row[2] or "")
        assert rec["Hostname"] == (row[3] or "")
        assert rec["Appname"] == (row[4] or "")
        assert rec["Procid"] == (row[5] or "")
        assert rec["Msgid"] == (row[6] or "")
        assert rec["Message"] == (row[7] or "")
        assert rec["Properties"] == expect_props, f"row {i}"
        assert rec["TimeReported"] == _rfc3339nano_expected(row[9]), f"row {i}"
        assert rec["TimeGenerated"] == _rfc3339nano_expected(row[10])
