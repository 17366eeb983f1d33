"""Wire-format encoders: binary and textual Avro, and binary Protobuf.

The reference ships four Avro encoders (``avro``/``fullavro`` binary,
``jsonavro``/``fulljsonavro`` textual — ``encoders/json.go:46-132``)
over the schemas ``avro/syslogmessage.avsc`` and ``avro/fullmessage.avsc``,
plus a protobuf encoder for the internal ``SyslogMessage``
(``encoders/protobuf.go``, schema ``model/types.proto:19-33``).  The
reference's protobuf decoder has no counterpart here: no pipeline path
reads protobuf input.  No Avro/protobuf library ships with
the package, so both wire formats are produced here from first
principles (the public Avro 1.x and protobuf-v3 binary specs).

The binary encoders are Arrow-batched pandas UDFs that assemble the
bytes with numpy: per-field LEB128 varints in lockstep (the Python loop
is bounded by the varint WIDTH, at most 10, never by the row count),
string payloads gathered straight from the Arrow column buffers
(offsets arithmetic, no per-row copies), and the nested properties
message encoded once per DISTINCT ``properties_json`` payload (arrow
``dictionary_encode``; real corpora repeat a tiny set of SD shapes
across billions of rows).  The textual encoders are ``to_json`` over a
struct and stay inside whole-stage codegen.

Determinism note: Go map iteration is randomized, so the reference's own
Avro/protobuf map output is byte-nondeterministic.  This implementation
fixes ascending key order (documented deviation; field content identical).

Timestamps follow ``model/types.go:262-278``: RFC3339Nano in UTC, i.e.
second precision plus a fractional part with trailing zeros trimmed.

Domain note (properties): ``properties_json`` is produced by this
repo's own parse/decode stages and is always NULL or a JSON object of
string→(object of string→string).  ``_props_from_json`` reads it like
``from_json(map<string,map<string,string>>)`` does on that domain
(invalid JSON / non-object root / scalar-where-map-expected → null root,
null inner maps and null leaves preserved).  Out-of-domain shapes that
no producer in this repo emits (duplicate JSON keys, non-string leaves)
may differ from Spark's Jackson parser, which the textual encoders use.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType

_EMPTY_U8 = np.empty(0, np.uint8)
_I64_1 = np.uint64(1)

# one growable 0..n ramp per worker process: np.arange over megabyte
# totals dominates otherwise
_RAMP = np.empty(0, np.int64)


def _ramp(n: int):
    global _RAMP
    if _RAMP.size < n:
        _RAMP = np.arange(max(n, 2 * _RAMP.size), dtype=np.int64)
    return _RAMP[:n]


# ---------------------------------------------------------------------------
# segment assembly: a row's output is the concatenation of per-field
# byte segments; each segment is (data, lens) where ``data`` is the
# tight concatenation of the segment's per-row pieces
# ---------------------------------------------------------------------------


def _concat_segments(n: int, segs) -> pd.Series:
    """Concatenate segments row-wise into one binary value per row."""
    total_per_row = np.zeros(n, np.int64)
    for _, lens in segs:
        total_per_row += lens
    out_offs = np.zeros(n + 1, np.int64)
    np.cumsum(total_per_row, out=out_offs[1:])
    out = np.empty(int(out_offs[-1]), np.uint8)
    run = np.zeros(n, np.int64)
    for data, lens in segs:
        seg_offs = np.zeros(n + 1, np.int64)
        np.cumsum(lens, out=seg_offs[1:])
        total = int(seg_offs[-1])
        if total == 0:
            continue
        dst_start = out_offs[:-1] + run
        idx = np.repeat(dst_start - seg_offs[:-1], lens) + _ramp(total)
        out[idx] = data[:total]
        run += lens
    return pa.Array.from_buffers(
        pa.large_binary(), n,
        [None, pa.py_buffer(out_offs.tobytes()), pa.py_buffer(out.tobytes())],
    ).to_pandas()


def _varint_seg(
    vals: np.ndarray, tag: int | None = None, always: bool = False
) -> tuple[np.ndarray, np.ndarray]:
    """LEB128 varint per lane (uint64 in), optionally preceded by a
    one-byte field tag.  ``always=False`` emits NOTHING for lanes whose
    value is 0 (proto3 zero-omission); ``always=True`` emits the 1-byte
    varint ``00`` too (lengths, avro counts).  Lockstep: the Python
    loop runs max-width (≤10) times, never per row."""
    n = vals.size
    vals = vals.astype(np.uint64, copy=False)
    nb = np.ones(n, np.int64)
    for k in range(1, 10):
        nb += (vals >= (_I64_1 << np.uint64(7 * k))).astype(np.int64)
    width = int(nb.max()) if n else 1
    has_tag = tag is not None
    w_all = width + (1 if has_tag else 0)
    mat = np.zeros((n, w_all), np.uint8)
    use = np.zeros((n, w_all), bool)
    emit = np.ones(n, bool) if always else (vals != 0)
    col = 0
    if has_tag:
        mat[:, 0] = tag
        use[:, 0] = emit
        col = 1
    for k in range(width):
        b = ((vals >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
        more = (k + 1) < nb
        mat[:, col + k] = b | (more.astype(np.uint8) << 7)
        use[:, col + k] = emit & (k < nb)
    lens = use.sum(axis=1, dtype=np.int64)
    data = mat.reshape(-1)[use.reshape(-1)]
    return data, lens


def _zigzag(vals_i64: np.ndarray) -> np.ndarray:
    """Avro long zig-zag: ``(n << 1) ^ (n >> 63)`` (arithmetic shift)."""
    v = vals_i64.astype(np.int64, copy=False)
    return ((v << np.int64(1)) ^ (v >> np.int64(63))).view(np.uint64)


def _str_array(s: pd.Series) -> pa.Array:
    """pandas series → large_utf8 arrow array with nulls as ''."""
    arr = pa.array(s, type=pa.large_utf8(), from_pandas=True)
    if arr.null_count:
        arr = arr.fill_null("")
    return arr


def _utf8_seg(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(payload_data, byte_lens) of a large_utf8 array — the payload
    segment is the arrow data buffer itself (no copies)."""
    bufs = arr.buffers()
    n = len(arr)
    offs = np.frombuffer(bufs[1], np.int64, count=n + 1)
    if arr.offset:
        offs = offs[arr.offset:arr.offset + n + 1]
    total = int(offs[-1])
    data = (np.frombuffer(bufs[2], np.uint8, count=total)
            if bufs[2] is not None and total else _EMPTY_U8)
    # normalize to offset-0 tight layout
    base = int(offs[0])
    if base:
        data = data[base:total]
        offs = offs - base
    return data, (offs[1:] - offs[:-1]).astype(np.int64)


# ---------------------------------------------------------------------------
# RFC3339Nano strings from timestamps
# ---------------------------------------------------------------------------


def _rfc3339_strings(ts: pd.Series) -> pa.Array:
    """Go time.RFC3339Nano (UTC, trailing-zero-trimmed fraction) per
    row; NaT renders as the epoch — the reference formats
    ``time.Unix(0, 0)`` when the num field is 0.  Spark timestamps carry
    microsecond precision, so the fraction is the 6-digit micro field
    with trailing zeros stripped.  Whole-second rows (the
    overwhelmingly common case) format in bulk via
    ``np.datetime_as_string``; only sub-second rows pay a per-row
    format, and only for the fraction suffix."""
    v = ts.to_numpy(dtype="datetime64[us]", copy=False)
    micros = v.view(np.int64)
    nat = micros == np.iinfo(np.int64).min
    # NaT → 0 → '1970-01-01T00:00:00Z', no special case needed after this
    us = np.where(nat, 0, micros)
    frac = np.mod(us, 1_000_000)
    secs = (us - frac) // 1_000_000
    n = us.size
    base = np.datetime_as_string(
        secs.astype("datetime64[s]"), unit="s"
    )  # 'YYYY-MM-DDTHH:MM:SS', ASCII, fixed 19 chars for 1000-9999 CE
    has_frac = frac != 0
    if not has_frac.any() and base.dtype == np.dtype("U19"):
        # bulk fast path: every row is the fixed 20-byte '<19>Z' form
        data = np.frombuffer(
            np.char.add(base, "Z").astype("S20").tobytes(), np.uint8
        )
        offs = _ramp(n + 1) * 20
        return pa.Array.from_buffers(
            pa.large_utf8(), n,
            [None, pa.py_buffer(offs.astype(np.int64).tobytes()),
             pa.py_buffer(data.tobytes())],
        )
    out = base.astype(object)
    for i in np.flatnonzero(has_frac):
        out[i] += "." + ("%06d" % frac[i]).rstrip("0")
    return pa.array([s + "Z" for s in out], type=pa.large_utf8())


# ---------------------------------------------------------------------------
# properties: one nested-message encode per DISTINCT payload
# ---------------------------------------------------------------------------


def _props_from_json(s):
    """Parse one ``properties_json`` payload (see the module's domain
    note): None/invalid/non-object → None; inner null kept; scalar
    where a map is expected → null ROOT (Jackson conversion failure
    nulls the whole value under PERMISSIVE)."""
    if s is None:
        return None
    try:
        obj = json.loads(s)
    except Exception:
        return None
    if not isinstance(obj, dict):
        return None
    out = {}
    for k, v in obj.items():
        if v is None:
            out[k] = None
        elif isinstance(v, dict):
            inner = {}
            for k2, v2 in v.items():
                if v2 is None:
                    inner[k2] = None
                elif isinstance(v2, str):
                    inner[k2] = v2
                else:
                    # out-of-domain leaf (no producer emits these);
                    # Jackson would keep the raw token text — emit the
                    # compact dump, identical for ints/bools
                    inner[k2] = json.dumps(v2, separators=(",", ":"))
            out[k] = inner
        else:
            return None
    return out


def _py_uvarint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _py_avro_str(s: str) -> bytes:
    b = s.encode("utf-8")
    return _py_uvarint(len(b) << 1) + b


def _sort_key(s: str) -> bytes:
    """Sort map keys on their UTF-8 bytes (equal to code-point order,
    and to Spark's UTF8String compare)."""
    return s.encode("utf-8")


def _avro_props_body(props) -> bytes:
    """``map<string, map<string,string>>`` (both .avsc Properties
    fields) for one parsed payload: one block — count, key-sorted
    items, 0 terminator.  Empty/null maps collapse to the single
    ``0x00`` end-of-blocks byte, matching gogen-avro's ``writeMap``
    (the reference's vendored generated serializers, ``model/avro``)."""
    def inner_map(m) -> bytes:
        if not m:  # None or empty → single end-of-blocks byte
            return b"\x00"
        body = b"".join(
            _py_avro_str(k) + _py_avro_str(v if v is not None else "")
            for k, v in sorted(m.items(), key=lambda e: _sort_key(e[0]))
        )
        return _py_uvarint(len(m) << 1) + body + b"\x00"

    if not props:
        return b"\x00"
    body = b"".join(
        _py_avro_str(k) + inner_map(v)
        for k, v in sorted(props.items(), key=lambda e: _sort_key(e[0]))
    )
    return _py_uvarint(len(props) << 1) + body + b"\x00"


def _py_pb_str_always(tag: int, s: str) -> bytes:
    """Map key/value sub-fields are written even when empty
    (``types.pb.go:517-540``)."""
    b = s.encode("utf-8")
    return bytes([tag]) + _py_uvarint(len(b)) + b


def _py_pb_len(tag: int, body: bytes) -> bytes:
    return bytes([tag]) + _py_uvarint(len(body)) + body


def _pb_props_body(props) -> bytes:
    """``Properties`` message BODY for one parsed payload
    (``types.pb.go:552-586``; the caller frames it with tag 0x6A +
    length): one entry per outer key — key field 1, value field 2 = an
    ``InnerProperties`` message of length-delimited (key=1, value=2)
    entries (``types.pb.go:517-540``)."""
    if not props:
        return b""

    def inner_body(m) -> bytes:
        if not m:
            return b""
        return b"".join(
            _py_pb_len(
                0x0A,
                _py_pb_str_always(0x0A, k)
                + _py_pb_str_always(0x12, v if v is not None else ""),
            )
            for k, v in sorted(m.items(), key=lambda e: _sort_key(e[0]))
        )

    return b"".join(
        _py_pb_len(
            0x0A,
            _py_pb_str_always(0x0A, k) + _py_pb_len(0x12, inner_body(v)),
        )
        for k, v in sorted(props.items(), key=lambda e: _sort_key(e[0]))
    )


def _props_segment(s: pd.Series, enc) -> tuple[np.ndarray, np.ndarray]:
    """Per-row encoded properties (``enc`` = the avro map block or the
    pb field-13 BODY encoder): parse + encode once per distinct
    payload, gather per row."""
    arr = pa.array(s, type=pa.large_utf8(), from_pandas=True)
    dct = arr.dictionary_encode()
    idx = dct.indices
    null_idx = np.asarray(idx.is_null())
    uid = np.asarray(idx.fill_null(0), dtype=np.int64)
    bodies = [enc(_props_from_json(u)) for u in dct.dictionary.to_pylist()]
    if not bodies:
        bodies = [enc(None)]
    null_body = enc(None)
    blens = np.array([len(b) for b in bodies], np.int64)
    boffs = np.zeros(blens.size + 1, np.int64)
    np.cumsum(blens, out=boffs[1:])
    pool = np.frombuffer(b"".join(bodies) + null_body, np.uint8)
    # rows with NULL properties_json behave like a null map
    starts = np.where(null_idx, boffs[-1], boffs[:-1][uid])
    lens = np.where(null_idx, len(null_body), blens[uid])
    total = int(lens.sum())
    roffs = np.zeros(lens.size + 1, np.int64)
    np.cumsum(lens, out=roffs[1:])
    gidx = np.repeat(starts - roffs[:-1], lens) + _ramp(total)
    return pool[gidx], lens


# ---------------------------------------------------------------------------
# the binary encoders
# ---------------------------------------------------------------------------


def _int_series_u64(s: pd.Series) -> np.ndarray:
    """int-ish pandas column (nullable → float64/object) → uint64 with
    nulls as 0 (so protobuf omits them like zeros)."""
    if s.dtype == object:
        s = s.fillna(0)
        return np.array([int(x) for x in s], np.int64).view(np.uint64)
    arr = s.to_numpy()
    if arr.dtype.kind == "f":
        arr = np.nan_to_num(arr, nan=0.0)
        return arr.astype(np.int64).view(np.uint64)
    return arr.astype(np.int64).view(np.uint64)


def _ts_ns_u64(s: pd.Series) -> np.ndarray:
    """timestamp column → UnixNano uint64 (NaT → 0): microseconds ×
    1000, two's complement for pre-epoch times."""
    v = s.to_numpy(dtype="datetime64[us]", copy=False).view(np.int64)
    nat = v == np.iinfo(np.int64).min
    return (np.where(nat, 0, v) * 1000).view(np.uint64)


def _avro_str_segs(arr: pa.Array, segs: list) -> None:
    """Append the avro-string header+payload segments of a column
    (zig-zag varint byte length, then the UTF-8 bytes; zigzag of a
    non-negative length is just ``len << 1``)."""
    data, lens = _utf8_seg(arr)
    segs.append(_varint_seg(lens.astype(np.uint64) << np.uint64(1), always=True))
    segs.append((data, lens))


def _avro_syslog_segs(
    facility_name, severity_name, t_rep, t_gen,
    hostname, appname, procid, msgid, message, props, segs: list,
) -> None:
    """SyslogMessage record fields in ``.avsc`` order, value mapping per
    ``SyslogMessage.Avro()`` (``model/types.go:262-278``):
    facility/severity *names*, RFC3339Nano UTC times, raw strings."""
    for col in (facility_name, severity_name):
        _avro_str_segs(_str_array(col), segs)
    _avro_str_segs(_rfc3339_strings(t_rep), segs)
    _avro_str_segs(_rfc3339_strings(t_gen), segs)
    for col in (hostname, appname, procid, msgid, message):
        _avro_str_segs(_str_array(col), segs)
    segs.append(_props_segment(props, _avro_props_body))


@pandas_udf(BinaryType())
def _pb_encode_udf(
    priority: pd.Series, facility: pd.Series, severity: pd.Series,
    version: pd.Series, t_rep: pd.Series, t_gen: pd.Series,
    hostname: pd.Series, appname: pd.Series, procid: pd.Series,
    msgid: pd.Series, structured: pd.Series, message: pd.Series,
    props: pd.Series,
) -> pd.Series:
    segs: list = []
    for tag, col in (
        (0x08, _int_series_u64(priority)),
        (0x10, _int_series_u64(facility)),
        (0x18, _int_series_u64(severity)),
        (0x20, _int_series_u64(version)),
        (0x28, _ts_ns_u64(t_rep)),
        (0x30, _ts_ns_u64(t_gen)),
    ):
        segs.append(_varint_seg(col, tag=tag, always=False))
    for tag, col in (
        (0x3A, hostname), (0x42, appname), (0x4A, procid),
        (0x52, msgid), (0x5A, structured), (0x62, message),
    ):
        data, lens = _utf8_seg(_str_array(col))
        # header: tag + varint(len); always=False omits empty strings
        # (their payload contributes 0 bytes regardless)
        segs.append(_varint_seg(lens.astype(np.uint64), tag=tag, always=False))
        segs.append((data, lens))
    pdata, plens = _props_segment(props, _pb_props_body)
    # field 13 always emitted (non-nullable embedded message —
    # types.pb.go:669-676): tag 0x6A + varint(len(body)) + body
    segs.append(_varint_seg(plens.astype(np.uint64), tag=0x6A, always=True))
    segs.append((pdata, plens))
    return _concat_segments(len(priority), segs)


@pandas_udf(BinaryType())
def _avro_encode_udf(
    facility_name: pd.Series, severity_name: pd.Series,
    t_rep: pd.Series, t_gen: pd.Series, hostname: pd.Series,
    appname: pd.Series, procid: pd.Series, msgid: pd.Series,
    message: pd.Series, props: pd.Series,
) -> pd.Series:
    segs: list = []
    _avro_syslog_segs(
        facility_name, severity_name, t_rep, t_gen,
        hostname, appname, procid, msgid, message, props, segs,
    )
    return _concat_segments(len(facility_name), segs)


@pandas_udf(BinaryType())
def _fullavro_encode_udf(
    client_addr: pd.Series, source_type: pd.Series, source_path: pd.Series,
    source_port: pd.Series, uid: pd.Series,
    facility_name: pd.Series, severity_name: pd.Series,
    t_rep: pd.Series, t_gen: pd.Series, hostname: pd.Series,
    appname: pd.Series, procid: pd.Series, msgid: pd.Series,
    message: pd.Series, props: pd.Series,
) -> pd.Series:
    segs: list = []
    for col in (client_addr, source_type, source_path):
        _avro_str_segs(_str_array(col), segs)
    port = _int_series_u64(source_port).view(np.int64)
    segs.append(_varint_seg(_zigzag(port), always=True))
    _avro_str_segs(_str_array(uid), segs)
    _avro_syslog_segs(
        facility_name, severity_name, t_rep, t_gen,
        hostname, appname, procid, msgid, message, props, segs,
    )
    return _concat_segments(len(client_addr), segs)


def _syslog_cols() -> list[Column]:
    return [
        F.col("facility_name"), F.col("severity_name"),
        F.col("time_reported").cast("timestamp"),
        F.col("time_generated").cast("timestamp"),
        F.col("hostname"), F.col("appname"), F.col("procid"),
        F.col("msgid"), F.col("message"), F.col("properties_json"),
    ]


def encode_avro() -> Column:
    """Binary avro SyslogMessage (``avro/syslogmessage.avsc``)."""
    return _avro_encode_udf(*_syslog_cols())


def encode_fullavro() -> Column:
    """Binary avro FullMessage (``avro/fullmessage.avsc``): envelope
    fields then the nested SyslogMessage record
    (``FullMessage.Avro()``, ``model/types.go:351-363``).  Frames lacking
    envelope columns should pass through ``with_envelope`` first."""
    return _fullavro_encode_udf(
        F.col("client_addr"), F.col("source_type"), F.col("source_path"),
        F.col("source_port"), F.col("uid"), *_syslog_cols(),
    )


def encode_protobuf() -> Column:
    """Binary protobuf of the parsed frame as a ``SyslogMessage``
    (field numbers/types ``model/types.proto:19-33``; writer semantics
    ``types.pb.go:598-678``): zero ints and empty strings omitted,
    times as int64 UnixNano, properties message always present."""
    return _pb_encode_udf(
        F.col("priority"), F.col("facility"), F.col("severity"),
        F.col("version"),
        F.col("time_reported").cast("timestamp"),
        F.col("time_generated").cast("timestamp"),
        F.col("hostname"), F.col("appname"), F.col("procid"),
        F.col("msgid"), F.col("structured"), F.col("message"),
        F.col("properties_json"),
    )


# ---------------------------------------------------------------------------
# the textual (JSON) avro encoders
# ---------------------------------------------------------------------------


def rfc3339nano(colname: str) -> Column:
    """Go ``time.RFC3339Nano`` in UTC: trailing-zero-trimmed fraction
    (``model/types.go:268-269``).  Null timestamps render as the epoch —
    the reference formats ``time.Unix(0, 0)`` when the num field is 0."""
    frac = F.expr(f"rtrim('0', date_format({colname}, 'SSSSSS'))")
    return F.coalesce(
        F.concat(
            F.date_format(colname, "yyyy-MM-dd'T'HH:mm:ss"),
            F.when(frac == "", F.lit("")).otherwise(F.concat(F.lit("."), frac)),
            F.lit("Z"),
        ),
        F.lit("1970-01-01T00:00:00Z"),
    )


def _properties_map() -> Column:
    return F.from_json(F.col("properties_json"), "map<string,map<string,string>>")


def _avro_native_struct() -> Column:
    """NativeAvro field set (``model/types.go:280-302``) in .avsc order;
    avro strings are non-nullable so nothing is omitted."""
    return F.struct(
        F.coalesce("facility_name", F.lit("")).alias("Facility"),
        F.coalesce("severity_name", F.lit("")).alias("Severity"),
        rfc3339nano("time_reported").alias("TimeReported"),
        rfc3339nano("time_generated").alias("TimeGenerated"),
        F.coalesce("hostname", F.lit("")).alias("Hostname"),
        F.coalesce("appname", F.lit("")).alias("Appname"),
        F.coalesce("procid", F.lit("")).alias("Procid"),
        F.coalesce("msgid", F.lit("")).alias("Msgid"),
        F.coalesce("message", F.lit("")).alias("Message"),
        F.coalesce(
            _properties_map(),
            F.from_json(F.lit("{}"), "map<string,map<string,string>>"),
        ).alias("Properties"),
    )


def encode_jsonavro() -> Column:
    """Avro *textual* SyslogMessage: goavro ``TextualFromNative`` emits
    record fields in schema order as JSON (``encoders/json.go:58-81``)."""
    return F.to_json(_avro_native_struct())


def encode_fulljsonavro() -> Column:
    """Avro textual FullMessage (``encodeFullJSONAVRO``,
    ``encoders/json.go:107-132``; native map ``model/types.go:365-380``)."""
    return F.to_json(
        F.struct(
            F.coalesce("client_addr", F.lit("")).alias("ClientAddr"),
            F.coalesce("source_type", F.lit("")).alias("SourceType"),
            F.coalesce("source_path", F.lit("")).alias("SourcePath"),
            F.col("source_port").cast("int").alias("SourcePort"),
            F.coalesce("uid", F.lit("")).alias("Uid"),
            _avro_native_struct().alias("Fields"),
        )
    )
