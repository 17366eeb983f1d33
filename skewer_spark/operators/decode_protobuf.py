"""Protobuf SyslogMessage decoder (reference ``decoders/protobuf.go:8-16``,
wire schema ``model/types.proto:19-33``).

No protobuf library ships with the package, so this is a
first-principles proto3 wire reader inside an Arrow-batched pandas UDF.
Varint walking is sequential WITHIN a record but independent ACROSS
records, so the batch path (`_decode_pb_batch`) runs all records in
numpy lockstep over one concatenated buffer: each step reads one
varint / one field across every still-active record, bounding the
Python-loop iteration count by the per-record field count (~14), not
the row count.  The scalar reader (`decode_syslog_pb`) is kept as the
independent reference the tests compare against.  Unknown fields are
skipped by wire type, like any proto3 reader; malformed input yields a
null struct (the reference surfaces ``DecodingError``).
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

PB_SYSLOG_SCHEMA = StructType(
    [
        StructField("priority", IntegerType()),
        StructField("facility", IntegerType()),
        StructField("severity", IntegerType()),
        StructField("version", IntegerType()),
        StructField("time_reported_num", LongType()),
        StructField("time_generated_num", LongType()),
        StructField("hostname", StringType()),
        StructField("appname", StringType()),
        StructField("procid", StringType()),
        StructField("msgid", StringType()),
        StructField("structured", StringType()),
        StructField("message", StringType()),
        StructField("properties_json", StringType()),
    ]
)


def _uvarint(b: bytes, i: int) -> tuple[int, int]:
    shift = 0
    out = 0
    while True:
        byte = b[i]
        i += 1
        out |= (byte & 0x7F) << shift
        if byte < 0x80:
            # keep within signed int64 like the Go reader
            return out & 0xFFFFFFFFFFFFFFFF, i
        shift += 7
        if shift > 63:
            raise ValueError("varint overflow")


def _skip(b: bytes, i: int, wire: int) -> int:
    if wire == 0:
        _, i = _uvarint(b, i)
        return i
    if wire == 1:
        return i + 8
    if wire == 2:
        n, i = _uvarint(b, i)
        return i + n
    if wire == 5:
        return i + 4
    raise ValueError(f"unsupported wire type {wire}")


def _read_str_map(b: bytes) -> dict[str, str]:
    """InnerProperties: repeated entry{1:key,2:value} (types.pb.go:517)."""
    out: dict[str, str] = {}
    i = 0
    while i < len(b):
        tag, i = _uvarint(b, i)
        if tag >> 3 == 1 and tag & 7 == 2:
            n, i = _uvarint(b, i)
            entry = b[i : i + n]
            i += n
            k = v = ""
            j = 0
            while j < len(entry):
                etag, j = _uvarint(entry, j)
                n2, j = _uvarint(entry, j)
                s = entry[j : j + n2].decode("utf-8")
                j += n2
                if etag >> 3 == 1:
                    k = s
                else:
                    v = s
            out[k] = v
        else:
            i = _skip(b, i, tag & 7)
    return out


def _read_properties(b: bytes) -> dict[str, dict[str, str]]:
    out: dict[str, dict[str, str]] = {}
    i = 0
    while i < len(b):
        tag, i = _uvarint(b, i)
        if tag >> 3 == 1 and tag & 7 == 2:
            n, i = _uvarint(b, i)
            entry = b[i : i + n]
            i += n
            k = ""
            v: dict[str, str] = {}
            j = 0
            while j < len(entry):
                etag, j = _uvarint(entry, j)
                n2, j = _uvarint(entry, j)
                chunk = entry[j : j + n2]
                j += n2
                if etag >> 3 == 1:
                    k = chunk.decode("utf-8")
                else:
                    v = _read_str_map(chunk)
            out[k] = v
        else:
            i = _skip(b, i, tag & 7)
    return out


_INT_FIELDS = {
    1: "priority",
    2: "facility",
    3: "severity",
    4: "version",
    5: "time_reported_num",
    6: "time_generated_num",
}
_STR_FIELDS = {
    7: "hostname",
    8: "appname",
    9: "procid",
    10: "msgid",
    11: "structured",
    12: "message",
}


def decode_syslog_pb(b: bytes) -> dict | None:
    if b is None:
        return None
    rec = {
        "priority": 0, "facility": 0, "severity": 0, "version": 0,
        "time_reported_num": 0, "time_generated_num": 0,
        "hostname": "", "appname": "", "procid": "", "msgid": "",
        "structured": "", "message": "", "properties_json": "{}",
    }
    try:
        i = 0
        while i < len(b):
            tag, i = _uvarint(b, i)
            field, wire = tag >> 3, tag & 7
            if field in _INT_FIELDS and wire == 0:
                val, i = _uvarint(b, i)
                # two's-complement int64 like the Go reader's
                # int64(uint64) conversion (types.pb.go varint fields
                # are int32/int64): values >= 2^63 wrap negative, so
                # the Arrow serializer sees the same int64 as the
                # vectorized path's .view(np.int64) instead of an
                # un-serializable large Python int (ADVICE r5).
                rec[_INT_FIELDS[field]] = val - (1 << 64) if val >= (1 << 63) else val
            elif field in _STR_FIELDS and wire == 2:
                n, i = _uvarint(b, i)
                rec[_STR_FIELDS[field]] = b[i : i + n].decode("utf-8")
                i += n
            elif field == 13 and wire == 2:
                n, i = _uvarint(b, i)
                props = _read_properties(b[i : i + n])
                i += n
                rec["properties_json"] = json.dumps(
                    {k: dict(sorted(v.items())) for k, v in sorted(props.items())},
                    separators=(",", ":"),
                )
            else:
                i = _skip(b, i, wire)
    except (IndexError, ValueError, UnicodeDecodeError):
        return None
    return rec


_PB_COLS = [f.name for f in PB_SYSLOG_SCHEMA.fields]


# ---------------------------------------------------------------------------
# numpy lockstep batch reader (VERDICT r4 #4)
#
# Semantics are pinned byte-for-byte to decode_syslog_pb above (the
# per-record reference kept precisely so tests can fuzz the two against
# each other): mid-varint truncation, >10-byte varints, unsupported
# wire types and invalid UTF-8 anywhere the scalar reader would decode
# → null record; length-delimited overruns clamp silently (Python
# slice semantics); duplicate fields last-win but EVERY occurrence is
# still parsed/validated (the scalar reader decodes each occurrence in
# turn, so an early malformed occurrence errors the record even when a
# later one would overwrite it).
# ---------------------------------------------------------------------------

_EMPTY_I64 = np.empty(0, np.int64)

# one growable 0..n ramp reused by every gather/scan in the worker
# process: np.arange over megabyte totals was the single costliest line
# of the batch decode (fresh 100+ MB allocations per call; the cached
# slice is read-only by convention)
_RAMP = np.empty(0, np.int64)


def _ramp(n: int):
    global _RAMP
    if _RAMP.size < n:
        _RAMP = np.arange(max(n, 2 * _RAMP.size), dtype=np.int64)
    return _RAMP[:n]


def _vec_uvarint(buf, pos, ends):
    """Read one varint per lane.  ``pos``/``ends`` are equal-length
    int64 arrays; returns ``(val uint64, newpos int64, err bool)``.
    err = lane ran off its frame mid-varint (scalar IndexError) or
    needed an 11th byte (scalar 'varint overflow').  At shift 63 the
    uint64 left-shift wraps mod 2**64 — identical to the scalar
    reader's ``& 0xFFFFFFFFFFFFFFFF`` mask."""
    m = pos.shape[0]
    val = np.zeros(m, np.uint64)
    cur = pos.astype(np.int64, copy=True)
    err = np.zeros(m, bool)
    live = _ramp(m)
    for k in range(10):
        inb = cur[live] < ends[live]
        err[live[~inb]] = True
        live = live[inb]
        if live.size == 0:
            return val, cur, err
        by = buf[cur[live]]
        val[live] |= (by.astype(np.uint64) & np.uint64(0x7F)) << np.uint64(
            7 * k
        )
        cur[live] += 1
        live = live[by >= 0x80]
        if live.size == 0:
            return val, cur, err
    err[live] = True
    return val, cur, err


def _occ_concat(chunks, sort=True):
    """(owner, start, end) iteration chunks → concatenated arrays.
    With ``sort`` (default), a stable sort on owner restores per-owner
    positional order — within an iteration each owner appears at most
    once and iterations advance monotonically through each frame.
    Validation-only span sets pass ``sort=False`` (order irrelevant;
    the sort is the costliest step for row-count-sized lists)."""
    if not chunks:
        return _EMPTY_I64, _EMPTY_I64, _EMPTY_I64
    o = np.concatenate([c[0] for c in chunks])
    s = np.concatenate([c[1] for c in chunks])
    e = np.concatenate([c[2] for c in chunks])
    if not sort:
        return o, s, e
    order = np.argsort(o, kind="stable")
    return o[order], s[order], e[order]


_LEN_CAP = np.uint64(1) << np.uint64(62)  # pre-clamp so int64 can't overflow


def _scan_message(buf, starts, ends, int_fields=(), str_fields=(),
                  rep_field=None):
    """Lockstep proto3 message scan over ``n`` frames of one shared
    buffer.  Returns ``(ints, s_off, s_len, str_occ, rep, err)``:

    - ``ints[f]``: uint64 last-wins values (default 0) for varint
      fields ``f`` in ``int_fields``
    - ``s_off[f]``/``s_len[f]``: last-wins span (len -1 = absent) for
      length-delimited fields in ``str_fields``
    - ``str_occ``: raw iteration chunks [(owner, start, end), ...] of
      EVERY occurrence of every ``str_fields`` member — the scalar
      reader utf-8-decodes each occurrence, so all must be validated,
      not just the winner; left unconcatenated/unsorted because the
      duplicate path that needs them is rare (``_occ_concat`` on use)
    - ``rep``: (owner, start, end) of every ``rep_field`` occurrence,
      per-owner ordered
    - ``err``: scalar-reader exception semantics per frame
    """
    n = starts.shape[0]
    pos = starts.astype(np.int64, copy=True)
    err = np.zeros(n, bool)
    ints = {f: np.zeros(n, np.uint64) for f in int_fields}
    s_off = {f: np.zeros(n, np.int64) for f in str_fields}
    s_len = {f: np.full(n, -1, np.int64) for f in str_fields}
    str_fields_arr = np.asarray(sorted(str_fields), np.int64)
    occ_chunks: list = []
    rep_chunks: list = []
    act = np.nonzero(pos < ends)[0]
    while act.size:
        a = act
        tag, npos, e = _vec_uvarint(buf, pos[a], ends[a])
        pos[a] = npos
        field = (tag >> np.uint64(3)).astype(np.int64)
        wire = (tag & np.uint64(7)).astype(np.int64)

        w0 = np.nonzero(~e & (wire == 0))[0]
        if w0.size:
            # value varints are read for unknown fields too (the scalar
            # _skip walks them and can fail the same ways)
            v, p2, e2 = _vec_uvarint(buf, pos[a[w0]], ends[a[w0]])
            pos[a[w0[~e2]]] = p2[~e2]
            e[w0[e2]] = True
            for f in int_fields:
                sel = ~e2 & (field[w0] == f)
                ints[f][a[w0[sel]]] = v[sel]

        w2 = np.nonzero(~e & (wire == 2))[0]
        if w2.size:
            ln, p2, e2 = _vec_uvarint(buf, pos[a[w2]], ends[a[w2]])
            e[w2[e2]] = True
            ok2 = np.nonzero(~e2)[0]
            if ok2.size:
                lanes = w2[ok2]
                rows = a[lanes]
                lnc = np.minimum(ln[ok2], _LEN_CAP).astype(np.int64)
                st = p2[ok2]
                en = st + lnc
                pos[rows] = en  # may pass the frame end = frame done
                enc = np.minimum(en, ends[rows])  # clamped, slice-style
                spl = enc - st
                fl = field[lanes]
                for f in str_fields:
                    sel = fl == f
                    s_off[f][rows[sel]] = st[sel]
                    s_len[f][rows[sel]] = spl[sel]
                if str_fields:
                    sv = np.isin(fl, str_fields_arr)
                    if sv.any():
                        occ_chunks.append((rows[sv], st[sv], enc[sv]))
                if rep_field is not None:
                    sel = fl == rep_field
                    if sel.any():
                        rep_chunks.append((rows[sel], st[sel], enc[sel]))

        w15 = np.nonzero(~e & ((wire == 1) | (wire == 5)))[0]
        if w15.size:
            pos[a[w15]] += np.where(wire[w15] == 1, 8, 4)

        bad = ~e & ~np.isin(wire, (0, 1, 2, 5))
        e |= bad
        err[a[e]] = True
        cont = ~e & (pos[a] < ends[a])
        act = a[cont]
    return ints, s_off, s_len, occ_chunks, _occ_concat(rep_chunks), err


def _scan_naive_kv(buf, starts, ends):
    """Map-entry reader with the scalar reference's NAIVE frame walk
    (`_read_str_map`/`_read_properties` inner loops): read a tag
    varint, then ALWAYS a length varint, slice, advance — field number
    1 is the key, any other number the value; the wire type is ignored,
    exactly like the scalar code.  Returns last-wins key/value spans
    (len -1 = absent → default ''/empty map), ALL-occurrence span lists
    for both (validation / nested parse), and err."""
    n = starts.shape[0]
    pos = starts.astype(np.int64, copy=True)
    err = np.zeros(n, bool)
    k_off = np.zeros(n, np.int64)
    k_len = np.full(n, -1, np.int64)
    v_off = np.zeros(n, np.int64)
    v_len = np.full(n, -1, np.int64)
    k_chunks: list = []
    v_chunks: list = []
    act = np.nonzero(pos < ends)[0]
    while act.size:
        a = act
        tag, p1, e = _vec_uvarint(buf, pos[a], ends[a])
        ln, p2, e2 = _vec_uvarint(buf, p1, ends[a])
        e |= e2
        ok = np.nonzero(~e)[0]
        if ok.size:
            rows = a[ok]
            lnc = np.minimum(ln[ok], _LEN_CAP).astype(np.int64)
            st = p2[ok]
            en = st + lnc
            pos[rows] = en
            enc = np.minimum(en, ends[rows])
            spl = enc - st
            isk = (tag[ok] >> np.uint64(3)).astype(np.int64) == 1
            k_off[rows[isk]] = st[isk]
            k_len[rows[isk]] = spl[isk]
            v_off[rows[~isk]] = st[~isk]
            v_len[rows[~isk]] = spl[~isk]
            if isk.any():
                k_chunks.append((rows[isk], st[isk], enc[isk]))
            if (~isk).any():
                v_chunks.append((rows[~isk], st[~isk], enc[~isk]))
        err[a[e]] = True
        cont = np.zeros(a.size, bool)
        cont[ok] = pos[a[ok]] < ends[a[ok]]
        cont &= ~e
        act = a[cont]
    return (k_off, k_len, v_off, v_len,
            _occ_concat(k_chunks, sort=False), _occ_concat(v_chunks), err)


def _gather(buf, starts, lens):
    """Gather m variable-length slices into one contiguous uint8 array;
    returns (data, offsets[m+1]).  Negative lens (absent) gather 0
    bytes.  Pure fancy indexing — no per-slice Python."""
    lens = np.maximum(lens, 0)
    offs = np.zeros(lens.size + 1, np.int64)
    np.cumsum(lens, out=offs[1:])
    total = int(offs[-1])
    idx = np.repeat(starts - offs[:-1], lens) + _ramp(total)
    return buf[idx], offs


def _utf8_bad_slices(data, offs):
    """bool[m]: which slices delimited by ``offs`` are NOT valid UTF-8.
    Fast path: if the WHOLE gathered buffer decodes and every slice
    boundary lands on a character start, every slice is valid (a valid
    string split at character boundaries yields valid pieces) — one C
    decode for the common case.  Otherwise fall to per-slice checks."""
    m = offs.size - 1
    raw = data.tobytes()
    whole_ok = True
    try:
        raw.decode("utf-8")
    except UnicodeDecodeError:
        whole_ok = False
    if whole_ok:
        inner = offs[1:-1]
        inner = inner[inner < offs[-1]]
        if inner.size == 0 or not ((data[inner] & 0xC0) == 0x80).any():
            return np.zeros(m, bool)
    bad = np.zeros(m, bool)
    for i in range(m):
        try:
            raw[offs[i]:offs[i + 1]].decode("utf-8")
        except UnicodeDecodeError:
            bad[i] = True
    return bad


def _strings_from_spans(buf, starts, lens):
    """Spans → pyarrow large_utf8 array (one gather + one buffer
    build; the bytes must already be utf-8-validated).  Absent spans
    (len<0) come back as ''."""
    data, offs = _gather(buf, starts, lens)
    return pa.Array.from_buffers(
        pa.large_utf8(),
        offs.size - 1,
        [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(data.tobytes())],
    )


def _decode_pb_batch(payload: pd.Series) -> pd.DataFrame:
    """Vectorized equivalent of mapping :func:`decode_syslog_pb` over
    the batch (differentially fuzz-tested against it)."""
    arr = pa.array(payload, type=pa.binary())
    n = len(arr)
    if n == 0:
        return pd.DataFrame({c: [] for c in _PB_COLS}, columns=_PB_COLS)
    null_in = np.asarray(arr.is_null())
    bufs = arr.buffers()
    offs32 = np.frombuffer(bufs[1], np.int32, count=n + 1).astype(np.int64)
    total = int(offs32[-1])
    buf = (np.frombuffer(bufs[2], np.uint8, count=total)
           if bufs[2] is not None and total else np.empty(0, np.uint8))
    starts, ends = offs32[:-1], offs32[1:]

    # L0: the SyslogMessage frame itself
    ints, s_off, s_len, str_occ, p13, err = _scan_message(
        buf, starts, ends,
        int_fields=tuple(_INT_FIELDS), str_fields=tuple(_STR_FIELDS),
        rep_field=13,
    )
    p13_own, p13_st, p13_en = p13

    # Top-level string fields: the scalar reader utf-8-decodes EVERY
    # occurrence, but per-(row,field) duplicates are vanishingly rare —
    # detect them by count (sum of occurrences == count of present
    # fields iff nothing occurred twice) and only then pay a separate
    # all-occurrence validation gather; the winning spans are validated
    # inline on the buffers the output build gathers anyway.
    n_present = 0
    for f in _STR_FIELDS:
        n_present += int((s_len[f] >= 0).sum())
    n_occ = sum(c[0].size for c in str_occ)
    if n_occ != n_present:
        so, ss, se = _occ_concat(str_occ, sort=False)
        data, offs = _gather(buf, ss, se - ss)
        bad = _utf8_bad_slices(data, offs)
        if bad.any():
            err[so[bad]] = True

    str_arrs = {}
    for f in _STR_FIELDS:
        ln = np.where(err, -1, s_len[f])
        data, offs = _gather(buf, s_off[f], ln)
        bad = _utf8_bad_slices(data, offs)
        if bad.any():
            err[bad] = True
            ln = np.where(err, -1, s_len[f])
            data, offs = _gather(buf, s_off[f], ln)
        str_arrs[f] = pa.Array.from_buffers(
            pa.large_utf8(), n,
            [None, pa.py_buffer(offs.tobytes()),
             pa.py_buffer(data.tobytes())],
        )

    # properties: real corpora repeat the same properties payload
    # across many rows, and the nested parse + dict/json assembly is a
    # pure function of the payload BYTES — dedup the field-13
    # occurrences and run levels L1-L4 once per distinct payload.
    props_col = np.full(n, "{}", object)
    if p13_own.size:
        # occurrence payloads → distinct ids WITHOUT a row-count Python
        # loop or a whole-batch bytes copy (ADVICE r5): gather only the
        # field-13 spans, wrap them as an arrow binary array over the
        # gathered buffer, and let dictionary_encode (C++) assign
        # first-appearance-ordered unique ids.
        p_data, p_offs = _gather(buf, p13_st, p13_en - p13_st)
        occ_arr = pa.Array.from_buffers(
            pa.large_binary(), p13_own.size,
            [None, pa.py_buffer(p_offs.tobytes()),
             pa.py_buffer(p_data.tobytes())],
        )
        dct = occ_arr.dictionary_encode()
        occ_uid = np.asarray(dct.indices, dtype=np.int64)
        m = len(dct.dictionary)
        # first occurrence of each unique id → its span in the shared
        # buffer (dictionary ids are assigned in order of first
        # appearance, so min occurrence index per id is its span)
        first = np.full(m, np.iinfo(np.int64).max, np.int64)
        np.minimum.at(first, occ_uid, _ramp(p13_own.size))
        ust = p13_st[first]
        uen = p13_en[first]
        uerr = np.zeros(m, bool)

        # L1: Properties { repeated MapEntry map = 1; }
        _, _, _, _, pent, err1 = _scan_message(buf, ust, uen, (), (), 1)
        uerr |= err1
        pe_own, pe_st, pe_en = pent  # owner = unique payload id

        # L2: MapEntry { key = 1; InnerProperties value = 2; } — naive
        ek_off, ek_len, _, _, ek_occ, ev_occ, err2 = _scan_naive_kv(
            buf, pe_st, pe_en
        )
        uerr[pe_own[err2]] = True
        evo_own, evo_st, evo_en = ev_occ  # owner = prop-entry index

        # L3: InnerProperties { repeated KvEntry kv = 1; } over every
        # value occurrence (the scalar parses each, last wins)
        _, _, _, _, kvent, err3 = _scan_message(
            buf, evo_st, evo_en, (), (), 1
        )
        uerr[pe_own[evo_own[err3]]] = True
        kv_own, kv_st, kv_en = kvent  # owner = value-occurrence index

        # L4: KvEntry — naive; the scalar utf-8-decodes EVERY chunk
        k2_off, k2_len, v2_off, v2_len, k2_occ, v2_occ, err4 = (
            _scan_naive_kv(buf, kv_st, kv_en)
        )
        kv_to_u = pe_own[evo_own[kv_own]]
        uerr[kv_to_u[err4]] = True

        # utf-8 validation: entry keys (every occurrence) + every
        # KvEntry chunk — at unique-payload scale, so just validate all
        val_own = np.concatenate([
            pe_own[ek_occ[0]],
            kv_to_u[k2_occ[0]] if k2_occ[0].size else _EMPTY_I64,
            kv_to_u[v2_occ[0]] if v2_occ[0].size else _EMPTY_I64,
        ])
        if val_own.size:
            v_st = np.concatenate([ek_occ[1], k2_occ[1], v2_occ[1]])
            v_en = np.concatenate([ek_occ[2], k2_occ[2], v2_occ[2]])
            data, offs = _gather(buf, v_st, v_en - v_st)
            bad = _utf8_bad_slices(data, offs)
            if bad.any():
                uerr[val_own[bad]] = True

        # assembly per unique payload: spans → strings via arrow, then
        # per-ENTRY dict building + one json.dumps per distinct payload
        pe_ok = ~uerr[pe_own] if pe_own.size else np.empty(0, bool)
        kv_ok = ~uerr[kv_to_u] if kv_to_u.size else np.empty(0, bool)
        ekeys = _strings_from_spans(
            buf, ek_off, np.where(pe_ok, ek_len, -1)
        ).to_pylist()
        k2s = _strings_from_spans(
            buf, k2_off, np.where(kv_ok, k2_len, -1)
        ).to_pylist()
        v2s = _strings_from_spans(
            buf, v2_off, np.where(kv_ok, v2_len, -1)
        ).to_pylist()
        n_evo = evo_own.size
        kv_gs = np.searchsorted(kv_own, _ramp(n_evo))
        kv_ge = np.searchsorted(kv_own, _ramp(n_evo), side="right")
        inner_maps = [
            dict(zip(k2s[s:e], v2s[s:e])) for s, e in zip(kv_gs, kv_ge)
        ]
        n_pe = pe_own.size
        last_v = np.full(n_pe, -1, np.int64)
        if n_evo:
            is_last = np.ones(n_evo, bool)
            is_last[:-1] = evo_own[:-1] != evo_own[1:]
            li = np.flatnonzero(is_last)
            last_v[evo_own[li]] = li
        entry_inner = [inner_maps[j] if j >= 0 else {} for j in last_v]
        pe_gs = np.searchsorted(pe_own, _ramp(m))
        pe_ge = np.searchsorted(pe_own, _ramp(m), side="right")
        dumps = json.dumps
        uprops = np.full(m, None, object)
        for u in range(m):
            if uerr[u]:
                continue
            props = {
                ekeys[i]: entry_inner[i]
                for i in range(pe_gs[u], pe_ge[u])
            }
            uprops[u] = dumps(
                {k: dict(sorted(v.items()))
                 for k, v in sorted(props.items())},
                separators=(",", ":"),
            )

        # map back to records: ANY errored occurrence errors the record
        # (the scalar parses each in turn); the LAST occurrence wins
        err[p13_own[uerr[occ_uid]]] = True
        is_last13 = np.ones(p13_own.size, bool)
        is_last13[:-1] = p13_own[:-1] != p13_own[1:]
        li = np.flatnonzero(is_last13)
        props_col[p13_own[li]] = uprops[occ_uid[li]]

    ok = ~(null_in | err)
    all_ok = bool(ok.all())

    cols: dict = {}
    for f, name in _INT_FIELDS.items():
        if all_ok:
            # int64 VIEW (free reinterpret) so the Arrow serializer sees
            # the same two's-complement values the scalar path's Python
            # ints produce: a crafted 10-byte varint >= 2^63 wraps to
            # the identical negative int64 on both paths instead of
            # diverging (uint64 unsafe-cast wrap vs object-column raise
            # — ADVICE r5).  Fields 1-4 then truncate int64 → int32 in
            # the declared IntegerType, same as the scalar path.
            cols[name] = ints[f].view(np.int64)
        else:
            # same int64 wrap before the object fallback (parity with
            # the scalar reference and the all_ok branch above)
            obj = ints[f].view(np.int64).astype(object)
            obj[~ok] = None
            cols[name] = obj
    for f, name in _STR_FIELDS.items():
        s = str_arrs[f].to_pandas()
        if not all_ok:
            s[~ok] = None
        cols[name] = s
    if not all_ok:
        props_col[~ok] = None
    cols["properties_json"] = props_col
    return pd.DataFrame(cols, columns=_PB_COLS)


@F.pandas_udf(PB_SYSLOG_SCHEMA)
def _decode_pb_udf(payload: pd.Series) -> pd.DataFrame:
    return _decode_pb_batch(payload)


def parse_protobuf(col: Column | str = "payload") -> Column:
    """Decode a binary protobuf SyslogMessage column into a struct
    (one message per frame, as ``decoders/protobuf.go``) with the
    Arrow-batched wire reader."""
    return _decode_pb_udf(F.col(col) if isinstance(col, str) else col)
