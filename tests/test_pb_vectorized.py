"""Differential tests: the numpy lockstep protobuf batch reader
(`_decode_pb_batch`) against the scalar reference reader
(`decode_syslog_pb`) — every record of every corpus must agree exactly,
including WHICH records come back null (reference semantics:
``decoders/protobuf.go:8-16`` → DecodingError ⇒ null struct).

No Spark session needed — the batch path is pure pandas/numpy/arrow, so
this file runs in seconds and can afford a large adversarial corpus.
The through-Spark UDF path is exercised by
tests/test_wire_codecs.py::test_protobuf_roundtrip (same batch code).
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
import pytest

from skewer_spark.operators.decode_protobuf import (
    _PB_COLS,
    _decode_pb_batch,
    decode_syslog_pb,
)


def _pb_varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _pb_field(num: int, wire: int, payload: bytes | int) -> bytes:
    tag = _pb_varint((num << 3) | wire)
    if wire == 0:
        return tag + _pb_varint(payload)
    return tag + _pb_varint(len(payload)) + payload


def _pb_str(num: int, s: str) -> bytes:
    return _pb_field(num, 2, s.encode("utf-8"))


def _tag(num: int, wire: int) -> bytes:
    return _pb_varint((num << 3) | wire)


def _inner(d: dict) -> bytes:
    return b"".join(
        _pb_field(1, 2, _pb_str(1, k) + _pb_str(2, v)) for k, v in d.items()
    )


def _props(d: dict) -> bytes:
    return b"".join(
        _pb_field(1, 2, _pb_str(1, k) + _pb_field(2, 2, _inner(v)))
        for k, v in d.items()
    )


def _msg(i: int, rng: random.Random) -> bytes:
    b = b""
    b += _pb_field(1, 0, rng.randrange(0, 200))
    b += _pb_field(2, 0, rng.randrange(0, 24))
    b += _pb_field(3, 0, rng.randrange(0, 8))
    b += _pb_field(4, 0, 1)
    b += _pb_field(5, 0, rng.randrange(0, 2**62))
    b += _pb_field(6, 0, rng.randrange(0, 2**62))
    b += _pb_str(7, f"host-{i}")
    b += _pb_str(8, "äpp✓" if i % 3 == 0 else "app")
    b += _pb_str(9, str(i))
    b += _pb_str(10, "")
    b += _pb_str(11, '[x y="1"]')
    b += _pb_str(12, "msg " + "é" * (i % 5))
    if i % 4 != 3:
        b += _pb_field(13, 2, _props({"meta": {"k": "v", "ü": "ß"}, "b": {}}))
    if i % 7 == 0:  # unknown fields of every wire type the skip allows
        b += _pb_field(99, 0, 12345)
        b += _pb_field(98, 2, b"\xff\xfe")
        b += _tag(97, 1) + b"\x00" * 8
        b += _tag(96, 5) + b"\x00" * 4
    if i % 11 == 0:  # duplicate fields: every occurrence parsed, last wins
        b += _pb_str(7, f"dup-host-{i}")
        b += _pb_field(13, 2, _props({"late": {"a": "b"}}))
    return b


def _adversarial_corpus() -> list:
    rng = random.Random(42)
    cases: list = [_msg(i, rng) for i in range(300)]
    base = _msg(1, rng)
    # every truncation point of a full message (mid-varint, mid-string,
    # mid-properties, …)
    cases += [base[:k] for k in range(len(base))]
    # pure garbage
    cases += [
        bytes(rng.randrange(256) for _ in range(rng.randrange(0, 60)))
        for _ in range(500)
    ]
    # invalid UTF-8: top-level field / props key / inner value
    cases += [_pb_str(7, "ok") + _pb_field(8, 2, b"\xff\xff")]
    cases += [_pb_field(13, 2, _pb_field(
        1, 2, _pb_field(1, 2, b"\xc3") + _pb_field(2, 2, _inner({"a": "b"}))
    ))]
    cases += [_pb_field(13, 2, _pb_field(1, 2, _pb_str(1, "k") + _pb_field(
        2, 2, _pb_field(1, 2, _pb_str(1, "x") + _pb_field(2, 2, b"\x80"))
    )))]
    # duplicate occurrences where only ONE is malformed: the scalar
    # reader decodes each in turn, so early-bad = record error even
    # though a later occurrence would win
    cases += [_pb_field(8, 2, b"\xff") + _pb_str(8, "later")]
    cases += [_pb_str(8, "early") + _pb_field(8, 2, b"\xff")]
    cases += [_pb_field(13, 2, _tag(1, 3))
              + _pb_field(13, 2, _props({"g": {"x": "y"}}))]
    cases += [_pb_field(13, 2, _props({"g": {"x": "y"}}))
              + _pb_field(13, 2, _tag(1, 3))]
    # unsupported wire types, varint overflow, huge declared length
    cases += [_tag(5, 3) + b"abc", _tag(5, 4), _tag(1, 0) + b"\x80" * 11]
    cases += [_tag(12, 2) + b"\xff" * 9 + b"\x01" + b"xy"]
    # wire-1/5 skips incl. silent overrun (Python slice semantics)
    cases += [_tag(20, 1) + b"\x01" * 8 + _pb_str(7, "h")]
    cases += [_tag(20, 5) + b"\x01\x02", _tag(20, 1) + b"\x01" * 3]
    # naive map-entry walk: an int field inside an entry is misread as
    # a length by the scalar reader — the batch path must mimic that
    cases += [_pb_field(13, 2, _pb_field(1, 2, _tag(1, 0) + b"\x05hello"))]
    cases += [None, b""]
    return cases


def _assert_rows_match(cases: list, got: pd.DataFrame) -> None:
    assert len(got) == len(cases)
    for i, b in enumerate(cases):
        ref = decode_syslog_pb(b) if b is not None else None
        row = got.iloc[i]
        if ref is None:
            for c in _PB_COLS:
                v = row[c]
                assert v is None or (isinstance(v, float) and np.isnan(v)), (
                    i, c, v)
            continue
        for c in _PB_COLS:
            g = row[c]
            if isinstance(g, np.integer):
                g = int(g)
            assert g == ref[c], (i, c, g, ref[c])


def test_batch_reader_matches_scalar_on_adversarial_corpus():
    cases = _adversarial_corpus()
    got = _decode_pb_batch(pd.Series(cases, dtype=object))
    _assert_rows_match(cases, got)


def test_batch_reader_random_fuzz_parity():
    # longer random-garbage run with a different seed: most records are
    # malformed, but the occasional accidental parse must also agree
    rng = random.Random(2026)
    cases = [
        bytes(rng.randrange(256) for _ in range(rng.randrange(0, 120)))
        for _ in range(3000)
    ]
    got = _decode_pb_batch(pd.Series(cases, dtype=object))
    _assert_rows_match(cases, got)


def test_batch_reader_valid_only_fast_path():
    # all-valid batch exercises the all_ok fast path (numeric columns
    # stay numpy, no object fallback)
    rng = random.Random(7)
    # every _msg() output is a well-formed record (the adversarial
    # variants live only in _adversarial_corpus), so the whole batch
    # takes the all_ok fast path
    cases = [_msg(i, rng) for i in range(500)]
    got = _decode_pb_batch(pd.Series(cases, dtype=object))
    _assert_rows_match(cases, got)
    assert got["priority"].notna().all()


def test_batch_reader_empty_and_all_null():
    got = _decode_pb_batch(pd.Series([], dtype=object))
    assert list(got.columns) == _PB_COLS and len(got) == 0
    got = _decode_pb_batch(pd.Series([None, None], dtype=object))
    assert len(got) == 2
    assert got["message"].isna().all()


def test_batch_reader_shared_props_dedup_consistency():
    # the batch path dedups identical field-13 payloads; records
    # sharing a payload must get byte-identical properties_json
    p = _props({"z": {"b": "2", "a": "1"}, "m": {"k": "v"}})
    cases = [
        _pb_str(7, f"h{i}") + _pb_field(13, 2, p) for i in range(50)
    ]
    got = _decode_pb_batch(pd.Series(cases, dtype=object))
    vals = set(got["properties_json"])
    assert len(vals) == 1
    ref = decode_syslog_pb(cases[0])
    assert vals.pop() == ref["properties_json"]
    # keys come back sorted at both nesting levels (json.dumps parity)
    assert '"a":"1"' in ref["properties_json"]
    assert ref["properties_json"].index('"m"') < ref[
        "properties_json"].index('"z"')


@pytest.mark.parametrize("payload", [
    # 10-byte varint landing exactly on the 64-bit boundary: uint64
    # wrap in the vectorized shift must equal the scalar's & mask
    _tag(5, 0) + b"\xff" * 9 + b"\x01",
    _tag(5, 0) + b"\x80" * 9 + b"\x01",
])
def test_batch_reader_varint_boundary(payload):
    got = _decode_pb_batch(pd.Series([payload], dtype=object))
    _assert_rows_match([payload], got)


# ---------------------------------------------------------------------------
# property-based fuzz (hypothesis): for ANY batch of byte strings the
# vectorized reader and the scalar reference agree record-for-record
# ---------------------------------------------------------------------------
try:
    from hypothesis import given, settings, strategies as st

    _field_blob = st.one_of(
        # well-formed fragments: tagged varints / strings / properties
        st.builds(lambda n, v: _pb_field(n, 0, v),
                  st.integers(1, 15), st.integers(0, 2**63)),
        st.builds(lambda n, s: _pb_str(n, s),
                  st.integers(1, 15), st.text(max_size=12)),
        st.builds(lambda k, v: _pb_field(13, 2, _props({k: {k: v}})),
                  st.text(max_size=6), st.text(max_size=6)),
        # raw garbage spliced between fragments
        st.binary(max_size=20),
    )
    _payload = st.one_of(
        st.none(),
        st.builds(lambda parts: b"".join(parts),
                  st.lists(_field_blob, max_size=6)),
    )

    @settings(max_examples=120, deadline=None)
    @given(st.lists(_payload, max_size=24))
    def test_batch_reader_hypothesis_parity(cases):
        got = _decode_pb_batch(pd.Series(cases, dtype=object))
        _assert_rows_match(cases, got)

except ImportError:  # pragma: no cover - hypothesis ships in this env
    pass
