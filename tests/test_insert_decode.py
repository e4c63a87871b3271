"""Differential tests: the columnar INSERT decoder (``chnative.decode_arrow``,
``decode_column(..., arrow=True)``) gives exactly the values of the list
decoder (``decode_column``, which the native client keeps), as the Spark
type each wire column is ingested as (``chnative.ingest_type``): UInt64 as
decimal(20,0), DateTime as UTC instants.  No JVM is needed.
"""

from __future__ import annotations

import io
import math
import struct
from datetime import date, timedelta, timezone
from decimal import Decimal

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql.pandas.types import to_arrow_type

from tensorbase_spark.sources import chnative
from tensorbase_spark.sources.chnative import (
    Block,
    Reader,
    decode_column,
    encode_column,
    ingest_type,
    write_str,
    write_varbytes,
)


def _decimals(p: int, s: int):
    hi = 10 ** p - 1
    return (st.sampled_from([hi, -hi, 0, 1, -1]) | st.integers(-hi, hi)).map(
        lambda u: Decimal(u).scaleb(-s))


_TEXT = st.text(st.sampled_from(list("ab\t\n\0\\\"',é中 x"))
                | st.characters(blacklist_categories=("Cs",)), max_size=10)
# String values go on the wire as bytes: any bytes, invalid UTF-8 included
_BYTES = _TEXT.map(lambda s: s.encode()) | st.binary(max_size=8) | st.sampled_from(
    [b"\xff", b"a\xc3", b"\xed\xa0\x80", b"\x80abc", b""])

# (wire type, strategy for the values the list encoder takes)
_SCALARS = [
    ("Int8", st.integers(-128, 127)),
    ("Int16", st.integers(-(2 ** 15), 2 ** 15 - 1)),
    ("Int32", st.integers(-(2 ** 31), 2 ** 31 - 1)),
    ("Int64", st.integers(-(2 ** 63), 2 ** 63 - 1)),
    ("UInt8", st.integers(0, 255)),
    ("UInt16", st.integers(0, 2 ** 16 - 1)),
    ("UInt32", st.integers(0, 2 ** 32 - 1)),
    ("UInt64", st.sampled_from([0, 2 ** 63 - 1, 2 ** 63, 2 ** 64 - 1])
     | st.integers(0, 2 ** 64 - 1)),
    ("Float32", st.sampled_from([math.nan, math.inf, -math.inf, -0.0])
     | st.floats(width=32)),
    ("Float64", st.sampled_from([math.nan, math.inf, -math.inf, -0.0, 1e-300])
     | st.floats()),
    ("String", _BYTES),
    ("FixedString(1)", st.binary(max_size=1)),
    ("FixedString(5)", st.binary(max_size=5) | st.sampled_from(
        [b"ab\0", b"\0ab", b"a\0b\0\0", b"\0\0\0\0\0", b"\xff\xfe"])),
    ("Date", st.sampled_from([0, 65535]) | st.integers(0, 65535)),
    ("DateTime", st.sampled_from([0, 2 ** 32 - 1]) | st.integers(0, 2 ** 32 - 1)),
    ("DateTime('Europe/Berlin')", st.integers(0, 2 ** 32 - 1)),
    ("Decimal(9,0)", _decimals(9, 0)),
    ("Decimal(9,2)", _decimals(9, 2)),
    ("Decimal(9,9)", _decimals(9, 9)),
    ("Decimal(18,4)", _decimals(18, 4)),
    ("Decimal(18,18)", _decimals(18, 18)),
    ("UUID", st.uuids().map(str)),
]


def _wire_values(t: str, vals: list) -> list:
    """Values as the list encoder takes them (Date as a date)."""
    if t == "Date":
        return [None if v is None else date(1970, 1, 1) + timedelta(days=v) for v in vals]
    return vals


@st.composite
def _column(draw):
    """(wire type, values for the list encoder): a scalar, Nullable, or an
    Array (of Nullable elements, or nested) column."""
    t, values = draw(st.sampled_from(_SCALARS))
    shape = draw(st.sampled_from(["plain", "nullable", "array", "array_nullable",
                                  "array_array"]))
    n = draw(st.integers(0, 9))
    if shape == "plain":
        return t, _wire_values(t, draw(st.lists(values, min_size=n, max_size=n)))
    if shape == "nullable":
        return f"Nullable({t})", _wire_values(
            t, draw(st.lists(st.none() | values, min_size=n, max_size=n)))
    inner = values if shape != "array_nullable" else st.none() | values
    elems = st.lists(inner, max_size=4).map(lambda v: _wire_values(t, v))
    if shape == "array_array":
        return f"Array(Array({t}))", draw(
            st.lists(st.lists(elems, max_size=3), min_size=n, max_size=n))
    inner_t = f"Nullable({t})" if shape == "array_nullable" else t
    return f"Array({inner_t})", draw(st.lists(elems, min_size=n, max_size=n))


def _ingested(t: str, v):
    """A list-decoded value as the value of its ingest type."""
    base, _ = chnative._strip_nullable(t)
    if v is None:
        return None
    if base.startswith("Array("):
        return [_ingested(base[6:-1], x) for x in v]
    if base == "UInt64":
        return Decimal(v)
    if base.startswith("DateTime"):
        return v.replace(tzinfo=timezone.utc)
    return v


def _same(a, b) -> bool:
    """Equal values; floats bit for bit up to the NaN payload."""
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return struct.pack("<d", a) == struct.pack("<d", b)
    return type(a) is type(b) and a == b


def _decode_both(body: bytes, nrows: int, from_file: bool):
    listed = decode_column(Reader(body), nrows)
    src = io.BytesIO(body) if from_file else body
    return listed, decode_column(Reader(src), nrows, arrow=True)


@given(_column(), st.booleans())
@settings(max_examples=600, deadline=None)
def test_arrow_decode_matches_list_decode(col, from_file):
    """Every wire type, with NULLs, empty blocks, arrays with NULL
    elements, invalid UTF-8, FixedString NUL padding, UInt64 >= 2^63 and
    the Date/DateTime/Decimal limits; from a buffer and from a stream."""
    t, vals = col
    out = bytearray()
    encode_column(out, "c", t, vals)
    (name, lt, lvals), (aname, at, arr) = _decode_both(bytes(out), len(vals), from_file)
    assert (aname, at) == (name, lt) == ("c", t)
    assert len(arr) == len(vals)
    assert arr.type == to_arrow_type(ingest_type(t))
    want = [_ingested(t, v) for v in lvals]
    got = arr.to_pylist()
    assert _same(got, want), (t, got, want)


@given(st.lists(st.binary(max_size=300), max_size=40), st.data())
@settings(max_examples=300, deadline=None)
def test_streamed_reader_reads_strings_across_pieces(values, data):
    """A buffer reader fed piece by piece (a streamed HTTP Native body)
    reads a String column whose varints and values are cut anywhere by the
    piece boundaries to the same array as one whole buffer does, and an
    underrun at the stream's end raises EOFError."""
    out = bytearray()
    for v in values:
        write_varbytes(out, v)
    body = bytes(out) + b"tail"
    cuts = sorted(data.draw(st.lists(st.integers(0, len(body)), max_size=8)))
    pieces = [body[a:b] for a, b in zip([0] + cuts, cuts + [len(body)])]
    it = iter([p for p in pieces[1:] if p])  # b"" only ends the stream
    r = Reader(pieces[0], more=lambda: next(it, b""))
    assert r.read_strings(len(values)).to_pylist() == values
    assert r.read(4) == b"tail" and r.at_end()
    assert r.peak_buffered <= len(body)
    if values:
        with pytest.raises(EOFError):
            Reader(bytes(out)[:-1], more=lambda: b"").read_strings(len(values))


def _low_cardinality(dictionary: list[str], keys: list[int], key_size: int) -> bytes:
    out = bytearray()
    write_str(out, "lc")
    write_str(out, "LowCardinality(String)")
    out += struct.pack("<QQQ", 1, 0x0200 | [1, 2, 4, 8].index(key_size), len(dictionary))
    for v in dictionary:
        write_varbytes(out, v.encode())
    out += struct.pack("<Q", len(keys))
    out += struct.pack(f"<{len(keys)}{'BHIQ'[[1, 2, 4, 8].index(key_size)]}", *keys)
    return bytes(out)


@given(st.lists(_TEXT, min_size=1, max_size=5), st.data(),
       st.sampled_from([1, 2, 4, 8]), st.booleans())
@settings(max_examples=200, deadline=None)
def test_low_cardinality_arrow_decode(dictionary, data, key_size, from_file):
    keys = data.draw(st.lists(st.integers(0, len(dictionary) - 1), max_size=9))
    body = _low_cardinality(dictionary, keys, key_size)
    (_n, lt, lvals), (_a, at, arr) = _decode_both(body, len(keys), from_file)
    assert lt == at == "String"
    assert arr.type == to_arrow_type(ingest_type(at))
    assert arr.to_pylist() == lvals == [dictionary[k] for k in keys]


def test_block_decodes_every_column_to_arrow():
    """A whole data block: the Arrow and list decodes of each column agree
    and the block keeps its row count."""
    cols = [
        ("i", "Int32", [1, -2, 3]),
        ("u", "Nullable(UInt64)", [2 ** 64 - 1, None, 2 ** 63]),
        ("s", "String", ["a", "", "é"]),
        ("t", "DateTime", [0, 2 ** 32 - 1, 1_600_000_000]),
        ("a", "Array(Nullable(String))", [["x", None], [], [None]]),
    ]
    body = Block(cols, bucket=0).encode_body()
    listed = Block.decode_body(Reader(body))
    arrow = Block.decode_body(Reader(body), arrow=True)
    assert arrow.nrows == listed.nrows == 3
    for (n, t, lv), (an, at, arr) in zip(listed.columns, arrow.columns):
        assert (an, at) == (n, t)
        assert _same(arr.to_pylist(), [_ingested(t, v) for v in lv])


def _header(t: str) -> bytes:
    out = bytearray()
    write_str(out, "c")
    write_str(out, t)
    return bytes(out)


@pytest.mark.parametrize("body, error", [
    # a string longer than the data left
    (_header("String") + b"\x05ab", EOFError),
    # Array offsets that go backwards
    (_header("Array(Int8)") + struct.pack("<QQ", 2, 1) + b"\x01\x02", ValueError),
    (_header("Nothing(42)"), ValueError),
    (_header("Decimal(20,2)") + b"\0" * 32, ValueError),
])
def test_arrow_decode_rejects_malformed_columns(body, error):
    with pytest.raises(error):
        decode_column(Reader(body), 2, arrow=True)
