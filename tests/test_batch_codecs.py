"""Differential tests: the column-at-a-time result encoders over Arrow
batches (``sources/batches.py`` and its users in ``chnative``,
``httpwire`` and ``mysqlwire``) are byte-identical to the row encoders
they replaced, run over the Python values a Spark ``collect()`` returns
for the same data.  The Arrow side is built the way Spark converts
Python data (``LocalDataToArrowConversion``), so no JVM is needed.
"""

from __future__ import annotations

import datetime as dt
import io
import math
import os
import subprocess
import sys
from decimal import Decimal

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import types as T
from pyspark.sql.conversion import LocalDataToArrowConversion

from tensorbase_spark.sources import batches, chnative, httpwire, mysqlwire

# ---------------------------------------------------------------------------
# strategies: (Spark type, Python values as collect() returns them)
# ---------------------------------------------------------------------------

_SPECIAL_FLOATS = [math.nan, math.inf, -math.inf, -0.0, 0.0, 1e-07, 2.5e-05,
                   1e16, 9999999999999998.0, 1e-4, 123.0, 0.1, 1 / 3]


def _floats(width: int):
    return st.one_of(st.sampled_from(_SPECIAL_FLOATS),
                     st.floats(width=width, allow_nan=True))


def _decimals(p: int, s: int):
    hi = 10 ** p - 1
    return st.integers(-hi, hi).map(lambda u: Decimal(u).scaleb(-s))


def _wall_times(lo: dt.datetime, hi: dt.datetime):
    return st.datetimes(min_value=lo, max_value=hi)


# Spark strings are valid UTF-8: no lone surrogates
_TEXT = st.text(st.sampled_from(list("ab\t\n\r\0\b\f\\\"',é中 x"))
                | st.characters(blacklist_categories=("Cs",)),
                max_size=12)

# (Spark type, strategy for the values collect() returns)
_COLUMNS = [
    (T.ByteType(), st.integers(-128, 127)),
    (T.ShortType(), st.integers(-(2 ** 15), 2 ** 15 - 1)),
    (T.IntegerType(), st.integers(-(2 ** 31), 2 ** 31 - 1)),
    (T.LongType(), st.integers(-(2 ** 63), 2 ** 63 - 1)),
    (T.BooleanType(), st.booleans()),
    (T.FloatType(), _floats(32)),
    (T.DoubleType(), _floats(64)),
    (T.DecimalType(18, 4), _decimals(18, 4)),
    (T.DecimalType(9, 2), _decimals(9, 2)),
    (T.DecimalType(18, 8), _decimals(18, 8)),
    (T.DecimalType(20, 0), st.integers(0, 2 ** 64 - 1).map(Decimal)),
    (T.StringType(), _TEXT),
    (T.DateType(), st.dates(dt.date(1970, 1, 1), dt.date(2149, 6, 6))),
    (T.DateType(), st.dates()),
    (T.TimestampType(), _wall_times(dt.datetime(1970, 1, 2),
                                    dt.datetime(2106, 2, 6))),
    (T.TimestampType(), _wall_times(dt.datetime(1, 1, 2),
                                    dt.datetime(9999, 12, 30))),
    (T.TimestampNTZType(), _wall_times(dt.datetime(1970, 1, 2),
                                       dt.datetime(2106, 2, 6))),
    (T.ArrayType(T.LongType()), st.lists(st.integers(-5, 5), max_size=3)),
    (T.ArrayType(T.StringType()), st.lists(_TEXT, max_size=3)),
    (T.ArrayType(T.DoubleType()), st.lists(_floats(64), max_size=3)),
    (T.ArrayType(T.StringType()), st.lists(st.none() | _TEXT, max_size=3)),
    (T.MapType(T.StringType(), T.LongType()),
     st.dictionaries(_TEXT, st.integers(-9, 9), max_size=2)),
    (T.StructType([T.StructField("x", T.LongType()),
                   T.StructField("y", T.StringType())]),
     st.tuples(st.integers(-9, 9), _TEXT)),
    (T.BinaryType(), st.binary(max_size=6)),
]


@st.composite
def _column(draw):
    dtype, values = draw(st.sampled_from(_COLUMNS))
    nullable = draw(st.booleans())
    vals = draw(st.lists(st.none() | values if nullable else values,
                         max_size=12))
    return dtype, nullable, vals


def _batch(dtype, nullable: bool, vals: list):
    """(Arrow batch of the column beside an id column, collect()-style
    rows of both)."""
    schema = T.StructType([T.StructField("id", T.LongType(), False),
                           T.StructField("c", dtype, nullable)])
    rows = [(i, v) for i, v in enumerate(vals)]
    if rows:
        batch = LocalDataToArrowConversion.convert(rows, schema, False) \
            .combine_chunks().to_batches()[0]
    else:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        batch = pa.RecordBatch.from_pylist(
            [], schema=to_arrow_schema(schema, timestamp_utc=True))
    # what collect() hands back: the conversion's own Row values
    collected = list(zip(*[batches.py_values(c, f.dataType)
                           for c, f in zip(batch.columns, schema.fields)]))
    if not rows:
        collected = []
    return schema, batch, collected


def _outcome(fn):
    try:
        return fn()
    except Exception:
        return "raised"


# ---------------------------------------------------------------------------
# native blocks
# ---------------------------------------------------------------------------


def _wire_value(base: str, v):
    """How rows were normalized for the native codec before the Arrow
    path: bools as ints, UInt64 decimals as ints, local-naive instants
    given their zone, element-wise into arrays."""
    if v is None:
        return None
    if base == "UInt8" and isinstance(v, bool):
        return int(v)
    if base == "UInt64" and isinstance(v, Decimal):
        iv = int(v)
        if not 0 <= iv < (1 << 64):
            raise ValueError("outside UInt64 range")
        return iv
    if base.startswith("DateTime") and isinstance(v, dt.datetime):
        return v.astimezone()
    if base.startswith("Array("):
        inner = chnative._strip_nullable(base[6:-1])[0]
        return [_wire_value(inner, x) for x in v]
    return v


@given(_column())
@settings(max_examples=400, deadline=None)
def test_native_columns_match_row_encoder(col):
    dtype, nullable, vals = col
    schema, batch, rows = _batch(dtype, nullable, vals)
    try:
        ch = chnative.spark_field_to_ch(schema.fields[1])
    except ValueError:
        return  # no native-wire mapping: the door refuses the column
    base = chnative._strip_nullable(ch)[0]

    def by_rows():
        out = bytearray()
        chnative._encode_values(out, ch, [_wire_value(base, r[1]) for r in rows])
        return bytes(out)

    def by_arrow():
        out = bytearray()
        chnative._encode_values(out, ch, batch.column(1))
        return bytes(out)

    assert _outcome(by_arrow) == _outcome(by_rows)
    if rows and _outcome(by_rows) != "raised":
        # sliced blocks encode like the rows they hold
        mid = len(rows) // 2
        out = bytearray()
        chnative._encode_values(out, ch, batch.column(1).slice(mid))
        ref = bytearray()
        chnative._encode_values(
            ref, ch, [_wire_value(base, r[1]) for r in rows[mid:]])
        assert bytes(out) == bytes(ref)


# ---------------------------------------------------------------------------
# HTTP TSV / CSV families
# ---------------------------------------------------------------------------


@given(_column(), st.sampled_from(["TabSeparated", "TabSeparatedRaw", "CSV"]))
@settings(max_examples=400, deadline=None)
def test_http_text_lines_match_row_encoder(col, fmt):
    dtype, nullable, vals = col
    schema, batch, rows = _batch(dtype, nullable, vals)
    names = ["id", "c"]
    ch_types = [httpwire._ch_type_or_string(f) for f in schema.fields]
    want = b"".join(httpwire.encode_rows(fmt, names, ch_types, rows))
    got = b"".join(httpwire.encode_batches(
        fmt, names, ch_types, schema.fields, [batch]))
    assert got == want


def test_http_formats_over_batches_match_rows():
    """Every FORMAT answers the same bytes from batches as from rows,
    across two batches and an empty result."""
    vals = [dt.datetime(2020, 1, 2, 3, 4, 5, 600), None, dt.datetime(1999, 12, 31)]
    schema, batch, rows = _batch(T.TimestampType(), True, vals)
    names = ["id", "c"]
    ch_types = [httpwire._ch_type_or_string(f) for f in schema.fields]
    for fmt in sorted(set(httpwire._CANON_FMT.values())):
        if fmt in ("Arrow", "Parquet", "Native"):
            continue  # container metadata / block framing: checked below
        want = b"".join(httpwire.encode_rows(fmt, names, ch_types, rows + rows))
        got = b"".join(httpwire.encode_batches(
            fmt, names, ch_types, schema.fields, [batch, batch]))
        assert got == want, fmt
        empty = b"".join(httpwire.encode_batches(
            fmt, names, ch_types, schema.fields, []))
        assert empty == b"".join(httpwire.encode_rows(fmt, names, ch_types, []))
    native = b"".join(httpwire.encode_batches(
        "Native", names, ch_types, schema.fields, [batch]))
    assert native == b"".join(httpwire.encode_rows("Native", names, ch_types, rows))
    assert httpwire.decode_native(native)[2] == [
        (i, None if v is None else v.replace(microsecond=0))
        for i, v in enumerate(vals)]


# ---------------------------------------------------------------------------
# MySQL text and binary resultset rows
# ---------------------------------------------------------------------------


def _mysql_rows_by_value(cols, rows, binary: bool) -> list[bytes]:
    out_rows = []
    bitmap_len = (len(cols) + 7 + 2) // 8
    for row in rows:
        out = bytearray()
        if binary:
            out.append(0x00)
            bitmap = bytearray(bitmap_len)
            body = bytearray()
            for i, v in enumerate(row):
                if v is None:
                    bitmap[(i + 2) // 8] |= 1 << ((i + 2) % 8)
                else:
                    mysqlwire.encode_bin_value(body, v, cols[i][2])
            out += bitmap + body
        else:
            for v in row:
                mysqlwire.encode_text_value(out, v)
        out_rows.append(bytes(out))
    return out_rows


@given(_column(), st.booleans(), st.integers(0, 255))
@settings(max_examples=400, deadline=None)
def test_mysql_rows_match_row_encoder(col, binary, seq):
    dtype, nullable, vals = col
    schema, batch, rows = _batch(dtype, nullable, vals)
    cols = [("", f.name) + mysqlwire.spark_type_to_mysql(f.dataType)
            for f in schema.fields]

    def by_rows():
        pio = mysqlwire.PacketIO(None, io.BytesIO())
        pio.seq = seq
        for payload in _mysql_rows_by_value(cols, rows, binary):
            pio.send(payload)
        return pio.wfile.getvalue(), pio.seq

    def by_batch():
        pio = mysqlwire.PacketIO(None, io.BytesIO())
        pio.seq = seq
        pio.send_rows(mysqlwire.batch_row_payloads(
            batch, schema.fields, [c[2] for c in cols], binary))
        return pio.wfile.getvalue(), pio.seq

    assert _outcome(by_batch) == _outcome(by_rows)


def test_mysql_long_cells_use_wide_lenenc():
    """Cells of 251+ and 65536+ bytes take the 0xFC / 0xFD prefixes."""
    vals = ["x" * 250, "y" * 251, "z" * 70000, None]
    schema, batch, rows = _batch(T.StringType(), True, vals)
    cols = [("", f.name) + mysqlwire.spark_type_to_mysql(f.dataType)
            for f in schema.fields]
    for binary in (False, True):
        got = mysqlwire.batch_row_payloads(
            batch, schema.fields, [c[2] for c in cols], binary).to_pylist()
        assert got == _mysql_rows_by_value(cols, rows, binary)


# ---------------------------------------------------------------------------
# a zone with DST: the wall clocks of the text and binary paths
# ---------------------------------------------------------------------------

_DST_CHECK = r"""
import datetime as dt, io
from pyspark.sql import types as T
from tests.test_batch_codecs import _batch, _mysql_rows_by_value
from tensorbase_spark.sources import batches, httpwire, mysqlwire
assert batches._local_zone() == "America/New_York"
base = dt.datetime(2021, 3, 14, 0, 30)
vals = [base + dt.timedelta(minutes=29 * k, microseconds=k % 2) for k in range(40)]
vals += [dt.datetime(2021, 11, 7, 1, 30), dt.datetime(1950, 6, 1, 12), None]
schema, batch, rows = _batch(T.TimestampType(), True, vals)
names, types = ["id", "c"], ["Int64", "Nullable(DateTime)"]
for fmt in ("TabSeparated", "CSV"):
    want = b"".join(httpwire.encode_rows(fmt, names, types, rows))
    got = b"".join(httpwire.encode_batches(fmt, names, types, schema.fields, [batch]))
    assert got == want, fmt
cols = [("", f.name) + mysqlwire.spark_type_to_mysql(f.dataType) for f in schema.fields]
for binary in (False, True):
    got = mysqlwire.batch_row_payloads(batch, schema.fields, [c[2] for c in cols], binary)
    assert got.to_pylist() == _mysql_rows_by_value(cols, rows, binary), binary
print("ok")
"""


def test_local_wall_clock_in_a_dst_zone():
    """Text and binary timestamps follow the OS zone across DST changes
    exactly as ``datetime.fromtimestamp`` does (run in a child process:
    the zone is process-wide)."""
    if not os.path.exists("/usr/share/zoneinfo/America/New_York"):
        pytest.skip("no zoneinfo database")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, TZ="America/New_York", PYTHONPATH=root)
    r = subprocess.run([sys.executable, "-c", _DST_CHECK], cwd=root, env=env,
                       capture_output=True, text=True, timeout=120)
    assert r.returncode == 0 and r.stdout.strip() == "ok", r.stderr[-2000:]


def test_float_text_exponent_cases():
    """Arrow's cast prints 1e-7 / 0.000025; the float columns still
    print Python's 1e-07 / 2.5e-05."""
    import pyarrow as pa

    arr = pa.array([1e-07, 2.5e-05, -0.0, 1.0, 1e16, math.nan, None])
    assert batches.float_text(arr, httpwire._fmt_float, False).to_pylist() == [
        "1e-07", "2.5e-05", "-0", "1", "1e+16", "nan", None]
    assert batches.float_text(arr, repr, True).to_pylist() == [
        "1e-07", "2.5e-05", "-0.0", "1.0", "1e+16", "nan", None]
