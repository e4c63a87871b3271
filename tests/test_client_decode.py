"""Differential tests: the column-at-a-time answer decoders of the HTTP
and MySQL clients (``httpwire.decode_tsv_typed``,
``mysqlwire.decode_text_rows``) give exactly the values of the per-value
decoders they replaced, kept here verbatim as the reference, over bodies
the doors' own encoders write.  No JVM is needed."""

from __future__ import annotations

import datetime as _dt
import io
from decimal import Decimal
from typing import Any

from hypothesis import given, settings, strategies as st
from pyspark.sql import types as T
from pyspark.sql.conversion import LocalDataToArrowConversion

from tensorbase_spark.sources import httpwire, mysqlwire
from tensorbase_spark.sources.mysqlwire import (
    MYSQL_TYPE_DATE, MYSQL_TYPE_DATETIME, MYSQL_TYPE_DECIMAL,
    MYSQL_TYPE_DOUBLE, MYSQL_TYPE_FLOAT, MYSQL_TYPE_INT24, MYSQL_TYPE_LONG,
    MYSQL_TYPE_LONGLONG, MYSQL_TYPE_SHORT, MYSQL_TYPE_TIMESTAMP,
    MYSQL_TYPE_TINY, MYSQL_TYPE_YEAR, read_lenenc_bytes,
)
from tests.test_batch_codecs import _COLUMNS, _outcome

# ---------------------------------------------------------------------------
# the reference: the per-value decoders as the clients had them
# ---------------------------------------------------------------------------


def _typed_from_text(s: str | None, ch_type: str) -> Any:
    if s is None:
        return None
    base = ch_type
    if base.startswith("Nullable(") and base.endswith(")"):
        base = base[9:-1]
    if base == "Bool":
        return s.strip().lower() in ("true", "1", "t")
    if base in httpwire._INT_SPEC:
        return int(s)
    if base in ("Float32", "Float64"):
        return float(s)
    if base.startswith("Decimal("):
        return Decimal(s)
    if base == "Date":
        return _dt.date.fromisoformat(s)
    if base.startswith("DateTime"):
        return _dt.datetime.fromisoformat(s)
    if base.startswith("Array("):
        return [
            _typed_from_text(x, base[6:-1]) if x is not None else None
            for x in httpwire._parse_array_text(s)
        ]
    return s


def ref_tsv_typed(data: bytes):
    lines = data.decode().split("\n")
    names = [httpwire.tsv_unescape(x) for x in lines[0].split("\t")] if lines[0] else []
    types = lines[1].split("\t") if len(lines) > 1 else []
    rows = []
    for ln in lines[2:]:
        if ln == "":
            continue
        cells = ln.split("\t")
        rows.append(tuple(
            _typed_from_text(
                None if c == "\\N" else httpwire.tsv_unescape(c), t
            )
            for c, t in zip(cells, types)
        ))
    return names, types, rows


def _from_text(raw: bytes, coltype: int) -> Any:
    text = raw.decode("utf-8")
    if coltype in (
        MYSQL_TYPE_TINY,
        MYSQL_TYPE_SHORT,
        MYSQL_TYPE_LONG,
        MYSQL_TYPE_INT24,
        MYSQL_TYPE_LONGLONG,
        MYSQL_TYPE_YEAR,
    ):
        return int(text)
    if coltype in (MYSQL_TYPE_FLOAT, MYSQL_TYPE_DOUBLE):
        return float(text)
    if coltype == MYSQL_TYPE_DECIMAL:
        return Decimal(text)
    if coltype == MYSQL_TYPE_DATE:
        return _dt.date.fromisoformat(text)
    if coltype in (MYSQL_TYPE_DATETIME, MYSQL_TYPE_TIMESTAMP):
        return _dt.datetime.fromisoformat(text)
    return text


def ref_parse_text_row(pkt: bytes, cols: list[tuple[str, int]]) -> tuple:
    pos = 0
    vals: list[Any] = []
    for _, coltype in cols:
        if pkt[pos] == 0xFB:
            vals.append(None)
            pos += 1
            continue
        raw, pos = read_lenenc_bytes(pkt, pos)
        vals.append(_from_text(raw, coltype))
    return tuple(vals)


# ---------------------------------------------------------------------------
# generated results: several columns of the codec tests' types
# ---------------------------------------------------------------------------

# cells of 251 bytes or more take the 2- and 3-byte lenenc prefixes
_LONG_TEXT = st.sampled_from([250, 251, 252, 300, 65535, 65536, 70000]).map(
    lambda k: "é" * (k // 2) + "x" * (k % 2))
_TYPES = _COLUMNS + [
    (T.StringType(), _LONG_TEXT),
    (T.ArrayType(T.StringType()), st.lists(_LONG_TEXT, max_size=2)),
]


@st.composite
def _result(draw):
    """(Spark schema, Arrow batch, row count) of 1-4 columns."""
    ncols = draw(st.integers(1, 4))
    nrows = draw(st.integers(0, 8))
    fields, cols = [], []
    for i in range(ncols):
        dtype, values = draw(st.sampled_from(_TYPES))
        nullable = draw(st.booleans())
        fields.append(T.StructField(f"c{i}", dtype, nullable))
        cols.append(draw(st.lists(st.none() | values if nullable else values,
                                  min_size=nrows, max_size=nrows)))
    schema = T.StructType(fields)
    rows = list(zip(*cols))
    if rows:
        batch = LocalDataToArrowConversion.convert(rows, schema, False) \
            .combine_chunks().to_batches()[0]
    else:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        batch = pa.RecordBatch.from_pylist(
            [], schema=to_arrow_schema(schema, timestamp_utc=True))
    return schema, batch


def _same(got, want) -> bool:
    """Equal values of equal types (NaN equals NaN, Decimal('1.50') is not
    Decimal('1.5'))."""
    return repr(got) == repr(want)


@given(_result())
@settings(max_examples=300, deadline=None)
def test_tsv_columns_decode_like_the_row_decoder(result):
    schema, batch = result
    names = [f.name for f in schema.fields]
    ch_types = [httpwire._ch_type_or_string(f) for f in schema.fields]
    body = b"".join(httpwire.encode_batches(
        "TabSeparatedWithNamesAndTypes", names, ch_types, schema.fields, [batch]))
    want = _outcome(lambda: ref_tsv_typed(body))
    assert _same(_outcome(lambda: httpwire.decode_tsv_typed(body)), want)


@given(_result())
@settings(max_examples=300, deadline=None)
def test_mysql_text_columns_decode_like_the_row_decoder(result):
    schema, batch = result
    coltypes = [mysqlwire.spark_type_to_mysql(f.dataType)[0]
                for f in schema.fields]
    cols = [(f.name, t) for f, t in zip(schema.fields, coltypes)]
    pkts = mysqlwire.batch_row_payloads(
        batch, schema.fields, coltypes, False).to_pylist()
    want = _outcome(lambda: [ref_parse_text_row(p, cols) for p in pkts])
    assert _same(_outcome(lambda: mysqlwire.decode_text_rows(pkts, coltypes)), want)


def test_mysql_text_rows_through_packets():
    """A resultset read off the wire (``MySQLClient.query``'s packet loop)
    decodes like the reference, 0xFC/0xFD/0xFE prefixes included."""
    pkts = []
    for cells in ([b"1", b"x" * 251, None], [b"-2", b"y" * 70000, b"2.5"],
                  [b"18446744073709551615", b"", b"nan"]):
        out = bytearray()
        for c in cells:
            if c is None:
                out.append(0xFB)
            else:
                mysqlwire.write_lenenc_int(out, len(c))
                out += c
        pkts.append(bytes(out))
    pkts.append(b"\x017\xfe" + (3).to_bytes(8, "little") + b"abc\x013")
    coltypes = [MYSQL_TYPE_LONGLONG, mysqlwire.MYSQL_TYPE_VARCHAR, MYSQL_TYPE_DOUBLE]
    cols = [("", t) for t in coltypes]
    want = [ref_parse_text_row(p, cols) for p in pkts]
    assert _same(mysqlwire.decode_text_rows(pkts, coltypes), want)
    buf = io.BytesIO()
    pio = mysqlwire.PacketIO(None, buf)
    for p in pkts:
        pio.send(p)
    pio = mysqlwire.PacketIO(io.BytesIO(buf.getvalue()), None)
    assert _same(mysqlwire.decode_text_rows(
        [pio.recv() for _ in pkts], coltypes), want)


def test_malformed_text_rows_raise():
    """A row shorter than its column count, a cell running past its
    packet and a bad lenenc prefix raise, as the row decoder did."""
    coltypes = [MYSQL_TYPE_LONGLONG, MYSQL_TYPE_LONGLONG]
    for pkt in (b"\x011", b"\x011\x05ab", b"\x011\xff"):
        assert _outcome(lambda: mysqlwire.decode_text_rows([pkt], coltypes)) == "raised"
