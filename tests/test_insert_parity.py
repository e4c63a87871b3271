"""Stored-row parity of the Arrow insert path.

Each door now decodes an INSERT block into Arrow columns and appends them
as one Arrow table (``batches.insert_table``).  The row path it replaced
turned the block into Python rows and called ``createDataFrame(rows,
schema)``; that path is kept here, verbatim, as the reference.  The same
block goes through both into two identical tables, which must then hold
identical rows: for every ingest type, over the native door and the HTTP
door's Native, RowBinary, TSV, CSV, JSONEachRow and Arrow bodies.  A
child process repeats the DateTime and text-timestamp cases under a DST
zone, where naive text timestamps are OS-local wall time.  Values out of
range or unparsable are refused by both paths, and the table is left as
it was.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import uuid
from datetime import date, datetime, timezone
from decimal import Decimal

import pytest

from tensorbase_spark.engine import TensorBaseEngine
from tensorbase_spark.sources import chnative, httpwire
from tensorbase_spark.sources.chnative import Block, NativeClient, Reader
from tensorbase_spark.sources.httpwire import HttpClient, encode_rows

COLUMNS = [
    ("id", "Int64"), ("i8", "Int8"), ("i16", "Int16"), ("i32", "Nullable(Int32)"),
    ("u8", "UInt8"), ("u16", "UInt16"), ("u32", "UInt32"), ("u64", "UInt64"),
    ("f32", "Float32"), ("f64", "Float64"), ("dec9", "Decimal(9,2)"),
    ("dec18", "Nullable(Decimal(18,4))"), ("s", "Nullable(String)"),
    ("fs", "FixedString(4)"), ("d", "Date"), ("dt", "DateTime"), ("uid", "UUID"),
    ("ai", "Array(Int64)"), ("asn", "Array(Nullable(String))"),
]
ROWS = [
    (1, -128, -32768, None, 0, 0, 0, 0, -1.5, -0.0, Decimal("-9999999.99"), None,
     None, "", date(1970, 1, 1), datetime(1970, 1, 2, 0, 0, 0),
     "00000000-0000-0000-0000-000000000000", [], []),
    (2, 127, 32767, 2 ** 31 - 1, 255, 65535, 2 ** 32 - 1, 2 ** 64 - 1, 3.25, 1e-300,
     Decimal("9999999.99"), Decimal("99999999999999.9999"), "héllo\t\n\\'\"x",
     "abcd", date(2149, 6, 6), datetime(2106, 2, 6, 6, 28, 15),
     "ffffffff-ffff-ffff-ffff-ffffffffffff", [-(2 ** 63), 2 ** 63 - 1], ["x", None, ""]),
    (3, 0, 1, -(2 ** 31), 7, 8, 9, 2 ** 63, math.inf, math.nan, Decimal("0.01"),
     Decimal("-0.0001"), "中", "ab", date(2021, 3, 14), datetime(2021, 3, 14, 2, 30, 0),
     "61f0c404-5cb3-11e7-907b-a6006ad3dba0", [0], [None]),
    (4, 1, 2, 3, 4, 5, 6, 2 ** 63 - 1, -math.inf, 2.5, Decimal("1.10"), Decimal("2.5"),
     "", "a", date(2021, 11, 7), datetime(2021, 11, 7, 1, 30, 0),
     "61f0c404-5cb3-11e7-907b-a6006ad3dba1", [1, 2, 3], ["a'b", "c,d"]),
]
# the time-bearing columns the DST child checks
TIME_COLUMNS = ("id", "d", "dt")
# RowBinary has no UUID or FixedString codec
ROWBINARY_SKIP = ("fs", "uid")


# ---------------------------------------------------------------------------
# the row path, as the doors had it: the reference
# ---------------------------------------------------------------------------


def _old_native_frame(spark, blk: Block):
    """The native door's former ``_write_block`` up to ``insert_df``."""
    from pyspark.sql import types as T

    rows = list(zip(*[c[2] for c in blk.columns])) if blk.columns else []

    def _spark_type(ch: str):
        base, _ = chnative._strip_nullable(ch)
        m = {
            "Int8": T.ByteType(), "Int16": T.ShortType(),
            "Int32": T.IntegerType(), "Int64": T.LongType(),
            "UInt8": T.ShortType(), "UInt16": T.IntegerType(),
            "UInt32": T.LongType(), "UInt64": T.DecimalType(20, 0),
            "Float32": T.FloatType(), "Float64": T.DoubleType(),
            "String": T.StringType(), "Date": T.DateType(),
        }
        if base in m:
            return m[base]
        if base.startswith("DateTime"):
            return T.TimestampType()
        if base.startswith("Decimal"):
            return T.DecimalType(*chnative._decimal_params(base))
        if base.startswith("FixedString") or base == "UUID":
            return T.StringType()
        if base.startswith("Array("):
            return T.ArrayType(_spark_type(base[6:-1]))
        raise ValueError(ch)

    schema = T.StructType(
        [T.StructField(n, _spark_type(t), True) for n, t, _ in blk.columns])

    def _conv(base: str, v):
        if v is None:
            return None
        if base == "UInt64":
            return Decimal(v)
        if base.startswith("DateTime") and isinstance(v, datetime) and v.tzinfo is None:
            return v.replace(tzinfo=timezone.utc)
        if base.startswith("Array("):
            inner, _ = chnative._strip_nullable(base[6:-1])
            return [_conv(inner, x) for x in v]
        return v

    conv_rows = [
        tuple(_conv(chnative._strip_nullable(t)[0], v)
              for (n, t, _), v in zip(blk.columns, row))
        for row in rows
    ]
    return spark.createDataFrame(conv_rows, schema)


def _old_http_insert(eng, name: str, rows, data_names) -> None:
    """The HTTP door's former ``_typed_insert``."""
    from pyspark.sql import types as T

    qualified = eng._qualify(name)
    schema = eng.spark.table(qualified).schema
    target_cols = data_names or [
        f.name for f in schema.fields if not f.name.startswith("__")]
    by_name = {f.name: f for f in schema.fields}
    simples = [by_name[c].dataType.simpleString() for c in target_cols]
    typed = [tuple(httpwire._coerce(v, s) for v, s in zip(r, simples)) for r in rows]
    sub_schema = T.StructType([by_name[c] for c in target_cols])
    eng.insert_df(qualified, eng.spark.createDataFrame(typed, schema=sub_schema),
                  subset=target_cols)


def _old_http_rows(fmt: str, data: bytes, types: list[str]):
    """(rows, names) as the HTTP door's former body decoders gave them."""
    if fmt == "Native":
        names, _t, rows = httpwire.decode_native(data)
        return [list(r) for r in rows], names
    if fmt == "Arrow":
        names, rows = httpwire.decode_arrow_body(fmt, data)
        return rows, names
    if fmt == "RowBinary":
        r, rows = Reader(data), []
        while not r.at_end():
            rows.append([httpwire._rb_decode_nullable(r, t) for t in types])
        return rows, None
    return httpwire.decode_body_rows(fmt, data)


# ---------------------------------------------------------------------------
# driving both paths
# ---------------------------------------------------------------------------


def _ddl(name: str, cols) -> str:
    return f"create table {name} ({', '.join(f'{n} {t}' for n, t in cols)})"


def _stored(eng, name: str) -> list[str]:
    return [repr(tuple(r)) for r in eng.sql(f"select * from {name} order by id").collect()]


def _pick(names: tuple):
    cols = [(n, t) for n, t in COLUMNS if n in names]
    idx = [i for i, (n, _t) in enumerate(COLUMNS) if n in names]
    return cols, [tuple(r[i] for i in idx) for r in ROWS]


def _native_pair(eng, port: int, names: tuple) -> tuple[list, list]:
    """Stored rows after the native door's insert and after the reference."""
    cols, rows = _pick(names)
    tag = uuid.uuid4().hex[:6]
    new, old = f"pn_new_{tag}", f"pn_old_{tag}"
    eng.sql(_ddl(new, cols))
    eng.sql(_ddl(old, cols))
    block = [(n, t, [r[j] for r in rows]) for j, (n, t) in enumerate(cols)]
    with NativeClient(port=port) as c:
        c.insert(new, block)
    body = Block(block, bucket=0).encode_body()
    src = _old_native_frame(eng.spark, Block.decode_body(Reader(body)))
    eng.insert_df(eng._qualify(old), src, subset=[n for n, _t in cols])
    return _stored(eng, new), _stored(eng, old)


def _http_pair(eng, port: int, fmt: str, names: tuple,
               new: str | None = None) -> tuple[list, list]:
    """Stored rows after an HTTP FORMAT ``fmt`` insert (into table ``new``)
    and after the reference decoding the same body."""
    cols, rows = _pick(names)
    if fmt == "RowBinary":
        cols, rows = _pick(tuple(n for n in names if n not in ROWBINARY_SKIP))
    tag = uuid.uuid4().hex[:6]
    new, old = new or f"ph_new_{tag}", f"ph_old_{tag}"
    eng.sql(_ddl(new, cols))
    eng.sql(_ddl(old, cols))
    cnames, types = [n for n, _t in cols], [t for _n, t in cols]
    body = b"".join(encode_rows(fmt, cnames, types, iter(rows)))
    with HttpClient(port=port) as c:
        st, _h, data = c.raw(query=f"INSERT INTO {new} FORMAT {fmt}", body=body)
        assert st == 200, data
    got, data_names = _old_http_rows(fmt, body, types)
    _old_http_insert(eng, old, got, data_names)
    return _stored(eng, new), _stored(eng, old)


HTTP_FORMATS = ["Native", "RowBinary", "TabSeparated", "CSV", "JSONEachRow", "Arrow"]


@pytest.fixture(scope="module")
def doors(spark):
    eng = TensorBaseEngine(spark)
    db = f"parity_{uuid.uuid4().hex[:8]}"
    eng.sql(f"create database {db}")
    eng.sql(f"use {db}")
    nsrv, nport = chnative.serve_native(eng)
    hsrv, hport = httpwire.serve_http(eng)
    yield eng, nport, hport
    for srv in (nsrv, hsrv):
        srv.shutdown()
        srv.server_close()
    spark.catalog.setCurrentDatabase("default")
    eng.sql(f"drop database if exists {db}")


ALL = tuple(n for n, _t in COLUMNS)


def test_native_door_stores_the_row_path_rows(doors):
    eng, nport, _h = doors
    new, old = _native_pair(eng, nport, ALL)
    assert len(new) == len(ROWS)
    assert new == old


@pytest.mark.parametrize("fmt", HTTP_FORMATS)
def test_http_insert_stores_the_row_path_rows(doors, fmt):
    eng, _n, hport = doors
    new, old = _http_pair(eng, hport, fmt, ALL)
    assert len(new) == len(ROWS)
    assert new == old


@pytest.mark.parametrize("fmt, body", [
    ("TabSeparated", b"1\tabc\n"),        # unparsable integer
    ("TabSeparated", b"1\t300\n"),        # out of Int8 range
    ("CSV", b"1,12345678901.5\n"),        # beyond Decimal(9,2)
    ("CSV", b"1,\"2021-02-30\"\n"),       # no such date
    ("JSONEachRow", b'{"id":1,"v":"x"}\n'),
])
def test_http_refuses_bad_values_and_keeps_the_table(doors, fmt, body):
    eng, _n, hport = doors
    tag = uuid.uuid4().hex[:6]
    vtype = {"CSV": "Decimal(9,2)"}.get(fmt, "Int8")
    if b"2021-02-30" in body:
        vtype = "Date"
    new, old = f"rj_new_{tag}", f"rj_old_{tag}"
    for t in (new, old):
        eng.sql(f"create table {t} (id Int64, v {vtype})")
        eng.sql(f"insert into {t} values (0, NULL)")
    with HttpClient(port=hport) as c:
        st, _h, _d = c.raw(query=f"INSERT INTO {new} FORMAT {fmt}", body=body)
    assert st != 200
    with pytest.raises(Exception):
        rows, names = httpwire.decode_body_rows(fmt, body)
        _old_http_insert(eng, old, rows, names)
    assert _stored(eng, new) == _stored(eng, old) == ["(0, None)"]


def test_native_refuses_out_of_precision_decimal_and_keeps_the_table(doors):
    eng, nport, _h = doors
    tag = uuid.uuid4().hex[:6]
    new, old = f"rn_new_{tag}", f"rn_old_{tag}"
    block = [("id", "Int64", [1]), ("v", "Decimal(9,2)", [Decimal("21474836.47")])]
    for t in (new, old):
        eng.sql(f"create table {t} (id Int64, v Decimal(9,2))")
    with NativeClient(port=nport) as c:
        with pytest.raises(RuntimeError, match="NUMERIC_VALUE_OUT_OF_RANGE"):
            c.insert(new, block)
    body = Block(block, bucket=0).encode_body()
    with pytest.raises(Exception, match="NUMERIC_VALUE_OUT_OF_RANGE"):
        src = _old_native_frame(eng.spark, Block.decode_body(Reader(body)))
        eng.insert_df(eng._qualify(old), src, subset=["id", "v"])
    assert _stored(eng, new) == _stored(eng, old) == []


# ---------------------------------------------------------------------------
# a DST zone, in a child process
# ---------------------------------------------------------------------------


def _dst_main() -> None:
    """Child entry: both paths under this process's zone; prints JSON."""
    from tensorbase_spark.session import get_spark

    spark = get_spark("insert_parity_dst")
    spark.sparkContext.setLogLevel("ERROR")
    eng = TensorBaseEngine(spark)
    _nsrv, nport = chnative.serve_native(eng)
    _hsrv, hport = httpwire.serve_http(eng)
    out = {"native": _native_pair(eng, nport, TIME_COLUMNS)}
    for fmt in HTTP_FORMATS:
        out[fmt] = _http_pair(eng, hport, fmt, TIME_COLUMNS, new=f"dst_{fmt}")
    # the instants the HTTP client put on the Native wire (it reads naive
    # datetimes as OS-local wall time) and the ones stored
    out["native_wire_epochs"] = [int(r[15].astimezone().timestamp()) for r in ROWS]
    out["native_stored_epochs"] = [
        r.e for r in eng.sql("select cast(dt as bigint) as e from dst_Native order by id")
        .collect()]
    print("RESULT " + json.dumps(out), flush=True)


def test_time_columns_in_a_dst_zone(tmp_path):
    env = dict(os.environ, TZ="America/New_York", SPARK_GRAFT_CPUS="1",
               SPARK_GRAFT_DRIVER_MEM="1g",
               SPARK_GRAFT_WAREHOUSE=str(tmp_path / "warehouse"),
               PYTHONPATH=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__)], env=env, cwd=str(tmp_path),
        capture_output=True, text=True, timeout=600)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    out = json.loads(lines[0][len("RESULT "):])
    # the row path read an HTTP Native DateTime as UTC wall time in the OS
    # zone, which shifted it by the zone's offset; the Arrow path keeps
    # the instant on the wire, as the native door always did
    assert out.pop("native_stored_epochs") == out.pop("native_wire_epochs")
    for door, (new, old) in out.items():
        assert len(new) == len(ROWS), door
        if door == "Native":
            assert new != old
        else:
            assert new == old, door


if __name__ == "__main__":
    _dst_main()
