"""MySQL/MariaDB wire protocol — both ends, pure Python.

The reference ships a second stock front door besides the ClickHouse
native protocol: a MySQL-protocol server
(crates/server_mysql/src/lib.rs:520 `AsyncMysqlIntermediary`, packet
framing crates/server_mysql/src/packet.rs:9-64, handshake
crates/server_mysql/src/writers.rs:45-76, text resultset encode
crates/server_mysql/src/resultset.rs:103-349 +
crates/server_mysql/src/value/encode.rs, query dispatch
crates/runtime/src/mysql/mod.rs:102-147 `on_query`/`write_blks`) with a
mirrored integration suite
(crates/tests_integ/tests/sanity_checks_mysql.rs).  This module plays the
same role over :class:`TensorBaseEngine`, following the chnative.py
both-ends pattern: a threaded TCP server AND a minimal client so the
protocol is golden-byte- and round-trip-testable in-repo without a stock
``mysql`` driver in the container.

Protocol scope (matches the reference server's reachable surface):

* handshake v10 + HandshakeResponse41 (auth accepted unconditionally —
  the reference's ``on_auth`` returns ``None``, lib.rs:264-272);
* COM_QUERY (text protocol), COM_INIT_DB, COM_PING, COM_QUIT,
  COM_FIELD_LIST (stub column, lib.rs:753-761), COM_STMT_PREPARE →
  clean ER_UNSUPPORTED_PS (the reference's ``on_prepare`` is ``todo!()``,
  crates/runtime/src/mysql/mod.rs:60-66 — a panic; an ERR packet is the
  well-behaved version of the same "unsupported" stance);
* ``SELECT @@var`` interception and ``USE db`` routing exactly as
  lib.rs:661-700;
* text resultset: lenenc column count, column definition packets
  (writers.rs:122-156 byte layout), EOF, lenenc-string rows with
  0xFB NULLs (encode.rs), EOF; errors as ERR packets with the
  errorcodes.rs code + sqlstate.

Scale note: the server streams rows out a batch at a time
(``batches.result_batches``, one Spark job per window of
``defaultParallelism`` partitions, one window held at a time, one socket
write per Arrow batch), so a SELECT result never needs to fit on the
driver heap all at once; the query itself still runs fully distributed —
the wire endpoint is only the collect boundary, same as the reference's
single-node resultset writer.  ``MySQLClient.query`` reads a resultset's
row packets first and decodes them a column at a time
(``decode_text_rows``).
"""

from __future__ import annotations

import datetime as _dt
import io
import re
import socket
import socketserver
import struct
import threading
from decimal import Decimal
from typing import Any, Iterable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from tensorbase_spark.sources import batches

# ---------------------------------------------------------------------------
# constants (myc::constants — public protocol numbers)
# ---------------------------------------------------------------------------

MAX_PAYLOAD = 0xFFFFFF  # packet.rs:7 U24_MAX

COM_QUIT = 0x01
COM_INIT_DB = 0x02
COM_QUERY = 0x03
COM_FIELD_LIST = 0x04
COM_PING = 0x0E
COM_STMT_PREPARE = 0x16
COM_STMT_EXECUTE = 0x17
COM_STMT_SEND_LONG_DATA = 0x18
COM_STMT_CLOSE = 0x19

# column types (protocol::ColumnType)
MYSQL_TYPE_DECIMAL = 0x00
MYSQL_TYPE_TINY = 0x01
MYSQL_TYPE_SHORT = 0x02
MYSQL_TYPE_LONG = 0x03
MYSQL_TYPE_FLOAT = 0x04
MYSQL_TYPE_DOUBLE = 0x05
MYSQL_TYPE_NULL = 0x06
MYSQL_TYPE_TIMESTAMP = 0x07
MYSQL_TYPE_LONGLONG = 0x08
MYSQL_TYPE_INT24 = 0x09
MYSQL_TYPE_DATE = 0x0A
MYSQL_TYPE_TIME = 0x0B
MYSQL_TYPE_DATETIME = 0x0C
MYSQL_TYPE_YEAR = 0x0D
MYSQL_TYPE_VARCHAR = 0x0F
MYSQL_TYPE_BLOB = 0xFC
MYSQL_TYPE_VAR_STRING = 0xFD
MYSQL_TYPE_STRING = 0xFE

# capability flags (subset the server advertises, writers.rs:56-59)
CLIENT_CONNECT_WITH_DB = 0x00000008
CLIENT_PROTOCOL_41 = 0x00000200
CLIENT_SECURE_CONNECTION = 0x00008000
CLIENT_PLUGIN_AUTH = 0x00080000

SERVER_CAPABILITIES = (
    CLIENT_PROTOCOL_41
    | CLIENT_PLUGIN_AUTH
    | CLIENT_SECURE_CONNECTION
    | CLIENT_CONNECT_WITH_DB
)

UNSIGNED_FLAG = 0x0020  # ColumnFlags::UNSIGNED_FLAG

UTF8_GENERAL_CI = 33

# the reference announces this banner for ActiveRecord compat
# (writers.rs:53-54); keep it byte-identical for handshake parity
SERVER_VERSION = b"5.1.10-alpha-msql-proxy"
AUTH_PLUGIN = b"mysql_native_password"

# error codes + sqlstates (errorcodes.rs)
ER_UNKNOWN_COM_ERROR = (1047, b"08S01")
ER_BAD_DB_ERROR = (1049, b"42000")
ER_PARSE_ERROR = (1064, b"42000")
ER_UNKNOWN_ERROR = (1105, b"HY000")
ER_NO_SUCH_TABLE = (1146, b"42S02")
ER_UNSUPPORTED_PS = (1295, b"HY000")


# ---------------------------------------------------------------------------
# lenenc primitives (myc::io::WriteMysqlExt / commands.rs:140-168)
# ---------------------------------------------------------------------------


def write_lenenc_int(out: bytearray, v: int) -> None:
    if v < 0xFB:
        out.append(v)
    elif v <= 0xFFFF:
        out.append(0xFC)
        out += struct.pack("<H", v)
    elif v <= 0xFFFFFF:
        out.append(0xFD)
        out += struct.pack("<I", v)[:3]
    else:
        out.append(0xFE)
        out += struct.pack("<Q", v)


def write_lenenc_bytes(out: bytearray, b: bytes) -> None:
    write_lenenc_int(out, len(b))
    out += b


def read_lenenc_int(buf: bytes, pos: int) -> tuple[int, int]:
    first = buf[pos]
    if first < 0xFB:
        return first, pos + 1
    if first == 0xFC:
        return struct.unpack_from("<H", buf, pos + 1)[0], pos + 3
    if first == 0xFD:
        return int.from_bytes(buf[pos + 1 : pos + 4], "little"), pos + 4
    if first == 0xFE:
        return struct.unpack_from("<Q", buf, pos + 1)[0], pos + 9
    raise ValueError(f"bad lenenc prefix 0x{first:02x}")


def read_lenenc_bytes(buf: bytes, pos: int) -> tuple[bytes, int]:
    n, pos = read_lenenc_int(buf, pos)
    return buf[pos : pos + n], pos + n


# ---------------------------------------------------------------------------
# packet framing (packet.rs: 3-byte LE length + seq, split at 16 MiB - 1)
# ---------------------------------------------------------------------------


class PacketIO:
    """Frames payloads over a socket file pair; tracks the sequence id the
    way PacketWriter does (set_seq on each inbound command, +1 per frame)."""

    def __init__(self, rfile, wfile):
        self.rfile = rfile
        self.wfile = wfile
        self.seq = 0

    def frame(self, payload: bytes) -> bytes:
        """The packet(s) carrying ``payload``; advances the sequence id."""
        out = bytearray()
        view = memoryview(payload)
        while True:
            chunk = view[:MAX_PAYLOAD]
            out += len(chunk).to_bytes(3, "little") + bytes([self.seq & 0xFF])
            out += chunk
            self.seq = (self.seq + 1) & 0xFF
            view = view[MAX_PAYLOAD:]
            if len(chunk) < MAX_PAYLOAD:
                return bytes(out)

    def send(self, payload: bytes) -> None:
        self.wfile.write(self.frame(payload))
        self.wfile.flush()

    def send_rows(self, payloads: pa.Array) -> None:
        """One packet per payload of a binary column, in ONE socket write:
        the 4-byte headers are built as a column and joined to the
        payloads."""
        n = len(payloads)
        lengths = batches.value_lengths(payloads)
        if n and lengths.max() >= MAX_PAYLOAD:  # split packets: rare
            data = b"".join(self.frame(p) for p in payloads.to_pylist())
        else:
            head = np.empty((n, 4), dtype=np.uint8)
            head[:, :3] = lengths.astype("<u4").view(np.uint8).reshape(n, 4)[:, :3]
            head[:, 3] = (self.seq + np.arange(n)) & 0xFF
            self.seq = (self.seq + n) & 0xFF
            data = batches.joined_bytes(batches.concat([
                batches.binary_from_matrix(head, np.full(n, 4)), payloads]))
        self.wfile.write(data)
        self.wfile.flush()

    def recv(self) -> bytes | None:
        """Reassembles split packets (packet.rs:250-281).  None on EOF."""
        payload = bytearray()
        while True:
            header = self.rfile.read(4)
            if len(header) == 0 and not payload:
                return None
            if len(header) < 4:
                raise EOFError("truncated packet header")
            length = int.from_bytes(header[:3], "little")
            self.seq = (header[3] + 1) & 0xFF
            body = self.rfile.read(length)
            if len(body) < length:
                raise EOFError("truncated packet body")
            payload += body
            if length < MAX_PAYLOAD:
                return bytes(payload)


# ---------------------------------------------------------------------------
# server-side packet builders (writers.rs byte layouts)
# ---------------------------------------------------------------------------


def build_handshake(connection_id: int, nonce: bytes) -> bytes:
    """writers.rs:45-76 write_handshake_packet, byte for byte."""
    assert len(nonce) == 20
    out = bytearray()
    out.append(10)  # protocol 10
    out += SERVER_VERSION + b"\x00"
    out += struct.pack("<I", connection_id)
    out += nonce[:8]
    out.append(0)
    out += struct.pack("<H", SERVER_CAPABILITIES & 0xFFFF)
    out.append(UTF8_GENERAL_CI)
    out += struct.pack("<H", 0)  # status flags
    out += struct.pack("<H", SERVER_CAPABILITIES >> 16)
    out.append(len(nonce) + 1)  # scramble length
    out += b"\x00" * 6
    out += b"\x00" * 4
    out += nonce[8:]
    out.append(0)
    out += AUTH_PLUGIN
    out.append(0)
    return bytes(out)


def build_ok(rows: int = 0, last_insert_id: int = 0, status: int = 0) -> bytes:
    """writers.rs:18-30 write_ok_packet."""
    out = bytearray([0x00])
    write_lenenc_int(out, rows)
    write_lenenc_int(out, last_insert_id)
    out += struct.pack("<H", status)
    out += b"\x00\x00"  # no warnings
    return bytes(out)


def build_eof(status: int = 0) -> bytes:
    """writers.rs:9-16 write_eof_packet."""
    return b"\xfe\x00\x00" + struct.pack("<H", status)


def build_err(kind: tuple[int, bytes], msg: str) -> bytes:
    """writers.rs:78-89 write_err."""
    code, sqlstate = kind
    out = bytearray([0xFF])
    out += struct.pack("<H", code)
    out += b"#" + sqlstate
    out += msg.encode("utf-8", "replace")
    return bytes(out)


def build_column_definition(
    table: str, column: str, coltype: int, colflags: int = 0
) -> bytes:
    """writers.rs:122-149 — one ColumnDefinition41 packet payload."""
    out = bytearray()
    write_lenenc_bytes(out, b"def")
    write_lenenc_bytes(out, b"")  # schema
    write_lenenc_bytes(out, table.encode())
    write_lenenc_bytes(out, b"")  # org_table
    write_lenenc_bytes(out, column.encode())
    write_lenenc_bytes(out, b"")  # org_name
    write_lenenc_int(out, 0x0C)  # fixed-length fields length
    out += struct.pack("<H", UTF8_GENERAL_CI)
    out += struct.pack("<I", 1024)  # column length
    out.append(coltype)
    out += struct.pack("<H", colflags)
    out.append(0x00)  # decimals
    out += b"\x00\x00"  # unused
    return bytes(out)


# ---------------------------------------------------------------------------
# text-protocol value encoding (value/encode.rs to_mysql_text)
# ---------------------------------------------------------------------------


def encode_text_value(out: bytearray, v: Any) -> None:
    if v is None:
        out.append(0xFB)  # encode.rs:47
        return
    write_lenenc_bytes(out, text_bytes(v))


def text_bytes(v: Any) -> bytes:
    """Text-protocol bytes of one non-NULL value."""
    if isinstance(v, bool):
        b = b"1" if v else b"0"
    elif isinstance(v, (int, Decimal)):
        b = str(v).encode()
    elif isinstance(v, float):
        b = repr(v).encode()
    elif isinstance(v, _dt.datetime):
        us = v.microsecond  # encode.rs:441-473
        if us:
            b = (
                f"{v.year:04}-{v.month:02}-{v.day:02} "
                f"{v.hour:02}:{v.minute:02}:{v.second:02}.{us:06}"
            ).encode()
        else:
            b = (
                f"{v.year:04}-{v.month:02}-{v.day:02} "
                f"{v.hour:02}:{v.minute:02}:{v.second:02}"
            ).encode()
    elif isinstance(v, _dt.date):
        b = f"{v.year:04}-{v.month:02}-{v.day:02}".encode()  # encode.rs:419-425
    elif isinstance(v, (bytes, bytearray)):
        b = bytes(v)
    elif isinstance(v, (list, tuple)):
        # arrays leave as their SQL-ish text form (the reference has no
        # array-over-mysql path at all, mysql/mod.rs:337)
        b = repr(list(v)).encode()
    else:
        b = str(v).encode()
    return b


def spark_type_to_mysql(dt) -> tuple[int, int]:
    """Spark type -> (column type, flags); mirrors
    crates/runtime/src/mysql/mod.rs:346-362 arrow_type_to_mysql_type.
    Unsignedness is erased in the Spark schema (UInt64 lands as
    Decimal(20,0)), so the UNSIGNED_FLAG heuristic keys off that."""
    from pyspark.sql import types as T

    if isinstance(dt, T.ByteType):
        return MYSQL_TYPE_TINY, 0
    if isinstance(dt, T.BooleanType):
        return MYSQL_TYPE_TINY, UNSIGNED_FLAG
    if isinstance(dt, T.ShortType):
        return MYSQL_TYPE_SHORT, 0
    if isinstance(dt, T.IntegerType):
        return MYSQL_TYPE_LONG, 0
    if isinstance(dt, T.LongType):
        return MYSQL_TYPE_LONGLONG, 0
    if isinstance(dt, T.FloatType):
        return MYSQL_TYPE_FLOAT, 0
    if isinstance(dt, T.DoubleType):
        return MYSQL_TYPE_DOUBLE, 0
    if isinstance(dt, T.TimestampType):
        return MYSQL_TYPE_DATETIME, 0
    if isinstance(dt, T.DateType):
        return MYSQL_TYPE_DATE, 0
    if isinstance(dt, T.DecimalType):
        if dt.precision == 20 and dt.scale == 0:  # engine UInt64 carrier
            return MYSQL_TYPE_LONGLONG, UNSIGNED_FLAG
        return MYSQL_TYPE_DECIMAL, 0
    if isinstance(dt, T.BinaryType):
        return MYSQL_TYPE_BLOB, 0
    return MYSQL_TYPE_VARCHAR, 0


# ---------------------------------------------------------------------------
# binary protocol value codecs (value/encode.rs to_mysql_bin / decode.rs)
# ---------------------------------------------------------------------------


def encode_bin_value(out: bytearray, v: Any, coltype: int) -> None:
    """Binary-protocol value encode for one NON-NULL cell (NULLs live in
    the row's null bitmap); layouts per value/encode.rs to_mysql_bin."""
    if coltype == MYSQL_TYPE_TINY:
        out += struct.pack("<b", int(v))
    elif coltype in (MYSQL_TYPE_SHORT, MYSQL_TYPE_YEAR):
        out += struct.pack("<h", int(v))
    elif coltype in (MYSQL_TYPE_LONG, MYSQL_TYPE_INT24):
        out += struct.pack("<i", int(v))
    elif coltype == MYSQL_TYPE_LONGLONG:
        n = int(v)
        out += struct.pack("<q", n) if n < 2**63 else struct.pack("<Q", n)
    elif coltype == MYSQL_TYPE_FLOAT:
        out += struct.pack("<f", float(v))
    elif coltype == MYSQL_TYPE_DOUBLE:
        out += struct.pack("<d", float(v))
    elif coltype == MYSQL_TYPE_DATE:
        out.append(4)  # encode.rs:427-434
        out += struct.pack("<H", v.year)
        out.append(v.month)
        out.append(v.day)
    elif coltype in (MYSQL_TYPE_DATETIME, MYSQL_TYPE_TIMESTAMP):
        us = v.microsecond  # encode.rs:475-500
        out.append(11 if us else 7)
        out += struct.pack("<H", v.year)
        out.append(v.month)
        out.append(v.day)
        out.append(v.hour)
        out.append(v.minute)
        out.append(v.second)
        if us:
            out += struct.pack("<I", us)
    else:  # DECIMAL and every string-ish type: lenenc bytes
        if isinstance(v, (bytes, bytearray)):
            b = bytes(v)
        else:
            b = str(v).encode("utf-8")
        write_lenenc_bytes(out, b)


def decode_bin_value(buf: bytes, pos: int, coltype: int) -> tuple[Any, int]:
    """Binary-protocol value decode (value/decode.rs read_bin_value)."""
    if coltype == MYSQL_TYPE_TINY:
        return struct.unpack_from("<b", buf, pos)[0], pos + 1
    if coltype in (MYSQL_TYPE_SHORT, MYSQL_TYPE_YEAR):
        return struct.unpack_from("<h", buf, pos)[0], pos + 2
    if coltype in (MYSQL_TYPE_LONG, MYSQL_TYPE_INT24):
        return struct.unpack_from("<i", buf, pos)[0], pos + 4
    if coltype == MYSQL_TYPE_LONGLONG:
        return struct.unpack_from("<q", buf, pos)[0], pos + 8
    if coltype == MYSQL_TYPE_FLOAT:
        return struct.unpack_from("<f", buf, pos)[0], pos + 4
    if coltype == MYSQL_TYPE_DOUBLE:
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if coltype in (MYSQL_TYPE_DATE, MYSQL_TYPE_DATETIME, MYSQL_TYPE_TIMESTAMP):
        n = buf[pos]
        pos += 1
        if n == 0:
            d = _dt.datetime(1970, 1, 1)
        else:
            y, = struct.unpack_from("<H", buf, pos)
            mo, dy = buf[pos + 2], buf[pos + 3]
            h = mi = s = us = 0
            if n >= 7:
                h, mi, s = buf[pos + 4], buf[pos + 5], buf[pos + 6]
            if n >= 11:
                us, = struct.unpack_from("<I", buf, pos + 7)
            d = _dt.datetime(y, mo, dy, h, mi, s, us)
        pos += n
        if coltype == MYSQL_TYPE_DATE:
            return d.date(), pos
        return d, pos
    # string-ish / decimal: lenenc
    b, pos = read_lenenc_bytes(buf, pos)
    if coltype == MYSQL_TYPE_DECIMAL:
        return Decimal(b.decode()), pos
    return b.decode("utf-8", "replace"), pos


# ---------------------------------------------------------------------------
# result rows from Arrow batches, column at a time — byte-identical to
# encode_text_value / encode_bin_value over the rows a Spark collect()
# returns; the per-value encoders stay the fallback for rare types
# ---------------------------------------------------------------------------


def _lenenc_prefixes(lengths: np.ndarray, null: np.ndarray) -> pa.Array:
    """Column of lenenc length prefixes (0xFB for NULL cells)."""
    n = len(lengths)
    mat = np.zeros((n, 9), dtype=np.uint8)
    counts = np.ones(n, dtype=np.int64)
    mat[:, 0] = np.where(lengths < 0xFB, lengths, 0)
    le = lengths.astype("<u8").view(np.uint8).reshape(n, 8)
    for lo, hi, marker, width in ((0xFB, 0xFFFF, 0xFC, 2),
                                  (0x10000, 0xFFFFFF, 0xFD, 3),
                                  (0x1000000, None, 0xFE, 8)):
        m = (lengths >= lo) & (True if hi is None else lengths <= hi)
        if m.any():
            mat[m, 0] = marker
            mat[m, 1:1 + width] = le[m, :width]
            counts[m] = 1 + width
    mat[null, 0] = 0xFB
    counts[null] = 1
    return batches.binary_from_matrix(mat, counts)


def _lenenc_cells(text: pa.Array) -> pa.Array:
    """Non-NULL binary column: each value lenenc-prefixed, NULL -> 0xFB."""
    data = batches.as_binary(text)
    null = pc.is_null(text).to_numpy(zero_copy_only=False)
    return batches.concat(
        [_lenenc_prefixes(batches.value_lengths(data), null), data])


def _datetime_text(arr: pa.Array):
    """``YYYY-MM-DD HH:MM:SS[.ffffff]`` of the local wall time, or None
    when the local zone is not one Arrow knows."""
    wall = batches.local_wall_us(arr)
    if wall is None:
        return None
    micro = wall % 1_000_000
    frac = pc.if_else(
        pa.array(micro != 0),
        pc.binary_join_element_wise(
            pa.scalar("."),
            pc.utf8_lpad(pc.cast(pa.array(micro), pa.string()), 6, "0"), ""),
        pa.scalar(""))
    text = pc.binary_join_element_wise(batches.seconds_text(wall), frac, "")
    return pc.if_else(pc.is_null(arr), pa.scalar(None, pa.string()), text)


def _text_column(arr: pa.Array, dt):
    """``text_bytes`` of each value (NULLs stay NULL)."""
    from pyspark.sql import types as T

    text = None
    if isinstance(dt, (T.StringType, T.BinaryType)):
        text = arr
    elif isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        text = pc.cast(arr, pa.string())
    elif isinstance(dt, T.BooleanType):
        text = pc.if_else(arr, pa.scalar("1"), pa.scalar("0"))
    elif isinstance(dt, (T.FloatType, T.DoubleType)):
        text = batches.float_text(arr, repr, keep_point=True)
    elif isinstance(dt, T.DecimalType) and dt.scale <= 6:
        # below 7 decimal places Arrow's and Python's notation agree
        text = pc.cast(arr, pa.string())
    elif isinstance(dt, T.DateType):
        text = pc.cast(arr, pa.string())
    elif isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        text = _datetime_text(arr)
    if text is None:
        text = pa.array([None if v is None else text_bytes(v)
                         for v in batches.py_values(arr, dt)], pa.binary())
    return text


_BIN_FIXED = {
    MYSQL_TYPE_TINY: "<i1", MYSQL_TYPE_SHORT: "<i2", MYSQL_TYPE_YEAR: "<i2",
    MYSQL_TYPE_LONG: "<i4", MYSQL_TYPE_INT24: "<i4",
    MYSQL_TYPE_FLOAT: "<f4", MYSQL_TYPE_DOUBLE: "<f8",
}


def _bin_cells(arr: pa.Array, dt, coltype: int) -> pa.Array:
    """``encode_bin_value`` of each value as a non-NULL binary column
    (b"" for NULL: those live in the row's null bitmap)."""
    from pyspark.sql import types as T

    n = len(arr)
    valid = ~pc.is_null(arr).to_numpy(zero_copy_only=False)
    mat = width = None
    if coltype in _BIN_FIXED:
        if pa.types.is_boolean(arr.type):
            arr = arr.cast(pa.uint8())
        v = arr.fill_null(0).to_numpy(zero_copy_only=False).astype(
            _BIN_FIXED[coltype])
        mat = v.view(np.uint8).reshape(n, v.itemsize)
        width = np.where(valid, v.itemsize, 0)
    elif coltype == MYSQL_TYPE_LONGLONG and pa.types.is_decimal(arr.type):
        # decimal(20,0), the engine's UInt64 carrier: the low 64 bits are
        # the '<q' / '<Q' bytes of every value that fits one of them
        lo, hi = batches.decimal_words(arr)
        fits = (hi == (lo >> 63)) | ((hi == 0) & (lo < 0))
        if (valid & ~fits).any():
            raise ValueError("UInt64 value out of range")
        mat = lo.astype("<i8").view(np.uint8).reshape(n, 8)
        width = np.where(valid, 8, 0)
    elif coltype == MYSQL_TYPE_LONGLONG:
        v = arr.fill_null(0).to_numpy(zero_copy_only=False).astype("<i8")
        mat = v.view(np.uint8).reshape(n, 8)
        width = np.where(valid, 8, 0)
    elif coltype == MYSQL_TYPE_DATE:
        y, m, d = batches.date_parts(arr.cast(pa.int32()).fill_null(0).to_numpy())
        mat = np.empty((n, 5), dtype=np.uint8)
        mat[:, 0] = 4
        mat[:, 1:3] = y.astype("<u2").view(np.uint8).reshape(n, 2)
        mat[:, 3] = m
        mat[:, 4] = d
        width = np.where(valid, 5, 0)
    elif coltype in (MYSQL_TYPE_DATETIME, MYSQL_TYPE_TIMESTAMP):
        wall = batches.local_wall_us(arr)
        if wall is not None:
            secs, us = np.divmod(wall, 1_000_000)
            y, m, d = batches.date_parts(secs // 86400)
            sod = secs % 86400
            mat = np.empty((n, 12), dtype=np.uint8)
            mat[:, 0] = np.where(us != 0, 11, 7)
            mat[:, 1:3] = y.astype("<u2").view(np.uint8).reshape(n, 2)
            mat[:, 3] = m
            mat[:, 4] = d
            mat[:, 5] = sod // 3600
            mat[:, 6] = sod // 60 % 60
            mat[:, 7] = sod % 60
            mat[:, 8:12] = us.astype("<u4").view(np.uint8).reshape(n, 4)
            width = np.where(valid, np.where(us != 0, 12, 8), 0)
    elif isinstance(dt, (T.StringType, T.BinaryType)) or (
            isinstance(dt, T.DecimalType) and dt.scale <= 6):
        text = arr if not pa.types.is_decimal(arr.type) else pc.cast(
            arr, pa.string())
        cells = _lenenc_cells(text)
        return pc.if_else(pa.array(valid), cells, pa.scalar(b""))
    if mat is not None:
        return batches.binary_from_matrix(mat, width)
    out = []
    for v in batches.py_values(arr, dt):
        cell = bytearray()
        if v is not None:
            encode_bin_value(cell, v, coltype)
        out.append(bytes(cell))
    return pa.array(out, pa.binary())


def batch_row_payloads(batch: pa.RecordBatch, fields, coltypes,
                       binary: bool) -> pa.Array:
    """The row packet payloads of one batch as a binary column: text rows
    (lenenc cells) or binary rows (0x00, null bitmap at bit offset 2,
    non-NULL values)."""
    if not binary:
        return batches.concat([
            _lenenc_cells(_text_column(c, f.dataType))
            for c, f in zip(batch.columns, fields)])
    n = batch.num_rows
    # the 0x00 row header, then the bitmap (resultset.rs:219)
    bitmap = np.zeros((n, 1 + (len(fields) + 7 + 2) // 8), dtype=np.uint8)
    for i, c in enumerate(batch.columns):
        null = pc.is_null(c).to_numpy(zero_copy_only=False)
        bitmap[:, 1 + (i + 2) // 8] |= null.astype(np.uint8) << ((i + 2) % 8)
    return batches.concat(
        [batches.binary_from_matrix(bitmap, np.full(n, bitmap.shape[1]))]
        + [_bin_cells(c, f.dataType, t)
           for c, f, t in zip(batch.columns, fields, coltypes)])


def sql_literal(v: Any) -> str:
    """Render a decoded parameter as a SQL literal for substitution."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, (int, Decimal)):
        return str(v)
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, _dt.datetime):
        return "'" + v.strftime("%Y-%m-%d %H:%M:%S") + "'"
    if isinstance(v, _dt.date):
        return f"'{v}'"
    if isinstance(v, (bytes, bytearray)):
        v = bytes(v).decode("utf-8", "replace")
    return "'" + str(v).replace("'", "''") + "'"


def substitute_placeholders(sql: str, params: list) -> str:
    """Replace ? placeholders outside string literals with SQL literals."""
    out: list[str] = []
    it = iter(params)
    quote: str | None = None
    for ch in sql:
        if quote:
            out.append(ch)
            if ch == quote:
                quote = None
        elif ch in ("'", '"'):
            quote = ch
            out.append(ch)
        elif ch == "?":
            out.append(sql_literal(next(it)))
        else:
            out.append(ch)
    return "".join(out)


def count_placeholders(sql: str) -> int:
    n, quote = 0, None
    for ch in sql:
        if quote:
            if ch == quote:
                quote = None
        elif ch in ("'", '"'):
            quote = ch
        elif ch == "?":
            n += 1
    return n


# ---------------------------------------------------------------------------
# server
# ---------------------------------------------------------------------------

_AT_AT_RE = re.compile(rb"^select\s+@@", re.IGNORECASE)
_USE_RE = re.compile(r"^use\s+", re.IGNORECASE)

# fixed nonce: auth is unconditionally accepted (the shim's on_auth
# returns None), so an unpredictable salt buys nothing — and a constant
# makes the handshake golden-byte testable
_NONCE = b";X,po_k}>o6^Wz!/kM}N"  # lib.rs:331+339 seed bytes


class _MyConn(socketserver.StreamRequestHandler):
    """One client connection: handshake, then the command loop
    (lib.rs:653-790 AsyncMysqlIntermediary::run, restructured around
    blocking reads like chnative._Conn)."""

    def handle(self) -> None:  # noqa: C901 — protocol state machine
        engine = self.server.engine  # type: ignore[attr-defined]
        pio = PacketIO(self.rfile, self.wfile)
        self._stmts: dict[int, dict] = {}
        self._next_stmt_id = 1
        # -- connection phase -------------------------------------------
        pio.seq = 0
        pio.send(build_handshake(connection_id=8, nonce=_NONCE))
        try:
            resp = pio.recv()
        except EOFError:
            return
        if resp is None:
            return
        # HandshakeResponse41 parsed for well-formedness only
        # (commands.rs:14-62); any username/auth is accepted
        try:
            parse_handshake_response(resp)
        except Exception:
            pio.send(build_err(ER_UNKNOWN_ERROR, "malformed handshake"))
            return
        pio.send(build_ok())
        # -- command phase ----------------------------------------------
        while True:
            try:
                packet = pio.recv()
            except EOFError:
                return
            if packet is None or not packet:
                return
            # recv already advanced seq to (last command frame + 1), which
            # is where the response must start (lib.rs:658 set_seq(seq+1))
            cmd, rest = packet[0], packet[1:]
            try:
                if cmd == COM_QUIT:
                    return
                elif cmd == COM_PING:
                    pio.send(build_ok())
                elif cmd == COM_INIT_DB:
                    self._init_db(pio, engine, rest.decode("utf-8", "replace"))
                elif cmd == COM_QUERY:
                    self._query(pio, engine, rest)
                elif cmd == COM_FIELD_LIST:
                    # lib.rs:753-761: constant stub column + EOF
                    pio.send(
                        build_column_definition(
                            "", "not implemented", MYSQL_TYPE_SHORT, UNSIGNED_FLAG
                        )
                    )
                    pio.send(build_eof())
                elif cmd == COM_STMT_PREPARE:
                    # beyond the reference runtime (its on_prepare is
                    # todo!(), mysql/mod.rs:60-66) but exactly the
                    # library surface it ships (writers.rs:93-120
                    # write_prepare_ok, params.rs, value codecs)
                    self._stmt_prepare(pio, rest.decode("utf-8"))
                elif cmd == COM_STMT_EXECUTE:
                    self._stmt_execute(pio, engine, rest)
                elif cmd == COM_STMT_SEND_LONG_DATA:
                    # lib.rs:731-747: accumulate, no response
                    stmt, = struct.unpack_from("<I", rest, 0)
                    param, = struct.unpack_from("<H", rest, 4)
                    st = self._stmts.get(stmt)
                    if st is not None:
                        st["long_data"].setdefault(param, bytearray()
                                                   ).extend(rest[6:])
                elif cmd == COM_STMT_CLOSE:
                    # spec dictates no response (lib.rs:748-752)
                    stmt, = struct.unpack_from("<I", rest, 0)
                    self._stmts.pop(stmt, None)
                else:
                    pio.send(
                        build_err(ER_UNKNOWN_COM_ERROR, f"unknown command {cmd}")
                    )
            except BrokenPipeError:
                return
            except Exception as e:  # engine errors -> ERR packet
                msg = str(e).split("\n", 1)[0][:500] or type(e).__name__
                kind = (
                    ER_NO_SUCH_TABLE
                    if "TABLE_OR_VIEW_NOT_FOUND" in msg
                    else ER_PARSE_ERROR
                    if "PARSE_SYNTAX_ERROR" in msg
                    else ER_UNKNOWN_ERROR
                )
                try:
                    pio.send(build_err(kind, msg))
                except BrokenPipeError:
                    return

    def _init_db(self, pio: PacketIO, engine, schema: str) -> None:
        schema = schema.strip().rstrip(";").strip("`")
        try:
            engine.sql(f"USE {schema}")  # mysql/mod.rs:83-100 on_init
        except Exception:
            pio.send(
                build_err(ER_BAD_DB_ERROR, f"Can't access database {schema}")
            )
            return
        pio.send(build_ok())

    def _query(self, pio: PacketIO, engine, q: bytes) -> None:
        if _AT_AT_RE.match(q):
            # lib.rs:661-680: answer @@max_allowed_packet, OK anything else
            var = q.split(b"@@", 1)[1].strip()
            if var == b"max_allowed_packet":
                from pyspark.sql.types import LongType, StructField

                self._send_resultset(
                    pio,
                    [("", "@@max_allowed_packet", MYSQL_TYPE_LONG, UNSIGNED_FLAG)],
                    [StructField("@@max_allowed_packet", LongType())],
                    [pa.record_batch([pa.array([67108864], pa.int64())],
                                     names=["@@max_allowed_packet"])],
                )
                pio.send(build_eof())
            else:
                pio.send(build_ok())
            return
        text = q.decode("utf-8")
        if _USE_RE.match(text):
            self._init_db(pio, engine, text[4:])
            return
        # live-processlist entry for the whole request incl. the
        # streaming fetch — listable/killable from another connection
        with engine.track_query(text, interface="mysql"):
            df = engine.sql(text)
            # DDL / INSERT / session command answer OK (mysql/mod.rs:110-134)
            rows = df is not None and bool(df.columns)
            if rows:
                self._send_df(pio, df)
        # the final packet leaves once the query is off the processlist, so
        # a client holding the whole answer never still finds it listed
        pio.send(build_eof() if rows else build_ok())

    def _stmt_prepare(self, pio: PacketIO, sql: str) -> None:
        """COM_STMT_PREPARE_OK (writers.rs:93-120): stmt id, column count
        0 (the result schema is defined by the execute-time resultset,
        which clients accept), param count = ? placeholders outside
        string literals, one generic param definition each."""
        stmt_id = self._next_stmt_id
        self._next_stmt_id += 1
        n_params = count_placeholders(sql)
        self._stmts[stmt_id] = {
            "sql": sql,
            "params": n_params,
            "types": None,
            "long_data": {},
        }
        out = bytearray([0x00])
        out += struct.pack("<I", stmt_id)
        out += struct.pack("<H", 0)  # result columns announced at execute
        out += struct.pack("<H", n_params)
        out += b"\x00"
        out += struct.pack("<H", 0)  # warnings
        pio.send(bytes(out))
        if n_params:
            for _ in range(n_params):
                pio.send(
                    build_column_definition("", "?", MYSQL_TYPE_VARCHAR, 0)
                )
            pio.send(build_eof())

    def _stmt_execute(self, pio: PacketIO, engine, rest: bytes) -> None:
        """COM_STMT_EXECUTE: decode the binary-bound params (params.rs),
        splice them as SQL literals, run, answer a BINARY resultset."""
        stmt, = struct.unpack_from("<I", rest, 0)
        st = self._stmts.get(stmt)
        if st is None:
            pio.send(build_err(ER_UNKNOWN_ERROR, f"unknown statement {stmt}"))
            return
        pos = 4 + 1 + 4  # stmt + flags + iteration count
        n = st["params"]
        params: list[Any] = []
        if n:
            nullmap = rest[pos : pos + (n + 7) // 8]
            pos += (n + 7) // 8
            new_bound = rest[pos]
            pos += 1
            if new_bound:
                st["types"] = [
                    (rest[pos + 2 * i], rest[pos + 2 * i + 1])
                    for i in range(n)
                ]
                pos += 2 * n
            types = st["types"]
            if types is None:
                pio.send(build_err(ER_UNKNOWN_ERROR, "params never bound"))
                return
            for i in range(n):
                if nullmap[i // 8] & (1 << (i % 8)):
                    params.append(None)
                elif i in st["long_data"]:
                    params.append(bytes(st["long_data"][i]))
                else:
                    coltype, flags = types[i]
                    v, pos = decode_bin_value(rest, pos, coltype)
                    if (
                        coltype == MYSQL_TYPE_LONGLONG
                        and flags & 0x80  # UNSIGNED param flag
                        and v < 0
                    ):
                        v += 2**64
                    params.append(v)
        st["long_data"].clear()
        bound = substitute_placeholders(st["sql"], params)
        with engine.track_query(bound, interface="mysql"):
            df = engine.sql(bound)
            rows = df is not None and bool(df.columns)
            if rows:
                self._send_df(pio, df, binary=True)
        pio.send(build_eof() if rows else build_ok())  # as in _query

    def _send_df(self, pio: PacketIO, df, binary: bool = False) -> None:
        fields = df.schema.fields
        cols = [("", f.name) + spark_type_to_mysql(f.dataType) for f in fields]
        self._send_resultset(
            pio, cols, fields, batches.result_batches(df), binary=binary)

    def _send_resultset(
        self,
        pio: PacketIO,
        cols: list[tuple[str, str, int, int]],
        fields: list,
        batch_iter: Iterable[pa.RecordBatch],
        binary: bool = False,
    ) -> None:
        """resultset.rs:139-349 start/write_row: column count,
        definitions, EOF, rows; the caller sends the closing EOF.  Rows are
        built a batch at a time (text or binary protocol) and leave in one
        socket write per batch.

        Polls the kill flag between batches (the shared
        engine.kill_checked helper): a KILL QUERY from another
        connection cancels the victim's Spark jobs, but between jobs
        (window computed) nothing would raise — same seam the
        native door closes between blocks (VERDICT r11 #6)."""
        engine = self.server.engine  # type: ignore[attr-defined]
        head = bytearray()
        write_lenenc_int(head, len(cols))
        pio.send(bytes(head))
        for table, name, ctype, flags in cols:
            pio.send(build_column_definition(table, name, ctype, flags))
        pio.send(build_eof())
        coltypes = [c[2] for c in cols]
        try:
            for b in engine.kill_checked(batch_iter, every=1):
                if b.num_rows:
                    pio.send_rows(batch_row_payloads(b, fields, coltypes, binary))
        finally:
            # an abandoned result (client gone, KILL) stops the JVM-side
            # serving of the rest now
            close = getattr(batch_iter, "close", None)
            if close is not None:
                close()


def parse_handshake_response(payload: bytes) -> dict:
    """commands.rs:14-92 client_handshake (both 4.1 and 3.20 shapes)."""
    cap_lo = struct.unpack_from("<H", payload, 0)[0]
    if cap_lo & CLIENT_PROTOCOL_41:
        cap_hi = struct.unpack_from("<H", payload, 2)[0]
        cap = cap_hi << 16 | cap_lo
        maxps = struct.unpack_from("<I", payload, 4)[0]
        collation = payload[8]
        pos = 9 + 23
        end = payload.index(b"\x00", pos)
        username = payload[pos:end]
        pos = end + 1
        if cap & CLIENT_SECURE_CONNECTION:
            auth, pos = read_lenenc_bytes(payload, pos)
        else:
            end = payload.index(b"\x00", pos)
            auth, pos = payload[pos:end], end + 1
        database = None
        if cap & CLIENT_CONNECT_WITH_DB:
            end = payload.index(b"\x00", pos)
            database, pos = payload[pos:end], end + 1
        return {
            "capabilities": cap,
            "maxps": maxps,
            "collation": collation,
            "username": username,
            "auth": auth,
            "database": database,
        }
    # HandshakeResponse320
    maxps = struct.unpack_from("<H", payload, 2)[0] | payload[4] << 16
    end = payload.index(b"\x00", 5)
    return {
        "capabilities": cap_lo,
        "maxps": maxps,
        "collation": 0,
        "username": payload[5:end],
        "auth": b"",
        "database": None,
    }


class MySQLServer(socketserver.ThreadingTCPServer):
    allow_reuse_address = True
    daemon_threads = True

    def __init__(self, engine, host: str = "127.0.0.1", port: int = 0):
        super().__init__((host, port), _MyConn)
        self.engine = engine


def serve_mysql(engine, host: str = "127.0.0.1", port: int = 0):
    """Start the MySQL-protocol endpoint on a background thread; returns
    (server, bound_port).  server.shutdown() stops it."""
    srv = MySQLServer(engine, host, port)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, srv.server_address[1]


# ---------------------------------------------------------------------------
# client
# ---------------------------------------------------------------------------


class MySQLClient:
    """Minimal text-protocol client: connect/ping/query.  Exists so the
    protocol is testable both-ends in-repo (the chnative.py pattern);
    speaks plain HandshakeResponse41 with an empty auth response, which
    any compliant server accepts when it does not enforce auth."""

    def __init__(self, host: str = "127.0.0.1", port: int = 3306,
                 database: str = ""):
        self.sock = socket.create_connection((host, port), timeout=30)
        self.rfile = self.sock.makefile("rb")
        self.wfile = self.sock.makefile("wb")
        self.pio = PacketIO(self.rfile, self.wfile)
        self.server_version = ""
        self._connect(database)

    # -- context manager ----------------------------------------------------

    def __enter__(self) -> "MySQLClient":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def close(self) -> None:
        try:
            self.pio.seq = 0
            self.pio.send(bytes([COM_QUIT]))
        except Exception:
            pass
        self.sock.close()

    # -- connection phase -----------------------------------------------------

    def _connect(self, database: str) -> None:
        greeting = self.pio.recv()
        if greeting is None:
            raise ConnectionError("server closed during handshake")
        if greeting[0] == 0xFF:
            raise ConnectionError(self._err_msg(greeting))
        # protocol 10 greeting: version is the NUL-terminated string at 1
        end = greeting.index(b"\x00", 1)
        self.server_version = greeting[1:end].decode()
        caps = CLIENT_PROTOCOL_41 | CLIENT_SECURE_CONNECTION
        if database:
            caps |= CLIENT_CONNECT_WITH_DB
        out = bytearray()
        out += struct.pack("<I", caps)
        out += struct.pack("<I", 16777216)  # max packet
        out.append(UTF8_GENERAL_CI)
        out += b"\x00" * 23
        out += b"spark\x00"
        out.append(0)  # empty lenenc auth response
        if database:
            out += database.encode() + b"\x00"
        self.pio.send(bytes(out))  # seq continues from the greeting
        resp = self.pio.recv()
        if resp is None or resp[0] == 0xFF:
            raise ConnectionError(self._err_msg(resp or b"\xff\x00\x00#00000eof"))

    # -- commands -------------------------------------------------------------

    def ping(self) -> bool:
        self.pio.seq = 0
        self.pio.send(bytes([COM_PING]))
        resp = self.pio.recv()
        return resp is not None and resp[0] == 0x00

    def use(self, db: str) -> None:
        self.pio.seq = 0
        self.pio.send(bytes([COM_INIT_DB]) + db.encode())
        resp = self.pio.recv()
        if resp is None or resp[0] == 0xFF:
            raise RuntimeError(self._err_msg(resp or b""))

    def query(self, sql: str) -> tuple[list[tuple[str, int]], list[tuple]]:
        """Returns ([(column name, coltype)...], [row tuples...]) with text
        values converted by column type; DDL/DML returns ([], [])."""
        self.pio.seq = 0
        self.pio.send(bytes([COM_QUERY]) + sql.encode())
        first = self.pio.recv()
        if first is None:
            raise ConnectionError("server closed mid-query")
        if first[0] == 0xFF:
            raise RuntimeError(self._err_msg(first))
        if first[0] == 0x00:
            return [], []  # OK packet — no resultset
        ncols, _ = read_lenenc_int(first, 0)
        cols: list[tuple[str, int]] = []
        for _ in range(ncols):
            cols.append(self._parse_column_def(self.pio.recv()))
        self._expect_eof()
        pkts: list[bytes] = []
        while True:
            pkt = self.pio.recv()
            if pkt is None:
                raise ConnectionError("server closed mid-resultset")
            if pkt[0] == 0xFF:
                raise RuntimeError(self._err_msg(pkt))
            if pkt[0] == 0xFE and len(pkt) < 9:
                break  # EOF
            pkts.append(pkt)
        return cols, decode_text_rows(pkts, [t for _, t in cols])

    def query_drop(self, sql: str) -> None:
        self.query(sql)

    # -- prepared statements (binary protocol) --------------------------------

    def prepare(self, sql: str) -> tuple[int, int]:
        """COM_STMT_PREPARE; returns (statement id, parameter count)."""
        self.pio.seq = 0
        self.pio.send(bytes([COM_STMT_PREPARE]) + sql.encode())
        first = self.pio.recv()
        if first is None or first[0] == 0xFF:
            raise RuntimeError(self._err_msg(first or b""))
        stmt_id, = struct.unpack_from("<I", first, 1)
        ncols, = struct.unpack_from("<H", first, 5)
        nparams, = struct.unpack_from("<H", first, 7)
        for _ in range(nparams):
            self.pio.recv()  # param definitions
        if nparams:
            self._expect_eof()
        for _ in range(ncols):
            self.pio.recv()  # column definitions
        if ncols:
            self._expect_eof()
        return stmt_id, nparams

    def execute_stmt(
        self, stmt_id: int, params: tuple = ()
    ) -> tuple[list[tuple[str, int]], list[tuple]]:
        """COM_STMT_EXECUTE with binary-bound params; returns the decoded
        BINARY resultset as ([(name, coltype)], rows)."""
        out = bytearray([COM_STMT_EXECUTE])
        out += struct.pack("<I", stmt_id)
        out.append(0)  # flags: CURSOR_TYPE_NO_CURSOR
        out += struct.pack("<I", 1)  # iteration count
        n = len(params)
        if n:
            bitmap = bytearray((n + 7) // 8)
            types = bytearray()
            body = bytearray()
            for i, v in enumerate(params):
                t = _param_type(v)
                unsigned = (
                    t == MYSQL_TYPE_LONGLONG
                    and not isinstance(v, bool)
                    and v > 2**63 - 1
                )
                types += bytes([t, 0x80 if unsigned else 0x00])
                if v is None:
                    bitmap[i // 8] |= 1 << (i % 8)
                else:
                    encode_bin_value(body, v, t)
            out += bitmap
            out.append(1)  # new-params-bound
            out += types + body
        self.pio.seq = 0
        self.pio.send(bytes(out))
        first = self.pio.recv()
        if first is None:
            raise ConnectionError("server closed mid-execute")
        if first[0] == 0xFF:
            raise RuntimeError(self._err_msg(first))
        if first[0] == 0x00:
            return [], []
        ncols, _ = read_lenenc_int(first, 0)
        full = [
            self._parse_column_def_full(self.pio.recv()) for _ in range(ncols)
        ]
        self._expect_eof()
        rows: list[tuple] = []
        while True:
            pkt = self.pio.recv()
            if pkt is None:
                raise ConnectionError("server closed mid-resultset")
            if pkt[0] == 0xFF:
                raise RuntimeError(self._err_msg(pkt))
            if pkt[0] == 0xFE and len(pkt) < 9:
                break
            rows.append(self._parse_bin_row(pkt, full))
        return [(n, t) for n, t, _ in full], rows

    def close_stmt(self, stmt_id: int) -> None:
        self.pio.seq = 0
        self.pio.send(bytes([COM_STMT_CLOSE]) + struct.pack("<I", stmt_id))

    @staticmethod
    def _parse_bin_row(
        pkt: bytes, cols: list[tuple[str, int, int]]
    ) -> tuple:
        bitmap_len = (len(cols) + 7 + 2) // 8
        bitmap = pkt[1 : 1 + bitmap_len]
        pos = 1 + bitmap_len
        vals: list[Any] = []
        for i, (_, coltype, flags) in enumerate(cols):
            if bitmap[(i + 2) // 8] & (1 << ((i + 2) % 8)):
                vals.append(None)
                continue
            v, pos = decode_bin_value(pkt, pos, coltype)
            if coltype == MYSQL_TYPE_LONGLONG and flags & UNSIGNED_FLAG and v < 0:
                v += 2**64
            vals.append(v)
        return tuple(vals)

    # -- decode helpers ---------------------------------------------------------

    def _expect_eof(self) -> None:
        pkt = self.pio.recv()
        if pkt is None or pkt[0] != 0xFE:
            raise ConnectionError("expected EOF packet")

    @staticmethod
    def _err_msg(pkt: bytes) -> str:
        code = struct.unpack_from("<H", pkt, 1)[0]
        msg = pkt[9:].decode("utf-8", "replace") if pkt[3:4] == b"#" else pkt[3:].decode(
            "utf-8", "replace"
        )
        return f"MySQL error {code}: {msg}"

    @staticmethod
    def _parse_column_def_full(pkt: bytes) -> tuple[str, int, int]:
        pos = 0
        fields = []
        for _ in range(6):  # catalog, schema, table, org_table, name, org_name
            b, pos = read_lenenc_bytes(pkt, pos)
            fields.append(b)
        _, pos = read_lenenc_int(pkt, pos)  # fixed-length block length
        pos += 2 + 4  # charset + column length
        coltype = pkt[pos]
        flags, = struct.unpack_from("<H", pkt, pos + 1)
        return fields[4].decode(), coltype, flags

    @classmethod
    def _parse_column_def(cls, pkt: bytes) -> tuple[str, int]:
        name, coltype, _ = cls._parse_column_def_full(pkt)
        return name, coltype


def _param_type(v: Any) -> int:
    """Pick the binary-protocol type tag for a Python parameter value."""
    if v is None:
        return MYSQL_TYPE_NULL
    if isinstance(v, bool):
        return MYSQL_TYPE_TINY
    if isinstance(v, int):
        return MYSQL_TYPE_LONGLONG
    if isinstance(v, float):
        return MYSQL_TYPE_DOUBLE
    if isinstance(v, _dt.datetime):
        return MYSQL_TYPE_DATETIME
    if isinstance(v, _dt.date):
        return MYSQL_TYPE_DATE
    if isinstance(v, (bytes, bytearray)):
        return MYSQL_TYPE_BLOB
    return MYSQL_TYPE_VARCHAR  # str / Decimal as text


# column type -> (the Arrow type pyarrow parses the text as, Python parser)
_TEXT_NUMBERS = {
    **dict.fromkeys((MYSQL_TYPE_TINY, MYSQL_TYPE_SHORT, MYSQL_TYPE_LONG,
                     MYSQL_TYPE_INT24, MYSQL_TYPE_LONGLONG, MYSQL_TYPE_YEAR),
                    (pa.int64(), int)),
    MYSQL_TYPE_FLOAT: (pa.float64(), float),
    MYSQL_TYPE_DOUBLE: (pa.float64(), float),
}
_TEXT_PARSE = {
    MYSQL_TYPE_DECIMAL: Decimal,
    MYSQL_TYPE_DATE: _dt.date.fromisoformat,
    MYSQL_TYPE_DATETIME: _dt.datetime.fromisoformat,
    MYSQL_TYPE_TIMESTAMP: _dt.datetime.fromisoformat,
}


def decode_text_rows(pkts: list[bytes], coltypes: list[int]) -> list[tuple]:
    """Text-protocol row packets as tuples of values converted by column
    type (ints, floats, ``Decimal``, dates, datetimes, else ``str``).

    The rows are decoded a column at a time: numpy reads every row's
    lenenc prefix of the column at once (0xFB is NULL; the 2-, 3- and
    8-byte prefixes of cells of 251 bytes or more are read per value),
    gathers the cells into one Arrow column and pyarrow casts it."""
    n = len(pkts)
    if not n or not coltypes:
        return [()] * n
    buf = np.frombuffer(b"".join(pkts), dtype=np.uint8)
    lens = np.fromiter(map(len, pkts), np.int64, n)
    ends = np.cumsum(lens)
    row0 = ends - lens
    pos = row0
    cols = []
    for coltype in coltypes:
        if (pos >= ends).any():
            raise ValueError("text row shorter than its column count")
        first = buf[pos]
        null = first == 0xFB
        size = first.astype(np.int64)
        head = np.ones(n, dtype=np.int64)
        size[null] = 0
        for i in np.flatnonzero(first > 0xFB):
            at = int(pos[i] - row0[i])
            size[i], after = read_lenenc_int(pkts[i], at)
            head[i] = after - at
        start = pos + head
        pos = start + size
        if (pos > ends).any():
            raise ValueError("text row cell runs past its packet")
        cols.append(_parse_column(_gather(buf, start, size, null), coltype))
    return list(zip(*cols))


def _gather(buf: np.ndarray, start: np.ndarray, size: np.ndarray,
            null: np.ndarray) -> pa.Array:
    """The cells ``buf[start[i]:start[i] + size[i]]`` as one string column
    (NULL where ``null``); invalid UTF-8 raises."""
    offsets = np.zeros(len(start) + 1, dtype=np.int64)
    np.cumsum(size, out=offsets[1:])
    idx = np.repeat(start - offsets[:-1], size) + np.arange(offsets[-1])
    valid = (pa.py_buffer(np.packbits(~null, bitorder="little"))
             if null.any() else None)
    arr = pa.Array.from_buffers(
        pa.large_binary(), len(start),
        [valid, pa.py_buffer(offsets), pa.py_buffer(buf[idx])])
    return arr.cast(pa.large_string())


def _parse_column(arr: pa.Array, coltype: int) -> list:
    """Python values of one text column, as ``int(text)``, ``float(text)``
    and the ``_TEXT_PARSE`` parsers give them.  pyarrow parses plain
    integers and floats; text it refuses (a sign, an integer beyond
    int64) goes through the Python parser."""
    number = _TEXT_NUMBERS.get(coltype)
    if number is None:
        parse = _TEXT_PARSE.get(coltype)
    else:
        try:
            return _py_list(arr.cast(number[0]))
        except pa.ArrowInvalid:
            parse = number[1]
    values = _py_list(arr)
    if parse is None:
        return values
    if arr.null_count:
        return [None if v is None else parse(v) for v in values]
    return list(map(parse, values))


def _py_list(arr: pa.Array) -> list:
    """``arr.to_pylist()`` of a string or number column, through numpy
    (pyarrow's own builds a scalar per value, ~20x slower)."""
    if not arr.null_count or pa.types.is_large_string(arr.type):
        return arr.to_numpy(zero_copy_only=False).tolist()
    values = arr.fill_null(0).to_numpy().tolist()
    for i in np.flatnonzero(arr.is_null().to_numpy(zero_copy_only=False)):
        values[i] = None
    return values
