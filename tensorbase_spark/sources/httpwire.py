"""ClickHouse HTTP interface — both ends, pure stdlib Python.

The reference ships two stock front doors: the ClickHouse native TCP
protocol (crates/server/src/server.rs:94-132, mirrored by
sources/chnative.py) and the MySQL protocol (crates/server_mysql/,
mirrored by sources/mysqlwire.py).  Upstream ClickHouse's MOST used
front door, however, is the HTTP interface on :8123 — `curl
'http://host:8123/?query=...'` — which every language driver without a
native codec speaks, and which the reference's users coming from stock
ClickHouse expect.  This module plays that role over
:class:`TensorBaseEngine`, following the chnative.py both-ends pattern:
a threaded HTTP server AND a stdlib client so the surface is
golden-byte- and round-trip-testable in-repo with no third-party
packages.

Surface (mirrors the public upstream-CH HTTP semantics):

* ``GET /`` with no query -> ``Ok.\\n`` (health probe); ``/ping`` and
  ``/replicas_status`` likewise;
* the query text may arrive in the ``query`` URL parameter, the POST
  body, or both (parameter first, newline-joined) — for INSERT the body
  after ``FORMAT <name>`` is the data payload;
* ``database``, ``default_format``, ``query_id``, ``session_id`` and
  ``param_<name>`` URL parameters (the latter bind ``{name:Type}``
  placeholders via the engine's existing ``SET param_x`` machinery);
  other recognized engine settings are applied per-request and restored
  afterwards (CH's per-request settings scope) unless a ``session_id``
  pins them;
* output FORMATs: TabSeparated family (incl. Raw/WithNames/
  WithNamesAndTypes), CSV family, JSON, JSONCompact, JSONEachRow,
  JSONCompactEachRow, Values, Pretty, PrettyCompact, RowBinary,
  RowBinaryWithNamesAndTypes, Null;
* INSERT body FORMATs: TabSeparated, CSV, JSONEachRow,
  JSONCompactEachRow, Values (each with the CH text escapes — Values
  routes through the engine's VALUES parser, expressions included),
  RowBinary (headerless; layout from the table's declared types),
  RowBinaryWithNamesAndTypes, Native, Arrow, ArrowStream, Parquet;
  line-delimited formats stream in bounded batches
  (TB_HTTP_INSERT_BATCH_BYTES), so a multi-GB POST never materializes
  in server RAM;
* compression: ``Accept-Encoding: gzip`` + ``enable_http_compression=1``
  -> gzip responses; ``Content-Encoding: gzip`` request bodies;
  ``compress=1`` / ``decompress=1`` -> ClickHouse-internal LZ4 block
  framing with CityHash128 checksums (the exact frame codec shared with
  the native protocol, sources/chnative.py);
* ``X-ClickHouse-*`` response headers (Query-Id, Format, Timezone,
  Summary, Server-Display-Name) and exception mapping to HTTP statuses
  with ``X-ClickHouse-Exception-Code`` + a ``Code: N. DB::Exception:``
  body, per the public interface;
* SELECT results stream out CHUNKED — one chunk per Arrow batch of
  ``batches.result_batches`` (one Spark partition in flight), so a result
  never needs to fit on the driver heap; the query itself still runs
  fully distributed (the HTTP endpoint is only the collect boundary).

Authentication is accept-all, matching the reference's native front
door (its ``on_auth`` accepts unconditionally).
"""

from __future__ import annotations

import datetime as _dt
import gzip as _gzip
import io
import json as _json
import math
import os
import re
import threading
import time as _time
import zlib as _zlib
import uuid as _uuid
from decimal import Decimal
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any, Iterable, Iterator
from urllib.parse import parse_qs, quote, urlsplit

import pyarrow as pa
import pyarrow.compute as pc

from tensorbase_spark.sources import batches
from tensorbase_spark.sources.chnative import (
    Reader,
    compress_frame,
    read_frame,
    spark_field_to_ch,
    write_varint,
)

# ---------------------------------------------------------------------------
# value -> text rendering (one shared vocabulary for every text format)
# ---------------------------------------------------------------------------

_TSV_ESC = {
    "\\": "\\\\", "\t": "\\t", "\n": "\\n", "\r": "\\r",
    "\0": "\\0", "\b": "\\b", "\f": "\\f",
}
_TSV_ESC_RE = re.compile("[\\\\\t\n\r\0\b\f]")
_TSV_UNESC = {
    "\\": "\\", "t": "\t", "n": "\n", "r": "\r", "0": "\0",
    "b": "\b", "f": "\f", "N": None, "'": "'", '"': '"',
}


def tsv_escape(s: str) -> str:
    return _TSV_ESC_RE.sub(lambda m: _TSV_ESC[m.group(0)], s)


def tsv_unescape(s: str) -> str:
    out, i, n = [], 0, len(s)
    while i < n:
        c = s[i]
        if c == "\\" and i + 1 < n:
            rep = _TSV_UNESC.get(s[i + 1])
            if rep is not None:
                out.append(rep)
                i += 2
                continue
        out.append(c)
        i += 1
    return "".join(out)


def _fmt_float(v: float) -> str:
    """CH prints floats shortest-round-trip; integral values drop the
    fraction (SELECT 1.0 FORMAT TSV -> ``1``)."""
    if math.isnan(v):
        return "nan"
    if math.isinf(v):
        return "inf" if v > 0 else "-inf"
    s = repr(float(v))
    return s[:-2] if s.endswith(".0") else s


def _plain_text(v: Any) -> str:
    """Unescaped text for one non-NULL value (shared by every format;
    each format then applies its own quoting/escaping to strings)."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return _fmt_float(v)
    if isinstance(v, Decimal):
        return format(v, "f")
    if isinstance(v, _dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, _dt.date):
        return v.isoformat()
    return str(v)


def _array_text(v: list) -> str:
    """CH array text form: [1,2], ['a','b'], [NULL,3] — element strings
    single-quoted with backslash escapes."""
    parts = []
    for x in v:
        if x is None:
            parts.append("NULL")
        elif isinstance(x, str):
            parts.append("'" + tsv_escape(x).replace("'", "\\'") + "'")
        elif isinstance(x, list):
            parts.append(_array_text(x))
        else:
            parts.append(_plain_text(x))
    return "[" + ",".join(parts) + "]"


def _tsv_field(v: Any, raw: bool = False) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, list):
        return _array_text(v)
    if isinstance(v, str):
        return v if raw else tsv_escape(v)
    return _plain_text(v)


def _csv_field(v: Any) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, list):
        return '"' + _array_text(v).replace('"', '""') + '"'
    if isinstance(v, (str, _dt.date, _dt.datetime)):
        # CH CSV output double-quotes strings and date/times
        return '"' + _plain_text(v).replace('"', '""') + '"'
    return _plain_text(v)


def _values_field(v: Any) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, list):
        return _array_text(v)
    if isinstance(v, (str, _dt.date, _dt.datetime)):
        s = _plain_text(v)
        if isinstance(v, str):
            s = tsv_escape(s).replace("'", "\\'")
        return "'" + s + "'"
    return _plain_text(v)


def _json_value(v: Any, ch_type: str, quote64: bool) -> Any:
    """Python value -> JSON-serializable per CH JSON conventions:
    Int64/UInt64 quoted when ``output_format_json_quote_64bit_integers``
    (the CH default), nan/inf -> null, date/times as strings."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, list):
        inner = ch_type
        if inner.startswith("Array(") and inner.endswith(")"):
            inner = inner[6:-1]
        return [_json_value(x, inner, quote64) for x in v]
    if isinstance(v, float):
        return None if (math.isnan(v) or math.isinf(v)) else v
    if isinstance(v, Decimal):
        return format(v, "f")
    if isinstance(v, (_dt.date, _dt.datetime)):
        return _plain_text(v)
    if isinstance(v, int) and quote64 and _is_64bit(ch_type):
        return str(v)
    return v


def _is_64bit(ch_type: str) -> bool:
    base = ch_type
    if base.startswith("Nullable(") and base.endswith(")"):
        base = base[9:-1]
    return base in ("Int64", "UInt64")


# ---------------------------------------------------------------------------
# output format encoders — generators of bytes chunks
# ---------------------------------------------------------------------------

_CANON_FMT = {
    "tabseparated": "TabSeparated", "tsv": "TabSeparated",
    "tabseparatedraw": "TabSeparatedRaw", "tsvraw": "TabSeparatedRaw",
    "tabseparatedwithnames": "TabSeparatedWithNames",
    "tsvwithnames": "TabSeparatedWithNames",
    "tabseparatedwithnamesandtypes": "TabSeparatedWithNamesAndTypes",
    "tsvwithnamesandtypes": "TabSeparatedWithNamesAndTypes",
    "csv": "CSV", "csvwithnames": "CSVWithNames",
    "csvwithnamesandtypes": "CSVWithNamesAndTypes",
    "json": "JSON", "jsoncompact": "JSONCompact",
    "jsoneachrow": "JSONEachRow", "ndjson": "JSONEachRow",
    "jsoncompacteachrow": "JSONCompactEachRow",
    "values": "Values",
    "pretty": "Pretty", "prettycompact": "PrettyCompact",
    "rowbinary": "RowBinary",
    "rowbinarywithnamesandtypes": "RowBinaryWithNamesAndTypes",
    "native": "Native",
    "arrow": "Arrow",
    "arrowstream": "ArrowStream",
    "parquet": "Parquet",
    "null": "Null",
}

_CONTENT_TYPE = {
    "TabSeparated": "text/tab-separated-values; charset=UTF-8",
    "TabSeparatedRaw": "text/tab-separated-values; charset=UTF-8",
    "TabSeparatedWithNames": "text/tab-separated-values; charset=UTF-8",
    "TabSeparatedWithNamesAndTypes": "text/tab-separated-values; charset=UTF-8",
    "CSV": "text/csv; charset=UTF-8; header=absent",
    "CSVWithNames": "text/csv; charset=UTF-8; header=present",
    "CSVWithNamesAndTypes": "text/csv; charset=UTF-8; header=present",
    "JSON": "application/json; charset=UTF-8",
    "JSONCompact": "application/json; charset=UTF-8",
    "JSONEachRow": "application/x-ndjson; charset=UTF-8",
    "JSONCompactEachRow": "application/x-ndjson; charset=UTF-8",
    "Values": "text/plain; charset=UTF-8",
    "Pretty": "text/plain; charset=UTF-8",
    "PrettyCompact": "text/plain; charset=UTF-8",
    "RowBinary": "application/octet-stream",
    "RowBinaryWithNamesAndTypes": "application/octet-stream",
    "Native": "application/octet-stream",
    "Arrow": "application/octet-stream",
    "ArrowStream": "application/vnd.apache.arrow.stream",
    "Parquet": "application/octet-stream",
    "Null": "text/plain; charset=UTF-8",
}

PRETTY_MAX_ROWS = 10_000  # upstream-CH Pretty formats cap at 10k rows


def canonical_format(name: str) -> str:
    canon = _CANON_FMT.get((name or "").strip().lower())
    if canon is None:
        raise ValueError(f"unknown FORMAT {name!r}")
    return canon


def encode_rows(
    fmt: str,
    names: list[str],
    ch_types: list[str],
    rows: Iterable[tuple],
    quote64: bool = True,
) -> Iterator[bytes]:
    """Encode an iterable of plain-Python tuples as FORMAT ``fmt``,
    yielding bytes chunks (one per row batch for the streaming formats;
    the Pretty/JSON envelope formats buffer by construction)."""
    if fmt == "Null":
        for _ in rows:
            pass
        return
    if fmt.startswith("TabSeparated"):
        raw = fmt == "TabSeparatedRaw"
        yield from _text_header(fmt, names, ch_types)
        for r in rows:
            yield ("\t".join(_tsv_field(v, raw) for v in r) + "\n").encode()
        return
    if fmt.startswith("CSV"):
        yield from _text_header(fmt, names, ch_types)
        for r in rows:
            yield (",".join(_csv_field(v) for v in r) + "\n").encode()
        return
    if fmt == "JSONEachRow":
        for r in rows:
            obj = {
                n: _json_value(v, t, quote64)
                for n, t, v in zip(names, ch_types, r)
            }
            yield (_json.dumps(obj, ensure_ascii=False, separators=(",", ":"))
                   + "\n").encode()
        return
    if fmt == "JSONCompactEachRow":
        for r in rows:
            arr = [_json_value(v, t, quote64) for t, v in zip(ch_types, r)]
            yield (_json.dumps(arr, ensure_ascii=False, separators=(",", ":"))
                   + "\n").encode()
        return
    if fmt in ("JSON", "JSONCompact"):
        yield from _encode_json_envelope(fmt, names, ch_types, rows, quote64)
        return
    if fmt == "Values":
        first = True
        for r in rows:
            pre = "" if first else ","
            first = False
            yield (pre + "(" + ",".join(_values_field(v) for v in r)
                   + ")").encode()
        yield b"\n"
        return
    if fmt in ("Pretty", "PrettyCompact"):
        yield _encode_pretty(fmt, names, rows)
        return
    if fmt in ("RowBinary", "RowBinaryWithNamesAndTypes"):
        yield from _encode_rowbinary(fmt, names, ch_types, rows)
        return
    if fmt == "Native":
        yield from _encode_native(names, ch_types, rows)
        return
    if fmt in ("Arrow", "ArrowStream", "Parquet"):
        yield from _encode_arrow(fmt, names, ch_types, rows)
        return
    raise ValueError(f"unknown FORMAT {fmt!r}")


def _text_header(fmt: str, names: list[str], ch_types: list[str]) -> list[bytes]:
    """Name / type lines of the TSV and CSV families."""
    out = []
    if fmt.startswith("TabSeparated"):
        if fmt in ("TabSeparatedWithNames", "TabSeparatedWithNamesAndTypes"):
            out.append(("\t".join(tsv_escape(n) for n in names) + "\n").encode())
        if fmt == "TabSeparatedWithNamesAndTypes":
            out.append(("\t".join(ch_types) + "\n").encode())
        return out
    if fmt in ("CSVWithNames", "CSVWithNamesAndTypes"):
        out.append((",".join('"%s"' % n.replace('"', '""') for n in names)
                    + "\n").encode())
    if fmt == "CSVWithNamesAndTypes":
        out.append((",".join('"%s"' % t.replace('"', '""') for t in ch_types)
                    + "\n").encode())
    return out


# ---------------------------------------------------------------------------
# the result path: Arrow batches in, one chunk per batch out
# ---------------------------------------------------------------------------


def encode_batches(
    fmt: str,
    names: list[str],
    ch_types: list[str],
    fields: list,
    batch_iter: Iterable,
    quote64: bool = True,
) -> Iterator[bytes]:
    """Encode Arrow result batches (Spark ``fields``) as FORMAT ``fmt``.
    The TSV and CSV families are built column by column, one chunk per
    batch, byte-identical to ``encode_rows`` over the rows a Spark
    ``collect()`` returns; Native leaves as blocks of the batch columns;
    the other formats go through ``encode_rows`` on each batch's Python
    values."""
    if fmt == "Null":
        for _ in batch_iter:
            pass
        return
    if fmt.startswith(("TabSeparated", "CSV")):
        yield from _text_header(fmt, names, ch_types)
        for b in batch_iter:
            if b.num_rows:
                yield _text_lines(fmt, fields, b)
        return
    if fmt == "Native":
        yield from _native_blocks(names, ch_types, batch_iter)
        return
    yield from encode_rows(
        fmt, names, ch_types, _batch_rows(fields, batch_iter), quote64=quote64)


def _batch_rows(fields, batch_iter) -> Iterator[tuple]:
    for b in batch_iter:
        yield from zip(*[
            batches.py_values(c, f.dataType) for c, f in zip(b.columns, fields)
        ])


def _text_lines(fmt: str, fields, batch) -> bytes:
    if fmt.startswith("CSV"):
        cols = [_csv_text(c, f.dataType) for c, f in zip(batch.columns, fields)]
        sep = ","
    else:
        raw = fmt == "TabSeparatedRaw"
        cols = [_tsv_text(c, f.dataType, raw)
                for c, f in zip(batch.columns, fields)]
        sep = "\t"
    cols = [pc.fill_null(c, "\\N") for c in cols]
    lines = pc.binary_join_element_wise(*cols, sep)
    # line + "\n" + "": every line newline-terminated
    lines = pc.binary_join_element_wise(lines, pa.scalar(""), "\n")
    return batches.joined_bytes(batches.as_binary(lines))


def _plain_column(arr, dt):
    """``_plain_text`` of a column, vectorized; None for the types it
    leaves to the per-value path."""
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return pc.cast(arr, pa.string())
    if isinstance(dt, T.BooleanType):
        return pc.if_else(arr, pa.scalar("true"), pa.scalar("false"))
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return batches.float_text(arr, _fmt_float, keep_point=False)
    if isinstance(dt, T.DecimalType) and dt.scale <= 6:
        # below 7 decimal places Arrow's and Python's notation agree
        return pc.cast(arr, pa.string())
    if isinstance(dt, T.DateType):
        return pc.cast(arr, pa.string())
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        wall = batches.local_wall_us(arr)
        if wall is not None and (
                not len(wall) or wall.min() >= batches.MIN_PADDED_YEAR_US):
            return pc.if_else(pc.is_null(arr), pa.scalar(None, pa.string()),
                              batches.seconds_text(wall))
    return None


def _tsv_text(arr, dt, raw: bool):
    """``_tsv_field`` of a column (NULLs stay NULL)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StringType):
        if not raw:
            for ch, rep in _TSV_ESC.items():  # backslash first
                arr = pc.replace_substring(arr, ch, rep)
        return arr
    text = _plain_column(arr, dt)
    if text is None:
        text = batches.text_with(arr, dt, lambda v: _tsv_field(v, raw))
    return text


def _csv_text(arr, dt):
    """``_csv_field`` of a column (NULLs stay NULL)."""
    from pyspark.sql import types as T

    text = arr if isinstance(dt, T.StringType) else _plain_column(arr, dt)
    if text is None:
        return batches.text_with(arr, dt, _csv_field)
    if isinstance(dt, (T.StringType, T.DateType, T.TimestampType,
                       T.TimestampNTZType)):
        text = pc.binary_join_element_wise(
            pa.scalar('"'), pc.replace_substring(text, '"', '""'),
            pa.scalar('"'), "")
    return text


def _native_blocks(names, ch_types, batch_iter) -> Iterator[bytes]:
    from tensorbase_spark.sources.chnative import Block, batches_to_blocks

    # the block codec speaks UInt8 for booleans (Bool is the TEXT-format
    # spelling; the native wire carries u8, like chnative's own mapping)
    ch_types = [re.sub(r"\bBool\b", "UInt8", t) for t in ch_types]
    any_out = False
    for blk in batches_to_blocks(names, ch_types, batch_iter):
        any_out = True
        yield blk.encode_body()
    if not any_out:
        # zero-row structure block when the result is empty (CH's shape)
        yield Block([(n, t, []) for n, t in zip(names, ch_types)],
                    nrows=0, bucket=0).encode_body()


def _encode_json_envelope(fmt, names, ch_types, rows, quote64):
    head = {"meta": [{"name": n, "type": t} for n, t in zip(names, ch_types)]}
    buf = _json.dumps(head, ensure_ascii=False)[:-1] + ',\n"data":\n[\n'
    yield buf.encode()
    nrows = 0
    for r in rows:
        if fmt == "JSON":
            item = {
                n: _json_value(v, t, quote64)
                for n, t, v in zip(names, ch_types, r)
            }
        else:
            item = [_json_value(v, t, quote64) for t, v in zip(ch_types, r)]
        pre = ",\n" if nrows else ""
        nrows += 1
        yield (pre + _json.dumps(item, ensure_ascii=False,
                                 separators=(",", ":"))).encode()
    tail = '\n],\n"rows": %d\n}\n' % nrows
    yield tail.encode()


def _encode_pretty(fmt: str, names: list[str], rows: Iterable[tuple]) -> bytes:
    """Pretty / PrettyCompact box tables (buffered: CH caps these human
    formats at 10k rows; numbers right-aligned like CH)."""
    mat, overflow = [], 0
    for r in rows:
        if len(mat) >= PRETTY_MAX_ROWS:
            overflow += 1
            continue
        mat.append([
            "ᴺᵁᴸᴸ" if v is None
            else (_array_text(v) if isinstance(v, list) else _plain_text(v))
            for v in r
        ])
    widths = [len(n) for n in names]
    numeric = [True] * len(names)
    for r in mat:
        for j, cell in enumerate(r):
            widths[j] = max(widths[j], len(cell))
            if cell and not re.fullmatch(r"-?[\d.]+(e-?\d+)?", cell):
                numeric[j] = False
    out = io.StringIO()

    def _row(cells, sl, sm, sr, pad=" "):
        out.write(sl)
        out.write(sm.join(
            pad + c.rjust(widths[j]) + pad if numeric[j]
            else pad + c.ljust(widths[j]) + pad
            for j, c in enumerate(cells)
        ))
        out.write(sr + "\n")

    if fmt == "Pretty":
        out.write("┏" + "┳".join("━" * (w + 2) for w in widths) + "┓\n")
        _row(names, "┃", "┃", "┃")
        out.write("┡" + "╇".join("━" * (w + 2) for w in widths) + "┩\n")
        for r in mat:
            _row(r, "│", "│", "│")
        out.write("└" + "┴".join("─" * (w + 2) for w in widths) + "┘\n")
    else:  # PrettyCompact: header embedded in the top border
        segs = []
        for j, n in enumerate(names):
            segs.append("─" + n + "─" * (widths[j] - len(n) + 1))
        out.write("┌" + "┬".join(segs) + "┐\n")
        for r in mat:
            _row(r, "│", "│", "│")
        out.write("└" + "┴".join("─" * (w + 2) for w in widths) + "┘\n")
    if overflow:
        out.write(f"Showed first {PRETTY_MAX_ROWS}.\n")
    return out.getvalue().encode()


# ---------------------------------------------------------------------------
# Native — the native-protocol block stream as an HTTP FORMAT (what
# clickhouse-connect-style drivers use over HTTP); the block codec is the
# one shared with sources/chnative.py, byte-exactly
# ---------------------------------------------------------------------------

NATIVE_BLOCK_ROWS = 8192


def _native_value(v: Any) -> Any:
    """A row value for the block codec: a naive datetime is OS-local wall
    time here, as in the text formats, so attach that zone (the codec
    reads naive values as UTC)."""
    if isinstance(v, _dt.datetime) and v.tzinfo is None:
        return v.astimezone()
    if isinstance(v, list):
        return [_native_value(x) for x in v]
    return v


def _encode_native(names, ch_types, rows):
    from tensorbase_spark.sources.chnative import Block

    # the block codec speaks UInt8 for booleans (Bool is the TEXT-format
    # spelling; the native wire carries u8, like chnative's own mapping)
    ch_types = [re.sub(r"\bBool\b", "UInt8", t) for t in ch_types]

    def _flush(batch):
        cols = [
            (n, t, [_native_value(r[j]) for r in batch])
            for j, (n, t) in enumerate(zip(names, ch_types))
        ]
        return Block(cols, nrows=len(batch), bucket=0).encode_body()

    batch, any_out = [], False
    for r in rows:
        batch.append(r)
        if len(batch) >= NATIVE_BLOCK_ROWS:
            any_out = True
            yield _flush(batch)
            batch = []
    if batch or not any_out:
        # zero-row structure block when the result is empty (CH's shape)
        yield _flush(batch)


def decode_native(data: bytes):
    """Decode a FORMAT Native payload -> (names, ch_types, rows)."""
    from tensorbase_spark.sources.chnative import Block, Reader as _R

    r = _R(data)
    names, types, rows = None, None, []
    while not r.at_end():
        blk = Block.decode_body(r)
        if names is None:
            names = [c[0] for c in blk.columns]
            types = [c[1] for c in blk.columns]
        if blk.nrows:
            rows.extend(zip(*[c[2] for c in blk.columns]))
    return names or [], types or [], [tuple(t) for t in rows]


# ---------------------------------------------------------------------------
# Arrow / ArrowStream / Parquet — the columnar interchange FORMATs the
# dataframe ecosystem consumes directly (pyarrow does the byte work; this
# layer only maps CH types to Arrow types, mirroring CH's own mapping)
# ---------------------------------------------------------------------------


def _pa_type(ch: str):
    import pyarrow as pa

    if ch.startswith("Nullable(") and ch.endswith(")"):
        ch = ch[9:-1]
    if ch.startswith("Array(") and ch.endswith(")"):
        return pa.list_(_pa_type(ch[6:-1]))
    m = {
        "Int8": pa.int8(), "Int16": pa.int16(), "Int32": pa.int32(),
        "Int64": pa.int64(), "UInt8": pa.uint8(), "UInt16": pa.uint16(),
        "UInt32": pa.uint32(), "UInt64": pa.uint64(),
        "Float32": pa.float32(), "Float64": pa.float64(),
        "String": pa.string(), "Date": pa.date32(), "Bool": pa.bool_(),
    }
    if ch in m:
        return m[ch]
    if ch.startswith("DateTime"):
        return pa.timestamp("s")
    if ch.startswith("Decimal("):
        p, s = ch[8:-1].split(",")
        return pa.decimal128(int(p), int(s))
    return pa.string()


def _arrow_cell(v: Any, ch: str):
    """Python value -> what pyarrow expects for the mapped type."""
    if v is None:
        return None
    base = ch
    if base.startswith("Nullable(") and base.endswith(")"):
        base = base[9:-1]
    if base == "UInt64" and isinstance(v, Decimal):
        return int(v)
    if base == "UInt8" and isinstance(v, bool):
        return 1 if v else 0
    if base.startswith("DateTime") and isinstance(v, _dt.datetime):
        # local-naive wall time, symmetric with the TSV/RowBinary paths
        # (a round trip through Arrow must not shift the instant)
        if v.tzinfo is not None:
            v = v.astimezone().replace(tzinfo=None)
        return v.replace(microsecond=0)
    if base.startswith("Array(") and isinstance(v, list):
        return [_arrow_cell(x, base[6:-1]) for x in v]
    return v


def _rows_to_pa_batch(names, ch_types, batch):
    import pyarrow as pa

    schema = pa.schema(
        [pa.field(n, _pa_type(t)) for n, t in zip(names, ch_types)]
    )
    arrays = [
        pa.array(
            [_arrow_cell(r[j], t) for r in batch], type=_pa_type(t)
        )
        for j, t in enumerate(ch_types)
    ]
    return pa.record_batch(arrays, schema=schema)


def _encode_arrow(fmt, names, ch_types, rows):
    import pyarrow as pa

    batches, batch = [], []
    for r in rows:
        batch.append(r)
        if len(batch) >= NATIVE_BLOCK_ROWS:
            batches.append(_rows_to_pa_batch(names, ch_types, batch))
            batch = []
    if batch or not batches:
        batches.append(_rows_to_pa_batch(names, ch_types, batch))
    sink = io.BytesIO()
    if fmt == "Parquet":
        import pyarrow.parquet as pq

        pq.write_table(pa.Table.from_batches(batches), sink)
    else:
        opener = pa.ipc.new_file if fmt == "Arrow" else pa.ipc.new_stream
        with opener(sink, batches[0].schema) as w:
            for b in batches:
                w.write_batch(b)
    yield sink.getvalue()


def decode_arrow_body(fmt: str, data: bytes):
    """Arrow/ArrowStream/Parquet INSERT payload -> (names, rows of
    plain-Python values)."""
    import pyarrow as pa

    src = io.BytesIO(data)
    if fmt == "Parquet":
        import pyarrow.parquet as pq

        table = pq.read_table(src)
    elif fmt == "Arrow":
        table = pa.ipc.open_file(src).read_all()
    else:
        table = pa.ipc.open_stream(src).read_all()
    names = table.column_names
    rows = list(zip(*[c.to_pylist() for c in table.columns]))
    return names, [list(r) for r in rows]


# ---------------------------------------------------------------------------
# RowBinary — row-major fixed-width codec (public CH format spec)
# ---------------------------------------------------------------------------

_EPOCH_DATE = _dt.date(1970, 1, 1)
_INT_SPEC = {
    "Int8": (1, True), "Int16": (2, True), "Int32": (4, True),
    "Int64": (8, True), "UInt8": (1, False), "UInt16": (2, False),
    "UInt32": (4, False), "UInt64": (8, False),
    "Bool": (1, False),  # RowBinary carries Bool as one byte
}


def _rb_encode_value(out: bytearray, base: str, v: Any) -> None:
    if base in _INT_SPEC:
        size, signed = _INT_SPEC[base]
        iv = int(v)
        if isinstance(v, bool):
            iv = 1 if v else 0
        out += iv.to_bytes(size, "little", signed=signed)
    elif base == "Float64":
        import struct
        out += struct.pack("<d", float(v))
    elif base == "Float32":
        import struct
        out += struct.pack("<f", float(v))
    elif base == "String":
        b = str(v).encode()
        write_varint(out, len(b))
        out += b
    elif base == "Date":
        days = (v - _EPOCH_DATE).days if isinstance(v, _dt.date) else int(v)
        if not 0 <= days <= 0xFFFF:
            raise ValueError(f"Date {v!r} outside u16 day range")
        out += days.to_bytes(2, "little")
    elif base.startswith("DateTime"):
        if isinstance(v, _dt.datetime):
            if v.tzinfo is None:
                v = v.astimezone()
            ts = int(v.timestamp())
        else:
            ts = int(v)
        if not 0 <= ts <= 0xFFFFFFFF:
            raise ValueError(f"DateTime {v!r} outside u32 second range")
        out += ts.to_bytes(4, "little")
    elif base.startswith("Decimal("):
        p, s = base[8:-1].split(",")
        scaled = int(Decimal(v).scaleb(int(s)).to_integral_value())
        size = 4 if int(p) <= 9 else 8
        out += scaled.to_bytes(size, "little", signed=True)
    elif base.startswith("Array("):
        write_varint(out, len(v))
        inner = base[6:-1]
        for x in v:
            _rb_encode_nullable(out, inner, x)
    else:
        raise ValueError(f"RowBinary: unsupported type {base!r}")


def _rb_encode_nullable(out: bytearray, ch_type: str, v: Any) -> None:
    if ch_type.startswith("Nullable(") and ch_type.endswith(")"):
        base = ch_type[9:-1]
        if v is None:
            out += b"\x01"
            # a default value follows the NULL marker per the spec
            _rb_encode_value(out, base, _rb_default(base))
            return
        out += b"\x00"
        _rb_encode_value(out, base, v)
        return
    if v is None:
        _rb_encode_value(out, ch_type, _rb_default(ch_type))
        return
    _rb_encode_value(out, ch_type, v)


def _rb_default(base: str) -> Any:
    if base == "String":
        return ""
    if base == "Date":
        return _EPOCH_DATE
    if base.startswith("DateTime"):
        return 0
    if base.startswith("Decimal("):
        return Decimal(0)
    if base.startswith("Array("):
        return []
    return 0


def _encode_rowbinary(fmt, names, ch_types, rows):
    if fmt == "RowBinaryWithNamesAndTypes":
        head = bytearray()
        write_varint(head, len(names))
        for n in names:
            b = n.encode()
            write_varint(head, len(b))
            head += b
        for t in ch_types:
            b = t.encode()
            write_varint(head, len(b))
            head += b
        yield bytes(head)
    batch = bytearray()
    for r in rows:
        for t, v in zip(ch_types, r):
            _rb_encode_nullable(batch, t, v)
        if len(batch) >= 1 << 16:
            yield bytes(batch)
            batch = bytearray()
    if batch:
        yield bytes(batch)


def _rb_decode_value(r: Reader, base: str) -> Any:
    import struct
    if base in _INT_SPEC:
        size, signed = _INT_SPEC[base]
        return int.from_bytes(r.read(size), "little", signed=signed)
    if base == "Float64":
        return struct.unpack("<d", r.read(8))[0]
    if base == "Float32":
        return struct.unpack("<f", r.read(4))[0]
    if base == "String":
        return r.read(r.read_varint()).decode()
    if base == "Date":
        return _EPOCH_DATE + _dt.timedelta(
            days=int.from_bytes(r.read(2), "little"))
    if base.startswith("DateTime"):
        ts = int.from_bytes(r.read(4), "little")
        return _dt.datetime.fromtimestamp(ts)
    if base.startswith("Decimal("):
        p, s = base[8:-1].split(",")
        size = 4 if int(p) <= 9 else 8
        raw = int.from_bytes(r.read(size), "little", signed=True)
        return Decimal(raw).scaleb(-int(s))
    if base.startswith("Array("):
        n = r.read_varint()
        inner = base[6:-1]
        return [_rb_decode_nullable(r, inner) for _ in range(n)]
    raise ValueError(f"RowBinary: unsupported type {base!r}")


def _rb_decode_nullable(r: Reader, ch_type: str) -> Any:
    if ch_type.startswith("Nullable(") and ch_type.endswith(")"):
        isnull = r.read(1)[0]
        v = _rb_decode_value(r, ch_type[9:-1])
        return None if isnull else v
    return _rb_decode_value(r, ch_type)


def decode_rowbinary_with_names_and_types(data: bytes):
    """Decode a RowBinaryWithNamesAndTypes payload ->
    (names, ch_types, rows)."""
    r = Reader(data)
    ncols = r.read_varint()
    names = [r.read(r.read_varint()).decode() for _ in range(ncols)]
    types = [r.read(r.read_varint()).decode() for _ in range(ncols)]
    rows = []
    while not r.at_end():
        rows.append(tuple(_rb_decode_nullable(r, t) for t in types))
    return names, types, rows


# ---------------------------------------------------------------------------
# input format decoders (INSERT body data -> rows of text-or-typed values)
# ---------------------------------------------------------------------------

def decode_body_rows(fmt: str, data: bytes) -> tuple[list, list | None]:
    """INSERT payload -> (rows, col_names_from_data_or_None).  Text rows
    carry strings (``None`` for NULL); JSON rows carry typed values."""
    fmt = canonical_format(fmt)
    if fmt == "Native":
        names, _types, rows = decode_native(data)
        return [list(r) for r in rows], names
    if fmt == "RowBinaryWithNamesAndTypes":
        names, _types, rows = decode_rowbinary_with_names_and_types(data)
        return [list(r) for r in rows], names
    if fmt in ("Arrow", "ArrowStream", "Parquet"):
        names, rows = decode_arrow_body(fmt, data)
        return rows, names
    text = data.decode()
    if fmt == "JSONEachRow":
        rows, names = [], None
        for line in text.splitlines():
            line = line.strip()
            if not line:
                continue
            obj = _json.loads(line)
            if names is None:
                names = list(obj.keys())
            rows.append([obj.get(k) for k in names])
        return rows, names
    if fmt == "JSONCompactEachRow":
        return [
            _json.loads(line) for line in text.splitlines() if line.strip()
        ], None
    if fmt.startswith("CSV"):
        # the csv module is stateful across lines, so quoted fields may
        # embed newlines (the CH CSV contract a naive splitlines breaks)
        import csv as _csv

        recs = [r for r in _csv.reader(io.StringIO(text)) if r]
        names = None
        if fmt in ("CSVWithNames", "CSVWithNamesAndTypes"):
            names = recs.pop(0)
        if fmt == "CSVWithNamesAndTypes":
            recs.pop(0)
        rows = [[None if f == "\\N" else f for f in r] for r in recs]
        return rows, names
    if fmt.startswith("TabSeparated"):
        # Raw = NO escaping and NO \N null form (its contract IS
        # "bytes pass through"); unescaping it corrupts literal
        # backslash sequences (r10 review)
        raw = fmt == "TabSeparatedRaw"
        lines = [ln for ln in text.split("\n") if ln != ""]
        names = None
        if fmt in ("TabSeparatedWithNames", "TabSeparatedWithNamesAndTypes"):
            names = [tsv_unescape(f) for f in lines.pop(0).split("\t")]
        if fmt == "TabSeparatedWithNamesAndTypes":
            lines.pop(0)
        rows = []
        for ln in lines:
            vals = []
            for f in ln.split("\t"):
                if raw:
                    vals.append(f)
                else:
                    vals.append(None if f == "\\N" else tsv_unescape(f))
            rows.append(vals)
        return rows, names
    raise ValueError(f"INSERT FORMAT {fmt}: unsupported body format")


def _coerce(v: Any, simple: str) -> Any:
    """Text-or-JSON value -> the Python value Spark expects for a column
    of simpleString type ``simple``."""
    if v is None:
        return None
    if simple in ("tinyint", "smallint", "int", "bigint"):
        return int(v)
    if simple in ("float", "double"):
        return float(v)
    if simple.startswith("decimal("):
        return Decimal(str(v))
    if simple == "boolean":
        if isinstance(v, bool):
            return v
        return str(v).strip().lower() in ("1", "true", "t", "yes")
    if simple == "date":
        if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
            return v
        return _dt.date.fromisoformat(str(v).strip())
    if simple in ("timestamp", "timestamp_ntz"):
        if isinstance(v, _dt.datetime):
            return v
        s = str(v).strip()
        if re.fullmatch(r"\d+", s):
            return _dt.datetime.fromtimestamp(int(s))
        return _dt.datetime.fromisoformat(s)
    if simple.startswith("array<") and simple.endswith(">"):
        inner = simple[6:-1]
        if isinstance(v, list):
            return [_coerce(x, inner) for x in v]
        return [_coerce(x, inner) for x in _parse_array_text(str(v))]
    return str(v)


def _parse_array_text(s: str) -> list:
    """Parse the CH bracketed array text form ('[1,2]', "['a','b']")."""
    s = s.strip()
    if not (s.startswith("[") and s.endswith("]")):
        raise ValueError(f"not an array literal: {s!r}")
    body, out, field, depth, i, n = s[1:-1], [], [], 0, 0, len(s) - 2
    inq = False
    while i < n:
        c = body[i]
        if inq:
            if c == "\\" and i + 1 < n:
                field.append(body[i:i + 2])
                i += 2
                continue
            if c == "'":
                inq = False
            field.append(c)
            i += 1
            continue
        if c == "'":
            inq = True
            field.append(c)
        elif c == "[":
            depth += 1
            field.append(c)
        elif c == "]":
            depth -= 1
            field.append(c)
        elif c == "," and depth == 0:
            out.append("".join(field).strip())
            field = []
        else:
            field.append(c)
        i += 1
    if field:
        out.append("".join(field).strip())
    vals = []
    for f in out:
        if f == "NULL":
            vals.append(None)
        elif f.startswith("'") and f.endswith("'"):
            vals.append(tsv_unescape(f[1:-1]).replace("\\'", "'"))
        else:
            vals.append(f)
    return vals


# ---------------------------------------------------------------------------
# incremental request-body reader (streamed INSERTs)
# ---------------------------------------------------------------------------


class _BodyReader:
    """Reads a request body in bounded pieces, undoing chunked framing
    and the gzip / CH-LZ4 content codings incrementally — so a multi-GB
    INSERT POST never has to exist in server RAM at once (VERDICT r9 #2).
    ``read_piece()`` returns b"" at end-of-body."""

    CHUNK = 256 << 10

    def __init__(self, rfile, headers, one: dict):
        self.rfile = rfile
        te = (headers.get("Transfer-Encoding") or "").lower()
        self.chunked = "chunked" in te
        self.remaining = (
            None if self.chunked
            else int(headers.get("Content-Length") or 0)
        )
        enc = (headers.get("Content-Encoding") or "").lower()
        self.gz = (
            _zlib.decompressobj(16 + _zlib.MAX_WBITS)
            if enc == "gzip" else None
        )
        self.lz4 = one.get("decompress") == "1"
        self._lz4_buf = bytearray()
        self.eof = False
        self._transport_eof = False
        self._gz_any = False  # any compressed bytes fed yet

    def _read_raw(self) -> bytes:
        """One transport-level piece; b"" at transport EOF (idempotent)."""
        if self._transport_eof:
            return b""
        if self.chunked:
            line = self.rfile.readline()
            if not line:
                # EOF where a chunk-size line belongs: the client died
                # at a chunk boundary — without this, int(b'' or b'0')
                # would read as the terminating 0-chunk and silently
                # commit a truncated INSERT
                raise ValueError(
                    "unexpected end of request body (disconnect at a "
                    "chunk boundary, no terminating 0-chunk)"
                )
            size_line = line.split(b";", 1)[0].strip()
            size = int(size_line or b"0", 16)
            if size == 0:
                self.rfile.readline()  # trailing CRLF after last-chunk
                self._transport_eof = True
                return b""
            data = self.rfile.read(size)
            if len(data) < size:
                # client disconnected mid-chunk: committing the batches
                # received so far with a 200 would silently truncate the
                # INSERT (CH: UNEXPECTED_END_OF_FILE)
                raise ValueError(
                    "unexpected end of request body (disconnect inside "
                    f"a {size}-byte chunk)"
                )
            self.rfile.readline()  # CRLF after each chunk
            return data
        if not self.remaining:
            return b""
        n = min(self.remaining, self.CHUNK)
        data = self.rfile.read(n)
        if not data:
            raise ValueError(
                "unexpected end of request body "
                f"({self.remaining} Content-Length bytes missing)"
            )
        self.remaining -= len(data)
        return data

    def _drain_lz4(self) -> bytes:
        """Decode every COMPLETE CH-LZ4 frame currently buffered
        (frame = 16B CityHash128 + 1B method + 4B csz + 4B dsz +
        (csz-9) payload; total 16 + csz bytes)."""
        out = bytearray()
        buf = self._lz4_buf
        while len(buf) >= 21:
            csz = int.from_bytes(buf[17:21], "little")
            total = 16 + csz
            if len(buf) < total:
                break
            out += read_frame(Reader(bytes(buf[:total])))
            del buf[:total]
        return bytes(out)

    GZ_MAX = 8 << 20  # decompressed-piece cap (deflate is up to ~1000x)

    def _gz_pull(self, raw: bytes) -> bytes:
        """Feed compressed bytes, returning up to GZ_MAX decompressed
        bytes.  Handles cap-deferred leftovers (unconsumed_tail) AND
        concatenated gzip members — `cat a.gz b.gz` is a valid gzip
        stream; a single decompressobj would silently drop everything
        after the first member (r10 review)."""
        out = bytearray()
        pending = raw
        while len(out) < self.GZ_MAX:
            if self.gz.unconsumed_tail:
                pending = self.gz.unconsumed_tail + pending
            if self.gz.eof:
                extra = self.gz.unused_data + pending
                if not extra:
                    break
                self.gz = _zlib.decompressobj(16 + _zlib.MAX_WBITS)
                pending = extra
            if not pending:
                break
            out += self.gz.decompress(pending, self.GZ_MAX - len(out))
            pending = b""
        return bytes(out)

    def read_piece(self) -> bytes:
        if self.gz:
            out = self._gz_pull(b"")
            if out:
                return out
        while not self.eof:
            raw = self._read_raw()
            if raw == b"":
                if self.gz:
                    out = self._gz_pull(b"")
                    if out:
                        return out
                self.eof = True
                if self.gz:
                    if self._gz_any and not self.gz.eof:
                        # transport ended mid-gzip-member: flush() never
                        # errors, so without this check a truncated body
                        # would commit partial batches (CH:
                        # CANNOT_DECOMPRESS) — mirror the LZ4 branch
                        raise ValueError(
                            "truncated gzip member at end of request body"
                        )
                    tail = self.gz.flush()
                    if tail:
                        return tail
                if self.lz4 and self._lz4_buf:
                    raise ValueError(
                        "truncated LZ4 frame at end of request body"
                    )
                return b""
            if self.gz:
                self._gz_any = True
                out = self._gz_pull(raw)
                if out:
                    return out
                continue
            if self.lz4:
                self._lz4_buf += raw
                out = self._drain_lz4()
                if out:
                    return out
                continue
            return raw
        return b""

    def drain(self) -> bytes:
        """Rest of the body, fully materialized (non-streaming paths)."""
        return b"".join(iter(self.read_piece, b""))


class _LineBatcher:
    """Accumulates streamed bytes and yields BATCHES of complete rows
    (raw bytes ending at a row boundary).  For CSV a newline inside a
    quoted field is not a boundary — quote PARITY decides (CH CSV uses
    RFC double-quoting, so an embedded "" flips the state twice); for
    the TSV/JSON line formats every raw newline ends a row (TSV escapes
    embedded newlines as the two-character \\n, JSONEachRow objects are
    single-line by the CH contract)."""

    def __init__(self, quoted_csv: bool, batch_bytes: int):
        self.quoted_csv = quoted_csv
        self.batch_bytes = batch_bytes
        self._buf = bytearray()
        self._in_quotes = False
        self._safe = 0  # bytes [0:_safe] end at a row boundary
        self._scan = 0  # bytes [0:_scan] have resolved quote state
        self.max_buffered = 0

    def feed(self, piece: bytes):
        """Add bytes; yield zero or more complete-row batches."""
        self._buf += piece
        self.max_buffered = max(self.max_buffered, len(self._buf))
        if self.quoted_csv:
            # O(#quotes) scan with C-speed find/rfind: between quote
            # characters the in-quotes state is constant, so the last
            # newline of each outside-quotes span is a row boundary (a
            # per-byte Python loop here costs ~minutes on multi-100-MB
            # bodies).  csv-module quote rules, not bare parity: a quote
            # OPENS a field only at field start (after , \n \r or the
            # stream start — a stray " mid-field is literal, as CH and
            # Python's csv treat it); inside quotes "" is an escaped
            # quote, a lone " closes.  A closing-candidate quote that is
            # the final buffered byte is ambiguous ("" vs ") — scanning
            # resumes there on the next feed (self._scan).
            buf, end = self._buf, len(self._buf)
            pos = self._scan
            while pos < end:
                q = buf.find(b'"', pos)
                span_end = end if q < 0 else q
                if not self._in_quotes:
                    nl = buf.rfind(b"\n", pos, span_end)
                    if nl >= 0:
                        self._safe = nl + 1
                if q < 0:
                    pos = end
                    break
                if self._in_quotes:
                    if q + 1 >= end:
                        pos = q  # need the next byte to disambiguate
                        break
                    if buf[q + 1] == 0x22:  # "" escape — still quoted
                        pos = q + 2
                    else:
                        self._in_quotes = False
                        pos = q + 1
                else:
                    prev = buf[q - 1] if q > 0 else 0x0A
                    if prev in (0x2C, 0x0A, 0x0D):  # , \n \r
                        self._in_quotes = True
                    pos = q + 1
            self._scan = pos
        else:
            nl = self._buf.rfind(b"\n", self._scan)
            if nl >= 0:
                self._safe = nl + 1
            self._scan = len(self._buf)
        while self._safe >= self.batch_bytes:
            out = bytes(self._buf[: self._safe])
            del self._buf[: self._safe]
            self._scan -= len(out)  # ≥ _safe: boundaries only resolve
            self._safe = 0          # inside scanned spans
            yield out

    def finish(self):
        """Yield the final partial batch (trailing row may lack \\n)."""
        if self._buf:
            yield bytes(self._buf)
            self._buf = bytearray()
            self._scan = self._safe = 0


# ---------------------------------------------------------------------------
# the server
# ---------------------------------------------------------------------------

_RESERVED_PARAMS = frozenset(
    """query database default_format query_id session_id session_timeout
    session_check compress decompress enable_http_compression user password
    quota_key wait_end_of_query buffer_size send_progress_in_http_headers
    http_headers_progress_interval_ms output_format_json_quote_64bit_integers
    add_http_cors_header""".split()
)

# CH exception codes used on this surface (public errorCodes list)
ERR_UNKNOWN = 1002
ERR_SYNTAX = 62
ERR_UNKNOWN_TABLE = 60
ERR_UNKNOWN_DATABASE = 81
ERR_UNKNOWN_FORMAT = 73

# matched on BYTES: the data tail may be arbitrary (even binary) payload,
# and byte offsets must stay exact regardless of its encoding
_INSERT_DATA_RE = re.compile(
    rb"(?is)^\s*insert\s+into\s+(?:table\s+)?"
    rb"(?P<name>[A-Za-z_][\w.]*)\s*"
    rb"(?:\((?P<cols>[^()]*)\)\s*)?"
    rb"format\s+(?P<fmt>[A-Za-z]+)[ \t]*\r?\n?(?P<data>.*)$",
    re.DOTALL,
)
_TRAILING_FORMAT_RE = re.compile(r"(?is)\bformat\s+([A-Za-z]+)\s*;?\s*$")


class HttpChServer(ThreadingHTTPServer):
    daemon_threads = True
    allow_reuse_address = True

    def __init__(self, engine, host: str = "127.0.0.1", port: int = 0):
        super().__init__((host, port), _HttpHandler)
        self.engine = engine
        self.lock = threading.Lock()  # serializes engine session mutation
        self.sessions: dict[str, dict] = {}
        # session_id -> absolute expiry (CH session_timeout, default 60 s);
        # swept opportunistically on each request under self.lock
        self.session_expiry: dict[str, float] = {}
        self.display_name = "tensorbase-spark"


def serve_http(engine, host: str = "127.0.0.1", port: int = 0):
    """Start the HTTP front door on ``port`` (0 = ephemeral); returns
    (server, bound_port).  Call server.shutdown(); server.server_close()
    to stop."""
    srv = HttpChServer(engine, host, port)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, srv.server_address[1]


def _engine_snapshot(eng) -> dict:
    return {
        "params": dict(eng._params),
        "use_query_cache": eng._use_query_cache,
        "uint64_storage": eng._uint64_storage,
        "optimize_file_bytes": eng._optimize_file_bytes,
        # max_execution_time deliberately NOT round-tripped through the
        # shared engine: the per-request/per-session budget is resolved
        # at track time in _run, so it can never arm a watchdog on a
        # concurrent door's query (r11 review)
        "database": eng.spark.catalog.currentDatabase(),
    }


def _engine_restore(eng, snap: dict) -> None:
    eng._params = dict(snap["params"])
    eng._use_query_cache = snap["use_query_cache"]
    eng._uint64_storage = snap["uint64_storage"]
    eng._optimize_file_bytes = snap["optimize_file_bytes"]
    try:
        eng.spark.catalog.setCurrentDatabase(snap["database"])
    except Exception:
        pass  # the request may have dropped its own database


class _HttpHandler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"
    server_version = "TensorBaseSparkHTTP/1.0"

    _response_started = False

    def log_message(self, fmt, *args):  # silence per-request stderr lines
        pass

    def send_response(self, code, message=None):
        self._response_started = True
        super().send_response(code, message)

    # -- entry points -------------------------------------------------------

    def do_GET(self):
        self._route(has_body=False)

    def do_HEAD(self):
        self._route(has_body=False, head_only=True)

    def do_POST(self):
        self._route(has_body=True)

    # -- plumbing -----------------------------------------------------------

    def _route(self, has_body: bool, head_only: bool = False):
        self._response_started = False
        try:
            parts = urlsplit(self.path)
            qs = parse_qs(parts.query, keep_blank_values=True)
            one = {k: v[-1] for k, v in qs.items()}
            if parts.path in ("/ping", "/replicas_status"):
                self._fixed(200, b"Ok.\n", head_only=head_only)
                return
            # read only a classification PREFIX of the body up front —
            # if it turns out to be a line-format INSERT, the rest of the
            # stream is decoded + inserted in bounded batches and never
            # fully materialized (VERDICT r9 #2)
            stream = (
                _BodyReader(self.rfile, self.headers, one)
                if has_body else None
            )
            prefix = b""
            if stream is not None:
                while len(prefix) < (64 << 10):
                    piece = stream.read_piece()
                    if not piece:
                        break
                    prefix += piece
            qparam = one.get("query", "")
            if not qparam and not prefix:
                self._fixed(200, b"Ok.\n", head_only=head_only)
                return
            self._run(one, qparam, prefix, stream, head_only)
        except BrokenPipeError:
            pass
        except Exception as e:  # anything else -> CH-style exception body
            try:
                self._exception(e)
            except Exception:
                pass

    # -- request execution --------------------------------------------------

    def _run(self, one: dict, qparam: str, body: bytes, stream,
             head_only: bool):
        srv: HttpChServer = self.server  # type: ignore[assignment]
        eng = srv.engine

        # the query text is parameter + body-prefix, newline-joined
        # (public CH contract); for INSERT the tail after FORMAT is the
        # data payload
        if qparam and body:
            combined = qparam.encode() + b"\n" + body
        else:
            combined = qparam.encode() or body

        # classify the statement on the raw bytes — the data tail after
        # ``FORMAT <name>`` must keep exact byte offsets
        im = _INSERT_DATA_RE.match(combined)
        if im and canonical_format_or_none(im.group("fmt").decode()) == "Values":
            # the standard CH HTTP Values-insert idiom: `INSERT INTO t
            # FORMAT Values (…)` — the engine's own VALUES parser handles
            # the tail (expressions included), so rewrite to INSERT…VALUES
            # and dispatch as a plain statement (ADVICE r9).  The VALUES
            # text is part of the statement: materialize the rest.
            if stream is not None:
                combined += stream.drain()
            cols = (b"(" + im.group("cols") + b") ") if im.group("cols") else b""
            combined = (b"INSERT INTO " + im.group("name") + b" " + cols
                        + b"VALUES " + combined[im.start("data"):])
            im = None
        is_insert_data = bool(
            im and canonical_format_or_none(im.group("fmt").decode())
        )
        if not is_insert_data and stream is not None and not stream.eof:
            # a (pathologically long) statement text: materialize it
            combined += stream.drain()

        # live-processlist entry for the WHOLE request — including the
        # streaming fetch, which runs outside srv.lock — so a concurrent
        # connection can SHOW PROCESSLIST / KILL QUERY this one mid-scan
        qid = one.get("query_id") or str(_uuid.uuid4())
        one["query_id"] = qid  # response headers echo the tracked id
        qtext = combined[: im.start("data") if im else 4096]
        # the timeout watchdog must cover the WHOLE request, so the
        # budget is resolved HERE: per-request URL parameter first, then
        # the session's persisted setting (never via the shared engine
        # global — see the settings loop)
        try:
            met = float(one["max_execution_time"]) \
                if "max_execution_time" in one else None
        except ValueError:
            # CH rejects an unparseable setting with BAD_ARGUMENT — a
            # silently-ignored value would run the query UNLIMITED
            # (ADVICE r11)
            self._exception(ValueError(
                "Cannot parse max_execution_time value "
                f"{one['max_execution_time']!r} (BAD_ARGUMENT)"
            ))
            return
        if met is None:
            srv0: HttpChServer = self.server  # type: ignore[assignment]
            # read the session budget UNDER srv.lock — other request
            # threads sweep/replace sessions and expiry under it, and an
            # already-expired session's budget must not leak into this
            # query (r13 advice); mirror the sweep's expiry test here
            with srv0.lock:
                sid = one.get("session_id") or ""
                exp = srv0.session_expiry.get(sid)
                sess = (
                    srv0.sessions.get(sid)
                    if exp is None or exp >= _time.monotonic()
                    else None
                )
                # presence, not truthiness: a session value of 0 must
                # explicitly DISABLE a nonzero engine-global fallback
                # budget
                if sess and "max_execution_time" in sess:
                    met = float(sess["max_execution_time"])
        with eng.track_query(
            qtext.decode("utf-8", "replace").strip(), query_id=qid,
            user=one.get("user") or "default", interface="http",
            max_execution_time=met,
        ):
            self._execute(one, combined, im, is_insert_data,
                          stream if is_insert_data else None, head_only)

    def _execute(self, one: dict, combined: bytes, im,
                 is_insert_data: bool, stream, head_only: bool):
        srv: HttpChServer = self.server  # type: ignore[assignment]
        eng = srv.engine
        session_id = one.get("session_id")
        quote64 = one.get(
            "output_format_json_quote_64bit_integers", "1"
        ) != "0"
        if not is_insert_data and re.match(rb"\s*kill\b", combined, re.I):
            # KILL touches no per-request session state; running it
            # OUTSIDE srv.lock keeps a SYNC wait (up to 10 s) from
            # stalling every other request behind the lock
            try:
                text = combined.decode()
                kfmt = None
                fm = _TRAILING_FORMAT_RE.search(text)
                if fm:
                    kfmt = canonical_format(fm.group(1))
                    text = text[:fm.start()]
                df = eng.sql(text)
                eager = [tuple(r) for r in df.collect()]
            except Exception as e:
                self._exception(e)
                return
            self._respond(one, text, kfmt, df, eager, head_only, quote64)
            return
        deferred_fmt = None
        if is_insert_data and stream is not None and not stream.eof:
            fmt_name = canonical_format_or_none(im.group("fmt").decode())
            if fmt_name in self._LINE_FMTS or fmt_name == "Native":
                # decode+insert AFTER the lock releases — the body's
                # socket reads must never block other requests
                deferred_fmt = fmt_name
            else:
                # whole-payload binary formats: drain PRE-lock for the
                # same reason (a slow uploader must not hold the lock)
                combined += stream.drain()
        written = 0
        qualified = None
        # srv.lock serializes HTTP requests' engine-state regions against
        # each other; eng.catalog_lock additionally serializes them
        # against the NATIVE door's per-connection database bind, so no
        # door's analysis window can observe another's current database
        # (r12 review).  Order is always srv.lock -> catalog_lock, and
        # the native door takes only catalog_lock — no deadlock cycle.
        with srv.lock, eng.catalog_lock:
            # sweep expired sessions (CH session_timeout semantics)
            now = _time.monotonic()
            for sid in [s for s, exp in srv.session_expiry.items()
                        if exp < now]:
                srv.sessions.pop(sid, None)
                srv.session_expiry.pop(sid, None)
            snap = _engine_snapshot(eng)
            sess = srv.sessions.get(session_id) if session_id else None
            error = None
            try:
                if (session_id and sess is None
                        and one.get("session_check") == "1"):
                    # CH SESSION_NOT_FOUND (code 372): the client asked
                    # to bind an EXISTING session only
                    raise ValueError(
                        f"Session {session_id} not found (session_check=1)"
                    )
                if sess:
                    _engine_restore(eng, sess)
                if "database" in one:
                    eng.spark.catalog.setCurrentDatabase(one["database"])
                xdb = self.headers.get("X-ClickHouse-Database")
                if xdb:
                    eng.spark.catalog.setCurrentDatabase(xdb)
                for k, v in one.items():
                    if k in _RESERVED_PARAMS or not re.fullmatch(r"\w+", k):
                        continue
                    if k == "max_execution_time":
                        # handled at track time (below, before the lock);
                        # writing it to the shared engine here would arm
                        # 1-second watchdogs on CONCURRENT native/MySQL/
                        # inline queries that read the global as their
                        # fallback budget (r11 review)
                        continue
                    # engine-recognized settings (incl. param_* query
                    # parameters) applied through the parsed-value API —
                    # never re-serialized to SQL, so a quote or comma in
                    # the value cannot be re-parsed (ADVICE r9); unknown
                    # keys are accepted-and-ignored, matching CH leniency
                    eng.apply_setting(k, v)
                if is_insert_data and deferred_fmt is not None:
                    # resolve the db-dependent name under the per-request
                    # state; the streamed decode runs after the lock
                    qualified = eng._qualify(im.group("name").decode())
                elif is_insert_data:
                    written = self._insert_with_data(
                        eng, combined, im, None
                    )
                else:
                    text = combined.decode()
                    fmt = None
                    fm = _TRAILING_FORMAT_RE.search(text)
                    if fm and not re.search(
                        r"(?is)\binsert\b.*\bvalues\b", text[:fm.start()]
                    ):
                        fmt = canonical_format(fm.group(1))
                        text = text[:fm.start()]
                    df = eng.sql(text)
                    eager_rows = None
                    # call shape with word boundaries only — a column
                    # named current_catalog_id or a string literal must
                    # not force a full driver-side collect (r13 advice)
                    if re.search(
                        r"(?is)\bcurrent_?(database|schema|catalog)\s*\("
                        r"|^\s*kill\b|\bsystem\.processes\b"
                        r"|^\s*show\s+processlist",
                        text,
                    ):
                        # catalog-state builtins evaluate at FETCH time,
                        # which happens after the per-request state is
                        # restored — materialize these (small
                        # introspection results) while the request's
                        # database is still current.  processlist / KILL
                        # results are local relations: collect() answers
                        # driver-side with NO Spark job, so introspection
                        # never queues behind a long scan's tasks in the
                        # FIFO scheduler (the whole point of KILL QUERY)
                        eager_rows = [tuple(r) for r in df.collect()]
                if session_id:
                    snap2 = _engine_snapshot(eng)
                    if "max_execution_time" in one:
                        # persisted per-session like any other setting,
                        # though it is applied at track time, not via
                        # the shared engine global (value already
                        # validated at track time — parse errors never
                        # reach here)
                        snap2["max_execution_time"] = float(
                            one["max_execution_time"])
                    elif sess and "max_execution_time" in sess:
                        # CH session settings persist for the session
                        # lifetime: a follow-up request that omits the
                        # parameter must CARRY the budget forward, not
                        # drop it after one request (ADVICE r11)
                        snap2["max_execution_time"] = (
                            sess["max_execution_time"])
                    srv.sessions[session_id] = snap2
                    srv.session_expiry[session_id] = (
                        _time.monotonic()
                        + float(one.get("session_timeout") or 60)
                    )
            except Exception as e:
                error = e
            finally:
                _engine_restore(eng, snap)  # per-request scope ends
        # every wfile write AND every streamed-body socket read happens
        # OUTSIDE srv.lock — a slow or stalled client must never block
        # the other front doors (ADVICE r9; r10 review)
        if error is None and deferred_fmt is not None:
            try:
                cols = None
                if im.group("cols"):
                    cols = [c.strip().strip('`"')
                            for c in im.group("cols").decode().split(",")]
                data0 = combined[im.start("data"):]
                if deferred_fmt == "Native":
                    written = self._insert_native_streaming(
                        eng, qualified, cols, data0, stream)
                else:
                    written = self._insert_streaming(
                        eng, qualified, cols, deferred_fmt, data0, stream)
            except Exception as e:
                error = e
        if error is not None:
            self._exception(error)
            return
        if is_insert_data:
            self._ok_empty(one, written=written, head_only=head_only)
            return
        self._respond(one, text, fmt, df, eager_rows, head_only, quote64)

    def _respond(self, one: dict, text: str, fmt, df, eager_rows,
                 head_only: bool, quote64: bool):
        kind = (re.match(r"\s*(\w+)", text) or [None, ""])[1].lower()
        if kind not in (
            "select", "with", "show", "describe", "desc", "explain",
            "exists", "check", "kill",
        ):
            # DDL / engine commands: CH answers an empty 200 body
            self._ok_empty(one, head_only=head_only)
            return
        if fmt is None:
            fmt = canonical_format(
                one.get("default_format")
                or self.headers.get("X-ClickHouse-Format")
                or "TabSeparated"
            )
        fields = df.schema.fields
        names = [f.name for f in fields]
        ch_types = [_ch_type_or_string(f) for f in fields]
        eng = self.server.engine  # type: ignore[attr-defined]
        if eager_rows is not None:
            source: Iterable = [
                batches.local_batch(eager_rows, df.schema, eng.spark)]
        else:
            # kill poll between batches via the shared engine helper
            # (explicit query_id: the first chunk may be pulled on the
            # progress helper thread, which has no thread-local binding)
            # — _stream's mid-stream handler appends CH's exception text
            # and closes (VERDICT r11 #6, HTTP half).  result_batches
            # plans EAGERLY, so an immediate failure (timeout, analysis)
            # surfaces BEFORE the 200 status line goes out
            source = eng.kill_checked(
                batches.result_batches(df), qid=one.get("query_id"), every=1)
        chunks = encode_batches(
            fmt, names, ch_types, fields, source, quote64=quote64)
        self._stream(one, fmt, chunks, head_only=head_only)

    # WithNames formats re-expressed headless for batches after the first
    _HEADLESS = {
        "CSVWithNames": "CSV", "CSVWithNamesAndTypes": "CSV",
        "TabSeparatedWithNames": "TabSeparated",
        "TabSeparatedWithNamesAndTypes": "TabSeparated",
    }
    _LINE_FMTS = frozenset(
        ["CSV", "TabSeparated", "TabSeparatedRaw", "JSONEachRow",
         "JSONCompactEachRow"] + list(_HEADLESS)
    )

    def _insert_with_data(self, eng, combined: bytes, im, stream=None) -> int:
        """Fully-buffered INSERT decode.  The STREAMING dispatch lives in
        _execute, which routes still-arriving line/Native bodies to the
        _insert_*streaming paths and drains binary bodies BEFORE taking
        the server lock — socket reads must never happen under it."""
        fmt = canonical_format(im.group("fmt").decode())
        name = im.group("name").decode()
        cols = None
        if im.group("cols"):
            cols = [
                c.strip().strip('`"')
                for c in im.group("cols").decode().split(",")
            ]
        data = combined[im.start("data"):]
        if stream is not None and not stream.eof:
            data += stream.drain()
        if fmt == "RowBinary":
            # headerless: the row layout comes from the TARGET table's
            # DECLARED column types (CH semantics — a stock client
            # encodes per CREATE TABLE, where nullability is explicit;
            # the Spark schema would report parquet's all-nullable and
            # desync the null-byte prefixes).  Same derivation as the
            # native protocol's INSERT dance (chnative._insert_dance).
            from tensorbase_spark.engine import _split_top_level_args
            from tensorbase_spark.sources.chnative import bql_type_to_ch

            target = eng._resolve_alias(eng._qualify(name))
            cols_txt = eng._table_props(target).get("tb.columns")
            declared, order = {}, []
            if cols_txt:
                for part in _split_top_level_args(cols_txt):
                    cname, ctype = part.strip().split(None, 1)
                    declared[cname] = bql_type_to_ch(ctype)
                    order.append(cname)
            else:  # non-engine table: fall back to the Spark schema
                for f in eng.spark.table(target).schema.fields:
                    declared[f.name] = _ch_type_or_string(f)
                    order.append(f.name)
            tcols = cols or [c for c in order if not c.startswith("__")]
            unknown = [c for c in tcols if c not in declared]
            if unknown:
                raise ValueError(
                    f"INSERT into {name}: unknown column(s) {unknown}"
                )
            types = [declared[c] for c in tcols]
            r = Reader(data)
            rows = []
            while not r.at_end():
                rows.append([_rb_decode_nullable(r, t) for t in types])
            return self._typed_insert(eng, name, cols, rows, None)
        rows, data_names = decode_body_rows(fmt, data)
        return self._typed_insert(eng, name, cols, rows, data_names)

    def _insert_streaming(self, eng, name, cols, fmt: str,
                          data0: bytes, stream) -> int:
        batch_bytes = int(
            os.environ.get("TB_HTTP_INSERT_BATCH_BYTES", str(8 << 20))
        )
        batcher = _LineBatcher(fmt.startswith("CSV"), batch_bytes)
        written, first, saved_names = 0, True, None

        def flush(chunk: bytes):
            nonlocal written, first, saved_names
            # a KILL (or max_execution_time) mid-upload aborts between
            # batches — already-committed batches stay, like CH's
            # per-block INSERT semantics (VERDICT r10 #6)
            eng.check_not_killed()
            f = fmt if first else self._HEADLESS.get(fmt, fmt)
            rows, data_names = decode_body_rows(f, chunk)
            if data_names is not None:
                saved_names = data_names  # header only in the first batch
            first = False
            if rows:
                written += self._typed_insert(
                    eng, name, cols, rows, saved_names
                )

        for batch in batcher.feed(data0):
            flush(batch)
        while True:
            piece = stream.read_piece()
            if not piece:
                break
            for batch in batcher.feed(piece):
                flush(batch)
        for batch in batcher.finish():
            flush(batch)
        srv = self.server
        srv.max_insert_buffer = max(  # test observability (bounded-RAM)
            getattr(srv, "max_insert_buffer", 0), batcher.max_buffered
        )
        return written

    def _insert_native_streaming(self, eng, name, cols,
                                 data0: bytes, stream) -> int:
        """FORMAT Native INSERT body decoded block by block off the
        stream — groups of blocks are inserted once they reach the batch
        row threshold, so the bulk CH interchange format also ingests in
        bounded memory (the line-format streaming counterpart)."""
        from tensorbase_spark.sources.chnative import Block
        from tensorbase_spark.sources.chnative import Reader as _R

        class _StreamFile:
            """Exact-read file adapter over (prefix bytes + _BodyReader)."""

            def __init__(self, first: bytes, src):
                self._buf = bytearray(first)
                self._src = src
                self.max_buffered = len(first)

            def at_eof(self) -> bool:
                if self._buf:
                    return False
                piece = self._src.read_piece()
                if not piece:
                    return True
                self._buf += piece
                self.max_buffered = max(self.max_buffered, len(self._buf))
                return False

            def read(self, n: int) -> bytes:
                while len(self._buf) < n:
                    piece = self._src.read_piece()
                    if not piece:
                        break
                    self._buf += piece
                    self.max_buffered = max(
                        self.max_buffered, len(self._buf))
                out = bytes(self._buf[:n])
                del self._buf[:n]
                return out

        sf = _StreamFile(data0, stream)
        r = _R(sf)
        batch_rows = max(
            1,
            int(os.environ.get("TB_HTTP_INSERT_BATCH_BYTES", str(8 << 20)))
            // 64,
        )
        written, names, pend = 0, None, []
        while not sf.at_eof():
            eng.check_not_killed()  # kill aborts between wire blocks
            blk = Block.decode_body(r)
            if names is None and blk.columns:
                names = [c[0] for c in blk.columns]
            if blk.nrows:
                pend.extend(zip(*[c[2] for c in blk.columns]))
            if len(pend) >= batch_rows:
                written += self._typed_insert(
                    eng, name, cols, [list(t) for t in pend], names)
                pend = []
        if pend:
            written += self._typed_insert(
                eng, name, cols, [list(t) for t in pend], names)
        srv = self.server
        srv.max_insert_buffer = max(
            getattr(srv, "max_insert_buffer", 0), sf.max_buffered)
        return written

    def _typed_insert(self, eng, name: str, cols, rows, data_names) -> int:
        qualified = eng._qualify(name)
        schema = eng.spark.table(qualified).schema
        target_cols = cols or data_names or [
            f.name for f in schema.fields if not f.name.startswith("__")
        ]
        if data_names and cols:
            # column list wins; reorder JSON fields to it
            idx = [data_names.index(c) for c in cols]
            rows = [[r[i] for i in idx] for r in rows]
        by_name = {f.name: f for f in schema.fields}
        unknown = [c for c in target_cols if c not in by_name]
        if unknown:
            raise ValueError(
                f"INSERT into {name}: unknown column(s) {unknown} "
                f"(table has {sorted(by_name)})"
            )
        for i, r in enumerate(rows):
            # zip() below would silently truncate a too-wide row and a
            # too-narrow one would only fail later with an opaque
            # createDataFrame error — CH rejects arity mismatches loudly
            if len(r) != len(target_cols):
                raise ValueError(
                    f"Cannot parse input: INSERT into {name} expects "
                    f"{len(target_cols)} columns but row {i + 1} has "
                    f"{len(r)}"
                )
        simples = [by_name[c].dataType.simpleString() for c in target_cols]
        typed = [
            tuple(_coerce(v, s) for v, s in zip(r, simples)) for r in rows
        ]
        from pyspark.sql import types as T
        sub_schema = T.StructType([by_name[c] for c in target_cols])
        src = eng.spark.createDataFrame(typed, schema=sub_schema)
        eng.insert_df(qualified, src, subset=target_cols)
        return len(typed)

    # -- response writers ---------------------------------------------------

    def _common_headers(self, one: dict, fmt: str | None):
        self.send_header("X-ClickHouse-Server-Display-Name",
                         self.server.display_name)  # type: ignore[attr-defined]
        qid = one.get("query_id") or str(_uuid.uuid4())
        self.send_header("X-ClickHouse-Query-Id", qid)
        if fmt:
            self.send_header("X-ClickHouse-Format", fmt)
        tz = None
        try:
            tz = self.server.engine.spark.conf.get(  # type: ignore
                "spark.sql.session.timeZone", None)
        except Exception:
            pass
        if not tz:
            tz = _dt.datetime.now().astimezone().tzname() or "UTC"
        self.send_header("X-ClickHouse-Timezone", tz)
        if one.get("add_http_cors_header") == "1":
            self.send_header("Access-Control-Allow-Origin", "*")

    def _fixed(self, status: int, body: bytes, ctype="text/plain; charset=UTF-8",
               head_only=False, extra=()):
        self.send_response(status)
        self.send_header("Content-Type", ctype)
        for k, v in extra:
            self.send_header(k, v)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        if not head_only:
            self.wfile.write(body)

    def _ok_empty(self, one: dict, written: int = 0, head_only=False):
        self.send_response(200)
        self._common_headers(one, None)
        summary = {
            "read_rows": "0", "read_bytes": "0",
            "written_rows": str(written), "written_bytes": "0",
            "total_rows_to_read": "0",
            "result_rows": str(written), "result_bytes": "0",
        }
        self.send_header("X-ClickHouse-Summary",
                         _json.dumps(summary, separators=(",", ":")))
        self.send_header("Content-Type", "text/plain; charset=UTF-8")
        self.send_header("Content-Length", "0")
        self.end_headers()

    def _flush_header_buffer(self):
        """Push buffered status/header lines to the socket now — the
        progress headers stream out DURING query execution (upstream-CH
        send_progress_in_http_headers behavior), not at end_headers."""
        buf = getattr(self, "_headers_buffer", None)
        if buf:
            self.wfile.write(b"".join(buf))
            self._headers_buffer = []

    def _progress_prefetch(self, one: dict, chunks: Iterator[bytes]) -> list:
        """Compute the FIRST result chunk on a helper thread while this
        thread emits ``X-ClickHouse-Progress`` headers from the Spark
        status tracker at ``http_headers_progress_interval_ms``.  The
        ratio is task-based (completed/total tasks of the request's job
        group) — Spark's tracker has no live row counts, so the fields
        carry task units; drivers consume the ratio (documented
        deviation from CH's true row counts).  Returns the prefetched
        chunk (as a 0/1-element list) to prepend to the body."""
        eng = self.server.engine  # type: ignore[attr-defined]
        sc = eng.spark.sparkContext
        qid = one.get("query_id") or ""
        # the tracked entry's per-run unique job group — binding the
        # helper thread to the bare query_id would leave its job outside
        # the cancellable group (and invisible to the tracker below)
        jgrp = eng.job_group_for(qid) if qid else ""
        interval = max(
            int(one.get("http_headers_progress_interval_ms") or 100), 10
        ) / 1000.0
        got: list = []
        err: list = []

        def pull():
            # a fresh Python thread carries no Spark local properties —
            # rebind the request's job group so the prefetched job stays
            # in the group and killable via KILL QUERY
            try:
                sc.setLocalProperty("spark.jobGroup.id", jgrp)
                sc.setLocalProperty("spark.job.interruptOnCancel", "true")
                c = next(chunks, None)
                if c is not None:
                    got.append(c)
            except Exception as e:
                err.append(e)

        def emit(read: int, total: int):
            self.send_header(
                "X-ClickHouse-Progress",
                _json.dumps(
                    {"read_rows": str(read), "read_bytes": "0",
                     "total_rows_to_read": str(total)},
                    separators=(",", ":"),
                ),
            )
            self._flush_header_buffer()

        emit(0, 0)
        t = threading.Thread(target=pull, daemon=True)
        t.start()
        while t.is_alive():
            t.join(interval)
            if not t.is_alive():
                break
            done = tot = 0
            try:
                st = sc.statusTracker()
                for jid in st.getJobIdsForGroup(jgrp):
                    ji = st.getJobInfo(jid)
                    for sid in (ji.stageIds if ji else []):
                        si = st.getStageInfo(sid)
                        if si:
                            done += si.numCompletedTasks
                            tot += si.numTasks
            except Exception:
                pass
            emit(done, tot)
        if err:
            raise err[0]
        return got

    def _stream(self, one: dict, fmt: str, chunks: Iterator[bytes],
                head_only=False):
        use_gzip = (
            one.get("enable_http_compression") == "1"
            and "gzip" in (self.headers.get("Accept-Encoding") or "")
        )
        use_lz4 = one.get("compress") == "1"
        self.send_response(200)
        self._common_headers(one, fmt)
        self.send_header("Content-Type", _CONTENT_TYPE[fmt])
        if use_gzip:
            self.send_header("Content-Encoding", "gzip")
        self.send_header("Transfer-Encoding", "chunked")
        first_chunks: list = []
        if (one.get("send_progress_in_http_headers") == "1"
                and not head_only):
            first_chunks = self._progress_prefetch(one, chunks)
        self.end_headers()
        if head_only:
            return
        chunks = _chain_chunks(first_chunks, chunks)
        try:
            self._send_chunks(chunks, use_gzip, use_lz4)
        finally:
            # an abandoned result (client gone, error) stops the
            # JVM-side serving of the rest now, not at garbage collection
            chunks.close()

    def _send_chunks(self, chunks, use_gzip: bool, use_lz4: bool):
        def _chunk(b: bytes):
            if b:
                self.wfile.write(("%x\r\n" % len(b)).encode() + b + b"\r\n")

        # wbits=31 -> gzip-framed deflate stream (zlib's public spelling)
        gz = (
            _zlib.compressobj(6, _zlib.DEFLATED, 16 + _zlib.MAX_WBITS)
            if use_gzip else None
        )
        pend = bytearray()
        try:
            for c in chunks:
                if gz:
                    c = gz.compress(c)
                    if c:
                        _chunk(c)
                elif use_lz4:
                    pend += c
                    if len(pend) >= 1 << 20:
                        _chunk(compress_frame(bytes(pend)))
                        pend = bytearray()
                else:
                    _chunk(c)
        except Exception as e:
            # mid-stream failure: CH appends the exception text into the
            # stream (headers already went out) and closes the connection.
            # Under compress=1 the text must itself be framed (a raw tail
            # after LZ4 frames would fail the client's checksum decode).
            msg = f"\nCode: {ERR_UNKNOWN}. DB::Exception: {e}\n".encode()
            if gz:
                _chunk(gz.compress(msg) + gz.flush())
            elif use_lz4:
                if pend:
                    _chunk(compress_frame(bytes(pend)))
                _chunk(compress_frame(msg))
            else:
                _chunk(msg)
            self.wfile.write(b"0\r\n\r\n")
            self.close_connection = True
            return
        if gz:
            tail = gz.flush()
            if tail:
                _chunk(tail)
        elif use_lz4 and pend:
            _chunk(compress_frame(bytes(pend)))
        self.wfile.write(b"0\r\n\r\n")

    def _exception(self, e: Exception):
        code, status = _map_exception(e)
        if self._response_started:
            # headers already on the wire: a second status line would
            # corrupt the stream — CH aborts the connection here too
            self.close_connection = True
            try:
                self.wfile.write(b"0\r\n\r\n")
            except Exception:
                pass
            return
        body = f"Code: {code}. DB::Exception: {e}\n".encode()
        self._fixed(
            status, body,
            extra=(("X-ClickHouse-Exception-Code", str(code)),),
        )
        self.close_connection = True


def _chain_chunks(head: list, rest: Iterator[bytes]) -> Iterator[bytes]:
    yield from head
    yield from rest


def canonical_format_or_none(name: str):
    try:
        return canonical_format(name)
    except ValueError:
        return None


def _ch_type_or_string(field) -> str:
    """CH wire type name for the meta rows; exotic Spark types that the
    native mapping refuses (map/struct) degrade to String — their text
    form still renders.  Booleans are CH ``Bool`` here (the native-block
    codec stores them as UInt8, but the TEXT formats print true/false,
    which is Bool's contract, not UInt8's)."""
    if field.dataType.simpleString() == "boolean":
        return "Nullable(Bool)" if field.nullable else "Bool"
    try:
        return spark_field_to_ch(field)
    except ValueError:
        return "String"


def _map_exception(e: Exception) -> tuple[int, int]:
    name = type(e).__name__
    s = str(e)
    if "TABLE_OR_VIEW_NOT_FOUND" in s or "Table or view not found" in s:
        return ERR_UNKNOWN_TABLE, 404
    if "SCHEMA_NOT_FOUND" in s or "Database" in s and "not found" in s.lower():
        return ERR_UNKNOWN_DATABASE, 404
    if name in ("ParseException",):
        return ERR_SYNTAX, 400
    if "unknown FORMAT" in s:
        return ERR_UNKNOWN_FORMAT, 400
    if name in ("ValueError",):
        return ERR_SYNTAX, 400
    return ERR_UNKNOWN, 500


# ---------------------------------------------------------------------------
# the client
# ---------------------------------------------------------------------------

def _typed_from_text(s: str | None, ch_type: str) -> Any:
    if s is None:
        return None
    base = ch_type
    if base.startswith("Nullable(") and base.endswith(")"):
        base = base[9:-1]
    if base == "Bool":
        return s.strip().lower() in ("true", "1", "t")
    if base in _INT_SPEC:
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
            for x in _parse_array_text(s)
        ]
    return s


class HttpClient:
    """Minimal stdlib client for the HTTP front door (and for any stock
    ClickHouse server speaking the same public interface)."""

    def __init__(self, host: str = "127.0.0.1", port: int = 8123,
                 database: str | None = None, compress: bool = False,
                 session_id: str | None = None):
        import http.client
        self.host, self.port = host, port
        self.database = database
        self.compress = compress
        self.session_id = session_id
        self._conn = http.client.HTTPConnection(host, port, timeout=60)

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()

    def close(self):
        self._conn.close()

    # -- raw ----------------------------------------------------------------

    def raw(self, query: str = "", body: bytes = b"",
            params: dict | None = None, path: str = "/",
            headers: dict | None = None):
        """POST (or GET when there is no body and no query) -> (status,
        headers, body bytes) with compression undone."""
        p = dict(params or {})
        if query:
            p["query"] = query
        if self.database and "database" not in p:
            p["database"] = self.database
        if self.session_id and "session_id" not in p:
            p["session_id"] = self.session_id
        if self.compress:
            p.setdefault("compress", "1")
        qs = "&".join(f"{k}={quote(str(v))}" for k, v in p.items())
        url = path + ("?" + qs if qs else "")
        method = "POST" if (body or query) else "GET"
        import http.client
        try:
            self._conn.request(method, url, body=body or None,
                               headers=headers or {})
            resp = self._conn.getresponse()
        except (http.client.RemoteDisconnected, BrokenPipeError,
                ConnectionError):
            # the server closes the connection after an exception
            # response; reconnect once and retry
            self._conn.close()
            self._conn = http.client.HTTPConnection(
                self.host, self.port, timeout=60)
            self._conn.request(method, url, body=body or None,
                               headers=headers or {})
            resp = self._conn.getresponse()
        data = resp.read()
        hdrs = dict(resp.getheaders())
        if hdrs.get("Content-Encoding") == "gzip":
            data = _gzip.decompress(data)
        elif self.compress and resp.status == 200 and data and \
                hdrs.get("X-ClickHouse-Format"):
            r = Reader(data)
            out = bytearray()
            while not r.at_end():
                out += read_frame(r)
            data = bytes(out)
        return resp.status, hdrs, data

    def ping(self) -> bool:
        status, _h, data = self.raw(path="/ping")
        return status == 200 and data == b"Ok.\n"

    # -- typed --------------------------------------------------------------

    def execute(self, query: str, params: dict | None = None):
        """Run a statement.  SELECT-ish statements return (names, types,
        typed rows) via TabSeparatedWithNamesAndTypes; everything else
        returns ([], [], [])."""
        q = query.strip().rstrip(";")
        is_read = bool(re.match(
            r"(?is)^(select|with|show|desc|describe|explain|exists|kill)\b",
            q))
        if is_read and not _TRAILING_FORMAT_RE.search(q):
            q += " FORMAT TabSeparatedWithNamesAndTypes"
        status, hdrs, data = self.raw(query=q, params=params)
        if status != 200:
            raise RuntimeError(
                f"HTTP {status} "
                f"[code {hdrs.get('X-ClickHouse-Exception-Code')}]: "
                f"{data.decode(errors='replace').strip()}"
            )
        if not is_read:
            return [], [], []
        lines = data.decode().split("\n")
        names = [tsv_unescape(x) for x in lines[0].split("\t")] if lines[0] else []
        types = lines[1].split("\t") if len(lines) > 1 else []
        rows = []
        for ln in lines[2:]:
            if ln == "":
                continue
            cells = ln.split("\t")
            rows.append(tuple(
                _typed_from_text(
                    None if c == "\\N" else tsv_unescape(c), t
                )
                for c, t in zip(cells, types)
            ))
        return names, types, rows

    def insert_rows(self, table: str, names: list[str], rows: list[tuple],
                    fmt: str = "JSONEachRow",
                    ch_types: list[str] | None = None) -> None:
        """INSERT via a data-bearing POST body in ``fmt``.  FORMAT Native
        needs explicit ``ch_types`` (the block codec is typed)."""
        canon = canonical_format(fmt)
        if canon == "Native":
            if not ch_types:
                raise ValueError("insert_rows(Native) needs ch_types")
            body = b"".join(_encode_native(names, ch_types, iter(rows)))
        elif canon == "JSONEachRow":
            body = b"".join(
                _json.dumps(
                    {n: _jsonable(v) for n, v in zip(names, r)},
                    ensure_ascii=False, separators=(",", ":"),
                ).encode() + b"\n"
                for r in rows
            )
        elif canon == "TabSeparated":
            body = b"".join(
                ("\t".join(_tsv_field(v) for v in r) + "\n").encode()
                for r in rows
            )
        elif canon == "CSV":
            body = b"".join(
                (",".join(_csv_field(v) for v in r) + "\n").encode()
                for r in rows
            )
        else:
            raise ValueError(f"insert_rows: unsupported format {fmt}")
        cols = ", ".join(names)
        status, hdrs, data = self.raw(
            query=f"INSERT INTO {table} ({cols}) FORMAT {canon}",
            body=body,
        )
        if status != 200:
            raise RuntimeError(
                f"HTTP {status}: {data.decode(errors='replace').strip()}")


def _jsonable(v: Any) -> Any:
    if isinstance(v, _dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, Decimal):
        return format(v, "f")
    if isinstance(v, list):
        return [_jsonable(x) for x in v]
    return v
