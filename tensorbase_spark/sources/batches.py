"""Arrow record batches — the one result path of the wire front doors.

The reference encodes each result block column by column as the engine
yields it (``crates/runtime/src/ch/messages.rs:343-357``,
``blocks.rs:192-210``).  ``result_batches(df)`` is that shape on Spark: the
JVM converts each partition to Arrow record batches
(``Dataset.toArrowBatchRdd``), one ``PythonRDD.runJob`` per window of
``defaultParallelism`` partitions computes them, and ``serveIterator``
writes the window through a buffered stream to a local socket, so at
most one window is held in the JVM, a result pays one job and no socket
stall per partition, and no Python worker starts.  The native, HTTP and
MySQL doors encode these batches column by column (``chnative``,
``httpwire``, ``mysqlwire``); ``local_batch`` turns a small driver-side
result (the jobless introspection answers) into one batch for the same
encoders.

The insert path runs the other way: each door decodes an INSERT block
into Arrow columns and ``insert_table`` hands them to the engine as one
Arrow table, a LocalRelation.  Catalyst folds the engine's cast and
partition key into its rows, and ``local_rows`` reads those back out as
Arrow with no job, for the engine to write from the driver.
``from_values`` builds such a column from Python values for the
row-shaped input formats.

The rest of this module is the vector kit the door encoders share: the
Python values a classic ``collect()`` would have produced for one column
(the per-value fallback and test reference), OS-local wall clocks for
timestamps, float text identical to ``repr``, and byte assembly of
variable-width cells.
"""

from __future__ import annotations

import os
from decimal import ROUND_HALF_UP, Decimal
from typing import Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.serializers import read_int
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.util import _create_local_socket


def arrow_schema(schema, spark) -> pa.Schema:
    """The Arrow schema the JVM writes ``schema``'s batches in.  Types the
    conversion cannot carry (year-month and calendar intervals) raise
    here, before any job starts."""
    from pyspark.sql.pandas.types import to_arrow_schema

    large = spark.conf.get(
        "spark.sql.execution.arrow.useLargeVarTypes", "false"
    ).lower() == "true"
    return to_arrow_schema(schema, timestamp_utc=True, prefers_large_types=large)


def result_batches(df) -> Iterator[pa.RecordBatch]:
    """Stream ``df``'s result as record batches in partition order, one
    window of ``defaultParallelism`` partitions at a time.

    Planning, the stages before the last (with AQE) and the first window's
    job run here, eagerly, so an analysis error, a timeout or a failure of
    the final stage surfaces before a door commits to a response.  Each
    later window is one more job, started when the previous window has
    been read, so at most one window of Arrow bytes is held in the JVM.
    Every window's job runs with the local properties (job group,
    interrupt-on-cancel) of the thread that called this, whichever thread
    pulls it, so KILL QUERY and ``max_execution_time`` cancel it."""
    spark = df.sparkSession
    schema = arrow_schema(df.schema, spark)
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    rdd = df._jdf.toArrowBatchRdd().toJavaRDD()
    n = rdd.getNumPartitions()
    step = max(1, sc.defaultParallelism)
    props = jsc.getLocalProperties().clone()

    def serve(lo: int):
        parts = list(range(lo, min(lo + step, n)))
        prev = jsc.getLocalProperties()
        jsc.setLocalProperties(props)
        try:
            return _create_local_socket(sc._jvm.PythonRDD.runJob(jsc, rdd, parts))
        finally:
            jsc.setLocalProperties(prev)

    windows = (serve(lo) for lo in range(0, n, step))
    stream = _window_batches(next(windows, None), windows, schema)
    next(stream)  # inside its try: close() now closes the first window
    return stream


def _window_batches(sock, windows: Iterator,
                    schema: pa.Schema) -> Iterator[pa.RecordBatch]:
    """Read each window's length-prefixed Arrow messages (the stream
    ``PythonRDD.serveIterator`` writes), then start the next window.
    Closing the generator — also on being dropped unfinished (client
    gone, KILL) — closes the socket, which ends the JVM's serving
    thread."""
    try:
        yield None  # primed by result_batches
        while sock is not None:
            while True:
                try:
                    size = read_int(sock)
                except EOFError:
                    break
                buf = sock.read(size)
                if len(buf) < size:
                    raise EOFError("result window cut short")
                yield pa.ipc.read_record_batch(pa.py_buffer(buf), schema)
            sock.close()
            sock = next(windows, None)
    finally:
        if sock is not None:
            sock.close()


def local_batch(rows: list, schema, spark) -> pa.RecordBatch:
    """One batch from driver-side Python rows (``Row`` objects of
    ``schema``), converted the way Spark converts local data."""
    from pyspark.sql.conversion import LocalDataToArrowConversion

    target = arrow_schema(schema, spark)
    if not rows:
        return pa.RecordBatch.from_pylist([], schema=target)
    table = LocalDataToArrowConversion.convert(list(rows), schema, False)
    return table.combine_chunks().to_batches()[0]


# ---------------------------------------------------------------------------
# the insert path: one door INSERT block enters Spark as one Arrow table
# ---------------------------------------------------------------------------


def insert_table(engine, name: str, columns: list[pa.Array], schema,
                 subset: list[str] | None) -> int:
    """Append one block of Arrow ``columns`` (of Spark ``schema``) to table
    ``name`` through ``engine.insert_df``, which writes such a block from
    the driver with no Spark job; returns its row count."""
    for arr, f in zip(columns, schema.fields):
        if not f.nullable and arr.null_count:
            raise ValueError(f"field {f.name}: This field is not nullable, but got None")
    table = pa.Table.from_arrays(columns, names=[f.name for f in schema.fields])
    engine.insert_df(name, engine.spark.createDataFrame(table, schema), subset=subset)
    return table.num_rows


def local_rows(plan, spark) -> pa.Table | None:
    """The rows of an optimized ``LocalRelation`` plan as one Arrow table,
    or None when it holds none.  The JVM converts them on the driver
    (``ArrowConverters``, in the session time zone) and serves the stream
    over a local socket, as ``result_batches`` does: no job runs, and the
    bytes skip py4j, whose byte-array decoding costs ~25 ms per 100 KB."""
    from pyspark.serializers import NoOpSerializer
    from pyspark.util import _load_from_socket

    jvm = spark.sparkContext._jvm
    conv = getattr(getattr(jvm.org.apache.spark.sql.execution.arrow,
                           "ArrowConverters$"), "MODULE$")
    streams = conv.toBatchWithSchemaIterator(
        plan.data().iterator(), plan.schema(), -1, -1,
        spark.conf.get("spark.sql.session.timeZone"), True, False)
    served = jvm.PythonRDD.serveIterator(streams, "tb-local-rows")
    tables = [pa.ipc.open_stream(b).read_all()
              for b in _load_from_socket(served, NoOpSerializer())]
    return pa.concat_tables(tables) if tables else None


def from_values(values: list, data_type) -> pa.Array:
    """Python values as the Arrow column of Spark ``data_type`` holding what
    ``createDataFrame(rows, schema)`` stores for them: a naive datetime is
    OS-local wall time (``TimestampType.toInternal``), a decimal rounds
    half up to the type's scale and NaN is NULL, an integer out of the
    type's range raises."""
    if isinstance(data_type, (T.TimestampType, T.TimestampNTZType)):
        us = [None if v is None else data_type.toInternal(v) for v in values]
        tz = "UTC" if isinstance(data_type, T.TimestampType) else None
        return pa.array(us, pa.int64()).cast(pa.timestamp("us", tz=tz))
    if isinstance(data_type, T.DecimalType):
        q = Decimal(1).scaleb(-data_type.scale)
        values = [None if v is None or v.is_nan() else v.quantize(q, ROUND_HALF_UP)
                  for v in values]
    elif isinstance(data_type, T.ArrayType):
        offsets = np.zeros(len(values) + 1, dtype=np.int32)
        np.cumsum([0 if v is None else len(v) for v in values], out=offsets[1:])
        flat = [x for v in values if v is not None for x in v]
        return pa.ListArray.from_arrays(
            pa.array(offsets), from_values(flat, data_type.elementType),
            mask=pa.array([v is None for v in values], pa.bool_()))
    return pa.array(values, to_arrow_type(data_type))


# ---------------------------------------------------------------------------
# per-value fallback: the values a classic collect() produces
# ---------------------------------------------------------------------------


def py_values(arr: pa.Array, data_type) -> list:
    """Column ``arr`` (of Spark type ``data_type``) as the Python values a
    classic ``collect()`` returns: local-naive datetimes, ``Row`` structs,
    dict maps (pyspark's own Arrow-to-Row conversion)."""
    from pyspark.sql.conversion import ArrowTableToRowsConversion

    conv = ArrowTableToRowsConversion._create_converter(data_type)
    return [conv(v) for v in arr.to_pylist()]


def text_with(arr: pa.Array, data_type, fmt: Callable) -> pa.Array:
    """String column of ``fmt(value)`` per non-NULL value (NULLs stay)."""
    return pa.array(
        [None if v is None else fmt(v) for v in py_values(arr, data_type)],
        pa.string(),
    )


# ---------------------------------------------------------------------------
# timestamps: OS-local wall clock, as datetime.fromtimestamp gives it
# ---------------------------------------------------------------------------


def _local_zone() -> str | None:
    """IANA name of the process's local zone, or None when it is not one
    Arrow can resolve (a POSIX rule string, say)."""
    tz = os.environ.get("TZ")
    if tz is None:
        path = os.path.realpath("/etc/localtime")
        if not os.path.exists(path):
            return "UTC"  # the C library default
        tz = path.partition("/zoneinfo/")[2]
    tz = tz.lstrip(":") or "UTC"
    try:
        pc.local_timestamp(pa.array([0], pa.timestamp("s", tz=tz)))
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError, KeyError):
        return None
    return tz


def local_wall_us(arr: pa.Array) -> np.ndarray | None:
    """Microseconds of the OS-local wall clock for each value of a
    timestamp column (0 in NULL slots); None when the local zone has no
    name Arrow knows.  A zone-less column already holds wall time."""
    if arr.type.tz is not None:
        zone = _local_zone()
        if zone is None:
            return None
        arr = pc.local_timestamp(arr.cast(pa.timestamp("us", tz=zone)))
    us = arr.cast(pa.timestamp("us")).cast(pa.int64())
    return us.fill_null(0).to_numpy()


# year 1000-01-01 in epoch microseconds: below it strftime's %Y is unpadded
MIN_PADDED_YEAR_US = -30610224000 * 1_000_000


def seconds_text(wall_us: np.ndarray) -> pa.Array:
    """``YYYY-MM-DD HH:MM:SS`` of the whole second each wall time is in."""
    secs = np.floor_divide(wall_us, 1_000_000)
    return pc.cast(pa.array(secs, pa.timestamp("s")), pa.string())


# ---------------------------------------------------------------------------
# floats: Arrow's shortest-round-trip text, with repr's own notation
# ---------------------------------------------------------------------------


def float_text(arr: pa.Array, fmt: Callable[[float], str],
               keep_point: bool) -> pa.Array:
    """Text of a float column equal to ``fmt`` per value.  ``fmt`` is
    ``repr`` (``keep_point``) or repr without a trailing ``.0``.  Arrow's
    cast prints the same shortest digits in fixed notation, so only values
    where either side switches to exponent notation, and non-finite ones,
    go through ``fmt``."""
    d = arr.cast(pa.float64())  # float32 prints as the double it widens to
    text = pc.cast(d, pa.string())
    if keep_point:
        text = pc.if_else(
            pc.match_substring(text, "."), text,
            pc.binary_join_element_wise(text, pa.scalar(".0"), ""))
    v = d.fill_null(1.0).to_numpy()
    with np.errstate(invalid="ignore"):
        a = np.abs(v)
        odd = ~np.isfinite(v) | ((a < 1e-4) & (a != 0)) | (a >= 1e16)
    odd |= pc.fill_null(pc.match_substring(text, "e"), False).to_numpy(
        zero_copy_only=False)
    if not odd.any():
        return text
    fixed = [fmt(x) for x in d.filter(pa.array(odd)).to_pylist()]
    return pc.replace_with_mask(text, pa.array(odd), pa.array(fixed, pa.string()))


# ---------------------------------------------------------------------------
# byte assembly of variable-width cells
# ---------------------------------------------------------------------------


def binary_from_matrix(mat: np.ndarray, lengths: np.ndarray) -> pa.Array:
    """Binary column whose value i is ``mat[i, :lengths[i]]``."""
    n = mat.shape[0]
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    mat = mat[:, :int(lengths.max()) if n else 0]
    if (lengths == mat.shape[1]).all():
        data = np.ascontiguousarray(mat, dtype=np.uint8).reshape(-1)
    else:
        data = mat[np.arange(mat.shape[1]) < lengths[:, None]]
    return pa.Array.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(offsets), pa.py_buffer(data)])


def value_lengths(arr: pa.Array) -> np.ndarray:
    """Byte length of each value of a string/binary column (0 for NULL)."""
    return pc.fill_null(pc.binary_length(arr), 0).to_numpy().astype(np.int64)


def as_binary(arr: pa.Array) -> pa.Array:
    """A string/binary column as non-NULL ``binary`` (NULL -> b"")."""
    if pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type):
        arr = arr.cast(pa.large_binary()).cast(pa.binary())
    elif not pa.types.is_binary(arr.type):
        arr = arr.cast(pa.binary())
    return pc.fill_null(arr, b"")


def concat(parts: list[pa.Array]) -> pa.Array:
    """Element-wise concatenation of equal-length binary columns."""
    if len(parts) == 1:
        return parts[0]
    return pc.binary_join_element_wise(*parts, b"")


def joined_bytes(arr: pa.Array) -> bytes:
    """All values of a non-NULL binary column back to back."""
    if not len(arr):
        return b""
    offsets = np.frombuffer(arr.buffers()[1], dtype=np.int32)
    lo = offsets[arr.offset]
    hi = offsets[arr.offset + len(arr)]
    return memoryview(arr.buffers()[2])[lo:hi].tobytes()


def varint_matrix(lengths: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Unsigned LEB128 of each length as (bytes matrix, byte counts)."""
    v = lengths.astype(np.uint64)
    width = 1
    while width < 10 and (v >> np.uint64(7 * width)).any():
        width += 1
    mat = np.empty((len(v), width), dtype=np.uint8)
    for k in range(width):
        mat[:, k] = ((v >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
    counts = np.ones(len(v), dtype=np.int64)
    for k in range(1, width):
        counts += (v >> np.uint64(7 * k)) > 0
    mat[np.arange(width) < (counts - 1)[:, None]] |= 0x80
    return mat, counts


def decimal_words(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(low, high) signed 64-bit halves of each little-endian decimal128;
    a value fits 64 bits when ``high`` is the sign extension of ``low``."""
    n = len(arr)
    words = np.frombuffer(arr.buffers()[1], dtype="<i8")[
        2 * arr.offset: 2 * (arr.offset + n)].reshape(n, 2)
    return words[:, 0].copy(), words[:, 1]


def date_parts(days: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(year, month, day) of days-since-epoch."""
    d = days.astype("datetime64[D]")
    y = d.astype("datetime64[Y]")
    m = d.astype("datetime64[M]")
    return (
        y.astype(np.int64) + 1970,
        (m - y).astype(np.int64) + 1,
        (d - m).astype(np.int64) + 1,
    )
