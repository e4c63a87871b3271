"""The doors' shared result path (``sources/batches.result_batches``)
end to end: the Python values it yields equal a classic ``collect()``,
an abandoned result leaves no thread and no processlist entry behind,
and column types the doors print as text answer as before."""

from __future__ import annotations

import socket
import threading
import time
import uuid

import pytest

from tensorbase_spark.engine import TensorBaseEngine
from tensorbase_spark.sources import batches, chnative, httpwire, mysqlwire
from tests.util_drain import wait_processlist_drained

BIG = (
    "select number as k, repeat('x', 64) as s "
    f"from numbers({40 * chnative.BLOCK_ROWS})"
)


@pytest.fixture()
def doors(spark):
    eng = TensorBaseEngine(spark)
    db = f"rp_{uuid.uuid4().hex[:8]}"
    eng.sql(f"create database {db}")
    eng.sql(f"use {db}")
    servers = {
        "native": chnative.serve_native(eng),
        "http": httpwire.serve_http(eng),
        "mysql": mysqlwire.serve_mysql(eng),
    }
    yield eng, {k: port for k, (_srv, port) in servers.items()}
    for srv, _port in servers.values():
        srv.shutdown()
        srv.server_close()
    spark.catalog.setCurrentDatabase("default")
    eng.sql(f"drop database if exists {db}")


def test_batches_yield_the_values_collect_returns(spark):
    """JVM Arrow batches, converted per column, give exactly the rows a
    classic collect() gives — across partitions and every wire type."""
    df = spark.sql(
        "select cast(id as tinyint) b1, cast(id * 300 as smallint) s2, "
        "cast(id * 70000 as int) i4, id * 1000000007 i8, "
        "cast(id / 7 as float) f4, "
        "case when id % 3 = 0 then cast('NaN' as double) else id / 3.0D end f8, "
        "cast(id * 1.5 - 40 as decimal(18,4)) dec, "
        "cast(id * 1000 as decimal(20,0)) u64, "
        "date_add(date'1969-12-25', cast(id as int)) d, "
        "timestamp_micros(id * 123456789012 + id % 3) ts, "
        "case when id % 4 = 0 then null else concat('a\\tb', cast(id as string), 'é中') end s, "
        "id % 2 = 0 flag, array(id, null) arr, map('k', id) m, "
        "named_struct('x', id, 'y', 'z') st, cast('ab' as binary) bin, "
        "interval 1 day * id idt "
        "from range(0, 200, 1, 3)"
    )
    want = [repr(tuple(r)) for r in df.collect()]
    got = []
    for b in batches.result_batches(df):
        cols = [batches.py_values(c, f.dataType)
                for c, f in zip(b.columns, df.schema.fields)]
        got.extend(repr(tuple(r)) for r in zip(*cols))
    assert got == want


def _serving_threads(spark) -> int:
    """JVM threads serving a local-iterator socket to this process."""
    jthreads = spark._jvm.java.lang.Thread.getAllStackTraces().keySet()
    return sum(1 for t in jthreads.toArray()
               if "serve toLocalIterator" in t.getName())


def _back_to(count, baseline: int, timeout_s: float = 20.0) -> int:
    deadline = time.time() + timeout_s
    while count() > baseline and time.time() < deadline:
        time.sleep(0.1)
    return count()


def _abandon_native(port: int) -> None:
    c = chnative.NativeClient(port=port, compression=False)
    c._send_query(BIG)
    c._send_empty_block()
    blocks = 0
    while blocks < 2:  # header + one data block, then hang up
        code = c._r.read_varint()
        if code == chnative.SERVER_DATA:
            chnative.read_data_packet_body(c._r, False)
            blocks += 1
        elif code == chnative.SERVER_PROGRESS:
            for _ in range(3):
                c._r.read_varint()
        else:
            raise AssertionError(f"unexpected packet {code}")
    c._sock.close()


def _abandon_http(port: int) -> None:
    s = socket.create_connection(("127.0.0.1", port))
    body = (BIG + " FORMAT TabSeparated").encode()
    s.sendall(b"POST / HTTP/1.1\r\nHost: x\r\nContent-Length: "
              + str(len(body)).encode() + b"\r\n\r\n" + body)
    got = b""
    while len(got) < 100_000:
        got += s.recv(65536)
    assert got.startswith(b"HTTP/1.1 200")
    s.close()


def _abandon_mysql(port: int) -> None:
    c = mysqlwire.MySQLClient(port=port)
    c.pio.seq = 0
    c.pio.send(bytes([mysqlwire.COM_QUERY]) + BIG.encode())
    for _ in range(50):  # column count, definitions, EOF, first rows
        c.pio.recv()
    c.sock.close()


@pytest.mark.parametrize("door", ["native", "http", "mysql"])
def test_client_gone_mid_result_leaves_nothing_behind(doors, door):
    """A client that hangs up mid-result: the door's thread and the
    JVM thread serving its batches end, the processlist drains, and the
    door keeps serving."""
    eng, ports = doors
    baseline = threading.active_count()
    jvm_baseline = _serving_threads(eng.spark)
    {"native": _abandon_native, "http": _abandon_http,
     "mysql": _abandon_mysql}[door](ports[door])
    assert wait_processlist_drained(eng) == 0
    assert _back_to(threading.active_count, baseline) <= baseline
    # the abandoned batch stream told the JVM to stop serving it
    assert _back_to(lambda: _serving_threads(eng.spark), jvm_baseline) \
        <= jvm_baseline
    with chnative.NativeClient(port=ports["native"]) as c:
        assert c.execute("select 1 as x")[1] == [(1,)]


TEXT_TYPES = (
    "select map('a', id) m, named_struct('x', id, 'y', 'z') st, "
    "cast('ab' as binary) bin, interval 1 day * id idt from range(3)"
)


def test_text_printed_types_answer_as_before(doors):
    """Map, struct, binary and day-time interval columns have no native
    wire type; the HTTP and MySQL doors print them as Python text, the
    same bytes as the row path printed."""
    eng, ports = doors
    with httpwire.HttpClient(port=ports["http"]) as h:
        status, _hdrs, body = h.raw(query=TEXT_TYPES + " FORMAT TabSeparated")
    assert status == 200
    assert body == (
        b"{'a': 0}\tRow(x=0, y='z')\tb'ab'\t0:00:00\n"
        b"{'a': 1}\tRow(x=1, y='z')\tb'ab'\t1 day, 0:00:00\n"
        b"{'a': 2}\tRow(x=2, y='z')\tb'ab'\t2 days, 0:00:00\n"
    )
    with mysqlwire.MySQLClient(port=ports["mysql"]) as m:
        _cols, rows = m.query(TEXT_TYPES)
    assert rows[1] == ("{'a': 1}", "[1, 'z']", "ab", "1 day, 0:00:00")
    with chnative.NativeClient(port=ports["native"]) as c:
        with pytest.raises(Exception, match="no native-wire mapping"):
            c.execute(TEXT_TYPES)
        assert c.execute("select 1 as x")[1] == [(1,)]


def test_type_without_arrow_form_is_an_error_answer(doors):
    """A year-month interval has no Arrow form (nor a Python one): every
    door answers an error and stays usable."""
    eng, ports = doors
    q = "select interval '1-2' year to month ym"
    with httpwire.HttpClient(port=ports["http"]) as h:
        status, _hdrs, _body = h.raw(query=q)
        assert status >= 400
        assert h.execute("select 1 as x")[2] == [(1,)]
    with mysqlwire.MySQLClient(port=ports["mysql"]) as m:
        with pytest.raises(Exception):
            m.query(q)
        assert m.query("select 1 as x")[1] == [(1,)]
    with chnative.NativeClient(port=ports["native"]) as c:
        with pytest.raises(Exception):
            c.execute(q)
        assert c.execute("select 1 as x")[1] == [(1,)]
    assert wait_processlist_drained(eng) == 0
