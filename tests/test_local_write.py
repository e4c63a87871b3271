"""The driver-side write of driver-local INSERT blocks.

A block whose cast and partition key fold into driver-local rows (a door's
Arrow block, ``INSERT ... VALUES``) is written from the driver with
pyarrow and no Spark job; every other block goes through Spark's
``insertInto``.  ``df.repartition(2)`` keeps a block from folding, so the
same rows can be sent down both paths into twin tables, which must then
hold the same rows and the same parts.
"""

from __future__ import annotations

import math
import os
import re
import threading
import time
import uuid
from datetime import date, datetime, timezone
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tensorbase_spark.engine import TensorBaseEngine
from tensorbase_spark.sources import batches
from tests.test_insert_parity import COLUMNS, ROWS

# dates before the Gregorian switch, which a reader must not rebase
OLD_ROWS = [
    (5, 0, 0, None, 0, 0, 0, 0, 0.0, 0.0, Decimal("0.00"), None, "a/b=c%", "z",
     date(1, 1, 1), datetime(1899, 12, 31, 23, 0, 1), "00000000-0000-0000-0000-000000000005",
     [5], ["x"]),
    (6, 0, 0, 6, 0, 0, 0, 0, 0.0, 0.0, Decimal("0.00"), None, "a/b=c%", "y",
     date(1582, 10, 10), datetime(1582, 10, 14, 12, 0, 0),
     "00000000-0000-0000-0000-000000000006", [6], []),
]


@pytest.fixture()
def engine(spark):
    eng = TensorBaseEngine(spark)
    db = f"tlw_{uuid.uuid4().hex[:8]}"
    eng.sql(f"create database {db}")
    eng.sql(f"use {db}")
    yield eng
    spark.catalog.setCurrentDatabase("default")
    eng.sql(f"drop database if exists {db}")


def _block(engine, table: str, rows):
    """``rows`` as a driver-local (LocalRelation) DataFrame of ``table``'s
    columns, the shape a door hands to ``insert_df``."""
    schema = engine.spark.table(table).drop("__ptk").schema
    conv = []
    for row in rows:
        out = []
        for f, v in zip(schema.fields, row):
            if isinstance(v, datetime):
                v = v.replace(tzinfo=timezone.utc)
            elif f.dataType.simpleString() == "decimal(20,0)" and v is not None:
                v = Decimal(v)
            out.append(v)
        conv.append(tuple(out))
    rb = batches.local_batch(conv, schema, engine.spark)
    return engine.spark.createDataFrame(pa.Table.from_batches([rb]), schema)


def _jobs(engine, fn) -> int:
    sc = engine.spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "insert job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(engine, table: str) -> list:
    def norm(v):
        if isinstance(v, float) and math.isnan(v):
            return "nan"
        return repr(v)

    return sorted(
        tuple(norm(v) for v in r) for r in engine.sql(f"select * from {table}").collect()
    )


def _parts(engine, table: str) -> list:
    return [
        tuple(r)
        for r in engine.sql(
            "select partition, rows, part_count from system.parts "
            f"where table = '{table}' order by partition"
        ).collect()
    ]


def _location(engine, table: str) -> str:
    return engine._catalog_table(engine._qualify(table)).location().getPath()


def _listing(engine, table: str) -> list:
    root = _location(engine, table)
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, dirs, files in os.walk(root)
        for f in files + dirs
    )


DDL = ", ".join(f"{n} {t}" for n, t in COLUMNS)


@pytest.mark.parametrize("key", ["toYYYYMM(d)", "s", "d", "dt", "i32", "fs"])
def test_driver_write_matches_spark_write(engine, key):
    """The 19 parity columns, partitioned by a month, a String identity key
    holding NULL, '' and path-unsafe characters, a Date, a DateTime and a
    Nullable(Int32) key: the driver-side table and the Spark-written twin
    hold the same rows and the same parts, pre-Gregorian dates included."""
    rows = ROWS + OLD_ROWS
    for t in ("lw_local", "lw_spark"):
        engine.sql(f"create table {t} ({DDL}) partition by {key}")
    assert _jobs(engine, lambda: engine.insert_df("lw_local", _block(engine, "lw_local", rows))) == 0
    assert _jobs(engine, lambda: engine.insert_df(
        "lw_spark", _block(engine, "lw_spark", rows).repartition(2))) > 0
    assert _rows(engine, "lw_local") == _rows(engine, "lw_spark")
    assert _parts(engine, "lw_local") == _parts(engine, "lw_spark")
    parts = [p for p, _, _ in _parts(engine, "lw_local")]
    assert len(parts) >= 4
    # both writers registered the same catalog partitions: dropping one
    # drops the same rows from each
    for drop in [p for p in parts if re.fullmatch(r"[0-9a-z-]+", p)][:1]:
        for t in ("lw_local", "lw_spark"):
            engine.sql(f"alter table {t} drop partition '{drop}'")
        assert _rows(engine, "lw_local") == _rows(engine, "lw_spark")
        assert len(_rows(engine, "lw_local")) < len(rows)


def test_table_with_files_from_both_writers(engine):
    """Driver-side and Spark-side appends into one table, NULL key included,
    register each partition once: every row is read exactly once.  (Spark's
    writer may split the NULL and '' rows of one block into two files.)"""
    engine.sql("create table lw_both (k Nullable(String), v Int64) partition by k")
    keys = ["a", None, "", "b/c", "a"]
    for i in range(3):
        df = engine.spark.createDataFrame(
            pa.table({"k": pa.array(keys), "v": pa.array(range(i * 5, i * 5 + 5), pa.int64())}),
            "k string, v bigint",
        )
        engine.insert_df("lw_both", df if i != 1 else df.repartition(2))
    r = engine.sql("select count(*) as n, count(distinct v) as d from lw_both").collect()[0]
    assert (r.n, r.d) == (15, 15)
    assert len(engine.spark.sql("show partitions lw_both").collect()) == 3
    assert [p[:2] for p in _parts(engine, "lw_both")] == [
        ("__HIVE_DEFAULT_PARTITION__", 6), ("a", 6), ("b/c", 3)]
    assert sorted(
        r.k for r in engine.sql("select k from lw_both where k = 'b/c'").collect()
    ) == ["b/c"] * 3


def _spark_writes(engine, monkeypatch) -> list:
    """Record the tables whose blocks take Spark's write."""
    calls, real = [], engine.storage._write_spark

    def spy(name, *a):
        calls.append(name)
        return real(name, *a)

    monkeypatch.setattr(engine.storage, "_write_spark", spy)
    return calls


def test_values_insert_is_driver_local(engine, monkeypatch):
    """INSERT ... VALUES folds to a LocalRelation too: no Spark write, and
    its FixedString refusal still comes from the cast."""
    engine.sql("create table lw_v (k Int64, fs FixedString(2)) partition by k")
    spark_writes = _spark_writes(engine, monkeypatch)
    engine.sql("insert into lw_v values (1, 'ab'), (2, 'c')")
    assert spark_writes == []
    with pytest.raises(Exception, match="FixedString"):
        engine.sql("insert into lw_v values (3, 'abc')")
    assert engine.sql("select count(*) as n from lw_v").collect()[0].n == 2


def test_failed_write_leaves_table_unchanged(engine, monkeypatch):
    """A write failing on its third partition leaves the rows, system.parts
    and the directory listing as they were, with no temp file left; the
    1200-key guard refusal writes nothing either."""
    engine.sql("create table lw_f (k Int64, v Int64) partition by k")
    engine.insert_df("lw_f", engine.spark.createDataFrame(
        pa.table({"k": pa.array([1, 2], pa.int64()), "v": pa.array([1, 2], pa.int64())})))
    before = (_rows(engine, "lw_f"), _parts(engine, "lw_f"), _listing(engine, "lw_f"))
    real, seen = pq.write_table, []

    def failing(table, where, **kw):
        seen.append(os.path.basename(where))
        if len(seen) == 3:
            raise OSError("disk full")
        return real(table, where, **kw)

    monkeypatch.setattr(pq, "write_table", failing)
    block = pa.table({"k": pa.array([1, 3, 4, 5], pa.int64()), "v": pa.array(range(4), pa.int64())})
    with pytest.raises(OSError, match="disk full"):
        engine.insert_df("lw_f", engine.spark.createDataFrame(block))
    assert all(n.startswith(".") and not n.endswith(".parquet") for n in seen)
    assert (_rows(engine, "lw_f"), _parts(engine, "lw_f"), _listing(engine, "lw_f")) == before
    with pytest.raises(ValueError, match="spans 1200 partitions"):
        engine.insert_df("lw_f", engine.spark.createDataFrame(
            pa.table({"k": pa.array(range(1200), pa.int64()),
                      "v": pa.array(range(1200), pa.int64())})))
    assert (_rows(engine, "lw_f"), _parts(engine, "lw_f"), _listing(engine, "lw_f")) == before


def test_reader_beside_driver_writes(engine):
    """A reader looping beside 20 driver-side inserts reads each count
    between the rows acknowledged before it began and the rows begun when
    it ended, and never a row twice."""
    engine.sql("create table lw_r (k Int64, id Int64) partition by k")
    per, state, bad = 300, {"acked": 0, "begun": 0, "done": False, "error": None}, []

    def write():
        try:
            for i in range(20):
                ids = range(i * per, (i + 1) * per)
                block = pa.table({"k": pa.array([j % 3 for j in ids], pa.int64()),
                                  "id": pa.array(ids, pa.int64())})
                state["begun"] += 1
                engine.insert_df("lw_r", engine.spark.createDataFrame(block))
                state["acked"] += 1
        except Exception as e:  # surfaced by the assertion below
            state["error"] = e
        finally:
            state["done"] = True

    writer = threading.Thread(target=write)
    writer.start()
    reads, deadline = 0, time.monotonic() + 600
    while (not state["done"] or reads < 3) and time.monotonic() < deadline:
        lo = state["acked"] * per
        r = engine.spark.sql(
            "select count(*) as n, count(distinct id) as d from lw_r").collect()[0]
        hi = state["begun"] * per
        reads += 1
        if not (lo <= r.n <= hi and r.n == r.d):
            bad.append((lo, r.n, r.d, hi))
    writer.join(timeout=60)
    assert not writer.is_alive() and state["error"] is None and not bad
    assert engine.sql("select count(*) as n from lw_r").collect()[0].n == 20 * per


@pytest.mark.parametrize("ddl, source", [
    ("create table lw_s (k Int64, v Int64, index iv v type bloom_filter) partition by k",
     "local"),
    ("create table lw_s (k Int64, v Int64) partition by k settings bucket_by='v', buckets=2",
     "local"),
    ("create table lw_s (k Float64, v Int64) partition by k", "local"),
    ("create table lw_s (k Int64, v Int64) settings codec='lz4'", "local"),
    ("create table lw_s (k Int64, v Int64) partition by k", "select"),
])
def test_spark_write_cases(engine, monkeypatch, ddl, source):
    """Bloom-filtered, bucketed, float-keyed and LZ4 tables, and INSERT ...
    SELECT, keep Spark's write and read back every row."""
    engine.sql(ddl)
    engine.sql("create table lw_src (k Int64, v Int64)")
    engine.sql("insert into lw_src values (1, 1), (2, 2), (3, 3)")
    spark_writes = _spark_writes(engine, monkeypatch)
    if source == "select":
        engine.sql("insert into lw_s select k, v from lw_src")
    else:
        engine.sql("insert into lw_s values (1, 1), (2, 2), (3, 3)")
    assert spark_writes == [engine._qualify("lw_s")]
    assert engine.sql("select sum(v) as s from lw_s").collect()[0].s == 6


def test_driver_write_takes_no_more_bytes(engine):
    """Dictionary pages on strings only and no stored Arrow schema: an
    ingest-shaped block takes no more bytes from the driver than from
    Spark's writer."""
    n = 5000
    for t in ("lw_bl", "lw_bs"):
        engine.sql(f"create table {t} (ts DateTime, user_id Int64, event_type String, "
                   "value Int64) partition by toYYYYMM(ts)")
    ts = [1609459200 + (i * 7919) % (180 * 86400) for i in range(n)]
    block = pa.table({
        "ts": pa.array([t * 1_000_000 for t in ts], pa.timestamp("us", tz="UTC")),
        "user_id": pa.array([(i * 31) % 1000 for i in range(n)], pa.int64()),
        "event_type": pa.array([f"e{i % 7}" for i in range(n)]),
        "value": pa.array([(i * 104729) % 10**6 for i in range(n)], pa.int64()),
    })
    schema = engine.spark.table("lw_bl").drop("__ptk").schema
    engine.insert_df("lw_bl", engine.spark.createDataFrame(block, schema))
    engine.insert_df("lw_bs", engine.spark.createDataFrame(block, schema).repartition(2))

    def size(t):
        return engine.sql(
            f"select sum(bytes_on_disk) as b from system.parts where table = '{t}'"
        ).collect()[0].b

    assert _parts(engine, "lw_bl") == _parts(engine, "lw_bs")
    assert size("lw_bl") <= size("lw_bs")
