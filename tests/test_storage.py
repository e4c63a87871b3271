"""The table-file layer (tensorbase_spark/storage.py): every count the
engine reports comes from the files a scan reads, and a rewrite leaves no
stage behind and loses no append that lands beside it."""

from __future__ import annotations

import os
import sys
import threading
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tensorbase_spark.engine import TensorBaseEngine


@pytest.fixture()
def engine(spark):
    eng = TensorBaseEngine(spark)
    db = f"tst_{uuid.uuid4().hex[:8]}"
    eng.sql(f"create database {db}")
    eng.sql(f"use {db}")
    yield eng
    spark.catalog.setCurrentDatabase("default")
    eng.sql(f"drop database if exists {db}")


def _location(engine, table: str) -> str:
    return engine._catalog_table(engine._qualify(table)).location().getPath()


def _counts(engine, table: str) -> dict:
    parts = engine.sql(
        "select partition, rows, part_count from system.parts "
        f"where table = '{table}'").collect()
    chk = engine.sql(f"check table {table}").collect()[0]
    est = engine.sql(f"explain estimate select * from {table}").collect()[0]
    return {
        "parts.rows": sum(r.rows for r in parts),
        "parts.files": sum(r.part_count for r in parts),
        "check.rows": chk.rows,
        "check.files": chk.files,
        "estimate.rows": est.rows,
        "estimate.files": est.parts,
        "count": engine.sql(f"select count(*) as n from {table}").collect()[0].n,
    }


def test_hidden_files_are_not_counted(engine):
    """A writer's leftovers that Spark's listing skips — a ``_temporary``
    attempt tree, a ``.spark-staging`` directory, a hidden parquet file and
    a driver-side ``.tb-….tmp`` file — count in none of system.parts, CHECK
    TABLE and EXPLAIN ESTIMATE, which agree with ``count(*)``."""
    engine.sql("create table hf (k Int64, v Int64) partition by k")
    engine.sql("insert into hf values (1, 1), (2, 2), (2, 3)")
    clean = _counts(engine, "hf")
    root = _location(engine, "hf")
    one = pa.table({"v": pa.array([9], pa.int64())})
    stamp = uuid.uuid4()
    for rel in (
        f"_temporary/0/_temporary/attempt_x/__ptk=1/part-00000-{stamp}.c000.snappy.parquet",
        f".spark-staging-{stamp}/__ptk=2/part-00000-{stamp}.c000.snappy.parquet",
        f"__ptk=1/.part-00001-{stamp}.c000.snappy.parquet",
        f"__ptk=1/.tb-{stamp}-00000.tmp",
    ):
        os.makedirs(os.path.dirname(os.path.join(root, rel)), exist_ok=True)
        pq.write_table(one, os.path.join(root, rel))
    engine.spark.catalog.refreshTable(engine._qualify("hf"))
    got = _counts(engine, "hf")
    assert got == clean
    assert set(got.values()) == {2, 3} and got["count"] == 3
    assert sorted(tuple(r) for r in engine.sql(
        "select partition, rows from system.parts where table = 'hf'").collect()
    ) == [("1", 1), ("2", 2)]


def _touched(wh: str, since_ns: int, own: str) -> list:
    """Warehouse entries made or changed since ``since_ns``, other than the
    test's own database directory."""
    return sorted(
        e for e in os.listdir(wh)
        if e != own and os.stat(os.path.join(wh, e)).st_mtime_ns >= since_ns
    )


def test_rewrites_leave_no_stage(engine):
    """OPTIMIZE FINAL, OPTIMIZE ZORDER BY, ALTER DELETE over some
    partitions and over the whole table, ALTER UPDATE and ALTER MODIFY
    COLUMN each leave the rows they should, and neither a directory in the
    warehouse nor a persisted checkpoint behind."""
    spark = engine.spark
    db = spark.catalog.currentDatabase()
    wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    own = f"{db}.db"
    engine.sql("create table rw (k Int64, v Int64) partition by k")
    engine.sql("insert into rw select id % 3, id from range(60)")
    persisted = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    since = time.time_ns()

    def rows():
        return sorted(tuple(r) for r in engine.sql("select k, v from rw").collect())

    want = sorted((i % 3, i) for i in range(60))
    engine.sql("optimize table rw final")
    assert rows() == want
    engine.sql("optimize table rw zorder by (v)")
    assert rows() == want
    engine.sql("alter table rw delete where k = 1 and v < 30")
    want = [r for r in want if not (r[0] == 1 and r[1] < 30)]
    assert rows() == want
    engine.sql("alter table rw delete where k = 2")  # empties a partition
    want = [r for r in want if r[0] != 2]
    assert rows() == want
    assert [r.partition for r in engine.sql(
        "select partition from system.parts where table = 'rw' order by partition"
    ).collect()] == ["0", "1"]
    engine.sql("alter table rw update v = v + 1000 where v % 2 = 0")
    want = sorted((k, v + 1000 if v % 2 == 0 else v) for k, v in want)
    assert rows() == want
    engine.sql("alter table rw modify column v Int32")
    assert rows() == want
    assert dict(spark.table("rw").dtypes)["v"] == "int"
    assert _touched(wh, since, own) == []
    assert sorted(os.listdir(os.path.join(wh, own))) == ["rw"]
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() == persisted


def test_rewrite_reads_the_files_under_its_lock(engine):
    """A rewrite of a DataFrame read before some appends landed keeps those
    appends: an unpartitioned table's plan holds the file list of the
    moment it was read, and the rewrite lists it again under the lock."""
    engine.sql("create table st (k Int64, v Int64)")
    engine.sql("insert into st values (1, 1)")
    name = engine._qualify("st")
    df = engine.spark.table(name).filter("v > 0").repartition(2)
    engine.sql("insert into st values (2, 2)")
    engine.sql("insert into st select 3, 3")
    engine.sql("insert into st values (4, 4)")
    engine.storage.rewrite(name, df)
    assert sorted(tuple(r) for r in engine.sql("select k, v from st").collect()) == [
        (1, 1), (2, 2), (3, 3), (4, 4)]


def test_rewrites_beside_appends(engine):
    """Two threads OPTIMIZE two tables while three threads append to them
    (driver-side VALUES blocks and Spark-written INSERT ... SELECT): no
    append is lost or doubled and neither table takes the other's rows."""
    db = engine.spark.catalog.currentDatabase()
    a, b = f"{db}.ra", f"{db}.rb"
    for t in (a, b):
        engine.sql(f"create table {t} (k Int64, id Int64) partition by k")
    engine.sql(f"insert into {a} select id % 4, id from range(1000)")
    engine.sql(f"insert into {b} select id % 4, 1000000 + id from range(500)")
    errors: list = []
    per, rounds = 50, 6

    def optimize(t):
        for _ in range(4):
            engine.sql(f"optimize table {t}")

    def values(t, base):
        for i in range(rounds):
            lo = base + i * per
            engine.sql(f"insert into {t} values " + ", ".join(
                f"({j % 4}, {j})" for j in range(lo, lo + per)))

    def select(t, base):
        for i in range(rounds):
            lo = base + i * per
            engine.sql(f"insert into {t} select id % 4, id from range({lo}, {lo + per})")

    def run(fn, *args):
        try:
            fn(*args)
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    jobs = [(optimize, a), (optimize, b), (values, a, 10_000),
            (select, a, 20_000), (values, b, 2_000_000)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    try:
        threads = [threading.Thread(target=run, args=j) for j in jobs]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads) and errors == []

    def ids(t):
        r = engine.sql(
            f"select count(*) as n, count(distinct id) as d, min(id) as lo, "
            f"max(id) as hi from {t}").collect()[0]
        return r.n, r.d, r.lo, r.hi

    assert ids(a) == (1000 + 2 * rounds * per, 1000 + 2 * rounds * per, 0,
                      20_000 + rounds * per - 1)
    assert ids(b) == (500 + rounds * per, 500 + rounds * per, 1_000_000,
                      2_000_000 + rounds * per - 1)
