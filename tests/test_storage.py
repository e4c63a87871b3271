"""The table-file layer (tensorbase_spark/storage.py): every count the
engine reports comes from the files a scan reads, a rewrite leaves no
stage behind and loses no append that lands beside it, and a merge of a
partition's small files is invisible to readers and to every statement
run on the table after it."""

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
from tensorbase_spark.storage import MERGE_MIN_FILES


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


# -- merges ------------------------------------------------------------------


def _stray_files(engine, table: str) -> list:
    """The parquet files under ``table``'s root that no scan of it reads:
    a superseded generation, a merge's leftover stage, a file a reclaim
    missed.  Every merge test ends with none."""
    root = _location(engine, table)
    live = {f.path for f in engine.storage.files(engine._qualify(table))}
    return sorted(
        os.path.join(d, f)
        for d, _dirs, files in os.walk(root)
        for f in files
        if f.endswith(".parquet") and os.path.join(d, f) not in live
    )


@pytest.fixture()
def merges(engine, monkeypatch) -> list:
    """The table of each append that merged, in order."""
    seen, real = [], engine.storage.merge

    def spy(name, props, landed):
        out = real(name, props, landed)
        if out is not None:
            seen.append(name.rpartition(".")[2])
        return out

    monkeypatch.setattr(engine.storage, "merge", spy)
    return seen


def _partition_locations(engine, table: str) -> dict:
    meta = engine._catalog_table(engine._qualify(table))
    return dict(engine.storage._partitions(meta))


def test_insert_keeps_a_set_partition_location(engine):
    """A partition moved with ``ALTER TABLE … PARTITION … SET LOCATION``
    stays there through a driver-side and a Spark-written insert, which
    both land in it."""
    engine.sql("create table sl (k Int64, v Int64) partition by k")
    engine.sql("insert into sl values (1, 1), (2, 2)")
    root = _location(engine, "sl")
    moved = os.path.join(root, "moved")
    os.rename(os.path.join(root, "__ptk=1"), moved)
    engine.spark.sql(f"alter table {engine._qualify('sl')} partition (__ptk='1') "
                     f"set location '{moved}'")
    engine.sql("insert into sl values (1, 10)")
    engine.sql("insert into sl select k, v + 100 from sl where k = 1")
    assert sorted(tuple(r) for r in engine.sql("select k, v from sl").collect()) == [
        (1, 1), (1, 10), (1, 101), (1, 110), (2, 2)]
    assert _partition_locations(engine, "sl")["1"] == moved
    assert len([f for f in os.listdir(moved) if f.endswith(".parquet")]) >= 3
    assert not os.path.exists(os.path.join(root, "__ptk=1"))


def test_explain_estimate_reads_qualified_names(engine):
    """EXPLAIN ESTIMATE reports each table as the query names it, not the
    current database's table of the same name."""
    cur = engine.spark.catalog.currentDatabase()
    other = f"tst_{uuid.uuid4().hex[:8]}"
    engine.sql(f"create database {other}")
    try:
        engine.sql("create table et (v Int64)")
        engine.sql("insert into et values (1), (2), (3), (4), (5)")
        engine.sql(f"create table {other}.et (v Int64)")
        engine.sql(f"insert into {other}.et values (1), (2), (3)")
        engine.sql(f"insert into {other}.et values (4), (5), (6), (7)")

        def est(q):
            return [tuple(r)[:4] for r in engine.sql(f"explain estimate {q}").collect()]

        assert est(f"select * from {other}.et") == [(other, "et", 2, 7)]
        assert est("select * from et") == [(cur, "et", 1, 5)]
        assert sorted(est(f"select * from et join {other}.et as o on et.v = o.v")) == sorted(
            [(cur, "et", 1, 5), (other, "et", 2, 7)])
    finally:
        engine.sql(f"drop database if exists {other}")


def test_merge_moves_a_partition_to_a_generation(engine, merges):
    """The eighth small file of a partition merges it: one file (sorted by
    the ORDER BY) in a ``.g-`` generation directory holds every row, its
    former files are gone, and a partition with fewer files is left as it
    was."""
    engine.sql("create table mg (k Int64, id Int64, ts DateTime, s String) "
               "partition by k order by id")
    engine.sql("insert into mg select 1, 100 + number, toDateTime('2021-01-01 00:00:00'), "
               "'x' from numbers(3)")  # Spark's writer: INT96 timestamps
    spark_files = len(engine.storage.files(engine._qualify("mg")))
    n = MERGE_MIN_FILES - spark_files
    for i in range(n):
        assert merges == []
        engine.sql(f"insert into mg values (1, {n - i}, '2021-01-01 00:00:00', 'a'), "
                   f"(2, {i}, '2021-02-01 00:00:00', 'b')")
    assert merges == ["mg"]
    locs = _partition_locations(engine, "mg")
    root = _location(engine, "mg")
    assert os.path.dirname(locs["1"]) == os.path.join(root, "__ptk=1")
    assert os.path.basename(locs["1"]).startswith(".g-")
    assert locs["2"] == os.path.join(root, "__ptk=2")
    merged = [f for f in engine.storage.files(engine._qualify("mg")) if f.partition == "1"]
    assert len(merged) == 1 and merged[0].rows == n + 3
    assert pq.read_table(merged[0].path).column("id").to_pylist() == [
        *range(1, n + 1), 100, 101, 102]
    assert sorted(tuple(r) for r in engine.sql(
        "select k, id, cast(ts as string), s from mg where k = 1").collect()) == sorted(
        [(1, i, "2021-01-01 00:00:00", "a") for i in range(1, n + 1)]
        + [(1, 100 + i, "2021-01-01 00:00:00", "x") for i in range(3)])
    assert engine.sql("select count(*) as n from mg where k = 2").collect()[0].n == n
    assert _stray_files(engine, "mg") == []


def test_failed_merge_leaves_the_files(engine, merges, monkeypatch):
    """A merge that fails is logged, the insert stands, and the partition
    keeps its files and location with no generation left behind."""
    from tensorbase_spark import storage

    def broken(path, schema):
        raise OSError("read failed")

    monkeypatch.setattr(storage, "_conform", broken)
    engine.sql("create table mf (k Int64, v Int64) partition by k")
    for i in range(9):
        engine.sql(f"insert into mf values (1, {i})")
    assert merges == []
    assert engine.sql("select count(*) as n, sum(v) as s from mf").collect()[0] == (9, 36)
    part = os.path.join(_location(engine, "mf"), "__ptk=1")
    assert _partition_locations(engine, "mf")["1"] == part
    assert sorted(os.listdir(part)) == sorted(
        os.path.basename(f.path) for f in engine.storage.files(engine._qualify("mf")))
    assert _stray_files(engine, "mf") == []


def test_stop_merges_holds_off_the_merge(engine, merges):
    """SYSTEM STOP MERGES keeps an append from merging the table's files,
    as it keeps OPTIMIZE from running; after START MERGES the next append
    merges them."""
    engine.sql("create table sm (k Int64, v Int64) partition by k")
    engine.sql("system stop merges sm")
    for i in range(MERGE_MIN_FILES + 1):
        engine.sql(f"insert into sm values (1, {i})")
    assert merges == []
    assert len(engine.storage.files(engine._qualify("sm"))) == MERGE_MIN_FILES + 1
    engine.sql("system start merges sm")
    engine.sql(f"insert into sm values (1, {MERGE_MIN_FILES + 1})")
    assert merges == ["sm"]
    assert len(engine.storage.files(engine._qualify("sm"))) == 1
    n = MERGE_MIN_FILES + 2
    assert engine.sql("select count(*) as n, sum(v) as s from sm").collect()[0] == (
        n, sum(range(n)))
    assert _stray_files(engine, "sm") == []


def test_readers_beside_merges(engine, merges):
    """A native-door reader and an in-process ``collect()`` reader loop
    beside 24 driver-side inserts into 3 partitions, at least 3 of which
    merge: each read counts between the rows acknowledged before it began
    and the rows begun when it ended, never a row twice, and no
    superseded file is left."""
    from tensorbase_spark.sources.chnative import NativeClient, serve_native

    engine.sql("create table mr (k Int64, id Int64) partition by k")
    sql = (f"select count(*) as n, count(distinct id) as d "
           f"from {engine._qualify('mr')}")
    per, inserts = 300, 24
    state = {"acked": 0, "begun": 0}
    reads = {"door": 0, "collect": 0}
    done, bad, errors = threading.Event(), [], []

    def loop(kind, read):
        try:
            while not done.is_set():
                lo = state["acked"] * per
                n, d = read()
                hi = state["begun"] * per
                reads[kind] += 1
                if not (lo <= n <= hi and n == d):
                    bad.append((kind, lo, n, d, hi))
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    srv, port = serve_native(engine)
    try:
        with NativeClient(port=port) as client:
            readers = [
                threading.Thread(target=loop, args=(
                    "door", lambda: tuple(client.execute(sql)[1][0]))),
                threading.Thread(target=loop, args=(
                    "collect", lambda: tuple(engine.spark.sql(sql).collect()[0]))),
            ]
            for t in readers:
                t.start()
            try:
                for i in range(inserts):
                    ids = range(i * per, (i + 1) * per)
                    block = pa.table({"k": pa.array([j % 3 for j in ids], pa.int64()),
                                      "id": pa.array(ids, pa.int64())})
                    state["begun"] += 1
                    engine.insert_df("mr", engine.spark.createDataFrame(block))
                    state["acked"] += 1
            finally:
                done.set()
                for t in readers:
                    t.join(timeout=120)
    finally:
        srv.shutdown()
        srv.server_close()
    assert not any(t.is_alive() for t in readers) and errors == [] and bad == []
    assert len(merges) >= 3 and min(reads.values()) >= 3, (merges, reads)
    assert tuple(engine.spark.sql(sql).collect()[0]) == (inserts * per, inserts * per)
    assert _stray_files(engine, "mr") == []


def test_statements_on_merged_tables(engine, merges, tmp_path):
    """Every statement that reads or moves a table's files gives exact rows
    on a table whose partitions were just merged: both writers' INSERTs,
    OPTIMIZE FINAL and ZORDER, ALTER DELETE, UPDATE and MODIFY COLUMN,
    DROP, DETACH, ATTACH and MOVE PARTITION, TRUNCATE, RENAME and EXCHANGE
    TABLES, DETACH and ATTACH TABLE, BACKUP then RESTORE; system.parts,
    CHECK TABLE and EXPLAIN ESTIMATE agree with ``count(*)``, and no
    superseded file is left."""
    ddl = "(k Int64, id Int32, s String) partition by k order by id"
    engine.sql(f"create table md {ddl}")
    engine.sql(f"create table md2 {ddl}")
    want = {"md": [], "md2": []}
    ids = iter(range(10**6))

    def merge(t):
        """Insert two-partition VALUES blocks until one merges."""
        n = len(merges)
        for _ in range(MERGE_MIN_FILES + 1):
            new = [(1, next(ids), "a"), (2, next(ids), "b")]
            engine.sql(f"insert into {t} values " + ", ".join(
                f"({k}, {i}, '{s}')" for k, i, s in new))
            want[t] += new
            if len(merges) > n:
                return
        raise AssertionError(f"{t} did not merge")

    def check(t):
        got = sorted(tuple(r) for r in engine.sql(f"select k, id, s from {t}").collect())
        assert got == sorted(want[t])
        parts = engine.sql("select sum(rows) as n, sum(part_count) as f from system.parts "
                           f"where table = '{t}'").collect()[0]
        chk = engine.sql(f"check table {t}").collect()[0]
        est = engine.sql(f"explain estimate select * from {t}").collect()
        files = engine.storage.files(engine._qualify(t))
        assert (parts.n or 0, chk.rows, sum(r.rows for r in est)) == (len(got),) * 3
        assert (parts.f or 0, chk.files, sum(r.parts for r in est)) == (len(files),) * 3
        assert _stray_files(engine, t) == []

    def step(t, sql, change=lambda w: w):
        merge(t)
        engine.sql(sql)
        want[t] = change(want[t])
        check(t)

    step("md", "insert into md values (1, -1, 'v'), (3, -2, 'v')",
         lambda w: w + [(1, -1, "v"), (3, -2, "v")])
    step("md", "insert into md select k, id + 500000, s from md where k = 1",
         lambda w: w + [(k, i + 500000, s) for k, i, s in w if k == 1])
    step("md", "optimize table md final")
    step("md", "optimize table md zorder by (id, k)")
    step("md", "alter table md delete where id % 3 = 0",
         lambda w: [r for r in w if r[1] % 3 != 0])
    step("md", "alter table md update s = 'u' where k = 2",
         lambda w: [(k, i, "u" if k == 2 else s) for k, i, s in w])
    step("md", "alter table md modify column id Int64")
    step("md", "alter table md drop partition 1", lambda w: [r for r in w if r[0] != 1])
    merge("md")  # partition 1 again, from its canonical directory
    check("md")
    merge("md")
    parked = [r for r in want["md"] if r[0] == 2]
    engine.sql("alter table md detach partition 2")
    want["md"] = [r for r in want["md"] if r[0] != 2]
    check("md")
    engine.sql("alter table md attach partition 2")
    want["md"] = sorted(want["md"] + parked)
    check("md")
    merge("md2")
    merge("md")
    engine.sql("alter table md move partition 1 to table md2")
    want["md2"] += [r for r in want["md"] if r[0] == 1]
    want["md"] = [r for r in want["md"] if r[0] != 1]
    check("md")
    check("md2")
    step("md", "truncate table md", lambda w: [])
    merge("md")
    engine.sql("rename table md to md_r")
    want["md_r"] = want.pop("md")
    check("md_r")
    merge("md_r")
    merge("md2")
    engine.sql("exchange tables md2 and md_r")
    want["md2"], want["md_r"] = want["md_r"], want["md2"]
    check("md2")
    check("md_r")
    merge("md_r")
    engine.sql("detach table md_r")
    engine.sql("attach table md_r")
    check("md_r")
    merge("md_r")
    path = str(tmp_path / "bk")
    assert engine.sql(f"backup table md_r to '{path}'").collect()[0].files == len(
        engine.storage.files(engine._qualify("md_r")))
    assert not any(".tb-" in f or ".g-" in f
                   for _d, dirs, files in os.walk(path) for f in dirs + files)
    engine.sql(f"restore table md_b from '{path}'")
    want["md_b"] = list(want["md_r"])
    check("md_b")
    merge("md_b")
    check("md_b")


def test_materialized_view_chain_merges(engine, merges, monkeypatch):
    """An insert whose materialized view writes a second table merges both
    tables without waiting on its own query: with the reclaim wait raised
    to a minute, ten inserts take far less."""
    from tensorbase_spark import storage

    monkeypatch.setattr(storage, "RECLAIM_WAIT_S", 60.0)
    engine.sql("create table mv_src (k Int64, v Int64) partition by k")
    engine.sql("create table mv_tgt (k Int64, w Int64) partition by k")
    engine.sql("create materialized view mv_v to mv_tgt as "
               "select k, v * 2 as w from mv_src")
    t0 = time.monotonic()
    for i in range(10):
        engine.sql(f"insert into mv_src values (1, {i}), (2, {i})")
    assert time.monotonic() - t0 < 50
    assert "mv_src" in merges and "mv_tgt" in merges, merges
    assert engine.sql("select count(*) as n, sum(w) as s from mv_tgt").collect()[0] == (20, 180)
    assert _stray_files(engine, "mv_src") == [] and _stray_files(engine, "mv_tgt") == []


def test_merge_does_not_wait_on_a_query_blocked_on_a_lock(engine, merges, monkeypatch):
    """A tracked query blocked on the engine's catalog lock, which a
    door's insert can hold through its merge (the HTTP door runs
    ``INSERT … VALUES`` under it), has listed no files: the merge does not
    wait on it, with the reclaim wait raised to a minute."""
    from tensorbase_spark import storage

    monkeypatch.setattr(storage, "RECLAIM_WAIT_S", 60.0)
    engine.sql("create table bl (k Int64, v Int64) partition by k")
    for i in range(MERGE_MIN_FILES - 1):
        engine.sql(f"insert into bl values (1, {i})")
    tracked = threading.Event()

    def blocked():
        with engine.track_query("select 1"):
            tracked.set()
            with engine.catalog_lock:
                pass

    with engine.catalog_lock:
        other = threading.Thread(target=blocked)
        other.start()
        assert tracked.wait(60)
        time.sleep(0.2)  # the other thread is now waiting for the lock
        t0 = time.monotonic()
        engine.sql(f"insert into bl values (1, {MERGE_MIN_FILES - 1})")
        elapsed = time.monotonic() - t0
    other.join(timeout=60)
    assert merges == ["bl"] and elapsed < 50, (merges, elapsed)
    assert engine.sql("select count(*) as n from bl").collect()[0].n == MERGE_MIN_FILES
    assert _stray_files(engine, "bl") == []


def test_query_built_before_a_merge_lists_when_run(engine, merges):
    """A query's scan lists its files when it runs, inside the Spark SQL
    execution a merge's reclaim waits for, not when it is built: a
    DataFrame built before a merge and first run after the superseded
    files are gone reads the merged ones."""
    engine.sql("create table ml (k Int64, v Int64) partition by k")
    engine.sql("insert into ml values (1, 0)")
    df = engine.spark.sql(f"select count(*) as n, sum(v) as s from {engine._qualify('ml')} "
                          "where k = 1")
    for i in range(1, MERGE_MIN_FILES):
        engine.sql(f"insert into ml values (1, {i})")
    assert merges == ["ml"] and _stray_files(engine, "ml") == []
    assert tuple(df.collect()[0]) == (MERGE_MIN_FILES, sum(range(MERGE_MIN_FILES)))
