"""Table storage: the parquet files under each engine table's location.

The reference keeps this layer apart from its query engine: parts and their
sizes live in crates/meta/src/store/parts.rs:17-36 and the block write split
in crates/runtime/src/write.rs:69-136 (SURVEY.md §0).  Here engine.py keeps
the ClickHouse dialect and hands every file-level decision to this module:

- ``TableStore.append`` lands a block as new files in its partitions, then
  merges the small files of the partitions it touched (``merge``);
- ``TableStore.rewrite`` replaces a table's files (or some partitions'
  files) with a DataFrame's rows;
- ``TableStore.files`` lists the parquet files a scan of a table reads,
  with their footer row counts and sizes;
- ``TableStore.lock`` is the lock every writer of a table holds.

A partitioned table keeps its key in a generated ``__ptk`` column (see
engine.py's docstring).  Each partition has a canonical directory,
``<root>/__ptk=<value>/``, and the session catalog records the directory a
scan of the partition lists: the canonical one, or, once the partition has
been merged, a generation directory inside it, ``<root>/__ptk=<value>/.g-<uuid>/``.
The leading dot hides a generation from a listing of its canonical
directory, so only the catalog's location is ever read.  Writers put new
files into the catalog's location.

A merge writes the merged file (and hard links to the files it leaves as
they are) into a fresh generation, then moves every merged partition's
catalog location to its generation in one ``alterPartitions`` call: a fresh
listing sees the inputs or the merged file, never both and never neither.
The superseded files are deleted once every query that began before the
swap has ended: the engine's tracked queries (``TableStore.queries``) and
every running Spark SQL execution, which a ``collect()`` registers before
its scan lists files.  The appending thread waits for them, up to
``RECLAIM_WAIT_S``; past that the deletion is left to ``reclaim``, which
the engine runs as each tracked query ends.
"""

from __future__ import annotations

import contextlib
import functools
import logging
import os
import re
import shutil
import threading
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field
from urllib.parse import unquote, urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tensorbase_spark.functions.clickhouse import CH_FUNCTIONS

PTK_COL = "__ptk"

# serializes bloom-writing inserts: the per-column parquet bloom keys are
# set/unset on the process-global Hadoop configuration around insertInto
_BLOOM_WRITE_LOCK = threading.Lock()

# Reference rejects blocks that split into >=1000 partitions
# (crates/runtime/src/write.rs:52-56).
MAX_PARTS_PER_INSERT = 1000

# A partition an append touched is merged once it holds this many live
# files smaller than ``TableStore.target_file_bytes``: ClickHouse merges
# parts in the background because a scan pays per file, and TensorBase
# appends into one file per (column, partition) (parts.rs:17-36).
MERGE_MIN_FILES = 8
# The driver reads a merge's inputs into memory: the smallest files are
# merged, up to this many bytes; larger partitions are left to OPTIMIZE.
MERGE_MAX_BYTES = 64 << 20
# How long an append waits for the queries begun before its merge's swap
# to end before it leaves their deletion to ``TableStore.reclaim``.
RECLAIM_WAIT_S = 10.0
_GENERATION = ".g-"

log = logging.getLogger(__name__)

_MONOTONIC_PTK_FNS = {
    # fn name -> python evaluator over a date/datetime/int literal.
    # Monotonic in the source column, so range predicates map through.
    "toYYYYMMDD": lambda d: d.year * 10000 + d.month * 100 + d.day,
    "toYYYYMM": lambda d: d.year * 100 + d.month,
    "toYear": lambda d: d.year,
    "toYYYY": lambda d: d.year,
}


def _check_parts(nparts: int) -> None:
    if nparts >= MAX_PARTS_PER_INSERT:
        raise ValueError(
            f"insert spans {nparts} partitions >= {MAX_PARTS_PER_INSERT} "
            "(reference guard, crates/runtime/src/write.rs:52-56)"
        )


# The partition directory of a driver-side write is named by this column:
# the key cast to a string in the session time zone, as Spark's writer
# names it, with '' read as NULL (Spark's Empty2Null), the default partition.
_PTK_PATH = "__ptk_path"


@functools.cache
def _ptk_path_column() -> F.Column:
    return F.nullif(F.col(PTK_COL).cast("string"), F.lit(""))

# Parquet codecs the driver-side write produces as Spark's writer does:
# pyarrow's name, parquet-mr's default level and Spark's file extension.
_LOCAL_CODECS = {
    "snappy": ("snappy", None, ".snappy"),
    "zstd": ("zstd", 3, ".zstd"),
    "gzip": ("gzip", 6, ".gz"),
    "uncompressed": ("none", None, ""),
    "none": ("none", None, ""),
}


@dataclass(frozen=True)
class PartitionSpec:
    """Parsed PARTITION BY clause: identity column, CH fn over a column, or
    rem(col, n)."""

    source_col: str
    fn: str | None = None  # None = identity
    rem_n: int | None = None

    @functools.cache
    def ptk_column(self) -> F.Column:
        """The key as a Column, built once per spec: each step of building
        it is a py4j round trip, ~120 of them for a ``toYYYYMM`` key."""
        if self.fn is None:
            return F.col(self.source_col)
        if self.fn == "rem":
            return CH_FUNCTIONS["rem"](self.source_col, self.rem_n).cast("long")
        return CH_FUNCTIONS[self.fn](F.col(self.source_col)).cast("long")


_PARTITION_RE = re.compile(
    r"^(?:(?P<fn>[A-Za-z_][A-Za-z0-9_]*)\s*\(\s*(?P<col>[A-Za-z_][A-Za-z0-9_]*)"
    r"\s*(?:,\s*(?P<n>\d+)\s*)?\)|(?P<bare>[A-Za-z_][A-Za-z0-9_]*))$"
)


def parse_partition_expr(expr: str) -> PartitionSpec:
    m = _PARTITION_RE.match(expr.strip())
    if not m:
        raise ValueError(f"unsupported partition expression: {expr!r}")
    if m.group("bare"):
        return PartitionSpec(m.group("bare"))
    fn, col, n = m.group("fn"), m.group("col"), m.group("n")
    if fn == "rem":
        if n is None:
            raise ValueError("rem(col, N) requires N")
        return PartitionSpec(col, "rem", int(n))
    if fn not in _MONOTONIC_PTK_FNS and fn not in CH_FUNCTIONS:
        raise ValueError(f"unsupported partition function: {fn}")
    if n is not None:
        raise ValueError(f"{fn} takes one argument")
    return PartitionSpec(col, fn)


def jprops(jmap) -> dict:
    """A Scala ``Map[String, String]`` (a table's properties or storage
    options) as a dict, in four py4j round trips rather than four per
    entry: keys and values each joined on a control character, or read
    entry by entry when a value holds it."""
    keys = jmap.keys().mkString("\x01")
    if not keys:
        return {}
    ks, vs = keys.split("\x01"), jmap.values().mkString("\x01").split("\x01")
    if len(ks) == len(vs):
        return dict(zip(ks, vs))
    it = jmap.iterator()
    out: dict = {}
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2()
    return out


@dataclass(frozen=True)
class DataFile:
    """One live parquet file of a table: its path, the key value of the
    partition directory it sits in (None when the table is unpartitioned),
    its footer row count and its bytes on disk."""

    path: str
    partition: str | None
    rows: int
    bytes: int


def _hidden(name: str) -> bool:
    """Names Spark's file listing skips (HadoopFSUtils.shouldFilterOutPathName):
    a writer's ``_temporary`` tree, ``_SUCCESS``, checksum and temp files."""
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _listed(root: str):
    """(path, key value of its ``__ptk=`` directory or None) of each parquet
    file under ``root`` that a scan of it reads, in path order: names
    Spark's listing skips are skipped, and so is everything under them."""
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = sorted(d for d in dirs if not _hidden(d))
        rel = os.path.relpath(dirpath, root)
        # the key value, not Spark's %XX-escaped directory name
        partition = unquote(rel.split("=", 1)[1]) if "=" in rel else None
        for f in sorted(files):
            if f.endswith(".parquet") and not _hidden(f):
                yield os.path.join(dirpath, f), partition


def live_files(root: str, partition: str | None = None) -> list[DataFile]:
    """The parquet files under ``root`` that a scan of it reads, in path
    order, each with the key value of its partition: ``partition`` when
    ``root`` is one partition's location, else read off its directory.
    Row counts come from the footers (metadata only, never a data scan); a
    missing ``root`` has none."""
    import pyarrow.parquet as pq

    return [
        DataFile(p, partition if partition is not None else part,
                 pq.read_metadata(p).num_rows, os.path.getsize(p))
        for p, part in _listed(root)
    ]


def _local_path(uri) -> str | None:
    """The file-system path of a JVM ``java.net.URI`` (one py4j round
    trip), or None when it is not on the local file system."""
    text = uri.toString()
    return unquote(urlsplit(text).path) if text.startswith("file:") else None


def _write_parquet(table, path: str, codec: tuple) -> None:
    """Write ``table`` as Spark's writer would read it back: ``codec`` is a
    ``_LOCAL_CODECS`` entry; dictionary pages on strings only, since
    parquet-mr writes integers PLAIN and a dictionary per small block only
    grows them; no stored Arrow schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    comp, level, _ext = codec
    strings = [
        f.name for f in table.schema
        if pa.types.is_string(f.type) or pa.types.is_large_string(f.type)
    ]
    pq.write_table(
        table, path, compression=comp, compression_level=level,
        use_dictionary=strings, store_schema=False,
    )


def _conform(path: str, schema):
    """The rows of parquet file ``path`` in Arrow ``schema``: its columns
    by name, cast (Spark's writer stores timestamps as INT96 and marks
    fewer columns required), and a null column for one it lacks (written
    before an ADD COLUMN).  A file whose datetimes Spark rebases on read
    (a legacy-calendar footer key) is refused: pyarrow would read other
    values than Spark does."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    if any(k.startswith(b"org.apache.spark.legacy")
           for k in pf.metadata.metadata or {}):
        raise ValueError(f"{path}: written in Spark's legacy calendar")
    t = pf.read()
    return pa.Table.from_arrays(
        [
            t.column(f.name).cast(f.type) if f.name in t.column_names
            else pa.nulls(t.num_rows, f.type)
            for f in schema
        ],
        schema=schema,
    )


@dataclass(frozen=True)
class _Landed:
    """Where a driver-side write put a block: the catalog partitions it
    appended to as (canonical directory, location, JVM partition), the
    Arrow schema of its files and their ``_LOCAL_CODECS`` codec."""

    parts: list
    schema: object
    codec: tuple


@dataclass(eq=False)
class _Superseded:
    """The files a merge replaced, with the queries running at its swap:
    the engine's tracked queries as (entry, thread ident) pairs and the
    ids of the Spark SQL executions."""

    files: list[str]
    dirs: list[str]  # emptied generation directories
    queries: list = field(default_factory=list)
    executions: frozenset = frozenset()

    def delete(self) -> None:
        for p in self.files:
            with contextlib.suppress(OSError):
                os.remove(p)
        for d in self.dirs:
            with contextlib.suppress(OSError):
                os.rmdir(d)


# Threads that read no table files right now: blocked acquiring a
# ``WaitLock``, or waiting in a merge's drain.  A drain does not wait for
# the query of such a thread (it would wait on a thread that waits on it).
_IDLE: set[int] = set()


class WaitLock:
    """A lock (re-entrant unless ``lock`` is given) that puts a thread in
    ``_IDLE`` while it is blocked acquiring it.  The write lock, the
    engine's catalog lock and the HTTP door's request lock are ones: a
    query blocked on them has not begun to plan, so has listed no files."""

    def __init__(self, lock=None):
        self._lock = threading.RLock() if lock is None else lock

    def __enter__(self):
        if not self._lock.acquire(blocking=False):
            me = threading.get_ident()
            _IDLE.add(me)
            try:
                self._lock.acquire()
            finally:
                _IDLE.discard(me)
        return self

    def __exit__(self, *exc) -> None:
        self._lock.release()


class TableStore:
    """The files of one session catalog's engine tables.  Every append and
    every rewrite of a table holds ``lock(name)``."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._jclasses: dict[str, object] = {}  # jclass lookups
        # serializes every append and rewrite, engine-wide: two concurrent
        # Spark appends to one table race on the committer's _temporary
        # dir, and a rewrite deletes the files an append would add.  The
        # driver-side write of a driver-local block uses no _temporary dir
        # but takes it too.  REENTRANT: an append fires materialized-view
        # propagation, which re-enters insert_df (and thus this lock) on
        # the same thread — a plain Lock self-deadlocks on any MV-equipped
        # table
        self._write_lock = WaitLock()
        # a file smaller than this counts toward a merge (SET
        # optimize_target_file_bytes, which also sizes OPTIMIZE's files)
        self.target_file_bytes = 128 << 20
        # the engine's tracked queries other than the calling thread's
        # own, as (entry, thread ident) pairs; entries compare by identity
        self.queries: Callable[[], list] = list
        self._superseded: list[_Superseded] = []  # left to reclaim()
        self._reclaim_lock = threading.Lock()

    def lock(self, name: str) -> WaitLock:
        """The lock the writers of table ``name`` hold: one lock for every
        table."""
        return self._write_lock

    # -- catalog access -----------------------------------------------------

    def catalog_table(self, qualified: str):
        """The session catalog's JVM ``CatalogTable`` for ``qualified``, or
        None for temp views and missing tables.  One ``getTableMetadata``
        call (~0.5 ms); ``spark.catalog.getTable`` costs ~10 ms more."""
        db, _, tbl = qualified.rpartition(".")
        if not db:
            db = self.spark.catalog.currentDatabase()
        try:
            return self._jcatalog.getTableMetadata(self.jident(tbl, db))
        except Exception:
            return None

    @functools.cached_property
    def _jcatalog(self):
        return self.spark._jsparkSession.sessionState().catalog()

    def jident(self, tbl: str, db: str):
        return self.jclass("org.apache.spark.sql.catalyst.TableIdentifier")(
            tbl, self.jclass("scala.Some")(db)
        )

    def jclass(self, dotted: str):
        """A JVM class, or the Scala object of a name ending in ``$``, looked
        up once per store: each step of a py4j package path is a round
        trip."""
        hit = self._jclasses.get(dotted)
        if hit is None:
            hit = self.spark.sparkContext._jvm
            for step in dotted.split("."):
                hit = getattr(hit, step)
            if dotted.endswith("$"):
                hit = getattr(hit, "MODULE$")
            self._jclasses[dotted] = hit
        return hit

    def partition_dir(self, value: str) -> str:
        """The canonical directory name of partition key ``value``, as
        Spark's writer names it (``__ptk=<escaped value>``)."""
        return self.jclass(
            "org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils"
        ).getPartitionPathString(PTK_COL, value)

    def _partitions(self, meta) -> list[tuple[str, str | None]]:
        """(key value, local location or None) of each partition of table
        ``meta`` in the catalog."""
        jparts = self._jcatalog.listPartitions(
            meta.identifier(), self.jclass("scala.Option").empty()
        )
        out = []
        for i in range(jparts.size()):
            p = jparts.apply(i)
            value = p.spec().apply(PTK_COL)
            if value is None:
                value = self.jclass(
                    "org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils"
                ).DEFAULT_PARTITION_NAME()
            out.append((value, _local_path(p.location())))
        return out

    def files(self, name: str) -> list[DataFile]:
        """The live files of table ``name`` in path order: those under each
        catalog partition's location, or under the table's location when
        the catalog tracks no partitions of it.  None for a view, a temp
        view, a missing name or a location off the local file system."""
        meta = self.catalog_table(name)
        if meta is None or meta.tableType().name() not in ("MANAGED", "EXTERNAL"):
            return []
        root = _local_path(meta.location())
        if root is None:
            return []
        if meta.partitionColumnNames().isEmpty() or not meta.tracksPartitionsInCatalog():
            return live_files(root)
        out = []
        for value, path in self._partitions(meta):
            if path is not None:
                out += live_files(path, value)
        return sorted(out, key=lambda f: f.path)

    # -- append -------------------------------------------------------------

    def append(
        self, name: str, meta, props: dict, out: DataFrame,
        spec: PartitionSpec | None, merge: bool = True,
    ) -> None:
        """Append the cast block ``out`` to table ``name`` (catalog entry
        ``meta``, properties ``props``): the partition key, the >=1000-parts
        guard, the write and, unless ``merge`` is false (SYSTEM STOP
        MERGES), the merge of the partitions it touched.

        The cast block and its key are one projection.  When Catalyst folds
        it into driver-local rows (a door's Arrow block, ``INSERT ...
        VALUES``), the driver writes the files with no Spark job
        (``_write_local``) into each partition's catalog location; any other
        source, and a table whose write needs Spark's writer, takes
        ``_write_spark``.

        Once a driver-side write's files are in place, ``merge`` merges the
        partitions it appended to that hold ``MERGE_MIN_FILES`` small files,
        and moves them to new generation directories.  The lock is then
        released, and the superseded files are deleted once every query
        that began before the move has ended (``_drain``).  A failed merge
        is logged and leaves the files as they were; the insert stands."""
        superseded = None
        with self.lock(name):
            if spec is not None:
                out = out.withColumn(PTK_COL, spec.ptk_column())
            bloom = [
                c.strip()
                for c in props.get("tb.bloom_cols", "").split(",")
                if c.strip()
            ]
            # pyarrow writes no bloom filters
            landed = None if bloom else self._write_local(
                name, meta, out, spec is not None)
            if landed is None:
                self._write_spark(name, out, spec, bloom)
            elif landed.parts and merge:
                try:
                    superseded = self.merge(name, props, landed)
                except Exception:
                    log.warning("merge of %s failed; its files are left as "
                                "they were", name, exc_info=True)
        if superseded is not None:
            self._drain(superseded)

    def _write_local(
        self, name: str, meta, out: DataFrame, keyed: bool
    ) -> _Landed | None:
        """Append a driver-local block from the driver, with no Spark job,
        as the reference appends a block on its server (write.rs:69-136).

        The rows Catalyst folded the cast and the key into are read out as
        Arrow in the JVM; the guard counts their keys; one parquet file per
        partition is written under a hidden temp name, which Spark's listing
        skips, in the partition's catalog location (its canonical directory
        for a new one); new partitions are registered in one catalog call;
        and only then are the files renamed into place.  A reader so sees
        none of the block, or its files appearing whole, never a row twice.
        A failure before the renames removes the temp files and the
        directories it made.  There is no ``_temporary`` committer
        directory.

        Returns where the block landed, or None, having written nothing,
        when the block does not fold to a LocalRelation or the table needs
        Spark's writer: buckets, a float key (Spark's key equality is not
        Arrow's), storage options or a codec pyarrow does not write, or a
        location off the local file system."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        from tensorbase_spark.sources import batches

        if meta is None or meta.bucketSpec().isDefined():
            return None
        opts = jprops(meta.storage().properties())
        codec = _LOCAL_CODECS.get(
            (
                opts.pop("compression", None)
                or opts.pop("parquet.compression", None)
                or self.spark.conf.get("spark.sql.parquet.compression.codec")
            ).lower()
        )
        root = _local_path(meta.location())
        if opts or codec is None or root is None:
            return None
        if keyed:
            out = out.withColumn(_PTK_PATH, _ptk_path_column())
        plan = out._jdf.queryExecution().optimizedPlan()
        if plan.getClass().getSimpleName() != "LocalRelation":
            return None
        block = batches.local_rows(plan, self.spark)
        if block is None:
            return _Landed([], None, codec)  # no rows: nothing to write
        if keyed and pa.types.is_floating(block.schema.field(PTK_COL).type):
            return None
        data = block.drop_columns([PTK_COL, _PTK_PATH] if keyed else [])
        parts = [("", data)]
        if keyed:
            _check_parts(pc.count_distinct(block[PTK_COL], mode="all").as_py())
            enc = block[_PTK_PATH].combine_chunks().dictionary_encode("encode")
            idx = enc.indices.to_numpy(zero_copy_only=False)
            counts = np.bincount(idx, minlength=len(enc.dictionary))
            data = data.take(np.argsort(idx, kind="stable"))
            starts = np.cumsum(counts) - counts
            parts = [
                (self.partition_dir(key), data.slice(st, n))
                for key, st, n in zip(enc.dictionary.to_pylist(), starts, counts)
            ]
        dirs = [os.path.join(root, frag) for frag, _ in parts]
        tracked = keyed and meta.tracksPartitionsInCatalog()
        found = self._catalog_partitions(name, [f for f, _ in parts]) if tracked else []
        for i, jpart in enumerate(found):
            if jpart is not None:
                dirs[i] = _local_path(jpart.location())
                if dirs[i] is None:
                    return None
        ext = codec[2]
        stamp = uuid.uuid4()
        staged: list[tuple[str, str]] = []  # (temp, final) file paths
        made: list[str] = []  # partition directories this write created
        try:
            for i, ((_frag, part), d) in enumerate(zip(parts, dirs)):
                if not os.path.isdir(d):
                    os.makedirs(d)
                    made.append(d)
                tmp = os.path.join(d, f".tb-{stamp}-{i:05d}.tmp")
                staged.append(
                    (tmp, os.path.join(d, f"part-{i:05d}-{stamp}-c000{ext}.parquet"))
                )
                _write_parquet(part, tmp, codec)
            new = [frag for (frag, _), jpart in zip(parts, found) if jpart is None]
            if new:
                self._add_partitions(name, new)
        except BaseException:
            for tmp, _ in staged:
                with contextlib.suppress(OSError):
                    os.remove(tmp)
            for d in reversed(made):
                with contextlib.suppress(OSError):
                    os.rmdir(d)
            raise
        for tmp, final in staged:
            os.rename(tmp, final)
        self.spark.catalog.refreshTable(name)
        return _Landed(
            [
                (os.path.join(root, frag), d, jpart)
                for (frag, _), d, jpart in zip(parts, dirs, found)
                if jpart is not None
            ],
            data.schema,
            codec,
        )

    def _catalog_partitions(self, name: str, frags: list[str]) -> list:
        """The catalog's JVM partition of each directory fragment
        (``__ptk=v``) of table ``name``, or None for one not registered;
        each spec is parsed as Spark's writer parses the directories it
        writes."""
        parse = self.jclass(
            "org.apache.spark.sql.execution.datasources.PartitioningUtils$"
        ).parsePathFragment
        ext = self._jcatalog.externalCatalog()
        db, _, tbl = name.rpartition(".")
        out = []
        for f in frags:
            opt = ext.getPartitionOption(db, tbl, parse(f))
            out.append(opt.get() if opt.isDefined() else None)
        return out

    def _add_partitions(self, name: str, frags: list[str]) -> None:
        """Register the partition directories ``frags`` (``__ptk=v``), none
        of them in the catalog yet, with one ``ALTER TABLE ADD PARTITION``
        command, their specs parsed as Spark's writer parses the
        directories it wrote.  (The in-memory catalog's ``IF NOT EXISTS``
        re-registers an existing partition at its canonical directory, so
        existing ones must not be passed.)"""
        parse = self.jclass(
            "org.apache.spark.sql.execution.datasources.PartitioningUtils$"
        ).parsePathFragment
        none = self.jclass("scala.Option").empty()
        tuple2 = self.jclass("scala.Tuple2")
        db, _, tbl = name.rpartition(".")
        self.jclass(
            "org.apache.spark.sql.execution.command.AlterTableAddPartitionCommand"
        )(
            self.jident(tbl, db),
            self.jclass("org.apache.spark.api.python.PythonUtils").toSeq(
                [tuple2(parse(f), none) for f in frags]
            ),
            True,
        ).run(self.spark._jsparkSession)

    # -- merge --------------------------------------------------------------

    def merge(self, name: str, props: dict, landed: _Landed) -> _Superseded | None:
        """Merge the small files of the partitions a driver-side write
        appended to (``landed``), holding ``lock(name)``.

        A partition is merged when its location — its canonical directory
        or one of its generations; a location set elsewhere is left alone
        — holds ``MERGE_MIN_FILES`` live files smaller than
        ``target_file_bytes``.  The smallest of them, up to
        ``MERGE_MAX_BYTES``, are read with pyarrow and written as one file
        (sorted by the table's ORDER BY when it names plain columns) into
        a new generation directory, beside hard links to the location's
        other files.  Every merged partition then moves to its generation
        in one ``alterPartitions`` call.  A failure before that removes the
        new generations and leaves the catalog as it was.

        Returns the superseded files (each merged partition's former
        location), which no scan listing the catalog from now on reads, or
        None when nothing was merged."""
        import pyarrow as pa

        plans = []
        for canon, loc, jpart in landed.parts:
            canon, loc = os.path.normpath(canon), os.path.normpath(loc)
            in_gen = os.path.dirname(loc) == canon and os.path.basename(
                loc).startswith(_GENERATION)
            if loc != canon and not in_gen:
                continue
            files = [(p, os.path.getsize(p)) for p, _ in _listed(loc)]
            small = sorted(
                (f for f in files if f[1] < self.target_file_bytes),
                key=lambda f: f[1],
            )
            if len(small) < MERGE_MIN_FILES:
                continue
            chosen, total = [], 0
            for p, n in small:
                if total + n > MERGE_MAX_BYTES:
                    break
                chosen.append(p)
                total += n
            if len(chosen) > 1:
                plans.append((canon, loc, in_gen, jpart, [p for p, _ in files], chosen))
        if not plans:
            return None
        keys = [k.strip() for k in (props.get("tb.order_by") or "").split(",")]
        if not all(re.fullmatch(r"\w+", k) and k in landed.schema.names for k in keys):
            keys = []
        schema = pa.schema([f.with_nullable(True) for f in landed.schema])
        uri = self.jclass("java.net.URI")
        made, moved = [], []
        try:
            for canon, _loc, _in_gen, jpart, files, chosen in plans:
                gen = os.path.join(canon, f"{_GENERATION}{uuid.uuid4()}")
                os.mkdir(gen)
                made.append(gen)
                rows = pa.concat_tables([_conform(p, schema) for p in chosen])
                if keys:
                    rows = rows.sort_by([(k, "ascending") for k in keys],
                                        null_placement="at_start")
                _write_parquet(rows, os.path.join(
                    gen, f"part-00000-{uuid.uuid4()}-c000{landed.codec[2]}.parquet"
                ), landed.codec)
                for p in set(files) - set(chosen):
                    os.link(p, os.path.join(gen, os.path.basename(p)))
                # a file: URI, as Spark writes locations, so a table
                # rename's prefix rewrite of partition locations matches
                st = jpart.storage()
                moved.append(jpart.copy(
                    jpart.spec(),
                    st.copy(self.jclass("scala.Some")(uri("file", None, gen, None)),
                            st.inputFormat(), st.outputFormat(), st.serde(),
                            st.compressed(), st.properties()),
                    jpart.parameters(), jpart.createTime(),
                    jpart.lastAccessTime(), jpart.stats(),
                ))
            db, _, tbl = name.rpartition(".")
            self._jcatalog.alterPartitions(
                self.jident(tbl, db),
                self.jclass("org.apache.spark.api.python.PythonUtils").toSeq(moved),
            )
        except BaseException:
            for gen in made:
                shutil.rmtree(gen, ignore_errors=True)
            raise
        self.spark.catalog.refreshTable(name)
        log.info("merged %s: %s", name, ", ".join(
            f"{os.path.basename(canon)} {len(chosen)} files"
            for canon, *_rest, chosen in plans))
        return _Superseded(
            [p for *_head, files, _chosen in plans for p in files],
            [loc for _canon, loc, in_gen, *_rest in plans if in_gen],
        )

    # -- reclaim ------------------------------------------------------------

    @functools.cached_property
    def _executions(self):
        """Spark's map of running SQL executions, which a ``collect()``
        enters before its scan lists files and leaves when it ends."""
        return self.jclass(
            "org.apache.spark.sql.execution.SQLExecution$"
        ).executionIdToQueryExecution()

    def _running_executions(self) -> frozenset:
        ids = self._executions.keySet().toString()[1:-1]
        return frozenset(i for i in ids.split(", ") if i)

    def _busy(self, s: _Superseded) -> bool:
        """Whether a query running at ``s``'s swap may still be reading its
        files: a Spark SQL execution still running, or a tracked query
        still running on a thread not in ``_IDLE``."""
        if s.executions & self._running_executions():
            return True
        if not s.queries:
            return False
        now = self.queries()
        return any(
            th not in _IDLE and any(e is n for n, _th in now)
            for e, th in s.queries
        )

    def _drain(self, s: _Superseded) -> None:
        """Delete ``s``'s files once every query running now — other than
        the caller's own tracked query and Spark SQL execution — has
        ended.  Waits up to ``RECLAIM_WAIT_S``, then leaves the deletion
        to ``reclaim``."""
        own = self.spark.sparkContext.getLocalProperty("spark.sql.execution.id")
        s.executions = self._running_executions() - {own}
        s.queries = self.queries()
        me = threading.get_ident()
        _IDLE.add(me)
        try:
            deadline = time.monotonic() + RECLAIM_WAIT_S
            while self._busy(s):
                if time.monotonic() >= deadline:
                    log.info("%d superseded files wait for queries still "
                             "running; left to reclaim()", len(s.files))
                    with self._reclaim_lock:
                        self._superseded.append(s)
                    return
                time.sleep(0.01)
        finally:
            _IDLE.discard(me)
        s.delete()

    def reclaim(self) -> None:
        """Delete the superseded files of earlier merges that no query can
        still be reading.  The engine calls this as each tracked query
        ends; it costs nothing while no deletion is pending."""
        if not self._superseded:
            return
        with self._reclaim_lock:
            ready = [s for s in self._superseded if not self._busy(s)]
            self._superseded = [s for s in self._superseded if s not in ready]
        for s in ready:
            s.delete()

    def _write_spark(
        self, name: str, out: DataFrame, spec: PartitionSpec | None, bloom: list
    ) -> None:
        """Spark's write of a keyed block: the guard (a job, unless the
        key's partition count is static), the partition-aligned shuffle,
        bloom writer options and ``insertInto``."""
        if spec is not None:
            if spec.fn == "rem" and spec.rem_n < MAX_PARTS_PER_INSERT:
                # rem(col, n) bounds the partition count STATICALLY at n —
                # the guard needs no job at all (measured: the distinct
                # count was 19 s of a 90 s bulk ingest on the reference's
                # own bench_ingestion.rs shape, rem(a,100) at 134M rows)
                nparts = spec.rem_n
            else:
                nparts = (
                    out.select(PTK_COL)
                    .distinct()
                    .limit(MAX_PARTS_PER_INSERT + 1)
                    .count()
                )
                _check_parts(nparts)
            # partition-aligned write: without this every task writes one
            # file per ptk value it happens to see (tasks x partitions small
            # files — the classic Hive-partitioned-append failure at scale);
            # hash-clustering on __ptk bounds it at ~one file per partition
            # at ANY shuffle width (each ptk hashes to exactly one task), so
            # width is sized to the cluster (defaultParallelism), not to
            # nparts — 100 writer tasks for a 256Ki-row block is pure task
            # overhead (measured: width=100 cost ~1.17 s/block on the
            # reference's bench_ingestion.rs shape vs ~0.9 s at core count).
            # The reference gets the file bound for free from its per-(part,
            # column) append files (write.rs:69-136).
            if nparts > 1:
                width = min(nparts, max(self.spark.sparkContext.defaultParallelism, 8))
                out = out.repartition(width, F.col(PTK_COL))
        if bloom:
            # The per-column bloom keys live on the process-global Hadoop
            # configuration (insertInto carries no writer options), so
            # concurrent bloom-writing inserts — e.g. a streaming
            # foreachBatch block landing while a batch insert runs — would
            # race on set/unset; serialize them behind a process lock.
            # Inserts without bloom columns skip the lock (no shared state).
            hc = self.spark.sparkContext._jsc.hadoopConfiguration()
            with _BLOOM_WRITE_LOCK:
                try:
                    for bc in bloom:
                        # parquet-mr writer honors these per-column hadoop
                        # keys
                        hc.set(f"parquet.bloom.filter.enabled#{bc}", "true")
                        hc.set(f"parquet.bloom.filter.expected.ndv#{bc}", "100000")
                    out.write.mode("append").insertInto(name)
                finally:
                    for bc in bloom:
                        hc.unset(f"parquet.bloom.filter.enabled#{bc}")
                        hc.unset(f"parquet.bloom.filter.expected.ndv#{bc}")
        else:
            out.write.mode("append").insertInto(name)
        if out.sparkSession is not self.spark:
            # a foreachBatch micro-batch session clone wrote the files; the
            # engine session's cached file listing for the table is stale
            # until refreshed (same-session writes invalidate automatically)
            self.spark.catalog.refreshTable(name)

    # -- rewrite ------------------------------------------------------------

    def rewrite(
        self, name: str, df: DataFrame, where: str | None = None,
        recreate=None,
    ) -> None:
        """Replace the rows of table ``name`` with ``df``'s rows, holding
        ``lock(name)`` from the read of ``df`` to the last file written, so
        no append lands in between and is lost.

        ``df`` may read ``name`` itself: its rows are staged first, as a
        local checkpoint that belongs to this call and is released on the
        way out, written or not.  A ``df`` built before the lock was taken
        lists its files again under it (an unpartitioned table's plan keeps
        the file list of the moment it was read), so it holds every append
        made so far.  The write keeps ``df``'s partitioning, so a caller
        sizes the output files by partitioning ``df``.

        - ``where``, a predicate on the partition key, limits the rewrite to
          the partitions it selects: each gets ``df``'s rows of it (``df``
          holds no others), one left with none is dropped, and every other
          partition is left as it is.
        - ``recreate``, called once the rows are staged, drops and
          re-creates the table (a schema change); the staged rows are then
          written into the new table by column name."""
        with self.lock(name):
            df._jdf.queryExecution().analyzed().refresh()
            staged = df.localCheckpoint(eager=True)
            try:
                if recreate is not None:
                    recreate()
                out = staged.select(*self.spark.table(name).columns)
                if where is None:
                    out.write.insertInto(name, overwrite=True)
                else:
                    self._overwrite_partitions(name, out, where)
                self.spark.catalog.refreshTable(name)
            finally:
                staged._jdf.logicalPlan().rdd().unpersist(True)

    def _overwrite_partitions(self, name: str, out: DataFrame, where: str) -> None:
        # bounded collects: partition-value lists, not data
        before = {
            r[0]
            for r in self.spark.table(name).filter(where)
            .select(PTK_COL).distinct().collect()
        }
        after = {r[0] for r in out.select(PTK_COL).distinct().collect()}
        # Spark 4.1's insertInto ignores a partitionOverwriteMode writer
        # option (tried: the static mode still deleted every partition), so
        # the session conf is switched — here only, under the write lock
        # every overwrite takes
        conf, key = self.spark.conf, "spark.sql.sources.partitionOverwriteMode"
        prev = conf.get(key)
        conf.set(key, "dynamic")
        try:
            out.write.insertInto(name, overwrite=True)
        finally:
            conf.set(key, prev)
        for v in sorted(before - after):  # fully-emptied partitions
            self.drop_partition(name, str(v))

    def drop_partition(self, name: str, value: str) -> None:
        """Drop partition ``value`` of table ``name``, then its canonical
        directory: the catalog deletes the partition's location only, which
        after a merge is a generation inside that directory, and a
        partition added again starts out in it."""
        self.spark.sql(
            f"ALTER TABLE {name} DROP IF EXISTS PARTITION ({PTK_COL} = '{value}')"
        )
        meta = self.catalog_table(name)
        root = None if meta is None else _local_path(meta.location())
        frag = self.partition_dir(value)
        if (root is not None and meta.tableType().name() == "MANAGED"
                and self._catalog_partitions(name, [frag]) == [None]):
            shutil.rmtree(os.path.join(root, frag), ignore_errors=True)
