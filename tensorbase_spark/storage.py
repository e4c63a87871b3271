"""Table storage: the parquet files under each engine table's location.

The reference keeps this layer apart from its query engine: parts and their
sizes live in crates/meta/src/store/parts.rs:17-36 and the block write split
in crates/runtime/src/write.rs:69-136 (SURVEY.md §0).  Here engine.py keeps
the ClickHouse dialect and hands every file-level decision to this module:

- ``TableStore.append`` lands a block as new files in its partitions;
- ``TableStore.rewrite`` replaces a table's files (or some partitions'
  files) with a DataFrame's rows;
- ``live_files`` lists the parquet files a scan of a table reads, with
  their footer row counts and sizes;
- ``TableStore.lock`` is the lock every writer of a table holds.

A partitioned table keeps its key in a generated ``__ptk`` column, written
as Hive-style ``__ptk=<value>`` directories (see engine.py's docstring).
"""

from __future__ import annotations

import contextlib
import functools
import os
import re
import threading
import uuid
from dataclasses import dataclass
from urllib.parse import unquote

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


def live_files(root: str) -> list[DataFile]:
    """The parquet files under ``root`` that a scan of it reads, in path
    order: names Spark's listing skips are skipped, and so is everything
    under them.  Row counts come from the footers (metadata only, never a
    data scan); a missing ``root`` has none."""
    import pyarrow.parquet as pq

    out = []
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = sorted(d for d in dirs if not _hidden(d))
        rel = os.path.relpath(dirpath, root)
        # the key value, not Spark's %XX-escaped directory name
        partition = unquote(rel.split("=", 1)[1]) if "=" in rel else None
        for f in sorted(files):
            if f.endswith(".parquet") and not _hidden(f):
                p = os.path.join(dirpath, f)
                out.append(DataFile(
                    p, partition, pq.read_metadata(p).num_rows, os.path.getsize(p)))
    return out


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
        self._write_lock = threading.RLock()

    def lock(self, name: str) -> threading.RLock:
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

    def files(self, name: str) -> list[DataFile]:
        """``live_files`` of table ``name``; none for a view, a temp view, a
        missing name or a location off the local file system."""
        meta = self.catalog_table(name)
        if meta is None or meta.tableType().name() not in ("MANAGED", "EXTERNAL"):
            return []
        loc = meta.location()
        return live_files(loc.getPath()) if loc.getScheme() == "file" else []

    # -- append -------------------------------------------------------------

    def append(
        self, name: str, meta, props: dict, out: DataFrame,
        spec: PartitionSpec | None,
    ) -> None:
        """Append the cast block ``out`` to table ``name`` (catalog entry
        ``meta``, properties ``props``): the partition key, the >=1000-parts
        guard and the write.

        The cast block and its key are one projection.  When Catalyst folds
        it into driver-local rows (a door's Arrow block, ``INSERT ...
        VALUES``), the driver writes the files with no Spark job
        (``_write_local``); any other source, and a table whose write needs
        Spark's writer, takes ``_write_spark``."""
        with self.lock(name):
            if spec is not None:
                out = out.withColumn(PTK_COL, spec.ptk_column())
            bloom = [
                c.strip()
                for c in props.get("tb.bloom_cols", "").split(",")
                if c.strip()
            ]
            # pyarrow writes no bloom filters
            if bloom or not self._write_local(name, meta, out, spec is not None):
                self._write_spark(name, out, spec, bloom)

    def _write_local(self, name: str, meta, out: DataFrame, keyed: bool) -> bool:
        """Append a driver-local block from the driver, with no Spark job,
        as the reference appends a block on its server (write.rs:69-136).

        The rows Catalyst folded the cast and the key into are read out as
        Arrow in the JVM; the guard counts their keys; one parquet file per
        partition is written under a hidden temp name, which Spark's listing
        skips; new partitions are registered in one catalog call; and only
        then are the files renamed into place.  A reader so sees none of the
        block, or its files appearing whole, never a row twice.  A failure
        before the renames removes the temp files and the directories it
        made.  There is no ``_temporary`` committer directory.

        Returns False, having written nothing, when the block does not fold
        to a LocalRelation or the table needs Spark's writer: buckets, a
        float key (Spark's key equality is not Arrow's), storage options or
        a codec pyarrow does not write, or a non-local location."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from tensorbase_spark.sources import batches

        if meta is None or meta.bucketSpec().isDefined():
            return False
        opts = jprops(meta.storage().properties())
        codec = _LOCAL_CODECS.get(
            (
                opts.pop("compression", None)
                or opts.pop("parquet.compression", None)
                or self.spark.conf.get("spark.sql.parquet.compression.codec")
            ).lower()
        )
        loc = meta.location()
        if opts or codec is None or loc.getScheme() != "file":
            return False
        if keyed:
            out = out.withColumn(_PTK_PATH, _ptk_path_column())
        plan = out._jdf.queryExecution().optimizedPlan()
        if plan.getClass().getSimpleName() != "LocalRelation":
            return False
        block = batches.local_rows(plan, self.spark)
        if block is None:
            return True  # no rows: nothing to write
        if keyed and pa.types.is_floating(block.schema.field(PTK_COL).type):
            return False
        data = block.drop_columns([PTK_COL, _PTK_PATH] if keyed else [])
        parts = [("", data)]
        if keyed:
            _check_parts(pc.count_distinct(block[PTK_COL], mode="all").as_py())
            enc = block[_PTK_PATH].combine_chunks().dictionary_encode("encode")
            idx = enc.indices.to_numpy(zero_copy_only=False)
            counts = np.bincount(idx, minlength=len(enc.dictionary))
            data = data.take(np.argsort(idx, kind="stable"))
            path = self.jclass(
                "org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils"
            ).getPartitionPathString
            starts = np.cumsum(counts) - counts
            parts = [
                (path(PTK_COL, key), data.slice(st, n))
                for key, st, n in zip(enc.dictionary.to_pylist(), starts, counts)
            ]
        comp, level, ext = codec
        # dictionary pages on strings only: parquet-mr writes integers
        # PLAIN, and a dictionary per small block only grows them
        strings = [
            f.name for f in data.schema
            if pa.types.is_string(f.type) or pa.types.is_large_string(f.type)
        ]
        root, stamp = loc.getPath(), uuid.uuid4()
        staged: list[tuple[str, str]] = []  # (temp, final) file paths
        made: list[str] = []  # partition directories this write created
        try:
            for i, (frag, part) in enumerate(parts):
                d = os.path.join(root, frag)
                if not os.path.isdir(d):
                    os.makedirs(d)
                    made.append(d)
                tmp = os.path.join(d, f".tb-{stamp}-{i:05d}.tmp")
                staged.append(
                    (tmp, os.path.join(d, f"part-{i:05d}-{stamp}-c000{ext}.parquet"))
                )
                pq.write_table(
                    part, tmp, compression=comp, compression_level=level,
                    use_dictionary=strings, store_schema=False,
                )
            if keyed and meta.tracksPartitionsInCatalog():
                self._add_partitions(name, [frag for frag, _ in parts])
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
        return True

    def _add_partitions(self, name: str, frags: list[str]) -> None:
        """Register the partition directories ``frags`` (``__ptk=v``) with
        one ``ALTER TABLE ADD IF NOT EXISTS PARTITION`` command, their specs
        parsed as Spark's writer parses the directories it wrote."""
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
            self.spark.sql(
                f"ALTER TABLE {name} DROP IF EXISTS PARTITION ({PTK_COL} = '{v}')"
            )
