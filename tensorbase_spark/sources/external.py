"""Table functions and external sources (SURVEY §2.2).

- numbers(N): the reference parses a numbers() table function but never wires
  it, creating a real system.numbers table instead (crates/lang/src/bql.pest:349-353,
  crates/runtime/src/mgmt.rs:237-242).  Spark's native equivalent is range().
- remote('addr', db.table, 'user', 'pass'): federated read over ClickHouse or
  MySQL (grammar bql.pest:133-139; exec crates/runtime/src/read.rs:151-228,
  crates/engine/src/remote.rs:8,49).  Spark-native: the JDBC datasource, which
  also pushes filters/projections down to the remote — more than the
  reference's full-scatter-then-concat.  Exercised genuinely against embedded
  Derby (`jdbc:derby:` — a real JDBC database that ships inside Spark's own
  classpath); ClickHouse/MySQL URLs work the same way once their driver jar
  is on spark.jars.  `local:` is a loopback scheme that serves the same call
  path from the session catalog for tests.
- read_csv / read_ndjson: explicit-BQL-schema file ingestion — the Spark
  counterpart of the fork's CsvExec/NdJsonExec file sources the reference
  never routes to (physical_plan/file_format/{csv,json}.rs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tensorbase_spark.types import parse_bql_type


def numbers(spark: SparkSession, n: int) -> DataFrame:
    """numbers(N): one column `number`, 0..N-1.  spark.range is a parallel
    synthetic scan (splittable by range), matching system.numbers semantics."""
    return spark.range(n).select(F.col("id").alias("number"))


def bql_schema(cols: list[tuple[str, str]]) -> T.StructType:
    """[(name, BqlType)] -> StructType via the §1.2 type mapping."""
    fields = []
    for name, bt in cols:
        p = parse_bql_type(bt)
        fields.append(T.StructField(name, p.spark_type, p.nullable))
    return T.StructType(fields)


def fetch_url_to_temp(url: str, timeout: int = 60) -> str:
    """Fetch ``url`` (http/https) to a local temp file and return the
    path — the read half of the upstream-CH ``url()`` table function.
    The download lands on the driver ONCE; Spark then reads/splits the
    local file normally.  For 100 TB-scale inputs the answer is a real
    distributed source (parquet/object store), not url(); this mirrors
    CH's own single-stream url() semantics.  Loopback endpoints (the
    engine's own HTTP front door) work in this container; external hosts
    fail loudly with the urllib error."""
    import tempfile
    import urllib.request

    with urllib.request.urlopen(url, timeout=timeout) as resp:
        if getattr(resp, "status", 200) != 200:
            raise RuntimeError(f"url({url!r}): HTTP {resp.status}")
        data = resp.read()
    fd = tempfile.NamedTemporaryFile(
        prefix="tb_url_", suffix=".data", delete=False
    )
    with fd:
        fd.write(data)
    return fd.name


def post_url(url: str, body: bytes, timeout: int = 60) -> None:
    """POST ``body`` to ``url`` — the write half of ``INSERT INTO
    FUNCTION url(...)``.  Raises on any non-200 answer, with the server's
    exception text."""
    import urllib.error
    import urllib.request

    req = urllib.request.Request(url, data=body, method="POST")
    try:
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            if getattr(resp, "status", 200) != 200:
                raise RuntimeError(
                    f"insert into function url({url!r}): HTTP {resp.status}"
                )
    except urllib.error.HTTPError as e:
        detail = e.read().decode(errors="replace").strip()
        raise RuntimeError(
            f"insert into function url({url!r}): HTTP {e.code}: {detail}"
        ) from None


def read_csv(
    spark: SparkSession, path: str, cols: list[tuple[str, str]], **options
) -> DataFrame:
    """CSV ingestion with an explicit declared schema — never inferred,
    mirroring the reference's fixed-schema model (SURVEY §1.1)."""
    return spark.read.options(**options).csv(path, schema=bql_schema(cols))


def read_ndjson(
    spark: SparkSession, path: str, cols: list[tuple[str, str]], **options
) -> DataFrame:
    return spark.read.options(**options).json(path, schema=bql_schema(cols))


def _remote_mysql(spark: SparkSession, addr: str, table: str) -> DataFrame:
    """mysql://host:port[/db] federation over the in-repo MySQL-protocol
    client (sources/mysqlwire.py) — no JDBC jar, no pushdown: a full
    SELECT * materializes at the driver and becomes a local DataFrame,
    the reference remote()'s block-concat shape (read.rs:151-228)."""
    from decimal import Decimal

    from pyspark.sql import types as T

    from tensorbase_spark.sources.mysqlwire import (
        MYSQL_TYPE_DATE,
        MYSQL_TYPE_DATETIME,
        MYSQL_TYPE_DECIMAL,
        MYSQL_TYPE_DOUBLE,
        MYSQL_TYPE_FLOAT,
        MYSQL_TYPE_LONG,
        MYSQL_TYPE_LONGLONG,
        MYSQL_TYPE_SHORT,
        MYSQL_TYPE_TIMESTAMP,
        MYSQL_TYPE_TINY,
        MySQLClient,
    )

    hostport, _, db = addr[len("mysql://"):].partition("/")
    host, _, port = hostport.partition(":")
    with MySQLClient(host=host or "127.0.0.1", port=int(port or 3306)) as c:
        if db:
            c.use(db)
        cols, rows = c.query(f"select * from {table}")

    def spark_type(coltype: int, idx: int):
        if coltype in (MYSQL_TYPE_TINY, MYSQL_TYPE_SHORT, MYSQL_TYPE_LONG):
            return T.IntegerType(), None
        if coltype == MYSQL_TYPE_LONGLONG:
            # unsigned values above i64 arrive as plain ints; promote the
            # column to Decimal(20,0) (the engine's UInt64 carrier)
            if any(r[idx] is not None and r[idx] > 2**63 - 1 for r in rows):
                return T.DecimalType(20, 0), lambda v: Decimal(v)
            return T.LongType(), None
        if coltype == MYSQL_TYPE_FLOAT:
            return T.FloatType(), None
        if coltype == MYSQL_TYPE_DOUBLE:
            return T.DoubleType(), None
        if coltype == MYSQL_TYPE_DECIMAL:
            sample = next((r[idx] for r in rows if r[idx] is not None), None)
            scale = -sample.as_tuple().exponent if sample is not None else 0
            return T.DecimalType(38, max(0, scale)), None
        if coltype == MYSQL_TYPE_DATE:
            return T.DateType(), None
        if coltype in (MYSQL_TYPE_DATETIME, MYSQL_TYPE_TIMESTAMP):
            return T.TimestampType(), None
        return T.StringType(), None

    fields, convs = [], []
    for i, (name, coltype) in enumerate(cols):
        st, conv = spark_type(coltype, i)
        fields.append(T.StructField(name, st, True))
        convs.append(conv)
    data = [
        tuple(
            (convs[i](v) if convs[i] and v is not None else v)
            for i, v in enumerate(r)
        )
        for r in rows
    ]
    return spark.createDataFrame(data, T.StructType(fields))


def _ch_to_spark_type(ch: str):
    """CH wire type name -> (SparkType, converter) for remote() results."""
    from decimal import Decimal as _D

    from pyspark.sql import types as T

    if ch.startswith("Nullable(") and ch.endswith(")"):
        ch = ch[9:-1]
    if ch.startswith("Array(") and ch.endswith(")"):
        inner, conv = _ch_to_spark_type(ch[6:-1])
        return (
            T.ArrayType(inner),
            (lambda v: [conv(x) for x in v]) if conv else None,
        )
    if ch in ("Int8", "Int16", "Int32"):
        return T.IntegerType(), None
    if ch in ("UInt8", "UInt16", "UInt32"):
        return T.IntegerType(), None
    if ch == "Int64":
        return T.LongType(), None
    if ch == "UInt64":
        return T.DecimalType(20, 0), lambda v: _D(v)
    if ch == "Float32":
        return T.FloatType(), None
    if ch == "Float64":
        return T.DoubleType(), None
    if ch == "Date":
        return T.DateType(), None
    if ch.startswith("DateTime"):
        return T.TimestampType(), None
    if ch.startswith("Decimal("):
        p, s = ch[8:-1].split(",")
        return T.DecimalType(int(p), int(s)), None
    return T.StringType(), None


def expand_shard_addresses(addr: str) -> list[str]:
    """Upstream-CH remote() address patterns -> concrete shard list:
    comma-separated addresses, ``{1..3}`` numeric ranges and ``{a,b}``
    alternation (one brace group per piece, like CH's shard patterns).
    ``remote('ch://h:9000/db1,ch://h:9001/db2', t)`` scatters to both."""
    out: list[str] = []
    depth, piece, pieces = 0, [], []
    for ch in addr:
        if ch == "{":
            depth += 1
        elif ch == "}":
            depth -= 1
        if ch == "," and depth == 0:
            pieces.append("".join(piece))
            piece = []
        else:
            piece.append(ch)
    pieces.append("".join(piece))
    import re as _re

    for p in pieces:
        p = p.strip()
        m = _re.search(r"\{(\d+)\.\.(\d+)\}", p)
        if m:
            lo, hi = int(m.group(1)), int(m.group(2))
            width = len(m.group(1)) if m.group(1).startswith("0") else 0
            for i in range(lo, hi + 1):
                out.append(
                    p[: m.start()] + str(i).zfill(width) + p[m.end():])
            continue
        m = _re.search(r"\{([^{}]*,[^{}]*)\}", p)
        if m:
            for alt in m.group(1).split(","):
                out.append(p[: m.start()] + alt.strip() + p[m.end():])
            continue
        out.append(p)
    return [p for p in out if p]


def _remote_native(spark: SparkSession, addr: str, table: str) -> DataFrame:
    """ch://host:port[/db] federation over the in-repo ClickHouse NATIVE
    protocol client (sources/chnative.py) — the reference remote()'s
    PRIMARY transport (crates/engine/src/remote.rs:8 speaks the CH native
    protocol; block concat read.rs:151-228).  A full SELECT * streams
    back as LZ4-framed native blocks and materializes at the driver —
    dimension-table scale by contract, like the reference."""
    from pyspark.sql import types as T

    from tensorbase_spark.sources.chnative import NativeClient

    hostport, _, db = addr.split("://", 1)[1].partition("/")
    host, _, port = hostport.partition(":")
    qualified = f"{db}.{table}" if db else table
    with NativeClient(
        host=host or "127.0.0.1", port=int(port or 9000), compression=True
    ) as c:
        cols, rows = c.execute(f"select * from {qualified}")
    fields, convs = [], []
    for name, ch_type in cols:
        st, conv = _ch_to_spark_type(ch_type)
        fields.append(T.StructField(name, st, True))
        convs.append(conv)
    data = [
        tuple(
            (convs[i](v) if convs[i] and v is not None else v)
            for i, v in enumerate(r)
        )
        for r in rows
    ]
    return spark.createDataFrame(data, T.StructType(fields))


def remote_insert_native(addr: str, table: str, df: DataFrame) -> int:
    """INSERT INTO FUNCTION remote('ch://...', t) — push a DataFrame over
    the CH NATIVE wire as typed columnar blocks (the reference's
    remote-insert block path, mgmt.rs:744-770).  Rows materialize at the
    driver (the reference ships whole blocks the same way)."""
    import pyarrow as pa

    from tensorbase_spark.sources.batches import arrow_schema, result_batches
    from tensorbase_spark.sources.chnative import NativeClient, spark_field_to_ch

    hostport, _, db = addr.split("://", 1)[1].partition("/")
    host, _, port = hostport.partition(":")
    qualified = f"{db}.{table}" if db else table
    fields = df.schema.fields
    ch_types = [spark_field_to_ch(f) for f in fields]
    # one block of Arrow columns: the codec encodes timestamps from their
    # instants, so no zone handling is needed here
    result = pa.Table.from_batches(
        list(result_batches(df)), arrow_schema(df.schema, df.sparkSession)
    ).combine_chunks()
    cols = [
        (f.name, t, result.column(i).combine_chunks())
        for i, (f, t) in enumerate(zip(fields, ch_types))
    ]
    with NativeClient(
        host=host or "127.0.0.1", port=int(port or 9000), compression=True
    ) as c:
        c.insert(qualified, cols)
    return result.num_rows


def remote_insert_mysql(addr: str, table: str, df: DataFrame) -> int:
    """INSERT INTO FUNCTION remote('mysql://...', t) — push a DataFrame's
    rows to a MySQL-protocol endpoint as batched text INSERT VALUES (the
    reference's remote-insert over its native MySQL connection,
    mgmt.rs:744-770).  Rows materialize at the driver (the reference
    ships whole blocks the same way); returns the row count."""
    import datetime as _dt

    from tensorbase_spark.sources.mysqlwire import MySQLClient

    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "1" if v else "0"
        if isinstance(v, (int, float)):
            return repr(v)
        if isinstance(v, _dt.datetime):
            return "'" + v.strftime("%Y-%m-%d %H:%M:%S") + "'"
        if isinstance(v, (_dt.date,)):
            return f"'{v}'"
        return "'" + str(v).replace("'", "''") + "'"

    hostport, _, db = addr[len("mysql://"):].partition("/")
    host, _, port = hostport.partition(":")
    rows = df.collect()
    with MySQLClient(host=host or "127.0.0.1", port=int(port or 3306)) as c:
        if db:
            c.use(db)
        for i in range(0, len(rows), 500):
            chunk = rows[i : i + 500]
            values = ",".join(
                "(" + ",".join(lit(v) for v in r) + ")" for r in chunk
            )
            c.query_drop(f"insert into {table} values {values}")
    return len(rows)


def remote(
    spark: SparkSession,
    addr: str,
    table: str,
    user: str = "",
    password: str = "",
    driver: str | None = None,
) -> DataFrame:
    """remote('addr', db.table, 'user', 'pass') — federated table read.

    addr forms:
      'jdbc:mysql://host:3306/db'        -> JDBC (needs a driver jar on the
                                            classpath; raises a clear error
                                            otherwise)
      'jdbc:clickhouse://host:8123/db'   -> JDBC via the ClickHouse driver
      'jdbc:hive2://host:port/db'        -> HiveServer2/Spark-Thrift (the
                                            hive-jdbc driver ships in
                                            Spark's own classpath, so this
                                            one federates TWO engine
                                            processes with zero extra jars)
      'mysql://host:port[/db]'           -> MySQL wire protocol via the
                                            in-repo pure-Python client
                                            (the reference's native MySQL
                                            remote, remote.rs:49)
      'local:'                           -> loopback: serves spark.table(table),
                                            exercising the same call path
                                            without a network (test mode)

    hive2 quirk, handled here: Spark's JDBC source quotes pushed-down
    column lists with double quotes, which Spark SQL (the dialect the
    thrift server executes) parses as STRING LITERALS unless ANSI
    double-quoted identifiers are on — silently returning column NAMES as
    row values.  The hive2 URL therefore gets the two session confs
    appended (HiveDriver passes `?k=v;k=v` to the server per session), so
    the generated `SELECT "col" FROM t` resolves as identifiers.

    SEMANTIC SCOPE of that fix (ADVICE r8 #4): doubleQuotedIdentifiers
    requires ansi.enabled, and ANSI mode also switches every expression
    the JDBC source pushes down to the REMOTE session — filters, casts —
    to strict ANSI semantics: an overflowing cast or bad parse RAISES
    there instead of returning NULL, diverging from this engine's
    non-ANSI sessions.  Plain column projections and equality/range
    filters (everything remote() is used for in-repo) behave identically
    under both modes; push down a lossy cast and the error surface
    differs.  Callers needing non-ANSI remote evaluation should read
    unfiltered and apply the expression locally, or pre-set
    doubleQuotedIdentifiers in their URL (which this function then leaves
    alone).
    """
    # jdbc: URLs may embed commas themselves (failover host lists) — CH
    # shard patterns apply to the native/mysql/local address forms only
    shards = [addr] if addr.startswith("jdbc:") else expand_shard_addresses(addr)
    if not shards:
        raise ValueError(f"remote({addr!r}): shard pattern expands to nothing")
    addr = shards[0]  # a single-shard pattern still needed its expansion
    if len(shards) > 1:
        # CH scatter-gather: query EVERY shard and concat the blocks
        # (read.rs:151-228 scatters the same way); each shard read is
        # independent and the union is Spark-lazy, so downstream
        # aggregation pushes partials per shard like any unionByName
        from functools import reduce

        parts = [
            remote(spark, s, table, user, password, driver) for s in shards
        ]
        return reduce(lambda a, b: a.unionByName(b), parts)
    if addr.startswith("local:"):
        return spark.table(table)
    if addr.startswith("mysql://"):
        # driver-less MySQL-protocol federation via the in-repo client —
        # the reference's remote() speaks MySQL natively
        # (crates/engine/src/remote.rs:49, mysql crate) rather than
        # through JDBC; this is the same stance in pure Python.  Rows
        # materialize at the driver like the reference's block concat
        # (read.rs:151-228) — dimension-table scale by contract.
        return _remote_mysql(spark, addr, table)
    if addr.startswith(("ch://", "clickhouse://", "tb://")):
        # the reference remote()'s PRIMARY transport: the CH native
        # protocol (engine/src/remote.rs:8) — typed LZ4-framed blocks
        return _remote_native(spark, addr, table)
    if not addr.startswith("jdbc:"):
        raise ValueError(f"unsupported remote address: {addr!r}")
    if addr.startswith("jdbc:hive2:"):
        # append to an existing ?conf list rather than skipping (a caller
        # URL carrying its own confs still needs the identifier fix); only
        # an explicit doubleQuotedIdentifiers setting is left alone
        if "spark.sql.ansi.doubleQuotedIdentifiers" not in addr:
            base_url, hash_sep, frag = addr.partition("#")
            sep = ";" if "?" in base_url else "?"
            base_url += (
                sep + "spark.sql.ansi.enabled=true"
                ";spark.sql.ansi.doubleQuotedIdentifiers=true"
            )
            addr = base_url + hash_sep + frag
        driver = driver or "org.apache.hive.jdbc.HiveDriver"
    reader = (
        spark.read.format("jdbc")
        .option("url", addr)
        .option("dbtable", table)
        .option("user", user)
        .option("password", password)
    )
    if driver:
        reader = reader.option("driver", driver)
    try:
        return reader.load()
    except Exception as e:  # driver jar missing in this container
        raise RuntimeError(
            f"remote({addr!r}) needs the JDBC driver jar on spark.jars: {e}"
        ) from e


def read_avro(
    spark: SparkSession, path: str, cols: list[tuple[str, str]] | None = None
) -> DataFrame:
    """Avro ingestion (the fork's AvroExec, physical_plan/file_format/avro.rs:39
    — which the reference never routes to either; its reader is
    crates/datafusion/src/avro_to_arrow/).

    No spark-avro jar ships in this container, so the decode is the
    spec-level pure-Python codec in sources/avro_py.py, distributed the
    Spark-native way: ``binaryFile`` ships whole files to executors and
    ``mapInPandas`` decodes them there — files are the parallel grain
    (a 100 TB ingest is many files; spark-avro's intra-file split needs
    Hadoop sync scanning that buys nothing once file count >> executors).
    If the spark-avro datasource IS on the classpath, it is preferred.

    Caveats of the fallback path: per-file 2 GB binaryFile cap; the Avro
    schema is read from the FIRST file driver-side (all files must share
    one writer schema — same contract as the fork's AvroExec, which takes
    one schema for the whole scan).  An explicit BQL schema in ``cols``
    overrides column types (names must match the writer schema).
    """
    try:
        reader = spark.read
        if cols is not None:
            reader = reader.schema(bql_schema(cols))
        return reader.format("avro").load(path)
    except Exception:
        pass  # no spark-avro module -> pure-Python distributed decode

    import glob
    import os

    from tensorbase_spark.sources import avro_py

    probe = sorted(glob.glob(os.path.join(path, "*.avro"))) if os.path.isdir(path) else [path]
    if not probe:
        raise FileNotFoundError(f"no avro files under {path!r}")
    # header-only parse of the first file: the metadata map sits before any
    # data block, so 1 MiB is ample and no block decode happens driver-side
    with open(probe[0], "rb") as fh:
        header = fh.read(1 << 20)
    r = avro_py._Reader(header)
    if r.read(4) != avro_py.MAGIC:
        raise ValueError(f"{probe[0]!r} is not an avro object container")
    import json as _json

    writer_schema = _json.loads(r.map_bytes()["avro.schema"])
    out_schema = (
        bql_schema(cols) if cols is not None else avro_py.avro_record_to_struct(writer_schema)
    )
    field_specs = [(f["name"], f["type"]) for f in writer_schema["fields"]]
    names = [f.name for f in out_schema.fields]

    def _logical(t):
        if isinstance(t, list):
            nn = [s for s in t if s != "null"]
            return _logical(nn[0]) if len(nn) == 1 else None
        if isinstance(t, dict):
            return t.get("logicalType")
        return None

    def decode(batches):
        import datetime as dt

        import pandas as pd

        for pdf in batches:
            for _, row in pdf.iterrows():
                _, rows = avro_py.parse_container(bytes(row["content"]))
                cols_out = {}
                for name, ftype in field_specs:
                    if name not in names:
                        continue
                    vals = [rr.get(name) for rr in rows]
                    lt = _logical(ftype)
                    if lt == "date":
                        vals = [
                            None if v is None else dt.date(1970, 1, 1) + dt.timedelta(days=v)
                            for v in vals
                        ]
                    elif lt == "timestamp-millis":
                        vals = [None if v is None else pd.Timestamp(v * 1_000_000) for v in vals]
                    elif lt == "timestamp-micros":
                        vals = [None if v is None else pd.Timestamp(v * 1_000) for v in vals]
                    cols_out[name] = vals
                yield pd.DataFrame(cols_out, columns=names)

    files = (
        spark.read.format("binaryFile")
        .load(path if os.path.isdir(path) else probe)
        .select("path", "content")
    )
    return files.mapInPandas(decode, schema=out_schema)
