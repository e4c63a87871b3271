"""SparkSession bootstrap tuned for OLAP workloads.

The reference engine creates a fresh DataFusion ExecutionContext per query with
``batch_size=8192`` and ``target_partitions=num_cpus`` (reference:
crates/datafusion/src/execution/context.rs:894-895).  In Spark, the session is
long-lived and Catalyst/AQE replace DataFusion; this module centralizes the
scale-oriented configs so that tests, bench.py and the driver all run the same
way.

Design notes for 100 TB scale (tested on local[32]):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  dynamic join-strategy demotion replace hand-tuning at the 1000-executor
  scale.
- ``spark.sql.shuffle.partitions`` is a *starting* value; AQE coalesces it.
  On a real cluster this would be ~2-3x total cores.
- Session timezone pinned to UTC: the reference stores DateTime as naive
  unix seconds with a server-level TZ (crates/runtime/src/mgmt.rs:224-230);
  pinning UTC makes Spark timestamps behave identically.
- Arrow enabled for any toPandas()/pandas_udf boundary.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Configs that are safe (and desirable) to set on an externally-provided
# session at runtime.  Anything requiring JVM restart goes in get_spark only.
_RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ~10k-row Arrow batches keep pandas-UDF memory bounded at wide rows.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # ANSI off: the reference's DataFusion 6 semantics are non-ANSI
    # (overflow wraps, bad casts -> NULL), matching Spark's legacy mode.
    "spark.sql.ansi.enabled": "false",
    # Parquet pushdown is the moral equivalent of the reference's
    # partition-prune + mmap-only-referenced-columns scan path
    # (crates/engine/src/datafusions.rs:75-158).
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # The driver's events table stores TIMESTAMP(NANOS) which Spark 4 rejects
    # by default; read as long and convert in the loader (sources/tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # NOTE (r14, measured): fileoutputcommitter.algorithm.version=2 was
    # tried for the partitioned INSERT paths and REVERTED — an interleaved
    # v1/v2 A/B on engine_ingest_partitioned read v1 best 2.20/2.23/2.41 s
    # vs v2 2.61/2.76/2.90 s (~18% slower): on a local filesystem the v1
    # job-commit renames are directory moves, while v2 pays per-task
    # per-file moves inside the commit path.  Keep the v1 default.
    # InferFiltersFromGenerate duplicates the generator input expression into
    # a Filter, where higher-order functions (transform/aggregate lambdas)
    # run INTERPRETED per row — measured 17x slower than the codegen Project
    # for the shingling in pipeline/dedup.py.  explode() drops empty arrays
    # anyway, so the inferred filter only costs.
    "spark.sql.optimizer.excludedRules": "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable OLAP configs to an existing session.

    Used by ``__spark_entry__`` because the driver owns the session there.
    """
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this build -> keep the session's value
    try:
        n = default_parallelism()
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
    except Exception:
        pass
    return spark


def get_spark(app_name: str = "tensorbase_spark", cpus: int | None = None) -> SparkSession:
    """Create (or get) the tuned local session used by tests and bench."""
    n = cpus or default_parallelism()
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # static: PySpark's call-site capture costs ~5 py4j round trips per
        # Column call (186 against 66 for one ingest block's cast)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/tbs_warehouse"))
    )
    for k, v in _RUNTIME_CONFS.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune_session(spark)
