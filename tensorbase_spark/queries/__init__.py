"""Operator-coverage query registry.

Every implemented operator from SURVEY.md §2 (and the pipeline extensions)
is represented by a named Query: a Spark callable ``(spark, sf_dir) -> DataFrame``
plus the equivalent ANSI SQL that DuckDB runs on the same parquet files as the
correctness oracle.  ``__spark_entry__.py`` exposes this registry to the driver.

Parity rules (driver hash-compares order-insensitively, columns sorted by name):
- alias every computed column identically in both forms;
- round double aggregates to a fixed scale in BOTH forms (double summation
  order differs between engines; rounding makes the hash stable);
- cast DuckDB's HUGEINT sums back to BIGINT to match Spark's long;
- cast ns-precision timestamps to µs in the oracle (Spark reads parquet ns
  as µs) — ``CAST(ts AS TIMESTAMP)``;
- LIMIT/top-k queries must use a total (tie-free) ordering.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Query:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None -> driver does rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    bench: bool = False  # include in bench.py headline set


# Every rows-only approximate (oracle=None) and the hash-verified oracle
# companion that backs it (COVERAGE.md's mapping table): an approximate's
# rows-only evidence is only as good as the exact check standing behind it.
APPROX_COMPANION = {
    "agg_approx_distinct": "agg_approx_distinct_check",
    "dedup_minhash_lsh": "dedup_minhash_bands_sql",
    "dedup_simhash": "dedup_simhash_fp_sql",
    "sim_ivf_topk": "sim_ivf_full_probe",
    "sim_ivf_indexed": "sim_ivf_full_probe",
    "sim_lsh_topk": "sim_lsh_full_cover",
    "sim_pq_topk": "sim_pq_rerank_full",
    "sim_ivfpq_topk": "sim_ivfpq_full_cover",
    "sim_ivfpq_indexed": "sim_ivfpq_full_cover",
    "text_bpe_tokenize": "text_bpe_merges_check",
}


def registry() -> dict[str, Query]:
    """Every query by name, in registration order (module by module)."""
    from tensorbase_spark.queries import (
        chdialect,
        chfuncs,
        curation_q,
        engine_queries,
        funnelq,
        pipeline,
        relational,
        scalars,
        sources_q,
        streamingq,
        tpch_extra,
        windows,
    )

    out: dict[str, Query] = {}
    for mod in (
        relational,
        tpch_extra,
        windows,
        chfuncs,
        chdialect,
        scalars,
        pipeline,
        curation_q,
        engine_queries,
        funnelq,
        streamingq,
        sources_q,
    ):
        for name, q in mod.QUERIES.items():
            if name in out:
                raise ValueError(f"duplicate query name: {name}")
            out[name] = q
    return out
