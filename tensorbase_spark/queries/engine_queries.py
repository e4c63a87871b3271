"""Driver-facing queries exercising the §2.1 command engine end-to-end:
CREATE DATABASE/TABLE (ClickHouse types + PARTITION BY expression), INSERT
SELECT, dialect-translated SELECT with partition-prune rewrite — the full
lifecycle the reference drives over its wire servers
(crates/tests_integ/tests/sanity_checks.rs:64-113,1294).

The oracle never sees the engine: it recomputes the same answer straight from
the fixture parquet, so a hash match proves the DDL + partitioned write +
pruned read pipeline preserves the data bit-for-bit.
"""

from __future__ import annotations

import os

from tensorbase_spark.engine import TensorBaseEngine
from tensorbase_spark.queries import Query

_WH = "/tmp/tbs_engine_wh"


def _fresh_engine(spark, sf_dir: str, db_hint: str) -> TensorBaseEngine:
    """Engine over an sf-scoped scratch database (idempotent per call)."""
    import shutil

    sf_tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    db = f"tb_eng_{db_hint}_{sf_tag}"
    eng = TensorBaseEngine(spark)
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    # a previous session's catalog may be gone while its managed-table dirs
    # remain — Spark refuses to reuse the location, so clear it physically
    shutil.rmtree(f"{_WH}/{db}", ignore_errors=True)
    spark.sql(f"CREATE DATABASE {db} LOCATION '{_WH}/{db}'")
    eng.sql(f"use {db}")
    return eng


def engine_ddl_insert_select(spark, sf_dir):
    """DDL -> INSERT SELECT (from the orders fixture) -> aggregate read-back
    through the dialect layer (toYear)."""
    from tensorbase_spark.sources.tables import load_table

    eng = _fresh_engine(spark, sf_dir, "dis")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_src")
    eng.sql(
        "create table ord_part(od Date, status String, total Float64) "
        "partition by toYYYYMM(od)"
    )
    eng.sql(
        "insert into ord_part select o_orderdate, o_orderstatus, o_totalprice "
        "from orders_src where o_orderdate < '1998-01-01'"
    )
    return eng.sql(
        "select toYear(od) as y, status, count(*) as n, "
        "round(sum(total), 2) as s from ord_part group by toYear(od), status"
    )


ENGINE_DIS_ORACLE = """
SELECT CAST(year(o_orderdate) AS INT) AS y, o_orderstatus AS status,
       count(*) AS n, round(sum(o_totalprice), 2) AS s
FROM orders WHERE o_orderdate < DATE '1998-01-01'
GROUP BY year(o_orderdate), o_orderstatus
"""


def engine_partition_prune(spark, sf_dir):
    """WHERE on the partition SOURCE column: the engine derives __ptk
    predicates (port of parse_where, crates/lang/src/parse.rs:539-862) so the
    scan prunes partition directories natively."""
    from tensorbase_spark.sources.tables import load_table

    eng = _fresh_engine(spark, sf_dir, "prune")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("li_src")
    eng.sql(
        "create table li_part(sd Date, qty Float64, price Float64) "
        "partition by toYYYYMM(sd)"
    )
    eng.sql(
        "insert into li_part select l_shipdate, l_quantity, l_extendedprice "
        "from li_src where l_shipdate < '1998-01-01'"
    )
    return eng.sql(
        "select toYYYYMM(sd) as ym, count(*) as n, round(sum(qty), 1) as sq, "
        "round(sum(price), 2) as sp from li_part "
        "where sd between '1996-03-01' and '1996-08-31' "
        "group by toYYYYMM(sd)"
    )


ENGINE_PRUNE_ORACLE = """
SELECT CAST(year(l_shipdate)*100 + month(l_shipdate) AS BIGINT) AS ym,
       count(*) AS n, round(sum(l_quantity), 1) AS sq,
       round(sum(l_extendedprice), 2) AS sp
FROM lineitem
WHERE l_shipdate BETWEEN DATE '1996-03-01' AND DATE '1996-08-31'
GROUP BY year(l_shipdate)*100 + month(l_shipdate)
"""


def engine_join_prune(spark, sf_dir):
    """Two PARTITIONED tables joined, WHERE carrying source-column ranges for
    BOTH: the engine derives alias-qualified __ptk predicates for every
    table referenced via FROM *or* JOIN, so both scans prune partition
    directories (asserted in tests/test_plans.py).  Reference only prunes
    the FROM table's ptk range (datafusions.rs:75-105); this closes the gap
    for the join case."""
    from tensorbase_spark.sources.tables import load_table

    eng = _fresh_engine(spark, sf_dir, "jprune")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("ord_src")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("li_src")
    eng.sql(
        "create table jp_ord(ok Int64, od Date, total Float64) "
        "partition by toYYYYMM(od)"
    )
    eng.sql(
        "create table jp_li(ok Int64, sd Date, qty Float64) "
        "partition by toYYYYMM(sd)"
    )
    eng.sql(
        "insert into jp_ord select o_orderkey, o_orderdate, o_totalprice "
        "from ord_src where o_orderdate < '1997-01-01'"
    )
    eng.sql(
        "insert into jp_li select l_orderkey, l_shipdate, l_quantity "
        "from li_src where l_shipdate < '1997-01-01'"
    )
    return eng.sql(
        "select toYYYYMM(o.od) as ym, count(*) as n, round(sum(l.qty), 1) as sq "
        "from jp_ord o join jp_li l on o.ok = l.ok "
        "where o.od between '1996-01-01' and '1996-06-30' "
        "and l.sd between '1996-01-01' and '1996-09-30' "
        "group by toYYYYMM(o.od)"
    )


ENGINE_JOIN_PRUNE_ORACLE = """
SELECT CAST(year(o.o_orderdate)*100 + month(o.o_orderdate) AS BIGINT) AS ym,
       count(*) AS n, round(sum(l.l_quantity), 1) AS sq
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1996-06-30'
  AND l.l_shipdate  BETWEEN DATE '1996-01-01' AND DATE '1996-09-30'
GROUP BY year(o.o_orderdate)*100 + month(o.o_orderdate)
"""


def engine_meta_lifecycle(spark, sf_dir):
    """The meta-DDL lifecycle the reference drives over its wire protocol
    (sanity_checks.rs): CREATE TABLE (partitioned) -> INSERT SELECT ->
    OPTIMIZE TABLE ... SORT BY (real compaction rewrite, engine.py
    _optimize) -> DESC TABLE -> aggregate read-back — one driver-hashable
    result proving DESC reports the declared BQL schema AND the compaction
    preserved every row.  Output is (item, value): one 'col:<name>:<type>'
    row per DESC entry (value NULL) plus numeric summary rows; numbers stay
    DOUBLE so no engine-specific float-to-string formatting enters the
    hash."""
    from tensorbase_spark.sources.tables import load_table

    eng = _fresh_engine(spark, sf_dir, "meta")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("meta_src")
    eng.sql(
        "create table ml_ord(ok Int64, od Date, status String, total Float64) "
        "partition by toYYYYMM(od)"
    )
    eng.sql(
        "insert into ml_ord select o_orderkey, o_orderdate, o_orderstatus, "
        "o_totalprice from meta_src where o_orderdate < '1996-01-01'"
    )
    eng.sql("optimize table ml_ord sort by ok")

    from pyspark.sql import functions as F

    desc = eng.sql("desc table ml_ord").select(
        F.concat_ws(":", F.lit("col"), F.col("col_name"), F.col("data_type")).alias("item"),
        F.lit(None).cast("double").alias("value"),
    )
    summary = eng.sql(
        "select count(*) as n, min(ok) as mn, max(ok) as mx, "
        "round(sum(total), 2) as s from ml_ord"
    )
    melted = summary.selectExpr(
        "stack(4, 'n', cast(n as double), 'min_ok', cast(mn as double), "
        "'max_ok', cast(mx as double), 'sum_total', s) as (item, value)"
    )
    return desc.unionAll(melted)


ENGINE_META_ORACLE = """
SELECT 'col:ok:bigint' AS item, CAST(NULL AS DOUBLE) AS value
UNION ALL SELECT 'col:od:date', NULL
UNION ALL SELECT 'col:status:string', NULL
UNION ALL SELECT 'col:total:double', NULL
UNION ALL
SELECT item, value FROM (
  SELECT unnest(['n', 'min_ok', 'max_ok', 'sum_total']) AS item,
         unnest([CAST(count(*) AS DOUBLE), CAST(min(o_orderkey) AS DOUBLE),
                 CAST(max(o_orderkey) AS DOUBLE),
                 round(sum(o_totalprice), 2)]) AS value
  FROM orders WHERE o_orderdate < DATE '1996-01-01'
)
"""


def engine_bucketed_join(spark, sf_dir):
    """SETTINGS bucket_by/buckets -> Spark bucketed tables: two tables
    bucketed on the join key with the same bucket count join with ZERO
    Exchange (asserted in tests/test_plans.py), and the downstream GROUP BY
    on the same key reuses the bucket distribution — no shuffle anywhere in
    the plan.  This is the co-located-join lever at 100 TB: the reference's
    storage has no analogue (its per-partition CoPa files co-locate only by
    partition key, parts.rs:101-121); Spark bucketing extends co-location to
    join keys.  The MERGE hint pins sort-merge so the demonstration doesn't
    degrade to a broadcast at small SF."""
    from tensorbase_spark.sources.tables import load_table

    eng = _fresh_engine(spark, sf_dir, "bkt")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("bk_ord_src")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("bk_li_src")
    eng.sql(
        "create table bk_ord(ok Int64, od Date, total Float64) "
        "settings bucket_by=ok, buckets=8"
    )
    eng.sql(
        "create table bk_li(ok Int64, qty Float64, price Float64) "
        "settings bucket_by=ok, buckets=8"
    )
    eng.sql(
        "insert into bk_ord select o_orderkey, o_orderdate, o_totalprice "
        "from bk_ord_src where o_orderdate < '1997-01-01'"
    )
    eng.sql(
        "insert into bk_li select l_orderkey, l_quantity, l_extendedprice "
        "from bk_li_src"
    )
    return eng.sql(
        "select /*+ MERGE(l) */ o.ok as ok, count(*) as n, "
        "round(sum(l.qty), 1) as sq, round(sum(l.price), 2) as sp "
        "from bk_ord o join bk_li l on o.ok = l.ok group by o.ok"
    )


ENGINE_BUCKETED_ORACLE = """
SELECT o_orderkey AS ok, count(*) AS n,
       round(sum(l_quantity), 1) AS sq,
       round(sum(l_extendedprice), 2) AS sp
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderdate < DATE '1997-01-01'
GROUP BY o_orderkey
"""


def ch_aggregate_combinators(spark, sf_dir):
    """ClickHouse -If combinators / uniqExact / notEmpty through the dialect
    layer — forms the reference's grammar rejects but every ClickHouse user
    writes; here they rewrite to codegen'd Spark aggregates (FILTER-style)."""
    from tensorbase_spark.sources.tables import load_table

    eng = TensorBaseEngine(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("ev_src")
    return eng.sql(
        "select event_type, countIf(value > 50) as n_hi, "
        "round(sumIf(value, value > 50), 4) as s_hi, "
        "round(avgIf(value, value <= 50), 4) as a_lo, "
        "uniqExact(user_id) as u, "
        "countIf(notEmpty(props)) as n_props "
        "from ev_src group by event_type"
    )


CH_COMBINATORS_ORACLE = """
SELECT event_type,
       count(*) FILTER (WHERE value > 50)                 AS n_hi,
       round(sum(value) FILTER (WHERE value > 50), 4)     AS s_hi,
       round(avg(value) FILTER (WHERE value <= 50), 4)    AS a_lo,
       count(DISTINCT user_id)                            AS u,
       count(*) FILTER (WHERE length(props) > 0)          AS n_props
FROM events GROUP BY event_type
"""


def ch_agg_extras(spark, sf_dir):
    """Everyday ClickHouse aggregates through the dialect: argMax/argMin
    (→ max_by/min_by, deterministic via the unique event_id ordering
    column), median (→ exact interpolated percentile), any over a
    group-dependent expression, groupUniqArray+arraySort+arrayStringConcat
    (set collected, sorted, then serialized to a CSV string — raw ARRAY
    cells are unhashable in the driver's pandas canonicalizer).  All absent
    from the fork's aggregate list (physical_plan/aggregates.rs:52-67) —
    dialect superset."""
    from tensorbase_spark.sources.tables import load_table

    eng = TensorBaseEngine(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("eva_src")
    return eng.sql(
        "select event_type, "
        "argMax(user_id, event_id) as last_user, "
        "argMin(user_id, event_id) as first_user, "
        "round(median(value), 4) as med_v, "
        "any(upper(event_type)) as typ, "
        "arrayStringConcat(arrayMap(x -> toString(x), "
        "arraySort(groupUniqArray(user_id % 100))), ',') as u_buckets "
        "from eva_src group by event_type"
    )


CH_AGG_EXTRAS_ORACLE = """
SELECT event_type,
       arg_max(user_id, event_id)             AS last_user,
       arg_min(user_id, event_id)             AS first_user,
       round(median(value), 4)                AS med_v,
       upper(event_type)                      AS typ,
       array_to_string(list_sort(list(DISTINCT user_id % 100)), ',') AS u_buckets
FROM events GROUP BY event_type
"""


def ch_quantile_family(spark, sf_dir):
    """ClickHouse parametric-aggregate call shape through the dialect:
    quantile(p)(x) / quantileExact(p)(x) / quantiles(p1,p2)(x) — the curried
    form every production CH query uses for latency percentiles.  Rewrites
    to Spark's exact interpolated percentile (deterministic; CH's own
    quantile is sampling-approximate, so this is a correctness superset).
    The quantiles() array is serialized to a CSV string of 1e4-scaled
    integers — integer rendering is engine-identical, and raw ARRAY cells
    are unhashable in the driver's pandas canonicalizer."""
    from tensorbase_spark.sources.tables import load_table

    eng = TensorBaseEngine(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("evq_src")
    return eng.sql(
        "select event_type, "
        "round(quantile(0.5)(value), 4) as med, "
        "round(quantileExact(0.95)(value), 4) as p95, "
        "arrayStringConcat(arrayMap(x -> toString(toInt64(round(x * 10000))), "
        "quantiles(0.25, 0.75)(value)), ',') as iqr "
        "from evq_src group by event_type"
    )


CH_QUANTILE_ORACLE = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 4)  AS med,
       round(quantile_cont(value, 0.95), 4) AS p95,
       array_to_string(list_transform(quantile_cont(value, [0.25, 0.75]),
                      x -> CAST(round(x * 10000) AS BIGINT)), ',') AS iqr
FROM events GROUP BY event_type
"""


def ch_json_extract(spark, sf_dir):
    """ClickHouse JSONExtract family through the dialect (-> get_json_object,
    JVM-side JSON path eval) over the events props column."""
    from tensorbase_spark.sources.tables import load_table

    eng = TensorBaseEngine(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("evj_src")
    return eng.sql(
        "select event_type, sum(JSONExtractInt(props, 'k')) as sum_k, "
        "countIf(JSONHas(props, 'k')) as n_with_k, "
        "max(JSONExtractString(props, 'k')) as max_k_str "
        "from evj_src group by event_type"
    )


CH_JSON_ORACLE = """
SELECT event_type,
       CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT)  AS sum_k,
       count(*) FILTER (WHERE props->>'$.k' IS NOT NULL)   AS n_with_k,
       max(props->>'$.k')                                  AS max_k_str
FROM events GROUP BY event_type
"""


def ch_with_totals(spark, sf_dir):
    """Upstream-CH ``GROUP BY ... WITH TOTALS`` through the clause layer:
    rewritten to GROUPING SETS ((keys), ()) so the totals row reuses the
    same partial aggregates (one scan, one shuffle).  NULL marks the totals
    row's key columns (standard grouping-sets semantics; CH renders type
    defaults — documented superset difference in engine.py)."""
    from tensorbase_spark.sources.tables import load_table

    eng = TensorBaseEngine(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("evt_src")
    return eng.sql(
        "select event_type, count(*) as n, round(sum(value), 4) as s, "
        "uniqExact(user_id) as u "
        "from evt_src where value > 25 "
        "group by event_type with totals"
    )


CH_WITH_TOTALS_ORACLE = """
SELECT event_type, count(*) AS n, round(sum(value), 4) AS s,
       count(DISTINCT user_id) AS u
FROM events WHERE value > 25
GROUP BY GROUPING SETS ((event_type), ())
"""


def ch_with_fill(spark, sf_dir):
    """Upstream-CH ``ORDER BY col WITH FILL FROM a TO b STEP s`` (gap-filled
    time axis): the engine densifies the day-of-month axis with generated
    rows carrying type defaults (0) for the non-fill columns.  The sequence
    side is literal-generated and the observed-value side of the anti join
    broadcasts — no data-sized shuffle beyond the aggregate's own
    (engine.py _run_with_fill)."""
    from tensorbase_spark.sources.tables import load_table

    eng = TensorBaseEngine(spark)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("owf_src")
    return eng.sql(
        "select toDayOfMonth(od) as d, count(*) as n, round(sum(total), 2) as s "
        "from (select o_orderdate as od, o_totalprice as total, "
        "o_orderstatus as st from owf_src) "
        "where od between '1995-03-01' and '1995-03-31' and st = 'P' "
        "group by toDayOfMonth(od) "
        "order by d with fill from 1 to 32 step 1"
    )


CH_WITH_FILL_ORACLE = """
SELECT CAST(gs.d AS INT) AS d, coalesce(q.n, 0) AS n, coalesce(q.s, 0.0) AS s
FROM generate_series(1, 31) gs(d)
LEFT JOIN (
  SELECT day(o_orderdate) AS d, count(*) AS n, round(sum(o_totalprice), 2) AS s
  FROM orders
  WHERE o_orderdate BETWEEN DATE '1995-03-01' AND DATE '1995-03-31'
    AND o_orderstatus = 'P'
  GROUP BY day(o_orderdate)
) q ON q.d = gs.d
ORDER BY d
"""


def ch_sample_clause(spark, sf_dir):
    """Upstream-CH ``FROM t SAMPLE k`` over a declared sampling key
    (``SETTINGS sample_by``): deterministic 256-bucket md5-prefix sampling
    (engine.py _rewrite_sample) — a pure scan filter, so it composes with
    pruning and never shuffles.  The aggregate proves the sampled subset is
    stable across engines (the oracle recomputes the same bucket predicate
    in DuckDB)."""
    from tensorbase_spark.sources.tables import load_table

    eng = _fresh_engine(spark, sf_dir, "smp")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("smp_src")
    eng.sql(
        "create table so_ord(ok Int64, status String, total Float64) "
        "settings sample_by=ok"
    )
    eng.sql(
        "insert into so_ord select o_orderkey, o_orderstatus, o_totalprice "
        "from smp_src"
    )
    return eng.sql(
        "select status, count(*) as n, round(sum(total), 2) as s "
        "from so_ord sample 0.25 group by status"
    )


CH_SAMPLE_ORACLE = """
SELECT o_orderstatus AS status, count(*) AS n, round(sum(o_totalprice), 2) AS s
FROM orders
WHERE (instr('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1) * 16
      + instr('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR)), 2, 1)) - 1 < 64
GROUP BY o_orderstatus
"""


def ch_everyday_funcs3(spark, sf_dir):
    """Tier-3 everyday-CH scalar/aggregate names through the dialect
    (functions/clickhouse.py tier-3 block): bit tests, integer exponentials,
    CH-argument-order locate, alphaTokens, range, dateAdd, trailing-char
    append, haversine greatCircleDistance, and the groupBit* aggregates —
    every rewrite a JVM built-in expression."""
    from tensorbase_spark.sources.tables import load_table

    eng = TensorBaseEngine(spark)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("ef3_src")
    return eng.sql(
        "select o_orderstatus as st, "
        "sum(bitTest(o_orderkey, 0)) as n_odd, "
        "groupBitOr(cast(o_orderkey % 16 as int)) as bor, "
        "groupBitXor(cast(o_orderkey % 16 as int)) as bxor, "
        "max(intExp2(cast(o_orderkey % 10 as int))) as ie_mx, "
        "max(roundToExp2(cast(o_orderkey % 100 + 1 as int))) as r2_mx, "
        "max(locate(o_orderpriority, '-')) as dash_pos, "
        "max(mid(o_orderpriority, 3, 4)) as pri_mid, "
        "max(appendTrailingCharIfAbsent(o_orderstatus, '!')) as st_bang, "
        "arrayStringConcat(max(alphaTokens(o_orderpriority)), ',') as toks, "
        "max(dateAdd('day', 10, o_orderdate)) as d10, "
        "round(max(greatCircleDistance(-0.1278, 51.5074, 2.3522, 48.8566)), 1) as gcd_m "
        "from ef3_src where o_orderkey < 2000 group by o_orderstatus"
    )


CH_EVERYDAY3_ORACLE = """
SELECT o_orderstatus AS st,
       CAST(sum(CAST((o_orderkey >> 0) & 1 AS TINYINT)) AS BIGINT) AS n_odd,
       bit_or(CAST(o_orderkey % 16 AS INT))                   AS bor,
       bit_xor(CAST(o_orderkey % 16 AS INT))                  AS bxor,
       max(CAST(power(2, o_orderkey % 10) AS BIGINT))         AS ie_mx,
       max(CAST(power(2, floor(log2(o_orderkey % 100 + 1))) AS BIGINT)) AS r2_mx,
       max(CAST(instr(o_orderpriority, '-') AS INT))          AS dash_pos,
       max(substr(o_orderpriority, 3, 4))                     AS pri_mid,
       max(CASE WHEN ends_with(o_orderstatus, '!') THEN o_orderstatus
                ELSE o_orderstatus || '!' END)                AS st_bang,
       array_to_string(max(list_filter(string_split_regex(o_orderpriority,
                       '[^A-Za-z]+'), x -> x <> '')), ',')    AS toks,
       max(CAST(o_orderdate + INTERVAL 10 DAY AS TIMESTAMP))  AS d10,
       round(max(2 * 6372797.560856 * asin(sqrt(
           power(sin(radians(48.8566 - 51.5074) / 2), 2)
           + cos(radians(51.5074)) * cos(radians(48.8566))
             * power(sin(radians(2.3522 - (-0.1278)) / 2), 2)))), 1) AS gcd_m
FROM orders WHERE o_orderkey < 2000 GROUP BY o_orderstatus
"""


def ch_sequence_uniq(spark, sf_dir):
    """Event-analytics aggregate tier: sequenceMatch 2-step chain compiled
    to one aggregation pass (functions/clickhouse.py _sequence_match_tmpl),
    saturating uniqUpTo, and anyHeavy over a uniquely-moded expression —
    per user-bucket, the grain CH users run these at."""
    from tensorbase_spark.sources.tables import load_table

    eng = TensorBaseEngine(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("evs_src")
    return eng.sql(
        "select user_id % 50 as ub, "
        "sequenceMatch('(?1).*(?2)')(ts, value < 10, value > 90) as esc, "
        "uniqUpTo(5)(event_type) as u5, "
        "anyHeavy(if(value > 1, 'hi', 'lo')) as heavy, "
        "count(*) as n "
        "from evs_src group by user_id % 50"
    )


CH_SEQUENCE_UNIQ_ORACLE = """
SELECT user_id % 50 AS ub,
       CAST(coalesce(
            min(CASE WHEN value < 10 THEN CAST(ts AS TIMESTAMP) END)
            < max(CASE WHEN value > 90 THEN CAST(ts AS TIMESTAMP) END),
            false) AS TINYINT)                           AS esc,
       least(count(DISTINCT event_type), 6)              AS u5,
       mode(CASE WHEN value > 1 THEN 'hi' ELSE 'lo' END) AS heavy,
       count(*)                                          AS n
FROM events GROUP BY user_id % 50
"""


def engine_mutations(spark, sf_dir):
    """ClickHouse mutations through the engine (engine.py _alter): DELETE
    rewrites ONLY the partitions its WHERE touches (ptk derivation — same
    pruning as reads), UPDATE applies conditionally inside the affected
    partitions, ADD COLUMN evolves the schema with NULL backfill.  The
    oracle recomputes the post-mutation state from the raw fixture, so the
    hash proves the partition-selective rewrite is exact."""
    from tensorbase_spark.sources.tables import load_table

    eng = _fresh_engine(spark, sf_dir, "mut")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("mut_src")
    eng.sql(
        "create table mu_ord(ok Int64, od Date, status String, total Float64) "
        "partition by toYYYYMM(od)"
    )
    eng.sql(
        "insert into mu_ord select o_orderkey, o_orderdate, o_orderstatus, "
        "o_totalprice from mut_src where o_orderdate < '1997-01-01'"
    )
    # delete one quarter; the ptk predicate limits the rewrite to 199601-03
    eng.sql(
        "alter table mu_ord delete where od between '1996-01-01' and '1996-03-31'"
    )
    # conditional update inside one month's partitions
    eng.sql(
        "alter table mu_ord update total = total * 2, status = lower(status) "
        "where od between '1996-06-01' and '1996-06-30' and ok % 2 = 0"
    )
    eng.sql("alter table mu_ord add column note String")
    return eng.sql(
        "select toYYYYMM(od) as ym, status, count(*) as n, "
        "round(sum(total), 2) as s, count(note) as n_note "
        "from mu_ord group by toYYYYMM(od), status"
    )


ENGINE_MUTATIONS_ORACLE = """
WITH base AS (
  SELECT o_orderkey AS ok, o_orderdate AS od, o_orderstatus AS status,
         o_totalprice AS total
  FROM orders WHERE o_orderdate < DATE '1997-01-01'
), deleted AS (
  SELECT * FROM base
  WHERE NOT (od BETWEEN DATE '1996-01-01' AND DATE '1996-03-31')
), updated AS (
  SELECT ok, od,
         CASE WHEN od BETWEEN DATE '1996-06-01' AND DATE '1996-06-30'
                   AND ok % 2 = 0
              THEN lower(status) ELSE status END AS status,
         CASE WHEN od BETWEEN DATE '1996-06-01' AND DATE '1996-06-30'
                   AND ok % 2 = 0
              THEN total * 2 ELSE total END AS total
  FROM deleted
)
SELECT CAST(year(od)*100 + month(od) AS BIGINT) AS ym, status,
       count(*) AS n, round(sum(total), 2) AS s,
       CAST(0 AS BIGINT) AS n_note
FROM updated GROUP BY year(od)*100 + month(od), status
"""


def engine_materialized_view(spark, sf_dir):
    """ClickHouse materialized view as an INSERT trigger (engine.py
    _create_materialized_view): each inserted block is aggregated through
    the view's SELECT and the partial result appends to the TO table;
    reading the target re-aggregates (sum of partial sums) — the CH
    continuous-aggregation idiom.  Two disjoint inserts prove per-block
    processing; the oracle recomputes the same rollup from the raw fixture,
    so the hash proves no row is double-counted or missed."""
    from tensorbase_spark.sources.tables import load_table

    eng = _fresh_engine(spark, sf_dir, "mview")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("mvq_src")
    eng.sql("create table mv_raw(ok Int64, od Date, status String, total Float64)")
    eng.sql("create table mv_daily(ym Int64, status String, n Int64, s Float64)")
    eng.sql(
        "create materialized view mv_roll to mv_daily as "
        "select toYYYYMM(od) as ym, status, count(*) as n, sum(total) as s "
        "from mv_raw group by toYYYYMM(od), status"
    )
    eng.sql(
        "insert into mv_raw select o_orderkey, o_orderdate, o_orderstatus, "
        "o_totalprice from mvq_src where o_orderdate < '1996-01-01'"
    )
    eng.sql(
        "insert into mv_raw select o_orderkey, o_orderdate, o_orderstatus, "
        "o_totalprice from mvq_src "
        "where o_orderdate >= '1996-01-01' and o_orderdate < '1997-01-01'"
    )
    return eng.sql(
        "select ym, status, sum(n) as n, round(sum(s), 2) as s "
        "from mv_daily group by ym, status"
    )


ENGINE_MV_ORACLE = """
SELECT CAST(year(o_orderdate)*100 + month(o_orderdate) AS BIGINT) AS ym,
       o_orderstatus AS status, count(*) AS n,
       round(sum(o_totalprice), 2) AS s
FROM orders WHERE o_orderdate < DATE '1997-01-01'
GROUP BY year(o_orderdate)*100 + month(o_orderdate), o_orderstatus
"""


def engine_outfile_roundtrip(spark, sf_dir):
    """CH import/export surface end to end: SELECT ... INTO OUTFILE FORMAT
    Parquet (engine.py sql outfile branch) -> INSERT ... FORMAT Parquet into
    a fresh table -> aggregate read-back.  The oracle recomputes from the
    raw fixture, so the hash proves the export+ingest cycle is lossless
    (dates, strings, doubles)."""
    from tensorbase_spark.sources.tables import load_table

    eng = _fresh_engine(spark, sf_dir, "outf")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("outf_src")
    out = f"/tmp/tbs_outfile_{os.path.basename(sf_dir.rstrip('/'))}.parquet"
    eng.sql(
        "select o_orderkey as ok, o_orderdate as od, o_orderstatus as st, "
        "o_totalprice as total from outf_src where o_orderkey % 7 = 0 "
        f"into outfile '{out}' format Parquet"
    )
    eng.sql("create table of_ord(ok Int64, od Date, st String, total Float64)")
    eng.sql(f"insert into of_ord format Parquet '{out}'")
    return eng.sql(
        "select st, count(*) as n, min(ok) as mn, max(ok) as mx, "
        "round(sum(total), 2) as s from of_ord group by st"
    )


ENGINE_OUTFILE_ORACLE = """
SELECT o_orderstatus AS st, count(*) AS n, min(o_orderkey) AS mn,
       max(o_orderkey) AS mx, round(sum(o_totalprice), 2) AS s
FROM orders WHERE o_orderkey % 7 = 0 GROUP BY o_orderstatus
"""


def ch_distinct_on(spark, sf_dir):
    """ClickHouse ``SELECT DISTINCT ON (cols)`` (first row per group in
    result order) through the engine — shares the LIMIT 1 BY plan: one
    row_number window over the group key, never a self-join."""
    from tensorbase_spark.sources.tables import load_table

    eng = TensorBaseEngine(spark)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("don_q_src")
    return eng.sql(
        "select distinct on (st) st, ok, total from "
        "(select o_orderstatus as st, o_orderkey as ok, o_totalprice as total "
        "from don_q_src) order by st, total desc, ok"
    )


CH_DISTINCT_ON_ORACLE = """
SELECT st, ok, total FROM (
  SELECT o_orderstatus AS st, o_orderkey AS ok, o_totalprice AS total,
         row_number() OVER (PARTITION BY o_orderstatus
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn = 1
"""


def ch_join_strictness(spark, sf_dir):
    """ClickHouse join-strictness grammar through the engine: SEMI LEFT /
    ANTI LEFT (word-order rewrite to Spark's native left semi/anti) and
    ANY LEFT JOIN (deterministic one-row-per-key dedup of the right side —
    a strict refinement of CH's arbitrary-row contract).  Counts + sums per
    branch in one result."""
    from pyspark.sql import functions as F

    from tensorbase_spark.sources.tables import load_table

    eng = TensorBaseEngine(spark)
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("js_cust")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("js_ord")
    semi = eng.sql(
        "select count(*) as v from js_cust semi left join js_ord "
        "on js_cust.c_custkey = js_ord.o_custkey"
    ).select(F.lit("semi").alias("branch"), "v")
    anti = eng.sql(
        "select count(*) as v from js_cust anti left join js_ord "
        "on js_cust.c_custkey = js_ord.o_custkey"
    ).select(F.lit("anti").alias("branch"), "v")
    anyj = eng.sql(
        "select count(*) as v from js_cust any left join js_ord o "
        "on js_cust.c_custkey = o.o_custkey"
    ).select(F.lit("any").alias("branch"), "v")
    return semi.unionAll(anti).unionAll(anyj)


CH_JOIN_STRICTNESS_ORACLE = """
SELECT 'semi' AS branch,
       (SELECT count(*) FROM customer SEMI JOIN orders
        ON c_custkey = o_custkey) AS v
UNION ALL
SELECT 'anti',
       (SELECT count(*) FROM customer ANTI JOIN orders
        ON c_custkey = o_custkey)
UNION ALL
SELECT 'any',
       (SELECT count(*) FROM customer LEFT JOIN (
          SELECT o_custkey FROM (
            SELECT o_custkey, row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_custkey) AS rn FROM orders
          ) WHERE rn = 1
        ) o ON c_custkey = o.o_custkey)
"""


def ch_asof_join_sql(spark, sf_dir):
    """ClickHouse ``ASOF JOIN`` SQL clause (engine.py _run_asof_join):
    every click event attaches the latest preceding purchase value of the
    same user.  Lowers to the union+window as-of operator — one shuffle on
    user_id, linear scan, never a range join.  The DuckDB oracle uses its
    NATIVE ASOF JOIN, so the hash cross-checks two independent as-of
    implementations."""
    from pyspark.sql import functions as F

    from tensorbase_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    ).createOrReplaceTempView("asof_clicks")
    # unique (user, ts) on the right side: equal-ts ambiguity would make
    # any two as-of implementations legitimately disagree
    ev.filter(F.col("event_type") == "purchase").groupBy("user_id", "ts").agg(
        F.max("value").alias("pval")
    ).createOrReplaceTempView("asof_purch")
    eng = TensorBaseEngine(spark)
    return eng.sql(
        "select l.event_id, l.user_id, l.ts, round(r.pval, 4) as pval "
        "from asof_clicks l asof left join asof_purch r "
        "on l.user_id = r.user_id and l.ts >= r.ts"
    )


CH_ASOF_SQL_ORACLE = """
WITH clicks AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
  WHERE event_type = 'click'
), purch AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, max(value) AS pval
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
)
SELECT c.event_id, c.user_id, c.ts, round(p.pval, 4) AS pval
FROM clicks c ASOF LEFT JOIN purch p
  ON c.user_id = p.user_id AND c.ts >= p.ts
"""


def engine_zorder_read(spark, sf_dir):
    """DDL -> INSERT SELECT -> OPTIMIZE ZORDER BY (two decorrelated
    columns) -> selective range read-back.  The layout rewrite must be
    result-invisible (hash vs the plain oracle); the clustering itself is
    asserted from parquet footers in tests/test_engine.py."""
    from tensorbase_spark.sources.tables import load_table

    eng = _fresh_engine(spark, sf_dir, "zord")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("li_zsrc")
    eng.sql("create table li_z(ok Int64, sk Int64, qty Float64)")
    eng.sql(
        "insert into li_z select l_orderkey, l_suppkey, l_quantity from li_zsrc"
    )
    eng.sql("optimize table li_z zorder by (ok, sk)")
    return eng.sql(
        "select count(*) as n, round(sum(qty), 2) as s, min(ok) as mn, max(sk) as mx "
        "from li_z where ok between 1000 and 3000 and sk between 10 and 60"
    )


ENGINE_ZORDER_ORACLE = """
SELECT count(*) AS n, round(sum(l_quantity), 2) AS s,
       min(l_orderkey) AS mn, max(l_suppkey) AS mx
FROM lineitem
WHERE l_orderkey BETWEEN 1000 AND 3000 AND l_suppkey BETWEEN 10 AND 60
"""


QUERIES = {
    # bench=True: the closest analogue to the reference's second published
    # metric, ingest throughput (README "recap" item 2; BASELINE.md) — times
    # DDL + partitioned insert-select + dialect read-back end to end.
    "engine_ddl_insert_select": Query(
        engine_ddl_insert_select, ENGINE_DIS_ORACLE, ("engine",), bench=True
    ),
    "engine_partition_prune": Query(engine_partition_prune, ENGINE_PRUNE_ORACLE, ("engine",)),
    "engine_join_prune": Query(engine_join_prune, ENGINE_JOIN_PRUNE_ORACLE, ("engine",)),
    "engine_bucketed_join": Query(
        engine_bucketed_join, ENGINE_BUCKETED_ORACLE, ("engine", "join")
    ),
    "engine_zorder_read": Query(
        engine_zorder_read, ENGINE_ZORDER_ORACLE, ("engine", "ddl")
    ),
    "engine_meta_lifecycle": Query(
        engine_meta_lifecycle, ENGINE_META_ORACLE, ("engine", "ddl")
    ),
    "ch_aggregate_combinators": Query(
        ch_aggregate_combinators, CH_COMBINATORS_ORACLE, ("engine", "dialect")
    ),
    "ch_json_extract": Query(ch_json_extract, CH_JSON_ORACLE, ("engine", "dialect", "json")),
    "ch_agg_extras": Query(ch_agg_extras, CH_AGG_EXTRAS_ORACLE, ("engine", "dialect")),
    "ch_quantile_family": Query(ch_quantile_family, CH_QUANTILE_ORACLE, ("engine", "dialect")),
    "ch_with_totals": Query(ch_with_totals, CH_WITH_TOTALS_ORACLE, ("engine", "dialect", "agg")),
    "ch_with_fill": Query(ch_with_fill, CH_WITH_FILL_ORACLE, ("engine", "dialect")),
    "ch_sample_clause": Query(ch_sample_clause, CH_SAMPLE_ORACLE, ("engine", "dialect")),
    "ch_everyday_funcs3": Query(
        ch_everyday_funcs3, CH_EVERYDAY3_ORACLE, ("engine", "dialect")
    ),
    "ch_sequence_uniq": Query(
        ch_sequence_uniq, CH_SEQUENCE_UNIQ_ORACLE, ("engine", "dialect", "agg")
    ),
    "engine_mutations": Query(
        engine_mutations, ENGINE_MUTATIONS_ORACLE, ("engine", "ddl")
    ),
    "engine_materialized_view": Query(
        engine_materialized_view, ENGINE_MV_ORACLE, ("engine", "ddl", "agg")
    ),
    "engine_outfile_roundtrip": Query(
        engine_outfile_roundtrip, ENGINE_OUTFILE_ORACLE, ("engine", "io")
    ),
    "ch_distinct_on": Query(ch_distinct_on, CH_DISTINCT_ON_ORACLE, ("engine", "dialect")),
    "ch_join_strictness": Query(
        ch_join_strictness, CH_JOIN_STRICTNESS_ORACLE, ("engine", "dialect", "join")
    ),
    "ch_asof_join_sql": Query(
        ch_asof_join_sql, CH_ASOF_SQL_ORACLE, ("engine", "dialect", "join")
    ),
}


def engine_alter_columns(spark, sf_dir):
    """Schema evolution beyond ADD COLUMN (engine.py _alter_columns):
    RENAME COLUMN then DROP COLUMN, each a single partition-layout-
    preserving rewrite.  The read-back filters on the partition source so
    the hash also proves the partition spec (and its pruning) survived the
    table re-creation."""
    from tensorbase_spark.sources.tables import load_table

    eng = _fresh_engine(spark, sf_dir, "acol")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("acol_src")
    eng.sql(
        "create table ac_ord(ok Int64, od Date, status String, total Float64, "
        "prio String) partition by toYYYYMM(od)"
    )
    eng.sql(
        "insert into ac_ord select o_orderkey, o_orderdate, o_orderstatus, "
        "o_totalprice, o_orderpriority from acol_src "
        "where o_orderdate < '1996-01-01'"
    )
    eng.sql("alter table ac_ord rename column total to amount")
    eng.sql("alter table ac_ord drop column prio")
    eng.sql("rename table ac_ord to ac_ord2")
    return eng.sql(
        "select toYYYYMM(od) as ym, status, count(*) as n, "
        "round(sum(amount), 2) as amt from ac_ord2 "
        "where od >= '1995-07-01' group by toYYYYMM(od), status"
    )


ENGINE_ALTER_COLS_ORACLE = """
SELECT CAST(year(o_orderdate)*100 + month(o_orderdate) AS BIGINT) AS ym,
       o_orderstatus AS status, count(*) AS n,
       round(sum(o_totalprice), 2) AS amt
FROM orders
WHERE o_orderdate < DATE '1996-01-01' AND o_orderdate >= DATE '1995-07-01'
GROUP BY year(o_orderdate)*100 + month(o_orderdate), o_orderstatus
"""


QUERIES["engine_alter_columns"] = Query(
    engine_alter_columns, ENGINE_ALTER_COLS_ORACLE, ("engine", "ddl")
)


def engine_system_parts(spark, sf_dir):
    """system.parts introspection (storage.py live_files): row
    counts come from parquet FOOTERS only, so a hash match against the
    oracle's recount from the raw fixture proves the partitioned write
    placed every row in the right partition — without scanning data."""
    from tensorbase_spark.sources.tables import load_table

    eng = _fresh_engine(spark, sf_dir, "sysp")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("sysp_src")
    eng.sql(
        "create table sp_ord(ok Int64, od Date) partition by toYYYYMM(od)"
    )
    eng.sql(
        "insert into sp_ord select o_orderkey, o_orderdate from sysp_src "
        "where o_orderdate < '1996-01-01'"
    )
    return eng.sql(
        "select partition, rows from system.parts where table = 'sp_ord'"
    )


ENGINE_SYSTEM_PARTS_ORACLE = """
SELECT CAST(year(o_orderdate)*100 + month(o_orderdate) AS VARCHAR) AS partition,
       count(*) AS rows
FROM orders WHERE o_orderdate < DATE '1996-01-01'
GROUP BY year(o_orderdate)*100 + month(o_orderdate)
"""


QUERIES["engine_system_parts"] = Query(
    engine_system_parts, ENGINE_SYSTEM_PARTS_ORACLE, ("engine", "introspection")
)


def ch_dictionary_lookup(spark, sf_dir):
    """Upstream-CH external dictionaries (no reference analogue): CREATE
    DICTIONARY over the nation dimension, then dictGet/dictGetOrDefault/
    dictHas point lookups inside an aggregation over customer.  The Spark
    realization is a broadcast scalar-subquery map (engine.py
    DictionarySpec) — Catalyst builds the key->attr map once and ships it
    into the expressions, the same per-node hash table CH keeps in RAM.
    The oracle is the equivalent LEFT JOIN, so the hash verifies the lookup
    semantics including both missing-key default paths."""
    from tensorbase_spark.sources.tables import load_table

    eng = TensorBaseEngine(spark)
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("dict_nation_src")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("dict_cust_src")
    eng.sql(
        "create dictionary if not exists nation_dict ("
        "n_nationkey UInt64, n_name String DEFAULT 'UNKNOWN', "
        "n_regionkey Int32) "
        "primary key n_nationkey "
        "source(clickhouse(table 'dict_nation_src')) "
        "layout(hashed()) lifetime(min 0 max 300)"
    )
    return eng.sql(
        "select dictGet('nation_dict', 'n_name', c_nationkey) as nation, "
        "toInt64(dictGet('nation_dict', 'n_regionkey', c_nationkey)) as region_key, "
        "dictGetOrDefault('nation_dict', 'n_name', c_custkey % 30, 'OUT') as mod_nation, "
        "countIf(dictHas('nation_dict', c_custkey % 30)) as n_mod_hit, "
        "count(*) as n, round(sum(c_acctbal), 2) as bal "
        "from dict_cust_src "
        "group by nation, region_key, mod_nation"
    )


CH_DICTIONARY_ORACLE = """
SELECT n.n_name                                    AS nation,
       CAST(n.n_regionkey AS BIGINT)               AS region_key,
       coalesce(m.n_name, 'OUT')                   AS mod_nation,
       count(*) FILTER (WHERE m.n_nationkey IS NOT NULL) AS n_mod_hit,
       count(*)                                    AS n,
       round(sum(c_acctbal), 2)                    AS bal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
LEFT JOIN nation m ON c.c_custkey % 30 = m.n_nationkey
GROUP BY nation, region_key, mod_nation
"""


QUERIES["ch_dictionary_lookup"] = Query(
    ch_dictionary_lookup, CH_DICTIONARY_ORACLE, ("engine", "dialect", "dictionary")
)


def ch_state_merge(spark, sf_dir):
    """CH -State/-Merge combinators (the partial-aggregate idiom MVs use:
    writers store <agg>State, readers finish with <agg>Merge).  States map
    to their actual sufficient statistics (sum/count/min/max pass through,
    uniqState keeps the distinct set, avgState a (sum,count) struct) and
    Merge re-aggregates them — so this two-level Merge(State) plan must
    reproduce the direct one-level aggregate, which is exactly what the
    oracle computes.  Dialect superset: the fork has no combinators at all
    (physical_plan/aggregates.rs)."""
    from tensorbase_spark.sources.tables import load_table

    eng = TensorBaseEngine(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("ev_sm")
    return eng.sql(
        "select event_type, "
        "countMerge(cs) as n, "
        "round(sumMerge(ss), 4) as s, "
        "uniqMerge(us) as u, "
        "round(avgMerge(avs), 4) as avg_v, "
        "round(minMerge(mns), 4) as mn, "
        "round(maxMerge(mxs), 4) as mx "
        "from (select event_type, user_id % 8 as bucket, "
        "countState() as cs, sumState(value) as ss, uniqState(user_id) as us, "
        "avgState(value) as avs, minState(value) as mns, maxState(value) as mxs "
        "from ev_sm group by event_type, user_id % 8) "
        "group by event_type"
    )


CH_STATE_MERGE_ORACLE = """
SELECT event_type,
       count(*)                    AS n,
       round(sum(value), 4)        AS s,
       count(DISTINCT user_id)     AS u,
       round(avg(value), 4)        AS avg_v,
       round(min(value), 4)        AS mn,
       round(max(value), 4)        AS mx
FROM events GROUP BY event_type
"""


QUERIES["ch_state_merge"] = Query(
    ch_state_merge, CH_STATE_MERGE_ORACLE, ("dialect", "agg", "combinator")
)


def ch_star_modifiers(spark, sf_dir):
    """CH star column modifiers: ``* EXCEPT col`` (bare single-column form)
    and ``* EXCEPT (...) REPLACE(expr AS col)`` — REPLACE rewrites to
    EXCEPT + appended expression (engine.py _rewrite_star_replace; Spark
    4's native ``* EXCEPT (...)`` does the pruning, so the scan's
    ReadSchema drops the excluded columns).  Column position moves to the
    end under REPLACE (documented difference); the driver hash is
    name-sorted so semantics are what's verified."""
    from tensorbase_spark.sources.tables import load_table

    eng = TensorBaseEngine(spark)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("ord_star")
    return eng.sql(
        "select * except (o_orderdate, o_orderpriority) "
        "replace(round(o_totalprice / 1000, 3) as o_totalprice, "
        "lower(o_orderstatus) as o_orderstatus) "
        "from ord_star where o_orderkey % 50 = 0"
    )


CH_STAR_MODIFIERS_ORACLE = """
SELECT o_orderkey, o_custkey,
       round(o_totalprice / 1000, 3) AS o_totalprice,
       lower(o_orderstatus)          AS o_orderstatus
FROM orders WHERE o_orderkey % 50 = 0
"""


QUERIES["ch_star_modifiers"] = Query(
    ch_star_modifiers, CH_STAR_MODIFIERS_ORACLE, ("dialect", "clause")
)


def engine_ttl_lifecycle(spark, sf_dir):
    """TTL lifecycle driver row: rows whose TTL expression is a fixed
    far-future timestamp survive OPTIMIZE, rows expiring at their (1990s)
    order date are deleted — deterministic despite TTL comparing against
    now().  Also exercises the DDL ORDER BY default compaction sort and
    OPTIMIZE FINAL spelling."""
    from tensorbase_spark.sources.tables import load_table

    eng = _fresh_engine(spark, sf_dir, "ttl")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("ttl_ord_src")
    eng.sql(
        "create table t_ttl_q(ok Int64, od DateTime) engine = MergeTree "
        "order by ok "
        "ttl multiIf(ok % 3 = 0, toDateTime('2099-01-01 00:00:00'), od)"
    )
    eng.sql(
        "insert into t_ttl_q select o_orderkey, o_orderdate "
        "from ttl_ord_src where o_orderkey % 50 = 0"
    )
    eng.sql("optimize table t_ttl_q final")
    out = eng.sql(
        "select count(*) as n, sum(ok) as s, min(ok) as mn, max(ok) as mx "
        "from t_ttl_q"
    )
    return out


ENGINE_TTL_ORACLE = """
SELECT count(*)                      AS n,
       CAST(sum(o_orderkey) AS BIGINT) AS s,
       CAST(min(o_orderkey) AS BIGINT) AS mn,
       CAST(max(o_orderkey) AS BIGINT) AS mx
FROM orders WHERE o_orderkey % 50 = 0 AND o_orderkey % 3 = 0
"""


QUERIES["engine_ttl_lifecycle"] = Query(
    engine_ttl_lifecycle, ENGINE_TTL_ORACLE, ("engine", "ddl", "ttl")
)


def engine_query_log(spark, sf_dir):
    """system.query_log introspection (upstream-CH query journal; the
    reference has no system tables at all): a FRESH engine runs a fixed
    command sequence — including one failing statement — then aggregates
    its own log by (kind, type).  Timestamps/durations are excluded from
    the hashed output; the (kind, type, count) contract is deterministic.
    The log query itself is appended AFTER dispatch, so it never counts
    itself."""
    eng = _fresh_engine(spark, sf_dir, "qlog")
    eng.sql("drop table if exists qlog_seq_t")
    eng.sql("create table qlog_seq_t(k Int64)")
    eng.sql("insert into qlog_seq_t values (1), (2)")
    eng.sql("select count(*) as n from qlog_seq_t")
    try:
        eng.sql("select dictGet('no_such_dict', 'a', 1)")
    except ValueError:
        pass
    eng.sql("drop table qlog_seq_t")
    return eng.sql(
        "select query_kind, type, count(*) as n from system.query_log "
        "group by query_kind, type"
    )


ENGINE_QUERY_LOG_ORACLE = """
SELECT * FROM (VALUES
  ('use',    'QueryFinish', CAST(1 AS BIGINT)),
  ('create', 'QueryFinish', CAST(1 AS BIGINT)),
  ('drop',   'QueryFinish', CAST(2 AS BIGINT)),
  ('insert', 'QueryFinish', CAST(1 AS BIGINT)),
  ('select', 'ExceptionBeforeStart', CAST(1 AS BIGINT)),
  ('select', 'QueryFinish', CAST(1 AS BIGINT))
) AS t(query_kind, type, n)
"""


QUERIES["engine_query_log"] = Query(
    engine_query_log, ENGINE_QUERY_LOG_ORACLE, ("engine", "introspection")
)


def engine_projection_rollup(spark, sf_dir):
    """CH projections (ALTER TABLE ADD PROJECTION + automatic use; the
    reference has none): a per-(status, priority) aggregate projection is
    built over an orders copy, MORE rows are inserted (maintained through
    the MV trigger as a partial row-group), then a COARSER per-status
    rollup runs — the engine rewrites it to re-aggregate the hidden
    partial table (plan-asserted in tests/test_plans.py; sum->sum,
    count->sum merges).  The oracle computes the same rollup directly
    from the base data, so the hash proves rewrite + partial maintenance
    lose nothing."""
    from tensorbase_spark.sources.tables import load_table

    eng = _fresh_engine(spark, sf_dir, "proj")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("proj_ord_src")
    eng.sql(
        "create table proj_orders_q(st String, pri String, price Float64)"
    )
    eng.sql(
        "insert into proj_orders_q select o_orderstatus, o_orderpriority, "
        "o_totalprice from proj_ord_src where o_orderkey % 2 = 0"
    )
    eng.sql(
        "alter table proj_orders_q add projection by_st_pri "
        "(select st, pri, sum(price) as sp, count(*) as c, "
        "max(price) as mx group by st, pri)"
    )
    eng.sql(
        "insert into proj_orders_q select o_orderstatus, o_orderpriority, "
        "o_totalprice from proj_ord_src where o_orderkey % 2 = 1"
    )
    return eng.sql(
        "select st, round(sum(price), 2) as total, count(*) as n, "
        "round(max(price), 2) as mx "
        "from proj_orders_q group by st"
    )


ENGINE_PROJECTION_ORACLE = """
SELECT o_orderstatus AS st,
       round(sum(o_totalprice), 2) AS total,
       count(*)                    AS n,
       round(max(o_totalprice), 2) AS mx
FROM orders GROUP BY o_orderstatus
"""


QUERIES["engine_projection_rollup"] = Query(
    engine_projection_rollup, ENGINE_PROJECTION_ORACLE,
    ("engine", "ddl", "projection")
)


def ch_map_tuple_funcs(spark, sf_dir):
    """Map/Tuple function family through the dialect (pairs with the
    Map/Tuple compound types): maps constructed from event columns, probed
    with mapContains/mapValues/mapLength, tuples with 1-based
    tupleElement.  The oracle recomputes every result column-wise from the
    SOURCE columns, so the map/tuple semantics are what the hash
    verifies."""
    from tensorbase_spark.sources.tables import load_table

    eng = TensorBaseEngine(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("ev_mt")
    return eng.sql(
        "select event_type, "
        "countIf(mapContains(m, 'k1')) as n_k1, "
        "round(sum(arraySum(mapValues(m))), 4) as sv, "
        "sum(mapLength(m)) as ml, "
        "max(tupleElement(tp, 2)) as mx_u "
        "from (select event_type, "
        "mapFromArrays(array(concat('k', toString(user_id % 3))), "
        "array(value)) as m, "
        "tuple(value, user_id) as tp "
        "from ev_mt) group by event_type"
    )


CH_MAP_TUPLE_ORACLE = """
SELECT event_type,
       count(*) FILTER (WHERE user_id % 3 = 1) AS n_k1,
       round(sum(value), 4)                    AS sv,
       CAST(count(*) AS BIGINT)                AS ml,
       CAST(max(user_id) AS BIGINT)            AS mx_u
FROM events GROUP BY event_type
"""


QUERIES["ch_map_tuple_funcs"] = Query(
    ch_map_tuple_funcs, CH_MAP_TUPLE_ORACLE, ("dialect", "map", "tuple")
)


def ch_qualify_dedup(spark, sf_dir):
    """QUALIFY clause (window filter; the dedup idiom every
    CH/DuckDB/Snowflake user writes): keep the longest document per
    (lang, source), ties broken by doc_id.  The engine rewrites QUALIFY to
    a wrapped window + ``* EXCEPT`` filter (engine.py _rewrite_qualify);
    the oracle uses DuckDB's NATIVE QUALIFY, so the rewrite is checked
    against a first-class implementation of the clause."""
    from tensorbase_spark.sources.tables import load_table

    eng = TensorBaseEngine(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("doc_qf")
    return eng.sql(
        "select lang, source, doc_id, n_chars from doc_qf "
        "where n_chars > 50 "
        "qualify row_number() over (partition by lang, source "
        "order by n_chars desc, doc_id) = 1 "
        "order by lang, source"
    )


CH_QUALIFY_ORACLE = """
SELECT lang, source, doc_id, n_chars FROM documents
WHERE n_chars > 50
QUALIFY row_number() OVER (PARTITION BY lang, source
                           ORDER BY n_chars DESC, doc_id) = 1
ORDER BY lang, source
"""


QUERIES["ch_qualify_dedup"] = Query(
    ch_qualify_dedup, CH_QUALIFY_ORACLE, ("dialect", "clause", "window")
)


# --- round 5: mutation-time projection freshness, wide compaction, Enum
# --- case, function sort keys, QUALIFY x DISTINCT, catalog surfaces --------

def engine_projection_mutation(spark, sf_dir):
    """Projection freshness through mutations (engine.py
    _rebuild_projections; CH rewrites projection parts with every
    mutation): ADD PROJECTION, then ALTER DELETE + ALTER UPDATE, then a
    GROUP BY that the automatic rewrite routes through the hidden rollup.
    The oracle recomputes the post-mutation state from the raw fixture, so
    a hash match proves the rollup reflects the mutated base — the exact
    staleness bug ADVICE r4 flagged."""
    from tensorbase_spark.sources.tables import load_table

    eng = _fresh_engine(spark, sf_dir, "pjm")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("pjm_src")
    eng.sql("create table pj_ord(ok Int64, status String, total Float64)")
    eng.sql(
        "insert into pj_ord select o_orderkey, o_orderstatus, o_totalprice "
        "from pjm_src"
    )
    eng.sql(
        "alter table pj_ord add projection by_status "
        "(select status, sum(total), count(*) group by status)"
    )
    eng.sql("alter table pj_ord delete where ok % 10 = 3")
    eng.sql("alter table pj_ord update total = total * 2 where ok % 10 = 4")
    return eng.sql(
        "select status, count(*) as n, round(sum(total), 2) as s "
        "from pj_ord group by status"
    )


ENGINE_PROJ_MUTATION_ORACLE = """
SELECT o_orderstatus AS status, count(*) AS n,
       round(sum(CASE WHEN o_orderkey % 10 = 4 THEN o_totalprice * 2
                      ELSE o_totalprice END), 2) AS s
FROM orders WHERE o_orderkey % 10 <> 3
GROUP BY o_orderstatus
"""


def engine_projection_alias(spark, sf_dir):
    """Projection rewrite breadth (engine.py _merge_agg_tail): aliased dim
    in the select list plus HAVING and ORDER BY over RAW aggregate calls —
    both rewritten to merged forms over the hidden partial table.  The
    plan-level routing is asserted in tests/test_engine.py; this row hash-
    proves the merged re-aggregation returns exactly the base-table
    answer."""
    from tensorbase_spark.sources.tables import load_table

    eng = _fresh_engine(spark, sf_dir, "pja")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("pja_src")
    eng.sql("create table pj_li(rf String, qty Float64)")
    eng.sql("insert into pj_li select l_returnflag, l_quantity from pja_src")
    eng.sql(
        "alter table pj_li add projection by_rf "
        "(select rf, sum(qty), count(*) group by rf)"
    )
    return eng.sql(
        "select rf as flag, round(sum(qty), 2) as q_total, count(*) as n "
        "from pj_li group by rf having count(*) > 10 "
        "order by sum(qty) desc"
    )


ENGINE_PROJ_ALIAS_ORACLE = """
SELECT l_returnflag AS flag, round(sum(l_quantity), 2) AS q_total,
       count(*) AS n
FROM lineitem GROUP BY l_returnflag HAVING count(*) > 10
ORDER BY sum(l_quantity) DESC
"""


def engine_optimize_compaction(spark, sf_dir):
    """Size-based OPTIMIZE compaction (VERDICT r4 #3): an UNPARTITIONED
    table rewritten under a byte budget (SET optimize_target_file_bytes)
    — a wide repartition, never coalesce(1).  The post-OPTIMIZE aggregate
    hash proves the multi-task rewrite is lossless; the >1-output-files
    assertion lives in tests/test_engine.py (file counts scale with sf)."""
    from tensorbase_spark.sources.tables import load_table

    eng = _fresh_engine(spark, sf_dir, "cmp")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("cmp_src")
    eng.sql("create table cmp_li(ok Int64, qty Float64, price Float64)")
    eng.sql(
        "insert into cmp_li select l_orderkey, l_quantity, l_extendedprice "
        "from cmp_src"
    )
    eng.sql("set optimize_target_file_bytes = 65536")
    eng.sql("optimize table cmp_li")
    return eng.sql(
        "select ok % 7 as bucket, count(*) as n, round(sum(qty), 2) as q, "
        "round(sum(price), 2) as p from cmp_li group by ok % 7"
    )


ENGINE_COMPACTION_ORACLE = """
SELECT l_orderkey % 7 AS bucket, count(*) AS n,
       round(sum(l_quantity), 2) AS q,
       round(sum(l_extendedprice), 2) AS p
FROM lineitem GROUP BY l_orderkey % 7
"""


def engine_enum_case(spark, sf_dir):
    """Enum columns with MIXED-CASE members (types.py parse_bql_type;
    ADVICE r4: lowercased member sets made such columns un-writable).
    Status codes map to CamelCase enum values on insert; the group-by
    read-back hash proves declared case round-trips through the
    insert-time membership guard."""
    from tensorbase_spark.sources.tables import load_table

    eng = _fresh_engine(spark, sf_dir, "enm")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("enm_src")
    eng.sql(
        "create table en_ord(ok Int64, "
        "st Enum8('Open' = 1, 'Finished' = 2, 'Pending' = 3))"
    )
    eng.sql(
        "insert into en_ord select o_orderkey, "
        "multiIf(o_orderstatus = 'O', 'Open', o_orderstatus = 'F', "
        "'Finished', 'Pending') from enm_src"
    )
    return eng.sql(
        "select st, count(*) as n, max(ok) as mx from en_ord group by st"
    )


ENGINE_ENUM_CASE_ORACLE = """
SELECT CASE WHEN o_orderstatus = 'O' THEN 'Open'
            WHEN o_orderstatus = 'F' THEN 'Finished'
            ELSE 'Pending' END AS st,
       count(*) AS n, max(o_orderkey) AS mx
FROM orders GROUP BY 1
"""


def engine_order_by_expr(spark, sf_dir):
    """Function-call DDL sort keys (ADVICE r4: ``.strip("()")`` mangled
    them): ORDER BY (status, cityHash64(ok)) survives DDL storage, and
    OPTIMIZE's within-partition sort evaluates it through the dialect
    translator (cityHash64 -> xxhash64).  The post-OPTIMIZE selective
    aggregate hash proves the sorted rewrite is lossless."""
    from tensorbase_spark.sources.tables import load_table

    eng = _fresh_engine(spark, sf_dir, "obe")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("obe_src")
    eng.sql(
        "create table ob_ord(ok Int64, status String, total Float64) "
        "order by (status, cityHash64(ok))"
    )
    eng.sql(
        "insert into ob_ord select o_orderkey, o_orderstatus, o_totalprice "
        "from obe_src"
    )
    eng.sql("optimize table ob_ord")
    return eng.sql(
        "select status, count(*) as n, round(sum(total), 2) as s "
        "from ob_ord where ok % 3 = 1 group by status"
    )


ENGINE_ORDER_BY_EXPR_ORACLE = """
SELECT o_orderstatus AS status, count(*) AS n,
       round(sum(o_totalprice), 2) AS s
FROM orders WHERE o_orderkey % 3 = 1
GROUP BY o_orderstatus
"""


def ch_qualify_distinct(spark, sf_dir):
    """QUALIFY under SELECT DISTINCT (ADVICE r4: the window filter must
    evaluate BEFORE the distinct — the DuckDB/Snowflake clause order).
    The engine rewrites to filter-then-distinct (engine.py
    _rewrite_qualify); the oracle runs DuckDB's NATIVE QUALIFY+DISTINCT,
    so the hash checks the rewrite against a first-class implementation
    of the combined clauses."""
    from tensorbase_spark.sources.tables import load_table

    eng = TensorBaseEngine(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("doc_qdx")
    # rows that are their source's longest document share (lang, source)
    # duplicates in the projection — the distinct must collapse them AFTER
    # the window filter
    return eng.sql(
        "select distinct lang, source from doc_qdx "
        "qualify n_chars >= max(n_chars) over (partition by source) * 0.5 "
        "order by lang, source"
    )


CH_QUALIFY_DISTINCT_ORACLE = """
SELECT DISTINCT lang, source FROM documents
QUALIFY n_chars >= max(n_chars) OVER (PARTITION BY source) * 0.5
ORDER BY lang, source
"""


def engine_explain_catalog(spark, sf_dir):
    """Catalog/introspection surfaces under driver evidence (VERDICT r4
    stretch #7): SHOW DATABASES / SHOW TABLES / SHOW CREATE TABLE / DESC /
    EXPLAIN / USE / TRUNCATE each reduced to a stable (check, val) row —
    normalized so both engines can state the expected catalog content."""
    eng = _fresh_engine(spark, sf_dir, "cat")
    db = spark.catalog.currentDatabase()
    eng.sql("create table cat_t(k Int64, s Nullable(String)) ")
    eng.sql("insert into cat_t values (1, 'a'), (2, null)")

    dbs = {r[0] for r in eng.sql("show databases").collect()}
    tbls = {r.tableName for r in eng.sql("show tables").collect()}
    create = eng.sql("show create table cat_t").collect()[0][0].lower()
    desc = {
        r[0]: r[1] for r in eng.sql("describe table cat_t").collect()
    }
    bql = {
        r[0]: r[1]
        for r in eng.sql(
            "select name, type from system.columns where table = 'cat_t'"
        ).collect()
    }
    plan_rows = eng.sql("explain select k from cat_t where k = 1").collect()
    est = eng.sql("explain estimate select * from cat_t").collect()
    eng.sql("truncate table cat_t")
    n_after = eng.sql("select count(*) as n from cat_t").collect()[0][0]

    rows = [
        ("db_listed", str(db in dbs).lower()),
        ("table_listed", str("cat_t" in tbls).lower()),
        ("create_has_types", str("nullable(string)" in create).lower()),
        ("desc_k_type", desc.get("k", "")),
        ("desc_s_type", desc.get("s", "")),
        ("bql_k_type", bql.get("k", "")),
        ("bql_s_type", bql.get("s", "")),
        ("explain_nonempty", str(len(plan_rows) > 0).lower()),
        ("estimate_rows", str(est[0].rows) if est else "none"),
        ("truncate_empties", str(n_after == 0).lower()),
    ]
    return spark.createDataFrame(rows, "chk string, val string")


ENGINE_EXPLAIN_CATALOG_ORACLE = """
SELECT * FROM (VALUES
    ('db_listed', 'true'),
    ('table_listed', 'true'),
    ('create_has_types', 'true'),
    ('desc_k_type', 'bigint'),
    ('desc_s_type', 'string'),
    ('bql_k_type', 'Int64'),
    ('bql_s_type', 'Nullable(String)'),
    ('explain_nonempty', 'true'),
    ('estimate_rows', '2'),
    ('truncate_empties', 'true')
) AS t(chk, val)
"""


QUERIES["engine_projection_mutation"] = Query(
    engine_projection_mutation, ENGINE_PROJ_MUTATION_ORACLE,
    ("engine", "ddl", "projection"),
)
QUERIES["engine_projection_alias"] = Query(
    engine_projection_alias, ENGINE_PROJ_ALIAS_ORACLE,
    ("engine", "ddl", "projection"),
)
QUERIES["engine_optimize_compaction"] = Query(
    engine_optimize_compaction, ENGINE_COMPACTION_ORACLE, ("engine", "ddl")
)
QUERIES["engine_enum_case"] = Query(
    engine_enum_case, ENGINE_ENUM_CASE_ORACLE, ("engine", "types")
)
QUERIES["engine_order_by_expr"] = Query(
    engine_order_by_expr, ENGINE_ORDER_BY_EXPR_ORACLE, ("engine", "ddl")
)
QUERIES["ch_qualify_distinct"] = Query(
    ch_qualify_distinct, CH_QUALIFY_DISTINCT_ORACLE,
    ("dialect", "clause", "window"),
)
QUERIES["engine_explain_catalog"] = Query(
    engine_explain_catalog, ENGINE_EXPLAIN_CATALOG_ORACLE,
    ("engine", "catalog"),
)


def engine_partition_ops(spark, sf_dir):
    """Partition management DDL (engine.py _alter_partition; upstream-CH
    ALTER TABLE {DROP|DETACH|ATTACH|MOVE} PARTITION — the reference's
    storage has no partition ops at all): detach a month and re-attach it
    (round-trip must be lossless), drop a month, move a month into a second
    table, then aggregate BOTH tables.  The oracle recomputes the end state
    from the raw fixture, so the hash proves every verb touched exactly the
    right partition."""
    from tensorbase_spark.sources.tables import load_table

    eng = _fresh_engine(spark, sf_dir, "pop")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("pop_src")
    eng.sql(
        "create table po_ord(ok Int64, od Date, total Float64) "
        "partition by toYYYYMM(od)"
    )
    eng.sql(
        "insert into po_ord select o_orderkey, o_orderdate, o_totalprice "
        "from pop_src where o_orderdate between '1995-01-01' and '1995-06-30'"
    )
    eng.sql("create table po_arch(ok Int64, od Date, total Float64) "
            "partition by toYYYYMM(od)")
    eng.sql("alter table po_ord detach partition '199502'")
    eng.sql("alter table po_ord attach partition '199502'")  # lossless
    eng.sql("alter table po_ord drop partition '199503'")
    eng.sql("alter table po_ord move partition '199504' to table po_arch")
    return eng.sql(
        "select 'live' as tbl, toYYYYMM(od) as ym, count(*) as n, "
        "round(sum(total), 2) as s from po_ord group by toYYYYMM(od) "
        "union all "
        "select 'arch' as tbl, toYYYYMM(od) as ym, count(*) as n, "
        "round(sum(total), 2) as s from po_arch group by toYYYYMM(od)"
    )


ENGINE_PARTITION_OPS_ORACLE = """
WITH base AS (
  SELECT o_orderkey AS ok, o_orderdate AS od, o_totalprice AS total,
         CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS ym
  FROM orders
  WHERE o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-06-30'
)
SELECT 'live' AS tbl, ym, count(*) AS n, round(sum(total), 2) AS s
FROM base WHERE ym NOT IN (199503, 199504) GROUP BY ym
UNION ALL
SELECT 'arch' AS tbl, ym, count(*) AS n, round(sum(total), 2) AS s
FROM base WHERE ym = 199504 GROUP BY ym
"""


QUERIES["engine_partition_ops"] = Query(
    engine_partition_ops, ENGINE_PARTITION_OPS_ORACLE, ("engine", "ddl")
)


def engine_codec_compression(spark, sf_dir):
    """Column CODEC annotations honored at the storage layer (engine.py
    _create_table: the first general-purpose codec — ZSTD/LZ4/GZIP/NONE —
    becomes the table's parquet compression OPTION; encoding codecs like
    DoubleDelta are parquet-native already).  The aggregate hash proves a
    zstd-compressed table round-trips identically; the .zstd.parquet file
    suffix is asserted in tests/test_engine.py."""
    from tensorbase_spark.sources.tables import load_table

    eng = _fresh_engine(spark, sf_dir, "cdc")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("cdc_src")
    eng.sql(
        "create table cd_li(ok Int64, rf String CODEC(ZSTD), qty Float64)"
    )
    eng.sql(
        "insert into cd_li select l_orderkey, l_returnflag, l_quantity "
        "from cdc_src where l_orderkey % 3 = 0"
    )
    return eng.sql(
        "select rf, count(*) as n, round(sum(qty), 2) as q "
        "from cd_li group by rf"
    )


ENGINE_CODEC_ORACLE = """
SELECT l_returnflag AS rf, count(*) AS n, round(sum(l_quantity), 2) AS q
FROM lineitem WHERE l_orderkey % 3 = 0
GROUP BY l_returnflag
"""


QUERIES["engine_codec_compression"] = Query(
    engine_codec_compression, ENGINE_CODEC_ORACLE, ("engine", "ddl", "storage")
)


def engine_query_cache(spark, sf_dir):
    """Query result cache (engine.py sql(); upstream-CH use_query_cache):
    the same SELECT twice — second run served from cached result blocks
    (QueryCacheHit in system.query_log) — then a mutation, which starts a
    new cache epoch, and a final run that must see the post-mutation data.
    The hash covers the final (post-invalidation) values plus the
    hit-observed flag."""
    from tensorbase_spark.sources.tables import load_table

    eng = _fresh_engine(spark, sf_dir, "qch")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("qch_src")
    eng.sql("create table qc_ord(ok Int64, status String, total Float64)")
    eng.sql(
        "insert into qc_ord select o_orderkey, o_orderstatus, o_totalprice "
        "from qch_src where o_orderkey % 5 = 0"
    )
    eng.sql("set use_query_cache = 1")
    q = (
        "select status, count(*) as n, round(sum(total), 2) as s "
        "from qc_ord group by status"
    )
    eng.sql(q).collect()
    eng.sql(q).collect()  # served from cache
    hits = eng.sql(
        "select count(*) as n from system.query_log "
        "where type = 'QueryCacheHit'"
    ).collect()[0][0]
    eng.sql("alter table qc_ord delete where ok % 10 = 0")  # new epoch
    out = eng.sql(q)
    from pyspark.sql import functions as F

    return out.select(
        "status", "n", "s", F.lit(bool(hits >= 1)).alias("cache_hit_seen")
    )


ENGINE_QUERY_CACHE_ORACLE = """
SELECT o_orderstatus AS status, count(*) AS n,
       round(sum(o_totalprice), 2) AS s, true AS cache_hit_seen
FROM orders WHERE o_orderkey % 5 = 0 AND o_orderkey % 10 <> 0
GROUP BY o_orderstatus
"""


QUERIES["engine_query_cache"] = Query(
    engine_query_cache, ENGINE_QUERY_CACHE_ORACLE, ("engine", "cache")
)


def engine_query_params(spark, sf_dir):
    """ClickHouse query parameters ({name:Type} bound via SET param_name —
    the prepared-statement surface; engine.py _bind_query_params casts the
    bound string to the declared BQL type, injection-safe).  The oracle
    spells the same query with the parameter values inlined."""
    from tensorbase_spark.sources.tables import load_table

    eng = TensorBaseEngine(spark)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("qp_src")
    eng.sql("set param_status = F, param_lo = 1000, param_cut = 1997-01-01")
    return eng.sql(
        "select toYear(o_orderdate) as y, count(*) as n, "
        "round(sum(o_totalprice), 2) as s from qp_src "
        "where o_orderstatus = {status:String} "
        "and o_orderkey > {lo:Int64} "
        "and o_orderdate < {cut:Date} "
        "group by toYear(o_orderdate)"
    )


ENGINE_QUERY_PARAMS_ORACLE = """
SELECT CAST(year(o_orderdate) AS INT) AS y, count(*) AS n,
       round(sum(o_totalprice), 2) AS s
FROM orders
WHERE o_orderstatus = 'F' AND o_orderkey > 1000
  AND o_orderdate < DATE '1997-01-01'
GROUP BY year(o_orderdate)
"""


QUERIES["engine_query_params"] = Query(
    engine_query_params, ENGINE_QUERY_PARAMS_ORACLE, ("engine", "params")
)


def engine_optimize_dedup(spark, sf_dir):
    """OPTIMIZE TABLE ... DEDUPLICATE [BY cols] (CH's merge-time exact
    dedup): duplicate rows inserted twice collapse back to one copy during
    the compaction rewrite; the BY form dedups on a key subset keeping one
    row per key.  The oracle recomputes both end states from the fixture."""
    from tensorbase_spark.sources.tables import load_table

    eng = _fresh_engine(spark, sf_dir, "odd")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("odd_src")
    eng.sql("create table od_ord(ok Int64, status String, total Float64)")
    sel = (
        "select o_orderkey, o_orderstatus, o_totalprice from odd_src "
        "where o_orderkey % 7 = 0"
    )
    eng.sql(f"insert into od_ord {sel}")
    eng.sql(f"insert into od_ord {sel}")  # exact duplicates
    eng.sql("optimize table od_ord deduplicate")
    return eng.sql(
        "select status, count(*) as n, round(sum(total), 2) as s "
        "from od_ord group by status"
    )


ENGINE_OPTIMIZE_DEDUP_ORACLE = """
SELECT o_orderstatus AS status, count(*) AS n,
       round(sum(o_totalprice), 2) AS s
FROM orders WHERE o_orderkey % 7 = 0
GROUP BY o_orderstatus
"""


QUERIES["engine_optimize_dedup"] = Query(
    engine_optimize_dedup, ENGINE_OPTIMIZE_DEDUP_ORACLE, ("engine", "ddl", "dedup")
)


def engine_replacing_final(spark, sf_dir):
    """ReplacingMergeTree + SELECT ... FINAL + OPTIMIZE ... FINAL
    (engine.py _rewrite_final / _merged_result_df; upstream-CH's most-used
    mutable-data pattern — the reference has only BaseStorage appends).
    Every order is an upsert of its customer's row keyed on o_custkey with
    o_orderkey as the version; FINAL must serve the max-version row per
    key WITHOUT a physical merge, and OPTIMIZE ... FINAL must materialize
    the same result so plain reads equal FINAL reads afterwards."""
    from tensorbase_spark.sources.tables import load_table

    eng = _fresh_engine(spark, sf_dir, "rmt")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("rmt_src")
    eng.sql(
        "create table rv_t (k Int64, v Float64, ver Int64) "
        "ENGINE = ReplacingMergeTree(ver) ORDER BY k"
    )
    eng.sql(
        "insert into rv_t select o_custkey, o_totalprice, o_orderkey "
        "from rmt_src"
    )
    n_raw = eng.sql("select count(*) as n from rv_t").collect()[0][0]
    final_read = eng.sql(
        "select count(*) as n, round(sum(v), 4) as sv, max(ver) as mxv "
        "from rv_t final"
    ).collect()[0]
    eng.sql("optimize table rv_t final")
    return eng.sql(
        f"select {n_raw} as n_raw, {final_read[0]} as n_final, "
        f"cast({final_read[1]} as double) as sv_final, "
        f"{final_read[2]} as mxv_final, count(*) as n_merged, "
        "round(sum(v), 4) as sv_merged from rv_t"
    )


ENGINE_REPLACING_FINAL_ORACLE = """
WITH latest AS (
  SELECT o_custkey AS k, o_totalprice AS v, o_orderkey AS ver,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderkey DESC) AS rn
  FROM orders
), fin AS (SELECT * FROM latest WHERE rn = 1)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_raw,
       CAST(count(*) AS BIGINT)     AS n_final,
       round(sum(v), 4)             AS sv_final,
       max(ver)                     AS mxv_final,
       CAST(count(*) AS BIGINT)     AS n_merged,
       round(sum(v), 4)             AS sv_merged
FROM fin
"""


QUERIES["engine_replacing_final"] = Query(
    engine_replacing_final, ENGINE_REPLACING_FINAL_ORACLE,
    ("engine", "ddl", "merge-tree"),
)


def engine_summing_final(spark, sf_dir):
    """SummingMergeTree + FINAL (engine.py _rewrite_final): per-key
    continuous pre-aggregation — numeric non-key columns sum, others take
    the deterministic min stand-in; OPTIMIZE ... FINAL materializes the
    rollup so the table physically holds |keys| rows afterwards."""
    from tensorbase_spark.sources.tables import load_table

    eng = _fresh_engine(spark, sf_dir, "smt")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("smt_src")
    eng.sql(
        "create table sm_t (k String, cnt Int64, amt Float64) "
        "ENGINE = SummingMergeTree ORDER BY k"
    )
    eng.sql(
        "insert into sm_t select o_orderpriority, 1, o_totalprice "
        "from smt_src"
    )
    pre = eng.sql(
        "select k, cnt, round(amt, 4) as amt from sm_t final"
    )
    pre.collect()  # FINAL read works pre-merge
    eng.sql("optimize table sm_t final")
    return eng.sql(
        "select k, cnt, round(amt, 4) as amt, "
        "(select count(*) from sm_t) as n_physical from sm_t final"
    )


ENGINE_SUMMING_FINAL_ORACLE = """
WITH rolled AS (
  SELECT o_orderpriority AS k, CAST(count(*) AS BIGINT) AS cnt,
         round(sum(o_totalprice), 4) AS amt
  FROM orders GROUP BY o_orderpriority
)
SELECT k, cnt, amt,
       (SELECT CAST(count(*) AS BIGINT) FROM rolled) AS n_physical
FROM rolled
"""


QUERIES["engine_summing_final"] = Query(
    engine_summing_final, ENGINE_SUMMING_FINAL_ORACLE,
    ("engine", "ddl", "merge-tree"),
)


def engine_plain_view(spark, sf_dir):
    """Plain CREATE [OR REPLACE] VIEW (engine.py _create_view; upstream-CH
    stored-query views — distinct from the MV trigger machinery): the body
    goes through the dialect layer at definition time (toYear here), OR
    REPLACE swaps the definition in place, and reads through the view see
    the new body."""
    from tensorbase_spark.sources.tables import load_table

    eng = _fresh_engine(spark, sf_dir, "vw")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("vw_src")
    eng.sql("create table vo_t (ok Int64, d Date, tp Float64)")
    eng.sql("insert into vo_t select o_orderkey, o_orderdate, o_totalprice from vw_src")
    eng.sql(
        "create view v_year as select toYear(d) as y, count(*) as n, "
        "round(sum(tp), 2) as s from vo_t group by toYear(d)"
    )
    eng.sql("create view if not exists v_year as select 1 as nope")  # no-op
    first = eng.sql("select count(*) as n from v_year").collect()[0][0]
    eng.sql(
        "create or replace view v_year as select toYear(d) as y, count(*) as n, "
        "round(sum(tp), 2) as s from vo_t where ok % 2 = 0 group by toYear(d)"
    )
    return eng.sql(
        f"select y, n, s, {first} as n_years_all from v_year"
    )


ENGINE_PLAIN_VIEW_ORACLE = """
WITH all_years AS (
  SELECT CAST(count(DISTINCT year(o_orderdate)) AS BIGINT) AS n_years_all
  FROM orders
)
SELECT year(o_orderdate) AS y, count(*) AS n,
       round(sum(o_totalprice), 2) AS s,
       (SELECT n_years_all FROM all_years) AS n_years_all
FROM orders WHERE o_orderkey % 2 = 0
GROUP BY year(o_orderdate)
"""


QUERIES["engine_plain_view"] = Query(
    engine_plain_view, ENGINE_PLAIN_VIEW_ORACLE, ("engine", "ddl", "view")
)


def engine_aggregating_mv(spark, sf_dir):
    """THE ClickHouse continuous-aggregation pattern, end to end:
    AggregateFunction-typed columns + ENGINE = AggregatingMergeTree + a
    materialized view writing -State partials per ingest block + OPTIMIZE
    FINAL compacting states + -Merge reads (types.py AggregateFunction;
    engine.py _merged_result_df / _rewrite_final / MV trigger).  Events
    ingest in two blocks so the MV provably accumulates per-block states;
    the -Merge read must equal the direct aggregate over the raw fixture
    both BEFORE and after the physical state merge."""
    from tensorbase_spark.sources.tables import load_table

    eng = _fresh_engine(spark, sf_dir, "amv")
    load_table(spark, sf_dir, "events").createOrReplaceTempView("amv_src")
    eng.sql("create table raw_ev (d Date, typ String, uid Int64, v Float64)")
    eng.sql(
        "create table agg_daily (d Date, typ String, "
        "n AggregateFunction(count, Int64), "
        "u AggregateFunction(uniq, Int64), "
        "s AggregateFunction(sum, Float64), "
        "mx AggregateFunction(max, Float64)) "
        "ENGINE = AggregatingMergeTree ORDER BY d, typ"
    )
    eng.sql(
        "create materialized view amv_roll to agg_daily as "
        "select d, typ, countState(uid) as n, uniqState(uid) as u, "
        "sumState(v) as s, maxState(v) as mx from raw_ev group by d, typ"
    )
    base = (
        "select toDate(ts) as d, event_type as typ, user_id as uid, "
        "value as v from amv_src"
    )
    eng.sql(f"insert into raw_ev {base} where user_id % 2 = 0")
    eng.sql(f"insert into raw_ev {base} where user_id % 2 = 1")
    pre = eng.sql(
        "select count(*) as n_state_rows from agg_daily"
    ).collect()[0][0]
    eng.sql("optimize table agg_daily final")
    post = eng.sql(
        "select count(*) as n_state_rows from agg_daily"
    ).collect()[0][0]
    return eng.sql(
        "select typ, countMerge(n) as n_events, uniqMerge(u) as n_users, "
        "round(sumMerge(s), 4) as sv, round(maxMerge(mx), 4) as mxv, "
        f"cast({pre} as bigint) as n_state_rows_pre, "
        f"cast({post} as bigint) as n_state_rows_post "
        "from agg_daily group by typ"
    )


ENGINE_AGGREGATING_MV_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, event_type AS typ FROM events
), grain AS (
  SELECT count(*) AS n FROM (
    SELECT CAST(ts AS DATE) AS d, event_type, user_id % 2 AS blk
    FROM events GROUP BY 1, 2, 3
  )
), merged_grain AS (
  SELECT count(*) AS n FROM (
    SELECT CAST(ts AS DATE) AS d, event_type FROM events GROUP BY 1, 2
  )
)
SELECT event_type AS typ,
       CAST(count(*) AS BIGINT)          AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       round(sum(value), 4)              AS sv,
       round(max(value), 4)              AS mxv,
       (SELECT CAST(n AS BIGINT) FROM grain)        AS n_state_rows_pre,
       (SELECT CAST(n AS BIGINT) FROM merged_grain) AS n_state_rows_post
FROM events GROUP BY event_type
"""


QUERIES["engine_aggregating_mv"] = Query(
    engine_aggregating_mv, ENGINE_AGGREGATING_MV_ORACLE,
    ("engine", "ddl", "merge-tree", "mv"),
)


def engine_collapsing_cdc(spark, sf_dir):
    """VersionedCollapsingMergeTree — CH's CDC/state-update engine
    (engine.py _merged_result_df versionedcollapsing branch): every order
    inserts a +1 state at version 1; even-keyed orders then UPDATE —
    a -1 cancel of version 1 plus a +1 state at version 2 with a 10%%
    price bump.  FROM t FINAL must collapse the cancelled pairs and serve
    odd orders at v1 and even orders at v2; OPTIMIZE FINAL materializes
    the collapse (row count drops from 2n_even extra rows to n)."""
    from tensorbase_spark.sources.tables import load_table

    eng = _fresh_engine(spark, sf_dir, "vcc")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("vcc_src")
    eng.sql(
        "create table bal (ok Int64, st String, amt Float64, "
        "sign Int8, ver Int64) "
        "ENGINE = VersionedCollapsingMergeTree(sign, ver) ORDER BY ok"
    )
    eng.sql(
        "insert into bal select o_orderkey, o_orderstatus, o_totalprice, "
        "1, 1 from vcc_src"
    )
    eng.sql(
        "insert into bal select o_orderkey, o_orderstatus, o_totalprice, "
        "-1, 1 from vcc_src where o_orderkey % 2 = 0"
    )
    eng.sql(
        "insert into bal select o_orderkey, o_orderstatus, "
        "o_totalprice * 1.1, 1, 2 from vcc_src where o_orderkey % 2 = 0"
    )
    n_raw = eng.sql("select count(*) as n from bal").collect()[0][0]
    eng.sql("optimize table bal final")
    n_merged = eng.sql("select count(*) as n from bal").collect()[0][0]
    return eng.sql(
        "select st, count(*) as n, round(sum(amt), 2) as s, "
        "max(ver) as mx_ver, "
        f"cast({n_raw} as bigint) as n_raw, "
        f"cast({n_merged} as bigint) as n_merged "
        "from bal final group by st"
    )


ENGINE_COLLAPSING_CDC_ORACLE = """
WITH fin AS (
  SELECT o_orderstatus AS st,
         CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice * 1.1
              ELSE o_totalprice END AS amt,
         CASE WHEN o_orderkey % 2 = 0 THEN 2 ELSE 1 END AS ver
  FROM orders
), counts AS (
  SELECT CAST((SELECT count(*) FROM orders)
              + 2 * (SELECT count(*) FROM orders WHERE o_orderkey % 2 = 0)
              AS BIGINT) AS n_raw,
         (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_merged
)
SELECT st, count(*) AS n, round(sum(amt), 2) AS s,
       CAST(max(ver) AS BIGINT) AS mx_ver, n_raw, n_merged
FROM fin CROSS JOIN counts
GROUP BY st, n_raw, n_merged
"""


QUERIES["engine_collapsing_cdc"] = Query(
    engine_collapsing_cdc, ENGINE_COLLAPSING_CDC_ORACLE,
    ("engine", "ddl", "merge-tree", "cdc"),
)


def engine_lightweight_delete(spark, sf_dir):
    """Upstream-CH lightweight ``DELETE FROM t WHERE cond`` (engine.py
    _dispatch delete-from branch; the reference's storage is append-only —
    beyond-reference surface).  Routed through the same partition-selective
    mutation rewrite as ALTER DELETE, so only partitions the predicate can
    touch are rewritten.  Two deletes compose: a status sweep, then a
    keyed residue delete; the read-back aggregates what survives."""
    from tensorbase_spark.sources.tables import load_table

    eng = _fresh_engine(spark, sf_dir, "ldel")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("ldel_src")
    eng.sql(
        "create table ord_ld(ok Int64, st String, total Float64) "
        "partition by rem(ok, 8)"
    )
    eng.sql(
        "insert into ord_ld select o_orderkey, o_orderstatus, o_totalprice "
        "from ldel_src"
    )
    eng.sql("delete from ord_ld where st = 'F'")
    eng.sql("delete from ord_ld where ok % 8 = 3 and total < 100000")
    return eng.sql(
        "select st, count(*) as n, round(sum(total), 2) as s "
        "from ord_ld group by st"
    )


ENGINE_LIGHTWEIGHT_DELETE_ORACLE = """
SELECT o_orderstatus AS st, count(*) AS n, round(sum(o_totalprice), 2) AS s
FROM orders
WHERE NOT (o_orderstatus = 'F')
  AND NOT (o_orderkey % 8 = 3 AND o_totalprice < 100000)
GROUP BY o_orderstatus
"""


QUERIES["engine_lightweight_delete"] = Query(
    engine_lightweight_delete, ENGINE_LIGHTWEIGHT_DELETE_ORACLE,
    ("engine", "mutation", "delete"),
)


def ch_merge_table_function(spark, sf_dir):
    """Upstream-CH ``merge(['db',] 'regexp')`` + ``view(subquery)`` table
    functions (engine.py _rewrite_table_tf; the reference's grammar stops
    at numbers()/remote(), bql.pest:133-139,349-353).  Orders split into
    per-year tables; merge('^ord_y') reads them as one with the ``_table``
    virtual column, and the same total is recomputed through view() as a
    derived table — both paths must agree."""
    from tensorbase_spark.sources.tables import load_table

    eng = _fresh_engine(spark, sf_dir, "mrgtf")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("mrg_src")
    for y in (1996, 1997):
        eng.sql(f"create table ord_y{y}(ok Int64, total Float64)")
        eng.sql(
            f"insert into ord_y{y} select o_orderkey, o_totalprice "
            f"from mrg_src where toYear(o_orderdate) = {y}"
        )
    return eng.sql(
        "select m._table as tbl, count(*) as n, round(sum(m.total), 2) as s, "
        "max(v.grand_n) as grand_n "
        "from merge('^ord_y') as m "
        "cross join view(select count(*) as grand_n from merge('^ord_y')) as v "
        "group by m._table"
    )


CH_MERGE_TF_ORACLE = """
WITH u AS (
  SELECT 'ord_y1996' AS tbl, o_orderkey, o_totalprice FROM orders
  WHERE year(o_orderdate) = 1996
  UNION ALL
  SELECT 'ord_y1997' AS tbl, o_orderkey, o_totalprice FROM orders
  WHERE year(o_orderdate) = 1997
)
SELECT tbl, count(*) AS n, round(sum(o_totalprice), 2) AS s,
       (SELECT CAST(count(*) AS BIGINT) FROM u) AS grand_n
FROM u GROUP BY tbl
"""


QUERIES["ch_merge_table_function"] = Query(
    ch_merge_table_function, CH_MERGE_TF_ORACLE,
    ("engine", "table-function", "merge", "view"),
)


def engine_ingest_partitioned(spark, sf_dir):
    """The reference's headline INGEST shape (README "~2x ClickHouse";
    harness crates/tests_integ/benches/bench_ingestion.rs:6-40) as a
    tracked bench row: DDL + bulk INSERT...SELECT of lineitem into a
    rem(key, 32)-partitioned table + the reference's own sum-verify
    read-back.  Exercises the full write path — typed cast, static
    partition-count guard (rem() needs no guard job), partition-aligned
    parallelism-sized shuffle, dynamic-partition commit (PLANS.md §10)."""
    from tensorbase_spark.sources.tables import load_table

    eng = _fresh_engine(spark, sf_dir, "ing")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("ing_src")
    eng.sql(
        "create table li_ing(ok Int64, qty Float64, price Float64) "
        "partition by rem(ok, 32)"
    )
    eng.sql(
        "insert into li_ing select l_orderkey, l_quantity, l_extendedprice "
        "from ing_src"
    )
    return eng.sql(
        "select count(*) as n, cast(sum(cast(qty as bigint)) as bigint) as sq, "
        "round(sum(price), 2) as sp, "
        "cast(count(distinct ok % 32) as bigint) as n_parts from li_ing"
    )


ENGINE_INGEST_ORACLE = """
SELECT count(*) AS n,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq,
       round(sum(l_extendedprice), 2) AS sp,
       CAST(count(DISTINCT l_orderkey % 32) AS BIGINT) AS n_parts
FROM lineitem
"""


QUERIES["engine_ingest_partitioned"] = Query(
    engine_ingest_partitioned, ENGINE_INGEST_ORACLE,
    ("engine", "ingest", "write-path"), bench=True,
)


def engine_ingest_reinterp(spark, sf_dir):
    """The same full write path as engine_ingest_partitioned but with the
    key declared UInt64 under ``SET uint64_storage = 'reinterpret'``
    (types.ParsedType.reinterp): stores as Int64 two's-complement, closing
    the measured 1.6x Decimal(20,0) encode tax (PLANS.md §10 round-7 A/B:
    parity with the Int64 floor).  l_orderkey values are far below 2^63,
    so every aggregate here is range-exact; the verify read-back must
    therefore match the plain-Int64 oracle bit for bit."""
    from tensorbase_spark.sources.tables import load_table

    eng = _fresh_engine(spark, sf_dir, "ingr")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("ingr_src")
    eng.sql("set uint64_storage = 'reinterpret'")
    eng.sql(
        "create table li_ri(ok UInt64, qty Float64, price Float64) "
        "partition by rem(ok, 32)"
    )
    eng.sql("set uint64_storage = 'decimal'")
    eng.sql(
        "insert into li_ri select l_orderkey, l_quantity, l_extendedprice "
        "from ingr_src"
    )
    return eng.sql(
        "select count(*) as n, cast(sum(cast(qty as bigint)) as bigint) as sq, "
        "round(sum(price), 2) as sp, "
        "cast(count(distinct ok % 32) as bigint) as n_parts from li_ri"
    )


QUERIES["engine_ingest_reinterp"] = Query(
    engine_ingest_reinterp, ENGINE_INGEST_ORACLE,
    ("engine", "ingest", "write-path", "types"), bench=True,
)


def engine_buffer_flush(spark, sf_dir):
    """ENGINE = Buffer with REAL buffering semantics (round 7): inserted
    blocks park in memory — the target stays empty and reads THROUGH the
    alias see target + pending (the CH Buffer read contract) — until
    OPTIMIZE TABLE flushes all pending blocks as one partitioned write
    (engine.py flush_buffer; CH flushes on OPTIMIZE/DROP the same way).
    The pre-flush counts ride along as literal columns so the driver's
    one hash checks the visibility rule AND the flushed result."""
    from pyspark.sql import functions as F

    from tensorbase_spark.sources.tables import load_table

    eng = _fresh_engine(spark, sf_dir, "bfl")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("bfl_src")
    eng.sql("create table bfl_tgt(ok Int64, qty Float64)")
    eng.sql(
        "create table bfl_buf(ok Int64, qty Float64) ENGINE = "
        "Buffer(currentDatabase(), bfl_tgt, 64, 10, 100, 10000, 1000000, "
        "10000000, 100000000)"
    )
    eng.sql(
        "insert into bfl_buf select l_orderkey, l_quantity from bfl_src "
        "where l_orderkey % 3 = 0"
    )
    eng.sql(
        "insert into bfl_buf select l_orderkey, l_quantity from bfl_src "
        "where l_orderkey % 3 = 1"
    )
    pre_tgt = eng.sql("select count(*) as n from bfl_tgt").collect()[0].n
    pre_buf = eng.sql("select count(*) as n from bfl_buf").collect()[0].n
    eng.sql("optimize table bfl_buf")  # flush
    return eng.sql(
        "select count(*) as post_rows, "
        "cast(sum(cast(qty as bigint)) as bigint) as post_qty "
        "from bfl_tgt"
    ).select(
        F.lit(int(pre_tgt)).cast("long").alias("pre_tgt_rows"),
        F.lit(int(pre_buf)).cast("long").alias("pre_buf_rows"),
        F.col("post_rows"),
        F.col("post_qty"),
    )


ENGINE_BUFFER_FLUSH_ORACLE = """
SELECT CAST(0 AS BIGINT) AS pre_tgt_rows,
       CAST(count(*) AS BIGINT) AS pre_buf_rows,
       CAST(count(*) AS BIGINT) AS post_rows,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS post_qty
FROM lineitem WHERE l_orderkey % 3 IN (0, 1)
"""


QUERIES["engine_buffer_flush"] = Query(
    engine_buffer_flush, ENGINE_BUFFER_FLUSH_ORACLE,
    ("engine", "buffer", "ingest"),
)


def engine_null_distributed(spark, sf_dir):
    """ENGINE = Null + MV fan-out + Distributed/Buffer alias engines
    (engine.py _create_table alias branch / insert_df Null branch).  The
    CH ingest idiom end to end: rows INSERT through a Null table (storage
    discarded), the attached MV trigger aggregates each block into a real
    target, and a Distributed table over the target serves reads — on one
    Spark cluster the 'remote shards' ARE the local target, so results
    must equal aggregating the source directly; the Null table must stay
    empty."""
    from tensorbase_spark.sources.tables import load_table

    eng = _fresh_engine(spark, sf_dir, "nda")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("nda_src")
    eng.sql("create table agg_day(y Int64, st String, n Int64, s Float64)")
    eng.sql(
        "create table null_in(ok Int64, od Date, st String, total Float64) "
        "ENGINE = Null"
    )
    eng.sql(
        "create materialized view mv_nda to agg_day as "
        "select toYear(od) as y, st, count(*) as n, sum(total) as s "
        "from null_in group by toYear(od), st"
    )
    eng.sql(
        "insert into null_in select o_orderkey, o_orderdate, o_orderstatus, "
        "o_totalprice from nda_src"
    )
    eng.sql(
        "create table dist_rollup(y Int64, st String, n Int64, s Float64) "
        "ENGINE = Distributed(main_cluster, currentDatabase(), agg_day, rand())"
    )
    return eng.sql(
        "select y, st, n, round(s, 2) as s, "
        "(select count(*) from null_in) as null_rows "
        "from dist_rollup order by y, st"
    )


ENGINE_NULL_DIST_ORACLE = """
SELECT CAST(year(o_orderdate) AS BIGINT) AS y, o_orderstatus AS st,
       count(*) AS n, round(sum(o_totalprice), 2) AS s,
       CAST(0 AS BIGINT) AS null_rows
FROM orders
GROUP BY year(o_orderdate), o_orderstatus
ORDER BY y, st
"""


QUERIES["engine_null_distributed"] = Query(
    engine_null_distributed, ENGINE_NULL_DIST_ORACLE,
    ("engine", "ddl", "null-engine", "distributed", "mv"),
)


def engine_file_url_roundtrip(spark, sf_dir):
    """file()/url() table functions + INSERT INTO FUNCTION file (engine.py
    _rewrite_table_tf / _INSERT_FILE_RE; upstream-CH file I/O surface —
    the reference has INTO OUTFILE only).  Export a keyed slice of orders
    to parquet, read it back through file() AND url('file://...') — both
    paths must agree with recomputing from the source; EXISTS TABLE
    rides along as a scalar."""
    from tensorbase_spark.sources.tables import load_table

    eng = _fresh_engine(spark, sf_dir, "furl")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("furl_src")
    sf_tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    p = f"{_WH}/tb_eng_furl_{sf_tag}_export"
    eng.sql(
        f"insert into function file('{p}', 'Parquet') "
        "select o_orderkey as ok, o_orderstatus as st, o_totalprice as total "
        "from furl_src where o_orderkey % 5 = 0"
    )
    eng.sql("create table furl_flag(x Int8)")
    # EXISTS TABLE / CHECK TABLE are top-level verbs (like CH); their
    # scalar results ride into the row as literals
    exists_v = eng.sql("exists table furl_flag").collect()[0].result
    check_v = eng.sql("check table furl_flag").collect()[0].result
    return eng.sql(
        f"select st, count(*) as n, round(sum(total), 2) as s, "
        f"max(u.url_n) as url_n, "
        f"cast({exists_v} as int) as tbl_exists, "
        f"cast({check_v} as int) as tbl_check "
        f"from file('{p}', 'Parquet') "
        f"cross join (select count(*) as url_n "
        f"            from url('file://{p}', 'Parquet')) u "
        f"group by st"
    )


ENGINE_FILE_URL_ORACLE = """
WITH sl AS (
  SELECT o_orderstatus AS st, o_totalprice AS total FROM orders
  WHERE o_orderkey % 5 = 0
)
SELECT st, count(*) AS n, round(sum(total), 2) AS s,
       (SELECT count(*) FROM sl) AS url_n,
       1 AS tbl_exists, 1 AS tbl_check
FROM sl GROUP BY st
"""


QUERIES["engine_file_url_roundtrip"] = Query(
    engine_file_url_roundtrip, ENGINE_FILE_URL_ORACLE,
    ("engine", "table-function", "file", "io"),
)


def engine_backup_restore(spark, sf_dir):
    """BACKUP TABLE / RESTORE TABLE (engine.py _backup_restore; upstream-CH
    ops surface): a keyed orders slice is backed up (parquet files +
    create script, file copy not a query), restored under a new name, and
    the restored table must answer a partition-pruned aggregate
    identically to recomputing from the source."""
    import shutil

    from tensorbase_spark.sources.tables import load_table

    eng = _fresh_engine(spark, sf_dir, "bkr")
    sf_tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    bpath = f"{_WH}/tb_eng_bkr_{sf_tag}__backup"
    shutil.rmtree(bpath, ignore_errors=True)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("bkr_src")
    eng.sql(
        "create table ord_bk(ok Int64, od Date, total Float64) "
        "partition by toYYYYMM(od)"
    )
    eng.sql(
        "insert into ord_bk select o_orderkey, o_orderdate, o_totalprice "
        "from bkr_src where o_orderkey % 3 = 0"
    )
    eng.sql(f"backup table ord_bk to Disk('backups', '{bpath}')")
    eng.sql("drop table ord_bk")
    eng.sql(f"restore table ord_bk2 from '{bpath}'")
    return eng.sql(
        "select toYear(od) as y, count(*) as n, round(sum(total), 2) as s "
        "from ord_bk2 where od >= '1995-01-01' group by toYear(od)"
    )


ENGINE_BACKUP_ORACLE = """
SELECT CAST(year(o_orderdate) AS INT) AS y, count(*) AS n,
       round(sum(o_totalprice), 2) AS s
FROM orders
WHERE o_orderkey % 3 = 0 AND o_orderdate >= DATE '1995-01-01'
GROUP BY year(o_orderdate)
"""


QUERIES["engine_backup_restore"] = Query(
    engine_backup_restore, ENGINE_BACKUP_ORACLE,
    ("engine", "backup", "ops"),
)


def engine_nested_type(spark, sf_dir):
    """Nested(a T, b U) column type (types.py _NESTED_RE; CH's
    table-in-a-cell).  Storage is ONE array<struct> column — `items.pk`
    extracts Array(T) and ARRAY JOIN items explodes to lockstep scalars,
    both exactly CH's read surface; inserts arrive CH-style as
    per-subcolumn arrays and zip at the write boundary with the
    equal-lengths guard.  Line items nest under their order, then ARRAY
    JOIN must reconstitute the source aggregates exactly."""
    from tensorbase_spark.sources.tables import load_table

    eng = _fresh_engine(spark, sf_dir, "nst")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("nst_src")
    eng.sql(
        "create table ord_n(ok Int64, items Nested(pk Int64, qty Float64))"
    )
    eng.sql(
        # ONE sorted tuple array feeds both subcolumns — sorting pk and qty
        # independently would mis-pair them wherever the first sort key
        # duplicates (CH inserts also supply pre-aligned arrays)
        "insert into ord_n select l_orderkey, "
        "arrayMap(t -> tupleElement(t, 2), "
        "  arraySort(groupArray(tuple(l_linenumber, l_partkey, l_quantity)))), "
        "arrayMap(t -> tupleElement(t, 3), "
        "  arraySort(groupArray(tuple(l_linenumber, l_partkey, l_quantity)))) "
        "from nst_src where l_orderkey % 7 = 0 group by l_orderkey"
    )
    return eng.sql(
        "select items.pk % 10 as grp, count(*) as n, "
        "round(sum(items.qty), 1) as sq, "
        "max((select cast(size(items) as bigint) from ord_n "
        "     order by ok limit 1)) as first_width "
        "from ord_n array join items "
        "group by items.pk % 10"
    )


ENGINE_NESTED_ORACLE = """
WITH w AS (
  SELECT CAST(count(*) AS BIGINT) AS first_width FROM lineitem
  WHERE l_orderkey = (SELECT min(l_orderkey) FROM lineitem
                      WHERE l_orderkey % 7 = 0)
)
SELECT l_partkey % 10 AS grp, count(*) AS n,
       round(sum(l_quantity), 1) AS sq,
       (SELECT first_width FROM w) AS first_width
FROM lineitem WHERE l_orderkey % 7 = 0
GROUP BY l_partkey % 10
"""


QUERIES["engine_nested_type"] = Query(
    engine_nested_type, ENGINE_NESTED_ORACLE,
    ("engine", "types", "nested"),
)


def ch_parameterized_view(spark, sf_dir):
    """Upstream-CH PARAMETERIZED views (the reference's grammar has plain
    views only): CREATE VIEW keeps its {name:Type} placeholders and binds
    them per call site — SELECT ... FROM v(lo = ..., hi = ...) — with
    typed injection-safe literals; views may nest (a view calling another
    parameterized view, forwarding its own placeholder), and unbound
    placeholders fall back to the session SET param_* binding.  The query
    aggregates orders through a band-filtered view three ways (call-site
    literals, nested forwarding, session fallback) and the oracle
    recomputes each band directly."""
    from tensorbase_spark.sources.tables import load_table

    eng = _fresh_engine(spark, sf_dir, "pview")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("pv_orders")
    eng.sql(
        "create view pv_band as select o_orderkey as k, o_totalprice as p "
        "from pv_orders where o_orderkey >= {lo:Int64} "
        "and o_orderkey <= {hi:Int64}"
    )
    eng.sql(
        "create view pv_stats as select count(*) as n, "
        "cast(floor(sum(p)) as bigint) as total "
        "from pv_band(lo = {lo:Int64}, hi = 2000)"
    )
    eng.sql("set param_lo = 1200, param_hi = 1800")
    return eng.sql(
        "select 'literals' as variant, count(*) as n, "
        "cast(floor(sum(p)) as bigint) as total "
        "from pv_band(lo = 100, hi = 900) "
        "union all "
        "select 'nested' as variant, n, total from pv_stats(lo = 500) "
        "union all "
        "select 'session' as variant, count(*) as n, "
        "cast(floor(sum(p)) as bigint) as total from pv_band(lo = {lo:Int64}, "
        "hi = {hi:Int64})"
    )


CH_PARAMETERIZED_VIEW_ORACLE = """
SELECT 'literals' AS variant, count(*) AS n,
       CAST(floor(sum(o_totalprice)) AS BIGINT) AS total
FROM orders WHERE o_orderkey BETWEEN 100 AND 900
UNION ALL
SELECT 'nested', count(*),
       CAST(floor(sum(o_totalprice)) AS BIGINT)
FROM orders WHERE o_orderkey BETWEEN 500 AND 2000
UNION ALL
SELECT 'session', count(*),
       CAST(floor(sum(o_totalprice)) AS BIGINT)
FROM orders WHERE o_orderkey BETWEEN 1200 AND 1800
"""


QUERIES["ch_parameterized_view"] = Query(
    ch_parameterized_view, CH_PARAMETERIZED_VIEW_ORACLE, ("engine", "views")
)


def engine_system_functions(spark, sf_dir):
    """system.functions introspection (upstream-CH; the reference has no
    system tables): the dialect layer's full function surface as
    registry-sourced (name, origin) rows.  The query pins a
    representative slice — one name per origin class plus the tier-11
    additions — and counts each origin, so the hash certifies both
    membership and the registry wiring (new tiers change counts only if
    the oracle's floor is crossed, which the >= guard prevents)."""
    eng = _fresh_engine(spark, sf_dir, "sysfn")
    return eng.sql(
        "select name, origin, has_column_shim from system.functions "
        "where name in ("
        "'toyear', 'bin', 'rounddown', 'tolastdayofmonth', 'toisoweek', "
        "'tomodifiedjulianday', 'quantile', 'histogram', "
        "'arraycumsumnonnegative', 'stringjaccardindex', 'xxhash64') "
        "order by name"
    )


ENGINE_SYSTEM_FUNCTIONS_ORACLE = """
SELECT * FROM (VALUES
  ('arraycumsumnonnegative', 'ch_template',   false),
  ('bin',                    'ch_template',   false),
  ('histogram',              'ch_parametric', false),
  ('quantile',               'ch_parametric', false),
  ('rounddown',              'ch_template',   false),
  ('stringjaccardindex',     'ch_template',   false),
  ('toisoweek',              'ch_template',   false),
  ('tolastdayofmonth',       'ch_template',   false),
  ('tomodifiedjulianday',    'ch_template',   false),
  ('toyear',                 'ch_template',   true),
  ('xxhash64',               'spark_builtin', false)
) AS t(name, origin, has_column_shim)
"""


QUERIES["engine_system_functions"] = Query(
    engine_system_functions, ENGINE_SYSTEM_FUNCTIONS_ORACLE,
    ("engine", "introspection"),
)


def ch_describe_query(spark, sf_dir):
    """DESCRIBE (SELECT ...) — upstream-CH query-schema introspection
    (the reference's DESC reads table metadata only, mgmt.rs:532): the
    output schema of an arbitrary query, analysis-only.  The described
    query exercises the dialect layer (toYear, a CH cast target, an
    aggregate alias), so the hash certifies the TRANSLATED plan's
    schema."""
    from tensorbase_spark.sources.tables import load_table

    eng = _fresh_engine(spark, sf_dir, "descq")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("dq_orders")
    return eng.sql(
        "describe (select toYear(o_orderdate) as y, "
        "cast(o_orderkey as UInt64) as k64, "
        "sum(o_totalprice) as total, count(*) as n "
        "from dq_orders group by toYear(o_orderdate), "
        "cast(o_orderkey as UInt64))"
    )


CH_DESCRIBE_QUERY_ORACLE = """
SELECT * FROM (VALUES
  ('y',     'int',           true),
  ('k64',   'decimal(20,0)', true),
  ('total', 'double',        true),
  ('n',     'bigint',        false)
) AS t(col_name, data_type, nullable)
"""


QUERIES["ch_describe_query"] = Query(
    ch_describe_query, CH_DESCRIBE_QUERY_ORACLE, ("engine", "introspection")
)


def engine_detach_attach(spark, sf_dir):
    """DETACH TABLE / ATTACH TABLE (upstream-CH catalog ops; the
    reference's meta layer has create/drop only, mgmt.rs:802-814): a
    detached table vanishes from SHOW TABLES and from name resolution
    while its data stays on disk; ATTACH restores it intact.  The query
    returns the lifecycle counts the oracle recomputes from the orders
    fixture."""
    from tensorbase_spark.sources.tables import load_table

    eng = _fresh_engine(spark, sf_dir, "detach")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("da_orders")
    eng.sql("create table da_t (k Int64, p Float64)")
    eng.sql(
        "insert into da_t select o_orderkey, o_totalprice from da_orders "
        "where o_orderkey % 13 = 0"
    )
    def _visible():
        return eng.sql("show tables").filter("tableName = 'da_t'").count()
    vis_before = _visible()
    eng.sql("detach table da_t")
    vis_during = _visible()
    resolvable_during = 1
    try:
        eng.sql("select count(*) from da_t").collect()
    except Exception:
        resolvable_during = 0
    eng.sql("attach table da_t")
    row = eng.sql(
        "select count(*) as n, cast(floor(sum(p)) as bigint) as total "
        "from da_t"
    ).collect()[0]
    return spark.createDataFrame(
        [(vis_before, vis_during, resolvable_during, row.n, row.total)],
        "vis_before int, vis_during int, resolvable_during int, "
        "n bigint, total bigint",
    )


ENGINE_DETACH_ATTACH_ORACLE = """
SELECT 1 AS vis_before, 0 AS vis_during, 0 AS resolvable_during,
       count(*) AS n,
       CAST(floor(sum(o_totalprice)) AS BIGINT) AS total
FROM orders WHERE o_orderkey % 13 = 0
"""


QUERIES["engine_detach_attach"] = Query(
    engine_detach_attach, ENGINE_DETACH_ATTACH_ORACLE, ("engine", "ddl")
)


def engine_kill_query(spark, sf_dir):
    """Live processlist + KILL QUERY end-to-end over the HTTP front door
    (upstream-CH ProcessList semantics; the reference's runtime is
    strictly synchronous with no processlist, mgmt.rs:984-1057 — this is
    the beyond-ref surface its concurrent front doors need).  A long
    scan started from one connection is listed in ``system.processes``
    from a SECOND connection; ``KILL QUERY … SYNC`` cancels its Spark
    job group mid-flight (interrupt-on-cancel); the victim's response
    dies instead of completing; the registry drains.  Returns the
    deterministic post-kill state."""
    import re as _re
    import threading
    import time

    from tensorbase_spark.sources.httpwire import HttpClient, serve_http

    eng = _fresh_engine(spark, sf_dir, "killq")
    srv, port = serve_http(eng)
    result: dict = {}
    try:
        def victim():
            try:
                with HttpClient(port=port) as c:
                    st, _h, data = c.raw(
                        query="select sum(cityHash64(toString(number)) "
                              "% 1000000) as s "
                              "from numbers(30000000000) FORMAT TSV",
                        params={"query_id": "kill-victim"},
                    )
                    result["status"], result["data"] = st, data
            except Exception as e:  # chunked stream aborted mid-kill
                result["error"] = repr(e)

        t = threading.Thread(target=victim, daemon=True)
        t.start()
        sc = spark.sparkContext
        deadline = time.time() + 60
        listed = False
        after = [None]
        with HttpClient(port=port) as c:
            while time.time() < deadline:
                _n, _t2, rows = c.execute(
                    "select query_id, user, interface "
                    "from system.processes "
                    "where query_id = 'kill-victim'"
                )
                if rows and sc.statusTracker().getJobIdsForGroup(
                    eng.job_group_for("kill-victim")
                ):
                    listed = rows == [("kill-victim", "default", "http")]
                    break
                time.sleep(0.1)
            _n, _t2, krows = c.execute(
                "kill query where query_id = 'kill-victim' sync"
            )
            t.join(30)
            victim_cancelled = (not t.is_alive()) and (
                "error" in result
                or not _re.fullmatch(rb"\d+\n", result.get("data", b""))
            )
            deadline = time.time() + 10
            while time.time() < deadline:
                _n, _t2, after = c.execute("show processlist")
                if not after:
                    break
                time.sleep(0.1)
    finally:
        srv.shutdown()
        srv.server_close()
    return spark.createDataFrame(
        [(
            int(listed),
            krows[0][0] if krows else "none",
            int(bool(victim_cancelled)),
            len(after),
        )],
        "listed int, kill_status string, victim_cancelled int, "
        "processes_after int",
    )


ENGINE_KILL_QUERY_ORACLE = """
SELECT 1 AS listed, 'finished' AS kill_status, 1 AS victim_cancelled,
       0 AS processes_after
"""


QUERIES["engine_kill_query"] = Query(
    engine_kill_query, ENGINE_KILL_QUERY_ORACLE, ("engine", "processlist")
)
