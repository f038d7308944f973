"""Per-operator coverage for SURVEY.md §2.1/§2.2 — one query per relational
operator, each with a DuckDB oracle.

Covers: all six join types (rel/core/Join.java:55, JoinRelType.java:24-71),
theta/band join (EnumerableNestedLoopJoin parity), Correlate/lateral,
Aggregate with ROLLUP/CUBE/GROUPING SETS (rel/core/Aggregate.java:109-135),
DISTINCT + FILTER agg calls (rel/core/AggregateCall.java:45-55), Window with
frames (rel/core/Window.java:211-236), Sort+offset+fetch (rel/core/Sort.java:45),
Union/Intersect/Minus ALL|DISTINCT (rel/core/Union.java:35 …), Values
(rel/core/Values.java:46), Uncollect [WITH ORDINALITY] (rel/core/Uncollect.java:46),
Collect→LISTAGG (SqlStdOperatorTable:2165-2179), Sample (rel/core/Sample.java:36),
IS [NOT] DISTINCT FROM, quantified ALL (SqlStdOperatorTable:404-440),
IN/EXISTS/scalar sub-queries (rex/RexSubQuery.java:49-100).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from drill_calcite_spark.queries.common import r2, r2_dsum, r4, t, ts

QUERIES = {}
ORACLES = {}


def q(name: str, sql: str | None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn
    return deco


# ------------------------------------------------------------------- joins
@q("join_left_outer", """
SELECT o_orderkey, c_custkey, c_acctbal
FROM orders LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 5000) c
  ON o_custkey = c_custkey
""")
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    ords = t(spark, sf_dir, "orders")
    rich = t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    return ords.join(rich, ords.o_custkey == rich.c_custkey, "left").select(
        "o_orderkey", "c_custkey", "c_acctbal"
    )


@q("join_right_outer", """
SELECT o_orderkey, c_custkey, c_acctbal
FROM (SELECT * FROM orders WHERE o_orderstatus = 'P') o
RIGHT JOIN customer ON o_custkey = c_custkey
""")
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    ords = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    cust = t(spark, sf_dir, "customer")
    return ords.join(cust, ords.o_custkey == cust.c_custkey, "right").select(
        "o_orderkey", "c_custkey", "c_acctbal"
    )


@q("join_full_outer", """
SELECT cn.nk AS cust_nation, sn.nk AS supp_nation
FROM (SELECT DISTINCT c_nationkey AS nk FROM customer) cn
FULL JOIN (SELECT DISTINCT s_nationkey AS nk FROM supplier) sn
  ON cn.nk = sn.nk
""")
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cn = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk")).distinct()
    sn = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk")).distinct()
    return cn.join(sn, cn["nk"] == sn["nk"], "full").select(
        cn["nk"].alias("cust_nation"), sn["nk"].alias("supp_nation")
    )


@q("join_semi", """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
""")
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    big = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@q("join_anti", """
SELECT p_partkey, p_name FROM part
WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey
                  AND l_quantity > 45)
""")
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part")
    hi = t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return part.join(hi, part.p_partkey == hi.l_partkey, "left_anti").select(
        "p_partkey", "p_name"
    )


@q("join_cross", """
SELECT a.r_name AS from_region, b.r_name AS to_region
FROM region a CROSS JOIN region b
""")
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = t(spark, sf_dir, "region").select(F.col("r_name").alias("from_region"))
    b = t(spark, sf_dir, "region").select(F.col("r_name").alias("to_region"))
    return a.crossJoin(b)


@q("join_band_theta", """
SELECT tier, count(*) AS n_orders,
       round(sum(o_totalprice::DECIMAL(18,6)), 2)::DOUBLE AS total
FROM orders
JOIN (VALUES ('small', 0.0, 100000.0),
             ('medium', 100000.0, 250000.0),
             ('large', 250000.0, 1e12)) AS tiers(tier, lo, hi)
  ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY tier ORDER BY tier
""")
def join_band_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure theta (band) join — Spark plans BroadcastNestedLoopJoin, the
    EnumerableNestedLoopJoin analogue; the tier table is broadcast."""
    ords = t(spark, sf_dir, "orders")
    tiers = F.broadcast(
        spark.createDataFrame(
            [("small", 0.0, 100000.0), ("medium", 100000.0, 250000.0),
             ("large", 250000.0, 1e12)],
            "tier string, lo double, hi double",
        )
    )
    return (
        ords.join(tiers, (ords.o_totalprice >= tiers.lo) & (ords.o_totalprice < tiers.hi))
        .groupBy("tier")
        .agg(F.count("*").alias("n_orders"),
             r2_dsum(F.col("o_totalprice")).alias("total"))
        .orderBy("tier")
    )


# -------------------------------------------------------------- aggregates
@q("agg_rollup", """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
       count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
""")
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("bigint").alias("g_flag"),
        F.grouping("l_linestatus").cast("bigint").alias("g_status"),
        F.count("*").alias("n"),
        r2(F.sum("l_quantity")).alias("sum_qty"),
    )


@q("agg_cube", """
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio,
       count(*) AS n, round(avg(o_totalprice), 4) AS avg_price
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""")
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    ords = t(spark, sf_dir, "orders")
    return ords.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("bigint").alias("g_status"),
        F.grouping("o_orderpriority").cast("bigint").alias("g_prio"),
        F.count("*").alias("n"),
        r4(F.avg("o_totalprice")).alias("avg_price"),
    )


@q("agg_grouping_sets", """
SELECT l_returnflag, l_linestatus, count(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
""")
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupingSets([["l_returnflag"], ["l_linestatus"], []],
                        "l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"))
    )


@q("agg_distinct_filter", """
SELECT l_returnflag,
       count(DISTINCT l_suppkey) AS n_supp,
       count(DISTINCT l_partkey) AS n_part,
       round(sum(l_quantity) FILTER (WHERE l_discount > 0.05), 2) AS qty_hi_disc,
       count(*) FILTER (WHERE l_tax = 0.0) AS n_no_tax
FROM lineitem GROUP BY l_returnflag
""")
def agg_distinct_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT + FILTER per aggregate call (AggregateCall.java:45-55)."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
        r2(F.sum(F.when(F.col("l_discount") > 0.05, F.col("l_quantity")))).alias("qty_hi_disc"),
        F.count(F.when(F.col("l_tax") == 0.0, F.lit(1))).alias("n_no_tax"),
    )


@q("agg_having", """
SELECT o_custkey, count(*) AS n_orders,
       round(sum(o_totalprice::DECIMAL(18,6)), 2)::DOUBLE AS spent
FROM orders GROUP BY o_custkey HAVING count(*) >= 15
""")
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    ords = t(spark, sf_dir, "orders")
    return (
        ords.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"),
             r2_dsum(F.col("o_totalprice")).alias("spent"))
        .filter(F.col("n_orders") >= 15)
    )


@q("agg_stats", """
SELECT l_returnflag,
       round(stddev_samp(l_extendedprice), 4) AS sd_price,
       round(var_pop(l_quantity), 4)          AS var_qty,
       round(covar_pop(l_quantity, l_extendedprice), 2) AS covar_qp,
       round(corr(l_quantity, l_extendedprice), 6)      AS corr_qp,
       min(l_extendedprice) AS min_price,
       max(l_extendedprice) AS max_price
FROM lineitem GROUP BY l_returnflag
""")
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (SqlStdOperatorTable:917-1141)."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        r4(F.stddev_samp("l_extendedprice")).alias("sd_price"),
        r4(F.var_pop("l_quantity")).alias("var_qty"),
        r2(F.covar_pop("l_quantity", "l_extendedprice")).alias("covar_qp"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qp"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
    )


@q("agg_sum0_anyvalue", """
SELECT l_returnflag,
       round(coalesce(sum(CASE WHEN l_linestatus = 'F' AND l_quantity > 48
                          THEN l_extendedprice::DECIMAL(18,6) END)::DOUBLE,
                      0.0), 2)                       AS sum0_f_heavy,
       round(coalesce(sum(CASE WHEN l_quantity > 50
                          THEN l_extendedprice::DECIMAL(18,6) END)::DOUBLE,
                      0.0), 2)                       AS sum0_empty,
       any_value(upper(l_returnflag))                AS anyv_flag
FROM lineitem GROUP BY l_returnflag
""")
def agg_sum0_anyvalue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$SUM0 (SqlStdOperatorTable:1135 — the sum-or-ZERO aggregate
    Calcite itself substitutes when decorrelating; rendered as
    COALESCE(SUM(...), 0) on both engines, with `sum0_empty` pinning the
    all-NULL-group → 0 contract since l_quantity never exceeds 50) and
    ANY_VALUE (:951 — nondeterministic by spec, made deterministic here
    by aggregating a value constant within its group, the only form an
    oracle can check)."""
    li = t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,6)")

    def sum0(cond):
        return F.round(
            F.coalesce(F.sum(F.when(cond, price)).cast("double"),
                       F.lit(0.0)), 2)

    return li.groupBy("l_returnflag").agg(
        sum0((F.col("l_linestatus") == "F") & (F.col("l_quantity") > 48))
        .alias("sum0_f_heavy"),
        sum0(F.col("l_quantity") > 50).alias("sum0_empty"),
        F.any_value(F.upper("l_returnflag")).alias("anyv_flag"),
    )


@q("agg_bitops", """
SELECT o_orderstatus,
       bit_and(o_custkey) AS band, bit_or(o_custkey) AS bor
FROM orders GROUP BY o_orderstatus
""")
def agg_bitops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ords = t(spark, sf_dir, "orders")
    return ords.groupBy("o_orderstatus").agg(
        F.bit_and("o_custkey").alias("band"), F.bit_or("o_custkey").alias("bor")
    )


@q("agg_collect_listagg", """
SELECT l_returnflag,
       array_to_string(list_sort(array_agg(DISTINCT l_linestatus)), ',') AS statuses,
       string_agg(DISTINCT l_linestatus, '|' ORDER BY l_linestatus)      AS listagg_statuses
FROM lineitem GROUP BY l_returnflag
""")
def agg_collect_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLLECT (SqlStdOperatorTable:2165) + LISTAGG WITHIN GROUP (:2179),
    rendered as sorted strings so the value-hash is deterministic."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.array_join(F.sort_array(F.collect_set("l_linestatus")), ",").alias("statuses"),
        F.array_join(F.sort_array(F.collect_set("l_linestatus")), "|").alias("listagg_statuses"),
    )


# ----------------------------------------------------------------- windows
@q("window_rank_topk", """
SELECT * FROM (
  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
         row_number()  OVER w AS rn,
         rank()        OVER w AS rnk,
         dense_rank()  OVER w AS drnk
  FROM lineitem
  WINDOW w AS (PARTITION BY l_returnflag
               ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber)
) WHERE rn <= 5
""")
def window_rank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_returnflag").orderBy(
        F.desc("l_extendedprice"), "l_orderkey", "l_linenumber"
    )
    return (
        li.select(
            "l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
        .filter(F.col("rn") <= 5)
    )


@q("window_running_frames", """
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
       round(avg(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS moving_avg3
FROM orders
""")
def window_running_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROWS frames with explicit bounds (rel/core/Window.java:211-236)."""
    ords = t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return ords.select(
        "o_custkey", "o_orderkey",
        r2(F.sum("o_totalprice").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)))
        .alias("running_total"),
        r4(F.avg("o_totalprice").over(w.rowsBetween(-2, W.currentRow))).alias("moving_avg3"),
    )


@q("window_value_funcs", """
SELECT o_custkey, o_orderkey,
       first_value(o_totalprice) OVER w AS first_price,
       last_value(o_totalprice)  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_price,
       nth_value(o_totalprice, 2) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""")
def window_value_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ords = t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wfull = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return ords.select(
        "o_custkey", "o_orderkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(wfull).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(wfull).alias("second_price"),
    )


@q("window_lead_lag", """
SELECT user_id, event_id,
       lag(value)  OVER w AS prev_value,
       lead(value) OVER w AS next_value,
       round(value - lag(value) OVER w, 6) AS delta
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""")
def window_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id", "event_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.round(F.col("value") - F.lag("value").over(w), 6).alias("delta"),
    )


@q("window_distribution", """
SELECT o_orderkey,
       ntile(4)       OVER (ORDER BY o_orderkey) AS quartile,
       round(cume_dist()    OVER (ORDER BY o_totalprice, o_orderkey), 6) AS cd,
       round(percent_rank() OVER (ORDER BY o_totalprice, o_orderkey), 6) AS pr
FROM orders
""")
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE/CUME_DIST/PERCENT_RANK (SqlStdOperatorTable:945-981). Global
    (unpartitioned) window — fine at test SF, documented as single-partition."""
    ords = t(spark, sf_dir, "orders")
    w_key = W.orderBy("o_orderkey")
    w_price = W.orderBy("o_totalprice", "o_orderkey")
    return ords.select(
        "o_orderkey",
        F.ntile(4).over(w_key).alias("quartile"),
        F.round(F.cume_dist().over(w_price), 6).alias("cd"),
        F.round(F.percent_rank().over(w_price), 6).alias("pr"),
    )


_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


@q("pivot_dynamic", """
SELECT o_orderstatus, """ + ", ".join(
    f"""count(*) FILTER (o_orderpriority = '{p}') AS "{p}\"""" for p in _PRIORITIES
) + """
FROM orders GROUP BY o_orderstatus
""")
def pivot_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT as a first-class relational op (Calcite models it as
    Aggregate-over-Project; SqlLibraryOperators PIVOT syntax lands in
    1.26+ but the algebra exists in 1.21): Spark's groupBy().pivot() with
    an EXPLICIT value list — never the two-pass value-discovery scan,
    which at 100 TB would read the fact table twice. Empty cells coalesce
    to 0 to match the FILTER-aggregate oracle."""
    ords = t(spark, sf_dir, "orders")
    out = (
        ords.groupBy("o_orderstatus")
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "o_orderstatus",
        *[F.coalesce(F.col(f"`{p}`"), F.lit(0)).alias(p) for p in _PRIORITIES],
    )


@q("window_range_frame", """
WITH e AS (SELECT user_id, event_id, epoch_us(ts) // 1000000 AS sec, value
           FROM events WHERE event_id < 5000)
SELECT user_id, event_id,
       (sum(value::DECIMAL(18,6)) OVER (
         PARTITION BY user_id ORDER BY sec
         RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW))::DOUBLE AS hour_sum,
       count(*) OVER (
         PARTITION BY user_id ORDER BY sec
         RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS hour_n
FROM e
""")
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frames (rel/core/Window.java:211-236 ``isRows=false``): the
    frame is VALUE-bounded, not row-bounded — all events within 3600
    seconds before the current row's event time, regardless of how many
    rows that is (ties in the order key all join the frame, the defining
    RANGE-vs-ROWS difference). Event time is bucketed to epoch seconds
    with integer µs division so both engines bound identical frames."""
    from drill_calcite_spark.functions.time import epoch_micros, floor_div

    ev = t(spark, sf_dir, "events").filter(F.col("event_id") < 5000)
    e = ev.select(
        "user_id", "event_id",
        floor_div(epoch_micros("ts"), 1_000_000).alias("sec"),
        "value",
    )
    w = (W.partitionBy("user_id").orderBy("sec")
         .rangeBetween(-3600, W.currentRow))
    return e.select(
        "user_id", "event_id",
        F.sum(F.col("value").cast("decimal(18,6)")).over(w)
        .cast("double").alias("hour_sum"),
        F.count(F.lit(1)).over(w).alias("hour_n"),
    )


@q("window_distribution_scalable", """
SELECT o_orderkey,
       CAST(ntile(4) OVER w AS BIGINT)       AS ntile_bucket,
       round(cume_dist() OVER w, 6)          AS cd,
       round(percent_rank() OVER w, 6)       AS pr
FROM orders
WINDOW w AS (ORDER BY o_totalprice, o_orderkey)
""")
def window_distribution_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE/CUME_DIST/PERCENT_RANK over a global order WITHOUT the
    single-partition window window_distribution documents: range
    repartition → per-range local ranks → bounded offset collection →
    closed-form distribution values (operators/ranks.py). The oracle runs
    the real window functions — identical hashes prove the distributed
    recipe computes exactly SQL semantics."""
    from drill_calcite_spark.operators.ranks import distributed_distribution

    ords = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    out = distributed_distribution(
        ords, ["o_totalprice", "o_orderkey"], ntile=4,
        num_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    return out.select(
        "o_orderkey",
        F.col("ntile_bucket").cast("bigint").alias("ntile_bucket"),
        F.round("cume_dist", 6).alias("cd"),
        F.round("percent_rank", 6).alias("pr"),
    )


@q("window_ignore_nulls", """
WITH e AS (
  SELECT event_id, event_type,
         CASE WHEN event_id % 3 = 0 THEN NULL ELSE user_id END AS v
  FROM events WHERE event_id < 5000
)
SELECT event_id, v,
       lead(v IGNORE NULLS) OVER w AS lead_in,
       lag(v IGNORE NULLS)  OVER w AS lag_in,
       nth_value(v, 2 IGNORE NULLS) OVER (PARTITION BY event_type
           ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS nth2_in,
       first_value(v IGNORE NULLS) OVER (PARTITION BY event_type
           ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_in,
       last_value(v IGNORE NULLS) OVER (PARTITION BY event_type
           ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_in
FROM e
WINDOW w AS (PARTITION BY event_type ORDER BY event_id)
""")
def window_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS on LEAD/LAG/NTH_VALUE/FIRST_VALUE/LAST_VALUE
    (SqlStdOperatorTable.java:1179-1183). PySpark's lead/lag builders don't
    expose the flag, so those two go through the SQL expression parser
    (`F.expr("lead(v, 1) IGNORE NULLS")` — the resolved plan is identical);
    nth_value/first/last take it natively."""
    e = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 5000)
        .select(
            "event_id", "event_type",
            F.when(F.col("event_id") % 3 == 0, F.lit(None).cast("long"))
            .otherwise(F.col("user_id")).alias("v"),
        )
    )
    w = W.partitionBy("event_type").orderBy("event_id")
    wfull = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return e.select(
        "event_id", "v",
        F.expr("lead(v, 1) IGNORE NULLS").over(w).alias("lead_in"),
        F.expr("lag(v, 1) IGNORE NULLS").over(w).alias("lag_in"),
        F.nth_value("v", 2, ignoreNulls=True).over(wfull).alias("nth2_in"),
        F.first("v", ignorenulls=True).over(wfull).alias("first_in"),
        F.last("v", ignorenulls=True).over(wfull).alias("last_in"),
    )


@q("agg_grouping_id", """
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
       count(*) AS n
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""")
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING_ID bitmask over a CUBE (SqlStdOperatorTable.java:209-226):
    bit i set ⇔ grouping column i is aggregated away, first column most
    significant — Spark's grouping_id() and DuckDB's multi-arg GROUPING
    share the convention."""
    ords = t(spark, sf_dir, "orders")
    return ords.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.count("*").alias("n"),
    )


@q("agg_grouping_having", """
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_st,
       CAST(GROUPING(o_orderstatus, o_orderpriority, o_orderstatus)
            AS BIGINT) AS gid3,
       count(*) AS n
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
HAVING GROUPING(o_orderstatus)
       <= GROUPING(o_orderstatus, o_orderpriority, o_orderstatus)
""")
def agg_grouping_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING()/GROUPING_ID() ARITHMETIC in HAVING over a ROLLUP —
    including Calcite's duplicate-argument GROUPING_ID weighting
    (agg.iq:651, CALCITE-1824 family). Runs the reference's dialect
    TEXT through the front door: sql._rewrite_having_grouping lifts the
    condition into a subquery projection (Spark resolves grouping
    functions only against the aggregate's own output),
    _rewrite_grouping_funcs expands the 3-arg duplicate form to the
    per-column weighted sum. DuckDB evaluates the same HAVING natively,
    so the hash pins the lift as semantics-preserving.

    Scale shape: one rollup aggregation (map-side partials over ≤
    |status|×|priority| cells) + a post-aggregate filter — the lift
    adds NO exchange (filter over the aggregate's own projection)."""
    from drill_calcite_spark.catalog import register_tables
    from drill_calcite_spark.sql import calcite_sql

    register_tables(spark, sf_dir)
    return calcite_sql(spark, """
        SELECT o_orderstatus, o_orderpriority,
               CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_st,
               CAST(GROUPING_ID(o_orderstatus, o_orderpriority,
                                o_orderstatus) AS BIGINT) AS gid3,
               count(*) AS n
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        HAVING GROUPING(o_orderstatus)
               <= GROUPING_ID(o_orderstatus, o_orderpriority,
                              o_orderstatus)
    """)


@q("agg_percentiles", """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
       round(quantile_cont(l_extendedprice, 0.90), 6) AS p90,
       quantile_disc(l_extendedprice, 0.50)           AS d50,
       round(median(l_quantity), 6)                   AS med_qty
FROM lineitem GROUP BY l_returnflag
""")
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENTILE_CONT / PERCENTILE_DISC / MEDIAN inverse-distribution
    aggregates (SqlStdOperatorTable.java:1832-1845): exact sort-based
    percentiles with linear interpolation (CONT) and the at-or-below value
    (DISC). Both engines interpolate (1-f)·a + f·b over the sorted run, so
    values hash-match at 6dp."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr(
            "percentile_cont(0.25) WITHIN GROUP (ORDER BY l_extendedprice)"
        ), 6).alias("p25"),
        F.round(F.expr(
            "percentile_cont(0.90) WITHIN GROUP (ORDER BY l_extendedprice)"
        ), 6).alias("p90"),
        F.expr(
            "percentile_disc(0.50) WITHIN GROUP (ORDER BY l_extendedprice)"
        ).alias("d50"),
        F.round(F.median("l_quantity"), 6).alias("med_qty"),
    )


@q("agg_approx_quantile", """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 6) AS exact_median,
       true AS approx_within_1pct
FROM lineitem GROUP BY l_returnflag
""")
def agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPROX quantile sketch (the percentile cousin of
    APPROX_COUNT_DISTINCT — SqlStdOperatorTable approximate-agg surface):
    sketches are engine-specific, so the check is an ERROR-BOUND contract
    — the in-query boolean asserts |approx − exact| ≤ 1% of exact, and
    only exact-derived values reach the hash. At 100 TB the sketch is the
    one you run (mergeable, single-pass, bounded memory); the exact
    percentile is the test-time referee."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(
            F.expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY l_extendedprice)"),
            6,
        ).alias("exact_median"),
        (
            F.abs(
                F.percentile_approx("l_extendedprice", 0.5, 10000)
                - F.expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY l_extendedprice)")
            )
            <= F.expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY l_extendedprice)") * 0.01
        ).alias("approx_within_1pct"),
    )


@q("agg_listagg_within", """
SELECT l_returnflag,
       string_agg(l_orderkey::VARCHAR || ':' || l_linenumber::VARCHAR, '|'
                  ORDER BY l_quantity, l_orderkey, l_linenumber) AS items_by_qty
FROM lineitem WHERE l_orderkey < 200
GROUP BY l_returnflag
""")
def agg_listagg_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG(expr, sep) WITHIN GROUP (ORDER BY sort_key) where the sort
    key is NOT the aggregated expression (SqlStdOperatorTable.java:2179).
    Spark's listagg/collect_list have no order clause, so the ordered fold
    composes as collect_list(struct(sort_keys..., value)) → array_sort
    (struct comparison = lexicographic over fields, so the trailing value
    never decides order when the keys are unique) → transform out the value
    → concat_ws."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 200)
    val = F.concat_ws(":", F.col("l_orderkey").cast("string"),
                      F.col("l_linenumber").cast("string"))
    entry = F.struct(
        F.col("l_quantity").alias("q"),
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
        val.alias("val"),
    )
    return li.groupBy("l_returnflag").agg(
        F.concat_ws(
            "|",
            F.transform(F.array_sort(F.collect_list(entry)), lambda x: x["val"]),
        ).alias("items_by_qty")
    )


# ------------------------------------------------------------------ set ops
@q("setop_union_distinct", """
SELECT c_nationkey AS nk FROM customer
UNION
SELECT s_nationkey AS nk FROM supplier
""")
def setop_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.unionByName(s).distinct()


@q("setop_union_all", """
SELECT o_orderkey AS k, 'high' AS src FROM orders WHERE o_orderpriority = '1-URGENT'
UNION ALL
SELECT o_orderkey AS k, 'big' AS src FROM orders WHERE o_totalprice > 300000
""")
def setop_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    ords = t(spark, sf_dir, "orders")
    a = ords.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_orderkey").alias("k"), F.lit("high").alias("src")
    )
    b = ords.filter(F.col("o_totalprice") > 300000).select(
        F.col("o_orderkey").alias("k"), F.lit("big").alias("src")
    )
    return a.unionByName(b)


@q("setop_intersect", """
SELECT c_nationkey AS nk FROM customer
INTERSECT
SELECT s_nationkey AS nk FROM supplier
""")
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.intersect(s)


@q("setop_intersect_all", """
SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R'
INTERSECT ALL
SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'A'
""")
def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "R").select(F.col("l_suppkey").alias("k"))
    b = li.filter(F.col("l_returnflag") == "A").select(F.col("l_suppkey").alias("k"))
    return a.intersectAll(b)


@q("setop_except", """
SELECT c_nationkey AS nk FROM customer
EXCEPT
SELECT s_nationkey AS nk FROM supplier
""")
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.subtract(s)


@q("setop_except_all", """
SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
EXCEPT ALL
SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
""")
def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    ords = t(spark, sf_dir, "orders")
    a = ords.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("k"))
    b = ords.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("k"))
    return a.exceptAll(b)


# ------------------------------------------------------ values / unnest / misc
@q("values_inline", """
SELECT t.r_name, t.hemisphere, r.r_regionkey
FROM (VALUES ('ASIA', 'east'), ('EUROPE', 'east'), ('AMERICA', 'west'),
             ('AFRICA', 'east'), ('MIDDLE EAST', 'east')) AS t(r_name, hemisphere)
JOIN region r ON r.r_name = t.r_name
""")
def values_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    vals = spark.createDataFrame(
        [("ASIA", "east"), ("EUROPE", "east"), ("AMERICA", "west"),
         ("AFRICA", "east"), ("MIDDLE EAST", "east")],
        "r_name string, hemisphere string",
    )
    reg = t(spark, sf_dir, "region")
    return vals.join(reg, "r_name").select("r_name", "hemisphere", "r_regionkey")


@q("unnest_words", """
SELECT word, count(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
WHERE word <> ''
GROUP BY word ORDER BY n DESC, word LIMIT 20
""")
def unnest_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncollect (rel/core/Uncollect.java:46): explode a computed array."""
    docs = t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "word")
        .limit(20)
    )


@q("unnest_with_ordinality", """
SELECT doc_id, CAST(ord AS BIGINT) AS ord, word FROM (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS word,
         unnest(range(1, len(string_split(text, ' ')) + 1)) AS ord
  FROM documents WHERE doc_id < 3
)
""")
def unnest_with_ordinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNNEST WITH ORDINALITY (SqlStdOperatorTable:1243-1249) — posexplode,
    1-based like SQL ordinality."""
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 3)
    return (
        docs.select("doc_id", F.posexplode(F.split("text", " ")).alias("ord0", "word"))
        .select("doc_id", (F.col("ord0") + 1).cast("bigint").alias("ord"), "word")
    )


@q("unnest_multi_zip", """
SELECT doc_id,
       unnest(string_split(text, ' '))                        AS tok,
       unnest(range(1, len(string_split(text, ' ')) + 1))     AS pos
FROM documents WHERE doc_id < 100
""")
def unnest_multi_zip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-argument UNNEST(a, b) — Calcite zips the collections
    positionally (SqlUnnestOperator, rel/core/Uncollect.java), padding the
    shorter with NULLs; Spark expresses it as arrays_zip + explode. Both
    arrays here have equal length so the zip is total (DuckDB's parallel
    unnest pads identically when they differ)."""
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    toks = F.split(F.col("text"), " ")
    pos = F.sequence(F.lit(1), F.size(toks))
    z = F.explode(F.arrays_zip(toks.alias("tok"), pos.alias("pos")))
    return docs.select("doc_id", z.alias("z")).select(
        "doc_id", F.col("z.tok").alias("tok"),
        F.col("z.pos").cast("bigint").alias("pos"),
    )


@q("unnest_map_entries", """
SELECT o_orderkey, e.key AS k, e.value AS v
FROM (SELECT o_orderkey,
             unnest(map_entries(MAP {'status': o_orderstatus,
                                     'prio': o_orderpriority})) AS e
      FROM orders WHERE o_orderkey < 2000)
""")
def unnest_map_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncollect over a MAP (rel/core/Uncollect.java:46; SqlTypeName.MAP
    §1.2): UNNEST(map) yields one (key, value) row per entry —
    explode(create_map(...)) in Spark, map_entries+unnest in the oracle."""
    ords = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    m = F.create_map(
        F.lit("status"), F.col("o_orderstatus"),
        F.lit("prio"), F.col("o_orderpriority"),
    )
    return ords.select("o_orderkey", F.explode(m).alias("k", "v"))


@q("sort_limit_offset", """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 15 OFFSET 5
""")
def sort_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort + offset + fetch in one node (rel/core/Sort.java:45)."""
    ords = t(spark, sf_dir, "orders")
    return (
        ords.select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .offset(5)
        .limit(15)
    )


@q("sort_nulls_direction", """
WITH v AS (
  SELECT o_orderkey, nullif(o_orderpriority, '3-MEDIUM') AS pri
  FROM orders WHERE o_orderkey < 400
)
SELECT * FROM (
  SELECT 'nf' AS mode, o_orderkey, pri FROM v
  ORDER BY pri NULLS FIRST, o_orderkey LIMIT 30
)
UNION ALL
SELECT * FROM (
  SELECT 'nl', o_orderkey, pri FROM v
  ORDER BY pri DESC NULLS LAST, o_orderkey LIMIT 30
)
""")
def sort_nulls_direction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit NULL collation in Sort (RelFieldCollation.NullDirection —
    rel/RelFieldCollation.java): NULLS FIRST ascending and NULLS LAST
    descending, each with a LIMIT so the null placement decides WHICH rows
    survive (placement that didn't affect the result would be untested)."""
    v = (
        t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 400)
        .select("o_orderkey",
                F.nullif(F.col("o_orderpriority"), F.lit("3-MEDIUM"))
                .alias("pri"))
    )
    nf = (
        v.orderBy(F.col("pri").asc_nulls_first(), "o_orderkey").limit(30)
        .select(F.lit("nf").alias("mode"), "o_orderkey", "pri")
    )
    nl = (
        v.orderBy(F.col("pri").desc_nulls_last(), "o_orderkey").limit(30)
        .select(F.lit("nl").alias("mode"), "o_orderkey", "pri")
    )
    return nf.unionByName(nl)


@q("sample_deterministic", """
SELECT l_orderkey, l_linenumber, l_quantity
FROM lineitem WHERE l_orderkey % 37 = 0
""")
def sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Bernoulli-style sample via key modulo (oracle-checkable;
    the seeded df.sample TABLESAMPLE path is `sample_bernoulli`, rows-only)."""
    li = t(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_orderkey") % 37 == 0).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


def sample_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TABLESAMPLE BERNOULLI (rel/core/Sample.java:36) — seeded but engine-
    specific RNG, so rows-only check (no oracle can match Spark's sampler)."""
    li = t(spark, sf_dir, "lineitem")
    return li.sample(fraction=0.1, seed=42)


QUERIES["sample_bernoulli"] = sample_bernoulli


def sample_system(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TABLESAMPLE SYSTEM (rel/core/Sample.java:36 ``isBernoulli()=false``):
    block sampling — whole pages are kept or dropped, the cheap
    low-uniformity sampling mode. The block unit here is 8192 consecutive
    rows within a physical partition (monotonically_increasing_id encodes
    partition<<33 | row, so id//8192 is a stable page id); SYSTEM(25%)
    keeps every 4th page. Unlike BERNOULLI, which evaluates an RNG per
    row, the per-page predicate vectorizes to near-zero cost — and on a
    sorted/clustered layout it models the I/O-skipping behavior real
    SYSTEM sampling has. Rows-only check: the kept set depends on the
    physical row order, exactly as SYSTEM sampling is specified to."""
    li = t(spark, sf_dir, "lineitem")
    page = (F.monotonically_increasing_id() / F.lit(8192)).cast("bigint")
    return (
        li.withColumn("__page", page)
        .filter(F.col("__page") % 4 == 0)
        .drop("__page")
    )


QUERIES["sample_system"] = sample_system


# ----------------------------------------------------------------- subqueries
@q("subquery_in", """
SELECT o_orderkey, o_totalprice FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
""")
def subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    ords = t(spark, sf_dir, "orders")
    rich = t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000).select("c_custkey")
    return ords.join(rich, ords.o_custkey == rich.c_custkey, "left_semi").select(
        "o_orderkey", "o_totalprice"
    )


@q("subquery_scalar_correlated", """
SELECT p_brand, p_partkey, p_retailprice
FROM part p1
WHERE p_retailprice = (SELECT min(p_retailprice) FROM part p2
                       WHERE p2.p_brand = p1.p_brand)
""")
def subquery_scalar_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar sub-query, decorrelated to a join on the group key —
    the RelDecorrelator transform (sql2rel/RelDecorrelator.java) done the
    Spark way."""
    part = t(spark, sf_dir, "part")
    mins = part.groupBy(F.col("p_brand").alias("b")).agg(
        F.min("p_retailprice").alias("min_price")
    )
    return (
        part.join(
            F.broadcast(mins),
            (part.p_brand == mins.b) & (part.p_retailprice == mins.min_price),
        )
        .select("p_brand", "p_partkey", "p_retailprice")
    )


@q("subquery_quantified_all", """
SELECT s_suppkey, s_name, s_acctbal FROM supplier
WHERE s_acctbal >= ALL (SELECT s_acctbal FROM supplier)
""")
def subquery_quantified_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified ALL (SqlStdOperatorTable:404-440) — rewritten to the max
    aggregate, Calcite's own strategy for SOME/ALL."""
    supp = t(spark, sf_dir, "supplier")
    mx = F.broadcast(supp.agg(F.max("s_acctbal").alias("mx")))
    return (
        supp.crossJoin(mx)
        .filter(F.col("s_acctbal") >= F.col("mx"))
        .select("s_suppkey", "s_name", "s_acctbal")
    )


@q("subquery_exists_correlated", """
SELECT o_orderkey, o_totalprice FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
  AND NOT EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_discount > 0.09)
""")
def subquery_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS (RexSubQuery.java:38 — Calcite
    decorrelates to semi/anti joins, exactly the plan written here): the
    correlation carries an extra non-key predicate, which rides the join
    condition's filtered build side."""
    ords = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    hi_qty = li.filter(F.col("l_quantity") > 45).select("l_orderkey")
    hi_disc = li.filter(F.col("l_discount") > 0.09).select("l_orderkey")
    return (
        ords.join(hi_qty, ords.o_orderkey == hi_qty.l_orderkey, "left_semi")
        .join(hi_disc, ords.o_orderkey == hi_disc.l_orderkey, "left_anti")
        .select("o_orderkey", "o_totalprice")
    )


@q("subquery_not_in_null", """
WITH sn AS (SELECT nullif(c_nationkey, 13) AS nk FROM customer
            WHERE c_custkey < 30),
sc AS (SELECT c_nationkey AS nk FROM customer WHERE c_custkey < 30)
SELECT 'with_null' AS branch, n_nationkey, n_name FROM nation
WHERE n_nationkey NOT IN (SELECT nk FROM sn)
UNION ALL
SELECT 'clean', n_nationkey, n_name FROM nation
WHERE n_nationkey NOT IN (SELECT nk FROM sc)
""")
def subquery_not_in_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN with a NULL-producing subquery — the classic three-valued
    trap (SqlStdOperatorTable NOT_IN): if the subquery yields ANY NULL,
    `x NOT IN (S)` is never TRUE (x <> NULL is UNKNOWN), so that branch
    is EMPTY — which a naive anti-join (NOT EXISTS semantics) gets wrong.
    Implemented as anti-join gated by a broadcast has-null scalar. The
    NULL-free 'clean' branch returns real rows, so the comparison is
    non-vacuous while the hash also proves the with_null branch vanished."""
    nat = t(spark, sf_dir, "nation")
    cust = t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 30)

    def not_in(label: str, sub):
        has_null = F.broadcast(
            sub.agg(F.coalesce(F.max(F.col("nk").isNull()), F.lit(False))
                    .alias("__has_null"))
        )
        anti = nat.join(sub.dropna(), nat.n_nationkey == F.col("nk"),
                        "left_anti")
        return (
            anti.crossJoin(has_null)
            .filter(~F.col("__has_null"))
            .select(F.lit(label).alias("branch"), "n_nationkey", "n_name")
        )

    with_null = not_in(
        "with_null",
        cust.select(F.nullif(F.col("c_nationkey"), F.lit(13)).alias("nk")),
    )
    clean = not_in("clean", cust.select(F.col("c_nationkey").alias("nk")))
    return with_null.unionByName(clean)


@q("subquery_quantified_some", """
SELECT s_suppkey, s_name, s_acctbal FROM supplier
WHERE s_acctbal > SOME (SELECT s_acctbal FROM supplier WHERE s_suppkey % 7 = 0)
  AND s_acctbal < ANY (SELECT s_acctbal FROM supplier WHERE s_suppkey % 3 = 0)
""")
def subquery_quantified_some(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified SOME/ANY (SqlStdOperatorTable.java:404-440) — mirrored
    off the ALL path: `> SOME(S)` ⇔ `> min(S)`, `< ANY(S)` ⇔ `< max(S)`
    (Calcite's own SubQueryRemoveRule strategy). The two 1-row extremum
    aggregates broadcast-crossJoin onto the probe side — no shuffle, no
    global window, same idiom as subquery_quantified_all."""
    supp = t(spark, sf_dir, "supplier")
    lo = F.broadcast(
        supp.filter(F.col("s_suppkey") % 7 == 0)
        .agg(F.min("s_acctbal").alias("__some_min"))
    )
    hi = F.broadcast(
        supp.filter(F.col("s_suppkey") % 3 == 0)
        .agg(F.max("s_acctbal").alias("__any_max"))
    )
    return (
        supp.crossJoin(lo).crossJoin(hi)
        .filter((F.col("s_acctbal") > F.col("__some_min"))
                & (F.col("s_acctbal") < F.col("__any_max")))
        .select("s_suppkey", "s_name", "s_acctbal")
    )


def _similar_battery():
    """SIMILAR TO patterns exercised by func_similar_to, translated once so
    the Spark query and the DuckDB oracle share identical regex literals.
    (DuckDB's own SIMILAR TO operator is plain anchored-regex matching, NOT
    SQL:2003 SIMILAR TO — '%' is a literal there — so the oracle applies
    regexp_full_match to the translated pattern; the translation itself is
    pinned by hand-computed unit tests in tests/test_operators.py.)"""
    from drill_calcite_spark.functions.pattern import similar_to_regex

    pats = {
        "ends_ring_bolt": "%(ring|bolt)",
        "starts_color": "(red|blue) %",
        "first_a_to_h": "[a-h]%",
        "sm_ll": "sm_ll %",
        "double_vowel": "%[aeiou]{2}%",
        "literal_dot": "%.%",
    }
    return {k: similar_to_regex(p) for k, p in pats.items()}


@q("func_similar_to", """
SELECT p_partkey, """ + ", ".join(
    f"regexp_full_match(p_name, '{rx}') AS {k}"
    for k, rx in _similar_battery().items()
) + """
FROM part
""")
def func_similar_to(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIMILAR TO (SqlStdOperatorTable.java:1367-1370; runtime
    SqlFunctions.similar): the SQL:2003 pattern language — %/_ wildcards
    plus regex-style alternation, quantifiers, classes, with ., ^, $ as
    literals — translated to anchored regexes (functions/pattern.py) and
    evaluated with rlike, which Catalyst pushes into codegen."""
    part = t(spark, sf_dir, "part")
    rxs = _similar_battery()
    return part.select(
        "p_partkey",
        *[F.col("p_name").rlike(rx).alias(k) for k, rx in rxs.items()],
    )


@q("sql_text_entry", """
SELECT l_returnflag,
       count(*) AS n,
       sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,6))::DOUBLE
         AS revenue
FROM lineitem
WHERE l_quantity BETWEEN 10 AND 40
GROUP BY l_returnflag
""")
def sql_text_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-STRING entry point: the full parser→analyzer→optimizer path
    (SURVEY §0 role map: SqlParser→Spark SQL parser, SqlValidator→Catalyst
    Analyzer) over catalog-registered views — the same surface a reference
    user types SQL into. Everything else in this registry builds plans via
    the DataFrame API; this proves the textual front door is wired too."""
    from drill_calcite_spark.catalog import register_tables

    register_tables(spark, sf_dir)
    return spark.sql("""
        SELECT l_returnflag,
               count(*) AS n,
               CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        FROM lineitem
        WHERE l_quantity BETWEEN 10 AND 40
        GROUP BY l_returnflag
    """)


@q("sql_date_range_rewrite", """
SELECT o_orderstatus,
       count(*) AS n,
       sum(o_custkey)::BIGINT AS ck
FROM orders
WHERE extract(year FROM o_orderdate) = 1996
GROUP BY o_orderstatus
""")
def sql_date_range_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATE-PART → RANGE-FILTER rewrite through the SQL front door
    (DateRangeRules, rel/rules/DateRangeRules.java, wired
    plan/RelOptRules.java:160): ``EXTRACT(YEAR FROM o_orderdate) =
    1996`` is an opaque function predicate Spark evaluates POST-scan;
    the front door rewrites it to ``o_orderdate >= DATE '1996-01-01'
    AND o_orderdate < DATE '1997-01-01'`` so it lands in the parquet
    scan's PushedFilters, engages row-group min/max skipping, and
    prunes date partitions — at 100 TB the difference between reading
    one year and reading the whole fact table. The plan pin lives in
    tests/test_plan_shapes.py (range in PushedFilters); the DuckDB
    oracle runs the UN-rewritten extract form, so the hash proves the
    rewrite is semantically lossless."""
    from drill_calcite_spark.catalog import register_tables
    from drill_calcite_spark.sql import calcite_sql

    register_tables(spark, sf_dir)
    return calcite_sql(spark, """
        SELECT o_orderstatus,
               count(*) AS n,
               sum(o_custkey) AS ck
        FROM orders
        WHERE EXTRACT(YEAR FROM o_orderdate) = 1996
        GROUP BY o_orderstatus
    """)


@q("join_strategy_hints", """
SELECT s_nationkey, count(*) AS n_supp,
       round(sum(s_acctbal::DECIMAL(18,6)), 2)::DOUBLE AS bal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY s_nationkey
""")
def join_strategy_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical join-strategy control (§2.2 — Calcite picks
    EnumerableHashJoin/MergeJoin/NestedLoop by cost; Spark exposes the
    choice as hints): the registered query returns the SHUFFLE_HASH-hinted
    plan; tests/test_operators.py::test_join_strategy_hints_agree verifies
    all three hints land in the physical plan and produce identical rows
    (no eager driver-side collects belong in a queries() entry). At scale
    the hint is how you stop Catalyst broadcasting a 'small' side that is
    small only in stale stats."""
    supp = t(spark, sf_dir, "supplier")
    nat = t(spark, sf_dir, "nation")
    j = supp.join(nat.hint("shuffle_hash"),
                  supp.s_nationkey == nat.n_nationkey)
    return j.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        r2_dsum(F.col("s_acctbal")).alias("bal"),
    )


@q("join_salted_skew", """
WITH f AS (SELECT event_id, user_id % 25 AS nk, value FROM events)
SELECT n_name,
       count(*) AS n_events,
       sum(value::DECIMAL(18,6))::DOUBLE AS total_value
FROM f JOIN nation ON nk = n_nationkey
GROUP BY n_name
""")
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALTED skew join (operators/skew.py): the fact side's hot keys are
    split across 8 salt buckets, the 25-row build side is replicated per
    salt — each hot key occupies 8 reducers instead of one. The oracle
    runs the plain unsalted join: identical hashes prove salting only
    routes rows. Complements AQE's runtime skew-split (session.py), which
    covers sort-merge joins but not skewed aggregations."""
    from drill_calcite_spark.operators.skew import salted_join

    ev = t(spark, sf_dir, "events").select(
        "event_id", (F.col("user_id") % 25).alias("nk"), "value"
    )
    nat = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk"), "n_name"
    )
    joined = salted_join(ev, nat, ["nk"], salts=8)
    return joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
        .alias("total_value"),
    )


@q("subquery_single_value", """
SELECT c_custkey,
       (SELECT n_name FROM nation WHERE n_nationkey = c_nationkey) AS nat_name
FROM customer
""")
def subquery_single_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SINGLE_VALUE (SqlStdOperatorTable:987 — the guard aggregate Calcite
    wraps around scalar sub-queries it can't prove single-row): the
    correlated scalar lookup runs as groupBy + single_value (functions/
    agg.py), which errors at runtime on a multi-row group; the >1-row
    error path is pinned in tests/test_operators.py."""
    from drill_calcite_spark.functions.agg import single_value

    cust = t(spark, sf_dir, "customer")
    nat = (
        t(spark, sf_dir, "nation")
        .groupBy("n_nationkey")
        .agg(single_value(F.col("n_name")).alias("nat_name"))
    )
    return (
        cust.join(F.broadcast(nat),
                  cust.c_nationkey == nat.n_nationkey, "left")
        .select("c_custkey", "nat_name")
    )


# ------------------------------------------------------------ scalar semantics
@q("is_distinct_from", """
SELECT CAST(sum(CASE WHEN nullif(l_discount, 0.0) IS DISTINCT FROM nullif(l_tax, 0.0)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_distinct,
       CAST(sum(CASE WHEN nullif(l_discount, 0.0) IS NOT DISTINCT FROM nullif(l_tax, 0.0)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_same
FROM lineitem
""")
def is_distinct_from(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS [NOT] DISTINCT FROM → eqNullSafe (null-safe equality)."""
    li = t(spark, sf_dir, "lineitem")
    a = F.nullif(F.col("l_discount"), F.lit(0.0))
    b = F.nullif(F.col("l_tax"), F.lit(0.0))
    same = a.eqNullSafe(b)
    return li.agg(
        F.sum(F.when(~same, 1).otherwise(0)).alias("n_distinct"),
        F.sum(F.when(same, 1).otherwise(0)).alias("n_same"),
    )


@q("case_conditional", """
SELECT o_orderkey,
       CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'filled'
            ELSE 'other' END AS status_name,
       CASE WHEN o_totalprice > 300000 THEN 'big'
            WHEN o_totalprice > 100000 THEN 'mid' ELSE 'small' END AS size_tier,
       coalesce(nullif(o_orderpriority, '4-NOT SPECIFIED'), 'unspecified') AS prio,
       least(o_totalprice, 250000.0)    AS capped,
       greatest(o_totalprice, 50000.0)  AS floored
FROM orders
""")
def case_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE (simple+searched), NULLIF, COALESCE, LEAST/GREATEST
    (SqlStdOperatorTable:1394,1763,1768; SqlLibraryOperators)."""
    ords = t(spark, sf_dir, "orders")
    return ords.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "O", "open")
        .when(F.col("o_orderstatus") == "F", "filled")
        .otherwise("other").alias("status_name"),
        F.when(F.col("o_totalprice") > 300000, "big")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("small").alias("size_tier"),
        F.coalesce(F.nullif("o_orderpriority", F.lit("4-NOT SPECIFIED")),
                   F.lit("unspecified")).alias("prio"),
        F.least(F.col("o_totalprice"), F.lit(250000.0)).alias("capped"),
        F.greatest(F.col("o_totalprice"), F.lit(50000.0)).alias("floored"),
    )


@q("distinct_projection", """
SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
""")
def distinct_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority").distinct()


@q("pivot_conditional", """
SELECT l_returnflag,
       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END), 2) AS qty_open,
       round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END), 2) AS qty_filled
FROM lineitem GROUP BY l_returnflag
""")
def pivot_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT via conditional aggregation (Calcite 1.21 has no PIVOT node;
    this is the canonical expansion both engines agree on)."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        r2(F.sum(F.when(F.col("l_linestatus") == "O", F.col("l_quantity")).otherwise(0.0)))
        .alias("qty_open"),
        r2(F.sum(F.when(F.col("l_linestatus") == "F", F.col("l_quantity")).otherwise(0.0)))
        .alias("qty_filled"),
    )


# ------------------------------------------------ correlate / collect / exchange
@q("correlate_lateral_topn", """
SELECT r.r_name, ln.n_name
FROM region r, LATERAL (
  SELECT n_name FROM nation
  WHERE n_regionkey = r.r_regionkey
  ORDER BY n_nationkey LIMIT 2
) ln
""")
def correlate_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlate (rel/core/Correlate.java:68): LATERAL subquery in FROM —
    top-2 nations per region, run through Spark SQL's native lateral join
    (Catalyst decorrelates it into a ranked join, exactly what Calcite's
    RelDecorrelator would produce)."""
    t(spark, sf_dir, "region").createOrReplaceTempView("region")
    t(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    return spark.sql("""
        SELECT r.r_name, ln.n_name
        FROM region r, LATERAL (
          SELECT n_name FROM nation
          WHERE n_regionkey = r.r_regionkey
          ORDER BY n_nationkey LIMIT 2
        ) ln
    """)


@q("collect_nested", """
SELECT r_name,
       count(n_name) AS n_nations,
       string_agg(n_name, ',' ORDER BY n_name) AS nations_csv
FROM region LEFT JOIN nation ON n_regionkey = r_regionkey
GROUP BY r_name
""")
def collect_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collect (rel/core/Collect.java:44): nest a sub-query result into an
    ARRAY value per group (emitted as a sorted CSV string so both engines
    hash identical scalars)."""
    region = t(spark, sf_dir, "region")
    nation = t(spark, sf_dir, "nation")
    j = region.join(nation, nation.n_regionkey == region.r_regionkey, "left")
    return j.groupBy("r_name").agg(
        F.count("n_name").alias("n_nations"),
        F.array_join(F.array_sort(F.collect_list("n_name")), ",")
        .alias("nations_csv"),
    )


def exchange_repartition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exchange (rel/core/Exchange.java:42, RelDistribution.HASH): hash-
    redistribute orders by o_custkey and report the distribution skew the
    partitioning produced. Rows-only (partition ids are engine-internal);
    asserts the invariants an Exchange must hold: row conservation and
    bounded skew."""
    ords = t(spark, sf_dir, "orders").repartition(16, "o_custkey")
    per = (
        ords.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count("*").alias("n"))
    )
    return per.agg(
        F.count("*").alias("n_partitions"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_partition_rows"),
    )


QUERIES["exchange_repartition"] = exchange_repartition


@q("table_function_series", """
SELECT n_nationkey, unnest(generate_series(1, (n_nationkey % 3) + 1)) AS x
FROM nation
""")
def table_function_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TableFunctionScan (rel/core/TableFunctionScan.java:49): a lateral
    set-returning function per row — generate_series/sequence (both ends
    inclusive in both engines)."""
    nation = t(spark, sf_dir, "nation")
    return nation.select(
        "n_nationkey",
        F.explode(
            F.sequence(F.lit(1), (F.col("n_nationkey") % 3) + 1)
        ).alias("x"),
    )


_PROFILE_COL = """
SELECT '{c}' AS "column", count(*) AS n_rows,
       count(*) - count({c}) AS n_nulls,
       count(DISTINCT {c}) AS n_distinct,
       min({c})::VARCHAR AS min_val, max({c})::VARCHAR AS max_val
FROM orders
"""


@q("profile_orders", "\nUNION ALL ".join(
    _PROFILE_COL.format(c=c) for c in
    ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
     "o_orderdate", "o_orderpriority"]
))
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profiler (profile/Profiler.java:105-241): per-column n_rows/nulls/
    NDV/min/max over orders in ONE pass (the oracle needs one scan per
    column — the operator's whole point)."""
    from drill_calcite_spark.operators.profile import profile

    return profile(t(spark, sf_dir, "orders"))


_FD_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
            "o_orderdate"]


def _fd_oracle_sql() -> str:
    """FD/unique-key oracle: one wide agg CTE over the deterministic
    modulo sample, unioned into the long (lhs, rhs, ...) form — the same
    ndv(a) == ndv(a,b) criterion the operator applies."""
    singles = ", ".join(
        f"count(DISTINCT {c}) AS nd_{c}" for c in _FD_COLS)
    pair_list = [(a, b) for i, a in enumerate(_FD_COLS)
                 for b in _FD_COLS[i + 1:]]
    pair_aggs = ", ".join(
        f"count(DISTINCT ({a}, {b})) AS ndp_{a}_{b}" for a, b in pair_list)

    def pname(a, b):
        return f"ndp_{a}_{b}" if (a, b) in pair_list else f"ndp_{b}_{a}"

    parts = []
    for a in _FD_COLS:
        for b in _FD_COLS:
            if a == b:
                continue
            parts.append(
                f"SELECT '{a}' AS lhs, '{b}' AS rhs, nd_{a} AS ndv_lhs, "
                f"{pname(a, b)} AS ndv_pair, nd_{a} = {pname(a, b)} AS fd_holds "
                f"FROM agg")
        parts.append(
            f"SELECT '{a}' AS lhs, '*' AS rhs, nd_{a} AS ndv_lhs, "
            f"n AS ndv_pair, nd_{a} = n AS fd_holds FROM agg")
    return (
        "WITH s AS (SELECT * FROM orders WHERE o_orderkey % 10 = 0),\n"
        f"agg AS (SELECT count(*) AS n, {singles}, {pair_aggs} FROM s)\n"
        + "\nUNION ALL ".join(parts)
    )


@q("profile_fd_discovery", _fd_oracle_sql())
def profile_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency + unique-key discovery
    (profile/Profiler.java:105-241 FunctionalDependency/Unique lattice,
    single-column LHS): over a deterministic 10% systematic sample of
    orders, every ordered column pair is tested with the ndv(a) ==
    ndv(a,b) criterion and every column for key-ness against n_rows
    (rhs='*'). Finds o_orderkey → everything (the unique key) among
    genuine negatives like o_custkey → o_orderstatus."""
    from drill_calcite_spark.operators.profile import discover_fds

    sample = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    return discover_fds(sample, _FD_COLS)


def _lattice_workload():
    from drill_calcite_spark.plans.lattice import WorkloadQuery

    return [
        WorkloadQuery("qA", ("o_orderstatus",), ("sum:o_totalprice",)),
        WorkloadQuery("qB", ("o_orderstatus", "o_orderpriority"),
                      ("sum:o_totalprice", "count:*")),
        WorkloadQuery("qC", ("o_orderpriority",), ("count:*",)),
        WorkloadQuery("qD", ("o_custkey",), ("sum:o_totalprice",)),
    ]


def _lattice_oracle_sql() -> str:
    """The lattice set algebra runs in Python at oracle-build time (it is
    planner-side metadata, constant for a fixed workload); the DATA part —
    n_rows and per-dim NDVs feeding est_rows = min(n, Π ndv) — is replayed
    in SQL, so the hash check pins the distributed profile."""
    from drill_calcite_spark.plans.lattice import lattice_algebra

    workload = _lattice_workload()
    candidates, serves = lattice_algebra(workload)
    all_dims = sorted({c for q in workload for c in q.group_by})
    singles = ", ".join(f"count(DISTINCT {d}) AS nd_{d}" for d in all_dims)
    parts = []
    for dims in sorted(candidates):
        prod = " * ".join(f"nd_{d}" for d in dims)
        sv = sorted(q.name for q in serves[dims])
        parts.append(
            f"SELECT '{','.join(dims)}' AS tile_dims, "
            f"'{','.join(sorted(candidates[dims]))}' AS tile_measures, "
            f"least({prod}, n) AS est_rows, "
            f"{len(sv)} AS n_served, '{','.join(sv)}' AS serves FROM agg")
    return (
        f"WITH agg AS (SELECT count(*) AS n, {singles} FROM orders)\n"
        + "\nUNION ALL ".join(parts)
    )


@q("lattice_candidate_tiles", _lattice_oracle_sql())
def lattice_candidate_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lattice suggester (materialize/LatticeSuggester.java:75 addQuery,
    Lattice.getRowCountEstimate): the candidate tiles a 4-query workload
    over orders induces, each with its measure union, the queries it
    serves (grouping-subsumption — the same test plans/materialized.py
    routes with), and an NDV-product row estimate computed distributed
    via the profiler. Greedy TileSuggester selection on top is
    deterministic and unit-tested (tests/test_materialized.py)."""
    from drill_calcite_spark.plans.lattice import candidate_tiles

    return candidate_tiles(
        spark, t(spark, sf_dir, "orders"), _lattice_workload()
    )


@q("mv_tile_rollup", """
SELECT o_orderstatus,
       sum(o_totalprice::DECIMAL(18,6))::DOUBLE AS total,
       count(*) AS n,
       max(o_totalprice) AS mx
FROM orders GROUP BY o_orderstatus
""")
def mv_tile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view rewrite (AbstractMaterializedViewRule /
    AggregateStarTableRule — SURVEY.md §4.1 custom row): a
    (status, priority) aggregate tile is materialized, then the
    status-level query is served by ROLLING UP THE TILE, never scanning
    orders. The oracle aggregates the base table — identical results prove
    the rewrite is lossless. Decimal sums keep the two-step summation
    order-independent."""
    import os as _os

    from drill_calcite_spark.plans.materialized import MaterializedViews

    tag = _os.path.basename(sf_dir.rstrip("/"))
    path = f"/tmp/spark_graft_fixtures/{tag}/mv_orders_tile"
    ords = t(spark, sf_dir, "orders").withColumn(
        "o_totalprice_dec", F.col("o_totalprice").cast("decimal(18,6)")
    )
    mvs = MaterializedViews(spark)
    mvs.create(
        "orders_by_status_prio", "orders", ords,
        dims=["o_orderstatus", "o_orderpriority"],
        measures=[("sum", "o_totalprice_dec"), ("max", "o_totalprice")],
        path=path,
    )
    out = mvs.summarize(
        "orders", ords, ["o_orderstatus"],
        [("total", "sum", "o_totalprice_dec"),
         ("n", "count", "*"),
         ("mx", "max", "o_totalprice")],
    )
    # the rewrite must have targeted the tile, not the base table
    assert all("mv_orders_tile" in f for f in out.inputFiles()), \
        "MV rewrite fell back to base scan"
    return out.select(
        "o_orderstatus", F.col("total").cast("double").alias("total"),
        "n", "mx",
    )


@q("mv_join_rewrite", """
SELECT c_mktsegment,
       count(*) AS n,
       sum(o_totalprice::DECIMAL(18,6))::DOUBLE AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""")
def mv_join_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-MV unification (AbstractMaterializedViewRule /
    SubstitutionVisitor.java:120): a pre-joined, pre-aggregated
    orders⋈customer tile at (c_mktsegment, o_orderstatus) granularity
    serves the c_mktsegment rollup — the query never re-executes the
    join OR scans the base tables (inputFiles assertion). Unification
    key = canonical join signature (sorted tables + join key pairs)."""
    import os as _os

    from drill_calcite_spark.plans.materialized import MaterializedViews

    tag = _os.path.basename(sf_dir.rstrip("/"))
    path = f"/tmp/spark_graft_fixtures/{tag}/mv_join_tile"
    ords = t(spark, sf_dir, "orders").withColumn(
        "o_totalprice_dec", F.col("o_totalprice").cast("decimal(18,6)")
    )
    cust = t(spark, sf_dir, "customer")
    tables = {"orders": ords, "customer": cust}
    on = [("o_custkey", "c_custkey")]
    mvs = MaterializedViews(spark)
    mvs.create_join(
        "orders_customer_seg", tables, on,
        dims=["c_mktsegment", "o_orderstatus"],
        measures=[("sum", "o_totalprice_dec")],
        path=path,
    )
    out = mvs.summarize_join(
        tables, on, ["c_mktsegment"],
        [("n", "count", "*"), ("revenue", "sum", "o_totalprice_dec")],
    )
    assert all("mv_join_tile" in f for f in out.inputFiles()), \
        "join-MV rewrite fell back to executing the join"
    return out.select(
        "c_mktsegment", "n", F.col("revenue").cast("double").alias("revenue")
    )


@q("mv_filter_rewrite", """
SELECT o_orderstatus,
       sum(o_totalprice::DECIMAL(18,6))::DOUBLE AS total,
       count(*) AS n
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o_orderpriority = '1-URGENT'
GROUP BY o_orderstatus
""")
def mv_filter_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MV FILTER-SUBSUMPTION rewrite (MaterializedViewFilterScanRule,
    plan/RelOptRules.java:189-197): the tile stores WHERE
    o_orderdate >= 1995-01-01; the query adds o_orderpriority = '1-URGENT'
    on a tile DIM, so the tile serves it — the date atom is enforced by
    the tile's own predicate (Q ⟹ P), the priority atom is re-applied as a
    residual filter on the tile. The inputFiles assertion proves the base
    table is never scanned; the oracle aggregates the base — identical
    results prove the rewrite is lossless."""
    import os as _os

    from drill_calcite_spark.plans.materialized import MaterializedViews

    tag = _os.path.basename(sf_dir.rstrip("/"))
    path = f"/tmp/spark_graft_fixtures/{tag}/mv_orders_filtered_tile"
    ords = t(spark, sf_dir, "orders").withColumn(
        "o_totalprice_dec", F.col("o_totalprice").cast("decimal(18,6)")
    )
    mvs = MaterializedViews(spark)
    mvs.create(
        "orders_recent_by_status_prio", "orders", ords,
        dims=["o_orderstatus", "o_orderpriority"],
        measures=[("sum", "o_totalprice_dec")],
        path=path,
        where=[("o_orderdate", ">=", "1995-01-01")],
    )
    out = mvs.summarize(
        "orders", ords, ["o_orderstatus"],
        [("total", "sum", "o_totalprice_dec"), ("n", "count", "*")],
        where=[("o_orderdate", ">=", "1995-01-01"),
               ("o_orderpriority", "=", "1-URGENT")],
    )
    assert all("mv_orders_filtered_tile" in f for f in out.inputFiles()), \
        "MV filter rewrite fell back to base scan"
    return out.select(
        "o_orderstatus", F.col("total").cast("double").alias("total"), "n"
    )


@q("mv_sql_substitution", """
SELECT o_orderstatus,
       count(*) AS n,
       sum(o_custkey)::BIGINT AS ck,
       min(o_totalprice) AS mn,
       max(o_totalprice) AS mx
FROM orders
WHERE o_orderpriority = '1-URGENT'
GROUP BY o_orderstatus
""")
def mv_sql_substitution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRANSPARENT MV substitution through the SQL FRONT DOOR (the §4.1
    half the builder-API rows left open): the user's SQL names ONLY the
    base table — never the tile — and ``calcite_sql`` consults the
    registered materializations exactly as Calcite's planner does
    (AbstractMaterializedViewRule ×6 wired in
    plan/RelOptRules.java:189-197, unification in
    plan/SubstitutionVisitor.java:120; our decidable-subset port is
    plans/sql_substitution.py). The (status, priority) tile subsumes
    the status-level query; the priority atom is re-applied on the tile
    as a residual, and the inputFiles assertion proves the fact table
    is never scanned. All measures are order-independent (count, exact
    BIGINT sum, min/max) so the tile-served result hashes identically
    to the base-table oracle."""
    import os as _os

    from drill_calcite_spark.catalog import register_tables
    from drill_calcite_spark.plans.materialized import MaterializedViews
    from drill_calcite_spark.sql import calcite_sql

    register_tables(spark, sf_dir)
    tag = _os.path.basename(sf_dir.rstrip("/"))
    path = f"/tmp/spark_graft_fixtures/{tag}/mv_sql_tile"
    ords = t(spark, sf_dir, "orders")
    mvs = MaterializedViews(spark)
    mvs.create(
        "orders_by_status_prio_sql", "orders", ords,
        dims=["o_orderstatus", "o_orderpriority"],
        measures=[("sum", "o_custkey"), ("min", "o_totalprice"),
                  ("max", "o_totalprice")],
        path=path,
    )
    out = calcite_sql(spark, """
        SELECT o_orderstatus,
               count(*) AS n,
               sum(o_custkey) AS ck,
               min(o_totalprice) AS mn,
               max(o_totalprice) AS mx
        FROM orders
        WHERE o_orderpriority = '1-URGENT'
        GROUP BY o_orderstatus
    """, materializations=mvs)
    assert all("mv_sql_tile" in f for f in out.inputFiles()), \
        "front-door MV substitution fell back to the base scan"
    return out


@q("mv_sql_join_substitution", """
SELECT c_mktsegment,
       count(*) AS n,
       sum(o_custkey)::BIGINT AS ck,
       max(o_totalprice) AS mx
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""")
def mv_sql_join_substitution(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """JOIN-MV substitution through the SQL FRONT DOOR: the user's SQL
    spells the orders⋈customer join out LITERALLY — and writes the key
    equality the OPPOSITE way round from the registration — yet the
    engine unifies it with the registered join tile by canonical join
    signature (sorted tables + within-pair-sorted keys, the decidable
    core of SubstitutionVisitor.java:120's join unification) and
    serves the rollup from the tile: the plan re-executes neither the
    join NOR either base scan (inputFiles assertion; plan pin in
    tests/test_plan_shapes.py). Measures are order-independent
    (count/exact BIGINT sum/max) so the tile-served result hashes
    identically to the base-join oracle."""
    import os as _os

    from drill_calcite_spark.catalog import register_tables
    from drill_calcite_spark.plans.materialized import MaterializedViews
    from drill_calcite_spark.sql import calcite_sql

    register_tables(spark, sf_dir)
    tag = _os.path.basename(sf_dir.rstrip("/"))
    path = f"/tmp/spark_graft_fixtures/{tag}/mv_sql_join_tile"
    tables = {"orders": t(spark, sf_dir, "orders"),
              "customer": t(spark, sf_dir, "customer")}
    mvs = MaterializedViews(spark)
    mvs.create_join(
        "orders_customer_seg_sql", tables, [("o_custkey", "c_custkey")],
        dims=["c_mktsegment", "o_orderstatus"],
        measures=[("sum", "o_custkey"), ("max", "o_totalprice")],
        path=path,
    )
    out = calcite_sql(spark, """
        SELECT c_mktsegment,
               count(*) AS n,
               sum(o_custkey) AS ck,
               max(o_totalprice) AS mx
        FROM orders JOIN customer ON c_custkey = o_custkey
        GROUP BY c_mktsegment
    """, materializations=mvs)
    assert all("mv_sql_join_tile" in f for f in out.inputFiles()), \
        "front-door join-MV substitution re-executed the join"
    return out


@q("mv_sql_having_substitution", """
SELECT source,
       count(*) AS n,
       sum(length(text))::BIGINT AS total_len
FROM documents
GROUP BY source
HAVING avg(length(text)) > 300.13
""")
def mv_sql_having_substitution(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """HAVING through the front-door MV substitution: the per-source
    document-length tile serves the aggregate AND the HAVING gate —
    ``avg(len)`` is not in the SELECT list, so it rides the probe as a
    hidden measure, is derived NULL-aware from the tile's (sum, count)
    pair, filters the rollup output, and never appears in the result
    (the placement Calcite leaves a HAVING in when
    AbstractMaterializedViewRule unifies the aggregate below it). The
    threshold 300.13 is never exactly representable as an integer
    length sum over the per-source doc counts, so the comparison can
    never tie, and the per-source average-length spread straddles it
    at every SF — the gate provably keeps some sources and cuts others
    (pinned in tests/test_plan_shapes.py). The sum is exact integer
    arithmetic in both engines (BIGINT vs HUGEINT::BIGINT), and the
    avg division is the same exact-sum/count IEEE division on both
    sides. The inputFiles assertion proves the fact table is never
    scanned."""
    import os as _os

    from drill_calcite_spark.plans.materialized import MaterializedViews
    from drill_calcite_spark.sql import calcite_sql

    tag = _os.path.basename(sf_dir.rstrip("/"))
    path = f"/tmp/spark_graft_fixtures/{tag}/mv_sql_having_tile"
    docs = (t(spark, sf_dir, "documents")
            .withColumn("len", F.length("text").cast("bigint")))
    # the SQL-visible projection view: a user's length column
    docs.createOrReplaceTempView("docs_len")
    mvs = MaterializedViews(spark)
    mvs.create(
        "docs_len_by_source", "docs_len", docs,
        dims=["source"],
        measures=[("sum", "len"), ("avg", "len")],
        path=path,
    )
    out = calcite_sql(spark, """
        SELECT source,
               count(*) AS n,
               sum(len) AS total_len
        FROM docs_len
        GROUP BY source
        HAVING avg(len) > 300.13
    """, materializations=mvs)
    assert all("mv_sql_having_tile" in f for f in out.inputFiles()), \
        "front-door HAVING substitution fell back to the base scan"
    return out


@q("mv_sql_topn_substitution", """
SELECT source,
       sum(length(text))::BIGINT AS total_len
FROM documents
GROUP BY source
ORDER BY total_len DESC, source
LIMIT 5
""")
def mv_sql_topn_substitution(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """TOP-N through the front-door MV substitution — the dashboard
    shape (GROUP BY → ORDER BY measure → LIMIT k) keeps the tile
    rewrite instead of falling back to the fact scan the moment a sort
    appears: ORDER BY binds to OUTPUT columns above the rollup (where
    Calcite leaves the Sort when it unifies the aggregate underneath)
    and the LIMIT makes the returned SET order-dependent, so the
    driver hash proves ordering AND the cut, not just the aggregate
    (``source`` is the deterministic tie-break). Catalyst plans the
    sort+limit over the tile rollup as TakeOrderedAndProject — a top-K
    heap over aggregate-sized rows, never a global sort of the fact.
    The inputFiles assertion proves the base table is never scanned."""
    import os as _os

    from drill_calcite_spark.plans.materialized import MaterializedViews
    from drill_calcite_spark.sql import calcite_sql

    tag = _os.path.basename(sf_dir.rstrip("/"))
    path = f"/tmp/spark_graft_fixtures/{tag}/mv_sql_topn_tile"
    docs = (t(spark, sf_dir, "documents")
            .withColumn("len", F.length("text").cast("bigint")))
    docs.createOrReplaceTempView("docs_len")
    mvs = MaterializedViews(spark)
    mvs.create(
        "docs_len_topn", "docs_len", docs,
        dims=["source"],
        measures=[("sum", "len")],
        path=path,
    )
    out = calcite_sql(spark, """
        SELECT source,
               sum(len) AS total_len
        FROM docs_len
        GROUP BY source
        ORDER BY total_len DESC, source
        LIMIT 5
    """, materializations=mvs)
    assert all("mv_sql_topn_tile" in f for f in out.inputFiles()), \
        "front-door top-N substitution fell back to the base scan"
    return out


@q("mv_sql_daterange_substitution", """
SELECT o_orderpriority,
       count(*) AS n,
       count(distinct o_orderstatus) AS statuses,
       sum(o_custkey)::BIGINT AS ck,
       max(o_totalprice) AS mx
FROM orders
WHERE extract(year FROM o_orderdate) = 1995
  AND extract(quarter FROM o_orderdate) = 2
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""")
def mv_sql_daterange_substitution(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """The two r13 front-door layers COMPOSING, plus COUNT(DISTINCT)
    rollup — one statement exercises three rules the way Calcite's
    planner fires them together:

    1. DateRangeRules (rel/rules/DateRangeRules.java, wired
       plan/RelOptRules.java:160) folds the adjacent ``EXTRACT(YEAR) =
       1995 AND EXTRACT(QUARTER) = 2`` conjunction into ONE
       quarter-wide sargable range — the QUARTER composition its
       floorCeil context handles and this round adds to the rewrite.
    2. AbstractMaterializedViewRule (plan/RelOptRules.java:189-197)
       then unifies the aggregate onto the registered (priority,
       status, orderdate) tile: the substitution's WHERE parser
       flattens the paren-grouped conjunction the range rewrite
       emitted, and the two date atoms re-apply as residuals ON THE
       TILE — so the range lands in the TILE scan's PushedFilters
       (plan-pinned) and the fact table is never read (inputFiles
       assertion).
    3. COUNT(DISTINCT o_orderstatus) is served from tile GRAIN, not a
       stored measure: the tile holds one row per dims combination, so
       distinct-counting the status dim over each rolled group equals
       the base-table distinct count — the AggregateStarTableRule
       count-distinct rollup (materialize/Lattice.java:93).

    At 100 TB the composition is the point: the quarter predicate
    prunes tile row-groups via parquet min/max, the rollup shuffles
    tile rows (10^3-10^6× smaller than the fact), and the distinct
    count costs no extra tile storage. The DuckDB oracle runs the
    UN-rewritten extract form against the base table — the hash proves
    the whole three-rule pipeline lossless."""
    import os as _os

    from drill_calcite_spark.catalog import register_tables
    from drill_calcite_spark.plans.materialized import MaterializedViews
    from drill_calcite_spark.sql import calcite_sql

    register_tables(spark, sf_dir)
    tag = _os.path.basename(sf_dir.rstrip("/"))
    path = f"/tmp/spark_graft_fixtures/{tag}/mv_sql_daterange_tile"
    ords = t(spark, sf_dir, "orders")
    mvs = MaterializedViews(spark)
    mvs.create(
        "orders_by_prio_status_day", "orders", ords,
        dims=["o_orderpriority", "o_orderstatus", "o_orderdate"],
        measures=[("sum", "o_custkey"), ("max", "o_totalprice")],
        path=path,
    )
    out = calcite_sql(spark, """
        SELECT o_orderpriority,
               count(*) AS n,
               count(distinct o_orderstatus) AS statuses,
               sum(o_custkey) AS ck,
               max(o_totalprice) AS mx
        FROM orders
        WHERE extract(year FROM o_orderdate) = 1995
          AND extract(quarter FROM o_orderdate) = 2
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """, materializations=mvs)
    assert all("mv_sql_daterange_tile" in f for f in out.inputFiles()), \
        "date-range + MV substitution fell back to the base scan"
    return out


@q("mv_sql_rollup_substitution", """
SELECT o_orderstatus, o_orderpriority,
       grouping(o_orderstatus)::BIGINT AS g_s,
       grouping(o_orderstatus, o_orderpriority)::BIGINT AS gid,
       count(*) AS n,
       sum(o_custkey)::BIGINT AS ck,
       max(o_totalprice) AS mx
FROM orders
WHERE o_orderpriority >= '2-HIGH'
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
""")
def mv_sql_rollup_substitution(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP served through the front-door MV substitution —
    the AggregateStarTableRule shape (rel/rules/AggregateStarTableRule
    .java; materialize/Lattice.java:93): every grouping set of the
    ROLLUP is a rollup of tile grain, so ONE plain (status, priority)
    tile serves the whole multi-set aggregate — the engine runs
    Spark's own ``rollup()`` over the TILE rows with the rollup
    algebra measures, and the fact table is never scanned (inputFiles
    assertion; no-fact-scan plan pin in tests/test_plan_shapes.py).

    grouping()/GROUPING_ID() ride ABOVE the tile re-aggregation: the
    indicators depend only on which grouping set produced the row,
    never on the relation underneath, so tile-served values are
    base-served values by construction. GROUPING_ID(s, p) reaches the
    substitution parser pre-expanded into the weighted grouping() sum
    (sql.py _rewrite_grouping_funcs) — the parser consumes the
    arithmetic form and replays it per-column; DuckDB's multi-arg
    GROUPING has the identical bitmask convention (first column most
    significant), so the driver hash pins the bit order too. The
    priority atom re-applies on the tile as a residual BEFORE the
    rollup, exactly where the WHERE sits in the original plan.

    At 100 TB the subtotal rows are the expensive part of a fact-table
    ROLLUP (every grouping set re-shuffles the fact); served from the
    tile, all grouping sets together shuffle only tile rows —
    aggregate-cardinality input, 10^3-10^6× smaller."""
    import os as _os

    from drill_calcite_spark.catalog import register_tables
    from drill_calcite_spark.plans.materialized import MaterializedViews
    from drill_calcite_spark.sql import calcite_sql

    register_tables(spark, sf_dir)
    tag = _os.path.basename(sf_dir.rstrip("/"))
    path = f"/tmp/spark_graft_fixtures/{tag}/mv_sql_rollup_tile"
    ords = t(spark, sf_dir, "orders")
    mvs = MaterializedViews(spark)
    mvs.create(
        "orders_rollup_sql", "orders", ords,
        dims=["o_orderstatus", "o_orderpriority"],
        measures=[("sum", "o_custkey"), ("max", "o_totalprice")],
        path=path,
    )
    out = calcite_sql(spark, """
        SELECT o_orderstatus, o_orderpriority,
               grouping(o_orderstatus) AS g_s,
               grouping_id(o_orderstatus, o_orderpriority) AS gid,
               count(*) AS n,
               sum(o_custkey) AS ck,
               max(o_totalprice) AS mx
        FROM orders
        WHERE o_orderpriority >= '2-HIGH'
        GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """, materializations=mvs)
    assert all("mv_sql_rollup_tile" in f for f in out.inputFiles()), \
        "front-door ROLLUP substitution fell back to the base scan"
    return out


@q("mv_sql_groupingsets_substitution", """
SELECT o_orderstatus, o_orderpriority,
       grouping(o_orderstatus, o_orderpriority)::BIGINT AS gid,
       count(*) AS n,
       sum(o_custkey)::BIGINT AS ck
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                        (o_orderpriority), ())
HAVING avg(o_totalprice) > 250000.13
""")
def mv_sql_groupingsets_substitution(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (including the () grand total) served
    from one plain tile, composed with HAVING above the multi-set
    rollup: the set list is arbitrary — not the ROLLUP prefix chain —
    so the engine routes it through Spark's ``groupingSets()`` over
    the tile (SPARK-45929 API) with the same rollup algebra; the
    HAVING gate (not in the SELECT list) rides the probe as a hidden
    avg measure, is derived from the tile's (sum, count) pair, and
    filters every grouping set's rows above the re-aggregation. The
    threshold 250000.13 sits inside the per-group average spread at
    all three SFs (keep 11-13 / cut 8-10 of 21 grouping-set rows) with
    a ≥36 gap to the nearest group — five orders of magnitude above
    double-summation noise — so the gate provably bites both ways and
    can never flip on summation order. The fact table is never
    scanned (inputFiles assertion)."""
    import os as _os

    from drill_calcite_spark.catalog import register_tables
    from drill_calcite_spark.plans.materialized import MaterializedViews
    from drill_calcite_spark.sql import calcite_sql

    register_tables(spark, sf_dir)
    tag = _os.path.basename(sf_dir.rstrip("/"))
    path = f"/tmp/spark_graft_fixtures/{tag}/mv_sql_gsets_tile"
    ords = t(spark, sf_dir, "orders")
    mvs = MaterializedViews(spark)
    mvs.create(
        "orders_gsets_sql", "orders", ords,
        dims=["o_orderstatus", "o_orderpriority"],
        measures=[("sum", "o_custkey"), ("avg", "o_totalprice")],
        path=path,
    )
    out = calcite_sql(spark, """
        SELECT o_orderstatus, o_orderpriority,
               grouping_id(o_orderstatus, o_orderpriority) AS gid,
               count(*) AS n,
               sum(o_custkey) AS ck
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderpriority), ())
        HAVING avg(o_totalprice) > 250000.13
    """, materializations=mvs)
    assert all("mv_sql_gsets_tile" in f for f in out.inputFiles()), \
        "front-door GROUPING SETS substitution fell back to base scan"
    return out


@q("mv_sql_or_daterange_substitution", """
SELECT o_orderpriority,
       count(*) AS n,
       sum(o_custkey)::BIGINT AS ck
FROM orders
WHERE extract(year FROM o_orderdate) <> 1995
  AND o_orderstatus = 'F'
GROUP BY o_orderpriority
""")
def mv_sql_or_daterange_substitution(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """DateRangeRules' OR output COMPOSING with MV substitution (the
    r13 advisory's open seam): ``EXTRACT(YEAR ...) <> 1995`` rewrites
    to the two-range disjunction ``(d < 1995-01-01 OR d >=
    1996-01-01)`` — Calcite's Sarg complement (DateRangeRules.java) —
    which used to LOSE the tile because the substitution's WHERE
    grammar disqualified OR outright. The grammar now parses bounded
    disjunctions structurally (OR of pure atom-conjunctions) and
    re-applies the whole group as ONE residual filter on the tile —
    never as a union of rollups, which would double-count aggregate
    rows. The disjunction is residual-ONLY: it never helps prove a
    filtered tile's own predicate (the plain atoms alone must imply
    it — conservative, same soundness posture as _implies). The
    status atom rides alongside as an ordinary residual. The pushed
    Or(LessThan, GreaterThanOrEqual) lands in the TILE scan's
    PushedFilters (plan pin), and the fact table is never read.

    1995 is mid-range in the data (orders span 1992-1998), so the
    complement keeps most rows while excluding a full year — the
    filter provably bites at every SF. The DuckDB oracle runs the
    un-rewritten extract form over the base table."""
    import os as _os

    from drill_calcite_spark.catalog import register_tables
    from drill_calcite_spark.plans.materialized import MaterializedViews
    from drill_calcite_spark.sql import calcite_sql

    register_tables(spark, sf_dir)
    tag = _os.path.basename(sf_dir.rstrip("/"))
    path = f"/tmp/spark_graft_fixtures/{tag}/mv_sql_or_tile"
    ords = t(spark, sf_dir, "orders")
    mvs = MaterializedViews(spark)
    mvs.create(
        "orders_or_daterange_sql", "orders", ords,
        dims=["o_orderpriority", "o_orderstatus", "o_orderdate"],
        measures=[("sum", "o_custkey")],
        path=path,
    )
    out = calcite_sql(spark, """
        SELECT o_orderpriority,
               count(*) AS n,
               sum(o_custkey) AS ck
        FROM orders
        WHERE extract(year FROM o_orderdate) <> 1995
          AND o_orderstatus = 'F'
        GROUP BY o_orderpriority
    """, materializations=mvs)
    assert all("mv_sql_or_tile" in f for f in out.inputFiles()), \
        "OR-range + MV substitution fell back to the base scan"
    return out


@q("mv_sql_stddev_substitution", """
WITH g AS (
  SELECT o_orderstatus,
         count(*) AS n,
         count(o_custkey) AS nc,
         sum(o_custkey)::DOUBLE AS s,
         sum(o_custkey * o_custkey)::DOUBLE AS s2
  FROM orders
  WHERE o_orderpriority = '1-URGENT'
  GROUP BY o_orderstatus
)
SELECT o_orderstatus, n,
       CASE WHEN nc > 1 THEN sqrt(
         (CASE WHEN s2 - s * s / nc < 0 THEN 0
               ELSE s2 - s * s / nc END) / (nc - 1)) END AS sd,
       (CASE WHEN s2 - s * s / nc < 0 THEN 0
             ELSE s2 - s * s / nc END) / nc AS vp
FROM g
""")
def mv_sql_stddev_substitution(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """VARIANCE-FAMILY aggregates served from a tile — Calcite's
    AggregateReduceFunctionsRule decomposition
    (rel/rules/AggregateReduceFunctionsRule.java reduces STDDEV/VAR to
    SUM(x), SUM(x·x), COUNT(x)), which is exactly what makes the
    measures rollable: the tile stores the three sums, they
    re-aggregate losslessly across any rollup grain, and the variance
    formula (S2 − S·S/n over the rolled sums, clamped at zero against
    ulp-negative cancellation, /n for _POP, /(n−1) NULL-guarded for
    _SAMP, sqrt for STDDEV) computes ABOVE the rollup.

    Exactness contract: o_custkey is an integer column, so S, S2 and n
    are exact integers on both engines (BIGINT here, HUGEINT in the
    oracle); the oracle spells the IDENTICAL IEEE expression over
    those exact inputs — same casts, same operation order — so the
    driver hash is bit-equal, not approximately equal. The formula's
    agreement with the true (Welford) variance is pinned separately in
    tests/test_materialized.py against Spark's native stddev_samp/
    var_pop at 1e-9 relative tolerance. STDDEV(x) (Calcite's
    STDDEV_SAMP alias) canonicalizes at parse time.

    At 100 TB the decomposition is the whole point: a native stddev
    over the fact re-scans it per query, while the three sums live at
    tile grain and any rollup of them is three BIGINT sums plus
    constant-time arithmetic."""
    import os as _os

    from drill_calcite_spark.catalog import register_tables
    from drill_calcite_spark.plans.materialized import MaterializedViews
    from drill_calcite_spark.sql import calcite_sql

    register_tables(spark, sf_dir)
    tag = _os.path.basename(sf_dir.rstrip("/"))
    path = f"/tmp/spark_graft_fixtures/{tag}/mv_sql_stddev_tile"
    ords = t(spark, sf_dir, "orders")
    mvs = MaterializedViews(spark)
    mvs.create(
        "orders_stddev_sql", "orders", ords,
        dims=["o_orderstatus", "o_orderpriority"],
        measures=[("stddev_samp", "o_custkey")],
        path=path,
    )
    out = calcite_sql(spark, """
        SELECT o_orderstatus,
               count(*) AS n,
               stddev(o_custkey) AS sd,
               var_pop(o_custkey) AS vp
        FROM orders
        WHERE o_orderpriority = '1-URGENT'
        GROUP BY o_orderstatus
    """, materializations=mvs)
    assert all("mv_sql_stddev_tile" in f for f in out.inputFiles()), \
        "variance-family substitution fell back to the base scan"
    return out


@q("bench_mv_substitution", """
SELECT o_orderpriority,
       count(*) AS n,
       count(distinct o_orderstatus) AS statuses,
       sum(o_custkey)::BIGINT AS ck,
       max(o_totalprice) AS mx
FROM orders
WHERE extract(year FROM o_orderdate) = 1995
  AND extract(quarter FROM o_orderdate) = 2
GROUP BY o_orderpriority
""")
def bench_mv_substitution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timing row for the front-door MV substitution (the bench_*
    registry entries are the ones meant to be timed): the whole point of
    the rewrite is wall-time, so a probe or serving regression must show
    as a slower call, not hide behind a still-green hash. The tile builds
    IF NOT EXISTS once per SF fixture dir (Calcite's CREATE MATERIALIZED
    VIEW IF NOT EXISTS flag, SqlCreateMaterializedView.java), so a timed
    call after the first is the full serving path: the
    statement probe, the DateRangeRules YEAR+QUARTER fold, the
    substitution parse/unify, and the tile rollup with the range in
    the TILE scan's PushedFilters. Same statement shape as
    mv_sql_daterange_substitution (the three-rule composition), which
    also keeps this row oracle-pinned in the driver lane."""
    import os as _os

    from drill_calcite_spark.catalog import register_tables
    from drill_calcite_spark.plans.materialized import MaterializedViews
    from drill_calcite_spark.sql import calcite_sql

    register_tables(spark, sf_dir)
    tag = _os.path.basename(sf_dir.rstrip("/"))
    path = f"/tmp/spark_graft_fixtures/{tag}/bench_mv_tile"
    ords = t(spark, sf_dir, "orders")
    mvs = MaterializedViews(spark)
    mvs.create(
        "bench_orders_tile", "orders", ords,
        dims=["o_orderpriority", "o_orderstatus", "o_orderdate"],
        measures=[("sum", "o_custkey"), ("max", "o_totalprice")],
        path=path,
        if_not_exists=True,
    )
    out = calcite_sql(spark, """
        SELECT o_orderpriority,
               count(*) AS n,
               count(distinct o_orderstatus) AS statuses,
               sum(o_custkey) AS ck,
               max(o_totalprice) AS mx
        FROM orders
        WHERE extract(year FROM o_orderdate) = 1995
          AND extract(quarter FROM o_orderdate) = 2
        GROUP BY o_orderpriority
    """, materializations=mvs)
    assert all("bench_mv_tile" in f for f in out.inputFiles()), \
        "bench MV substitution fell back to the base scan"
    return out


@q("mv_sql_subset_substitution", """
SELECT o_orderstatus,
       count(*) AS n,
       sum(o_custkey)::BIGINT AS ck,
       max(o_totalprice) AS mx
FROM orders
WHERE o_orderstatus >= 'O'
GROUP BY o_orderstatus
""")
def mv_sql_subset_substitution(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """FK-derivable SUBSET unification through the front door (r14 —
    Calcite's join-derivability case: AbstractMaterializedViewRule
    unifies a query with a join-MV that joins MORE tables than the
    query names when referential constraints prove the extra joins
    lossless; RelReferentialConstraint metadata,
    SubstitutionVisitor.java:120). The ONLY registered tile is the
    orders⋈customer join-MV; the query aggregates ORDERS ALONE —
    spelled with a table alias and qualified columns (``FROM orders o
    ... o.o_orderstatus``), the r13 verdict's alias ask. Because
    o_custkey → customer.c_custkey is a registered FK (every order has
    exactly one customer), the join neither drops nor duplicates order
    rows, so rolling the join tile up to o_orderstatus IS the orders
    aggregate — count(*) included. The ownership check (no
    customer column referenced) and the FK registration are both load-
    bearing: tests/test_materialized.py pins that dropping either
    falls through to the base plan. The residual status atom
    re-applies on the tile; statuses split ~1/3 : 2/3 so the filter
    bites at every SF. inputFiles proves orders.parquet is never
    scanned even though it is the only table the SQL names."""
    import os as _os

    from drill_calcite_spark.catalog import register_tables
    from drill_calcite_spark.plans.materialized import MaterializedViews
    from drill_calcite_spark.sql import calcite_sql

    register_tables(spark, sf_dir)
    tag = _os.path.basename(sf_dir.rstrip("/"))
    path = f"/tmp/spark_graft_fixtures/{tag}/mv_sql_subset_tile"
    tables = {"orders": t(spark, sf_dir, "orders"),
              "customer": t(spark, sf_dir, "customer")}
    mvs = MaterializedViews(spark)
    mvs.create_join(
        "orders_customer_subset_sql", tables,
        [("o_custkey", "c_custkey")],
        dims=["c_mktsegment", "o_orderstatus"],
        measures=[("sum", "o_custkey"), ("max", "o_totalprice")],
        path=path,
    )
    mvs.register_fk("o_custkey", "customer", "c_custkey")
    out = calcite_sql(spark, """
        SELECT o.o_orderstatus,
               count(*) AS n,
               sum(o.o_custkey) AS ck,
               max(o.o_totalprice) AS mx
        FROM orders o
        WHERE o.o_orderstatus >= 'O'
        GROUP BY o.o_orderstatus
    """, materializations=mvs)
    assert all("mv_sql_subset_tile" in f for f in out.inputFiles()), \
        "FK-subset substitution fell back to the base scan"
    return out


@q("mv_incremental_refresh", """
SELECT o_orderpriority,
       sum(o_totalprice::DECIMAL(18,6))::DOUBLE AS total,
       count(*) AS n,
       min(o_totalprice) AS mn,
       max(o_totalprice) AS mx
FROM orders GROUP BY o_orderpriority
""")
def mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL MV maintenance (the scale-path refresh the
    reference's MaterializationService lacks — it re-populates
    wholesale; plans/materialized.py incremental_refresh): a tile is
    built from the pre-1997 slice of orders, the 1997+ rows arrive as
    an insert-only delta batch, and the refresh merges the
    delta-aggregate into the stored tile — sum/count add, min/max fold
    — WITHOUT touching the base table again. The rollup then serves the
    priority-level query from the refreshed tile (inputFiles pins the
    versioned snapshot), and the oracle aggregates ALL of orders
    directly: the hash match proves delta-merge ≡ full recompute for
    every algebra the tile stores. Decimal sums keep the merge
    order-independent (the tpch3.py:62 quantize precedent)."""
    import os as _os

    from drill_calcite_spark.plans.materialized import MaterializedViews

    tag = _os.path.basename(sf_dir.rstrip("/"))
    path = f"/tmp/spark_graft_fixtures/{tag}/mv_incr_tile"
    ords = t(spark, sf_dir, "orders").withColumn(
        "o_totalprice_dec", F.col("o_totalprice").cast("decimal(18,6)")
    )
    cutoff = F.lit("1997-01-01").cast("timestamp")
    mvs = MaterializedViews(spark)
    mvs.create(
        "orders_incr_by_prio", "orders",
        ords.filter(F.col("o_orderdate") < cutoff),
        dims=["o_orderpriority", "o_orderstatus"],
        measures=[("sum", "o_totalprice_dec"), ("min", "o_totalprice"),
                  ("max", "o_totalprice")],
        path=path,
    )
    mvs.incremental_refresh(
        "orders_incr_by_prio", ords.filter(F.col("o_orderdate") >= cutoff))
    out = mvs.summarize(
        "orders", ords, ["o_orderpriority"],
        [("total", "sum", "o_totalprice_dec"),
         ("n", "count", "*"),
         ("mn", "min", "o_totalprice"),
         ("mx", "max", "o_totalprice")],
    )
    assert all("mv_incr_tile__v1" in f for f in out.inputFiles()), \
        "query not served from the refreshed tile snapshot"
    return out.select(
        "o_orderpriority", F.col("total").cast("double").alias("total"),
        "n", "mn", "mx",
    )


@q("sql_calcite_dialect", """
SELECT r_name,
       string_agg(n_name, ',' ORDER BY n_name) AS nations,
       count(*) AS n
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""")
def sql_calcite_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Calcite-DIALECT SQL front door (drill_calcite_spark/sql.py —
    the pre-rewrite hook SURVEY §7 phase 0 plans): the query text below
    is written in the reference's dialect — 1-arg LISTAGG (default ','
    separator, SqlStdOperatorTable.java:2179) with WITHIN GROUP, and an
    ORDER BY relying on Calcite's nulls-high default collation — and
    calcite_sql() rewrites it to Spark SQL. The DuckDB oracle spells the
    separator and ordering explicitly, so the hash-match proves the
    rewrites reproduce Calcite's defaults. The full conformance evidence
    for this surface is tests/test_quidem.py: 618 of the reference's own
    quidem cases (core/src/test/resources/sql/*.iq) replayed verbatim
    through this entry point."""
    from drill_calcite_spark.catalog import register_tables
    from drill_calcite_spark.sql import calcite_sql

    register_tables(spark, sf_dir)
    return calcite_sql(spark, """
        SELECT r_name,
               listagg(n_name) WITHIN GROUP (ORDER BY n_name) AS nations,
               count(*) AS n
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
        ORDER BY nullif(r_name, 'ASIA')
    """)
