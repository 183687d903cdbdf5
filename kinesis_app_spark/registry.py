"""Query registry: every operator surfaced as a (Spark query, DuckDB oracle)
pair.

This is the engine's coverage contract (SURVEY.md §2.2): each entry is a
named query ``(spark, sf_dir) -> DataFrame`` plus — where ANSI-SQL can
express the semantics — an equivalent DuckDB SQL string over the same
parquet tables. The driver (and tests/test_correctness.py) run both and
compare row count + schema + order-insensitive value hash.

Conventions that keep the cross-engine hash stable:
- every aggregate/computed column is aliased identically on both sides;
- double aggregates are ROUND()ed on both sides;
- LIMIT/top-k queries order by rounded measures + a unique key tiebreak;
- integer widths: counts/sums cast to BIGINT on the DuckDB side (DuckDB
  sums integers into HUGEINT), sizes cast to long on the Spark side;
- all timestamp arithmetic is microsecond-exact on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kinesis_app_spark.operators import dedup as D
from kinesis_app_spark.operators import multimodal as MM
from kinesis_app_spark.operators import relational as R
from kinesis_app_spark.operators import similarity as SIM
from kinesis_app_spark.operators import textanalysis as TA
from kinesis_app_spark.operators.asof import asof_join
from kinesis_app_spark.operators.sessionize import session_stats
from kinesis_app_spark.registry_util import QuerySpec, table as _t


def _rev():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


# =====================================================================
# TPC-H-adapted relational battery
# =====================================================================

def q1_pricing_summary(spark, sf_dir):
    # money as TPC-H's DECIMAL(15,2) on both sides: exact sums that do
    # not depend on the summation order (the scan split, so the core
    # count); rounded, then back to DOUBLE for the exact float compare
    q, price, disc, tax = (
        F.col(c).cast("decimal(15,2)")
        for c in ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    )
    rev = price * (1 - disc)
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(q), 2).cast("double").alias("sum_qty"),
            F.round(F.sum(price), 2).cast("double").alias("sum_base_price"),
            F.round(F.sum(rev), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(rev * (1 + tax)), 2).cast("double").alias("sum_charge"),
            F.round(F.avg(q), 4).cast("double").alias("avg_qty"),
            F.round(F.avg(price), 4).cast("double").alias("avg_price"),
            F.round(F.avg(disc), 4).cast("double").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q1_SQL = """
WITH l AS (
    SELECT l_returnflag, l_linestatus,
           CAST(l_quantity AS DECIMAL(15,2))      AS q,
           CAST(l_extendedprice AS DECIMAL(15,2)) AS price,
           CAST(l_discount AS DECIMAL(15,2))      AS disc,
           CAST(l_tax AS DECIMAL(15,2))           AS tax
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
)
SELECT l_returnflag, l_linestatus,
       CAST(round(sum(q), 2) AS DOUBLE)                                AS sum_qty,
       CAST(round(sum(price), 2) AS DOUBLE)                            AS sum_base_price,
       CAST(round(sum(price * (1 - disc)), 2) AS DOUBLE)               AS sum_disc_price,
       CAST(round(sum(price * (1 - disc) * (1 + tax)), 2) AS DOUBLE)   AS sum_charge,
       CAST(round(avg(q), 4) AS DOUBLE)                                AS avg_qty,
       CAST(round(avg(price), 4) AS DOUBLE)                            AS avg_price,
       CAST(round(avg(disc), 4) AS DOUBLE)                             AS avg_disc,
       count(*)                                                        AS count_order
FROM l
GROUP BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(_rev()), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey, o_orderdate, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q5_local_supplier_volume(spark, sf_dir):
    """Full snowflake join; region/nation broadcast (fixed-size dims)."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.round(F.sum(_rev()), 2).alias("revenue"))
    )


Q5_SQL = """
SELECT r_name, n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q6_revenue_change(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    return l.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.06)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        )
    )


Q6_SQL = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.02 AND 0.06
  AND l_quantity < 24
"""


def q10_returned_items(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(_rev()), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q13_order_count_distribution(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


Q13_SQL = """
SELECT n_orders, count(*) AS n_customers
FROM (
  SELECT c_custkey, count(o_orderkey) AS n_orders
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY n_orders
"""


def q14_promo_revenue(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", _rev()).otherwise(0.0))
                / F.sum(_rev()),
                4,
            ).alias("promo_revenue_pct")
        )
    )


Q14_SQL = """
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
"""


def q18_large_volume_customers(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey, "left_semi")
        .join(c, o.o_custkey == c.c_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
    )


Q18_SQL = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       round(sum(l_quantity), 2) AS sum_qty
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
"""


def q19_bracket_revenue(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    l = _t(spark, sf_dir, "lineitem")
    j = l.join(p, l.l_partkey == p.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 35)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 50)
        )
    )
    return j.filter(cond).agg(F.round(F.sum(_rev()), 2).alias("revenue"))


Q19_SQL = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 35)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 50)
"""


# =====================================================================
# window functions / top-k / grouping sets / set ops
# =====================================================================

def window_customer_order_analytics(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    wd = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wp = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.row_number().over(wd).alias("order_seq"),
        F.lag("o_totalprice").over(wd).alias("prev_price"),
        F.lead("o_orderdate").over(wd).alias("next_date"),
        F.round(
            F.sum("o_totalprice").over(
                wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
            2,
        ).alias("running_spend"),
        F.rank().over(wp).alias("price_rank"),
        F.ntile(4).over(wd).alias("date_quartile"),
    )


WINDOW_ANALYTICS_SQL = """
SELECT o_orderkey, o_custkey,
       CAST(row_number() OVER wd AS INTEGER) AS order_seq,
       lag(o_totalprice)  OVER wd AS prev_price,
       lead(o_orderdate)  OVER wd AS next_date,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                     ROWS UNBOUNDED PRECEDING), 2) AS running_spend,
       CAST(rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS price_rank,
       CAST(ntile(4) OVER wd AS INTEGER) AS date_quartile
FROM orders
WINDOW wd AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def topk_parts_per_brand(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return R.top_k_per_group(
        p.select("p_brand", "p_partkey", "p_retailprice"),
        keys=["p_brand"],
        order=[F.col("p_retailprice").desc(), F.col("p_partkey")],
        k=3,
        rank_col="rn",
        keep_rank=True,
    ).withColumn("rn", F.col("rn").cast("int"))


TOPK_PARTS_SQL = """
SELECT p_brand, p_partkey, p_retailprice,
       CAST(row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS INTEGER) AS rn
FROM part
QUALIFY rn <= 3
"""


def rollup_lineitem_flags(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    return R.rollup_agg(
        l,
        ["l_returnflag", "l_linestatus"],
        [
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        ],
    )


ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_rows
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def cube_order_status_priority(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return R.cube_agg(
        o,
        ["o_orderstatus", "o_orderpriority"],
        [
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_spend"),
        ],
    )


CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_spend,
       round(avg(o_totalprice), 4) AS avg_spend
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def groupingsets_customer_segments(spark, sf_dir):
    _t(spark, sf_dir, "customer").createOrReplaceTempView("gs_customer")
    return spark.sql(
        """
        SELECT c_mktsegment, c_nationkey,
               round(sum(c_acctbal), 2) AS acctbal_sum, count(*) AS n
        FROM gs_customer
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        """
    )


GROUPINGSETS_SQL = """
SELECT c_mktsegment, c_nationkey,
       round(sum(c_acctbal), 2) AS acctbal_sum, count(*) AS n
FROM customer
GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
"""


def semi_join_urgent_customers(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return R.semi_join(c, o, c.c_custkey == o.o_custkey).select(
        "c_custkey", "c_name", "c_mktsegment"
    )


SEMI_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
"""


def anti_join_customers_no_orders(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return R.anti_join(c, o, c.c_custkey == o.o_custkey).select(
        "c_custkey", "c_name", "c_acctbal"
    )


ANTI_SQL = """
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def setop_union_valued(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    a = c.filter(F.col("c_acctbal") > 5000).select(F.col("c_custkey").alias("custkey"))
    b = o.filter(F.col("o_totalprice") > 400000).select(
        F.col("o_custkey").alias("custkey")
    )
    return R.union_distinct(a, b)


SETOP_UNION_SQL = """
SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
UNION
SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
"""


def setop_intersect_status(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    b = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    return R.intersect_(a, b)


SETOP_INTERSECT_SQL = """
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
INTERSECT
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
"""


def setop_except_status(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    b = o.filter(F.col("o_orderstatus") == "P").select(
        F.col("o_custkey").alias("custkey")
    )
    return R.except_(a, b)


SETOP_EXCEPT_SQL = """
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
EXCEPT
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'P'
"""


def distinct_nation_segments(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return R.distinct(c.select("c_nationkey", "c_mktsegment"))


DISTINCT_SQL = "SELECT DISTINCT c_nationkey, c_mktsegment FROM customer"


def approx_distinct_users(spark, sf_dir):
    """HyperLogLog++ approximate distinct, value-gated via its error
    envelope: the raw HLL estimate is engine-specific (DuckDB's sketch
    differs), so instead of the estimate itself the entry emits the exact
    distinct count plus a boolean asserting the estimate landed within
    2x the requested rsd (0.05 -> 10%) — both oracle-matchable. A
    regression that breaks the sketch (or silently swaps it for something
    wildly off) flips the boolean and fails the hash gate, which is
    strictly stronger than the old rows-only check. The portable-sketch
    twin (approx_distinct_kmv) value-gates an exact estimate."""
    e = _t(spark, sf_dir, "events")
    agg = e.agg(
        F.approx_count_distinct("user_id", 0.05).alias("est"),
        F.count_distinct("user_id").alias("true_count"),
    )
    return agg.select(
        "true_count",
        (
            F.abs(F.col("est") - F.col("true_count"))
            <= F.col("true_count") * F.lit(0.10)
        ).alias("within_10pct"),
    )


APPROX_DISTINCT_ENVELOPE_SQL = """
SELECT count(DISTINCT user_id) AS true_count, TRUE AS within_10pct
FROM events
"""


def approx_percentile_envelope(spark, sf_dir):
    """percentile_approx (Greenwald-Khanna sketch) value-gated via its
    RANK-ERROR envelope, the approx_distinct_users pattern applied to
    quantiles: the approximate value itself depends on sketch merge
    order, but GK guarantees the returned value's rank sits within
    n/accuracy of the target rank. The entry computes the approx
    quantiles (accuracy=1000), then in a second exact pass counts each
    value's min/max rank and asserts the guarantee window overlaps
    [q*n - 2n/1000, q*n + 2n/1000] — booleans the oracle matches as
    TRUE (2x the single-sketch contract, the same slack the
    approx_distinct_users envelope gives HLL: partition-merge order may
    cost a little accuracy and must not flake the gate).
    A regression that degrades the sketch past its contract flips a
    boolean and fails the hash gate. The exact-quantile siblings
    (exact_quantiles_two_pass) cover the value-exact path; this covers
    the sketch everyone actually runs at 100 TB.

    Plan: one sketch aggregate + one bounded collect (4 doubles) + one
    count_if aggregate — two scans, no sort, no window."""
    l = _t(spark, sf_dir, "lineitem")
    qs = [0.25, 0.5, 0.75, 0.9]
    acc = 1000
    approx = l.agg(
        F.percentile_approx(
            "l_extendedprice", F.array(*[F.lit(q) for q in qs]), F.lit(acc)
        ).alias("vals")
    ).collect()[0]["vals"]
    if approx is None:  # empty table: sketch yields NULL; envelope is
        approx = [0.0] * len(qs)  # vacuously true at n = 0
    checks = [F.count(F.lit(1)).alias("n")]
    for q, v in zip(qs, approx):
        lo = F.count_if(F.col("l_extendedprice") < F.lit(v))  # min rank
        hi = F.count_if(F.col("l_extendedprice") <= F.lit(v))  # max rank
        n = F.count(F.lit(1))
        tol = n * F.lit(2) / F.lit(acc)
        target = n * F.lit(q)
        checks.append(
            ((lo <= target + tol) & (hi >= target - tol)).alias(
                f"q{int(q * 100)}_ok"
            )
        )
    return l.agg(*checks)


APPROX_PCTL_ENVELOPE_SQL = """
SELECT count(*) AS n, TRUE AS q25_ok, TRUE AS q50_ok,
       TRUE AS q75_ok, TRUE AS q90_ok
FROM lineitem
"""


# =====================================================================
# scalar functions / dates / json
# =====================================================================

def scalar_events_enriched(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.upper("event_type").alias("etype"),
        F.substring("event_type", 1, 3).alias("etype3"),
        F.year("ts").cast("long").alias("y"),
        F.month("ts").cast("long").alias("m"),
        F.dayofmonth("ts").cast("long").alias("d"),
        F.hour("ts").cast("long").alias("h"),
        F.get_json_object("props", "$.k").cast("long").alias("k"),
        F.round(F.sqrt("value"), 4).alias("vsqrt"),
        F.round(F.log(F.col("value") + 1.0), 4).alias("vlog"),
    )


SCALAR_SQL = """
SELECT event_id,
       upper(event_type) AS etype,
       substr(event_type, 1, 3) AS etype3,
       CAST(year(ts) AS BIGINT) AS y,
       CAST(month(ts) AS BIGINT) AS m,
       CAST(day(ts) AS BIGINT) AS d,
       CAST(hour(ts) AS BIGINT) AS h,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       round(sqrt(value), 4) AS vsqrt,
       round(ln(value + 1.0), 4) AS vlog
FROM events
"""


def monthly_event_rollup(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("month", F.col("ts")).alias("month"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("value_sum"),
            F.round(F.avg("value"), 4).alias("value_avg"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


MONTHLY_SQL = """
SELECT date_trunc('month', ts) AS month, event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS value_sum,
       round(avg(value), 4) AS value_avg,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY date_trunc('month', ts), event_type
"""


# =====================================================================
# sessionization / time windows (batch twins of the streaming ops)
# =====================================================================

def sessionize_events(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return session_stats(e, gap_minutes=30.0)


SESSIONIZE_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts, value,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
  FROM flagged
)
SELECT user_id, session_idx,
       min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events, round(sum(value), 2) AS value_sum
FROM sess GROUP BY user_id, session_idx
"""


def tumbling_event_counts(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = F.window(F.col("ts"), "1 day")
    return (
        e.groupBy(w.alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )


TUMBLING_SQL = """
SELECT make_timestamp((epoch_us(ts) // 86400000000) * 86400000000) AS window_start,
       make_timestamp((epoch_us(ts) // 86400000000) * 86400000000 + 86400000000) AS window_end,
       event_type, count(*) AS n_events, round(sum(value), 2) AS value_sum
FROM events
GROUP BY 1, 2, 3
"""


def sliding_event_counts(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = F.window(F.col("ts"), "2 hours", "1 hour")
    return (
        e.groupBy(w.alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
        )
    )


SLIDING_SQL = """
SELECT make_timestamp(((epoch_us(ts) // 3600000000) - j) * 3600000000) AS window_start,
       make_timestamp(((epoch_us(ts) // 3600000000) - j + 2) * 3600000000) AS window_end,
       count(*) AS n_events
FROM events, unnest([0, 1]) AS t(j)
GROUP BY 1, 2
"""


def session_window_stats(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.col("user_id"),
            F.session_window(F.col("ts"), "30 minutes").alias("w"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "value_sum",
        )
    )


SESSION_WINDOW_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts, value,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
  FROM flagged
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events, round(sum(value), 2) AS value_sum
FROM sess GROUP BY user_id, sid
"""


# =====================================================================
# as-of / range joins
# =====================================================================

def asof_purchase_last_click(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("last_click_id"),
        F.col("value").alias("last_click_value"),
    )
    return asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="click_ts",
        value_cols=["last_click_id", "last_click_value"],
    ).select("event_id", "user_id", "ts", "last_click_id", "last_click_value")


ASOF_SQL = """
SELECT p.event_id, p.user_id, p.ts,
       c.event_id AS last_click_id, c.value AS last_click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND c.ts <= p.ts
"""


def asof_click_next_purchase(spark, sf_dir):
    """FORWARD as-of: each click attached to the same user's next purchase
    at-or-after it — same one-shuffle union+window plan, sort reversed."""
    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("next_purchase_id"),
    )
    return asof_join(
        clicks,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="p_ts",
        value_cols=["next_purchase_id"],
        direction="forward",
    ).select("event_id", "user_id", "ts", "next_purchase_id")


ASOF_FORWARD_SQL = """
SELECT c.event_id, c.user_id, c.ts,
       p.event_id AS next_purchase_id
FROM (SELECT * FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id AND p.ts >= c.ts
"""


def asof_purchase_last_click_tol(spark, sf_dir):
    """Backward as-of with a 30-minute tolerance: stale clicks (farther
    than the tolerance before the purchase) are nulled out,
    pandas-merge_asof style. No extra shuffle — the matched right ts rides
    the same window."""
    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("last_click_id"),
    )
    return asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="click_ts",
        value_cols=["last_click_id"],
        tolerance="30 minutes",
    ).select("event_id", "user_id", "ts", "last_click_id")


ASOF_TOL_SQL = """
SELECT p.event_id, p.user_id, p.ts,
       CASE WHEN c.ts >= p.ts - INTERVAL 30 MINUTE THEN c.event_id END
         AS last_click_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND c.ts <= p.ts
"""


def range_join_price_bands(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    bands = spark.createDataFrame(
        [("low", 900.0, 925.0), ("mid", 925.0, 950.0),
         ("high", 950.0, 975.0), ("lux", 975.0, 1000.0)],
        "band string, lo double, hi double",
    )
    return R.range_join(
        p,
        F.broadcast(bands),
        lower=F.col("p_retailprice") >= F.col("lo"),
        upper=F.col("p_retailprice") < F.col("hi"),
    ).select("p_partkey", "band")


RANGE_JOIN_SQL = """
SELECT p_partkey, band
FROM part
JOIN (VALUES ('low', 900.0, 925.0), ('mid', 925.0, 950.0),
             ('high', 950.0, 975.0), ('lux', 975.0, 1000.0)) AS b(band, lo, hi)
  ON p_retailprice >= lo AND p_retailprice < hi
"""


# =====================================================================
# dedup suite (documents / embeddings)
# =====================================================================

def dedup_exact_groups(spark, sf_dir):
    return D.exact_dedup_groups(_t(spark, sf_dir, "documents"))


DEDUP_EXACT_GROUPS_SQL = """
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
       min(doc_id) AS canonical_id, count(*) AS n_dups
FROM documents GROUP BY 1
"""


def dedup_exact_survivors(spark, sf_dir):
    return D.exact_dedup(_t(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "source"
    )


DEDUP_EXACT_SURVIVORS_SQL = """
SELECT doc_id, lang, source
FROM documents
QUALIFY row_number() OVER (
  PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
  ORDER BY doc_id) = 1
"""


def dedup_ngram_jaccard(spark, sf_dir):
    return D.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), k=3, threshold=0.5
    )


DEDUP_JACCARD_SQL = """
WITH norm AS (
  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
  FROM documents
), sh AS (
  SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
                                FOR i IN range(1, greatest(len(toks) - 1, 1))]) AS shingles
  FROM norm
  WHERE len(toks) >= 3
), sizes AS (
  SELECT doc_id, len(shingles) AS n_sh FROM sh
), postings AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sh
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM postings a JOIN postings b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
"""


def dedup_minhash_lsh(spark, sf_dir):
    """MinHash banding + exact-Jaccard verify. The CANDIDATE set is
    hash-family-specific, but the emitted pairs are exact-verified
    (J >= threshold via array_intersect on the true shingle sets), so the
    output is value-checkable against the exact inverted-index oracle
    whenever banding recall is 1.0 — which holds deterministically on the
    test tables at sf0.001/0.01/0.1 (verified; xxhash64 is seed-fixed).
    16 bands x 4 rows over 64 hashes gives P(candidate) = 1-(1-J^4)^16,
    ~0.9997 at J=0.5 per pair."""
    return D.minhash_lsh_pairs(_t(spark, sf_dir, "documents"), threshold=0.5)


def dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs on the PORTABLE 60-bit MD5 token-hash
    family: with bands=4 and max_hamming=3 the pigeonhole guarantee makes
    the banded output exactly {pairs with Hamming <= 3}, so DuckDB can
    check it by computing the same signatures (same md5 bit arithmetic,
    same +/-1 votes) and brute-forcing all pairs — the quadratic form the
    banding equi-join replaces at scale."""
    return D.simhash_pairs(
        _t(spark, sf_dir, "documents"), num_bits=60, token_hasher="md5"
    )


DEDUP_SIMHASH_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(
           trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS t
  FROM documents
), th AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS h
  FROM toks
), votes AS (
  SELECT doc_id, bits.b AS b,
         sum(CASE WHEN (h >> bits.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM th, (SELECT unnest(generate_series(0, 59)) AS b) bits
  GROUP BY 1, 2
), sigs AS (
  SELECT doc_id,
         sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS sig
  FROM votes GROUP BY 1
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= 3
"""


def dedup_embedding_cosine(spark, sf_dir):
    return D.embedding_near_dup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.40
    )


DEDUP_EMBEDDING_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.40
"""


def semdedup_embeddings(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): k-means-bounded semantic near-dup
    removal — cluster on exact-integer distances to 8 fixed seed
    centroids, search cos>=0.40 pairs only WITHIN clusters, drop by the
    deterministic lowest-id-wins rule. Reports per-cluster corpus mass
    and dedup mass; the oracle replays the identical pipeline in SQL
    (same integer assignment arithmetic, same cosine op shape)."""
    out = D.semantic_dedup(
        _t(spark, sf_dir, "embeddings"), n_clusters=8, threshold=0.40
    )
    return (
        out.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(F.when(~F.col("kept"), 1).otherwise(0))
            .cast("long")
            .alias("n_removed"),
        )
        .orderBy("cluster")
    )


SEMDEDUP_SQL = """
WITH scaled AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(round(x::DOUBLE * 1e6) AS BIGINT)) AS v
  FROM embeddings
), cents AS (
  SELECT vec_id AS cid, v AS cvec FROM scaled WHERE vec_id < 8
), dists AS (
  SELECT s.vec_id, c.cid,
         (SELECT sum((s.v[i] - c.cvec[i]) * (s.v[i] - c.cvec[i]))
          FROM unnest(generate_series(1, len(s.v))) AS t(i)) AS sqdist
  FROM scaled s CROSS JOIN cents c
), best AS (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY sqdist ASC, cid ASC) AS rk
  FROM dists
), assigned AS (
  SELECT vec_id, cid FROM best WHERE rk = 1
), dup_ids AS (
  SELECT DISTINCT bb.vec_id AS id_b
  FROM embeddings a
  JOIN assigned aa ON a.vec_id = aa.vec_id
  JOIN assigned bb ON aa.cid = bb.cid AND aa.vec_id < bb.vec_id
  JOIN embeddings b ON b.vec_id = bb.vec_id
  WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                               b.embedding::DOUBLE[]) >= 0.40
)
SELECT CAST(a.cid AS BIGINT) AS cluster,
       count(*) AS n_vectors,
       CAST(count(*) FILTER (a.vec_id IN (SELECT id_b FROM dup_ids))
            AS BIGINT) AS n_removed
FROM assigned a
GROUP BY 1
ORDER BY cluster
"""


# =====================================================================
# similarity search
# =====================================================================

def dedup_embedding_lsh(spark, sf_dir):
    """Multi-table hyperplane-LSH near-dup (the giant-corpus path). The
    emitted pairs are exact-cosine-verified, so with banding recall 1.0
    the output equals the exact all-pairs oracle — and at 2 bits x 16
    tables recall is deterministically 1.0 on the gate embeddings at
    sf0.001/0.01/0.1 (verified; hyperplanes are seed-fixed): a cos>=0.40
    pair at angle <= 66deg collides per 2-bit table with p>=(1-66/180)^2
    ~ 0.40, so P(miss all 16) <= 0.6^16 ~ 3e-4 per pair. Aggressive
    pruning and its recall stay covered in tests."""
    return D.embedding_near_dup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.40, lsh_bits=2, lsh_tables=16
    )


def dedup_embedding_cosine_np(spark, sf_dir):
    """BLAS matmul variant of the exact cosine near-dup — same oracle."""
    return D.embedding_near_dup_pairs_np(
        _t(spark, sf_dir, "embeddings"), threshold=0.40
    )


def knn_brute_force(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return SIM.brute_force_topk(emb, queries, k=5).withColumn(
        "rank", F.col("rank").cast("int")
    )


KNN_SQL = """
SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       round(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS cos,
       CAST(row_number() OVER (
         PARTITION BY q.vec_id
         ORDER BY round(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) DESC,
                  c.vec_id) AS INTEGER) AS rank
FROM (SELECT * FROM embeddings WHERE vec_id < 10) q
JOIN embeddings c ON c.vec_id != q.vec_id
QUALIFY rank <= 5
"""


def knn_brute_force_np(spark, sf_dir):
    """Arrow-batched numpy-matmul exact KNN — must produce the identical
    result set as the Column-algebra variant and the SQL oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return SIM.brute_force_topk_np(emb, queries, k=5).withColumn(
        "rank", F.col("rank").cast("int")
    )


def knn_ivf(spark, sf_dir):
    """IVF ANN, parameterized for exactness on the gate data: the test
    embeddings are near-isotropic (no cluster structure), so aggressive
    cell pruning cannot have recall 1.0 — this entry probes 14/16 cells,
    which is exact at sf0.001/0.01/0.1 (verified) and therefore
    value-checkable against the brute-force SQL oracle, while still
    exercising the full IVF plan (centroid broadcast, cell assignment,
    probe-pruned join). Aggressive pruning (nprobe=4) and its recall are
    covered in tests/test_operators.py on the same operator."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return SIM.ivf_topk(emb, queries, k=5, n_centroids=16, nprobe=14).withColumn(
        "rank", F.col("rank").cast("int")
    )


def knn_pq(spark, sf_dir):
    """Product-quantization ANN, parameterized for exactness on the gate
    data (same discipline as knn_ivf): near-isotropic test embeddings are
    PQ's worst case, so the gate entry uses fine sub-spaces (m=32 over 64
    dims) and a 12x rerank, which is verified exact at sf0.001/0.01 —
    value-checkable against the brute-force SQL oracle while exercising
    the full PQ plan (driver-trained codebooks broadcast, Arrow-batched
    encode + asymmetric-distance scan, compressed-domain candidate top-k,
    exact cosine rerank). Compression-realistic parameters (m=8/16) and
    their recall are covered in tests/test_operators.py."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return SIM.pq_topk(
        emb, queries, k=5, m=32, n_codes=16, rerank_factor=12
    ).withColumn("rank", F.col("rank").cast("int"))


# =====================================================================
# text analysis
# =====================================================================

def text_token_stats(spark, sf_dir):
    return TA.token_stats(_t(spark, sf_dir, "documents"))


TEXT_TOKENS_SQL = """
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt, text
  FROM documents
)
SELECT doc_id,
       CAST(CASE WHEN length(nt) = 0 THEN 0 ELSE len(string_split(nt, ' ')) END AS INTEGER) AS n_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS n_bpe_tokens,
       round(list_sum(list_transform(string_split(nt, ' '), t -> length(t)))::DOUBLE
             / greatest(len(string_split(nt, ' ')), 1), 4) AS avg_token_len
FROM norm
"""


def text_quality_scores(spark, sf_dir):
    return TA.quality_score(_t(spark, sf_dir, "documents"))


TEXT_QUALITY_SQL = """
WITH norm AS (
  SELECT doc_id, text,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
  FROM documents
), parts AS (
  SELECT doc_id,
         len(list_filter(toks, t -> t IN ('the','a','of','and','is','to','in','it','on','for')))::DOUBLE
           / greatest(len(toks), 1) AS stop_ratio,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
           / greatest(length(text), 1) AS alpha_ratio,
         least(len(toks), 100)::DOUBLE / 100.0 AS len_score
  FROM norm
)
SELECT doc_id, round(stop_ratio, 4) AS stop_ratio, round(alpha_ratio, 4) AS alpha_ratio,
       round(0.4 * len_score + 0.4 * stop_ratio + 0.2 * alpha_ratio, 4) AS quality
FROM parts
"""


def text_lang_id(spark, sf_dir):
    return TA.lang_id(_t(spark, sf_dir, "documents"))


# NOTE: keep marker lists in sync with textanalysis.LANG_MARKERS
TEXT_LANGID_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
  FROM documents
), counts AS (
  SELECT doc_id,
         len(list_filter(t, x -> x IN ('the','a','of','and','is')))   AS c_en,
         len(list_filter(t, x -> x IN ('el','la','de','y','es')))     AS c_es,
         len(list_filter(t, x -> x IN ('le','la','de','et','est')))   AS c_fr,
         len(list_filter(t, x -> x IN ('der','die','das','und','ist'))) AS c_de,
         len(list_filter(t, x -> x IN ('zh0','zh1','zh2','zh3','zh4'))) AS c_zh
  FROM toks
)
SELECT doc_id,
       CASE
         WHEN c_zh > greatest(c_en, c_es, c_fr, c_de) THEN 'zh'
         WHEN c_de > greatest(c_en, c_es, c_fr)       THEN 'de'
         WHEN c_fr > greatest(c_en, c_es)             THEN 'fr'
         WHEN c_es > c_en                             THEN 'es'
         ELSE 'en'
       END AS pred_lang,
       CAST(greatest(c_en, c_es, c_fr, c_de, c_zh) AS INTEGER) AS marker_hits
FROM counts
"""


def text_fingerprints(spark, sf_dir):
    return TA.fingerprint_docs(_t(spark, sf_dir, "documents"))


TEXT_FP_SQL = """
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
       substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), 1, 40) AS norm_prefix
FROM documents
"""


# =====================================================================
# multimodal plumbing
# =====================================================================

def multimodal_features(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return MM.extract_features(MM.attach_payload(docs))


MULTIMODAL_FEATURES_SQL = """
SELECT doc_id,
       CAST(strlen(text) AS BIGINT) AS byte_len,
       md5(text) AS payload_md5,
       lower(hex(substr(text, 1, 8))) AS head_hex
FROM documents
"""


def multimodal_frame_sample(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return MM.frame_sample(MM.attach_payload(docs), every_n_bytes=64)


MULTIMODAL_FRAMES_SQL = """
SELECT doc_id,
       CAST(off AS BIGINT) AS frame_offset,
       CAST(ascii(substr(text, off + 1, 1)) AS INTEGER) AS first_byte
FROM documents, unnest(range(0, strlen(text), 64)) AS t(off)
"""


def multimodal_media_decode(spark, sf_dir):
    """REAL round-trip: synthesize spec-valid PNG/WAV bytes per doc (header
    fields derived from doc_id), then parse them back out of the raw bytes
    by magic number. The oracle predicts the fields arithmetically from
    doc_id — the Spark side must actually build and decode the files to
    match."""
    docs = _t(spark, sf_dir, "documents")
    return MM.decode_media_meta(MM.synthesize_media(docs))


def multimodal_patch_stats(spark, sf_dir):
    """REAL pixel decode + ViT-style patchify: PNG payloads synthesized
    per doc are fully decoded (zlib IDAT, filter-0 strip) and split into
    an 8x8 patch grid with exact integer patch sums. The oracle predicts
    every sum arithmetically from the synthesizer's (seed+x+y)%256 pixel
    formula — the Spark side must genuinely decompress pixels to agree."""
    docs = _t(spark, sf_dir, "documents")
    return MM.png_patch_stats(MM.synthesize_media(docs)).orderBy(
        "doc_id", "py", "px"
    )


MULTIMODAL_PATCH_SQL = """
WITH png AS (
  SELECT doc_id, 1 + doc_id % 64 AS w, 1 + doc_id % 48 AS h
  FROM documents WHERE doc_id % 2 = 0
), patches AS (
  SELECT doc_id, w, h, py.py AS py, px.px AS px
  FROM png,
       UNNEST(generate_series(0, CAST(ceil(h/8.0) AS BIGINT)-1)) AS py(py),
       UNNEST(generate_series(0, CAST(ceil(w/8.0) AS BIGINT)-1)) AS px(px)
)
SELECT doc_id, CAST(py AS INT) AS py, CAST(px AS INT) AS px,
       count(*) AS n_px,
       CAST(sum((doc_id + x.x + y.y) % 256) AS BIGINT) AS pixel_sum
FROM patches,
     UNNEST(generate_series(px*8, least(px*8+7, w-1))) AS x(x),
     UNNEST(generate_series(py*8, least(py*8+7, h-1))) AS y(y)
GROUP BY doc_id, py, px
ORDER BY doc_id, py, px
"""


def multimodal_wav_energy(spark, sf_dir):
    """REAL PCM decode + per-window energy: WAV payloads synthesized per
    doc are decoded to int16 samples (RIFF chunk walk) and split into
    50-frame windows with exact integer sum / sum-of-squares. The oracle
    predicts both from the synthesizer's ((seed*31+i*7)%65536)-32768
    sample formula — agreement proves a genuine decode."""
    docs = _t(spark, sf_dir, "documents")
    return MM.wav_window_energy(MM.synthesize_media(docs)).orderBy(
        "doc_id", "win"
    )


MULTIMODAL_WAV_SQL = """
WITH wav AS (
  SELECT doc_id, 50 + doc_id % 200 AS n FROM documents WHERE doc_id % 2 = 1
), frames AS (
  SELECT doc_id, i.i AS i, ((doc_id * 31 + i.i * 7) % 65536) - 32768 AS s
  FROM wav, UNNEST(generate_series(0, n - 1)) AS i(i)
)
SELECT doc_id, CAST(i // 50 AS INT) AS win,
       count(*) AS n_frames,
       CAST(sum(s) AS BIGINT) AS sample_sum,
       CAST(sum(s * s) AS BIGINT) AS energy
FROM frames
GROUP BY doc_id, i // 50
ORDER BY doc_id, win
"""


MULTIMODAL_MEDIA_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'wav' END AS modality,
       CASE WHEN doc_id % 2 = 0 THEN CAST(1 + doc_id % 64 AS BIGINT) END AS width,
       CASE WHEN doc_id % 2 = 0 THEN CAST(1 + doc_id % 48 AS BIGINT) END AS height,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 16 END AS BIGINT) AS bit_depth,
       CASE WHEN doc_id % 2 = 1 THEN CAST(1 + (doc_id // 2) % 2 AS BIGINT) END AS channels,
       CASE WHEN doc_id % 2 = 1 THEN CAST(8000 * (1 + doc_id % 3) AS BIGINT) END AS sample_rate,
       CASE WHEN doc_id % 2 = 1 THEN CAST(50 + doc_id % 200 AS BIGINT) END AS n_frames,
       CASE WHEN doc_id % 2 = 1
            THEN (50 + doc_id % 200) * 1000.0 / (8000 * (1 + doc_id % 3)) END AS duration_ms
FROM documents
"""


#: column-level cell patterns for the dHash entries (high-value column
#: indexes per base pattern, 9 columns). Patterns are ROW-UNIFORM, so any
#: two distinct bases differ in >= 8 of the 64 hash bits (each differing
#: row-bit repeats in all 8 rows) — brightness groups can never merge and
#: near-dup pairs can never cross bases.
_DHASH_PATTERNS_INV = [
    {0, 2, 4, 6, 8},
    {0, 1, 4, 5, 8},
    {0, 3, 6},
    {1, 2, 5, 6},
    {0, 1, 2, 3, 4},
]
#: near-dup patterns share the (low, high, low) prefix on columns 0-2, so
#: a noisy copy's single flipped cell at column 1 changes EXACTLY one hash
#: bit: the c0->c1 comparison flips 1->0, while c1->c2 stays 0 under the
#: strict-> tie rule (40 > 40 is false either way)
_DHASH_PATTERNS_ND = [
    {1},
    {1, 3},
    {1, 4, 6},
    {1, 3, 5, 7},
    {1, 4, 5, 6, 8},
]


def _dhash_cell_images(spark, n: int, patterns, offset_of, flip_row_of):
    """Distributed synthesis of 72x64 cell-pattern PNGs: id -> base
    pattern (id % 5) + brightness offset + optional single-cell flip, all
    through the real PNG encoder (png_bytes_cells), so the dhash side must
    genuinely decode the container to agree."""
    import pandas as pd

    def synth(batches):
        for pdf in batches:
            ids, payloads = [], []
            for raw_id in pdf["id"]:
                i = int(raw_id)
                o = offset_of(i)
                hi, lo = 160 + o, 40 + o
                high_cols = patterns[i % 5]
                vals = [
                    [hi if cx in high_cols else lo for cx in range(9)]
                    for _ in range(8)
                ]
                fr = flip_row_of(i)
                if fr is not None:
                    vals[fr][1] = lo  # flip the (row fr, col 1) cell H->L
                ids.append(i)
                payloads.append(MM.png_bytes_cells(vals))
            yield pd.DataFrame(
                {"doc_id": pd.Series(ids, dtype="int64"), "payload": payloads}
            )

    return spark.range(n).mapInPandas(synth, "doc_id long, payload binary")


def image_dhash_groups(spark, sf_dir):
    """Perceptual-hash dedup, property 1 — BRIGHTNESS INVARIANCE: 60 PNGs
    from 5 base patterns x 12 brightness offsets; dHash compares adjacent
    block means, so the uniform offset cancels and each base's 12
    variants hash IDENTICALLY, while distinct bases differ in >= 8 bits
    (row-uniform patterns). Grouping by the hash must therefore rebuild
    exactly the 5 base groups — the oracle predicts them arithmetically
    (i % 5) with zero knowledge of hash values. The exact-dedup operators
    would see 60 distinct payloads here; this is what perceptual hashing
    adds for image corpora."""
    media = _dhash_cell_images(
        spark,
        60,
        _DHASH_PATTERNS_INV,
        offset_of=lambda i: (i % 6) * 10,
        flip_row_of=lambda i: None,
    )
    h = MM.image_dhash(media)
    return (
        h.groupBy("dhash")
        .agg(
            F.min("doc_id").alias("rep"),
            F.count(F.lit(1)).alias("n_images"),
        )
        .select("rep", "n_images")
        .orderBy("rep")
    )


IMAGE_DHASH_GROUPS_SQL = """
SELECT i % 5 AS rep, count(*) AS n_images
FROM (SELECT unnest(range(0, 60)) AS i)
GROUP BY 1
ORDER BY rep
"""


def image_dhash_near_dup(spark, sf_dir):
    """Perceptual-hash dedup, property 2 — NEAR-DUPLICATE pairing under a
    Hamming threshold: 5 base images + 2 noisy copies each (one cell
    flipped at different rows -> exactly 1 bit from the base, 2 bits
    between the two copies). dhash_near_dup_pairs generates candidates by
    4x16-bit band equi-join (pigeonhole-complete for hamming <= 3) and
    verifies with bit_count(xor) <= 2 — the within-base pairs with their
    EXACT distances, and nothing across bases (>= 8 bits apart). The
    oracle enumerates the expected pair list arithmetically."""
    media = _dhash_cell_images(
        spark,
        15,
        _DHASH_PATTERNS_ND,
        offset_of=lambda i: 0,
        flip_row_of=lambda i: None if i < 5 else (2 if i < 10 else 5),
    )
    h = MM.image_dhash(media)
    return MM.dhash_near_dup_pairs(h, max_hamming=2).orderBy("id_a", "id_b")


IMAGE_DHASH_ND_SQL = """
SELECT b + 5 * ca AS id_a, b + 5 * cb AS id_b, hm AS hamming
FROM (SELECT unnest(range(0, 5)) AS b),
     (VALUES (0, 1, 1), (0, 2, 1), (1, 2, 2)) AS p(ca, cb, hm)
ORDER BY id_a, id_b
"""


# =====================================================================
# the registry
# =====================================================================

REGISTRY: dict[str, QuerySpec] = {
    # relational battery
    "q1_pricing_summary": QuerySpec(q1_pricing_summary, Q1_SQL),
    "q3_shipping_priority": QuerySpec(q3_shipping_priority, Q3_SQL),
    "q5_local_supplier_volume": QuerySpec(q5_local_supplier_volume, Q5_SQL),
    "q6_revenue_change": QuerySpec(q6_revenue_change, Q6_SQL),
    "q10_returned_items": QuerySpec(q10_returned_items, Q10_SQL),
    "q13_order_count_distribution": QuerySpec(q13_order_count_distribution, Q13_SQL),
    "q14_promo_revenue": QuerySpec(q14_promo_revenue, Q14_SQL),
    "q18_large_volume_customers": QuerySpec(q18_large_volume_customers, Q18_SQL),
    "q19_bracket_revenue": QuerySpec(q19_bracket_revenue, Q19_SQL),
    # windows / top-k / grouping
    "window_customer_order_analytics": QuerySpec(
        window_customer_order_analytics, WINDOW_ANALYTICS_SQL
    ),
    "topk_parts_per_brand": QuerySpec(topk_parts_per_brand, TOPK_PARTS_SQL),
    "rollup_lineitem_flags": QuerySpec(rollup_lineitem_flags, ROLLUP_SQL),
    "cube_order_status_priority": QuerySpec(cube_order_status_priority, CUBE_SQL),
    "groupingsets_customer_segments": QuerySpec(
        groupingsets_customer_segments, GROUPINGSETS_SQL
    ),
    # semi/anti/set ops/distinct
    "semi_join_urgent_customers": QuerySpec(semi_join_urgent_customers, SEMI_SQL),
    "anti_join_customers_no_orders": QuerySpec(anti_join_customers_no_orders, ANTI_SQL),
    "setop_union_valued": QuerySpec(setop_union_valued, SETOP_UNION_SQL),
    "setop_intersect_status": QuerySpec(setop_intersect_status, SETOP_INTERSECT_SQL),
    "setop_except_status": QuerySpec(setop_except_status, SETOP_EXCEPT_SQL),
    "distinct_nation_segments": QuerySpec(distinct_nation_segments, DISTINCT_SQL),
    "approx_percentile_envelope": QuerySpec(
        approx_percentile_envelope, APPROX_PCTL_ENVELOPE_SQL
    ),
    "approx_distinct_users": QuerySpec(
        approx_distinct_users, APPROX_DISTINCT_ENVELOPE_SQL
    ),
    # scalar / dates / json
    "scalar_events_enriched": QuerySpec(scalar_events_enriched, SCALAR_SQL),
    "monthly_event_rollup": QuerySpec(monthly_event_rollup, MONTHLY_SQL),
    # sessionization / time windows
    "sessionize_events": QuerySpec(sessionize_events, SESSIONIZE_SQL),
    "tumbling_event_counts": QuerySpec(tumbling_event_counts, TUMBLING_SQL),
    "sliding_event_counts": QuerySpec(sliding_event_counts, SLIDING_SQL),
    "session_window_stats": QuerySpec(session_window_stats, SESSION_WINDOW_SQL),
    # as-of / range joins
    "asof_purchase_last_click": QuerySpec(asof_purchase_last_click, ASOF_SQL),
    "asof_click_next_purchase": QuerySpec(asof_click_next_purchase, ASOF_FORWARD_SQL),
    "asof_purchase_last_click_tol": QuerySpec(
        asof_purchase_last_click_tol, ASOF_TOL_SQL
    ),
    "range_join_price_bands": QuerySpec(range_join_price_bands, RANGE_JOIN_SQL),
    # dedup
    "dedup_exact_groups": QuerySpec(dedup_exact_groups, DEDUP_EXACT_GROUPS_SQL),
    "dedup_exact_survivors": QuerySpec(dedup_exact_survivors, DEDUP_EXACT_SURVIVORS_SQL),
    "dedup_ngram_jaccard": QuerySpec(dedup_ngram_jaccard, DEDUP_JACCARD_SQL),
    "dedup_minhash_lsh": QuerySpec(dedup_minhash_lsh, DEDUP_JACCARD_SQL),
    "dedup_simhash": QuerySpec(dedup_simhash, DEDUP_SIMHASH_SQL),
    "dedup_embedding_cosine": QuerySpec(dedup_embedding_cosine, DEDUP_EMBEDDING_SQL),
    "semdedup_embeddings": QuerySpec(semdedup_embeddings, SEMDEDUP_SQL),
    "dedup_embedding_cosine_np": QuerySpec(
        dedup_embedding_cosine_np, DEDUP_EMBEDDING_SQL
    ),
    "dedup_embedding_lsh": QuerySpec(dedup_embedding_lsh, DEDUP_EMBEDDING_SQL),
    # similarity search
    "knn_brute_force": QuerySpec(knn_brute_force, KNN_SQL),
    "knn_brute_force_np": QuerySpec(knn_brute_force_np, KNN_SQL),
    "knn_ivf": QuerySpec(knn_ivf, KNN_SQL),
    "knn_pq": QuerySpec(knn_pq, KNN_SQL),
    # text analysis
    "text_token_stats": QuerySpec(text_token_stats, TEXT_TOKENS_SQL),
    "text_quality_scores": QuerySpec(text_quality_scores, TEXT_QUALITY_SQL),
    "text_lang_id": QuerySpec(text_lang_id, TEXT_LANGID_SQL),
    "text_fingerprints": QuerySpec(text_fingerprints, TEXT_FP_SQL),
    # multimodal
    "multimodal_features": QuerySpec(multimodal_features, MULTIMODAL_FEATURES_SQL),
    "multimodal_frame_sample": QuerySpec(multimodal_frame_sample, MULTIMODAL_FRAMES_SQL),
    "multimodal_media_decode": QuerySpec(multimodal_media_decode, MULTIMODAL_MEDIA_SQL),
    "multimodal_patch_stats": QuerySpec(multimodal_patch_stats, MULTIMODAL_PATCH_SQL),
    "multimodal_wav_energy": QuerySpec(multimodal_wav_energy, MULTIMODAL_WAV_SQL),
    "image_dhash_groups": QuerySpec(image_dhash_groups, IMAGE_DHASH_GROUPS_SQL),
    "image_dhash_near_dup": QuerySpec(image_dhash_near_dup, IMAGE_DHASH_ND_SQL),
}

# widen coverage: TPC-H part 2 (subquery/EXISTS shapes) + operator batteries
# + streaming operators run to completion under the batch gate
from kinesis_app_spark.registry_funcs import REGISTRY_FUNCS  # noqa: E402
from kinesis_app_spark.registry_funcs2 import REGISTRY_FUNCS2  # noqa: E402
from kinesis_app_spark.registry_funcs3 import REGISTRY_FUNCS3  # noqa: E402
from kinesis_app_spark.registry_pipeline import REGISTRY_PIPELINE  # noqa: E402
from kinesis_app_spark.registry_scale import REGISTRY_SCALE  # noqa: E402
from kinesis_app_spark.registry_streaming import REGISTRY_STREAMING  # noqa: E402
from kinesis_app_spark.registry_curation import REGISTRY_CURATION  # noqa: E402
from kinesis_app_spark.registry_curation2 import REGISTRY_CURATION2  # noqa: E402
from kinesis_app_spark.registry_stats import REGISTRY_STATS  # noqa: E402
from kinesis_app_spark.registry_modern import REGISTRY_MODERN  # noqa: E402
from kinesis_app_spark.registry_cdc import REGISTRY_CDC  # noqa: E402
from kinesis_app_spark.registry_analytics import REGISTRY_ANALYTICS  # noqa: E402
from kinesis_app_spark.registry_analytics2 import REGISTRY_ANALYTICS2  # noqa: E402
from kinesis_app_spark.registry_analytics3 import REGISTRY_ANALYTICS3  # noqa: E402
from kinesis_app_spark.registry_analytics4 import REGISTRY_ANALYTICS4  # noqa: E402
from kinesis_app_spark.registry_geo import REGISTRY_GEO  # noqa: E402
from kinesis_app_spark.registry_layout import REGISTRY_LAYOUT  # noqa: E402
from kinesis_app_spark.registry_modern3 import REGISTRY_MODERN3  # noqa: E402
from kinesis_app_spark.registry_mlprep import REGISTRY_MLPREP  # noqa: E402
from kinesis_app_spark.registry_advanced import REGISTRY_ADVANCED  # noqa: E402
from kinesis_app_spark.registry_hybrid import REGISTRY_HYBRID  # noqa: E402
from kinesis_app_spark.registry_sources import REGISTRY_SOURCES  # noqa: E402
from kinesis_app_spark.registry_tpch2 import REGISTRY_TPCH2  # noqa: E402
from kinesis_app_spark.registry_round3 import REGISTRY_ROUND3  # noqa: E402
from kinesis_app_spark.registry_round3b import REGISTRY_ROUND3B  # noqa: E402
from kinesis_app_spark.registry_mleval import REGISTRY_MLEVAL  # noqa: E402
from kinesis_app_spark.registry_round4 import REGISTRY_ROUND4  # noqa: E402

REGISTRY.update(REGISTRY_TPCH2)
REGISTRY.update(REGISTRY_FUNCS)
REGISTRY.update(REGISTRY_FUNCS2)
REGISTRY.update(REGISTRY_FUNCS3)
REGISTRY.update(REGISTRY_STREAMING)
REGISTRY.update(REGISTRY_SCALE)
REGISTRY.update(REGISTRY_PIPELINE)
REGISTRY.update(REGISTRY_CURATION)
REGISTRY.update(REGISTRY_CURATION2)
REGISTRY.update(REGISTRY_STATS)
REGISTRY.update(REGISTRY_MODERN)
REGISTRY.update(REGISTRY_SOURCES)
REGISTRY.update(REGISTRY_HYBRID)
REGISTRY.update(REGISTRY_CDC)
REGISTRY.update(REGISTRY_ANALYTICS)
REGISTRY.update(REGISTRY_ANALYTICS2)
REGISTRY.update(REGISTRY_ANALYTICS3)
REGISTRY.update(REGISTRY_ANALYTICS4)
REGISTRY.update(REGISTRY_GEO)
REGISTRY.update(REGISTRY_LAYOUT)
REGISTRY.update(REGISTRY_MODERN3)
REGISTRY.update(REGISTRY_MLPREP)
REGISTRY.update(REGISTRY_ADVANCED)
from kinesis_app_spark import registry_round3 as _r3  # noqa: E402

_r3._bind_prefix_oracle()
REGISTRY.update(REGISTRY_ROUND3)
REGISTRY.update(REGISTRY_ROUND3B)
REGISTRY.update(REGISTRY_MLEVAL)
from kinesis_app_spark import registry_round4 as _r4  # noqa: E402

_r4._bind_knn_oracle()
_r4._bind_streaming_vt_oracle()
REGISTRY.update(REGISTRY_ROUND4)
from kinesis_app_spark import registry_round5 as _r5  # noqa: E402
from kinesis_app_spark.registry_round5 import REGISTRY_ROUND5  # noqa: E402

_r5._bind_knn_oracle()
_r5._bind_vt_v1_oracle()
REGISTRY.update(REGISTRY_ROUND5)
from kinesis_app_spark import registry_round6 as _r6  # noqa: E402
from kinesis_app_spark.registry_round6 import REGISTRY_ROUND6  # noqa: E402

_r6._bind_erasure_oracle()
REGISTRY.update(REGISTRY_ROUND6)
from kinesis_app_spark import registry_round7 as _r7  # noqa: E402
from kinesis_app_spark.registry_round7 import REGISTRY_ROUND7  # noqa: E402

_r7._bind_two_stream_oracle()
REGISTRY.update(REGISTRY_ROUND7)
from kinesis_app_spark.registry_round8 import REGISTRY_ROUND8  # noqa: E402

REGISTRY.update(REGISTRY_ROUND8)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle}
