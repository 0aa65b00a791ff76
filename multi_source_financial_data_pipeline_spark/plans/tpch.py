"""TPC-H-shaped analytical queries over the driver's synthetic star schema.

These are the bench headliners: scan-heavy aggregation (q1), selective
mid-size join + top-k (q3), and a multi-dimension broadcast-join rollup (q5).
Float sums are computed over DECIMAL-cast inputs (the data sits on a 2-decimal
grid) and cast back to DOUBLE, so Spark's parallel partial aggregation and
DuckDB's serial sum produce bit-identical results.

Scale notes: q1 is a pure map-side-combine groupBy on a 4-value key — it
scales linearly and AQE coalesces the tiny shuffle. q3/q5 join fact tables on
their natural keys; `region`/`nation`/`supplier`/`part` are explicitly
broadcast (fixed-size or ~|fact|/30 dimensions), while `customer` — which
grows proportionally with the scale factor (150k × SF rows) — carries NO
broadcast hint: AQE promotes it to a broadcast join when its runtime size is
under the threshold and falls back to a shuffled join at large SF, so the
plan never pins a scale-proportional table into executor memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from multi_source_financial_data_pipeline_spark.plans.spec import QuerySpec
from multi_source_financial_data_pipeline_spark.sources import load_table


def _dec(col: str, prec: str = "12,2"):
    return F.col(col).cast(f"decimal({prec})")


# --- q1: pricing summary (scan + group-agg) ---------------------------------

Q1_CUTOFF = "1998-09-02"


def q_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast("decimal(4,2)") - _dec("l_discount", "4,2"))
    charge = disc_price * (F.lit(1).cast("decimal(4,2)") + _dec("l_tax", "4,2"))
    out = (
        li.filter(F.to_date("l_shipdate") <= F.lit(Q1_CUTOFF).cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    return out.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        "sum_charge",
        (F.col("sum_qty") / F.col("count_order")).alias("avg_qty"),
        (F.col("sum_base_price") / F.col("count_order")).alias("avg_price"),
        "count_order",
    )


SQL_Q1 = f"""
WITH agg AS (
  SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                  * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                  * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
                  * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
         count(*) AS count_order
  FROM lineitem
  WHERE CAST(l_shipdate AS DATE) <= DATE '{Q1_CUTOFF}'
  GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price, sum_disc_price, sum_charge,
       sum_qty / count_order AS avg_qty,
       sum_base_price / count_order AS avg_price,
       count_order
FROM agg
"""


# --- q3: top-revenue orders (selective join + top-k) ------------------------

Q3_SEGMENT = "BUILDING"
Q3_DATE = "1995-03-15"
Q3_TOPK = 10


def q_q3_top_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == Q3_SEGMENT)
    orders = load_table(spark, sf_dir, "orders").filter(
        F.to_date("o_orderdate") < F.lit(Q3_DATE).cast("date")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.to_date("l_shipdate") > F.lit(Q3_DATE).cast("date")
    )
    revenue = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(4,2)") - _dec("l_discount", "4,2")
    )
    out = (
        li.join(
            # no broadcast hint: segment-filtered customer is ~1/5 of a
            # scale-proportional table — at 100 TB it cannot broadcast.
            # AQE picks broadcast at runtime when the SF makes it small.
            orders.join(cust, orders.o_custkey == cust.c_custkey),
            li.l_orderkey == orders.o_orderkey,
        )
        .groupBy("l_orderkey", F.to_date("o_orderdate").alias("o_orderdate"), "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(Q3_TOPK)
    )
    return out.select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")


SQL_Q3 = f"""
SELECT l_orderkey,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
       CAST(o_orderdate AS DATE) AS o_orderdate,
       o_orderpriority
FROM customer, orders, lineitem
WHERE c_mktsegment = '{Q3_SEGMENT}'
  AND c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND CAST(o_orderdate AS DATE) < DATE '{Q3_DATE}'
  AND CAST(l_shipdate AS DATE) > DATE '{Q3_DATE}'
GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT {Q3_TOPK}
"""


# --- q5: revenue by nation within a region (broadcast-join rollup) ----------

Q5_REGION = "ASIA"


def q_q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == Q5_REGION)
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(4,2)") - _dec("l_discount", "4,2")
    )
    dims = cust.join(
        F.broadcast(nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)),
        cust.c_nationkey == nation.n_nationkey,
    )
    out = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(dims, orders.o_custkey == dims.c_custkey)
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )
    return out.select("n_name", "revenue")


SQL_Q5 = f"""
SELECT n_name,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM customer, orders, lineitem, nation, region
WHERE c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND c_nationkey = n_nationkey
  AND n_regionkey = r_regionkey
  AND r_name = '{Q5_REGION}'
GROUP BY n_name
"""


# --- q4: order priority checking (left-semi join) ----------------------------

Q4_START, Q4_END = "1995-07-01", "1995-10-01"


def q_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q4 shape (cf. reference anti/semi-join dedup, src/database.py:192-207):
    EXISTS subquery as a left-semi join — orders with at least one returned
    line, counted per priority. (The synthetic lineitem has no commit/receipt
    dates, so "late" becomes ``l_returnflag = 'R'``; the plan shape — filtered
    probe side, semi join, rollup — is unchanged.) Semi-join never duplicates
    or carries right-side columns — strictly cheaper than inner join +
    distinct, and the returnflag filter is pushed into the parquet scan."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.to_date("o_orderdate") >= F.lit(Q4_START).cast("date"))
        & (F.to_date("o_orderdate") < F.lit(Q4_END).cast("date"))
    )
    returned = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        orders.join(
            returned, orders["o_orderkey"] == returned["l_orderkey"], "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


SQL_Q4 = f"""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE CAST(o_orderdate AS DATE) >= DATE '{Q4_START}'
  AND CAST(o_orderdate AS DATE) < DATE '{Q4_END}'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
  )
GROUP BY o_orderpriority
"""


# --- q7: volume shipping between two nations (dual-path dim join) ------------

# both nations have suppliers at every scale factor (sf0.001 has only 10
# suppliers, spread over nations {3,8,12,13,15,18,19,20,21,24})
Q7_NATION_A, Q7_NATION_B = "NATION_3", "NATION_8"


def q_q7_shipping_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q7 shape: revenue flowing between two nations, by direction and
    ship year. The fact row reaches nation twice — through supplier and
    through orders→customer — so this is the widest join tree in the bench.
    Both dimension chains fold into broadcasts; the only shuffle is
    lineitem⋈orders, and the disjunctive nation-pair predicate prunes rows
    inside the broadcast joins (either direction, never same-nation)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(Q7_NATION_A, Q7_NATION_B)
    )
    supp_n = supp.join(
        F.broadcast(nation), supp.s_nationkey == nation.n_nationkey
    ).select(F.col("s_suppkey"), F.col("n_name").alias("supp_nation"))
    cust_n = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).select(F.col("c_custkey"), F.col("n_name").alias("cust_nation"))
    revenue = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(4,2)") - _dec("l_discount", "4,2")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        # supp_n/cust_n are nation-filtered slices of scale-proportional
        # tables (~2/25 each) — no forced broadcast; AQE decides at runtime
        .join(supp_n, li.l_suppkey == supp_n.s_suppkey)
        .join(cust_n, orders.o_custkey == cust_n.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year(F.to_date("l_shipdate")).cast("bigint").alias("l_year"),
        )
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


SQL_Q7 = f"""
SELECT supp_nation, cust_nation, l_year,
       CAST(sum(volume) AS DOUBLE) AS revenue
FROM (
  SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
         CAST(year(CAST(l_shipdate AS DATE)) AS BIGINT) AS l_year,
         CAST(l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) AS volume
  FROM lineitem, orders, customer, supplier, nation sn, nation cn
  WHERE l_orderkey = o_orderkey
    AND l_suppkey = s_suppkey
    AND o_custkey = c_custkey
    AND s_nationkey = sn.n_nationkey
    AND c_nationkey = cn.n_nationkey
    AND sn.n_name IN ('{Q7_NATION_A}', '{Q7_NATION_B}')
    AND cn.n_name IN ('{Q7_NATION_A}', '{Q7_NATION_B}')
    AND sn.n_name <> cn.n_name
) shipping
GROUP BY supp_nation, cust_nation, l_year
"""


# --- q10: returned-item customer revenue (wide join + grouped top-k) ---------

Q10_START, Q10_END = "1995-10-01", "1996-01-01"
Q10_TOPK = 20


def q_q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q10 shape: revenue lost to returns per customer over a quarter.
    orders⋈lineitem shuffles (both pre-filtered at the scan); nation is
    broadcast. customer is scale-proportional, so it carries no hint — AQE
    broadcasts it while small and shuffles it on c_custkey at large SF.
    Grouping by the customer natural key plus its functionally-dependent
    attributes adds no shuffle width at scale — the hash key is dominated by
    c_custkey cardinality."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.to_date("o_orderdate") >= F.lit(Q10_START).cast("date"))
        & (F.to_date("o_orderdate") < F.lit(Q10_END).cast("date"))
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    revenue = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(4,2)") - _dec("l_discount", "4,2")
    )
    out = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(Q10_TOPK)
    )
    return out.select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")


SQL_Q10 = f"""
SELECT c_custkey, c_name,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
       c_acctbal, n_name
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND CAST(o_orderdate AS DATE) >= DATE '{Q10_START}'
  AND CAST(o_orderdate AS DATE) < DATE '{Q10_END}'
  AND l_returnflag = 'R'
  AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT {Q10_TOPK}
"""


# --- q14: promo revenue ratio (conditional agg over a broadcast join) --------

Q14_START, Q14_END = "1996-01-01", "1996-04-01"


def q_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q14 shape: share of revenue from promo parts. `part` is a true
    dimension (|part| ~ |lineitem|/30) → broadcast; the conditional sum is a
    map-side combine, so the whole query is one scan + one local agg. Both
    sums are decimal-exact, divided only after the final cast."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.to_date("l_shipdate") >= F.lit(Q14_START).cast("date"))
        & (F.to_date("l_shipdate") < F.lit(Q14_END).cast("date"))
    )
    part = load_table(spark, sf_dir, "part")
    revenue = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(4,2)") - _dec("l_discount", "4,2")
    )
    zero = F.lit(0).cast("decimal(16,4)")
    out = (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", revenue).otherwise(zero))
            .cast("double")
            .alias("promo_revenue"),
            F.sum(revenue).cast("double").alias("total_revenue"),
        )
        .select(
            (F.lit(100.0) * F.col("promo_revenue") / F.col("total_revenue")).alias(
                "promo_revenue_pct"
            ),
            "promo_revenue",
            "total_revenue",
        )
    )
    return out


SQL_Q14 = f"""
WITH agg AS (
  SELECT CAST(sum(CASE WHEN p_type = 'PROMO'
                       THEN CAST(l_extendedprice AS DECIMAL(12,2))
                            * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
                       ELSE CAST(0 AS DECIMAL(16,4)) END) AS DOUBLE) AS promo_revenue,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                  * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS total_revenue
  FROM lineitem, part
  WHERE l_partkey = p_partkey
    AND CAST(l_shipdate AS DATE) >= DATE '{Q14_START}'
    AND CAST(l_shipdate AS DATE) < DATE '{Q14_END}'
)
SELECT 100.0 * promo_revenue / total_revenue AS promo_revenue_pct,
       promo_revenue, total_revenue
FROM agg
"""


# --- q18: large-volume customers (agg-having, then join back) ----------------

Q18_QTY = 250


def q_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q18 shape: orders whose total quantity exceeds a threshold,
    joined back to customer detail. The HAVING runs as a pre-aggregation on
    lineitem alone — at 100 TB this reduces the fact table to a tiny
    survivor set *before* any join, so the orders join broadcasts the
    survivors rather than shuffling lineitem against orders. customer is
    scale-proportional and carries no broadcast hint (AQE decides)."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).cast("double").alias("total_qty"))
        .filter(F.col("total_qty") > Q18_QTY)
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    out = (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.to_date("o_orderdate").alias("o_orderdate"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    )
    return out


SQL_Q18 = f"""
SELECT c_name, c_custkey, o_orderkey,
       CAST(o_orderdate AS DATE) AS o_orderdate,
       o_totalprice, total_qty
FROM orders
JOIN (
  SELECT l_orderkey,
         CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
  FROM lineitem
  GROUP BY l_orderkey
  HAVING total_qty > {Q18_QTY}
) big ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC
"""


# --- q15: top supplier by revenue (argmax vs a broadcast global scalar) ------

Q15_START, Q15_END = "1996-01-01", "1996-04-01"


def q_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q15 shape: suppliers whose quarterly revenue equals the global
    maximum. The per-supplier aggregate is computed once and reused for both
    the candidate rows and the max — Spark broadcasts the 1-row max as a
    cross join (no second scan of lineitem, no correlated re-evaluation).
    Decimal-exact revenue makes the equality comparison safe cross-engine."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.to_date("l_shipdate") >= F.lit(Q15_START).cast("date"))
        & (F.to_date("l_shipdate") < F.lit(Q15_END).cast("date"))
    )
    revenue = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(4,2)") - _dec("l_discount", "4,2")
    )
    per_supp = li.groupBy("l_suppkey").agg(
        F.sum(revenue).alias("total_revenue_dec")
    )
    max_rev = per_supp.agg(
        F.max("total_revenue_dec").alias("max_revenue_dec")
    )
    supp = load_table(spark, sf_dir, "supplier")
    return (
        per_supp.join(F.broadcast(max_rev))
        .filter(F.col("total_revenue_dec") == F.col("max_revenue_dec"))
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_revenue_dec").cast("double").alias("total_revenue"),
        )
    )


SQL_Q15 = f"""
WITH r AS (
  SELECT l_suppkey,
         sum(CAST(l_extendedprice AS DECIMAL(12,2))
             * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS total_revenue_dec
  FROM lineitem
  WHERE CAST(l_shipdate AS DATE) >= DATE '{Q15_START}'
    AND CAST(l_shipdate AS DATE) < DATE '{Q15_END}'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(total_revenue_dec AS DOUBLE) AS total_revenue
FROM r JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue_dec = (SELECT max(total_revenue_dec) FROM r)
"""


# --- q19: disjunctive predicate revenue (OR-of-ANDs pushdown) ----------------

def q_q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q19 shape: revenue from three alternative (brand, size,
    quantity) clause groups. The OR-of-ANDs predicate stays a single filter
    expression: part-only conjuncts are pushed through the broadcast join to
    the part scan, lineitem-only bounds (qty ≤ 30) are factored out and
    pushed to the lineitem scan, and the cross-table residual rides the
    join — one scan each, no union-of-three-queries plan."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    revenue = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(4,2)") - _dec("l_discount", "4,2")
    )
    q = F.col("l_quantity")
    clause = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size").between(1, 10)) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size").between(1, 20)) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size").between(1, 30)) & q.between(20, 30))
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(clause)
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


SQL_Q19 = """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
               * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND (
    (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 11)
    OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10 AND 20)
    OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30 AND l_quantity BETWEEN 20 AND 30)
  )
"""


# --- q6: forecast revenue change (pure pushed-down filter + scalar agg) ------

Q6_START, Q6_END = "1994-01-01", "1995-01-01"


def q_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.to_date("l_shipdate") >= F.lit(Q6_START).cast("date"))
            & (F.to_date("l_shipdate") < F.lit(Q6_END).cast("date"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * _dec("l_discount", "4,2"))
            .cast("double")
            .alias("revenue")
        )
    )


SQL_Q6 = f"""
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE CAST(l_shipdate AS DATE) >= DATE '{Q6_START}'
  AND CAST(l_shipdate AS DATE) < DATE '{Q6_END}'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


SPECS = {
    "q1_pricing_summary": QuerySpec(
        q_q1_pricing_summary,
        SQL_Q1,
        "scan + 4-group aggregation with decimal-exact float sums",
        ("bench", "agg"),
    ),
    "q3_top_revenue": QuerySpec(
        q_q3_top_revenue,
        SQL_Q3,
        "selective 3-way join + grouped revenue + deterministic top-k",
        ("bench", "join"),
    ),
    "q5_region_revenue": QuerySpec(
        q_q5_region_revenue,
        SQL_Q5,
        "multi-dimension broadcast-join rollup",
        ("bench", "join"),
    ),
    "q4_order_priority": QuerySpec(
        q_q4_order_priority,
        SQL_Q4,
        "EXISTS as left-semi join + priority rollup",
        ("bench", "join"),
    ),
    "q6_forecast_revenue": QuerySpec(
        q_q6_forecast_revenue,
        SQL_Q6,
        "pushed-down range+predicate filter to a single scalar aggregate",
        ("bench", "agg"),
    ),
    "q7_shipping_volume": QuerySpec(
        q_q7_shipping_volume,
        SQL_Q7,
        "dual-path nation join by direction and ship year",
        ("bench", "join"),
    ),
    "q10_returned_revenue": QuerySpec(
        q_q10_returned_revenue,
        SQL_Q10,
        "wide fact join + broadcast dims + grouped top-k",
        ("bench", "join"),
    ),
    "q14_promo_revenue": QuerySpec(
        q_q14_promo_revenue,
        SQL_Q14,
        "conditional-sum ratio over a broadcast dimension join",
        ("bench", "join", "agg"),
    ),
    "q18_large_orders": QuerySpec(
        q_q18_large_orders,
        SQL_Q18,
        "pre-aggregate HAVING reduction before the join",
        ("bench", "agg", "join"),
    ),
    "q15_top_supplier": QuerySpec(
        q_q15_top_supplier,
        SQL_Q15,
        "argmax supplier vs a broadcast global-max scalar",
        ("bench", "agg", "join"),
    ),
    "q19_disjunctive_revenue": QuerySpec(
        q_q19_disjunctive_revenue,
        SQL_Q19,
        "OR-of-ANDs predicate split across both scans and the join residual",
        ("bench", "join"),
    ),
}
