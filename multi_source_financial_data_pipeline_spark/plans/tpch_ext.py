"""TPC-H q8/q9/q12/q13/q16/q17/q20/q21/q22 shapes, adapted to the driver's
reduced star schema (no partsupp table; no shipmode/commitdate/receiptdate
columns — the missing predicates are replaced with equivalents over the
columns that exist, keeping each query's *plan shape* intact, which is what
these exercise: two-role dimension joins, outer-join histograms,
correlated-subquery pre-aggregations, semi/anti joins, and broadcast-scalar
comparisons).

Exactness rules follow `plans/tpch.py`: money/quantity sums are computed
over DECIMAL-cast inputs and cast back to DOUBLE so Spark's parallel partial
aggregation and DuckDB's serial fold agree bitwise; ratios divide the two
exact DOUBLEs (one IEEE op, engine-independent); counts are exact.

Scale notes per query live on the function docstrings. The shared posture:
only genuinely fixed-size sides (`region`, `nation`, 1-row scalars) carry a
broadcast hint; every scale-proportional side — `customer`/`orders`/
`lineitem`-derived AND `part`/`supplier`-derived — is left to AQE, which
promotes it to broadcast only when runtime size allows, so no plan pins a
growing table into executor memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from multi_source_financial_data_pipeline_spark.plans.spec import QuerySpec
from multi_source_financial_data_pipeline_spark.sources import load_table


def _dec(col: str, prec: str = "12,2"):
    return F.col(col).cast(f"decimal({prec})")


_REV_DEC_SQL = (
    "CAST(l_extendedprice AS DECIMAL(12,2))"
    " * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))"
)


def _revenue():
    one = F.lit(1).cast("decimal(4,2)")
    return _dec("l_extendedprice") * (one - _dec("l_discount", "4,2"))


# --- q8: national market share (two-role nation dimension) -------------------

Q8_NATION = "NATION_7"
Q8_REGION = "ASIA"
Q8_TYPE = "ECONOMY"
Q8_START, Q8_END = "1995-01-01", "1997-01-01"


def q_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q8 shape: one nation's share of revenue by order year, within
    one part type and one customer region. `nation` plays two roles (supplier
    nation for the numerator flag, customer nation for the region filter) —
    both broadcast (fixed-size). The two fact tables meet in a single
    orderkey shuffle; the part/supplier sides are unhinted (scale-
    proportional — AQE broadcasts them while small) and filter the lineitem
    scan by p_type before the shuffle. The share is a conditional decimal sum over
    the same aggregate pass — no second scan.

    Reference parity: the reference has no TPC-H surface; this extends the
    bench suite per SURVEY.md §7 round-2 guidance."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == Q8_TYPE)
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == Q8_REGION)
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.to_date("o_orderdate") >= F.lit(Q8_START).cast("date"))
        & (F.to_date("o_orderdate") < F.lit(Q8_END).cast("date"))
    )
    cust = load_table(spark, sf_dir, "customer")

    supp_nat = supp.join(nat, supp.s_nationkey == nat.n_nationkey).select(
        "s_suppkey", F.col("n_name").alias("supp_nation")
    )
    cust_in_region = (
        cust.join(
            F.broadcast(
                nat.join(reg, nat.n_regionkey == reg.r_regionkey).select("n_nationkey")
            ),
            cust.c_nationkey == F.col("n_nationkey"),
        ).select("c_custkey")
    )
    joined = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp_nat, li.l_suppkey == supp_nat.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust_in_region, orders.o_custkey == cust_in_region.c_custkey)
    )
    rev = _revenue()
    agg = joined.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        F.sum(F.when(F.col("supp_nation") == Q8_NATION, rev).otherwise(F.lit(0).cast("decimal(12,2)")))
        .cast("double")
        .alias("nation_revenue"),
        F.sum(rev).cast("double").alias("total_revenue"),
    )
    return agg.select(
        "o_year",
        (F.col("nation_revenue") / F.col("total_revenue")).alias("mkt_share"),
    )


SQL_Q8 = f"""
WITH joined AS (
  SELECT EXTRACT(year FROM o_orderdate) AS o_year,
         sn.n_name AS supp_nation,
         {_REV_DEC_SQL} AS rev
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_type = '{Q8_TYPE}'
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region ON cn.n_regionkey = r_regionkey AND r_name = '{Q8_REGION}'
  WHERE CAST(o_orderdate AS DATE) >= DATE '{Q8_START}'
    AND CAST(o_orderdate AS DATE) < DATE '{Q8_END}'
), agg AS (
  SELECT o_year,
         CAST(sum(CASE WHEN supp_nation = '{Q8_NATION}' THEN rev
                       ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS nation_revenue,
         CAST(sum(rev) AS DOUBLE) AS total_revenue
  FROM joined GROUP BY o_year
)
SELECT CAST(o_year AS INT) AS o_year, nation_revenue / total_revenue AS mkt_share
FROM agg
"""


# --- q9: product-line profit by nation and year ------------------------------

Q9_TOKEN = "gear"


def q_q9_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q9 shape: profit per supplier nation per order year, for parts
    whose name contains a token. Without partsupp, supply cost is modeled as
    half the part's retail price per unit (decimal grid, cross-engine exact).
    Plan: lineitem filtered by the name-matched part side and joined to
    supplier→nation (both unhinted — scale-proportional, AQE-decided),
    single orderkey shuffle against orders, then a (nation, year) hash
    aggregate with map-side combine."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains(Q9_TOKEN))
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")

    supp_nat = supp.join(nat, supp.s_nationkey == nat.n_nationkey).select(
        "s_suppkey", F.col("n_name").alias("nation")
    )
    cost = (
        _dec("p_retailprice") * F.lit(0.5).cast("decimal(4,2)")
    ).cast("decimal(12,2)") * _dec("l_quantity")
    amount = (_revenue().cast("decimal(16,4)") - cost.cast("decimal(16,4)"))
    out = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp_nat, li.l_suppkey == supp_nat.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(amount).cast("double").alias("sum_profit"))
    )
    return out


SQL_Q9 = f"""
SELECT n_name AS nation,
       CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
       CAST(sum(
         CAST({_REV_DEC_SQL} AS DECIMAL(16,4))
         - CAST(CAST(CAST(p_retailprice AS DECIMAL(12,2)) * CAST(0.5 AS DECIMAL(4,2)) AS DECIMAL(12,2))
                * CAST(l_quantity AS DECIMAL(12,2)) AS DECIMAL(16,4))
       ) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_name LIKE '%{Q9_TOKEN}%'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
GROUP BY n_name, o_year
"""


# --- q12: shipping lateness buckets (fact-fact shuffle join) -----------------

Q12_START, Q12_END = "1996-01-01", "1997-01-01"
Q12_LATE_DAYS = 60


def q_q12_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q12 shape: per lateness bucket (the schema has no l_shipmode, so
    the bucket is ship-lag vs order date: 'LATE' when shipped > 60 days after
    order), count high- vs low-priority orders. Orders⋈lineitem is the honest
    fact-fact shuffle on orderkey — both sides scale, neither is hinted; the
    date filter is pushed to the lineitem scan before the shuffle."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.to_date("l_shipdate") >= F.lit(Q12_START).cast("date"))
        & (F.to_date("l_shipdate") < F.lit(Q12_END).cast("date"))
    )
    orders = load_table(spark, sf_dir, "orders")
    lag = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    bucket = F.when(lag > Q12_LATE_DAYS, F.lit("LATE")).otherwise(F.lit("ONTIME"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(bucket.alias("ship_bucket"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


SQL_Q12 = f"""
SELECT CASE WHEN date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) > {Q12_LATE_DAYS}
            THEN 'LATE' ELSE 'ONTIME' END AS ship_bucket,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE CAST(l_shipdate AS DATE) >= DATE '{Q12_START}'
  AND CAST(l_shipdate AS DATE) < DATE '{Q12_END}'
GROUP BY ship_bucket
"""


# --- q13: customer order-count distribution (outer join + histogram) ---------

Q13_EXCLUDE = "4-NOT SPECIFIED"


def q_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q13 shape: histogram of customers by order count, keeping
    zero-order customers via a LEFT OUTER join (the filter — here on
    priority, the schema has no o_comment — must sit on the join's right
    side, not in a WHERE, or the zero bucket disappears). Two aggregates:
    per-customer count after a custkey shuffle, then a tiny re-agg on the
    count value. Neither side is broadcast-hinted: both scale with SF."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != Q13_EXCLUDE
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


SQL_Q13 = f"""
WITH per_cust AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '{Q13_EXCLUDE}'
  GROUP BY c_custkey
)
SELECT c_count, count(*) AS custdist
FROM per_cust
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# --- q16: supplier diversity per part attribute (distinct-agg + anti join) ---

Q16_BRAND = "Brand#5"
Q16_SIZES = (1, 7, 13, 19, 25, 31, 37, 43)


def q_q16_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q16 shape: distinct suppliers per (brand, type, size), for a
    size IN-list, excluding one brand and excluding "complaint" suppliers
    (modeled as negative account balance — no s_comment in this schema).
    The supplier exclusion is an ANTI join before the aggregate and the
    part attributes join onto the lineitem-derived (partkey, suppkey) pairs
    (both sides unhinted — scale-proportional, AQE-decided), which replace
    the missing partsupp table.
    count(DISTINCT) over the shuffled group is exact."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != Q16_BRAND) & (F.col("p_size").isin(*Q16_SIZES))
    )
    bad_supp = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        li.join(bad_supp, li.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(),
            F.col("p_brand").asc(),
            F.col("p_type").asc(),
            F.col("p_size").asc(),
        )
    )


SQL_Q16 = f"""
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> '{Q16_BRAND}'
  AND p_size IN {Q16_SIZES}
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC
"""


# --- q17: small-quantity revenue (correlated per-part average) ---------------

Q17_BRAND = "Brand#3"
Q17_MAX_SIZE = 15


def q_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q17 shape: average yearly revenue lost if small-quantity orders
    (below 20% of the part's average quantity) were not taken. The correlated
    subquery `avg(l_quantity) per part` becomes a pre-aggregation computed
    once from the SAME brand-filtered join (the per-part average only
    depends on part identity, so filtering parts first is equivalent and
    avoids a full-lineitem second scan); the per-part averages are then
    joined back onto the filtered lines (AQE broadcasts them while small —
    no hint, the subset is scale-proportional). Two lineitem scans at
    worst — never a per-row re-evaluation."""
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == Q17_BRAND) & (F.col("p_size") <= Q17_MAX_SIZE)
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem")
    lines = li.join(part, li.l_partkey == part.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    per_part = lines.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        (
            F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1))
        ).alias("avg_qty")
    )
    return (
        lines.join(per_part, lines.l_partkey == per_part.ap_partkey)
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            )
        )
    )


SQL_Q17 = f"""
WITH lines AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = '{Q17_BRAND}' AND p_size <= {Q17_MAX_SIZE}
), per_part AS (
  SELECT l_partkey AS ap_partkey,
         CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty
  FROM lines GROUP BY l_partkey
)
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly
FROM lines JOIN per_part ON l_partkey = ap_partkey
WHERE l_quantity < 0.2 * avg_qty
"""


# --- q20: suppliers with excess shipments (nested semi joins) ----------------

Q20_TOKEN = "widget"
Q20_START, Q20_END = "1996-01-01", "1997-01-01"
Q20_QTY = 40.0


def q_q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q20 shape: suppliers who shipped more than a threshold quantity
    of any name-matched part in one year (partsupp availability becomes
    shipped-quantity, same nested-EXISTS plan shape). Inner to outer:
    lineitem pre-agg on (suppkey, partkey) → part-name semi join (unhinted,
    AQE-decided) → threshold filter → DISTINCT suppkey → LEFT SEMI join
    against supplier.
    The fact table collapses to |survivors| before touching any dimension."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.to_date("l_shipdate") >= F.lit(Q20_START).cast("date"))
        & (F.to_date("l_shipdate") < F.lit(Q20_END).cast("date"))
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains(Q20_TOKEN)).select(
        "p_partkey"
    )
    shipped = (
        li.join(part, li.l_partkey == part.p_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(_dec("l_quantity")).cast("double").alias("qty"))
        .filter(F.col("qty") > Q20_QTY)
        .select("l_suppkey")
        .distinct()
    )
    supp = load_table(spark, sf_dir, "supplier")
    return (
        supp.join(shipped, supp.s_suppkey == shipped.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


SQL_Q20 = f"""
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM (
    SELECT l_suppkey, l_partkey,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '{Q20_START}'
      AND CAST(l_shipdate AS DATE) < DATE '{Q20_END}'
      AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%{Q20_TOKEN}%')
    GROUP BY l_suppkey, l_partkey
  ) sp WHERE qty > {Q20_QTY}
)
ORDER BY s_suppkey
"""


# --- q21: sole late supplier in multi-supplier orders ------------------------

Q21_LATE_DAYS = 90


def q_q21_late_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q21 shape: suppliers who were the ONLY late supplier on a
    finished multi-supplier order ("late" = shipped > 90 days after the
    order date; the schema has no receipt/commit dates). The spec's
    EXISTS/NOT-EXISTS pair over the same fact table is rewritten as one
    per-order aggregate — distinct suppliers vs distinct late suppliers —
    which is the scale-right plan: a single orderkey shuffle instead of two
    self-joins of lineitem. Orders join is fact-fact, unhinted."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = load_table(spark, sf_dir, "lineitem")
    late = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")) > Q21_LATE_DAYS
    per_order = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("n_late"),
            F.max(F.when(late, F.col("l_suppkey"))).alias("late_supp"),
        )
        .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
    )
    supp = load_table(spark, sf_dir, "supplier")
    return (
        per_order.groupBy("late_supp")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(supp, F.col("late_supp") == supp.s_suppkey)
        .select("s_name", "numwait")
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
    )


SQL_Q21 = f"""
WITH per_order AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) > {Q21_LATE_DAYS}
                             THEN l_suppkey END) AS n_late,
         max(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) > {Q21_LATE_DAYS}
                  THEN l_suppkey END) AS late_supp
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
  GROUP BY l_orderkey
  HAVING n_supp > 1 AND n_late = 1
)
SELECT s_name, count(*) AS numwait
FROM per_order JOIN supplier ON late_supp = s_suppkey
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
"""


# --- q22: dormant high-balance customers (anti join + broadcast scalar) ------

Q22_CUTOFF = "2000-01-01"


def q_q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q22 shape: customers with above-average positive balance and no
    recent orders, rolled up by nation (the schema has no phone country
    codes — nation takes that role). The scalar average is a broadcast
    1-row cross join (computed once, no correlated re-evaluation); the
    "no recent orders" NOT EXISTS is a LEFT ANTI join against the filtered
    orders projection, shuffled on custkey — both sides scale, no hint."""
    cust = load_table(spark, sf_dir, "customer")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.to_date("o_orderdate") >= F.lit(Q22_CUTOFF).cast("date"))
        .select("o_custkey")
    )
    nat = load_table(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
        .orderBy("n_name")
    )


SQL_Q22 = f"""
WITH avg_bal AS (
  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_bal
  FROM customer WHERE c_acctbal > 0
)
SELECT n_name, count(*) AS numcust,
       CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
FROM customer, avg_bal
JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND CAST(o_orderdate AS DATE) >= DATE '{Q22_CUTOFF}'
  )
GROUP BY n_name
ORDER BY n_name
"""


# --- per-group top-N over a scale-proportional fact --------------------------

def q_topn_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by value per customer: rank window + early filter.

    The per-group analogue of TakeOrderedAndProject: one hash exchange on
    o_custkey, one per-partition sort, and the rank predicate drops non-top
    rows before anything else sees them — no global sort at any scale, and
    the output is bounded by 3×|customers| regardless of order count.
    Deterministic tie-break on o_orderkey."""
    orders = load_table(spark, sf_dir, "orders")
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "rank", "o_orderkey", "o_totalprice")
    )


SQL_TOPN_ORDERS = """
SELECT o_custkey, CAST(rn AS INT) AS rank, o_orderkey, o_totalprice
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
"""


# --- q2: minimum-cost supplier per part (correlated min as window) -----------

Q2_SIZE_MAX = 25  # size RANGE, not equality: a single (size,type) cell is empty at sf0.001
Q2_TYPE = "ECONOMY"
Q2_REGION = "EUROPE"
Q2_LIMIT = 100


def q_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q2 shape (/root/reference has no analog; public TPC-H spec):
    for each part of one type within a size band, the region's minimum-cost supplier.
    Without partsupp, the (supplier, part) supply cost is the supplier's
    observed unit price: exact-decimal sums of extendedprice and quantity
    per (suppkey, partkey), divided once (one IEEE op, engine-exact).
    The correlated `cost = (SELECT min ...)` subquery becomes a window MIN
    over the part — the Spark-native form that avoids re-scanning the cost
    relation. Plan: lineitem pre-agg on its natural (partkey, suppkey)
    grain → part semi (selective size+type filter, AQE-decided) → supplier
    → nation→region (fixed-size dims, broadcast) → window min per part →
    filter to the min → TakeOrderedAndProject top-{limit}."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") <= Q2_SIZE_MAX) & (F.col("p_type") == Q2_TYPE)
    ).select("p_partkey", "p_brand")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == Q2_REGION)
    region_nations = F.broadcast(
        nat.join(reg, nat.n_regionkey == reg.r_regionkey).select(
            "n_nationkey", "n_name"
        )
    )
    cost = (
        li.join(part, li.l_partkey == part.p_partkey, "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_price"),
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        )
        .withColumn("supply_cost", F.col("sum_price") / F.col("sum_qty"))
    )
    eligible = (
        cost.join(supp, cost.l_suppkey == supp.s_suppkey)
        .join(region_nations, supp.s_nationkey == F.col("n_nationkey"))
    )
    w = Window.partitionBy("l_partkey")
    return (
        eligible.withColumn("min_cost", F.min("supply_cost").over(w))
        .filter(F.col("supply_cost") == F.col("min_cost"))
        .join(part, F.col("l_partkey") == part.p_partkey)
        .select(
            "s_acctbal", "s_name", "n_name",
            F.col("p_partkey"), "p_brand", "supply_cost",
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(Q2_LIMIT)
    )


SQL_Q2 = f"""
WITH cost AS (
  SELECT l_partkey, l_suppkey,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
           / CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
           AS supply_cost
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part
                      WHERE p_size <= {Q2_SIZE_MAX} AND p_type = '{Q2_TYPE}')
  GROUP BY l_partkey, l_suppkey
), eligible AS (
  SELECT c.l_partkey, c.supply_cost, s.s_acctbal, s.s_name, n.n_name,
         min(c.supply_cost) OVER (PARTITION BY c.l_partkey) AS min_cost
  FROM cost c
  JOIN supplier s ON c.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name = '{Q2_REGION}'
)
SELECT e.s_acctbal, e.s_name, e.n_name, p.p_partkey, p.p_brand, e.supply_cost
FROM eligible e JOIN part p ON e.l_partkey = p.p_partkey
WHERE e.supply_cost = e.min_cost
ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, p.p_partkey
LIMIT {Q2_LIMIT}
"""


# --- q11: important stock value (whole-frame share threshold) ----------------

Q11_NATION = "NATION_3"  # has suppliers at every SF incl. sf0.001
Q11_AVG_FACTOR = 1.5  # exactly representable in binary; multiply stays deterministic


def q_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q11 shape: parts whose stock value from one nation's suppliers
    exceeds a multiple of the nation's AVERAGE per-part value (TPC-H's
    fixed `fraction * total` cutoff is 1/|parts|-relative, i.e. not
    scale-invariant; an average-relative cutoff keeps the result non-trivial
    at every SF). Without partsupp, stock value is the shipped
    extendedprice. Exactness: per-part values are DECIMAL sums kept decimal
    through the grand-total aggregate (decimal sum + integer count are
    order-independent), and only the final threshold comparison uses one
    double multiply per side. Plan: the nation's supplier keys (selective
    dim filter) semi-join the fact, ONE partkey shuffle aggregate; the
    total/count come from a second aggregate OVER THE SAME per-part frame,
    whose shuffle Spark deduplicates via ReusedExchange (pinned by
    test_plan_shapes) — a parallel partial-agg tree, NOT a whole-frame
    window, which would single-partition a scale-proportional frame
    (|parts| grows with SF; mixture_weights can window because its
    aggregate is 5 rows). The supplier side is one nation's slice but
    still scale-proportional (|supplier|/25 grows with SF), so it carries
    NO hint — AQE broadcasts it while small; only the 25-row nation dim
    inside it is hinted."""
    li = load_table(spark, sf_dir, "lineitem")
    nat = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == Q11_NATION)
    supp = load_table(spark, sf_dir, "supplier")
    nation_supp = supp.join(
        F.broadcast(nat), supp.s_nationkey == nat.n_nationkey
    ).select("s_suppkey")
    per_part = (
        li.join(nation_supp, li.l_suppkey == F.col("s_suppkey"), "left_semi")
        .groupBy("l_partkey")
        .agg(F.sum(_dec("l_extendedprice")).alias("sv_dec"))
    )
    totals = per_part.agg(
        F.sum("sv_dec").alias("total_dec"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    return (
        per_part.crossJoin(F.broadcast(totals))
        .filter(
            F.col("sv_dec").cast("double") * F.col("n_parts")
            > F.col("total_dec").cast("double") * F.lit(Q11_AVG_FACTOR)
        )
        .select(
            "l_partkey", F.col("sv_dec").cast("double").alias("stock_value")
        )
        .orderBy(F.col("stock_value").desc(), "l_partkey")
    )


SQL_Q11 = f"""
WITH per_part AS (
  SELECT l_partkey,
         sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS sv_dec
  FROM lineitem
  WHERE l_suppkey IN (
    SELECT s_suppkey FROM supplier
    JOIN nation ON s_nationkey = n_nationkey AND n_name = '{Q11_NATION}'
  )
  GROUP BY l_partkey
)
SELECT l_partkey, CAST(sv_dec AS DOUBLE) AS stock_value
FROM (
  SELECT l_partkey, sv_dec,
         sum(sv_dec) OVER () AS total_dec,
         count(*) OVER () AS n_parts
  FROM per_part
)
WHERE CAST(sv_dec AS DOUBLE) * n_parts
      > CAST(total_dec AS DOUBLE) * {Q11_AVG_FACTOR}
ORDER BY stock_value DESC, l_partkey
"""


# --- bucketed (co-located) fact-fact join ------------------------------------

def q_bucketed_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue + line counts per order priority through the BUCKETED layout
    (sources/bucketing.py): lineitem and orders are persisted once per
    session bucketed+sorted on their orderkey (8 buckets), so the fact-fact
    equi-join runs as a per-bucket zip-merge with ZERO exchange below the
    join — the layout investment that converts the dominant repeated join
    at 100 TB from a 2-sided shuffle into a local merge (pinned in
    tests/test_plan_shapes.py with broadcast disabled; at tiny SF AQE may
    instead broadcast, which is also fact-shuffle-free). Results are
    identical to the plain-parquet join — the oracle computes the same
    aggregate from the original tables — so what the gate checks is the
    bucketed READ path: file→bucket mapping, per-bucket sorted merge."""
    from multi_source_financial_data_pipeline_spark.sources.bucketing import (
        ensure_bucketed_tpch,
    )

    lt, ot = ensure_bucketed_tpch(spark, sf_dir)
    revenue = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(4,2)") - _dec("l_discount", "4,2")
    )
    joined = spark.table(lt).join(
        spark.table(ot), F.col("l_orderkey") == F.col("o_orderkey")
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(revenue).cast("double").alias("revenue"),
    )


SQL_BUCKETED_REVENUE = f"""
SELECT o_orderpriority,
       count(*) AS n_lines,
       CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       CAST(sum({_REV_DEC_SQL}) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


SPECS = {
    "q8_market_share": QuerySpec(
        q_q8_market_share,
        SQL_Q8,
        "two-role nation dim + conditional-sum market-share ratio",
        ("bench", "join"),
    ),
    "q9_profit": QuerySpec(
        q_q9_profit,
        SQL_Q9,
        "two-role nation dims + fact-fact shuffle + (nation, year) rollup",
        ("join", "agg"),
    ),
    "q12_ship_priority": QuerySpec(
        q_q12_ship_priority,
        SQL_Q12,
        "fact-fact shuffle join + derived-bucket conditional counts",
        ("bench", "join"),
    ),
    "q13_order_distribution": QuerySpec(
        q_q13_order_distribution,
        SQL_Q13,
        "left-outer join preserving zero groups + two-level histogram agg",
        ("bench", "join", "agg"),
    ),
    "q16_part_supplier": QuerySpec(
        q_q16_part_supplier,
        SQL_Q16,
        "anti-join supplier exclusion + distinct aggregate per part attribute",
        ("join", "agg"),
    ),
    "q17_small_qty_revenue": QuerySpec(
        q_q17_small_qty_revenue,
        SQL_Q17,
        "correlated per-part average as a joined-back pre-aggregation",
        ("bench", "agg", "join"),
    ),
    "q20_excess_suppliers": QuerySpec(
        q_q20_excess_suppliers,
        SQL_Q20,
        "nested semi joins collapsing the fact before dimensions",
        ("join",),
    ),
    "q21_late_suppliers": QuerySpec(
        q_q21_late_suppliers,
        SQL_Q21,
        "EXISTS/NOT-EXISTS pair rewritten as one per-order aggregate",
        ("bench", "agg", "join"),
    ),
    "q22_dormant_customers": QuerySpec(
        q_q22_dormant_customers,
        SQL_Q22,
        "broadcast-scalar comparison + left-anti join rollup",
        ("join", "agg"),
    ),
    "topn_orders_per_customer": QuerySpec(
        q_topn_orders_per_customer,
        SQL_TOPN_ORDERS,
        "per-group top-3 via rank window: no global sort, output bounded by 3|groups|",
        ("window",),
    ),
    "q2_min_cost_supplier": QuerySpec(
        q_q2_min_cost_supplier,
        SQL_Q2,
        "correlated min-cost subquery as window min + region dim chain + top-100",
        ("join", "window"),
    ),
    "q11_important_stock": QuerySpec(
        q_q11_important_stock,
        SQL_Q11,
        "nation-filtered semi join + whole-frame share threshold (one fact scan)",
        ("join", "window", "agg"),
    ),
    "bucketed_revenue": QuerySpec(
        q_bucketed_revenue,
        SQL_BUCKETED_REVENUE,
        "fact-fact join through the bucketed layout: zero exchange below "
        "the join, layout built once per session",
        ("join", "agg"),
    ),
}
