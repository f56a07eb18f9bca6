"""Deep TPC-H operator shapes: correlated subqueries, agg-of-agg,
disjunctive join predicates, scalar-subquery thresholds.

The base ``plans/tpch.py`` covers the join/agg/top-k primitives the
reference decomposes into (SURVEY.md §2.3); this module adds the
*remaining classic OLAP shapes* a complete analytics engine must
execute well, adapted to the synthetic star schema (which lacks
``partsupp``/``l_receiptdate``/``l_shipmode``, so Q2/Q12/Q21 have no
faithful adaptation):

- Q7  volume shipping      — nation-pair bidirectional filter + year rollup
- Q10 returned items       — negative-flag revenue top-k with dim context
- Q13 order-count dist     — aggregation *of* an aggregation (custdist)
- Q15 top supplier         — scalar MAX subquery as a broadcast join
- Q17 small-qty revenue    — per-group AVG correlated threshold, made
                             decimal-exact via cross-multiplication
- Q18 large-volume custs   — HAVING-gated semi-join into fact+dim
- Q19 disjunctive brackets — OR-of-conjunctions residual join predicate
- Q22 idle customers       — global scalar AVG threshold + anti-join

Scale notes (100 TB): every scalar subquery is a 1-row DataFrame joined
with an explicit ``F.broadcast`` cross join (never ``collect()`` into a
literal — keeps the plan lazy and re-optimizable); per-group thresholds
(Q17) are computed as a pre-aggregation that shrinks the fact table to
one row per group *before* re-joining; dims are broadcast; the only
wide shuffles are the unavoidable fact-fact joins on their natural
keys, and top-k compiles to TakeOrderedAndProject (no global sort).
Float policy: all money math in DECIMAL (order-independent sums), cast
to double only at the output edge; threshold comparisons are
cross-multiplied into pure decimal/int products so Spark and the DuckDB
oracle agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .tpch import _dec


def _disc_price():
    """DECIMAL-exact l_extendedprice * (1 - l_discount)."""
    one = F.lit(1).cast("decimal(4,2)")
    return _dec("l_extendedprice") * (one - _dec("l_discount", 4, 2))


# -- Q7: volume shipping between a nation pair --------------------------------


def volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional nation-pair filter across supplier
    and customer sides, yearly revenue rollup. Nation (25 rows),
    supplier and customer are broadcast; the only shuffle is
    lineitem ⋈ orders on the order key plus the final 3-key hash agg.
    The pair predicate lands on the *joined* nation names, but each
    side's nation membership {NATION_3, NATION_8} is also pushed to
    the dim scans so the broadcast builds stay minimal."""
    pair = {"NATION_3", "NATION_8"}
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders")
    nat = load_table(spark, sf_dir, "nation").filter(F.col("n_name").isin(*pair))
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nat.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(nat.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        joined.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
    )


VOLUME_SHIPPING_SQL = """
WITH j AS (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(YEAR(l_shipdate) AS INTEGER) AS l_year,
         CAST(l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) AS volume
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
      OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
)
SELECT supp_nation, cust_nation, l_year, CAST(SUM(volume) AS DOUBLE) AS revenue
FROM j GROUP BY supp_nation, cust_nation, l_year
"""


# -- Q10: returned-item top customers -----------------------------------------


def returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns ('R' lineitems in a
    half-year order window), attributed per customer with nation
    context; deterministic top-20 ordered on the *exact decimal*
    revenue with the customer key as tiebreak, so the limit boundary
    is bit-stable across engines. One orderkey shuffle + one custkey
    agg; customer and nation broadcast; limit → TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_disc_price()).alias("revenue_d"))
    )
    return (
        rev.orderBy(F.col("revenue_d").desc(), F.col("c_custkey"))
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            F.col("revenue_d").cast("double").alias("revenue"),
        )
    )


RETURNED_ITEM_CUSTOMERS_SQL = """
WITH rev AS (
  SELECT c_custkey, c_name, n_name,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS revenue_d
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
  GROUP BY c_custkey, c_name, n_name
)
SELECT c_custkey, c_name, n_name, CAST(revenue_d AS DOUBLE) AS revenue
FROM rev ORDER BY revenue_d DESC, c_custkey LIMIT 20
"""


# -- Q13: customer order-count distribution (agg of agg) ----------------------


def order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by order count —
    an aggregation OVER an aggregation, with the left join keeping
    zero-order customers. Spark-first detail: orders are pre-aggregated
    to one row per customer *before* the join, so the wide side of the
    left join is |customers|, not |orders| — at 100 TB that's the
    difference between shuffling the fact table and shuffling a
    pre-shrunk key set. The zero bucket comes from coalesce(cnt, 0)."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    counts = (
        cust.join(per_cust, cust.c_custkey == per_cust.o_custkey, "left")
        .select(F.coalesce(F.col("cnt"), F.lit(0)).alias("c_count"))
    )
    return counts.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


ORDER_COUNT_DISTRIBUTION_SQL = """
WITH per_cust AS (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM per_cust GROUP BY c_count
"""


# -- Q15: top supplier via scalar MAX subquery --------------------------------


def top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: quarterly revenue per supplier, then keep the
    supplier(s) hitting the global maximum. The scalar MAX is a 1-row
    DataFrame cross-joined with an explicit broadcast — the Spark
    equivalent of the correlated scalar subquery, with no collect()
    and exact-decimal equality (ties would surface in both engines
    identically). Revenue agg is the only shuffle; supplier is
    broadcast."""
    rev = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(F.sum(_disc_price()).alias("total_d"))
    )
    mx = rev.agg(F.max("total_d").alias("max_d"))
    supp = load_table(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_d") == F.col("max_d"))
        .join(supp, F.col("suppkey") == supp.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_d").cast("double").alias("total_revenue"),
        )
    )


TOP_SUPPLIER_SQL = """
WITH rev AS (
  SELECT l_suppkey AS suppkey,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS total_d
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(total_d AS DOUBLE) AS total_revenue
FROM rev JOIN supplier ON suppkey = s_suppkey
WHERE total_d = (SELECT MAX(total_d) FROM rev)
"""


# -- Q17: small-quantity-order revenue (correlated AVG threshold) -------------


def small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: lineitems whose quantity is below 20% of their
    part's average quantity. The correlated AVG subquery becomes a
    per-part pre-aggregation (sum, count) joined back broadcast — and
    the fractional comparison ``qty < 0.2 * avg`` is cross-multiplied
    to ``qty * 5 * cnt < sum_qty`` so it's pure DECIMAL×INT arithmetic
    with zero float rounding on the decision boundary. The brand
    filter shrinks the part dim before anything touches lineitem, so
    at 100 TB the fact scan is pruned by the broadcast join's runtime
    filter (DPP-style) rather than scanned in full."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    li = load_table(spark, sf_dir, "lineitem")
    j = li.join(part, li.l_partkey == part.p_partkey).select(
        "l_partkey",
        _dec("l_quantity").alias("qty"),
        _dec("l_extendedprice").alias("price"),
    )
    per_part = j.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum("qty").alias("sum_qty"), F.count(F.lit(1)).alias("cnt")
    )
    return (
        j.join(per_part, j.l_partkey == per_part.pk)
        .filter(F.col("qty") * 5 * F.col("cnt") < F.col("sum_qty"))
        .agg(
            (F.sum("price").cast("double") / F.lit(7.0))
            .cast("double")
            .alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_small"),
        )
    )


SMALL_QTY_REVENUE_SQL = """
WITH j AS (
  SELECT l_partkey, CAST(l_quantity AS DECIMAL(12,2)) AS qty,
         CAST(l_extendedprice AS DECIMAL(12,2)) AS price
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#3'
), pp AS (
  SELECT l_partkey AS pk, SUM(qty) AS sum_qty, COUNT(*) AS cnt
  FROM j GROUP BY l_partkey
)
SELECT CAST(CAST(SUM(price) AS DOUBLE) / 7.0 AS DOUBLE) AS avg_yearly,
       COUNT(*) AS n_small
FROM j JOIN pp ON l_partkey = pk
WHERE qty * 5 * cnt < sum_qty
"""


# -- Q18: large-volume customers (HAVING-gated semi join) ---------------------


def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity clears a HAVING
    threshold, joined back to order + customer context. The per-order
    aggregate is the gate AND the payload (total_qty survives into the
    output), so the plan is: one orderkey hash agg with map-side
    partials, the HAVING filter shrinking it to the rare heavy orders,
    then a join against orders (shuffle on the already-tiny gated set)
    and a broadcast customer dim. Deterministic top-100 on exact
    decimal total with orderkey tiebreak."""
    big = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("okey"))
        .agg(F.sum(_dec("l_quantity")).alias("total_qty_d"))
        .filter(F.col("total_qty_d") > 250)
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        big.join(orders, big.okey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .orderBy(F.col("total_qty_d").desc(), F.col("o_orderkey"))
        .limit(100)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            F.col("total_qty_d").cast("double").alias("total_qty"),
        )
    )


LARGE_VOLUME_CUSTOMERS_SQL = """
WITH big AS (
  SELECT l_orderkey AS okey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS total_qty_d
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 250
)
SELECT c_custkey, c_name, o_orderkey, o_orderdate,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice,
       CAST(total_qty_d AS DOUBLE) AS total_qty
FROM big JOIN orders ON okey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_qty_d DESC, o_orderkey LIMIT 100
"""


# -- Q19: disjunctive bracket predicates --------------------------------------


def disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: an OR of three (brand, size-band, qty-band)
    conjunctions as the residual predicate of a broadcast part join.
    Catalyst extracts the common l_partkey equi-key and factors the
    disjunction's lineitem-only legs (quantity bands ⇒ a derived
    ``l_quantity BETWEEN 1 AND 40``-style range) into scan-pushable
    conjuncts — the plan test pins that the part-side brand/size
    disjunction prunes the broadcast build."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    qty = F.col("l_quantity")
    bracket = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 10)
            & qty.between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(11, 20)
            & qty.between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(21, 30)
            & qty.between(20, 40)
        )
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(bracket)
        .agg(
            F.sum(_disc_price()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_matched"),
        )
    )


DISJUNCTIVE_REVENUE_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
         * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_matched
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 11 AND 20 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 21 AND 30 AND l_quantity BETWEEN 20 AND 40)
"""


# -- Q22: idle high-balance customers (scalar AVG + anti join) ----------------


def idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers above the average positive balance
    with no recent orders, bucketed by the trailing digits of their
    name (the synthetic schema's stand-in for Q22's country code).
    The scalar AVG threshold is cross-multiplied (bal*cnt > sum) into
    exact decimal — no float on the membership boundary; the scalar is
    a broadcast 1-row cross join; "no recent orders" is a left-anti
    join against the date-pruned orders scan."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        _dec("c_acctbal").alias("bal"),
        F.col("c_acctbal").alias("raw_bal"),
    )
    pos = (
        cust.filter(F.col("raw_bal") > 0)
        .agg(F.sum("bal").alias("sum_bal"), F.count(F.lit(1)).alias("cnt"))
    )
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    idle = (
        cust.join(F.broadcast(pos))
        .filter(F.col("bal") * F.col("cnt") > F.col("sum_bal"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .select(F.expr("right(c_name, 2)").alias("cust_bucket"), F.col("bal"))
    )
    return idle.groupBy("cust_bucket").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.sum("bal").cast("double").alias("totacctbal"),
    )


IDLE_CUSTOMERS_SQL = """
WITH pos AS (
  SELECT SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS sum_bal, COUNT(*) AS cnt
  FROM customer WHERE c_acctbal > 0
), idle AS (
  SELECT right(c_name, 2) AS cust_bucket, CAST(c_acctbal AS DECIMAL(12,2)) AS bal
  FROM customer, pos
  WHERE CAST(c_acctbal AS DECIMAL(12,2)) * cnt > sum_bal
    AND NOT EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
)
SELECT cust_bucket, COUNT(*) AS numcust, CAST(SUM(bal) AS DOUBLE) AS totacctbal
FROM idle GROUP BY cust_bucket
"""


# -- Q8: national market share within a region --------------------------------


def national_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: the deepest join in the suite — lineitem against
    five dims in two nation ROLES (customer nation restricts the market
    region; supplier nation is the share numerator), yearly conditional
    revenue ratio. All five dims broadcast; the customer-side
    nation⋈region restriction prunes the customer build before it
    reaches the fact join; the single wide shuffle is the
    lineitem ⋈ orders key join, then one 1-key-per-year hash agg."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    nat = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                nat.join(
                    F.broadcast(region),
                    nat.n_regionkey == region.r_regionkey,
                ).select("n_nationkey")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    supp_nat = supp.join(
        F.broadcast(nat.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name"))),
        F.col("s_nationkey") == F.col("sn_key"),
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    zero = F.lit(0).cast("decimal(17,4)")
    volume = _disc_price()
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp_nat, li.l_suppkey == F.col("s_suppkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", volume).otherwise(zero)
                ).cast("double")
                / F.sum(volume).cast("double")
            ).alias("mkt_share"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


NATIONAL_MARKET_SHARE_SQL = """
WITH j AS (
  SELECT CAST(YEAR(o_orderdate) AS INTEGER) AS o_year,
         CAST(l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) AS volume,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN part     ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
)
SELECT o_year,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                     ELSE CAST(0 AS DECIMAL(17,4)) END) AS DOUBLE)
         / CAST(SUM(volume) AS DOUBLE) AS mkt_share,
       COUNT(*) AS n_lines
FROM j GROUP BY o_year
"""


def revenue_share_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent rollup across the geography hierarchy: order
    revenue per (region, nation) with each nation's share of its region
    and each region's share of the total — the contribution readout
    every BI drill-down renders. Revenue accumulates in exact DECIMAL
    once at order grain; the two parent totals come from re-aggregating
    the 25-row nation table (never a second fact scan) and join back
    broadcast. Shares are single float divisions on the common
    denominator. Shape at 100 TB: ONE fact-table aggregation to 25
    rows, then bounded-size arithmetic."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_totalprice").cast("decimal(18,2)").alias("rev")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    per_nation = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(F.sum("rev").alias("nation_rev"))
    )
    per_region = per_nation.groupBy("r_name").agg(
        F.sum("nation_rev").alias("region_rev")
    )
    total = per_nation.agg(F.sum("nation_rev").alias("total_rev"))
    return (
        per_nation.join(F.broadcast(per_region), "r_name")
        .join(F.broadcast(total))
        .select(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
            F.col("nation_rev").cast("double").alias("nation_revenue"),
            (
                F.col("nation_rev").cast("double") / F.col("region_rev").cast("double")
            ).alias("pct_of_region"),
            (
                F.col("region_rev").cast("double") / F.col("total_rev").cast("double")
            ).alias("region_pct_of_total"),
        )
    )


REVENUE_SHARE_HIERARCHY_SQL = """
WITH per_nation AS (
  SELECT r.r_name, n.n_name,
         SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS nation_rev
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY r.r_name, n.n_name
),
per_region AS (
  SELECT r_name, SUM(nation_rev) AS region_rev FROM per_nation GROUP BY r_name
),
total AS (SELECT SUM(nation_rev) AS total_rev FROM per_nation)
SELECT pn.r_name AS region, pn.n_name AS nation,
       CAST(CAST(pn.nation_rev AS VARCHAR) AS DOUBLE) AS nation_revenue,
       CAST(CAST(pn.nation_rev AS VARCHAR) AS DOUBLE)
         / CAST(CAST(pr.region_rev AS VARCHAR) AS DOUBLE) AS pct_of_region,
       CAST(CAST(pr.region_rev AS VARCHAR) AS DOUBLE)
         / CAST(CAST(t.total_rev AS VARCHAR) AS DOUBLE) AS region_pct_of_total
FROM per_nation pn
JOIN per_region pr ON pn.r_name = pr.r_name
CROSS JOIN total t
"""


LEADTIME_MIN_LINES = 40


def supplier_leadtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship lead-time distribution per supplier — the ops SLA
    readout: exact integer day gaps (l_shipdate − o_orderdate), with
    median and p90 as RANK order statistics (element ``ceil(q·n)`` by
    ``(gap, l_orderkey, l_partkey)``) so no interpolation float ever
    enters; suppliers under {MIN} lines are dropped (their order
    statistics are noise). One orderkey equi-join + one
    supplier-partitioned window + one hash agg; at scale the window
    partitions on the supplier key (high cardinality — no skew
    concern) and the join is the natural fact-fact shuffle."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", F.to_date("l_shipdate").alias("ship")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("placed")
    )
    g = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "l_suppkey",
        "l_orderkey",
        "l_partkey",
        F.datediff("ship", "placed").alias("gap_days"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("l_suppkey").orderBy("gap_days", "l_orderkey", "l_partkey")
    nw = Window.partitionBy("l_suppkey")
    ranked = g.select(
        "l_suppkey",
        "gap_days",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(nw).alias("n"),
    ).filter(F.col("n") >= LEADTIME_MIN_LINES)

    def q_at(q: float, name: str):
        return F.min(
            F.when(
                F.col("rn") == F.ceil(F.col("n") * F.lit(q)).cast("bigint"),
                F.col("gap_days"),
            )
        ).alias(name)

    return ranked.groupBy("l_suppkey").agg(
        F.max("n").alias("n_lines"),
        F.min("gap_days").alias("min_days"),
        q_at(0.5, "median_days"),
        q_at(0.9, "p90_days"),
        F.max("gap_days").alias("max_days"),
    )


SUPPLIER_LEADTIME_SQL = f"""
WITH g AS (
  SELECT l_suppkey, l_orderkey, l_partkey,
         date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS gap_days
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
ranked AS (
  SELECT l_suppkey, gap_days,
         ROW_NUMBER() OVER (PARTITION BY l_suppkey
                            ORDER BY gap_days, l_orderkey, l_partkey) AS rn,
         COUNT(*) OVER (PARTITION BY l_suppkey) AS n
  FROM g
)
SELECT l_suppkey,
       MAX(n) AS n_lines,
       MIN(gap_days) AS min_days,
       MIN(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN gap_days END) AS median_days,
       MIN(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT) THEN gap_days END) AS p90_days,
       MAX(gap_days) AS max_days
FROM ranked WHERE n >= {LEADTIME_MIN_LINES}
GROUP BY l_suppkey
"""


SLA_DAYS = 30


def priority_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLA attainment per order priority: an order meets SLA when its
    FIRST line ships within {SLA_DAYS} days of placement. First-ship is
    a min-agg at order grain (collapsing lineitem BEFORE the priority
    rollup, so the wide join output never carries line-grain rows into
    the second shuffle); attainment-rate is exact counts + one float
    division. The managerial readout behind Q4's semantics, adapted to
    the synthetic schema (no l_commitdate)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.to_date("l_shipdate").alias("ship")
    )
    first_ship = li.groupBy("l_orderkey").agg(F.min("ship").alias("first_ship"))
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", F.to_date("o_orderdate").alias("placed")
    )
    j = o.join(first_ship, o["o_orderkey"] == first_ship["l_orderkey"]).select(
        "o_orderpriority",
        (F.datediff("first_ship", "placed") <= SLA_DAYS).alias("met"),
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("met").cast("int")).cast("bigint").alias("n_met"),
        (
            F.sum(F.col("met").cast("int")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("sla_rate"),
    )


PRIORITY_SLA_SQL = f"""
WITH first_ship AS (
  SELECT l_orderkey, MIN(CAST(l_shipdate AS DATE)) AS first_ship
  FROM lineitem GROUP BY l_orderkey
),
j AS (
  SELECT o_orderpriority,
         date_diff('day', CAST(o_orderdate AS DATE), first_ship) <= {SLA_DAYS} AS met
  FROM orders JOIN first_ship ON o_orderkey = l_orderkey
)
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CASE WHEN met THEN 1 ELSE 0 END) AS BIGINT) AS n_met,
       CAST(SUM(CASE WHEN met THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS sla_rate
FROM j GROUP BY o_orderpriority
"""


RFM_BANDS = 5


def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic customer scoring: per market
    segment, each customer's Recency (days since last order), Frequency
    (order count) and Monetary (exact decimal spend) quintile-scored by
    ``ntile({RFM_BANDS})`` with fully deterministic orderings (ties on
    the metric break on the key). Output is the aggregate segment map:
    (mktsegment, r, f, m) cell → customer count + total spend — the
    marketing-facing artifact ("how many 5-5-5 champions per segment").
    The rank windows partition on the segment key (bounded
    cardinality); one custkey aggregation feeds all three scores."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.to_date("o_orderdate").alias("d"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    mx = o.agg(F.max("d").alias("max_d"))
    per_cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max("d").alias("last_d"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum("price").alias("monetary"),
        )
        .join(F.broadcast(mx))
        .select(
            "o_custkey",
            F.datediff("max_d", "last_d").alias("recency_days"),
            "frequency",
            "monetary",
        )
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
    )
    from pyspark.sql import Window

    def score(order_cols, name):
        w = Window.partitionBy("c_mktsegment").orderBy(*order_cols)
        return F.ntile(RFM_BANDS).over(w).alias(name)

    scored = per_cust.select(
        "c_mktsegment",
        "recency_days",
        "frequency",
        "monetary",
        # recent = best: ascending recency gets the HIGH band via reverse
        score([F.col("recency_days").desc(), F.col("c_custkey").asc()], "r_score"),
        score([F.col("frequency").asc(), F.col("c_custkey").asc()], "f_score"),
        score([F.col("monetary").asc(), F.col("c_custkey").asc()], "m_score"),
    )
    return scored.groupBy("c_mktsegment", "r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("monetary").cast("double").alias("total_monetary"),
    )


CUSTOMER_RFM_SEGMENTS_SQL = f"""
WITH o AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
         CAST(o_totalprice AS DECIMAL(18,2)) AS price
  FROM orders
),
mx AS (SELECT MAX(d) AS max_d FROM o),
per_cust AS (
  SELECT o.o_custkey,
         date_diff('day', MAX(o.d), (SELECT max_d FROM mx)) AS recency_days,
         COUNT(*) AS frequency,
         SUM(o.price) AS monetary
  FROM o GROUP BY o.o_custkey
),
j AS (
  SELECT c.c_mktsegment, c.c_custkey, p.recency_days, p.frequency, p.monetary
  FROM per_cust p JOIN customer c ON p.o_custkey = c.c_custkey
),
scored AS (
  SELECT c_mktsegment, monetary,
         NTILE({RFM_BANDS}) OVER (PARTITION BY c_mktsegment
             ORDER BY recency_days DESC, c_custkey ASC) AS r_score,
         NTILE({RFM_BANDS}) OVER (PARTITION BY c_mktsegment
             ORDER BY frequency ASC, c_custkey ASC) AS f_score,
         NTILE({RFM_BANDS}) OVER (PARTITION BY c_mktsegment
             ORDER BY monetary ASC, c_custkey ASC) AS m_score
  FROM j
)
SELECT c_mktsegment, r_score, f_score, m_score,
       COUNT(*) AS n_customers,
       CAST(SUM(monetary) AS DOUBLE) AS total_monetary
FROM scored GROUP BY c_mktsegment, r_score, f_score, m_score
"""


QUERIES = {
    "tpch_volume_shipping": volume_shipping,
    "tpch_revenue_share_hierarchy": revenue_share_hierarchy,
    "tpch_supplier_leadtime": supplier_leadtime,
    "tpch_priority_sla": priority_sla,
    "customer_rfm_segments": customer_rfm_segments,
    "tpch_national_market_share": national_market_share,
    "tpch_returned_item_customers": returned_item_customers,
    "tpch_order_count_distribution": order_count_distribution,
    "tpch_top_supplier": top_supplier,
    "tpch_small_qty_revenue": small_qty_revenue,
    "tpch_large_volume_customers": large_volume_customers,
    "tpch_disjunctive_revenue": disjunctive_revenue,
    "tpch_idle_customers": idle_customers,
}

ORACLES = {
    "tpch_volume_shipping": VOLUME_SHIPPING_SQL,
    "tpch_revenue_share_hierarchy": REVENUE_SHARE_HIERARCHY_SQL,
    "tpch_supplier_leadtime": SUPPLIER_LEADTIME_SQL,
    "tpch_priority_sla": PRIORITY_SLA_SQL,
    "customer_rfm_segments": CUSTOMER_RFM_SEGMENTS_SQL,
    "tpch_national_market_share": NATIONAL_MARKET_SHARE_SQL,
    "tpch_returned_item_customers": RETURNED_ITEM_CUSTOMERS_SQL,
    "tpch_order_count_distribution": ORDER_COUNT_DISTRIBUTION_SQL,
    "tpch_top_supplier": TOP_SUPPLIER_SQL,
    "tpch_small_qty_revenue": SMALL_QTY_REVENUE_SQL,
    "tpch_large_volume_customers": LARGE_VOLUME_CUSTOMERS_SQL,
    "tpch_disjunctive_revenue": DISJUNCTIVE_REVENUE_SQL,
    "tpch_idle_customers": IDLE_CUSTOMERS_SQL,
}
