"""Headline relational queries over the driver's TPC-H-ish tables.

These are the engine's flagship/bench queries: classic pricing-summary,
join-heavy shipping-priority, and multi-way dimension joins. They exercise the
core scan→filter→join→aggregate path that every reference SQL builder
(SURVEY.md §2.3) composes from, with plans Catalyst can fully optimize
(pushdown, broadcast of small dims, partial aggregation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_rivers_spark.plans.registry import query
from data_rivers_spark.session import load_tables, stage


@query(
    "q01_pricing_summary",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      ROUND(SUM(l_quantity), 2) AS sum_qty,
      ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
      ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
      ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
      ROUND(AVG(l_quantity), 4) AS avg_qty,
      ROUND(AVG(l_extendedprice), 4) AS avg_price,
      ROUND(AVG(l_discount), 4) AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: scan + filter + hash aggregate.

    Scale notes: single scan, filter pushed to parquet, partial (map-side)
    aggregation over a 6-group key — no shuffle pressure at any SF.
    """
    t = load_tables(spark, sf_dir, ["lineitem"])
    li = t["lineitem"].filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q03_shipping_priority",
    oracle="""
    SELECT
      l_orderkey,
      ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      STRFTIME(o_orderdate, '%Y-%m-%d') AS o_orderdate,
      o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 20
    """,
)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: selective dim filter → fact joins → top-k by revenue.

    Scale notes: customer (filtered) and orders are small relative to
    lineitem; broadcast the customer side explicitly, let AQE choose for
    orders⋈lineitem. Top-k uses TakeOrderedAndProject, no global sort.
    """
    t = load_tables(spark, sf_dir, ["customer", "orders", "lineitem"])
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = t["orders"].filter(F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
    li = t["lineitem"].filter(F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp"))
    return (
        li.join(
            orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(20)
    )


@query(
    "q05_local_supplier_volume",
    oracle="""
    SELECT
      n_name,
      ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate < TIMESTAMP '1999-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q05_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped: 6-way join through dimension chain + aggregate.

    Scale notes: region/nation/supplier/customer are all broadcastable dims;
    only lineitem⋈orders is a real shuffle and AQE handles it. The dim chain
    collapses to broadcast hash joins inside one whole-stage codegen span.
    """
    t = load_tables(spark, sf_dir, ["customer", "orders", "lineitem", "supplier", "nation", "region"])
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    dims = (
        t["supplier"]
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
    )
    return (
        t["lineitem"]
        .join(orders.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"].select("c_custkey", "c_nationkey")), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(dims.select("s_suppkey", "s_nationkey", "n_name")),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


@query(
    "q18_large_volume_customer",
    oracle="""
    WITH big AS (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 250
    )
    SELECT c_name, c_custkey, o_orderkey,
           STRFTIME(o_orderdate, '%Y-%m-%d') AS o_orderdate,
           ROUND(o_totalprice, 2) AS o_totalprice,
           ROUND(SUM(l_quantity), 2) AS total_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped: HAVING-filtered semi join back onto the fact +
    multi-key aggregation + top-k.

    Scale notes: the 'big orders' set is small → broadcast semi-join; the
    only full shuffles are the two aggregations on l_orderkey (co-keyed, AQE
    reuses partitioning)."""
    t = load_tables(spark, sf_dir, ["customer", "orders", "lineitem"])
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__q"))
        .filter(F.col("__q") > 250)
        .select("l_orderkey")
    )
    return (
        t["lineitem"]
        .join(F.broadcast(big), "l_orderkey", "left_semi")
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@query(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped: returned-item revenue ranking — selective fact
    filter, dim joins broadcast, top-k."""
    t = load_tables(spark, sf_dir, ["customer", "orders", "lineitem", "nation"])
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = t["lineitem"].filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "q17_small_quantity",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#1'
      AND l_quantity < (
        SELECT 0.2 * AVG(l_quantity) FROM lineitem WHERE l_partkey = l.l_partkey)
    """,
)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped: correlated scalar-aggregate subquery, decorrelated
    into a per-part average join (the plan Catalyst produces for the
    correlated form as well)."""
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    per_part = (
        t["lineitem"].groupBy("l_partkey").agg((F.avg("l_quantity") * 0.2).alias("__thresh"))
    )
    return (
        t["lineitem"]
        .join(F.broadcast(t["part"].filter(F.col("p_brand") == "Brand#1").select("p_partkey")),
              F.col("l_partkey") == F.col("p_partkey"))
        .join(per_part, "l_partkey")
        .filter(F.col("l_quantity") < F.col("__thresh"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@query(
    "q4_exists",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o.o_orderkey AND l_quantity > 45)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped: EXISTS-correlated filter as a left-semi join."""
    t = load_tables(spark, sf_dir, ["orders", "lineitem"])
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    big_items = t["lineitem"].filter(F.col("l_quantity") > 45).select(
        F.col("l_orderkey").alias("o_orderkey")
    )
    return (
        orders.join(big_items, "o_orderkey", "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_orderpriority")
    )


@query(
    "q06_forecast_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate < TIMESTAMP '1996-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped forecast-revenue delta: the pure pushdown stress —
    three range predicates and a 2-column projection must ALL reach the
    parquet scan (PushedFilters + pruned ReadSchema), then one partial-
    aggregated global sum. No shuffle beyond the 1-row combine."""
    t = load_tables(spark, sf_dir, ["lineitem"])
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "q14_promo_revenue",
    oracle="""
    SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END) /
                 SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_share,
           COUNT(*) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1995-09-01'
      AND l_shipdate < TIMESTAMP '1995-10-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped promotion share: month-scoped fact scan broadcast-
    joined to the part dim, conditional aggregation to one row. The dim is
    broadcast (no fact shuffle); the month filter pushes down so only the
    matching row groups are read."""
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-10-01 00:00:00").cast("timestamp"))
    )
    joined = li.join(
        F.broadcast(t["part"].select("p_partkey", "p_type")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.agg(
        F.round(
            100.0
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
            / F.sum(rev),
            4,
        ).alias("promo_share"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "q07_nation_volume",
    oracle="""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(YEAR(l_shipdate) AS BIGINT) AS l_year,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
      AND l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY 1, 2, 3
    """,
)
def q07_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped bilateral trade volume: revenue flowing between a
    nation PAIR in either direction, by ship year. The fact stream picks up
    its supplier nation and (via orders) its customer nation through two
    independent dimension chains — the nation table joins TWICE under
    different roles, the disjunctive pair predicate lands after both — then
    a 3-key aggregate. All dims broadcast; the only wide exchange is
    li⋈orders on orderkey (AQE chooses broadcast at bench SFs)."""
    t = load_tables(spark, sf_dir, ["lineitem", "supplier", "orders", "customer", "nation"])
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    sn = t["nation"].select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = t["nation"].select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    j = (
        li.join(F.broadcast(t["supplier"].select("s_suppkey", "s_nationkey")),
                F.col("l_suppkey") == F.col("s_suppkey"))
        .join(t["orders"].select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"].select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        )
    )


@query(
    "q08_market_share",
    oracle="""
    SELECT o_year,
           ROUND(SUM(CASE WHEN nation = 'NATION_1' THEN volume ELSE 0 END)
                 / SUM(volume), 4) AS mkt_share
    FROM (
      SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             sn.n_name AS nation
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN region ON cn.n_regionkey = r_regionkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      WHERE r_name = 'AFRICA' AND p_type = 'PROMO'
    ) GROUP BY o_year
    """,
)
def q08_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped national market share: of all PROMO-part revenue
    sold into one region, the fraction supplied by one nation, per order
    year — the deepest join tree in the set (7 joins, nation twice) ending
    in a conditional-ratio aggregate. Every dimension broadcasts; the fact
    chain li⋈orders is the only shuffle candidate."""
    t = load_tables(
        spark, sf_dir,
        ["lineitem", "part", "supplier", "orders", "customer", "nation", "region"],
    )
    sn = t["nation"].select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("nation")
    )
    cn = t["nation"].select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_rkey")
    )
    j = (
        t["lineitem"]
        .join(F.broadcast(t["part"].filter(F.col("p_type") == "PROMO").select("p_partkey")),
              F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(t["supplier"].select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(t["orders"].select("o_orderkey", "o_custkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"].select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(t["region"].filter(F.col("r_name") == "AFRICA")
                          .select("r_regionkey")),
              F.col("cn_rkey") == F.col("r_regionkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return j.groupBy(F.year("o_orderdate").cast("long").alias("o_year")).agg(
        F.round(
            F.sum(F.when(F.col("nation") == "NATION_1", vol).otherwise(0.0))
            / F.sum(vol),
            4,
        ).alias("mkt_share")
    )


@query(
    "q12_priority_class",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag
    """,
)
def q12_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped priority classification: one year of the fact
    stream joined to orders, split into high/low priority line counts per
    return flag by conditional aggregation — the CASE-pivot shape every
    reference report builder uses (eeo4 buckets, percentage tables)."""
    t = load_tables(spark, sf_dir, ["lineitem", "orders"])
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.select("l_orderkey", "l_returnflag")
        .join(t["orders"].select("o_orderkey", "o_orderpriority"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q13_order_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) GROUP BY c_count
    """,
)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped customer order-count distribution: LEFT join with a
    predicate ON THE JOIN (not a post-filter — customers whose only orders
    are urgent must still appear with count 0), then a double aggregation:
    orders per customer, customers per order count. The join predicate
    placement is the semantic trap this query exists to pin."""
    t = load_tables(spark, sf_dir, ["customer", "orders"])
    o = t["orders"].filter(F.col("o_orderpriority") != "1-URGENT").select(
        "o_orderkey", "o_custkey"
    )
    per_cust = (
        t["customer"].select("c_custkey")
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped top supplier: quarter-scoped per-supplier revenue,
    then the supplier(s) achieving the maximum — the view-plus-scalar-
    subquery shape, expressed as one aggregate frame consumed twice (rank
    filter via max join-back, no second scan of the fact table). Revenue is
    rounded BEFORE the max comparison so the argmax is stable across
    engines' float summation orders."""
    t = load_tables(spark, sf_dir, ["lineitem", "supplier"])
    rev = stage(  # consumed twice: max scalar + join
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("total_revenue")
        ),
        "revenue",
    )
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    top = rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("__mx")).drop("__mx")
    return (
        t["supplier"].select("s_suppkey", "s_name")
        .join(F.broadcast(top), F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q19_disjunctive_pred",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
           AND l_quantity >= 20 AND l_quantity <= 30)
    """,
)
def q19_disjunctive_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped disjunctive predicate join: an OR of three
    conjunctive (brand, size, quantity) clauses spanning BOTH join sides.
    The optimizer stress: Catalyst must still extract the common l_quantity
    bounds / p_brand IN-list as pushable prefilters on each scan even
    though the full predicate only resolves post-join."""
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    j = t["lineitem"].select("l_partkey", "l_quantity", "l_extendedprice", "l_discount").join(
        F.broadcast(t["part"].select("p_partkey", "p_brand", "p_size")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((b == "Brand#1") & s.between(1, 15) & q.between(1, 11))
        | ((b == "Brand#2") & s.between(1, 25) & q.between(10, 20))
        | ((b == "Brand#3") & s.between(1, 35) & q.between(20, 30))
    )
    return j.filter(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "q21_waiting_supplier",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s_name
    """,
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped sole-blame supplier: on finished multi-supplier
    orders, count per supplier the returned lines where NO other supplier
    on the same order also had a return — the correlated EXISTS + NOT
    EXISTS pair, expressed as a left-semi then left-anti self-join of the
    fact table on (orderkey, suppkey≠). Both are equi-joins on orderkey
    with the inequality as a residual, so they shuffle on the 8-byte
    orderkey, never build pairs."""
    t = load_tables(spark, sf_dir, ["supplier", "lineitem", "orders"])
    li = t["lineitem"].select("l_orderkey", "l_suppkey", "l_returnflag")
    l1 = (
        li.filter(F.col("l_returnflag") == "R")
        .join(t["orders"].filter(F.col("o_orderstatus") == "F").select("o_orderkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .select("l_orderkey", "l_suppkey")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    waiting = (
        l1.join(l2, (F.col("l_orderkey") == F.col("o2"))
                & (F.col("l_suppkey") != F.col("s2")), "left_semi")
        .join(l3, (F.col("l_orderkey") == F.col("o3"))
              & (F.col("l_suppkey") != F.col("s3")), "left_anti")
    )
    return (
        waiting.join(F.broadcast(t["supplier"].select("s_suppkey", "s_name")),
                     F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@query(
    "q22_idle_customers",
    oracle="""
    SELECT c_nationkey AS cntry, COUNT(*) AS numcust,
           ROUND(SUM(c_acctbal), 2) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '2001-01-01')
    GROUP BY c_nationkey
    """,
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped idle high-balance customers: balance above the
    positive-balance average (scalar subquery → broadcast 1-row aggregate
    inside the plan, no driver collect) and no RECENT orders (anti join on
    custkey over the date-filtered orders — this synthetic data gives every
    customer at least one all-time order, so recency is what makes 'idle'
    non-degenerate), grouped by nation. The anti join shuffles only the two
    key columns; the average never leaves the plan."""
    t = load_tables(spark, sf_dir, ["customer", "orders"])
    cust = t["customer"].select("c_custkey", "c_nationkey", "c_acctbal")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("__avg")
    )
    recent = t["orders"].filter(
        F.col("o_orderdate") >= F.lit("2001-01-01 00:00:00").cast("timestamp")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__avg"))
        .join(recent.select(F.col("o_custkey").alias("c_custkey")),
              "c_custkey", "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntry"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


# --- partsupp-dependent shapes (Q2/Q9/Q11/Q16/Q20) ------------------------
# The driver's testdata has no partsupp table, so these five shapes derive a
# DETERMINISTIC partsupp from the tables that exist: one row per distinct
# (l_partkey, l_suppkey) with arithmetic supplycost/availqty. Both the Spark
# fixture and the oracle CTE compute the identical derivation, so the
# QUERIES over it are exercised exactly as TPC-H intends (correlated min
# subquery, profit join, HAVING vs scalar, NOT IN, nested semi chains).

_PARTSUPP_CTE = """
    partsupp AS (
      -- supplycost stays EXACT-integer until one final division, so both
      -- engines compute bit-identical doubles: a ROUND() here would sit a
      -- .005 boundary under HALF_UP (Spark) vs half-even (DuckDB) and the
      -- one-cent disagreements amplify through availqty multiplications
      SELECT ps_partkey, ps_suppkey,
             FLOOR(p_retailprice * 100)
               * (40 + (ps_partkey * 7 + ps_suppkey) % 50) / 10000.0
               AS ps_supplycost,
             CAST(1 + (ps_partkey * 13 + ps_suppkey * 3) % 9999 AS BIGINT)
               AS ps_availqty
      FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
            FROM lineitem)
      JOIN part ON ps_partkey = p_partkey
    )"""


def _partsupp(t) -> DataFrame:
    """Deterministic partsupp fixture — see _PARTSUPP_CTE for the contract."""
    ps = (
        t["lineitem"]
        .select(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .distinct()
        .join(
            F.broadcast(t["part"].select("p_partkey", "p_retailprice")),
            F.col("ps_partkey") == F.col("p_partkey"),
        )
    )
    return ps.select(
        "ps_partkey",
        "ps_suppkey",
        (
            F.floor(F.col("p_retailprice") * 100)
            * (40 + (F.col("ps_partkey") * 7 + F.col("ps_suppkey")) % 50)
            / 10000.0
        ).alias("ps_supplycost"),
        (1 + (F.col("ps_partkey") * 13 + F.col("ps_suppkey") * 3) % 9999)
        .cast("long")
        .alias("ps_availqty"),
    )


@query(
    "q02_min_cost_supplier",
    oracle=f"""
    WITH {_PARTSUPP_CTE}
    , regional AS (
      SELECT ps_partkey, ps_suppkey, ps_supplycost, s_name, s_acctbal, n_name
      FROM partsupp
      JOIN supplier ON ps_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'AFRICA'
    )
    SELECT r.s_acctbal, r.s_name, r.n_name, r.ps_partkey AS p_partkey,
           r.ps_supplycost
    FROM regional r
    JOIN part ON r.ps_partkey = p_partkey
    WHERE p_type = 'PROMO' AND p_size <= 10
      AND r.ps_supplycost = (SELECT MIN(r2.ps_supplycost) FROM regional r2
                             WHERE r2.ps_partkey = r.ps_partkey)
    """,
)
def q02_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped minimum-cost supplier: for each qualifying part, the
    region's supplier(s) offering the MINIMUM supply cost — the correlated
    aggregate subquery, expressed as a per-part min aggregate joined back
    on cost equality (one pass over the regional partsupp consumed twice
    via checkpoint, no correlated re-execution)."""
    t = load_tables(
        spark, sf_dir, ["lineitem", "part", "supplier", "nation", "region"]
    )
    regional = stage(  # consumed twice: min agg + detail join
        _partsupp(t)
        .join(F.broadcast(t["supplier"].select("s_suppkey", "s_name", "s_acctbal", "s_nationkey")),
              F.col("ps_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"].select("n_nationkey", "n_name", "n_regionkey")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"].filter(F.col("r_name") == "AFRICA")
                          .select("r_regionkey")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("ps_partkey", "ps_supplycost", "s_name", "s_acctbal", "n_name"),
        "regional_partsupp",
    )
    mins = regional.groupBy(F.col("ps_partkey").alias("__pk")).agg(
        F.min("ps_supplycost").alias("__mincost")
    )
    qualified = t["part"].filter(
        (F.col("p_type") == "PROMO") & (F.col("p_size") <= 10)
    ).select("p_partkey")
    return (
        regional.join(
            mins,
            (F.col("ps_partkey") == F.col("__pk"))
            & (F.col("ps_supplycost") == F.col("__mincost")),
        )
        .join(F.broadcast(qualified), F.col("ps_partkey") == F.col("p_partkey"))
        .select("s_acctbal", "s_name", "n_name",
                F.col("ps_partkey").alias("p_partkey"), "ps_supplycost")
    )


@query(
    "q09_product_profit",
    oracle=f"""
    WITH {_PARTSUPP_CTE}
    -- profit in EXACT integer 1/10000-currency units end to end: prices
    -- and discounts carry 2 decimals, so FLOOR(x*100) is a cross-engine-
    -- stable integer; revenue = cents x (100 - discount%), cost =
    -- (supplycost in 1e-4 units) x integral quantity. Integer sums are
    -- accumulation-order-free — the double form flipped a cent boundary
    -- at sf0.1 (group sums ~2e7 with ~1e-9 relative summation skew).
    SELECT n_name AS nation, CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(FLOOR(l_discount * 100) AS BIGINT))
                    - CAST(FLOOR(p_retailprice * 100) AS BIGINT)
                      * (40 + (ps_partkey * 7 + ps_suppkey) % 50)
                      * CAST(FLOOR(l_quantity) AS BIGINT))
                AS BIGINT) / 10000.0 AS sum_profit
    FROM lineitem
    JOIN partsupp ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_type = 'ECONOMY'
    GROUP BY 1, 2
    """,
)
def q09_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped product-type profit: revenue minus supply cost per
    supplier nation and order year — the widest fact-side join in the set
    (lineitem⋈partsupp on a TWO-column key, plus part/supplier/orders/
    nation). partsupp is fact-sized, so that join shuffles both sides on
    (partkey, suppkey); every true dimension broadcasts. Profit arithmetic
    runs in exact integer 1/10000-currency units (see the oracle note), so
    the per-group sums are identical across engines regardless of
    accumulation order."""
    t = load_tables(
        spark, sf_dir, ["lineitem", "part", "supplier", "orders", "nation"]
    )
    li = t["lineitem"]
    j = (
        li.join(_partsupp(t),
                (F.col("l_partkey") == F.col("ps_partkey"))
                & (F.col("l_suppkey") == F.col("ps_suppkey")))
        .join(F.broadcast(t["part"].filter(F.col("p_type") == "ECONOMY")
                          .select("p_partkey", "p_retailprice")),
              F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(t["supplier"].select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(t["orders"].select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["nation"].select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
    )
    profit_i = (
        F.floor(F.col("l_extendedprice") * 100).cast("long")
        * (100 - F.floor(F.col("l_discount") * 100).cast("long"))
        - F.floor(F.col("p_retailprice") * 100).cast("long")
        * (40 + (F.col("ps_partkey") * 7 + F.col("ps_suppkey")) % 50)
        * F.floor(F.col("l_quantity")).cast("long")
    )
    return j.groupBy(
        F.col("n_name").alias("nation"),
        F.year("o_orderdate").cast("long").alias("o_year"),
    ).agg((F.sum(profit_i).cast("long") / 10000.0).alias("sum_profit"))


@query(
    "q11_important_stock",
    oracle=f"""
    WITH {_PARTSUPP_CTE}
    , nat AS (
      -- inventory value in EXACT integer 1/10000-currency units: the
      -- HAVING compares a per-part sum against a global-total fraction,
      -- and double accumulation order differs between engines — a part
      -- landing within an ulp of the threshold (observed at sf0.01)
      -- flips. Integer sums and an integer comparison are order-free.
      SELECT ps_partkey,
             CAST(FLOOR(p_retailprice * 100) AS BIGINT)
               * (40 + (ps_partkey * 7 + ps_suppkey) % 50)
               * ps_availqty AS v_i
      FROM partsupp
      JOIN part ON ps_partkey = p_partkey
      JOIN supplier ON ps_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_1'
    )
    SELECT ps_partkey,
           CAST(SUM(v_i) AS BIGINT) / 10000.0 AS value
    FROM nat GROUP BY ps_partkey
    HAVING CAST(SUM(v_i) AS BIGINT) * 3000 > (SELECT CAST(SUM(v_i) AS BIGINT) FROM nat)
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped important stock: per-part inventory value for one
    nation's suppliers, kept only when it exceeds 1/3000 of the NATION-WIDE
    total — the HAVING-against-global-scalar shape (the fraction is chosen
    so the answer is non-degenerate at every driver SF). The total is a
    broadcast 1-row aggregate of the SAME frame (checkpointed, no second
    scan). Value arithmetic runs in exact integer 1/10000-units end to
    end (supplycost is integer/10⁴ by construction), so the threshold
    comparison is order-independent across engines — the double form
    flaked on a part within one ulp of the boundary."""
    t = load_tables(spark, sf_dir, ["lineitem", "part", "supplier", "nation"])
    # integral double -> exact long in both engines (cast rounding modes
    # only diverge on non-integral doubles, which floor never produces)
    v_i = (
        F.floor(F.col("p_retailprice") * 100).cast("long")
        * (40 + (F.col("ps_partkey") * 7 + F.col("ps_suppkey")) % 50)
        * F.col("ps_availqty")
    ).alias("v_i")
    nat = stage(  # consumed twice: per-part agg + total
        _partsupp(t)
        .join(F.broadcast(t["part"].select("p_partkey", "p_retailprice")),
              F.col("ps_partkey") == F.col("p_partkey"))
        .join(F.broadcast(t["supplier"].select("s_suppkey", "s_nationkey")),
              F.col("ps_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"].filter(F.col("n_name") == "NATION_1")
                          .select("n_nationkey")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("ps_partkey", v_i),
        "nation_stock",
    )
    total = nat.agg(F.sum("v_i").cast("long").alias("__total"))
    return (
        nat.groupBy("ps_partkey")
        .agg(F.sum("v_i").cast("long").alias("__vi"))
        .join(F.broadcast(total))
        .filter(F.col("__vi") * 3000 > F.col("__total"))
        .select("ps_partkey", (F.col("__vi") / 10000.0).alias("value"))
    )


@query(
    "q16_supplier_cnt",
    oracle=f"""
    WITH {_PARTSUPP_CTE}
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
    FROM partsupp JOIN part ON ps_partkey = p_partkey
    WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 9, 13, 17)
      AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped supplier counts: distinct suppliers per (brand,
    type, size) over filtered parts, EXCLUDING an unwanted supplier set —
    the NOT IN subquery, expressed as a left-anti join (which also gets
    NOT IN's null-trap semantics right by construction: there are no NULL
    supplier keys here, and anti-join simply drops matches)."""
    t = load_tables(spark, sf_dir, ["lineitem", "part", "supplier"])
    bad = t["supplier"].filter(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("ps_suppkey")
    )
    parts = t["part"].filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 5, 9, 13, 17)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        _partsupp(t)
        .join(bad, "ps_suppkey", "left_anti")
        .join(F.broadcast(parts), F.col("ps_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("ps_suppkey").alias("supplier_cnt"))
    )


@query(
    "q20_excess_stock_suppliers",
    oracle=f"""
    WITH {_PARTSUPP_CTE}
    , shipped AS (
      SELECT l_partkey, l_suppkey, SUM(l_quantity) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY l_partkey, l_suppkey
    )
    SELECT DISTINCT s_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_2' AND s_suppkey IN (
      SELECT ps_suppkey FROM partsupp
      JOIN part ON ps_partkey = p_partkey
      JOIN shipped ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
      WHERE p_type = 'SMALL' AND ps_availqty > 0.5 * qty
    )
    """,
)
def q20_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped excess-stock suppliers: suppliers in one nation
    holding more than half a year's shipped quantity of a SMALL-type part —
    the nested-semi-join chain (part filter → per-(part,supp) shipped
    aggregate → availability comparison → supplier semi). The correlated
    scalar subquery becomes one keyed aggregate joined on the two-column
    key; the final supplier restriction is a left-semi, so supplier rows
    never duplicate."""
    t = load_tables(spark, sf_dir, ["lineitem", "part", "supplier", "nation"])
    shipped = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    excess = (
        _partsupp(t)
        .join(F.broadcast(t["part"].filter(F.col("p_type") == "SMALL")
                          .select("p_partkey")),
              F.col("ps_partkey") == F.col("p_partkey"))
        .join(shipped,
              (F.col("ps_partkey") == F.col("l_partkey"))
              & (F.col("ps_suppkey") == F.col("l_suppkey")))
        .filter(F.col("ps_availqty") > 0.5 * F.col("qty"))
        .select(F.col("ps_suppkey").alias("s_suppkey"))
    )
    return (
        t["supplier"].select("s_suppkey", "s_name", "s_nationkey")
        .join(F.broadcast(t["nation"].filter(F.col("n_name") == "NATION_2")
                          .select("n_nationkey")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(excess, "s_suppkey", "left_semi")
        .select("s_name")
        .distinct()
    )
