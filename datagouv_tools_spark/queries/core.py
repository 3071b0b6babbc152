"""Relational core on the sales schema: joins of every type, agg/rollup/cube/grouping sets, windows, set ops, top-k, pivot, sampling, sketches, entity resolution.

Mechanically split from the flat queries.py (r10); see the package
__init__ for conventions. Registration side effects only — import
through ``datagouv_tools_spark.queries``."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._registry import DEC, dec, dround, query, t

@query(
    "top_customers_per_nation",
    """
    SELECT n_name, c_name, acctbal, rk FROM (
      SELECT n_name, c_name,
             CAST(ROUND(CAST(c_acctbal AS DECIMAL(18,4)), 2) AS DOUBLE) AS acctbal,
             ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey) AS rk
      FROM customer JOIN nation ON c_nationkey = n_nationkey
    ) WHERE rk <= 3
    ORDER BY n_name, rk
    """,
)
def top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window function: per-group top-k via row_number.

    Scale: one shuffle on n_name for the window; in Spark 4 the
    rank-limit pushdown (WindowGroupLimit) keeps only k rows per key per
    partition before the exchange.
    """
    from pyspark.sql.window import Window

    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            "n_name",
            "c_name",
            dround(dec("c_acctbal")).alias("acctbal"),
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= 3)
        .orderBy("n_name", "rk")
    )


@query(
    "orders_rollup",
    """
    SELECT o_orderpriority, o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST
    """,
)
def orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical aggregate (ROLLUP → grouping sets).

    Scale: Spark expands the rollup into grouping sets with a single
    shuffle; partial aggregation still applies per set.
    """
    orders = t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dround(F.sum(dec("o_totalprice"))).alias("total"),
        )
        .orderBy(
            F.col("o_orderpriority").asc_nulls_first(),
            F.col("o_orderstatus").asc_nulls_first(),
        )
    )


@query(
    "customers_with_open_orders",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
    ORDER BY c_custkey
    """,
)
def customers_with_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS). Scale: semi-join needs only the key column
    of the probe side; with a selective status filter the orders side
    shrinks before the shuffle."""
    cust = t(spark, sf_dir, "customer")
    open_orders = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return (
        cust.join(open_orders, cust.c_custkey == open_orders.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "customers_without_partial_orders",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
    ORDER BY c_custkey
    """,
)
def customers_without_partial_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS). Scale: the anti-join build side is
    filtered before the shuffle; AQE converts it to broadcast when the
    filtered side is small."""
    cust = t(spark, sf_dir, "customer")
    partial = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return (
        cust.join(partial, cust.c_custkey == partial.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "segment_set_ops",
    """
    WITH building AS (SELECT DISTINCT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'),
         auto     AS (SELECT DISTINCT c_nationkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
    SELECT 'both' AS tag, c_nationkey FROM (SELECT c_nationkey FROM building INTERSECT SELECT c_nationkey FROM auto)
    UNION ALL
    SELECT 'building_only' AS tag, c_nationkey FROM (SELECT c_nationkey FROM building EXCEPT SELECT c_nationkey FROM auto)
    ORDER BY tag, c_nationkey
    """,
)
def segment_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators: INTERSECT / EXCEPT / UNION ALL."""
    cust = t(spark, sf_dir, "customer")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_nationkey").distinct()
    auto = cust.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_nationkey").distinct()
    both = building.intersect(auto).select(F.lit("both").alias("tag"), "c_nationkey")
    only = building.exceptAll(auto).select(F.lit("building_only").alias("tag"), "c_nationkey")
    return both.unionAll(only).orderBy("tag", "c_nationkey")


@query(
    "order_priority_distinct_customers",
    """
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def order_priority_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregate. Scale: Spark plans count(distinct) as a
    two-phase expand+agg; for approximate needs at 100 TB swap in
    approx_count_distinct (HLL) — exposed in operators/dedup.py."""
    orders = t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "top_orders_by_value",
    """
    SELECT o_orderkey, o_custkey,
           CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)), 2) AS DOUBLE) AS totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def top_orders_by_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: TakeOrderedAndProject, never a full sort."""
    orders = t(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderkey", "o_custkey", dround(dec("o_totalprice")).alias("totalprice")
        )
        .orderBy(F.desc("totalprice"), "o_orderkey")
        .limit(20)
    )


@query(
    "part_type_margin",
    """
    SELECT p_type,
           COUNT(*) AS n_parts,
           CAST(ROUND(MIN(CAST(p_retailprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS min_price,
           CAST(ROUND(MAX(CAST(p_retailprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS max_price,
           CAST(ROUND(SUM(CAST(p_retailprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_price
    FROM part
    WHERE p_size >= 10
    GROUP BY p_type
    ORDER BY p_type
    """,
)
def part_type_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min/max/sum aggregate with a pushed filter."""
    part = t(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_size") >= 10)
        .groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            dround(F.min(dec("p_retailprice"))).alias("min_price"),
            dround(F.max(dec("p_retailprice"))).alias("max_price"),
            dround(F.sum(dec("p_retailprice"))).alias("sum_price"),
        )
        .orderBy("p_type")
    )


@query(
    "orders_price_tier_rangejoin",
    """
    SELECT tier, COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
    FROM orders
    JOIN (VALUES ('small', 0.0, 50000.0),
                 ('medium', 50000.0, 150000.0),
                 ('large', 150000.0, 1000000000.0)) AS tiers(tier, lo, hi)
      ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY tier
    ORDER BY tier
    """,
)
def orders_price_tier_rangejoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band/range join against a broadcast literal dimension. Scale: the
    3-row side broadcasts, so the non-equi predicate is evaluated
    map-side over the fact scan — no shuffle at all before the agg.
    The dim is a SQL VALUES LocalRelation, not createDataFrame — a
    Python-RDD build side adds seconds of Py4J/serialization overhead
    per run (measured 3.5 s vs 0.07 s at sf0.1)."""
    orders = t(spark, sf_dir, "orders")
    tiers = spark.sql(
        "SELECT * FROM VALUES ('small', 0.0, 50000.0),"
        " ('medium', 50000.0, 150000.0),"
        " ('large', 150000.0, 1000000000.0) AS t(tier, lo, hi)"
    )
    return (
        orders.join(
            F.broadcast(tiers),
            (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dround(F.sum(dec("o_totalprice"))).alias("total"),
        )
        .orderBy("tier")
    )


@query(
    "revenue_cube",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           COUNT(*) AS n_items,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY returnflag, linestatus
    """,
)
def revenue_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation (all 2² grouping combinations in one pass —
    Spark expands to a single shuffle with a grouping-id column)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dround(F.sum(dec("l_extendedprice"))).alias("revenue"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_items",
            "revenue",
        )
        .orderBy("returnflag", "linestatus")
    )


@query(
    "supplier_grouping_sets",
    """
    SELECT COALESCE(s_nationkey, -1) AS nationkey,
           COUNT(*) AS n_suppliers,
           CAST(ROUND(SUM(CAST(s_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_acctbal
    FROM supplier
    GROUP BY GROUPING SETS ((s_nationkey), ())
    ORDER BY nationkey
    """,
)
def supplier_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (per-nation + grand total in one pass)."""
    supp = t(spark, sf_dir, "supplier")
    return (
        supp.groupingSets([[F.col("s_nationkey")], []], F.col("s_nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            dround(F.sum(dec("s_acctbal"))).alias("total_acctbal"),
        )
        .select(
            F.coalesce("s_nationkey", F.lit(-1)).alias("nationkey"),
            "n_suppliers",
            "total_acctbal",
        )
        .orderBy("nationkey")
    )


@query(
    "orders_moving_sum",
    """
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS mov_sum3
    FROM orders
    WHERE o_custkey < 100
    ORDER BY o_custkey, o_orderdate, o_orderkey
    """,
)
def orders_moving_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window FRAME (rowsBetween): 3-order moving sum per
    customer. Scale: one shuffle on custkey; frame evaluation is a
    linear in-partition scan."""
    from pyspark.sql.window import Window

    orders = t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        dround(F.sum(dec("o_totalprice")).over(w)).alias("mov_sum3"),
    ).orderBy("o_custkey", "o_orderdate", "o_orderkey")


@query(
    "part_cheapest_supplier",
    """
    WITH r AS (
      SELECT l_partkey, l_suppkey,
             CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,4)), 2) AS DOUBLE) AS min_price,
             ROW_NUMBER() OVER (PARTITION BY l_partkey
                                ORDER BY l_extendedprice, l_suppkey, l_orderkey, l_linenumber) AS rk
      FROM lineitem WHERE l_partkey < 200
    )
    SELECT l_partkey, l_suppkey, min_price FROM r WHERE rk = 1
    ORDER BY l_partkey
    """,
)
def part_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmin-per-group via rank-limit (the distributed form of a
    correlated MIN subquery — no self-join back onto the fact)."""
    from pyspark.sql.window import Window

    li = t(spark, sf_dir, "lineitem").filter(F.col("l_partkey") < 200)
    w = Window.partitionBy("l_partkey").orderBy(
        "l_extendedprice", "l_suppkey", "l_orderkey", "l_linenumber"
    )
    return (
        li.select(
            "l_partkey",
            "l_suppkey",
            F.round(dec("l_extendedprice"), 2).cast("double").alias("min_price"),
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") == 1)
        .drop("rk")
        .orderBy("l_partkey")
    )


@query(
    "small_quantity_revenue",
    """
    WITH pa AS (
      SELECT l_partkey, COUNT(*) AS cnt,
             SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sq
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS small_qty_revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN pa USING (l_partkey)
    WHERE CAST(2 AS DECIMAL(18,4)) * CAST(l_quantity AS DECIMAL(18,4)) * cnt < sq
    """,
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-style correlated aggregate (items below half the
    part's average quantity), decorrelated into agg + equi-join. The
    avg compare is cross-multiplied (2·qty·cnt < sum) so it stays in
    exact decimal arithmetic on both engines. Scale: the per-part
    aggregate is |parts| rows (small next to lineitem but SF-scaling,
    so no forced hint) — AQE broadcasts it at runtime while it fits,
    keeping the fact table shuffle-free for the join; past that it
    degrades to a partkey shuffle instead of an OOM."""
    li = t(spark, sf_dir, "lineitem")
    pa = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum(dec("l_quantity")).alias("sq")
    )
    two = F.lit(2).cast(DEC)
    return (
        li.join(pa, "l_partkey")
        .filter(two * dec("l_quantity") * F.col("cnt") < F.col("sq"))
        .agg(
            dround(F.sum(dec("l_extendedprice"))).alias("small_qty_revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "customer_acctbal_median",
    """
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           ROUND(MEDIAN(c_acctbal), 4) AS median_acctbal
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def customer_acctbal_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median per group (full-sort percentile; both engines do
    linear interpolation on the sorted doubles). At 100 TB you'd reach
    for approx_percentile's mergeable sketch instead — exact median
    here exercises the sort-based aggregate path."""
    cust = t(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.median("c_acctbal"), 4).alias("median_acctbal"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "salted_event_type_stats",
    """
    SELECT event_type, COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value,
           ROUND(MIN(value), 4) AS min_value,
           ROUND(MAX(value), 4) AS max_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def salted_event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant two-phase aggregation (operators/skew.salted_agg):
    partial agg on (key, salt) spreads a hot key over 8 reducers, then
    the 8 partials merge. The oracle is the PLAIN group-by — salting
    must not change the algebra, only the shuffle distribution.
    event_type has 5 values over any event volume: exactly the hot-key
    shape where unsalted reducers pin at 100 TB."""
    from datagouv_tools_spark.operators.skew import salted_agg

    ev = t(spark, sf_dir, "events")
    return (
        salted_agg(
            ev,
            keys=("event_type",),
            aggs={
                "n_events": ("count", F.lit(1)),
                "sum_value_dec": ("sum", dec("value")),
                "min_value_raw": ("min", F.col("value")),
                "max_value_raw": ("max", F.col("value")),
            },
        )
        .select(
            "event_type",
            "n_events",
            dround(F.col("sum_value_dec")).alias("sum_value"),
            F.round("min_value_raw", 4).alias("min_value"),
            F.round("max_value_raw", 4).alias("max_value"),
        )
        .orderBy("event_type")
    )


@query(
    "orders_systematic_sample",
    """
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderkey % 20 = 0
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def orders_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 1-in-20 systematic sample (key-modulo predicate —
    reproducible across engines and runs, unlike random Bernoulli
    sampling; pushes to the scan as a filter)."""
    orders = t(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_orderkey") % 20 == 0)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dround(F.sum(dec("o_totalprice"))).alias("total"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "customer_acctbal_quartiles",
    """
    SELECT c_mktsegment,
           ROUND(quantile_cont(c_acctbal, 0.25), 4) AS q25,
           ROUND(quantile_cont(c_acctbal, 0.50), 4) AS q50,
           ROUND(quantile_cont(c_acctbal, 0.75), 4) AS q75
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def customer_acctbal_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-quantile aggregate (linear interpolation over the
    sorted values in both engines). One array-valued ``percentile``
    computed per group, then flattened to q25/q50/q75 scalar columns —
    the driver's canonicalizer sorts result values and cannot hash an
    array<double> cell (same constraint as ``multimodal_features``)."""
    cust = t(spark, sf_dir, "customer")
    qs = F.percentile(
        F.col("c_acctbal"), F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    )
    return (
        cust.groupBy("c_mktsegment")
        .agg(qs.alias("_qs"))
        .select(
            "c_mktsegment",
            F.round(F.col("_qs")[0], 4).alias("q25"),
            F.round(F.col("_qs")[1], 4).alias("q50"),
            F.round(F.col("_qs")[2], 4).alias("q75"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "customer_string_functions",
    """
    SELECT c_custkey,
           UPPER(c_name) AS name_upper,
           SUBSTR(c_name, 1, 8) AS name_prefix,
           LPAD(CAST(c_custkey AS VARCHAR), 10, '0') AS key_padded,
           CONCAT(c_mktsegment, ':', CAST(c_nationkey AS VARCHAR)) AS seg_nation,
           REPLACE(c_name, 'Customer', 'C') AS name_short,
           LENGTH(c_name) AS name_len,
           REGEXP_EXTRACT(c_name, '([0-9]+)', 1) AS name_digits
    FROM customer
    WHERE c_custkey < 50
    ORDER BY c_custkey
    """,
)
def customer_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string-function coverage (upper/substr/lpad/concat/
    replace/length/regexp_extract) — all JVM built-ins inside one
    codegen stage, no shuffle except the final sort."""
    cust = t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 50)
    return cust.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("key_padded"),
        F.concat_ws(":", "c_mktsegment", F.col("c_nationkey").cast("string")).alias(
            "seg_nation"
        ),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("C")).alias("name_short"),
        F.length("c_name").cast("long").alias("name_len"),
        F.regexp_extract("c_name", r"([0-9]+)", 1).alias("name_digits"),
    ).orderBy("c_custkey")


@query(
    "orders_date_functions",
    """
    SELECT EXTRACT(year FROM o_orderdate) AS o_year,
           EXTRACT(quarter FROM o_orderdate) AS o_quarter,
           COUNT(*) AS n_orders,
           MIN(CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR)) AS first_month_end,
           CAST(MAX(date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate)) AS BIGINT) AS max_days_since_95
    FROM orders
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def orders_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar coverage (extract year/quarter, last_day,
    datediff) grouped to calendar quarters."""
    orders = t(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").cast("long").alias("o_year"),
            F.quarter("o_orderdate").cast("long").alias("o_quarter"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min(
                F.last_day(F.col("o_orderdate").cast("date")).cast("string")
            ).alias("first_month_end"),
            F.max(
                F.datediff(
                    F.col("o_orderdate").cast("date"),
                    F.lit("1995-01-01").cast("date"),
                )
            ).cast("long").alias("max_days_since_95"),
        )
        .orderBy("o_year", "o_quarter")
    )


@query(
    "orders_priority_pivot",
    """
    SELECT EXTRACT(year FROM o_orderdate) AS o_year,
           COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS p1_urgent,
           COUNT(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS p2_high,
           COUNT(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS p3_medium,
           COUNT(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS p4_not_specified,
           COUNT(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS p5_low
    FROM orders
    GROUP BY 1
    ORDER BY 1
    """,
)
def orders_priority_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: priorities to columns, one count aggregation pass.
    Explicit value list => no extra distinct-values job; single
    shuffle on year."""
    orders = t(spark, sf_dir, "orders")
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    aliases = ["p1_urgent", "p2_high", "p3_medium", "p4_not_specified", "p5_low"]
    pivoted = (
        orders.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .pivot("o_orderpriority", prios)
        .count()
    )
    renamed = pivoted.select(
        "o_year",
        *[F.coalesce(F.col(f"`{p}`"), F.lit(0)).alias(a) for p, a in zip(prios, aliases)],
    )
    return renamed.orderBy("o_year")


@query(
    "supplier_metrics_unpivot",
    """
    SELECT s_suppkey, metric, ROUND(value, 4) AS value
    FROM (
      SELECT s_suppkey, 'acctbal' AS metric, s_acctbal AS value FROM supplier
      UNION ALL
      SELECT s_suppkey, 'nationkey', CAST(s_nationkey AS DOUBLE) FROM supplier
    ) u
    WHERE s_suppkey < 30
    ORDER BY s_suppkey, metric
    """,
)
def supplier_metrics_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): wide columns to (metric, value) rows —
    df.unpivot, the inverse of pivot; map-side only, no shuffle before
    the sort."""
    supp = t(spark, sf_dir, "supplier").filter(F.col("s_suppkey") < 30)
    return (
        supp.select(
            "s_suppkey",
            F.col("s_acctbal").alias("acctbal"),
            F.col("s_nationkey").cast("double").alias("nationkey"),
        )
        .unpivot("s_suppkey", ["acctbal", "nationkey"], "metric", "value")
        .select("s_suppkey", "metric", F.round("value", 4).alias("value"))
        .orderBy("s_suppkey", "metric")
    )


@query(
    "null_semantics",
    """
    WITH e AS (
      SELECT event_id,
             NULLIF(event_type, 'error') AS et_nullable,
             value
      FROM events WHERE event_id < 200
    )
    SELECT COALESCE(et_nullable, '<err>') AS et,
           COUNT(*) AS n_total,
           COUNT(et_nullable) AS n_nonnull,
           CAST(SUM(CASE WHEN et_nullable IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_null,
           CAST(ROUND(SUM(CASE WHEN et_nullable IS NULL THEN CAST(value AS DECIMAL(18,4)) ELSE CAST(0 AS DECIMAL(18,4)) END), 2) AS DOUBLE) AS err_value
    FROM e
    GROUP BY 1
    ORDER BY 1
    """,
)
def null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-handling surface: nullif/coalesce, COUNT(col) vs COUNT(*),
    null-safe equality (<=> / IS NOT DISTINCT FROM), conditional
    decimal aggregation over nullable groups."""
    ev = t(spark, sf_dir, "events").filter(F.col("event_id") < 200)
    e = ev.select(
        "event_id",
        F.nullif(F.col("event_type"), F.lit("error")).alias("et_nullable"),
        "value",
    )
    zero = F.lit(0).cast(DEC)
    return (
        e.groupBy(F.coalesce("et_nullable", F.lit("<err>")).alias("et"))
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count("et_nullable").alias("n_nonnull"),
            F.sum(
                F.when(F.col("et_nullable").eqNullSafe(F.lit(None).cast("string")), 1).otherwise(0)
            ).alias("n_nullsafe_null"),
            dround(
                F.sum(F.when(F.col("et_nullable").isNull(), dec("value")).otherwise(zero))
            ).alias("err_value"),
        )
        .orderBy("et")
    )


@query(
    "orders_window_functions",
    """
    SELECT o_custkey, o_orderkey,
           ROUND(LAG(o_totalprice) OVER w, 2) AS prev_price,
           ROUND(LEAD(o_totalprice) OVER w, 2) AS next_price,
           DENSE_RANK() OVER w AS dr,
           NTILE(4) OVER w AS quartile,
           ROUND(CUME_DIST() OVER w, 6) AS cd,
           ROUND(FIRST_VALUE(o_totalprice) OVER w, 2) AS first_price
    FROM orders
    WHERE o_custkey < 40
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, o_orderdate, o_orderkey
    """,
)
def orders_window_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function breadth in one pass: lag/lead, dense_rank,
    ntile, cume_dist, first_value over a single window spec (one
    shuffle on custkey; all functions share the sort)."""
    from pyspark.sql.window import Window

    orders = t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 40)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
        F.round(F.lead("o_totalprice").over(w), 2).alias("next_price"),
        F.dense_rank().over(w).cast("long").alias("dr"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.round(F.first("o_totalprice").over(w), 2).alias("first_price"),
    ).orderBy("o_custkey", "o_orderdate", "o_orderkey")


@query(
    "orders_trailing_30d_revenue",
    """
    SELECT o_custkey, o_orderkey,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
             PARTITION BY o_custkey
             ORDER BY date_diff('day', TIMESTAMP '1990-01-01 00:00:00', o_orderdate)
             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS rev_30d
    FROM orders
    WHERE o_custkey < 40
    ORDER BY o_custkey, o_orderkey
    """,
)
def orders_trailing_30d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over event time: trailing-30-day revenue per
    customer — value-based frame (all orders within 30 days), not
    row-count-based. Spark's rangeBetween needs a numeric sort key:
    days-since-epoch."""
    from pyspark.sql.window import Window

    orders = t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 40)
    days = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date")
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(days)
        .rangeBetween(-30, Window.currentRow)
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            dround(F.sum(dec("o_totalprice")).over(w)).alias("rev_30d"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@query(
    "orders_monthly_spine",
    """
    WITH spine AS (
      SELECT unnest(generate_series(TIMESTAMP '1995-01-01 00:00:00',
                                    TIMESTAMP '2001-08-01 00:00:00',
                                    INTERVAL 1 MONTH)) AS month
    ),
    segs AS (SELECT DISTINCT c_mktsegment FROM customer),
    rev AS (
      SELECT c_mktsegment,
             date_trunc('month', o_orderdate) AS month,
             SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS r
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment, date_trunc('month', o_orderdate)
    )
    SELECT segs.c_mktsegment, spine.month,
           CAST(ROUND(COALESCE(rev.r, CAST(0 AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
    FROM segs CROSS JOIN spine
      LEFT JOIN rev ON rev.c_mktsegment = segs.c_mktsegment AND rev.month = spine.month
    ORDER BY segs.c_mktsegment, spine.month
    """,
)
def orders_monthly_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine densification (gap fill): every (segment, month) cell
    over the full 1995-2001 calendar, zero-filled where no orders
    landed — the generate_series/sequence pattern every reporting
    pipeline needs. Scale: the spine is 80 rows — generated ONCE,
    broadcast into the left join against the aggregated (not raw) fact,
    so densification costs no extra fact shuffle; customer is unhinted
    (SF-scaling, AQE picks)."""
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01 00:00:00").cast("timestamp_ntz"),
                F.lit("2001-08-01 00:00:00").cast("timestamp_ntz"),
                F.expr("INTERVAL 1 MONTH"),
            )
        ).alias("month")
    )
    segs = cust.select("c_mktsegment").distinct()
    rev = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            "c_mktsegment",
            F.date_trunc("month", "o_orderdate").alias("month"),
        )
        .agg(F.sum(dec("o_totalprice")).alias("r"))
        .withColumnRenamed("c_mktsegment", "seg")
        .withColumnRenamed("month", "rmonth")
    )
    zero = F.lit(0).cast(DEC)
    return (
        segs.crossJoin(F.broadcast(spine))
        .join(
            rev,
            (F.col("c_mktsegment") == F.col("seg")) & (F.col("month") == F.col("rmonth")),
            "left",
        )
        .select(
            "c_mktsegment",
            "month",
            dround(F.coalesce(F.col("r"), zero)).alias("revenue"),
        )
        .orderBy("c_mktsegment", "month")
    )


@query(
    "orders_column_profile",
    """
    SELECT
      COUNT(*) AS n_rows,
      COUNT(o_custkey) AS custkey_nonnull,
      COUNT(DISTINCT o_custkey) AS custkey_distinct,
      COUNT(DISTINCT o_orderstatus) AS status_distinct,
      COUNT(DISTINCT o_orderpriority) AS priority_distinct,
      CAST(ROUND(MIN(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS price_min,
      CAST(ROUND(MAX(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS price_max,
      CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS price_sum,
      MIN(o_orderdate) AS date_min,
      MAX(o_orderdate) AS date_max
    FROM orders
    """,
)
def orders_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profiling: row count, null counts, distinct
    cardinalities, and min/max/sum ranges in ONE aggregation — the
    data-quality primitive run before any large ingest. Scale: multiple
    COUNT(DISTINCT)s expand per-distinct but stay one logical pass;
    for 100 TB profiling swap exact distincts for approx_count_distinct
    (HLL, one real pass) — exact kept here for the oracle."""
    orders = t(spark, sf_dir, "orders")
    return orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_custkey").alias("custkey_nonnull"),
        F.count_distinct("o_custkey").alias("custkey_distinct"),
        F.count_distinct("o_orderstatus").alias("status_distinct"),
        F.count_distinct("o_orderpriority").alias("priority_distinct"),
        dround(F.min(dec("o_totalprice"))).alias("price_min"),
        dround(F.max(dec("o_totalprice"))).alias("price_max"),
        dround(F.sum(dec("o_totalprice"))).alias("price_sum"),
        F.min("o_orderdate").alias("date_min"),
        F.max("o_orderdate").alias("date_max"),
    )


@query(
    "orders_lineitem_reconciliation",
    """
    WITH li AS (
      SELECT l_orderkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS li_sum
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN li.l_orderkey IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS missing_lineitems,
           CAST(SUM(CASE WHEN li.l_orderkey IS NOT NULL
                     AND ABS(li_sum - CAST(o_totalprice AS DECIMAL(18,4))) * 10
                         > CAST(o_totalprice AS DECIMAL(18,4))
                    THEN 1 ELSE 0 END) AS BIGINT) AS deviating_10pct
    FROM orders LEFT JOIN li ON o_orderkey = li.l_orderkey
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def orders_lineitem_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table reconciliation audit: per order status, how many
    orders have NO lineitems (referential break) and how many deviate
    >10% between o_totalprice and their lineitem sum (consistency
    break) — the validation every ETL load runs before publishing.
    Scale: both sides aggregate/join on orderkey, so a lake bucketed
    by orderkey runs this with zero shuffles. Determinism: the >10%
    test is cross-multiplied (|diff| * 10 > price) — exact decimal
    arithmetic, no division."""
    orders = t(spark, sf_dir, "orders")
    li = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum(dec("l_extendedprice")).alias("li_sum"))
    )
    has_li = F.col("l_orderkey").isNotNull()
    deviates = has_li & (
        F.abs(F.col("li_sum") - dec("o_totalprice")) * F.lit(10)
        > dec("o_totalprice")
    )
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.when(~has_li, 1).otherwise(0)).alias("missing_lineitems"),
            F.sum(F.when(deviates, 1).otherwise(0)).alias("deviating_10pct"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "customer_latest_order_value",
    """
    SELECT o_custkey,
           COUNT(*) AS n_orders,
           max_by(o_totalprice,
                  concat(CAST(o_orderdate AS VARCHAR),
                         lpad(CAST(o_orderkey AS VARCHAR), 12, '0')))
             AS latest_totalprice,
           MAX(o_orderdate) AS latest_orderdate
    FROM orders
    WHERE o_custkey < 100
    GROUP BY o_custkey
    ORDER BY o_custkey
    """,
)
def customer_latest_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax aggregation (max_by): each customer's most recent order
    value WITHOUT a self-join or window — one aggregation pass carries
    (ordering key, value) pairs and merges map-side. Determinism: the
    ordering key is the ISO timestamp string + zero-padded orderkey, so
    date ties break uniquely and both engines pick the same row. Scale:
    the classic alternative (window row_number + filter) shuffles the
    same once but materializes per-row ranks; max_by keeps one pair per
    group per partition."""
    orders = t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    ord_key = F.concat(
        F.col("o_orderdate").cast("string"),
        F.lpad(F.col("o_orderkey").cast("string"), 12, "0"),
    )
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.max_by("o_totalprice", ord_key).alias("latest_totalprice"),
            F.max("o_orderdate").alias("latest_orderdate"),
        )
        .orderBy("o_custkey")
    )


@query(
    "orders_quality_checks",
    """
    WITH agg AS (
      SELECT
        CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') OR o_orderstatus IS NULL
                      THEN 1 ELSE 0 END) AS BIGINT) AS accepted_values_o_orderstatus,
        CAST(SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice < 0 OR o_totalprice > 1000000
                      THEN 1 ELSE 0 END) AS BIGINT) AS in_range_o_totalprice,
        CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS not_null_o_custkey,
        CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS unique_o_orderkey
      FROM orders
    )
    SELECT 'accepted_values_o_orderstatus' AS "check", accepted_values_o_orderstatus AS n_violations FROM agg
    UNION ALL SELECT 'in_range_o_totalprice', in_range_o_totalprice FROM agg
    UNION ALL SELECT 'not_null_o_custkey', not_null_o_custkey FROM agg
    UNION ALL SELECT 'unique_o_orderkey', unique_o_orderkey FROM agg
    ORDER BY "check"
    """,
)
def orders_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite (operators/quality.py): key
    uniqueness, null checks, accepted values, numeric range — compiled
    into ONE aggregation pass over the table (one scan, map-side
    partials), emitted long-form as (check, n_violations). The publish
    gate of an ingest pipeline."""
    from datagouv_tools_spark.operators.quality import (
        accepted_values,
        in_range,
        not_null,
        run_checks,
        unique,
    )

    orders = t(spark, sf_dir, "orders")
    return run_checks(
        orders,
        [
            accepted_values("o_orderstatus", ["O", "F", "P"]),
            in_range("o_totalprice", 0, 1_000_000),
            not_null("o_custkey"),
            unique("o_orderkey"),
        ],
    )


@query(
    "orders_incremental_rollup",
    """
    WITH base_after AS (
      SELECT o_orderpriority, o_totalprice FROM orders
      WHERE (o_orderkey % 10 != 0 AND o_orderkey % 7 != 0)
         OR o_orderkey % 10 = 0
    )
    SELECT o_orderpriority,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,6))), 2) AS DOUBLE) AS total,
           MIN(o_totalprice) AS vmin,
           MAX(o_totalprice) AS vmax
    FROM base_after
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def orders_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-rollup maintenance
    (operators/incremental.py): the stored per-priority rollup of
    "yesterday's" orders (orderkey%10!=0) is brought up to date by a
    changelog — deletes of every %7 key, inserts of the %10 keys —
    WITHOUT re-aggregating the base: count/sum merge algebraically from
    the delta alone; min/max recompute only for dirty keys (groups
    whose delete hit the stored extremum), reached through a
    delta-sized semi-join (AQE-broadcast when small) that a
    key-partitioned base would prune to the affected partitions. The oracle is the full recompute over the
    post-delta base — equality IS the maintenance contract.

    Scale: the delta aggregation shuffles |delta| rows; the merge joins
    two rollup-sized (i.e. tiny) tables; the base is touched only under
    the dirty-key semi-join. A nightly 100 TB re-aggregation becomes
    minutes of delta work.
    """
    from datagouv_tools_spark.operators.incremental import maintain_rollup

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    base = orders.filter(F.col("o_orderkey") % 10 != 0)
    inserts = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderpriority", "o_totalprice", F.lit("I").alias("op")
    )
    deletes = base.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderpriority", "o_totalprice", F.lit("D").alias("op")
    )
    delta = inserts.unionByName(deletes)
    base_after = base.filter(F.col("o_orderkey") % 7 != 0).unionByName(
        orders.filter(F.col("o_orderkey") % 10 == 0)
    )
    from datagouv_tools_spark.operators.incremental import aggregate_base

    rollup = aggregate_base(base, "o_orderpriority", "o_totalprice").select(
        "o_orderpriority",
        "n",
        F.col("total").cast("decimal(28,6)").alias("total"),
        "vmin",
        "vmax",
    )
    return (
        maintain_rollup(rollup, delta, base_after, "o_orderpriority", "o_totalprice")
        .select(
            "o_orderpriority",
            "n",
            F.round(F.col("total"), 2).cast("double").alias("total"),
            "vmin",
            "vmax",
        )
        .orderBy("o_orderpriority")
    )


@query(
    "lineitem_bloom_prefilter",
    """
    SELECT l_returnflag,
           COUNT(*) AS n_items,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                          * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2)
                AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 480000)
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def lineitem_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue of lineitems belonging to very-large orders, computed
    through an explicit broadcast Bloom pre-filter (functions/bloom.py):
    the selective order-key set becomes an 8 KiB bit array inlined in
    the lineitem scan's plan, so non-member rows die MAP-SIDE before
    the semi-join shuffle; the real join then removes the filter's
    false positives, making the result exact for any filter sizing —
    which is why the oracle is the plain semi-join.

    Scale: this is the runtime-filter pattern made explicit and
    deterministic. At 100 TB the semi-join would otherwise shuffle
    every lineitem row; with ~4% of orders qualifying, ~97% of the
    probe side never leaves its scan task (the drop is asserted by
    tests/test_bloom.py, not claimed). Build cost is one tiny bit_or
    aggregation; the filter rides the closure, no broadcast join node
    needed for the pre-filter itself."""
    from datagouv_tools_spark.functions.bloom import bloom_prefilter_join

    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
    )
    big = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 480000)
    joined = bloom_prefilter_join(
        li, big.select("o_orderkey"), "l_orderkey", "o_orderkey"
    )
    return (
        joined.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dround(
                F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))), 2
            ).alias("revenue"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "customer_name_fuzzy_pairs",
    """
    WITH k AS (
      SELECT c_custkey AS id, c_name AS key FROM customer
    ),
    v AS (
      SELECT id, key,
             unnest(list_append(
               [key[:i-1] || key[i+1:] for i in range(1, len(key)+1)],
               key)) AS var
      FROM k
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b,
             a.key AS ka, b.key AS kb
      FROM v a JOIN v b ON a.var = b.var AND a.id < b.id
    ),
    pairs AS (
      SELECT id_a, id_b, levenshtein(ka, kb) AS distance
      FROM cand WHERE levenshtein(ka, kb) <= 1
    )
    SELECT CAST(distance AS INTEGER) AS distance,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           BIT_XOR(('0x' || substr(md5(id_a::VARCHAR || '-' || id_b::VARCHAR), 1, 15))::BIGINT)
             AS pair_xor
    FROM pairs GROUP BY distance ORDER BY distance
    """,
)
def customer_name_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record linkage with COMPLETE recall: every customer-name
    pair within one edit, candidates from FastSS deletion
    neighborhoods (operators/fuzzy.deletion_neighborhood_pairs — the
    r11 rewrite). The previous (16-char prefix, length) blocking key
    degenerated on registry-style uniform names (every ``Customer#…``
    row in ONE block → n² kernels corpus-wide, caught by the x1000
    curve sweep); deletion-variant equi-join candidates are linear in
    n·keylen regardless of how the corpus blocks, and the banded
    Levenshtein verify runs on true candidates only, inside codegen.
    DuckDB mirrors the variant generation with a list comprehension,
    so the hash check pins candidate generation AND verify on both
    engines. The per-distance pair_xor folds exactly which pairs
    matched into one order-independent value (distance 0 = exact
    duplicate names, 1 = near)."""
    from datagouv_tools_spark.operators.fuzzy import (
        deletion_neighborhood_pairs,
    )

    cust = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("key")
    )
    pairs = deletion_neighborhood_pairs(cust, "key", "id")
    return (
        pairs.groupBy(F.col("distance").cast("int").alias("distance"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.expr(
                "bit_xor(cast(conv(substring(md5(concat(cast(id_a as string),"
                " '-', cast(id_b as string))), 1, 15), 16, 10) as bigint))"
            ).alias("pair_xor"),
        )
        .orderBy("distance")
    )


@query(
    "orders_snapshot_drift",
    """
    WITH bucketed AS (
      SELECT CAST(LEAST(FLOOR(o_totalprice / 50000.0), 9) AS BIGINT) AS bucket,
             CASE WHEN o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
                  THEN 'base' ELSE 'curr' END AS snap
      FROM orders
    ),
    counts AS (
      SELECT bucket, snap, COUNT(*) AS n FROM bucketed GROUP BY bucket, snap
    ),
    tot AS (SELECT snap, CAST(SUM(n) AS BIGINT) AS total
            FROM counts GROUP BY snap),
    shares AS (
      SELECT c.bucket, c.snap, c.n,
             CAST((c.n * 1000000) // t.total AS BIGINT) AS ppm
      FROM counts c JOIN tot t USING (snap)
    ),
    wide AS (
      SELECT COALESCE(b.bucket, c.bucket) AS bucket,
             COALESCE(b.n, 0) AS base_n, COALESCE(c.n, 0) AS curr_n,
             COALESCE(b.ppm, 0) AS base_ppm, COALESCE(c.ppm, 0) AS curr_ppm
      FROM (SELECT * FROM shares WHERE snap = 'base') b
      FULL OUTER JOIN (SELECT * FROM shares WHERE snap = 'curr') c
        ON b.bucket = c.bucket
    )
    SELECT bucket, base_n, curr_n, base_ppm, curr_ppm,
           ABS(base_ppm - curr_ppm) AS abs_diff_ppm,
           CAST(SUM(ABS(base_ppm - curr_ppm)) OVER () // 2 AS BIGINT) AS tvd_ppm
    FROM wide
    ORDER BY bucket
    """,
)
def orders_snapshot_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality drift detection between two snapshots (PSI-style,
    integer-exact): bucket o_totalprice into fixed 50k bands, compare
    the pre-1998 distribution against 1998+, and report per-bucket
    parts-per-million shares plus the total-variation distance — the
    production check that a new data drop hasn't shifted the feature
    distribution. Fixed-point ppm (integer // division) instead of a
    log-based PSI keeps every value bit-identical cross-engine.

    Scale: one pass over the fact bucketizes map-side into a (10 bands
    × 2 snapshots) domain — the aggregation output is ~20 rows no
    matter the input size, so the share/drift joins and the windowed
    TVD all run on a broadcast-trivial result set."""
    orders = t(spark, sf_dir, "orders")
    from pyspark.sql import Window as W

    bucketed = orders.select(
        F.least(F.floor(F.col("o_totalprice") / 50000.0), F.lit(9))
        .cast("bigint")
        .alias("bucket"),
        F.when(
            F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"),
            "base",
        )
        .otherwise("curr")
        .alias("snap"),
    )
    counts = bucketed.groupBy("bucket", "snap").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = counts.groupBy("snap").agg(F.sum("n").alias("total"))
    shares = counts.join(tot, "snap").select(
        "bucket", "snap", "n", F.expr("(n * 1000000) div total").alias("ppm")
    )
    base = shares.filter(F.col("snap") == "base").select(
        "bucket", F.col("n").alias("bn"), F.col("ppm").alias("bp")
    )
    curr = shares.filter(F.col("snap") == "curr").select(
        "bucket", F.col("n").alias("cn"), F.col("ppm").alias("cp")
    )
    wide = base.join(curr, "bucket", "full_outer").select(
        "bucket",
        F.coalesce("bn", F.lit(0)).alias("base_n"),
        F.coalesce("cn", F.lit(0)).alias("curr_n"),
        F.coalesce("bp", F.lit(0)).alias("base_ppm"),
        F.coalesce("cp", F.lit(0)).alias("curr_ppm"),
    )
    diff = F.abs(F.col("base_ppm") - F.col("curr_ppm"))
    return wide.select(
        "bucket",
        "base_n",
        "curr_n",
        "base_ppm",
        "curr_ppm",
        diff.alias("abs_diff_ppm"),
        F.expr(
            "sum(abs(base_ppm - curr_ppm)) over () div 2"
        ).alias("tvd_ppm"),
    ).orderBy("bucket")


@query(
    "part_association_rules",
    """
    WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                   FROM lineitem),
    n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM items),
    icnt AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS c FROM items GROUP BY pk),
    pairs AS (
      SELECT a.pk AS pa, b.pk AS pb, CAST(COUNT(*) AS BIGINT) AS cp
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY a.pk, b.pk
      HAVING COUNT(*) >= 2
    ),
    rules AS (
      SELECT pa AS ant, pb AS cons, cp FROM pairs
      UNION ALL
      SELECT pb AS ant, pa AS cons, cp FROM pairs
    )
    SELECT r.ant, r.cons, r.cp AS pair_n,
           CAST((r.cp * 1000000) // n.n_orders AS BIGINT) AS support_ppm,
           CAST((r.cp * 1000000) // ca.c AS BIGINT) AS conf_ppm,
           CAST(((r.cp * 1000000) // ca.c) * 1000
                // GREATEST((cb.c * 1000000) // n.n_orders, 1) AS BIGINT)
             AS lift_mille
    FROM rules r
    JOIN icnt ca ON r.ant = ca.pk
    JOIN icnt cb ON r.cons = cb.pk
    CROSS JOIN n
    ORDER BY lift_mille DESC, ant, cons LIMIT 20
    """,
)
def part_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets: part pairs
    co-purchased in the same order, scored by support / confidence /
    lift — all in integer ppm/mille fixed point so ranking is
    cross-engine exact (lift is computed on the ppm-ROUNDED components,
    the documented semantics on both engines).

    Scale: baskets are tiny (≤7 distinct parts per order), so the
    self-join on l_orderkey is a co-partitioned equi-join whose output
    is bounded by Σ|basket|² ≈ 7·|lineitem| — the standard market-
    basket expansion, NOT an n² part join. Pair counting and item
    counts are map-side-combined; the 1-row basket count is broadcast;
    top-20 is TakeOrdered. The min-support HAVING prunes the long tail
    before scoring."""
    li = t(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    n = items.agg(
        F.count_distinct(F.col("ok")).cast("bigint").alias("n_orders")
    )
    icnt = items.groupBy("pk").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    a = items.select(F.col("ok"), F.col("pk").alias("pa"))
    b = items.select(F.col("ok"), F.col("pk").alias("pb"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cp"))
        .filter(F.col("cp") >= 2)
    )
    rules = pairs.select(
        F.col("pa").alias("ant"), F.col("pb").alias("cons"), "cp"
    ).unionByName(
        pairs.select(F.col("pb").alias("ant"), F.col("pa").alias("cons"), "cp")
    )
    ca = icnt.select(F.col("pk").alias("ant"), F.col("c").alias("ca"))
    cb = icnt.select(F.col("pk").alias("cons"), F.col("c").alias("cb"))
    return (
        rules.join(ca, "ant")
        .join(cb, "cons")
        .crossJoin(F.broadcast(n))
        .select(
            "ant",
            "cons",
            F.col("cp").alias("pair_n"),
            F.expr("(cp * 1000000) div n_orders").alias("support_ppm"),
            F.expr("(cp * 1000000) div ca").alias("conf_ppm"),
            F.expr(
                "((cp * 1000000) div ca) * 1000"
                " div greatest((cb * 1000000) div n_orders, 1)"
            ).alias("lift_mille"),
        )
        .orderBy(F.desc("lift_mille"), "ant", "cons")
        .limit(20)
    )


@query(
    "part_revenue_pareto",
    """
    WITH pr AS (
      SELECT l_partkey,
             CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4))
                           * 100 AS BIGINT)) AS BIGINT) AS rev_cents
      FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
      SELECT l_partkey, rev_cents,
             ROW_NUMBER() OVER (ORDER BY rev_cents DESC, l_partkey) AS rnk,
             CAST(SUM(rev_cents) OVER (ORDER BY rev_cents DESC, l_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_cents,
             (SELECT CAST(SUM(rev_cents) AS BIGINT) FROM pr) AS tot_cents,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM pr) AS n_parts
      FROM pr
    ),
    classed AS (
      SELECT l_partkey, rnk, rev_cents,
             (cum_cents * 1000) // tot_cents AS cum_share_mille,
             CASE WHEN (cum_cents * 1000) // tot_cents < 800 THEN 'A'
                  WHEN (cum_cents * 1000) // tot_cents < 950 THEN 'B'
                  ELSE 'C' END AS abc_class,
             n_parts
      FROM ranked
    )
    SELECT abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts_in_class,
           CAST((COUNT(*) * 1000) // MAX(n_parts) AS BIGINT)
             AS parts_share_mille,
           CAST(SUM(rev_cents) AS BIGINT) AS class_rev_cents,
           CAST(MIN(rnk) AS BIGINT) AS first_rank,
           CAST(MAX(rnk) AS BIGINT) AS last_rank
    FROM classed
    GROUP BY abc_class
    ORDER BY abc_class
    """,
)
def part_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC analysis: parts ranked by revenue, running
    cumulative share in integer mille, classed A (<80% cumulative),
    B (<95%), C (rest) — the 80/20 diagnostic every inventory and
    revenue team runs. Revenue is exact integer cents (decimal×100),
    so the running sum, the shares, and the class boundaries are all
    bit-stable cross-engine.

    Scale (r7): one map-side-combining aggregation to part grain, then
    the distributed two-pass rank+cumsum
    (operators/ranking.distributed_rank_cumsum — range shuffle +
    per-partition prefix sums + bounded offset carry, no
    single-partition window): part cardinality is itself data-sized at
    100 TB, so the running share must not funnel through one task.
    DESC revenue ordered as ASC on the integer negation (exact)."""
    from datagouv_tools_spark.operators.ranking import distributed_rank_cumsum

    li = t(spark, sf_dir, "lineitem")
    pr = li.groupBy("l_partkey").agg(
        F.sum((dec("l_extendedprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_cents")
    )
    # Pin the part-grain aggregate: three consumers follow (the scalar
    # total, the range layout's boundary sampler, the shuffle itself) —
    # without the pin each re-runs the lineitem aggregation.
    pr = pr.localCheckpoint()
    tot = pr.agg(
        F.sum("rev_cents").cast("bigint").alias("tot_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
    )
    ranked = distributed_rank_cumsum(
        pr,
        [(-F.col("rev_cents")), F.col("l_partkey")],
        "rev_cents",
        rank_col="rnk",
        cumsum_col="cum_cents",
    ).crossJoin(F.broadcast(tot))
    classed = ranked.select(
        "l_partkey",
        "rnk",
        "rev_cents",
        "n_parts",
        F.expr("(cum_cents * 1000) div tot_cents").alias("cum_share_mille"),
        F.when(F.expr("(cum_cents * 1000) div tot_cents") < 800, "A")
        .when(F.expr("(cum_cents * 1000) div tot_cents") < 950, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts_in_class"),
            F.expr("cast((count(1) * 1000) div max(n_parts) as bigint)").alias(
                "parts_share_mille"
            ),
            F.sum("rev_cents").cast("bigint").alias("class_rev_cents"),
            F.min("rnk").cast("bigint").alias("first_rank"),
            F.max("rnk").cast("bigint").alias("last_rank"),
        )
        .orderBy("abc_class")
    )


@query(
    "orders_trend_forecast",
    """
    WITH monthly AS (
      SELECT CAST(date_diff('month', TIMESTAMP '1995-01-01 00:00:00',
                            date_trunc('month', o_orderdate)) AS BIGINT) AS m,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 0)
                  AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(m) AS BIGINT) AS sm,
             CAST(SUM(rev) AS BIGINT) AS sy,
             CAST(SUM(m * m) AS BIGINT) AS smm,
             CAST(SUM(m * rev) AS BIGINT) AS smy,
             CAST(MAX(m) AS BIGINT) AS max_m
      FROM monthly
    )
    SELECT n AS n_months,
           ((n * smy - sm * sy) * 1000) // (n * smm - sm * sm)
             AS slope_milli,
           (sy * 1000 - ((n * smy - sm * sy) * 1000) // (n * smm - sm * sm)
              * sm) // n AS intercept_milli,
           ((sy * 1000 - ((n * smy - sm * sy) * 1000)
               // (n * smm - sm * sm) * sm) // n
            + ((n * smy - sm * sy) * 1000) // (n * smm - sm * sm)
              * (max_m + 1)) // 1000 AS forecast_next_month
    FROM s
    """,
)
def orders_trend_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed least-squares trend fit on monthly revenue — the
    closed-form regression every forecasting pipeline starts from,
    computed ENTIRELY from five integer aggregates (n, Σm, Σy, Σm²,
    Σmy), so the slope/intercept (milli-dollars) and the next-month
    forecast are bit-exact cross-engine: fixed-point floor division
    replaces float normal-equation solves. Revenue is whole dollars
    (decimal-rounded) to keep every product far inside int64.

    Scale: the month grain collapses 100 TB of orders into ≤ |months|
    rows in ONE map-side-combining pass; the moment sums are a second
    trivial aggregation. This is the aggregate-only shape (no driver
    math beyond the final expression, no iterative solver) that makes
    regression-by-sufficient-statistics the canonical big-data fit."""
    orders = t(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.months_between(
            F.date_trunc("month", F.col("o_orderdate")),
            F.lit("1995-01-01 00:00:00").cast("timestamp_ntz"),
        )
        .cast("bigint")
        .alias("m")
    ).agg(
        F.round(F.sum(dec("o_totalprice")), 0).cast("bigint").alias("rev")
    )
    s = monthly.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("m").cast("bigint").alias("sm"),
        F.sum("rev").cast("bigint").alias("sy"),
        F.sum(F.col("m") * F.col("m")).cast("bigint").alias("smm"),
        F.sum(F.col("m") * F.col("rev")).cast("bigint").alias("smy"),
        F.max("m").cast("bigint").alias("max_m"),
    )
    slope = "((n * smy - sm * sy) * 1000) div (n * smm - sm * sm)"
    intercept = f"(sy * 1000 - {slope} * sm) div n"
    return s.select(
        F.col("n").alias("n_months"),
        F.expr(slope).alias("slope_milli"),
        F.expr(intercept).alias("intercept_milli"),
        F.expr(f"({intercept} + {slope} * (max_m + 1)) div 1000").alias(
            "forecast_next_month"
        ),
    )


@query(
    "customer_rfm_segments",
    """
    WITH base AS (
      SELECT o_custkey,
             CAST(date_diff('day', MAX(o_orderdate),
                            TIMESTAMP '1998-08-02 00:00:00') AS BIGINT)
               AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,4))
                           * 100 AS BIGINT)) AS BIGINT) AS monetary_cents
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT o_custkey,
             NTILE(5) OVER (ORDER BY recency_days ASC, o_custkey) AS r_score,
             NTILE(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
             NTILE(5) OVER (ORDER BY monetary_cents DESC, o_custkey)
               AS m_score,
             monetary_cents
      FROM base
    )
    SELECT r_score, f_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(monetary_cents) AS BIGINT) AS cell_monetary_cents,
           CAST(MIN(m_score) AS BIGINT) AS best_m_score
    FROM scored
    GROUP BY r_score, f_score
    ORDER BY r_score, f_score
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation: the
    marketing-analytics staple. Quintile scores come from NTILE over
    TOTALLY ordered keys (metric + custkey tie-break), so bucket
    boundaries are deterministic cross-engine; monetary is exact
    integer cents. Output is the 5×5 R×F segment matrix with per-cell
    monetary mass.

    Scale (r8): one shuffle to customer grain with map-side combine;
    the three quintile scores ride ONE distributed two-pass rank over
    the stacked (metric, value, custkey) frame — a single range shuffle
    of 3n narrow rows instead of three sequential full-width layouts
    (same bytes, one barrier, no single-partition window over the
    customer grain, which is data-sized at 100 TB). Each metric holds
    exactly n rows, so its local rank is the global rank minus a
    driver-literal offset and NTILE is literal arithmetic; the pivot
    back to customer grain is one hash aggregation, and the 25-cell
    final agg is trivial."""
    orders = t(spark, sf_dir, "orders")
    base = orders.groupBy("o_custkey").agg(
        F.datediff(
            F.lit("1998-08-02 00:00:00").cast("timestamp_ntz").cast("date"),
            F.max("o_orderdate").cast("date"),
        )
        .cast("bigint")
        .alias("recency_days"),
        F.count(F.lit(1)).cast("bigint").alias("frequency"),
        F.sum((dec("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("monetary_cents"),
    )
    # Three NTILE(5) scores from ONE distributed two-pass rank: stack
    # the metrics into (metric id, sort value, custkey) — DESC metrics
    # as ASC on the integer negation (exact) — rank the tall frame
    # once, recover each metric's local rank by a driver-literal
    # offset (every metric holds exactly n rows), and NTILE by the
    # SQL-standard (q, r) literal arithmetic. Values identical to
    # three separate NTILE windows; one range shuffle instead of three.
    from datagouv_tools_spark.operators.ranking import (
        distributed_row_number_total,
    )

    pinned = base.localCheckpoint()
    stacked = None
    for m_id, key in (
        (1, F.col("recency_days")),
        (2, -F.col("frequency")),
        (3, -F.col("monetary_cents")),
    ):
        part = pinned.select(
            "o_custkey",
            "monetary_cents",
            F.lit(m_id).cast("int").alias("__m"),
            key.cast("bigint").alias("__v"),
        )
        stacked = part if stacked is None else stacked.unionByName(part)
    ranked, tot = distributed_row_number_total(
        stacked,
        [F.col("__m"), F.col("__v"), F.col("o_custkey")],
        rank_col="__r",
    )
    n = tot // 3
    q5, r5 = divmod(n, 5)
    bucket = F.expr(
        f"CASE WHEN __rr <= {r5 * (q5 + 1)}"
        f"     THEN (__rr + {q5}) div {q5 + 1}"
        f"     ELSE {r5 + 1} + (__rr - {r5 * (q5 + 1) + 1}) div {max(q5, 1)}"
        f" END"
    )
    scored = (
        ranked.select(
            "o_custkey",
            "monetary_cents",
            "__m",
            (F.col("__r") - (F.col("__m") - 1).cast("bigint") * n).alias(
                "__rr"
            ),
        )
        .select("o_custkey", "monetary_cents", "__m", bucket.alias("__b"))
        .groupBy("o_custkey")
        .agg(
            F.max(F.when(F.col("__m") == 1, F.col("__b"))).alias("r_score"),
            F.max(F.when(F.col("__m") == 2, F.col("__b"))).alias("f_score"),
            F.max(F.when(F.col("__m") == 3, F.col("__b"))).alias("m_score"),
            F.max("monetary_cents").alias("monetary_cents"),
        )
    )
    return (
        scored.groupBy(
            F.col("r_score").cast("bigint").alias("r_score"),
            F.col("f_score").cast("bigint").alias("f_score"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("monetary_cents")
            .cast("bigint")
            .alias("cell_monetary_cents"),
            F.min("m_score").cast("bigint").alias("best_m_score"),
        )
        .orderBy("r_score", "f_score")
    )


@query(
    "orders_lineitem_join_ivm",
    """
    WITH a_after AS (
      SELECT o_orderkey, o_orderpriority FROM orders
      WHERE (o_orderkey % 10 != 0 AND o_orderkey % 7 != 0)
         OR o_orderkey % 10 = 0
    ),
    b_after AS (
      SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
      WHERE (l_suppkey % 3 != 0 AND l_partkey % 11 != 0)
         OR l_suppkey % 3 = 0
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(28,6))), 2)
                AS DOUBLE) AS revenue
    FROM a_after JOIN b_after ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def orders_lineitem_join_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a materialized JOIN view
    (operators/incremental.maintain_join): the stored orders⋈lineitem
    view absorbs two-sided CDC — order deletes (%7 keys) and late
    orders (%10 keys) on one side, supplier-%3 lineitem inserts and
    partkey-%11 deletes on the other — via the signed Gupta-Mumick
    delta rule ΔV = ΔA⋈B + A⋈ΔB + ΔA⋈ΔB. The oracle re-joins the
    post-delta bases from scratch; equality IS the maintenance
    contract, aggregated per priority so the hash covers every
    surviving joined row.

    Scale: all three delta terms keep the delta on the build side —
    AQE broadcasts a normal CDC batch at runtime, and a backfill-scale
    delta shuffles instead of OOMing (base scans partition-prunable on
    a key-bucketed layout); the apply is one stored-view pass with a
    delta-sized tombstone set plus an append — the nightly 100 TB
    re-join becomes delta-sized work.
    """
    from datagouv_tools_spark.operators.incremental import maintain_join

    orders = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey"), "o_orderpriority"
    )
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_linenumber",
        "l_extendedprice",
        "l_suppkey",
        "l_partkey",
    )
    a_old = orders.filter(F.col("o_orderkey") % 10 != 0)
    da = (
        orders.filter(F.col("o_orderkey") % 10 == 0)
        .select("*", F.lit("I").alias("op"))
        .unionByName(
            a_old.filter(F.col("o_orderkey") % 7 == 0).select(
                "*", F.lit("D").alias("op")
            )
        )
    )
    b_old = li.filter(F.col("l_suppkey") % 3 != 0)
    db = (
        li.filter(F.col("l_suppkey") % 3 == 0)
        .select("*", F.lit("I").alias("op"))
        .unionByName(
            b_old.filter(F.col("l_partkey") % 11 == 0).select(
                "*", F.lit("D").alias("op")
            )
        )
    )
    bcols = ["o_orderkey", "l_linenumber", "l_extendedprice"]
    view = a_old.join(b_old.select(*bcols), "o_orderkey")
    maintained = maintain_join(
        view,
        a_old,
        b_old.select(*bcols),
        da,
        db.select(*bcols, "op"),
        "o_orderkey",
    )
    return (
        maintained.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("o_orderkey").cast("bigint").alias("n_orders"),
            dround(F.sum(F.col("l_extendedprice").cast("decimal(28,6)")), 2).alias(
                "revenue"
            ),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "part_skyline_price_qty",
    """
    WITH pp AS (
      SELECT p.p_partkey,
             p.p_retailprice AS price,
             CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS BIGINT)
               AS qty_sold
      FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
      GROUP BY p.p_partkey, p.p_retailprice
    ),
    lvl AS (
      SELECT price, MAX(qty_sold) AS lvl_max FROM pp GROUP BY price
    ),
    run AS (
      SELECT price, lvl_max,
             COALESCE(MAX(lvl_max) OVER (ORDER BY price
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
               AS run_max
      FROM lvl
    )
    SELECT p_partkey, price, qty_sold
    FROM pp JOIN run USING (price)
    WHERE qty_sold > run_max AND qty_sold = lvl_max
    ORDER BY price, p_partkey
    """,
)
def part_skyline_price_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): the parts no other part beats on
    BOTH retail price (lower better) and lifetime quantity sold (higher
    better) — the classic "cheapest and best-selling" dominance query.
    Sort-filter formulation: collapse points to distinct price levels,
    one cumulative-max sweep over the levels in price order, keep a
    point iff it beats every strictly-cheaper level's best (run_max)
    and is its own level's best (equal-price, higher-qty dominance);
    equal (price, qty) ties all survive, per skyline semantics.

    Scale: the only data-sized shuffle is the per-part aggregate; the
    ordered sweep runs over DISTINCT price levels (bounded by price
    quantization, ≪ points) and the verdict joins back by price. At
    extreme level counts the standard refinement — local skyline per
    partition, then this sweep on the union of survivors — slots in
    front without changing semantics, since skyline is idempotent and
    distributive over unions."""
    from datagouv_tools_spark.operators.skyline import skyline_2d

    part = t(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_retailprice").alias("price")
    )
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    pp = (
        part.join(li, part.p_partkey == li.l_partkey)
        .groupBy("p_partkey", "price")
        .agg(F.sum(dec("l_quantity")).cast("bigint").alias("qty_sold"))
    )
    return (
        skyline_2d(pp, "price", "qty_sold")
        .select("p_partkey", "price", "qty_sold")
        .orderBy("price", "p_partkey")
    )


@query(
    "customer_sorted_neighborhood_pairs",
    """
    WITH ranked AS (
      SELECT c_custkey AS id, c_name AS key,
             ROW_NUMBER() OVER (ORDER BY c_name, c_custkey) AS rn
      FROM customer
    ),
    cand AS (
      SELECT a.id AS ia, b.id AS ib, a.key AS ka, b.key AS kb
      FROM ranked a
      JOIN ranked b ON b.rn BETWEEN a.rn + 1 AND a.rn + 5
    ),
    pairs AS (
      SELECT DISTINCT LEAST(ia, ib) AS id_a, GREATEST(ia, ib) AS id_b,
             levenshtein(ka, kb) AS distance
      FROM cand WHERE levenshtein(ka, kb) <= 1
    )
    SELECT distance,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           MIN(id_a) AS min_id_a,
           BIT_XOR(('0x' || substr(md5(id_a::VARCHAR || ':' || id_b::VARCHAR), 1, 15))::BIGINT)
             AS pair_xor
    FROM pairs
    GROUP BY distance
    ORDER BY distance
    """,
)
def customer_sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood record linkage
    (operators/fuzzy.sorted_neighborhood_pairs): rank customers by
    name, compare each row against the 5 ranks after it, verify with
    banded Levenshtein ≤1 — the OTHER classic blocking scheme next to
    customer_name_fuzzy_pairs' prefix blocks, catching edits a prefix
    block structurally misses. pair_xor folds the exact matched-pair
    set per distance.

    Scale: candidates are exactly n·window rows from an EQUI-join on
    (rank + exploded offset) — linear, no quadratic block zone; the
    global rank swaps for the repo's range-partitioned two-pass rank
    at extreme n (pair generation unchanged)."""
    from datagouv_tools_spark.functions.xhash import md5_hash60
    from datagouv_tools_spark.operators.fuzzy import sorted_neighborhood_pairs

    cust = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("key")
    )
    pairs = sorted_neighborhood_pairs(
        cust, "key", "id", F.col("key"), window=5, max_distance=1
    )
    return (
        pairs.groupBy("distance")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.min("id_a").alias("min_id_a"),
            F.expr(
                "bit_xor(cast(conv(substring(md5(concat_ws(':', id_a, id_b)), 1, 15), 16, 10) as bigint))"
            ).alias("pair_xor"),
        )
        .orderBy("distance")
    )


@query(
    "nation_revenue_trends",
    """
    WITH monthly AS (
      SELECT n.n_name AS nation,
             CAST(date_diff('month', TIMESTAMP '1995-01-01 00:00:00',
                            date_trunc('month', o.o_orderdate)) AS BIGINT) AS m,
             CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))), 0)
                  AS BIGINT) AS rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    ),
    s AS (
      SELECT nation,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(m) AS BIGINT) AS sm,
             CAST(SUM(rev) AS BIGINT) AS sy,
             CAST(SUM(m * m) AS BIGINT) AS smm,
             CAST(SUM(m * rev) AS BIGINT) AS smy
      FROM monthly GROUP BY nation
    )
    SELECT nation, n AS n_months,
           ((n * smy - sm * sy) * 1000) // (n * smm - sm * sm)
             AS slope_milli,
           (sy * 1000 - ((n * smy - sm * sy) * 1000) // (n * smm - sm * sm)
              * sm) // n AS intercept_milli
    FROM s
    ORDER BY nation
    """,
)
def nation_revenue_trends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped regression — one least-squares revenue trend PER NATION
    from the same five integer sufficient statistics as
    orders_trend_forecast, all fitted in a single aggregation pass: the
    "train a million small models at once" shape (per-SKU demand, per-
    tenant growth, per-region load) where the GROUP BY key indexes the
    model and no per-model solver ever runs on the driver.

    Scale: facts collapse to (nation, month) grains map-side; the
    moment sums are a second tiny aggregation; nation keeps its
    broadcast hint, customer is unhinted (SF-scaling, AQE picks).
    Model count can grow to millions of keys — it only widens the
    groupBy, never adds passes."""
    orders = t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    monthly = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            F.months_between(
                F.date_trunc("month", F.col("o_orderdate")),
                F.lit("1995-01-01 00:00:00").cast("timestamp_ntz"),
            )
            .cast("bigint")
            .alias("m"),
        )
        .agg(
            F.round(F.sum(dec("o_totalprice")), 0).cast("bigint").alias("rev")
        )
    )
    s = monthly.groupBy("nation").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("m").cast("bigint").alias("sm"),
        F.sum("rev").cast("bigint").alias("sy"),
        F.sum(F.expr("m * m")).cast("bigint").alias("smm"),
        F.sum(F.expr("m * rev")).cast("bigint").alias("smy"),
    )
    return s.select(
        "nation",
        F.col("n").alias("n_months"),
        F.expr(
            "((n * smy - sm * sy) * 1000) div (n * smm - sm * sm)"
        ).alias("slope_milli"),
        F.expr(
            "(sy * 1000 - ((n * smy - sm * sy) * 1000)"
            " div (n * smm - sm * sm) * sm) div n"
        ).alias("intercept_milli"),
    ).orderBy("nation")


@query(
    "orders_forecast_backtest",
    """
    WITH monthly AS (
      SELECT CAST(date_diff('month', TIMESTAMP '1995-01-01 00:00:00',
                            date_trunc('month', o_orderdate)) AS BIGINT) AS m,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 0)
                  AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ),
    pre AS (
      SELECT m, rev,
             COUNT(*)  OVER w AS n,
             SUM(m)    OVER w AS sm,
             SUM(rev)  OVER w AS sy,
             SUM(m*m)  OVER w AS smm,
             SUM(m*rev) OVER w AS smy,
             MAX(m) OVER () AS max_m
      FROM monthly
      WINDOW w AS (ORDER BY m ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING)
    ),
    fit AS (
      SELECT m AS cutoff_m, rev AS actual, CAST(n AS BIGINT) AS n_train,
             CAST(((n * smy - sm * sy) * 1000)
                  // (n * smm - sm * sm) AS BIGINT) AS slope_milli,
             CAST((sy * 1000 - ((n * smy - sm * sy) * 1000)
                // (n * smm - sm * sm) * sm) // n AS BIGINT) AS intercept_milli
      FROM pre
      WHERE m > max_m - 3 AND n >= 2
    )
    SELECT cutoff_m, n_train, slope_milli, actual,
           CAST((intercept_milli + slope_milli * cutoff_m) // 1000 AS BIGINT)
             AS predicted,
           CAST(abs((intercept_milli + slope_milli * cutoff_m) // 1000 - actual)
             AS BIGINT) AS abs_err
    FROM fit
    ORDER BY cutoff_m
    """,
)
def orders_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward forecast evaluation: for each of the last three
    months, fit the least-squares trend on STRICTLY EARLIER months
    only and score the one-step-ahead prediction — the leakage-free
    backtest every forecasting pipeline owes its users, computed
    without refitting: the five sufficient statistics come from ONE
    cumulative window over the month series, so every cutoff's "model"
    is just the prefix sums at that row. Integer fixed point end to
    end (milli-dollar slope/intercept, whole-dollar predictions).

    Scale: facts collapse to the month grain map-side; the backtest
    itself runs on |months| rows however many cutoffs are scored —
    fitting per-cutoff models costs a window pass, not passes ×
    cutoffs."""
    from pyspark.sql.window import Window

    orders = t(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.months_between(
            F.date_trunc("month", F.col("o_orderdate")),
            F.lit("1995-01-01 00:00:00").cast("timestamp_ntz"),
        )
        .cast("bigint")
        .alias("m")
    ).agg(
        F.round(F.sum(dec("o_totalprice")), 0).cast("bigint").alias("rev")
    )
    w = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.orderBy("m").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    pre = monthly.select(
        "m",
        "rev",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("m").over(w).alias("sm"),
        F.sum("rev").over(w).alias("sy"),
        F.sum(F.expr("m * m")).over(w).alias("smm"),
        F.sum(F.expr("m * rev")).over(w).alias("smy"),
        F.max("m").over(wall).alias("max_m"),
    )
    fit = pre.filter(
        (F.col("m") > F.col("max_m") - 3) & (F.col("n") >= 2)
    ).select(
        F.col("m").alias("cutoff_m"),
        F.col("rev").alias("actual"),
        F.col("n").cast("bigint").alias("n_train"),
        F.expr(
            "((n * smy - sm * sy) * 1000) div (n * smm - sm * sm)"
        ).alias("slope_milli"),
        F.expr(
            "(sy * 1000 - ((n * smy - sm * sy) * 1000)"
            " div (n * smm - sm * sm) * sm) div n"
        ).alias("intercept_milli"),
    )
    return fit.select(
        "cutoff_m",
        "n_train",
        "slope_milli",
        "actual",
        F.expr("(intercept_milli + slope_milli * cutoff_m) div 1000").alias(
            "predicted"
        ),
        F.expr(
            "abs((intercept_milli + slope_milli * cutoff_m) div 1000 - actual)"
        ).alias("abs_err"),
    ).orderBy("cutoff_m")


# Benford first-digit shares in ppm: round(log10(1+1/d) * 1e6) as
# literal constants — precomputed, so no libm crosses either engine.
_BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910,
    5: 79181, 6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


@query(
    "orders_benford_screen",
    f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                  AS BIGINT) AS d
      FROM orders WHERE o_totalprice >= 1
    ),
    obs AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY d
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM obs),
    bf(d, expected_ppm) AS (VALUES {", ".join(f"({d}, {p})" for d, p in sorted(_BENFORD_PPM.items()))})
    SELECT bf.d AS first_digit,
           COALESCE(obs.n, 0) AS n,
           CAST(COALESCE(obs.n, 0) * 1000000 // nt AS BIGINT) AS observed_ppm,
           bf.expected_ppm,
           CAST(abs(COALESCE(obs.n, 0) * 1000000 // nt - bf.expected_ppm)
                AS BIGINT) AS abs_dev_ppm
    FROM bf LEFT JOIN obs ON bf.d = obs.d CROSS JOIN tot
    ORDER BY first_digit
    """,
)
def orders_benford_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit screen on order totals — the classic
    fabricated-numbers / data-corruption tripwire for financial
    columns. Observed first-digit shares (integer ppm) sit next to the
    Benford expectation, shipped as PRECOMPUTED ppm literals so no
    transcendental function runs in either engine; abs deviation per
    digit is the audit signal. (TPC-H totals are sums of uniforms, so
    they deviate — the point is the measurement, bit-exact.)

    Scale: one map-local digit projection + a 9-row aggregate; the
    expectation is a 9-row broadcast literal table."""
    bf = spark.createDataFrame(
        sorted(_BENFORD_PPM.items()), "d bigint, expected_ppm bigint"
    )
    orders = t(spark, sf_dir, "orders")
    obs = (
        orders.filter(F.col("o_totalprice") >= 1)
        .select(
            # floor-then-cast: DuckDB CAST(DOUBLE AS BIGINT) rounds
            # half-away while Spark truncates — floor is exact on both
            F.substring(
                F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
            )
            .cast("bigint")
            .alias("d")
        )
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    tot = obs.agg(F.sum("n").cast("bigint").alias("nt"))
    return (
        bf.join(obs, "d", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("d").alias("first_digit"),
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
            F.expr("coalesce(n, 0) * 1000000 div nt")
            .cast("bigint")
            .alias("observed_ppm"),
            "expected_ppm",
            F.expr("abs(coalesce(n, 0) * 1000000 div nt - expected_ppm)")
            .cast("bigint")
            .alias("abs_dev_ppm"),
        )
        .orderBy("first_digit")
    )


@query(
    "customer_entity_resolution",
    """
    WITH RECURSIVE cust AS (
      SELECT c_custkey AS id, c_name AS key FROM customer
    ),
    dv AS (
      SELECT id, key,
             unnest(list_append(
               [key[:i-1] || key[i+1:] for i in range(1, len(key)+1)],
               key)) AS var
      FROM cust
    ),
    p1c AS (
      SELECT DISTINCT a.id AS id_a, b2.id AS id_b,
             a.key AS ka, b2.key AS kb
      FROM dv a JOIN dv b2 ON a.var = b2.var AND a.id < b2.id
    ),
    p1 AS (
      SELECT id_a, id_b FROM p1c WHERE levenshtein(ka, kb) <= 1
    ),
    rankd AS (
      SELECT id, key,
             ROW_NUMBER() OVER (ORDER BY reverse(key), id) AS rn
      FROM cust
    ),
    p2 AS (
      SELECT DISTINCT LEAST(a.id, b2.id) AS id_a,
             GREATEST(a.id, b2.id) AS id_b
      FROM rankd a JOIN rankd b2 ON b2.rn BETWEEN a.rn + 1 AND a.rn + 5
      WHERE levenshtein(a.key, b2.key) <= 1
    ),
    pairs AS (
      SELECT DISTINCT id_a, id_b FROM (
        SELECT id_a, id_b FROM p1 UNION ALL SELECT id_a, id_b FROM p2
      )
    ),
    e AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    r(node, lbl) AS (
      SELECT src, src FROM e
      UNION
      SELECT e.dst, r.lbl FROM r JOIN e ON e.src = r.node
    ),
    cl AS (SELECT node, MIN(lbl) AS cluster_id FROM r GROUP BY node),
    rep AS (
      SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
             BIT_XOR(('0x' || substr(md5(node::VARCHAR), 1, 15))::BIGINT)
               AS member_xor
      FROM cl GROUP BY cluster_id
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
             CAST(SUM(n_members) AS BIGINT) AS n_matched
      FROM rep
    )
    SELECT cluster_id, n_members, member_xor, n_clusters, n_matched
    FROM rep CROSS JOIN tot
    ORDER BY n_members DESC, cluster_id LIMIT 20
    """,
)
def customer_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution: candidates from TWO passes —
    FastSS deletion neighborhoods (complete distance-1 recall, linear
    candidates; the r11 swap after the prefix/length block proved
    degenerate on uniform registry names) AND a reversed-key sorted
    neighborhood (structurally different candidate shape, kept to pin
    the multi-pass union composition) — verified by banded
    Levenshtein, merged, and closed into identity clusters by
    connected components; canonical id = min member. The full
    record-linkage composition (candidates → verify → union →
    cluster) in one declarative plan, hash-checked through the
    recursive-CTE twin.

    Scale: each candidate pass keeps its own linear/bounded
    discipline (see their operators); CC shuffles |E| per round with
    the auto-bounded finish of operators/dedup."""
    from datagouv_tools_spark.operators.dedup import dedup_clusters
    from datagouv_tools_spark.operators.fuzzy import (
        deletion_neighborhood_pairs,
        sorted_neighborhood_pairs,
    )

    cust = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("key")
    )
    p1 = deletion_neighborhood_pairs(cust, "key", "id").select(
        "id_a", "id_b"
    )
    p2 = sorted_neighborhood_pairs(
        cust, "key", "id", F.reverse(F.col("key")), window=5, max_distance=1
    ).select("id_a", "id_b")
    # No distinct over the unioned passes: p2's distance<=1 pairs are a
    # subset of p1's complete distance-1 recall, and every CC algorithm
    # behind dedup_clusters dedups (or tolerates) duplicate edges
    # internally — the cross-pass distinct was a pure extra shuffle of
    # the whole edge set with no effect on the labels (same reasoning
    # as hybrid_dedup_clusters).
    pairs = p1.unionByName(p2)
    cl = dedup_clusters(pairs)
    rep = cl.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.expr(
            "bit_xor(cast(conv(substring(md5(cast(node as string)), 1, 15), 16, 10) as bigint))"
        ).alias("member_xor"),
    )
    tot = rep.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum("n_members").cast("bigint").alias("n_matched"),
    )
    return (
        rep.crossJoin(F.broadcast(tot))
        .orderBy(F.desc("n_members"), "cluster_id")
        .limit(20)
    )


@query(
    "orders_snapshot_rowdiff",
    """
    WITH a AS (
      SELECT o_orderkey AS k, o_orderpriority AS pri, o_totalprice AS price
      FROM orders WHERE o_orderkey % 7 != 0
    ),
    b AS (
      SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 13 = 0 THEN '9-MUTATED'
                  ELSE o_orderpriority END AS pri,
             o_totalprice AS price
      FROM orders WHERE o_orderkey % 10 != 0
    ),
    j AS (
      SELECT COALESCE(a.k, b.k) AS k,
             a.k IS NOT NULL AS in_a, b.k IS NOT NULL AS in_b,
             a.pri AS pa, b.pri AS pb,
             a.price AS xa, b.price AS xb
      FROM a FULL OUTER JOIN b ON a.k = b.k
    )
    SELECT CAST(SUM(CASE WHEN in_a AND NOT in_b THEN 1 ELSE 0 END) AS BIGINT)
             AS n_only_a,
           CAST(SUM(CASE WHEN in_b AND NOT in_a THEN 1 ELSE 0 END) AS BIGINT)
             AS n_only_b,
           CAST(SUM(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS BIGINT)
             AS n_common,
           CAST(SUM(CASE WHEN in_a AND in_b AND (pa <> pb OR xa <> xb)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
           CAST(SUM(CASE WHEN in_a AND in_b AND pa <> pb THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pri_changed,
           CAST(SUM(CASE WHEN in_a AND in_b AND xa <> xb THEN 1 ELSE 0 END)
                AS BIGINT) AS n_price_changed,
           BIT_XOR(CASE WHEN in_a AND in_b AND (pa <> pb OR xa <> xb) THEN
             ('0x' || substr(md5(k::VARCHAR), 1, 15))::BIGINT END)
             AS changed_xor
    FROM j
    """,
)
def orders_snapshot_rowdiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level snapshot reconciliation (the datacompy/"table diff"
    primitive): two keyed snapshots — yesterday's orders minus the %7
    keys vs today's minus the %10 keys with a deterministic priority
    mutation on %13 keys — full-outer joined on the key, classified
    into only-A / only-B / common / changed, with per-column change
    counts and a changed-key xor so the exact changed set is
    hash-pinned. The audit every CDC/IVM pipeline (and this repo's own
    join-IVM) needs to prove two copies agree.

    Scale: ONE full-outer merge join on the key (both sides shuffle
    once on k — co-partitioned if the snapshots are key-bucketed) and a
    map-side-combined scalar aggregate; no row ever leaves as output,
    only the classification counts."""
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    a = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pa"),
        F.col("o_totalprice").alias("xa"),
    )
    b = orders.filter(F.col("o_orderkey") % 10 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.when(F.col("o_orderkey") % 13 == 0, F.lit("9-MUTATED"))
        .otherwise(F.col("o_orderpriority"))
        .alias("pb"),
        F.col("o_totalprice").alias("xb"),
    )
    j = a.withColumn("in_a", F.lit(True)).join(
        b.withColumn("in_b", F.lit(True)), "k", "full_outer"
    )
    in_a = F.coalesce("in_a", F.lit(False))
    in_b = F.coalesce("in_b", F.lit(False))
    changed = in_a & in_b & (
        (F.col("pa") != F.col("pb")) | (F.col("xa") != F.col("xb"))
    )
    return j.agg(
        F.sum((in_a & ~in_b).cast("int")).cast("bigint").alias("n_only_a"),
        F.sum((in_b & ~in_a).cast("int")).cast("bigint").alias("n_only_b"),
        F.sum((in_a & in_b).cast("int")).cast("bigint").alias("n_common"),
        F.sum(changed.cast("int")).cast("bigint").alias("n_changed"),
        F.sum((in_a & in_b & (F.col("pa") != F.col("pb"))).cast("int"))
        .cast("bigint")
        .alias("n_pri_changed"),
        F.sum((in_a & in_b & (F.col("xa") != F.col("xb"))).cast("int"))
        .cast("bigint")
        .alias("n_price_changed"),
        F.expr(
            "bit_xor(case when in_a and in_b and (pa != pb or xa != xb) then"
            " cast(conv(substring(md5(cast(k as string)), 1, 15), 16, 10) as bigint) end)"
        ).alias("changed_xor"),
    )


@query(
    "orders_lineitem_join_size_sketch",
    """
    WITH ok AS (SELECT md5(o_orderkey::VARCHAR) AS dg FROM orders),
    lk AS (SELECT md5(l_orderkey::VARCHAR) AS dg FROM lineitem),
    co AS (
      SELECT i, ('0x' || substr(dg, 1 + i * 7, 7))::BIGINT % 1024 AS idx,
             COUNT(*) AS c
      FROM ok, (SELECT unnest([0, 1, 2, 3]) AS i)
      GROUP BY i, idx
    ),
    cl AS (
      SELECT i, ('0x' || substr(dg, 1 + i * 7, 7))::BIGINT % 1024 AS idx,
             COUNT(*) AS c
      FROM lk, (SELECT unnest([0, 1, 2, 3]) AS i)
      GROUP BY i, idx
    ),
    esti AS (
      SELECT co.i, CAST(SUM(co.c * cl.c) AS BIGINT) AS est_i
      FROM co JOIN cl USING (i, idx) GROUP BY co.i
    ),
    est AS (SELECT CAST(MIN(est_i) AS BIGINT) AS cms_est_rows FROM esti),
    exact AS (
      SELECT CAST(SUM(no.n * nl.n) AS BIGINT) AS exact_rows
      FROM (SELECT o_orderkey AS k, COUNT(*) AS n FROM orders GROUP BY k) no
      JOIN (SELECT l_orderkey AS k, COUNT(*) AS n FROM lineitem GROUP BY k) nl
        USING (k)
    )
    SELECT exact_rows, cms_est_rows,
           CAST((cms_est_rows - exact_rows) * 1000000 // exact_rows AS BIGINT)
             AS overest_ppm
    FROM exact CROSS JOIN est
    """,
)
def orders_lineitem_join_size_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from count-min sketches (the AMS/CMS
    inner-product estimator, Cormode & Muthukrishnan 2005 §4.2): |A ⋈ B|
    on a key equals Σ_k n_A(k)·n_B(k), and the row-wise inner product of
    the two sides' CMS rows — min over the d rows — upper-bounds it in
    constant space. This is optimizer-statistics machinery (what a
    planner consults before picking a join strategy, same family as
    events_range_partition_plan); the exact count rides along so the
    overcount is visible, and the oracle recomputes sketch, estimate,
    and truth cell-for-cell.

    Scale: THE POINT is that each side collapses to d×w cells by one
    map-side-combining aggregation — the estimate costs two
    constant-size sketch exchanges and a 4096-cell join, never a
    shuffle of either table, and shard sketches merge by cell-wise ADD.
    The exact baseline here shuffles per-key counts (one row per
    distinct key — fine for a demo, the thing the sketch avoids at
    scale). Single-digest md5 mode (one hash per key, d row indexes
    sliced from one digest — sketches.cms_cells_single_digest, the
    measured ~3.5× cheaper build) for the oracle; production uses
    xxhash64 and widths sized so per-cell products stay in int64
    headroom."""
    from datagouv_tools_spark.operators.sketches import (
        cms_cells_single_digest,
    )
    from datagouv_tools_spark.operators.skew import fan_out_narrow_scan

    # the per-key md5 sketch builds are compute-bound: unblock the
    # single-split-scan case (guide §2.5; no-op on multi-split inputs —
    # measured a 2.1 s near-serial stage over the two builds here)
    orders = fan_out_narrow_scan(t(spark, sf_dir, "orders"))
    li = fan_out_narrow_scan(t(spark, sf_dir, "lineitem"))
    co = cms_cells_single_digest(
        orders.select(F.col("o_orderkey").cast("string").alias("tok"))
    )
    cl = cms_cells_single_digest(
        li.select(F.col("l_orderkey").cast("string").alias("tok"))
    ).withColumnRenamed("c", "c2")
    est = (
        co.join(cl, ["i", "idx"])
        .groupBy("i")
        .agg(F.sum(F.col("c") * F.col("c2")).cast("bigint").alias("est_i"))
        .agg(F.min("est_i").cast("bigint").alias("cms_est_rows"))
    )
    exact = (
        orders.groupBy(F.col("o_orderkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
        .join(
            li.groupBy(F.col("l_orderkey").alias("k")).agg(
                F.count(F.lit(1)).alias("n2")
            ),
            "k",
        )
        .agg(F.sum(F.col("n") * F.col("n2")).cast("bigint").alias("exact_rows"))
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "exact_rows",
        "cms_est_rows",
        F.expr("cast((cms_est_rows - exact_rows) * 1000000 div exact_rows as bigint)")
            .alias("overest_ppm"),
    )


_FD_CANDIDATES: tuple[tuple[str, tuple[str, ...], str], ...] = (
    ("orders", ("o_orderkey",), "o_custkey"),
    ("orders", ("o_custkey",), "o_orderpriority"),
    ("lineitem", ("l_orderkey",), "l_returnflag"),
    ("lineitem", ("l_partkey",), "l_suppkey"),
    ("lineitem", ("l_orderkey", "l_linenumber"), "l_partkey"),
)


def _fd_oracle() -> str:
    blocks = []
    for table, lhs, rhs in _FD_CANDIDATES:
        fd = f"{','.join(lhs)}->{rhs}"
        lhs_sql = ", ".join(lhs)
        blocks.append(
            f"""
      SELECT '{fd}' AS fd,
             CAST(COUNT(*) AS BIGINT) AS n_groups,
             CAST(SUM(CASE WHEN ndv > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating_groups,
             CAST(SUM(CASE WHEN ndv > 1 THEN nrows ELSE 0 END) AS BIGINT)
               AS n_violating_rows,
             CAST(CASE WHEN SUM(CASE WHEN ndv > 1 THEN 1 ELSE 0 END) = 0
                  THEN 1 ELSE 0 END AS BIGINT) AS holds
      FROM (
        SELECT {lhs_sql}, COUNT(DISTINCT {rhs}) AS ndv, COUNT(*) AS nrows
        FROM {table} GROUP BY {lhs_sql}
      )"""
        )
    union = "\n      UNION ALL".join(blocks)
    return f"SELECT * FROM ({union}) ORDER BY fd"


@query("orders_lineitem_fd_profile", _fd_oracle())
def orders_lineitem_fd_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery (the data-profiling /
    schema-inference family, alongside orders_column_profile): for a
    pinned candidate list A→B, report how many A-groups exist, how
    many carry >1 distinct B (violations), the row mass inside
    violating groups, and whether the FD holds exactly. The composite
    candidate (l_orderkey,l_linenumber)→l_partkey is the interesting
    one on this corpus — the synthetic lineitem carries duplicate
    (orderkey, linenumber) pairs, so the "natural key" FD fails and
    the profile quantifies by how much.

    Scale: each candidate is ONE map-side-combined groupBy on its LHS
    followed by a scalar rollup — no joins, no row movement beyond the
    keyed aggregation; candidates are independent unions, so a real
    profiler would batch dozens per table scan the same way."""
    out = None
    for table, lhs, rhs in _FD_CANDIDATES:
        fd = f"{','.join(lhs)}->{rhs}"
        per_group = (
            t(spark, sf_dir, table)
            .groupBy(*[F.col(c) for c in lhs])
            .agg(
                F.countDistinct(rhs).alias("ndv"),
                F.count(F.lit(1)).alias("nrows"),
            )
        )
        row = per_group.agg(
            F.lit(fd).alias("fd"),
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum((F.col("ndv") > 1).cast("long"))
            .cast("bigint")
            .alias("n_violating_groups"),
            F.sum(F.when(F.col("ndv") > 1, F.col("nrows")).otherwise(0))
            .cast("bigint")
            .alias("n_violating_rows"),
            F.when(
                F.sum((F.col("ndv") > 1).cast("long")) == 0, F.lit(1)
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("holds"),
        )
        out = row if out is None else out.unionByName(row)
    return out.select(
        "fd", "n_groups", "n_violating_groups", "n_violating_rows", "holds"
    ).orderBy("fd")


@query(
    "orders_merkle_antientropy",
    """
    WITH a AS (
      SELECT o_orderkey AS k, o_orderpriority AS pri,
             CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)) * 1000, 0)
                  AS BIGINT) AS price_mille
      FROM orders
    ),
    b AS (
      SELECT o_orderkey AS k,
             CASE WHEN o_orderkey >= 2000 AND o_orderkey < 4000
                  THEN '9-REWRITTEN' ELSE o_orderpriority END AS pri,
             CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)) * 1000, 0)
                  AS BIGINT) AS price_mille
      FROM orders WHERE o_orderkey != 7777
    ),
    fa AS (
      SELECT (k // 64) % 256 AS leaf, ((k // 64) % 256) // 16 AS branch,
             ('0x' || substr(md5(k::VARCHAR || '|' || pri || '|'
                                 || price_mille::VARCHAR), 1, 15))::BIGINT AS h
      FROM a
    ),
    fb AS (
      SELECT (k // 64) % 256 AS leaf, ((k // 64) % 256) // 16 AS branch,
             ('0x' || substr(md5(k::VARCHAR || '|' || pri || '|'
                                 || price_mille::VARCHAR), 1, 15))::BIGINT AS h
      FROM b
    ),
    la AS (SELECT branch, leaf, BIT_XOR(h) AS x, COUNT(*) AS c
           FROM fa GROUP BY branch, leaf),
    lb AS (SELECT branch, leaf, BIT_XOR(h) AS x, COUNT(*) AS c
           FROM fb GROUP BY branch, leaf),
    leaves AS (
      SELECT COALESCE(la.branch, lb.branch) AS branch,
             COALESCE(la.leaf, lb.leaf) AS leaf,
             COALESCE(la.x, 0) AS xa, COALESCE(lb.x, 0) AS xb,
             COALESCE(la.c, 0) AS ca, COALESCE(lb.c, 0) AS cb
      FROM la FULL OUTER JOIN lb ON la.branch = lb.branch AND la.leaf = lb.leaf
    ),
    branches AS (
      SELECT branch, BIT_XOR(xa) AS bxa, BIT_XOR(xb) AS bxb,
             SUM(ca) AS bca, SUM(cb) AS bcb
      FROM leaves GROUP BY branch
    ),
    diffb AS (
      SELECT branch FROM branches WHERE bxa != bxb OR bca != bcb
    ),
    probe AS (
      SELECT l.* FROM leaves l JOIN diffb USING (branch)
    )
    SELECT CAST((SELECT COUNT(*) FROM branches) AS BIGINT) AS n_branches,
           CAST((SELECT COUNT(*) FROM diffb) AS BIGINT)
             AS n_branches_differing,
           CAST(COUNT(*) AS BIGINT) AS n_leaves_probed,
           CAST(SUM(CASE WHEN xa != xb OR ca != cb THEN 1 ELSE 0 END)
                AS BIGINT) AS n_leaves_differing,
           CAST(SUM(CASE WHEN xa != xb OR ca != cb THEN ca ELSE 0 END)
                AS BIGINT) AS rows_a_to_scan,
           CAST(SUM(CASE WHEN xa != xb OR ca != cb THEN cb ELSE 0 END)
                AS BIGINT) AS rows_b_to_scan,
           BIT_XOR(CASE WHEN xa != xb OR ca != cb THEN leaf END)
             AS diff_leaf_xor
    FROM probe
    """,
)
def orders_merkle_antientropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy sync PLANNING by hierarchical checksums (the
    Merkle-tree reconciliation of Dynamo/Cassandra repair): snapshot b
    drifts from a by a LOCALIZED defect — a rewritten key range
    [2000, 4000) plus one lost row — and the compare walks 16 branch
    checksums, recursing into only the differing branches' leaf
    buckets, then reports the row mass a repair would actually scan.
    Leaves cycle 64-key RUNS ((k div 64) % 256) so contiguous damage
    stays in few subtrees — a modulo-sprayed leaf key would smear any
    localized defect across every bucket and the tree would prune
    nothing (measured: the %-spread variant probed all 256 leaves).
    Checksums are bit_xor of per-row md5 fingerprints (ALGEBRAIC:
    add/remove a row = one xor, so a store can maintain them
    incrementally) over exact-decimal price milles — no float ever
    enters a fingerprint. XOR-collision honesty: a branch whose
    mutations cancel in xor AND preserve counts would be skipped —
    the standard trade of checksum anti-entropy.

    Scale: THE POINT is that a 100-TB reconciliation reads 16 + 16·d
    checksums (d = differing branches) instead of every row — the
    row-level diff runs only inside differing leaves (rows_*_to_scan
    quantifies exactly how much). Checksum builds are one map-side-
    combined aggregation per side keyed by (branch, leaf); the compare
    joins ≤256-row frames."""
    from datagouv_tools_spark.functions.xhash import md5_hash60

    # fan_out_narrow_scan measured 1.38x SLOWER here (interleaved A/B):
    # the two per-side checksum kernels are ~0.4 s each, less than the
    # two repartition exchanges the fan-out adds — the counter-case to
    # the nine queries where the fan-out wins. Left on the narrow scan.
    orders = t(spark, sf_dir, "orders")
    price_mille = F.round(dec("o_totalprice") * 1000, 0).cast("bigint")
    a = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pri"),
        price_mille.alias("price_mille"),
    )
    b = orders.filter(F.col("o_orderkey") != 7777).select(
        F.col("o_orderkey").alias("k"),
        F.when(
            (F.col("o_orderkey") >= 2000) & (F.col("o_orderkey") < 4000),
            F.lit("9-REWRITTEN"),
        )
        .otherwise(F.col("o_orderpriority"))
        .alias("pri"),
        price_mille.alias("price_mille"),
    )

    def fp(side: DataFrame) -> DataFrame:
        h = md5_hash60(
            F.concat_ws(
                "|",
                F.col("k").cast("string"),
                F.col("pri"),
                F.col("price_mille").cast("string"),
            )
        )
        return side.select(
            F.expr("(k div 64) % 256").alias("leaf"),
            F.expr("((k div 64) % 256) div 16").alias("branch"),
            h.alias("h"),
        )

    la = (
        fp(a)
        .groupBy("branch", "leaf")
        .agg(F.expr("bit_xor(h)").alias("x"), F.count(F.lit(1)).alias("c"))
    )
    lb = (
        fp(b)
        .groupBy("branch", "leaf")
        .agg(F.expr("bit_xor(h)").alias("x2"), F.count(F.lit(1)).alias("c2"))
    )
    leaves = (
        la.join(lb, ["branch", "leaf"], "full_outer")
        .select(
            "branch",
            "leaf",
            F.coalesce("x", F.lit(0)).alias("xa"),
            F.coalesce("x2", F.lit(0)).alias("xb"),
            F.coalesce("c", F.lit(0)).alias("ca"),
            F.coalesce("c2", F.lit(0)).alias("cb"),
        )
    )
    branches = leaves.groupBy("branch").agg(
        F.expr("bit_xor(xa)").alias("bxa"),
        F.expr("bit_xor(xb)").alias("bxb"),
        F.sum("ca").alias("bca"),
        F.sum("cb").alias("bcb"),
    )
    nb = branches.agg(F.count(F.lit(1)).cast("bigint").alias("n_branches"))
    diffb = branches.filter(
        (F.col("bxa") != F.col("bxb")) | (F.col("bca") != F.col("bcb"))
    ).select("branch")
    ndb = diffb.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_branches_differing")
    )
    probe = leaves.join(F.broadcast(diffb), "branch")
    ldiff = (F.col("xa") != F.col("xb")) | (F.col("ca") != F.col("cb"))
    summary = probe.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_leaves_probed"),
        F.sum(ldiff.cast("long")).cast("bigint").alias("n_leaves_differing"),
        F.sum(F.when(ldiff, F.col("ca")).otherwise(0))
        .cast("bigint")
        .alias("rows_a_to_scan"),
        F.sum(F.when(ldiff, F.col("cb")).otherwise(0))
        .cast("bigint")
        .alias("rows_b_to_scan"),
        F.expr(
            "bit_xor(case when xa != xb or ca != cb then leaf end)"
        ).alias("diff_leaf_xor"),
    )
    return (
        summary.crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(ndb))
        .select(
            "n_branches",
            "n_branches_differing",
            "n_leaves_probed",
            "n_leaves_differing",
            "rows_a_to_scan",
            "rows_b_to_scan",
            "diff_leaf_xor",
        )
    )


@query(
    "orders_bucketed_colocated_join",
    """
    SELECT o.o_orderpriority,
           COUNT(DISTINCT o.o_orderkey) AS n_orders,
           COUNT(*) AS n_lines,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) *
                          (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))), 2)
                AS DOUBLE) AS revenue
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def orders_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shuffle-free repeated join (operators/bucketing): orders and
    lineitem are laid out as same-bucketed catalog tables on orderkey,
    and the join plans as a SortMergeJoin with ZERO Exchange operators
    — the shuffle was paid once at write time and is amortized over
    every subsequent join on the key. The aggregate result is
    hash-checked against the plain-join oracle (the bucketed copies
    hold the same rows, so the answer is layout-invariant by
    construction).

    Scale: THE pattern for nightly fact-fact joins at 100 TB — without
    bucketing every run re-shuffles both sides on orderkey; with it,
    scan→SMJ co-located by the on-disk bucket scheme (plan-guarded in
    tests/test_plans.py with broadcast disabled). The final groupBy is
    the only exchange, over 5 priority rows of partial aggregates."""
    import os
    import tempfile

    from datagouv_tools_spark.operators.bucketing import (
        bucketed_join,
        write_bucketed,
    )

    base = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_bucketed_b8_v1",
        os.path.basename(sf_dir.rstrip("/")),
    )
    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"), "o_orderpriority"
    )
    l = t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), "l_extendedprice", "l_discount"
    )
    write_bucketed(o, "bkt_orders", f"{base}/orders", "okey", n_buckets=8)
    write_bucketed(l, "bkt_lineitem", f"{base}/lineitem", "okey", n_buckets=8)
    j = bucketed_join(spark, "bkt_orders", "bkt_lineitem", "okey")
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.countDistinct("okey").alias("n_orders"),
            F.count(F.lit(1)).alias("n_lines"),
            dround(
                F.sum(
                    dec("l_extendedprice")
                    * (F.lit(1).cast(DEC) - dec("l_discount"))
                ),
                2,
            ).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "lineitem_correlation_matrix",
    """
    WITH m AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sq,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sp,
             CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sd,
             CAST(SUM(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_quantity AS DECIMAL(19,4))) AS DOUBLE) AS sqq,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS spp,
             CAST(SUM(CAST(l_discount AS DECIMAL(19,4)) * CAST(l_discount AS DECIMAL(19,4))) AS DOUBLE) AS sdd,
             CAST(SUM(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS sqp,
             CAST(SUM(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_discount AS DECIMAL(19,4))) AS DOUBLE) AS sqd,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_discount AS DECIMAL(19,4))) AS DOUBLE) AS spd
      FROM lineitem
    )
    SELECT col_x, col_y, CAST(n AS BIGINT) AS n_rows,
           CAST(ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
                / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
                   * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS DOUBLE) AS corr
    FROM (
      SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y,
             n, sq AS sx, sp AS sy, sqp AS sxy, sqq AS sxx, spp AS syy FROM m
      UNION ALL
      SELECT 'l_quantity', 'l_discount', n, sq, sd, sqd, sqq, sdd FROM m
      UNION ALL
      SELECT 'l_extendedprice', 'l_discount', n, sp, sd, spd, spp, sdd FROM m
    )
    ORDER BY col_x, col_y
    """,
)
def lineitem_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations over (quantity, extendedprice,
    discount) — the numeric-profiling primitive behind feature
    selection and anomaly heuristics. Cross-engine exact: every raw
    moment (Σx, Σx², Σxy) is a DECIMAL-exact sum cast to double, and
    the correlation formula is a FIXED parenthesized shape of
    +,*,/,sqrt over those identical doubles, so both engines produce
    the same bits before the final ROUND.

    Scale: ONE scan computing all 9 moments as algebraic aggregates
    (map-side partial merge; no shuffle of data, only of 9 partial
    sums); the 3-pair matrix unpivots from a single moments row."""
    m = t(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("l_quantity")).cast("double").alias("sq"),
        F.sum(dec("l_extendedprice")).cast("double").alias("sp"),
        F.sum(dec("l_discount")).cast("double").alias("sd"),
        F.sum(dec("l_quantity") * dec("l_quantity")).cast("double").alias("sqq"),
        F.sum(dec("l_extendedprice") * dec("l_extendedprice"))
        .cast("double")
        .alias("spp"),
        F.sum(dec("l_discount") * dec("l_discount")).cast("double").alias("sdd"),
        F.sum(dec("l_quantity") * dec("l_extendedprice"))
        .cast("double")
        .alias("sqp"),
        F.sum(dec("l_quantity") * dec("l_discount")).cast("double").alias("sqd"),
        F.sum(dec("l_extendedprice") * dec("l_discount"))
        .cast("double")
        .alias("spd"),
    )
    pairs = [
        ("l_quantity", "l_extendedprice", "sq", "sp", "sqp", "sqq", "spp"),
        ("l_quantity", "l_discount", "sq", "sd", "sqd", "sqq", "sdd"),
        ("l_extendedprice", "l_discount", "sp", "sd", "spd", "spp", "sdd"),
    ]
    rows = None
    for cx, cy, sx, sy, sxy, sxx, syy in pairs:
        nd = F.col("n").cast("double")
        corr = F.round(
            (nd * F.col(sxy) - F.col(sx) * F.col(sy))
            / (
                F.sqrt(nd * F.col(sxx) - F.col(sx) * F.col(sx))
                * F.sqrt(nd * F.col(syy) - F.col(sy) * F.col(sy))
            ),
            6,
        )
        r = m.select(
            F.lit(cx).alias("col_x"),
            F.lit(cy).alias("col_y"),
            F.col("n").cast("bigint").alias("n_rows"),
            corr.alias("corr"),
        )
        rows = r if rows is None else rows.unionByName(r)
    return rows.orderBy("col_x", "col_y")


@query(
    "orders_mv_rewrite",
    """
    SELECT CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS VARCHAR)
             AS month,
           o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2)
                AS DOUBLE) AS total_price
    FROM orders
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def orders_mv_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Summary-table (materialized-view) REWRITE: a daily
    (order_date × priority) rollup MV is built once as parquet, and the
    monthly query is answered by RE-AGGREGATING the MV — the answering
    plan never scans the orders fact table (plan-guarded). Counts and
    decimal partial sums are algebraic, so coarse = merge(fine) exactly;
    the oracle computes the same answer straight from the fact table,
    proving the rewrite answer-invariant.

    Scale: THE classic OLAP lever — the MV is |days × priorities| rows
    regardless of fact cardinality, so the monthly query touches ~10³
    rows instead of 10¹¹; composition with orders_incremental_rollup's
    delta maintenance keeps the MV fresh without fact rescans."""
    import os
    import tempfile

    o = t(spark, sf_dir, "orders")
    base = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_mv_daily_v1",
        os.path.basename(sf_dir.rstrip("/")),
    )
    if not os.path.exists(os.path.join(base, "_SUCCESS")):
        (
            o.groupBy(
                F.col("o_orderdate").cast("date").alias("order_date"),
                "o_orderpriority",
            )
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias(
                    "sum_price"
                ),
            )
            .write.mode("overwrite")
            .parquet(base)
        )
    mv = spark.read.parquet(base)
    return (
        mv.groupBy(
            F.trunc("order_date", "MM").cast("string").alias("month"),
            "o_orderpriority",
        )
        .agg(
            F.sum("n_orders").cast("bigint").alias("n_orders"),
            F.round(F.sum("sum_price"), 2).cast("double").alias(
                "total_price"
            ),
        )
        .orderBy("month", "o_orderpriority")
    )


@query(
    "customer_cohort_ltv",
    """
    WITH firsts AS (
      SELECT o_custkey,
             MIN(CAST(date_trunc('month', o_orderdate) AS DATE)) AS cohort
      FROM orders GROUP BY o_custkey
    )
    SELECT CAST(f.cohort AS VARCHAR) AS cohort_month,
           CAST(date_diff('month', f.cohort,
                CAST(date_trunc('month', o.o_orderdate) AS DATE)) AS BIGINT)
             AS offset_months,
           CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_active,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))), 2)
                AS DOUBLE) AS revenue
    FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
    GROUP BY f.cohort, offset_months
    ORDER BY cohort_month, offset_months
    """,
)
def customer_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value matrix: customers are grouped by
    first-order month, every later order lands in its (cohort ×
    month-offset) cell with distinct-actives, order counts, and
    decimal-exact revenue — the classic retention/LTV triangle that
    drives payback analysis, over the orders fact instead of the
    events-based weekly_retention.

    Scale: one window-free plan — the firsts table is a per-customer
    MIN aggregate (map-side combined) that joins back on the customer
    key; both sides shuffle once on o_custkey, then the cell aggregate
    re-shuffles only (cohort, offset) partials. No per-customer window
    sort, no fact re-scan."""
    o = t(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.min(F.trunc(F.col("o_orderdate").cast("date"), "MM")).alias(
            "cohort"
        )
    )
    j = o.join(firsts, "o_custkey")
    offset = (
        F.months_between(
            F.trunc(F.col("o_orderdate").cast("date"), "MM"), F.col("cohort")
        )
        .cast("bigint")
        .alias("offset_months")
    )
    return (
        j.groupBy(
            F.col("cohort").cast("string").alias("cohort_month"), offset
        )
        .agg(
            F.countDistinct("o_custkey").cast("bigint").alias("n_active"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            dround(F.sum(dec("o_totalprice")), 2).alias("revenue"),
        )
        .orderBy("cohort_month", "offset_months")
    )


@query(
    "supplier_wilson_reliability",
    """
    WITH s AS (
      SELECT l_suppkey,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(*) FILTER (l_returnflag <> 'R') AS BIGINT) AS k
      FROM lineitem GROUP BY l_suppkey
    ),
    w AS (
      SELECT l_suppkey, n, k,
             ((k / n + (1.96 * 1.96) / (2 * n))
              - 1.96 * sqrt(((k / n) * (1 - k / n)
                             + (1.96 * 1.96) / (4 * n)) / n))
             / (1 + (1.96 * 1.96) / n) AS wlow
      FROM s
    )
    SELECT l_suppkey, n, k,
           CAST(ROUND(wlow, 6) AS DOUBLE) AS wilson_low
    FROM w
    ORDER BY wlow DESC, l_suppkey
    LIMIT 20
    """,
)
def supplier_wilson_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking under uncertainty: suppliers ordered by the WILSON score
    lower bound of their non-return rate (z=1.96) — the estimator that
    stops a 3-for-3 newcomer from outranking a 980-for-1000 veteran,
    the standard fix for naive success-rate sort. The bound is a fixed
    parenthesized +,*,/,sqrt shape over exact integer (k, n), so both
    engines produce identical doubles and identical order before the
    display round.

    Scale: one map-side-combined aggregate over the fact (two bigints
    per supplier), then the bound computes on |suppliers| rows and a
    TakeOrdered(20) ships the leaderboard — no second fact pass, no
    window."""
    li = t(spark, sf_dir, "lineitem")
    s = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count(F.when(F.col("l_returnflag") != "R", 1))
        .cast("bigint")
        .alias("k"),
    )
    kn = F.col("k") / F.col("n")
    z2 = F.lit(1.96) * F.lit(1.96)
    nd = F.col("n")
    wlow = (
        (kn + z2 / (2 * nd))
        - F.lit(1.96)
        * F.sqrt((kn * (1 - kn) + z2 / (4 * nd)) / nd)
    ) / (1 + z2 / nd)
    return (
        s.select(
            "l_suppkey",
            "n",
            "k",
            wlow.alias("wlow"),
        )
        .orderBy(F.desc("wlow"), "l_suppkey")
        .limit(20)
        .select(
            "l_suppkey",
            "n",
            "k",
            F.round(F.col("wlow"), 6).cast("double").alias("wilson_low"),
        )
    )


@query(
    "orders_bootstrap_spread",
    """
    WITH reps AS (SELECT unnest([0,1,2,3,4,5,6,7]) AS r),
    sub AS (
      SELECT o.o_orderpriority, r.r,
             CAST(o.o_totalprice AS DECIMAL(18,4)) AS v
      FROM orders o, reps r
      WHERE ('0x' || substr(md5(o.o_orderkey::VARCHAR || ':bs'
                                || r.r::VARCHAR), 1, 15))::BIGINT % 2 = 0
    ),
    rep_means AS (
      SELECT o_orderpriority, r,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mean_v
      FROM sub GROUP BY o_orderpriority, r
    ),
    full_mean AS (
      SELECT o_orderpriority,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               / COUNT(*) AS mean_all
      FROM orders GROUP BY o_orderpriority
    )
    SELECT rm.o_orderpriority,
           CAST(ROUND(MAX(f.mean_all), 4) AS DOUBLE) AS mean_all,
           CAST(ROUND(MIN(rm.mean_v), 4) AS DOUBLE) AS rep_mean_min,
           CAST(ROUND(MAX(rm.mean_v), 4) AS DOUBLE) AS rep_mean_max,
           CAST(MIN(rm.n) AS BIGINT) AS rep_n_min,
           CAST(MAX(rm.n) AS BIGINT) AS rep_n_max
    FROM rep_means rm JOIN full_mean f USING (o_orderpriority)
    GROUP BY rm.o_orderpriority
    ORDER BY rm.o_orderpriority
    """,
)
def orders_bootstrap_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resampling-based UNCERTAINTY: eight deterministic half-sample
    replicas (row r-included iff md5(orderkey‖replica) is even — the
    seeded, engine-portable analog of bootstrap resampling) each
    estimate the mean order value per priority; the replica min/max
    spread brackets the sampling error of the full-data mean. Each
    replica mean is one decimal-exact sum over ~n/2 rows divided once
    (a single IEEE division), so every number crosses engines
    bit-for-bit before the display round.

    Scale: the 8× row replication is map-local (orders × 8 → filter
    drops half) feeding ONE combined aggregation keyed by
    (priority, replica) — 40 cells out regardless of fact size; at
    100 TB you'd fold the replica id into the same map-side combine
    exactly like this."""
    from datagouv_tools_spark.operators.skew import fan_out_narrow_scan

    # 8 md5 evaluations per order row are compute-bound: unblock the
    # single-split-scan case (guide §2.5; no-op on multi-split inputs —
    # measured 1.7 s single-task stage here)
    o = fan_out_narrow_scan(t(spark, sf_dir, "orders"))
    reps = spark.range(8).select(F.col("id").cast("int").alias("r"))
    pick = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("o_orderkey").cast("string"),
                        F.lit(":bs"),
                        F.col("r").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % 2
        == 0
    )
    rep_means = (
        o.crossJoin(F.broadcast(reps))
        .filter(pick)
        .groupBy("o_orderpriority", "r")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            (
                F.sum(dec("o_totalprice")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_v"),
        )
    )
    full_mean = o.groupBy("o_orderpriority").agg(
        (F.sum(dec("o_totalprice")).cast("double") / F.count(F.lit(1))).alias(
            "mean_all"
        )
    )
    return (
        rep_means.join(F.broadcast(full_mean), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.max("mean_all"), 4).cast("double").alias("mean_all"),
            F.round(F.min("mean_v"), 4).cast("double").alias("rep_mean_min"),
            F.round(F.max("mean_v"), 4).cast("double").alias("rep_mean_max"),
            F.min("n").cast("bigint").alias("rep_n_min"),
            F.max("n").cast("bigint").alias("rep_n_max"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "customer_interpurchase_survival",
    """
    WITH mx AS (SELECT MAX(o_orderdate) AS maxd FROM orders),
    seq AS (
      SELECT o_custkey, o_orderdate,
             LEAD(o_orderdate) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS next_date
      FROM orders
    ),
    gaps AS (
      SELECT s.o_custkey,
             CASE WHEN s.next_date IS NULL THEN NULL
                  ELSE date_diff('day', s.o_orderdate, s.next_date)
             END AS gap_days,
             date_diff('day', s.o_orderdate, mx.maxd) AS window_days
      FROM seq s, mx
    )
    SELECT h.h AS horizon_days,
           CAST(COUNT(*) FILTER (window_days >= h.h) AS BIGINT)
             AS n_at_risk,
           CAST(COUNT(*) FILTER (window_days >= h.h
                AND (gap_days IS NULL OR gap_days > h.h)) AS BIGINT)
             AS n_survived,
           CAST(COUNT(*) FILTER (window_days >= h.h
                AND (gap_days IS NULL OR gap_days > h.h)) * 1000
                // COUNT(*) FILTER (window_days >= h.h) AS BIGINT)
             AS survival_mille
    FROM gaps, (SELECT unnest([30, 90, 180, 365]) AS h) h
    GROUP BY h.h
    ORDER BY horizon_days
    """,
)
def customer_interpurchase_survival(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SURVIVAL analysis of repurchase behavior: for each order, does
    another order by the same customer arrive within h days? Orders
    whose observation window (time to the corpus end) is shorter than
    the horizon are EXCLUDED from that horizon's risk set — the
    right-censoring correction that makes the naive repurchase rate
    unbiased; survival at each fixed horizon reduces to exact integer
    counting (the discrete Kaplan-Meier evaluated at h).

    Scale: one keyed window pass (LEAD over customer order sequences),
    a broadcast scalar max date, and four conditional aggregates —
    output is |horizons| rows; no per-customer state survives the
    aggregate."""
    from pyspark.sql.window import Window

    o = t(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_orderdate").alias("maxd"))
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        "o_custkey",
        "o_orderdate",
        F.lead("o_orderdate").over(w).alias("next_date"),
    )
    gaps = seq.crossJoin(F.broadcast(mx)).select(
        F.when(
            F.col("next_date").isNotNull(),
            F.datediff(
                F.col("next_date").cast("date"),
                F.col("o_orderdate").cast("date"),
            ),
        ).alias("gap_days"),
        F.datediff(
            F.col("maxd").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("window_days"),
    )
    hs = spark.sql("SELECT * FROM VALUES (30), (90), (180), (365) AS t(h)")
    at_risk = F.col("window_days") >= F.col("h")
    survived = at_risk & (
        F.col("gap_days").isNull() | (F.col("gap_days") > F.col("h"))
    )
    return (
        gaps.crossJoin(F.broadcast(hs))
        .groupBy(F.col("h").cast("bigint").alias("horizon_days"))
        .agg(
            F.count(F.when(at_risk, 1)).cast("bigint").alias("n_at_risk"),
            F.count(F.when(survived, 1)).cast("bigint").alias("n_survived"),
        )
        .select(
            "horizon_days",
            "n_at_risk",
            "n_survived",
            F.expr(
                "cast(n_survived * 1000 div n_at_risk as bigint)"
            ).alias("survival_mille"),
        )
        .orderBy("horizon_days")
    )


@query(
    "customer_k_anonymity",
    """
    WITH qi AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
             CAST(COUNT(*) AS BIGINT) AS class_size
      FROM customer
      GROUP BY 1, 2, 3
    )
    SELECT k.k AS k,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(COUNT(*) FILTER (class_size < k.k) AS BIGINT)
             AS n_classes_below,
           CAST(COALESCE(SUM(class_size) FILTER (class_size < k.k), 0)
                AS BIGINT) AS n_rows_reidentifiable,
           CAST(MIN(class_size) AS BIGINT) AS k_anonymity_level
    FROM qi, (SELECT unnest([2, 5, 10]) AS k) k
    GROUP BY k.k
    ORDER BY k
    """,
)
def customer_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy AUDIT: k-anonymity of the customer table under the
    quasi-identifier tuple (nation, market segment, account-balance
    band) — equivalence-class sizes, how many classes and rows fall
    below k ∈ {2,5,10}, and the table's actual k-anonymity level
    (the minimum class size — the worst-case re-identification
    exposure). The release gate that pairs with user_erasure_cascade's
    deletion path: one measures who can be singled out, the other
    removes them.

    Scale: one map-side-combined aggregate to class sizes
    (|QI-combinations| rows, data-independent of row count), then a
    3-row threshold sweep over the class table."""
    c = t(spark, sf_dir, "customer")
    qi = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_band"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("class_size"))
    ks = spark.sql("SELECT * FROM VALUES (2), (5), (10) AS t(k)")
    return (
        qi.crossJoin(F.broadcast(ks))
        .groupBy(F.col("k").cast("bigint").alias("k"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_classes"),
            F.count(F.when(F.col("class_size") < F.col("k"), 1))
            .cast("bigint")
            .alias("n_classes_below"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("class_size") < F.col("k"),
                        F.col("class_size"),
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_rows_reidentifiable"),
            F.min("class_size").cast("bigint").alias("k_anonymity_level"),
        )
        .orderBy("k")
    )


_FK_EDGES = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]


def _fk_sweep_oracle() -> str:
    parts = []
    for child, ck, parent, pk in _FK_EDGES:
        parts.append(f"""
    SELECT '{child}.{ck}' AS fk_edge,
           CAST(COUNT(*) AS BIGINT) AS n_child_rows,
           CAST(COUNT(DISTINCT c.{ck}) AS BIGINT) AS n_child_keys,
           CAST(COUNT(*) FILTER (p.{pk} IS NULL) AS BIGINT) AS n_orphans
    FROM {child} c LEFT JOIN {parent} p ON c.{ck} = p.{pk}""")
    return (
        "\n    UNION ALL\n    ".join(parts) + "\n    ORDER BY fk_edge"
    )


@query("fk_integrity_sweep", _fk_sweep_oracle())
def fk_integrity_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-wide REFERENTIAL INTEGRITY sweep: every foreign-key edge
    of the schema (7 edges, fact→dim and dim→dim) audited for orphan
    child rows in one statement — the release gate that catches partial
    loads, late-arriving dimensions, and botched backfills before a
    join silently drops rows.

    Scale: each edge is a parent-keys left-join count; parent key
    sets are SF-scaling (orders keys are fact-grain), so no forced
    broadcast — AQE broadcasts the small parents and shuffles the big
    ones; the two fact edges share the lineitem scan through the
    unioned plan. Orphan counts are exact — this is
    the audit that decides whether a snapshot ships."""
    rows = None
    for child, ck, parent, pk in _FK_EDGES:
        c = t(spark, sf_dir, child)
        p = t(spark, sf_dir, parent).select(F.col(pk))
        joined = c.join(p, c[ck] == p[pk], "left")
        r = joined.agg(
            F.lit(f"{child}.{ck}").alias("fk_edge"),
            F.count(F.lit(1)).cast("bigint").alias("n_child_rows"),
            F.countDistinct(c[ck]).cast("bigint").alias("n_child_keys"),
            F.count(F.when(p[pk].isNull(), 1))
            .cast("bigint")
            .alias("n_orphans"),
        )
        rows = r if rows is None else rows.unionByName(r)
    return rows.orderBy("fk_edge")


@query(
    "nation_revenue_mix_shift",
    """
    WITH y AS (
      SELECT n.n_name AS nation,
             EXTRACT(year FROM o.o_orderdate) AS yr,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS revenue
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE EXTRACT(year FROM o.o_orderdate) IN (1996, 1997)
      GROUP BY 1, 2
    ),
    p AS (
      SELECT a.nation,
             a.n_orders AS n1, b.n_orders AS n2,
             a.revenue AS r1, b.revenue AS r2
      FROM (SELECT * FROM y WHERE yr = 1996) a
      JOIN (SELECT * FROM y WHERE yr = 1997) b USING (nation)
    )
    SELECT nation, n1, n2,
           CAST(ROUND(r2 - r1, 2) AS DOUBLE) AS delta_revenue,
           CAST(ROUND((n2 - n1) * (r1 / n1), 2) AS DOUBLE)
             AS volume_effect,
           CAST(ROUND(n2 * (r2 / n2 - r1 / n1), 2) AS DOUBLE)
             AS price_effect
    FROM p
    ORDER BY nation
    """,
)
def nation_revenue_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth ACCOUNTING: the 1996→1997 revenue change per nation
    decomposed into a volume effect ((n₂−n₁)·avg₁) and a price/mix
    effect (n₂·(avg₂−avg₁)) — the two terms sum to Δrevenue by
    construction, so "we grew because more orders" and "we grew because
    bigger orders" get exact, separately-attributable numbers. Revenues
    are decimal-exact sums cast to double; every effect is a fixed
    +,*,/ shape over those identical doubles.

    Scale: one aggregation over the year-filtered fact (dims
    broadcast), then the decomposition runs on |nations| rows."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    y = (
        o.filter(F.year(F.col("o_orderdate")).isin(1996, 1997))
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year(F.col("o_orderdate")).alias("yr"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(dec("o_totalprice")).cast("double").alias("revenue"),
        )
    )
    a = y.filter(F.col("yr") == 1996).select(
        "nation",
        F.col("n_orders").alias("n1"),
        F.col("revenue").alias("r1"),
    )
    b = y.filter(F.col("yr") == 1997).select(
        "nation",
        F.col("n_orders").alias("n2"),
        F.col("revenue").alias("r2"),
    )
    p = a.join(b, "nation")
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    return p.select(
        "nation",
        "n1",
        "n2",
        F.round(F.col("r2") - F.col("r1"), 2).cast("double").alias(
            "delta_revenue"
        ),
        F.round((n2d - n1d) * (F.col("r1") / n1d), 2)
        .cast("double")
        .alias("volume_effect"),
        F.round(n2d * (F.col("r2") / n2d - F.col("r1") / n1d), 2)
        .cast("double")
        .alias("price_effect"),
    ).orderBy("nation")


@query(
    "part_price_index",
    """
    WITH pq AS (
      SELECT l_partkey,
             EXTRACT(year FROM l_shipdate) AS yr,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
               AS spend,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty
      FROM lineitem
      WHERE EXTRACT(year FROM l_shipdate) IN (1996, 1997)
      GROUP BY 1, 2
    ),
    both_ AS (
      SELECT a.l_partkey,
             a.spend / a.qty AS p1, a.qty AS q1,
             b.spend / b.qty AS p2, b.qty AS q2
      FROM (SELECT * FROM pq WHERE yr = 1996) a
      JOIN (SELECT * FROM pq WHERE yr = 1997) b USING (l_partkey)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_common_parts,
           CAST(ROUND(CAST(SUM(CAST(p2 * q1 AS DECIMAL(28,8))) AS DOUBLE)
                / CAST(SUM(CAST(p1 * q1 AS DECIMAL(28,8))) AS DOUBLE)
                * 1000, 3) AS DOUBLE) AS laspeyres_mille,
           CAST(ROUND(CAST(SUM(CAST(p2 * q2 AS DECIMAL(28,8))) AS DOUBLE)
                / CAST(SUM(CAST(p1 * q2 AS DECIMAL(28,8))) AS DOUBLE)
                * 1000, 3) AS DOUBLE) AS paasche_mille,
           CAST(ROUND(sqrt((CAST(SUM(CAST(p2 * q1 AS DECIMAL(28,8))) AS DOUBLE)
                            / CAST(SUM(CAST(p1 * q1 AS DECIMAL(28,8))) AS DOUBLE))
                           * (CAST(SUM(CAST(p2 * q2 AS DECIMAL(28,8))) AS DOUBLE)
                              / CAST(SUM(CAST(p1 * q2 AS DECIMAL(28,8))) AS DOUBLE)))
                * 1000, 3) AS DOUBLE) AS fisher_mille
    FROM both_
    """,
)
def part_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INDEX NUMBERS: the Laspeyres (base-year basket), Paasche
    (current basket), and Fisher (geometric mean) price indexes for
    1996→1997 over parts traded in both years — the econ/BI metric
    family behind inflation and price-realization dashboards. Unit
    prices derive from decimal-exact spend/quantity sums; the index
    ratios are fixed +,*,/,sqrt shapes.

    Scale: one aggregation over the year-filtered fact to per-part
    (spend, qty), a self-join on the part key (both sides already
    aggregated — dimension-sized), and a scalar reduce. The p·q terms
    quantize to DECIMAL(28,8) before summing, so the basket sums are
    order-free exact on both engines — the only doubles are the pinned
    per-part unit-price divisions and the final ratio shape."""
    li = t(spark, sf_dir, "lineitem")
    pq = (
        li.filter(F.year("l_shipdate").isin(1996, 1997))
        .groupBy("l_partkey", F.year("l_shipdate").alias("yr"))
        .agg(
            F.sum(dec("l_extendedprice")).cast("double").alias("spend"),
            F.sum(dec("l_quantity")).cast("double").alias("qty"),
        )
    )
    a = pq.filter(F.col("yr") == 1996).select(
        "l_partkey",
        (F.col("spend") / F.col("qty")).alias("p1"),
        F.col("qty").alias("q1"),
    )
    b = pq.filter(F.col("yr") == 1997).select(
        "l_partkey",
        (F.col("spend") / F.col("qty")).alias("p2"),
        F.col("qty").alias("q2"),
    )
    j = a.join(b, "l_partkey")
    lasp = F.sum(
        (F.col("p2") * F.col("q1")).cast("decimal(28,8)")
    ).cast("double") / F.sum(
        (F.col("p1") * F.col("q1")).cast("decimal(28,8)")
    ).cast("double")
    paas = F.sum(
        (F.col("p2") * F.col("q2")).cast("decimal(28,8)")
    ).cast("double") / F.sum(
        (F.col("p1") * F.col("q2")).cast("decimal(28,8)")
    ).cast("double")
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common_parts"),
        F.round(lasp * 1000, 3).cast("double").alias("laspeyres_mille"),
        F.round(paas * 1000, 3).cast("double").alias("paasche_mille"),
        F.round(F.sqrt(lasp * paas) * 1000, 3)
        .cast("double")
        .alias("fisher_mille"),
    )


@query(
    "nation_revenue_concentration",
    """
    WITH r AS (
      SELECT n.n_name AS nation, o.o_custkey,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    ),
    w AS (
      SELECT nation, rev,
             ROW_NUMBER() OVER (PARTITION BY nation
                                ORDER BY rev, o_custkey) AS i,
             COUNT(*) OVER (PARTITION BY nation) AS n
      FROM r
    )
    SELECT nation,
           CAST(MAX(n) AS BIGINT) AS n_customers,
           CAST(ROUND(SUM(rev), 2) AS DOUBLE) AS total_revenue,
           CAST(ROUND(CAST(SUM((2 * i - n - 1) * rev) AS DOUBLE)
                / (MAX(n) * CAST(SUM(rev) AS DOUBLE)), 6) AS DOUBLE)
             AS gini,
           CAST(ROUND(CAST(SUM(CAST(rev AS DECIMAL(19,4))
                               * CAST(rev AS DECIMAL(19,4))) AS DOUBLE)
                / (CAST(SUM(rev) AS DOUBLE) * CAST(SUM(rev) AS DOUBLE)),
                6) AS DOUBLE) AS hhi
    FROM w
    GROUP BY nation
    ORDER BY nation
    """,
)
def nation_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONCENTRATION metrics per market: the Gini coefficient
    (Σ(2i−n−1)·rᵢ over rank-sorted customer revenues — inequality of
    the revenue distribution) and the Herfindahl-Hirschman index
    (Σ shareᵢ² — few-big-accounts risk), both per nation. Every sum is
    decimal-exact (rank-weighted revenue products, squared revenues);
    only the final normalizing divisions are doubles in fixed shapes —
    so the metrics cross engines bit-for-bit.

    Scale: one fact aggregation to per-customer revenue, one keyed
    window for ranks (same nation partitioning reused by the final
    aggregate), output |nations| rows. The audit that tells a revenue
    team whether growth is broad or one whale."""
    from pyspark.sql.window import Window

    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"), "o_custkey")
        .agg(F.sum(dec("o_totalprice")).alias("rev"))
    )
    w = Window.partitionBy("nation").orderBy("rev", "o_custkey")
    wn = Window.partitionBy("nation")
    g = r.select(
        "nation",
        "rev",
        F.row_number().over(w).cast("bigint").alias("i"),
        F.count(F.lit(1)).over(wn).cast("bigint").alias("n"),
    )
    return (
        g.groupBy("nation")
        .agg(
            F.max("n").cast("bigint").alias("n_customers"),
            F.round(F.sum("rev"), 2).cast("double").alias("total_revenue"),
            F.round(
                F.sum(
                    (2 * F.col("i") - F.col("n") - 1) * F.col("rev")
                ).cast("double")
                / (
                    F.max("n").cast("double")
                    * F.sum("rev").cast("double")
                ),
                6,
            )
            .cast("double")
            .alias("gini"),
            F.round(
                F.sum(
                    F.col("rev").cast("decimal(19,4)")
                    * F.col("rev").cast("decimal(19,4)")
                ).cast("double")
                / (
                    F.sum("rev").cast("double")
                    * F.sum("rev").cast("double")
                ),
                6,
            )
            .cast("double")
            .alias("hhi"),
        )
        .orderBy("nation")
    )


@query(
    "lineitem_return_pchart",
    """
    WITH m AS (
      SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS mon,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(*) FILTER (l_returnflag = 'R') AS BIGINT) AS k
      FROM lineitem GROUP BY 1
    ),
    g AS (
      SELECT CAST(SUM(k) AS DOUBLE) / SUM(n) AS pbar FROM m
    )
    SELECT CAST(mon AS VARCHAR) AS month, n, k,
           CAST(ROUND(CAST(k AS DOUBLE) / n, 6) AS DOUBLE) AS p,
           CAST(ROUND(g.pbar + 3 * sqrt(g.pbar * (1 - g.pbar) / n), 6)
                AS DOUBLE) AS ucl,
           CAST(ROUND(g.pbar - 3 * sqrt(g.pbar * (1 - g.pbar) / n), 6)
                AS DOUBLE) AS lcl,
           CASE WHEN CAST(k AS DOUBLE) / n
                     > g.pbar + 3 * sqrt(g.pbar * (1 - g.pbar) / n)
                  OR CAST(k AS DOUBLE) / n
                     < g.pbar - 3 * sqrt(g.pbar * (1 - g.pbar) / n)
                THEN 1 ELSE 0 END AS out_of_control
    FROM m, g
    ORDER BY month
    """,
)
def lineitem_return_pchart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical process control: the p-CHART of monthly return
    proportions — each month's return rate against ±3σ binomial
    control limits around the grand rate, with the out-of-control flag
    that pages a supply-chain owner. All rates and limits are fixed
    +,*,/,sqrt shapes over exact integer counts, so flags match
    bit-for-bit cross-engine.

    Scale: one map-side-combined aggregate to (month, n, k), a
    broadcast scalar grand rate, |months| output rows."""
    li = t(spark, sf_dir, "lineitem")
    m = li.groupBy(
        F.trunc(F.col("l_shipdate").cast("date"), "MM").alias("mon")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count(F.when(F.col("l_returnflag") == "R", 1))
        .cast("bigint")
        .alias("k"),
    )
    g = m.agg(
        (F.sum("k").cast("double") / F.sum("n")).alias("pbar")
    )
    nd = F.col("n").cast("double")
    p = F.col("k").cast("double") / F.col("n")
    sig = F.sqrt(F.col("pbar") * (1 - F.col("pbar")) / nd)
    return (
        m.crossJoin(F.broadcast(g))
        .select(
            F.col("mon").cast("string").alias("month"),
            "n",
            "k",
            F.round(p, 6).cast("double").alias("p"),
            F.round(F.col("pbar") + 3 * sig, 6).cast("double").alias("ucl"),
            F.round(F.col("pbar") - 3 * sig, 6).cast("double").alias("lcl"),
            F.when(
                (p > F.col("pbar") + 3 * sig)
                | (p < F.col("pbar") - 3 * sig),
                1,
            )
            .otherwise(0)
            .cast("int")
            .alias("out_of_control"),
        )
        .orderBy("month")
    )
