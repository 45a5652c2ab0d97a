"""Relational operator plans (SURVEY §2.2-§2.8) over the TPC-H-ish tables.

Each query demonstrates one or more inventory operators:

- q01  A1 group-by agg + P5 filter + scalar arithmetic  (TPC-H Q1 shape)
- q02  J1 multi-way inner join tree with broadcast dims
- q03  J5 join + top-k ordering (O1)
- q04  J4 left-join enrichment + null-handling aggregates
- q05  J5 inner join on differently-named keys
- q06  P5 range predicates, pushed to the parquet scan
- q07  A4 distinct
- q08  U1 union-all + re-aggregation
- q09  J2/J6 cross-join scaffold completion with left join + coalesce
- q10  P-family CASE WHEN bucketing + conditional aggregation
- q11  A2 exact grouped quantiles (q1/q3/IQR)
- q12  J3 full-outer recombine with key coalesce
- q13  anti-join (driver-side set-difference analog done data-plane)
- q14  J1 + conditional aggregate ratio (promo share)

Reference parity notes are cited per query; all aggregates use the
decimal-sum discipline from ``pm25ml_spark.functions.exact`` so values are
bit-identical to the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pm25ml_spark.catalog import load_table
from pm25ml_spark.functions.exact import davg, davg_expr, dsum, dsum_expr
from pm25ml_spark.plans.registry import query


# --------------------------------------------------------------------------
# q01 — pricing summary (A1 hash agg with partial/final; filter pushdown P5).
# Reference analog: collectors/pm25/pm25_pipeline.py:64-70 (group-by mean).
@query(
    "q01_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_expr('l_quantity')} AS sum_qty,
           {dsum_expr('l_extendedprice')} AS sum_base_price,
           {dsum_expr('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {dsum_expr('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {davg_expr('l_quantity')} AS avg_qty,
           {davg_expr('l_extendedprice')} AS avg_price,
           {davg_expr('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# q02 — multi-way inner join tree (J1). The dims (nation, region) are tiny →
# broadcast, exactly like the reference's 33k-row grid table
# (combiners/archive/combiner.py:133-179 joins; SURVEY J1/J4 broadcast note).
@query(
    "q02_region_revenue",
    f"""
    SELECT r_name,
           COUNT(*) AS n_orders,
           {dsum_expr('o_totalprice')} AS total_revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def q02_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_revenue"),
        )
    )


# --------------------------------------------------------------------------
# q03 — shipping-priority top-k (O1 ordered output + limit).
@query(
    "q03_top_revenue_orders",
    f"""
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           {dsum_expr('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM orders
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q03_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")
    cutoff = F.lit("1998-03-15").cast("timestamp")
    return (
        orders.join(li, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .filter(
            (F.col("c_mktsegment") == "BUILDING")
            & (F.col("o_orderdate") < cutoff)
            & (F.col("l_shipdate") > cutoff)
        )
        .groupBy("o_orderkey", "o_orderdate")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# q04 — left-join enrichment (J4) incl. customers with no orders; the
# reference's scaffold-left-join-coalesce shape (pm25_pipeline.py:160-164).
@query(
    "q04_customer_order_profile",
    f"""
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           COUNT(*) FILTER (WHERE n_orders = 0) AS n_inactive,
           CAST(SUM(n_orders) AS BIGINT) AS total_orders,
           {dsum_expr('total_spend')} AS segment_spend
    FROM (
        SELECT c.c_custkey, c.c_mktsegment,
               COALESCE(o.n_orders, 0) AS n_orders,
               COALESCE(o.total_spend, 0.0) AS total_spend
        FROM customer c
        LEFT JOIN (
            SELECT o_custkey, COUNT(*) AS n_orders,
                   {dsum_expr('o_totalprice')} AS total_spend
            FROM orders GROUP BY o_custkey
        ) o ON c.c_custkey = o.o_custkey
    )
    GROUP BY c_mktsegment
    """,
)
def q04_customer_order_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("total_spend"),
    )
    enriched = customer.join(
        per_cust, customer.c_custkey == per_cust.o_custkey, "left"
    ).select(
        "c_mktsegment",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("total_spend", F.lit(0.0)).alias("total_spend"),
    )
    return enriched.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.count_if(F.col("n_orders") == 0).alias("n_inactive"),
        F.sum("n_orders").alias("total_orders"),
        dsum("total_spend").alias("segment_spend"),
    )


# --------------------------------------------------------------------------
# q05 — inner join on differently-named keys (J5:
# pm25_pipeline.py:100-107 measurements ⋈ station map).
@query(
    "q05_supplier_by_region",
    f"""
    SELECT r_name,
           COUNT(*) AS n_suppliers,
           {davg_expr('s_acctbal')} AS avg_acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def q05_supplier_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            davg("s_acctbal").alias("avg_acctbal"),
        )
    )


# --------------------------------------------------------------------------
# q06 — pure range-predicate scan (P5); every predicate reaches the parquet
# reader as a pushed filter (verify via .explain → PushedFilters).
@query(
    "q06_forecast_revenue",
    f"""
    SELECT {dsum_expr('l_extendedprice * l_discount')} AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        ).agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# --------------------------------------------------------------------------
# q07 — distinct (A4: ned_export_pipeline.py:237 unique grid_ids).
@query(
    "q07_distinct_flag_status",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def q07_distinct_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct()


# --------------------------------------------------------------------------
# q08 — union-all + re-aggregate (U1: ned_export_pipeline.py:218 concat).
@query(
    "q08_union_priority",
    f"""
    SELECT src, COUNT(*) AS n, {dsum_expr('o_totalprice')} AS total
    FROM (
        SELECT 'high_value' AS src, o_totalprice FROM orders WHERE o_totalprice > 300000
        UNION ALL
        SELECT 'urgent' AS src, o_totalprice FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    GROUP BY src
    """,
)
def q08_union_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    high = orders.filter(F.col("o_totalprice") > 300000).select(
        F.lit("high_value").alias("src"), "o_totalprice"
    )
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.lit("urgent").alias("src"), "o_totalprice"
    )
    return (
        high.unionByName(urgent)
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice").alias("total"))
    )


# --------------------------------------------------------------------------
# q09 — scaffold completion (J2/J6): full user × day cartesian index built
# with sequence+explode (the Spark spelling of pl.date_range — J6,
# pm25_pipeline.py:140-158), left-joined with observed aggregates, nulls
# coalesced to zero. Exactly the reference's full-outer-coalesce scaffold.
@query(
    "q09_user_day_scaffold",
    f"""
    WITH bounds AS (
        SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1 FROM events
    ),
    days AS (
        SELECT CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        FROM bounds
    ),
    users AS (SELECT DISTINCT user_id FROM events),
    agg AS (
        SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n,
               {dsum_expr('value')} AS total
        FROM events GROUP BY 1, 2
    )
    SELECT u.user_id,
           strftime(d.day, '%Y-%m-%d') AS day,
           COALESCE(a.n, 0) AS n_events,
           COALESCE(a.total, 0.0) AS total_value
    FROM users u
    CROSS JOIN days d
    LEFT JOIN agg a ON a.user_id = u.user_id AND a.day = d.day
    """,
)
def q09_user_day_scaffold(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    days = (
        ev.agg(
            F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
        )
        .select(F.explode(F.sequence("d0", "d1")).alias("day"))
    )
    users = ev.select("user_id").distinct()
    agg = (
        ev.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("total"))
    )
    scaffold = users.crossJoin(F.broadcast(days))
    return (
        scaffold.join(agg, ["user_id", "day"], "left")
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("n", F.lit(0)).alias("n_events"),
            F.coalesce("total", F.lit(0.0)).alias("total_value"),
        )
    )


# --------------------------------------------------------------------------
# q10 — CASE WHEN bucketing (when/then/otherwise family, §2.8 Conditional).
@query(
    "q10_order_value_buckets",
    f"""
    SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                WHEN o_totalprice < 150000 THEN 'medium'
                WHEN o_totalprice < 300000 THEN 'large'
                ELSE 'jumbo' END AS bucket,
           o_orderstatus,
           COUNT(*) AS n,
           {davg_expr('o_totalprice')} AS avg_price
    FROM orders
    GROUP BY bucket, o_orderstatus
    """,
)
def q10_order_value_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 150000, "medium")
        .when(F.col("o_totalprice") < 300000, "large")
        .otherwise("jumbo")
    )
    return (
        orders.withColumn("bucket", bucket)
        .groupBy("bucket", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), davg("o_totalprice").alias("avg_price"))
    )


# --------------------------------------------------------------------------
# q11 — grouped exact quantiles + IQR (A2: pm25/data_source.py:62-76
# station q1/q3/IQR). Exact `percentile` (linear interpolation) matches
# DuckDB's quantile_cont; rounded to 4dp to absorb interpolation-arithmetic
# ulp differences.
@query(
    "q11_quantity_iqr",
    """
    SELECT l_returnflag,
           ROUND(quantile_cont(l_quantity, 0.25), 4) AS q1,
           ROUND(quantile_cont(l_quantity, 0.75), 4) AS q3,
           ROUND(quantile_cont(l_quantity, 0.75) - quantile_cont(l_quantity, 0.25), 4) AS iqr
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q11_quantity_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.25)"), 4).alias("q1"),
        F.round(F.expr("percentile(l_quantity, 0.75)"), 4).alias("q3"),
        F.round(
            F.expr("percentile(l_quantity, 0.75) - percentile(l_quantity, 0.25)"), 4
        ).alias("iqr"),
    )


# --------------------------------------------------------------------------
# q12 — full-outer recombine with key coalesce (J3:
# combiners/recombiner/recombiner.py:143-178).
@query(
    "q12_nation_counts_recombine",
    """
    SELECT COALESCE(c.nk, s.nk) AS nationkey,
           COALESCE(c.n_customers, 0) AS n_customers,
           COALESCE(s.n_suppliers, 0) AS n_suppliers
    FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_customers FROM customer GROUP BY 1) c
    FULL OUTER JOIN
         (SELECT s_nationkey AS nk, COUNT(*) AS n_suppliers FROM supplier GROUP BY 1) s
    ON c.nk = s.nk
    """,
)
def q12_nation_counts_recombine(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    c = customer.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    s = supplier.groupBy(F.col("s_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).alias("n_suppliers")
    )
    return (
        c.join(s, "nk", "outer")
        .select(
            F.col("nk").alias("nationkey"),
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
    )


# --------------------------------------------------------------------------
# q13 — anti join: customers with no orders. The reference only does set
# difference driver-side (spatial_imputation_manager.py:206-215); here it is
# a data-plane LEFT ANTI join, which distributes.
@query(
    "q13_inactive_customers",
    """
    SELECT c_nationkey, COUNT(*) AS n_inactive
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_nationkey
    """,
)
def q13_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(
            orders, customer.c_custkey == orders.o_custkey, "left_anti"
        )
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_inactive"))
    )


# --------------------------------------------------------------------------
# q14 — conditional-aggregate ratio (promo revenue share; TPC-H Q14 shape).
@query(
    "q14_promo_share",
    f"""
    SELECT {dsum_expr("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")} AS promo_revenue,
           {dsum_expr('l_extendedprice * (1 - l_discount)')} AS total_revenue,
           {dsum_expr("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")}
             / {dsum_expr('l_extendedprice * (1 - l_discount)')} AS promo_ratio
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-07-01'
    """,
)
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc_price).otherwise(0.0)
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
        )
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            dsum(promo).alias("promo_revenue"),
            dsum(disc_price).alias("total_revenue"),
            (dsum(promo) / dsum(disc_price)).alias("promo_ratio"),
        )
    )


# --------------------------------------------------------------------------
# q15 — JSON/struct extraction (SURVEY §2.8 struct parse: the reference
# parses station `coordinates` strings into a struct then flattens —
# pm25/data_source.py:99-113). Here: parse the events `props` JSON with a
# declared schema, bucket the extracted field, aggregate. from_json runs
# JVM-side inside codegen — no Python in the parse path.
@query(
    "q15_props_extract",
    f"""
    SELECT CAST(floor(CAST(json_extract_string(props, '$.k') AS BIGINT) / 10.0) AS BIGINT) AS k_bucket,
           COUNT(*) AS n,
           {dsum_expr('value')} AS total_value
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def q15_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k long").getField("k")
    return (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.floor(k / 10).alias("k_bucket"), "value")
        .groupBy("k_bucket")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("total_value"))
    )


# --------------------------------------------------------------------------
# q16 — hierarchical ROLLUP aggregate (region → nation → grand total).
# Beyond the reference's flat group-bys: one shuffle produces every level
# of the hierarchy (Spark expands grouping sets map-side). NULL group
# labels are coalesced to 'ALL' so the hash compare is unambiguous.
@query(
    "q16_rollup_revenue",
    f"""
    SELECT COALESCE(r_name, 'ALL') AS region,
           COALESCE(n_name, 'ALL') AS nation,
           COUNT(*) AS n_customers,
           {dsum_expr('c_acctbal')} AS total_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def q16_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal").alias("total_acctbal"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            "n_customers",
            "total_acctbal",
        )
    )


# --------------------------------------------------------------------------
# q17 — left-semi join (EXISTS): customers with ≥1 1997 order; the probe
# side never materializes order columns (complements q13's anti join).
@query(
    "q17_active_customers_semi",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
    )
    """,
)
def q17_active_customers_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


# --------------------------------------------------------------------------
# q18 — statistical aggregates: Pearson correlation + sample covariance of
# quantity vs extended price per return flag. Single-pass map-side-
# combinable moments; 6-dp rounding absorbs summation-order float drift.
@query(
    "q18_price_qty_corr",
    """
    SELECT l_returnflag,
           ROUND(corr(l_quantity, l_extendedprice), 6) AS qp_corr,
           ROUND(covar_samp(l_quantity, l_extendedprice), 2) AS qp_covar,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q18_price_qty_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qp_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("qp_covar"),
        F.count(F.lit(1)).alias("n"),
    )


# --------------------------------------------------------------------------
# q19 — PIVOT: per-user event counts spread into one column per event
# type (the relational face of the K4 wide pivot). Spark pivot() with
# explicit values keeps the plan static; the oracle spells the CASE sums.
@query(
    "q19_pivot_event_types",
    """
    SELECT user_id,
           COUNT(*) FILTER (event_type = 'click') AS n_click,
           COUNT(*) FILTER (event_type = 'view') AS n_view,
           COUNT(*) FILTER (event_type = 'purchase') AS n_purchase,
           COUNT(*) FILTER (event_type = 'error') AS n_error
    FROM events GROUP BY user_id
    """,
)
def q19_pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pivoted = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "error"])
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}")
            for t in ("click", "view", "purchase", "error")
        ],
    )


# --------------------------------------------------------------------------
# q20 — UNPIVOT (wide → long): part metrics melted into (metric, value)
# rows via stack(); the inverse of q19's pivot.
@query(
    "q20_unpivot_metrics",
    """
    SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS value FROM part
    UNION ALL
    SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
    """,
)
def q20_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.expr(
            "stack(2, 'retailprice', p_retailprice, "
            "'size', CAST(p_size AS DOUBLE)) AS (metric, value)"
        ),
    )


# --------------------------------------------------------------------------
# q21 — CUBE aggregate: every grouping-set combination of (returnflag,
# linestatus) in ONE shuffle (Spark expands the sets map-side, same as
# q16's ROLLUP but with the cross-dimensional subtotals too). NULL group
# labels coalesced to 'ALL' so the hash compare is unambiguous.
@query(
    "q21_cube_revenue",
    f"""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           COUNT(*) AS n,
           {dsum_expr('l_extendedprice')} AS total_price
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q21_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("l_extendedprice").alias("total_price"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
            "total_price",
        )
    )


# --------------------------------------------------------------------------
# a03 — engine-portable stratified sample (A3): md5-ordered rank split
# whose MEMBERSHIP (not just counts) the oracle recomputes bit-for-bit —
# the strongest correctness statement a seeded sampler can make.
@query(
    "a03_stratified_split",
    """
    WITH ranked AS (
        SELECT o_orderkey, o_orderpriority,
               ROW_NUMBER() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY md5('42:' || CAST(o_orderkey AS VARCHAR)),
                            o_orderkey) AS rn,
               COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM orders
    )
    SELECT o_orderpriority,
           CASE WHEN rn <= CEIL(n * 0.2) THEN 'training' ELSE 'test' END
             AS split,
           COUNT(*) AS n_rows,
           MIN(o_orderkey) AS min_key,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM ranked
    GROUP BY 1, 2
    """,
)
def a03_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.operators.sampling import stratified_split_portable

    orders = load_table(spark, sf_dir, "orders")
    split = stratified_split_portable(
        orders, "o_orderpriority", 0.2, key="o_orderkey", seed=42
    )
    return split.groupBy("o_orderpriority", "split").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("o_orderkey").alias("min_key"),
        F.sum("o_orderkey").alias("key_sum"),
    )


# --------------------------------------------------------------------------
# a04 — weighted sampling without replacement (Efraimidis-Spirakis A-ES):
# sample 100 documents with inclusion probability proportional to token
# count — the length-weighted corpus-sampling primitive of a training-data
# mix. Deterministic hash-derived uniforms make even the "random" sample
# oracle-checkable; the plan's two-level salt-lane top-k means no
# single-reducer sort ever sees the full corpus.
_ES_K = 100


@query(
    "a04_weighted_sample",
    f"""
    WITH keyed AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               ROUND(ln((('0x' || substr(md5('es:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                         % 1000000 + 0.5) / 1000000.0)
                     / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS es_key
        FROM documents
        WHERE len(string_split(text, ' ')) > 0
    )
    SELECT doc_id, n_tokens, es_key, rk FROM (
        SELECT doc_id, n_tokens, es_key,
               row_number() OVER (ORDER BY es_key DESC, doc_id) AS rk
        FROM keyed)
    WHERE rk <= {_ES_K}
    """,
)
def a04_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.operators.sampling import weighted_sample_topk

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    return weighted_sample_topk(d, "doc_id", "n_tokens", _ES_K).select(
        "doc_id", "n_tokens", "es_key", "rk"
    )


# --------------------------------------------------------------------------
# a05 — temperature-scaled mixture sampling (the T5/PaLM data-mixing
# rule): source s is sampled proportionally to size^(1/T), T = 2 — rare
# sources UP-weighted relative to their natural share. Deterministic
# per-doc hash draws make the "random" subsample oracle-checkable. The
# plan is two tiny aggregates (per-source sizes → rates, broadcast) and
# one stateless filter over the corpus — no shuffle of the corpus at all
# beyond the size count.
_MIX_T = 2.0
_MIX_TARGET = 0.5  # sample half the corpus overall


@query(
    "a05_temperature_mixture",
    f"""
    WITH sizes AS (
        SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    ),
    z AS (
        SELECT SUM(POW(CAST(n_docs AS DOUBLE), {1.0 / _MIX_T!r})) AS z,
               SUM(n_docs) AS n_total
        FROM sizes
    ),
    rates AS (
        SELECT source, n_docs,
               ROUND(LEAST(
                   POW(CAST(n_docs AS DOUBLE), {1.0 / _MIX_T!r}) / z
                     * {_MIX_TARGET!r} * n_total / n_docs,
                   1.0), 6) AS keep_rate
        FROM sizes CROSS JOIN z
    ),
    drawn AS (
        SELECT d.source, r.n_docs, r.keep_rate,
               CASE WHEN (('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
                          % 1000000 + 0.5) / 1000000.0 < r.keep_rate
                    THEN 1 ELSE 0 END AS kept
        FROM documents d JOIN rates r ON d.source = r.source
    )
    SELECT source,
           CAST(MAX(n_docs) AS BIGINT) AS n_docs,
           MAX(keep_rate) AS keep_rate,
           CAST(SUM(kept) AS BIGINT) AS n_sampled
    FROM drawn
    GROUP BY source
    """,
)
def a05_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.functions.columns import md5_long

    docs = load_table(spark, sf_dir, "documents")
    sizes = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    inv_t = 1.0 / _MIX_T
    z = sizes.agg(
        F.sum(F.pow(F.col("n_docs").cast("double"), inv_t)).alias("z"),
        F.sum("n_docs").alias("n_total"),
    )
    rates = sizes.crossJoin(F.broadcast(z)).select(
        "source",
        "n_docs",
        F.round(
            F.least(
                F.pow(F.col("n_docs").cast("double"), inv_t)
                / F.col("z")
                * _MIX_TARGET
                * F.col("n_total")
                / F.col("n_docs"),
                F.lit(1.0),
            ),
            6,
        ).alias("keep_rate"),
    )
    u = (
        md5_long(F.concat_ws(":", F.lit("mix"), F.col("doc_id")))
        % 1_000_000
        + 0.5
    ) / 1_000_000.0
    drawn = docs.select("doc_id", "source", u.alias("u")).join(
        F.broadcast(rates), "source"
    )
    kept = F.when(F.col("u") < F.col("keep_rate"), 1).otherwise(0)
    return drawn.groupBy("source").agg(
        F.max("n_docs").cast("bigint").alias("n_docs"),
        F.max("keep_rate").alias("keep_rate"),
        F.sum(kept).cast("bigint").alias("n_sampled"),
    )


# --------------------------------------------------------------------------
# a06 — exact distributed quantiles (order statistics without a global
# sort): the p-quantiles of lineitem extended price at rank
# max(1, ceil(p*n)). approxQuantile gives an error band; this plan gives
# the EXACT value via row-pure range buckets (operators/quantiles.py):
# one bucket-count job locates which bucket holds each requested rank,
# a second job sorts ONLY the rank-containing buckets. Task memory is
# one bucket, never the frame.
_Q_PS = [0.01, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0]


@query(
    "a06_exact_quantiles",
    f"""
    WITH v AS (
        SELECT l_extendedprice AS value FROM lineitem
        WHERE l_extendedprice IS NOT NULL
    ),
    nn AS (SELECT COUNT(*) AS n FROM v),
    r AS (SELECT value, row_number() OVER (ORDER BY value) AS rn FROM v)
    SELECT CAST(p AS DOUBLE) AS p, value
    FROM (VALUES {", ".join(f"({p!r})" for p in _Q_PS)}) AS ps(p)
    CROSS JOIN nn
    JOIN r ON r.rn = LEAST(GREATEST(1, CAST(CEIL(p * n) AS BIGINT)), n)
    """,
)
def a06_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.operators.quantiles import exact_quantiles

    li = load_table(spark, sf_dir, "lineitem")
    return exact_quantiles(li, "l_extendedprice", _Q_PS)


# --------------------------------------------------------------------------
# a07 — capped stratified rebalance: at most k documents per source, the
# "cap the over-represented domain" move of a training-data mixture.
# Membership is the k hash-FIRST docs per source (portable 60-bit md5
# order), so the "random" cap is oracle-checkable. The plan never funnels
# a whole stratum through one task: per-(source, lane) top-k windows
# first, then the true per-source top-k over <= k * 32 survivors — the
# global_topk two-level prune applied per stratum.
_CAP_K = 40


@query(
    "a07_capped_rebalance",
    f"""
    WITH keyed AS (
        SELECT source, doc_id,
               ('0x' || substr(md5('cap:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
        FROM documents
    )
    SELECT source, doc_id, rk FROM (
        SELECT source, doc_id,
               row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk
        FROM keyed)
    WHERE rk <= {_CAP_K}
    """,
)
def a07_capped_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.operators.sampling import stratified_cap_k

    docs = load_table(spark, sf_dir, "documents").select("source", "doc_id")
    return stratified_cap_k(docs, "source", "doc_id", _CAP_K).select(
        "source", "doc_id", "rk"
    )


# --------------------------------------------------------------------------
# a08 — per-group higher moments (mean/variance/skewness/kurtosis) from
# exact decimal power sums: the method-of-moments distribution profile a
# data-quality sweep runs over every numeric column. One hash aggregate,
# map-side combinable, |groups| shuffle rows at any scale; decimal sums
# make the statistics split-invariant (headroom: DECIMAL(38,6) holds
# Σ quantity⁴ up to ~10^26 rows at TPC-H quantity magnitudes).
from pm25ml_spark.ml.linreg import group_moments, moments_sql  # noqa: E402


@query(
    "a08_group_moments",
    moments_sql("l_quantity", ["l_returnflag"], "lineitem"),
)
def a08_group_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return group_moments(li, "l_quantity", ["l_returnflag"])


# --------------------------------------------------------------------------
# q22 — TPC-H Q22 shape (global-scalar subquery + anti join): customers
# in three market segments whose balance beats the positive-balance
# average of those segments AND who never ordered. The scalar average is
# a 1-row aggregate cross-joined in (broadcast — no shuffle); the
# "never ordered" test is a left-anti join keyed on custkey; the final
# rollup is one small hash aggregate. (The testdata customer table has
# no c_phone, so market segment stands in for Q22's country code —
# the operator composition is identical.)
_Q22_SEGS = ("BUILDING", "MACHINERY", "FURNITURE")


@query(
    "q22_sales_opportunity",
    f"""
    WITH seg AS (
        SELECT * FROM customer
        WHERE c_mktsegment IN {_Q22_SEGS!r}
    ),
    threshold AS (
        SELECT {davg_expr("c_acctbal")} AS avg_bal
        FROM seg WHERE c_acctbal > 0.0
    )
    SELECT c_mktsegment, COUNT(*) AS numcust,
           {dsum_expr("c_acctbal")} AS totacctbal
    FROM seg, threshold
    WHERE c_acctbal > avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    """,
)
def q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    seg = cust.filter(F.col("c_mktsegment").isin(*_Q22_SEGS))
    threshold = seg.filter(F.col("c_acctbal") > 0.0).agg(
        davg("c_acctbal").alias("avg_bal")
    )
    return (
        seg.join(F.broadcast(threshold))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, seg.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
    )


# --------------------------------------------------------------------------
# a09 — robust outlier profile per group (median / MAD / 3-MAD count):
# the outlier sweep a data-quality pipeline runs per segment, using
# rank-exact order statistics so the result is engine-portable (no
# quantile interpolation — the ``max(1, ceil(p*n))`` convention a06
# pins). Both medians come from operators.quantiles.grouped_exact_
# quantiles: range buckets keyed on (group, value), so a handful of
# corpus-sized groups NEVER funnel through one window task — the plan
# scales in bucket count, not group size. The deviation frame is
# persisted: it feeds the MAD quantile pass and the final aggregate.
@query(
    "a09_mad_outliers",
    """
    WITH v AS (
        SELECT event_type, value FROM events WHERE value IS NOT NULL
    ),
    n_t AS (SELECT event_type, COUNT(*) AS n FROM v GROUP BY 1),
    r AS (
        SELECT event_type, value,
               row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn
        FROM v
    ),
    med AS (
        SELECT r.event_type, r.value AS med
        FROM r JOIN n_t USING (event_type)
        WHERE rn = LEAST(GREATEST(1, CAST(CEIL(0.5 * n) AS BIGINT)), n)
    ),
    a AS (
        SELECT v.event_type, ABS(v.value - med.med) AS adev, med.med AS med
        FROM v JOIN med USING (event_type)
    ),
    ra AS (
        SELECT event_type, adev,
               row_number() OVER (PARTITION BY event_type ORDER BY adev) AS rn
        FROM a
    ),
    mad AS (
        SELECT ra.event_type, ra.adev AS mad
        FROM ra JOIN n_t USING (event_type)
        WHERE rn = LEAST(GREATEST(1, CAST(CEIL(0.5 * n) AS BIGINT)), n)
    )
    SELECT a.event_type, n_t.n, a.med, mad.mad,
           CAST(SUM(CASE WHEN a.adev > 3 * mad.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM a JOIN mad USING (event_type) JOIN n_t USING (event_type)
    GROUP BY 1, 2, 3, 4
    """,
)
def a09_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.operators.bucketize import range_bucket_splits
    from pm25ml_spark.operators.quantiles import grouped_exact_quantiles

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "value")
    )
    # ONE split-sampling pass serves both quantile calls: the med pass
    # buckets on the value splits directly, and the MAD pass's |value −
    # med| splits fold those same splits around each group median —
    # splits only steer bucket BALANCE (range_bucket_column), so the
    # derived list is exact-by-construction and the second
    # approxQuantile corpus pass disappears (guide §1.2).
    nparts = spark.sparkContext.defaultParallelism
    vsplits = range_bucket_splits(ev, ["value"], nparts)
    med_df = grouped_exact_quantiles(
        ev, ["event_type"], "value", [0.5], splits=vsplits
    ).select("event_type", F.col("value").alias("med"))
    # med/mad are |group|-row frames — collected once: the driver needs
    # the medians for the fold anyway, and re-emitting them as a 1-
    # partition literal frame keeps the pick kernel out of `a`'s lineage
    med_rows = med_df.collect()
    med = spark.createDataFrame(med_rows, med_df.schema)
    a = (
        ev.join(F.broadcast(med), "event_type")
        .withColumn("adev", F.abs(F.col("value") - F.col("med")))
        .persist()
    )
    cuts = sorted(
        {abs(s[0] - float(r["med"])) for s in vsplits for r in med_rows}
    )
    cuts = [c for c in cuts if c > 0.0]
    if len(cuts) > nparts - 1:  # cap the bucket expression length
        step = len(cuts) / (nparts - 1)
        cuts = sorted({cuts[int(i * step)] for i in range(nparts - 1)})
    mad = grouped_exact_quantiles(
        a,
        ["event_type"],
        "adev",
        [0.5],
        splits=[(c,) for c in cuts],
    ).select("event_type", F.col("value").alias("mad"))
    return (
        a.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.first("med").alias("med"),
            F.first("mad").alias("mad"),
            F.sum(
                F.when(F.col("adev") > 3 * F.col("mad"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


# --------------------------------------------------------------------------
# d09 — column profile (the data-quality sweep run before any training
# job: per-column row/null/distinct counts and min/max). Spark-first
# shape: ONE scan unpivots the audited columns to (column, value) long
# form via stack — no per-column scan fan-out — then a single hash
# aggregate keyed by column name; |columns| result rows at any scale.
# Values are profiled through their STRING rendering (min/max are
# lexicographic — a profile, not arithmetic; integer renderings are
# engine-identical so the oracle matches bit-for-bit), and the audited
# set is integer/string columns by design: float/timestamp formatting
# is engine-specific.
_D09_COLS = (
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_returnflag",
    "l_linestatus",
)


def _d09_oracle() -> str:
    parts = [
        f"""
    SELECT '{c}' AS column_name, COUNT(*) AS n_rows,
           COUNT(*) - COUNT({c}) AS n_null,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
           MIN(CAST({c} AS VARCHAR)) AS min_value,
           MAX(CAST({c} AS VARCHAR)) AS max_value
    FROM lineitem
    """
        for c in _D09_COLS
    ]
    return " UNION ALL ".join(parts)


@query("d09_column_profile", _d09_oracle())
def d09_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(*_D09_COLS)
    stack_args = ", ".join(
        f"'{c}', CAST({c} AS STRING)" for c in _D09_COLS
    )
    long = li.select(
        F.expr(
            f"stack({len(_D09_COLS)}, {stack_args}) AS (column_name, value)"
        )
    )
    # Aggregate shape matters here: ONE agg mixing countDistinct with
    # string min/max plans as a (column, value)-keyed SortAggregate
    # whose within-partition sort of |rows|x|columns| strings runs
    # serially per input split (measured 30 s vs ~4 s at sf0.1). And
    # min/max over STRINGS can never use a hash agg (immutable buffer),
    # so they are computed over the post-distinct set — identical
    # result (distinct preserves extrema; both ignore NULLs), but the
    # only sort touches |distinct values| rows AFTER a hash-distinct
    # pre-aggregated, key-partitioned exchange. The full stacked frame
    # meets hash aggregates only (plan-pinned).
    stats = long.groupBy("column_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("value")).alias("n_null"),
    )
    dist = (
        long.distinct()
        .groupBy("column_name")
        .agg(
            F.count("value").cast("bigint").alias("n_distinct"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )
    return stats.join(dist, "column_name").select(
        "column_name",
        "n_rows",
        "n_null",
        "n_distinct",
        "min_value",
        "max_value",
    )


# --------------------------------------------------------------------------
# a10 — per-group WEIGHTED median (quantity-weighted median unit price):
# the weighted generalization of a06/a09's exact order statistics, via
# operators.quantiles.grouped_weighted_median — range buckets keyed on
# (group, value), per-(bucket, group) DECIMAL weight sums to the driver,
# and a single-bucket pandas kernel picking the crossing value with
# integer micro-unit arithmetic. No per-group window sort anywhere: one
# corpus-sized group spans many buckets (scales in bucket count, not
# group size). The oracle spells the textbook cumulative-weight window —
# same crossing rule 2*cumw >= totw on the identical DECIMAL(38,6)
# weights, so the value hash matches bit-for-bit.
@query(
    "a10_weighted_median_price",
    """
    WITH v AS (
        SELECT l_returnflag,
               l_extendedprice AS val,
               CAST(ROUND(l_quantity, 6) AS DECIMAL(38,6)) AS w
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND l_quantity > 0
    ),
    t AS (
        SELECT l_returnflag, SUM(w) AS tot,
               COUNT(*) AS n, CAST(SUM(w) AS DOUBLE) AS w_total
        FROM v GROUP BY 1
    ),
    c AS (
        SELECT l_returnflag, val, SUM(w) AS wv
        FROM v GROUP BY 1, 2
    ),
    cum AS (
        SELECT l_returnflag, val,
               SUM(wv) OVER (PARTITION BY l_returnflag ORDER BY val) AS cw
        FROM c
    )
    SELECT cum.l_returnflag,
           MIN(cum.val) AS wmedian,
           MIN(t.n) AS n,
           MIN(t.w_total) AS w_total
    FROM cum JOIN t USING (l_returnflag)
    WHERE 2 * cum.cw >= t.tot
    GROUP BY 1
    """,
)
def a10_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.operators.quantiles import grouped_weighted_median

    li = load_table(spark, sf_dir, "lineitem")
    return grouped_weighted_median(
        li, ["l_returnflag"], "l_extendedprice", "l_quantity"
    )


# --------------------------------------------------------------------------
# q23 — SQL set operators (INTERSECT / EXCEPT, both DISTINCT-semantics):
# users who both clicked and purchased but never errored. Spark's
# intersect()/subtract() compile to the Catalyst LeftSemi/LeftAnti +
# Aggregate shapes — each one shuffle keyed by user_id, no row
# explosion; the oracle is the literal set-op SQL. Rounds out the U
# family (q08 covers UNION ALL) with the remaining two ANSI set ops.
@query(
    "q23_user_set_ops",
    """
    SELECT user_id FROM events WHERE event_type = 'click'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'purchase'
    EXCEPT
    SELECT user_id FROM events WHERE event_type = 'error'
    """,
)
def q23_user_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    buys = ev.filter(F.col("event_type") == "purchase").select("user_id")
    errs = ev.filter(F.col("event_type") == "error").select("user_id")
    return clicks.intersect(buys).subtract(errs)


# --------------------------------------------------------------------------
# q24 — bilateral volume shipping (TPC-H Q7 shape): revenue flowing
# between two specific nations, by (supplier nation, customer nation,
# ship year). Exercises the 5-way dim+fact join tree with BOTH fact
# tables large (lineitem ⋈ orders shuffles on orderkey; every dim side
# broadcasts) and a disjunctive cross-nation predicate that must not
# collapse to a cartesian anywhere. Year buckets come from the shipdate
# so partition pruning applies when the fact table is date-partitioned.
_Q24_A, _Q24_B = "NATION_1", "NATION_2"


@query(
    "q24_volume_shipping",
    f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           {dsum_expr("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = '{_Q24_A}' AND n2.n_name = '{_Q24_B}')
        OR (n1.n_name = '{_Q24_B}' AND n2.n_name = '{_Q24_A}'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1, 2, 3
    """,
)
def q24_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            (
                (F.col("supp_nation") == _Q24_A)
                & (F.col("cust_nation") == _Q24_B)
            )
            | (
                (F.col("supp_nation") == _Q24_B)
                & (F.col("cust_nation") == _Q24_A)
            )
        )
    )
    return joined.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").cast("bigint").alias("l_year"),
    ).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


# --------------------------------------------------------------------------
# q25 — national market share (TPC-H Q8 shape): within one region's
# customers and one part type, the share of yearly revenue supplied by
# one nation. The share is a ratio of two exact-decimal sums (one
# conditional), so the double result is bit-identical across engines;
# the 6-dp round matches the repo's portable-ratio convention.
_Q25_NATION, _Q25_REGION, _Q25_TYPE = "NATION_3", "AMERICA", "ECONOMY"


@query(
    "q25_market_share",
    f"""
    SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           ROUND({dsum_expr(
               "CASE WHEN n2.n_name = '" + _Q25_NATION + "' "
               "THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END")}
             / {dsum_expr("l.l_extendedprice * (1 - l.l_discount)")}, 6)
             AS mkt_share,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
    JOIN region r   ON n1.n_regionkey = r.r_regionkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
    WHERE r.r_name = '{_Q25_REGION}'
      AND p.p_type = '{_Q25_TYPE}'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1
    """,
)
def q25_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    partt = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == _Q25_TYPE
    )
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == _Q25_REGION
    )
    cust_in_region = cust.join(
        F.broadcast(
            nation.join(
                F.broadcast(region),
                nation.n_regionkey == region.r_regionkey,
            ).select("n_nationkey")
        ),
        cust.c_nationkey == F.col("n_nationkey"),
    ).select("c_custkey")
    supp_nation = supp.join(
        F.broadcast(
            nation.select(
                F.col("n_nationkey").alias("s_nk2"),
                F.col("n_name").alias("supp_nation"),
            )
        ),
        supp.s_nationkey == F.col("s_nk2"),
    ).select("s_suppkey", "supp_nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(partt.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(cust_in_region), orders.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(supp_nation), li.l_suppkey == F.col("s_suppkey"))
    )
    return joined.groupBy(
        F.year("o_orderdate").cast("bigint").alias("o_year")
    ).agg(
        F.round(
            dsum(F.when(F.col("supp_nation") == _Q25_NATION, rev).otherwise(0.0))
            / dsum(rev),
            6,
        ).alias("mkt_share"),
        F.count(F.lit(1)).alias("n_items"),
    )


# --------------------------------------------------------------------------
# q26 — small-quantity revenue (TPC-H Q17 shape): the classic CORRELATED
# scalar subquery ("below 20% of this part's average quantity"),
# decorrelated the way Catalyst plans it — one per-part aggregate,
# broadcast back onto the fact scan, filter, sum. The 0.2·avg threshold
# compares in integer-exact form: avg(l_quantity) = sum/n with integer
# quantities, so qty < 0.2·(sum/n) ⟺ 5·qty·n < sum — no float
# boundary anywhere in the filter. The revenue total is the standard
# decimal-exact sum divided by 7 (one deterministic double division).
@query(
    "q26_small_qty_revenue",
    f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
           {dsum_expr("l.l_extendedprice")} / 7.0 AS avg_weekly_revenue
    FROM lineitem l
    JOIN (
        SELECT l_partkey,
               CAST(SUM(l_quantity) AS BIGINT) AS sq,
               COUNT(*) AS nq
        FROM lineitem GROUP BY l_partkey
    ) a ON l.l_partkey = a.l_partkey
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand = 'Brand#1'
      AND 5 * CAST(l.l_quantity AS BIGINT) * a.nq < a.sq
    """,
)
def q26_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    partt = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#1"
    ).select("p_partkey")
    agg = li.groupBy("l_partkey").agg(
        F.sum("l_quantity").cast("bigint").alias("sq"),
        F.count(F.lit(1)).alias("nq"),
    )
    # brand filter first: the per-part aggregate only needs the parts
    # that survive, so the agg input is semi-joined down before grouping
    agg_b = agg.join(F.broadcast(partt), agg.l_partkey == partt.p_partkey)
    joined = li.join(
        F.broadcast(agg_b.select("l_partkey", "sq", "nq")), "l_partkey"
    ).filter(
        F.lit(5) * F.col("l_quantity").cast("bigint") * F.col("nq")
        < F.col("sq")
    )
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        (dsum("l_extendedprice") / 7.0).alias("avg_weekly_revenue"),
    )


# --------------------------------------------------------------------------
# a11 — exact per-group MODE with deterministic tie-break (min value
# among the arg-max counts): the categorical-profile statistic a data-
# quality sweep reports next to a08's moments. Shape: one corpus hash
# aggregate to |groups|x|distinct values| cells, a |groups|-row max
# frame broadcast back onto the cells, one final tiny aggregate —
# map-side combinable everywhere, no windows, integer-exact.
@query(
    "a11_group_mode",
    """
    WITH c AS (
        SELECT l_returnflag, l_quantity, COUNT(*) AS n
        FROM lineitem GROUP BY 1, 2
    ),
    m AS (SELECT l_returnflag, MAX(n) AS mx FROM c GROUP BY 1)
    SELECT c.l_returnflag,
           MIN(c.l_quantity) AS mode_value,
           CAST(MAX(c.n) AS BIGINT) AS n_mode
    FROM c JOIN m USING (l_returnflag)
    WHERE c.n = m.mx
    GROUP BY 1
    """,
)
def a11_group_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity"
    )
    cells = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("n")
    )
    m = cells.groupBy("l_returnflag").agg(F.max("n").alias("mx"))
    return (
        cells.join(F.broadcast(m), "l_returnflag")
        .filter(F.col("n") == F.col("mx"))
        .groupBy("l_returnflag")
        .agg(
            F.min("l_quantity").alias("mode_value"),
            F.max("n").cast("bigint").alias("n_mode"),
        )
    )


# --------------------------------------------------------------------------
# q27 — TPC-H Q21 shape (double-correlated EXISTS / NOT EXISTS):
# suppliers with a RETURNED line in a multi-supplier order where no
# OTHER supplier's line in the same order was returned — the classic
# "who alone caused the failure" decorrelation exercise. Spark spelling:
# the EXISTS becomes a left-semi join against other-supplier lines, the
# NOT EXISTS a left-anti join against other-supplier RETURNED lines,
# both keyed on orderkey (shuffle-partitioned; no correlated re-scan per
# row — the decorrelated plan reads lineitem once per branch). The
# supplier dimension broadcasts.
@query(
    "q27_sole_blame_suppliers",
    """
    SELECT s.s_name,
           COUNT(*) AS numwait
    FROM lineitem l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE l1.l_returnflag = 'R'
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_returnflag = 'R'
      )
    GROUP BY 1
    """,
)
def q27_sole_blame_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    l1 = li.filter(F.col("l_returnflag") == "R").alias("l1")
    l2 = li.alias("l2")
    l3 = li.filter(F.col("l_returnflag") == "R").alias("l3")
    semi = l1.join(
        l2,
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
        "left_semi",
    )
    anti = semi.join(
        l3,
        (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
        "left_anti",
    )
    return (
        anti.join(F.broadcast(sup), F.col("l1.l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# --------------------------------------------------------------------------
# q28 — TPC-H Q20 shape (nested aggregate threshold → semi join):
# suppliers who shipped MORE THAN HALF of some part's total shipped
# quantity (the "dominant supplier" stock-concentration screen). The
# per-(part, supplier) aggregate joins the per-part total and the
# threshold comparison runs integer-exact as 2·sq > tq (quantities are
# integral); the winner set semi-joins the supplier dimension. Shapes:
# two hash aggregates over one lineitem scan lineage, a part-keyed
# equi-join between them (both sides already partitioned by partkey —
# AQE coalesces), broadcast supplier names.
@query(
    "q28_dominant_suppliers",
    """
    WITH ps AS (
        SELECT l_partkey, l_suppkey,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq
        FROM lineitem GROUP BY 1, 2
    ),
    pt AS (
        SELECT l_partkey,
               CAST(SUM(sq) AS BIGINT) AS tq,
               COUNT(*) AS n_sups
        FROM ps GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name,
           COUNT(*) AS n_dominated_parts,
           CAST(MAX(CASE WHEN n_sups > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS dominates_contested
    FROM ps JOIN pt USING (l_partkey)
    JOIN supplier s ON s.s_suppkey = ps.l_suppkey
    WHERE 2 * ps.sq > pt.tq
    GROUP BY 1, 2
    """,
)
def q28_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", F.col("l_quantity").cast("bigint").alias("q")
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(F.sum("q").alias("sq"))
    pt = ps.groupBy("l_partkey").agg(
        F.sum("sq").alias("tq"), F.count(F.lit(1)).alias("n_sups")
    )
    dom = ps.join(pt, "l_partkey").filter(2 * F.col("sq") > F.col("tq"))
    return (
        dom.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(
            F.count(F.lit(1)).alias("n_dominated_parts"),
            F.max(F.when(F.col("n_sups") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("dominates_contested"),
        )
    )
