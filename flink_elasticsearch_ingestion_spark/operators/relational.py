"""Relational operator surface: joins, aggregations, windows, sorts,
top-k, set ops, grouping sets — SURVEY.md §2.3-2.6.

The reference performs zero joins/aggs (single linear pipeline); this
surface exists because the engine must serve the star-schema query load
the correctness harness (and any real user of a 100 TB corpus) issues.
Everything is declarative DataFrame ops: Catalyst picks broadcast vs
sort-merge via AQE; dims like region (5 rows) and nation (25 rows) get
explicit ``F.broadcast`` hints so the plan never sort-merges them even
with stale stats.
"""

from __future__ import annotations

import functools
import operator

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType


def pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1-style hash aggregate: partial+final automatically;
    single shuffle on the two low-cardinality group keys."""
    return (
        lineitem.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
            ).alias("sum_charge"),
            F.sum("l_discount").alias("sum_disc"),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def top_revenue_orders(customer: DataFrame, orders: DataFrame, lineitem: DataFrame, segment: str = "BUILDING", k: int = 10) -> DataFrame:
    """TPC-H Q3-style: selective dim filter -> joins -> agg -> top-k.
    customer filter prunes before the join; top-k plans as
    TakeOrderedAndProject (no global sort materialization).

    Join shape matters at scale: lineitem is the probe side and the
    customer-filtered orders subtree is the build side, with NO manual
    broadcast hint — static file-size stats would otherwise pick
    BuildRight on lineitem itself (it's under the 10 MB threshold at
    small SF), funneling the biggest table through the driver. With AQE
    on, the runtime size of the filtered orders side decides broadcast
    vs shuffle, which stays correct when orders itself is fact-sized."""
    filtered_orders = customer.filter(F.col("c_mktsegment") == segment).join(
        orders, F.col("c_custkey") == F.col("o_custkey")
    )
    return (
        lineitem.join(filtered_orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(k)
    )


def local_supplier_volume(
    region: DataFrame,
    nation: DataFrame,
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    supplier: DataFrame,
    region_name: str = "REGION#0",
) -> DataFrame:
    """TPC-H Q5-style multi-join: dims broadcast, facts shuffle on join
    keys once each; supplier-nation == customer-nation constraint."""
    return (
        lineitem
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(supplier, (F.col("l_suppkey") == F.col("s_suppkey")) & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == region_name)
        .groupBy("n_name")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc())
    )


def nation_region_broadcast(nation: DataFrame, region: DataFrame) -> DataFrame:
    """Explicit broadcast equi-join of the two tiny dims."""
    return (
        nation.join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name", "r_name")
        .orderBy("n_nationkey")
    )


def customers_with_orders(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Left-semi join == EXISTS; never widens rows, no fact columns move."""
    return customer.join(
        orders.select("o_custkey"), F.col("c_custkey") == F.col("o_custkey"), "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


def customers_without_orders(customer: DataFrame, orders: DataFrame, priority: str | None = "1-URGENT") -> DataFrame:
    """Left-anti join == NOT EXISTS — the ingestion-diff shape (§2.1).
    Filtering the right side first (urgent orders) keeps the anti join
    selective; with ``priority=None`` it is the plain no-orders diff."""
    right = orders
    if priority is not None:
        right = right.filter(F.col("o_orderpriority") == priority)
    return customer.join(
        right.select("o_custkey"), F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_name", "c_acctbal")


def top_order_per_customer(orders: DataFrame) -> DataFrame:
    """Ranking window: one shuffle on o_custkey; deterministic tie-break
    on o_orderkey."""
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


def revenue_rollup(lineitem: DataFrame) -> DataFrame:
    """ROLLUP grouping sets; Spark expands to a union of grouping sets in
    one pass (Expand operator), not multiple scans."""
    return (
        lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first()
        )
    )


def order_priority_cube(orders: DataFrame) -> DataFrame:
    """CUBE over (status, priority)."""
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(F.sum("o_totalprice").alias("sum_price"), F.count(F.lit(1)).alias("n_orders"))
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(), F.col("o_orderpriority").asc_nulls_first()
        )
    )


def returnflag_pivot(lineitem: DataFrame) -> DataFrame:
    """Pivot linestatus into columns; explicit value list keeps the plan
    a single pass (no extra distinct-values job)."""
    return (
        lineitem.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum("l_quantity"))
        .withColumnRenamed("O", "qty_open")
        .withColumnRenamed("F", "qty_filled")
        .orderBy("l_returnflag")
    )


def segment_set_ops(customer: DataFrame) -> DataFrame:
    """Set operators: customers in AUTOMOBILE union BUILDING, minus those
    with negative balance, intersected with high-balance keys."""
    auto = customer.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey")
    building = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    negative = customer.filter(F.col("c_acctbal") < 0).select("c_custkey")
    positive = customer.filter(F.col("c_acctbal") > 0).select("c_custkey")
    return (
        auto.union(building).exceptAll(negative).intersect(positive).orderBy("c_custkey")
    )


def top_orders(orders: DataFrame, k: int = 25) -> DataFrame:
    """Global top-k -> TakeOrderedAndProject: per-partition heap + driver
    merge, no total sort."""
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(k)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    )


def price_quantiles(orders: DataFrame) -> DataFrame:
    """Exact continuous percentiles (single-pass sort-based agg per
    group; at scale prefer approx_percentile — see approx_stats)."""
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("median_price"),
            F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


def approx_stats(orders: DataFrame, *, accuracy: int = 2147483647) -> DataFrame:
    """Sketch-based percentiles (Greenwald-Khanna ``approx_percentile``)
    — the 100 TB path for :func:`price_quantiles`: the sketch is a
    bounded-size partial aggregate that merges map-side, so a quantile
    over 10^12 rows shuffles kilobytes per partition instead of sorting
    the group. ``accuracy`` trades sketch size for error (1/accuracy
    relative-rank error); the default max makes the result the EXACT
    discrete percentile, which is what the DuckDB ``quantile_disc``
    oracle checks — production jobs drop it to ~10^4.
    """
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.approx_percentile(
                "o_totalprice", F.lit(0.5), F.lit(accuracy)
            ).alias("p50_sketch"),
            F.approx_percentile(
                "o_totalprice", F.lit(0.9), F.lit(accuracy)
            ).alias("p90_sketch"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


def order_stats(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Statistical aggregates: stddev + correlation."""
    li = lineitem.agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("qty_price_corr")
    )
    per_status = (
        orders.groupBy("o_orderstatus")
        .agg(
            F.round(F.stddev_samp("o_totalprice"), 2).alias("price_stddev"),
            F.round(F.round(F.sum("o_totalprice"), 2) / F.count(F.lit(1)) + 1e-9, 4).alias(
                "price_mean"
            ),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderstatus")
    )
    return per_status.crossJoin(li)


def arg_extremes(events: DataFrame) -> DataFrame:
    """max_by/min_by (argmax/argmin) — keyed on the unique event_id so
    ties cannot occur."""
    return (
        events.groupBy("event_type")
        .agg(
            F.max_by("user_id", "event_id").alias("last_user"),
            F.min_by("user_id", "event_id").alias("first_user"),
            F.max("event_id").alias("last_event_id"),
        )
        .orderBy("event_type")
    )


def user_event_sets(events: DataFrame) -> DataFrame:
    """Bounded collect: distinct event types per user as a sorted array
    (cardinality <= 5 — safe; unbounded collect_list is banned at scale)."""
    return (
        events.groupBy("user_id")
        .agg(F.sort_array(F.collect_set("event_type")).alias("event_types"))
        .orderBy("user_id")
    )


def grouping_sets_revenue(spark, lineitem: DataFrame) -> DataFrame:
    """Explicit GROUPING SETS via the SQL surface (not expressible with
    the cube/rollup DataFrame helpers)."""
    lineitem.createOrReplaceTempView("__li_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_extendedprice), 2) AS sum_price,
               count(*) AS n_rows
        FROM __li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
        """
    )


def approx_distinct_counts(events: DataFrame) -> DataFrame:
    """HLL++ approximate distinct — the 100 TB path for cardinality
    (exact countDistinct needs a full shuffle of the key universe).
    Oracle-unfriendly (estimator differs per engine) -> rows-only."""
    return (
        events.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .orderBy("event_type")
    )


def mergeable_distinct_rollup(
    events: DataFrame,
    *,
    group_col: str = "event_type",
    day_col: str = "ts",
    key_col: str = "user_id",
    tolerance: float = 0.03,
) -> DataFrame:
    """Mergeable-sketch distinct counting (Apache DataSketches HLL):
    build one sketch per (group, day) — the pre-aggregate a 100 TB
    pipeline materializes once — then UNION-MERGE the daily sketches
    into per-group totals.

    This is the scale pattern ``approx_count_distinct`` alone can't
    give you: sketches are reusable state. A daily job writes
    (group, day, sketch) — tiny, mergeable, re-scannable — and every
    later rollup (weekly, monthly, ad hoc) merges sketches instead of
    re-shuffling the raw key universe. Merge is exact over sketches:
    union(sketch(A), sketch(B)) == sketch(A ∪ B) bit-for-bit, which the
    unit test asserts.

    Output carries the oracle-checkable contract rather than the raw
    estimate (no independent engine reproduces DataSketches bit-runs):
    exact distinct per group plus ``sketch_ok`` — whether the merged
    estimate landed within ``tolerance`` of exact. The DuckDB oracle
    pins exact counts and asserts the flag is TRUE for every group, so
    an estimator regression turns the row red."""
    daily = events.groupBy(
        group_col, F.to_date(F.col(day_col).cast("timestamp")).alias("__day")
    ).agg(F.hll_sketch_agg(key_col).alias("sketch"))
    merged = daily.groupBy(group_col).agg(
        F.hll_union_agg("sketch").alias("sketch")
    )
    exact = events.groupBy(group_col).agg(
        F.countDistinct(key_col).alias("n_exact")
    )
    return (
        merged.join(exact, group_col)
        .select(
            group_col,
            "n_exact",
            (
                F.abs(F.hll_sketch_estimate("sketch") - F.col("n_exact"))
                <= F.col("n_exact") * F.lit(tolerance)
            ).alias("sketch_ok"),
        )
        .orderBy(group_col)
    )


def ship_within_30d(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Equi + range (theta) join: lineitems shipped within 30 days of
    order date. The equi key carries the shuffle; the range predicate is
    a post-join filter, so no nested-loop blowup."""
    return (
        orders.join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(
            (F.col("l_shipdate") >= F.col("o_orderdate"))
            & (F.col("l_shipdate") <= F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_lineitems"))
        .orderBy("o_orderpriority")
    )


def orders_above_customer_avg(orders: DataFrame) -> DataFrame:
    """Correlated-subquery shape: orders whose price exceeds their
    customer's average. Expressed as a window avg (one shuffle on
    o_custkey) instead of a per-row subquery — the scalable plan: the
    subquery form would re-aggregate per outer row, the window form is
    a single partial+final agg co-partitioned with the probe."""
    w = Window.partitionBy("o_custkey")
    return (
        orders.withColumn("cust_avg", F.avg("o_totalprice").over(w))
        .filter(F.col("o_totalprice") > F.col("cust_avg"))
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.round(F.col("cust_avg") + 1e-9, 4).alias("cust_avg"),
        )
        .orderBy("o_orderkey")
    )


def purchases_after_click(events: DataFrame, days: int = 7) -> DataFrame:
    """Range join: purchase events within ``days`` after a click by the
    same user. Equi key (user) carries the shuffle; the time-range
    predicate filters inside the join, so the plan stays a hash/sort-merge
    join — never a broadcast-nested-loop. At 100 TB, bucketing the event
    log by user id makes this join shuffle-free."""
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"), "event_id"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts")
    )
    return (
        clicks.join(purchases, F.col("c_user") == F.col("user_id"))
        .filter(
            (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts") < F.col("click_ts") + F.expr(f"INTERVAL {days} DAYS"))
        )
        .groupBy(F.col("c_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.countDistinct("event_id").alias("n_converting_clicks"),
        )
        .orderBy("user_id")
    )


def date_functions(orders: DataFrame) -> DataFrame:
    """Date/time scalar surface: trunc, extract, diff, unix epoch."""
    return orders.select(
        "o_orderkey",
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("order_month"),
        F.year("o_orderdate").alias("order_year"),
        F.quarter("o_orderdate").alias("order_quarter"),
        F.dayofweek("o_orderdate").alias("order_dow"),
        F.datediff(F.lit("1998-12-31").cast("date"), F.col("o_orderdate").cast("date")).alias(
            "days_to_eoy"
        ),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
    ).orderBy("o_orderkey")


def returned_item_losses(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame, nation: DataFrame, k: int = 20
) -> DataFrame:
    """TPC-H Q10-style: revenue lost to returned items per customer.
    The returnflag filter prunes lineitem before the join; nation is a
    broadcast dim; top-k via TakeOrderedAndProject."""
    returned = lineitem.filter(F.col("l_returnflag") == "R")
    return (
        returned.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(k)
    )


def large_quantity_orders(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame, min_qty: float = 150.0
) -> DataFrame:
    """TPC-H Q18-style: orders whose total quantity exceeds a threshold.
    The HAVING-filtered per-order agg runs BEFORE the customer join, so
    only qualifying orders (a tiny fraction) reach the join — the
    aggregate-then-join ordering is the 100 TB-safe shape."""
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > min_qty)
    )
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.round("total_qty", 2).alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    )


def promo_revenue_share(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q14-style: monthly share of revenue from PROMO parts.
    One fact-dim join (part is broadcast-eligible; AQE decides from
    runtime size) + one agg on the month key — conditional aggregation
    replaces a second scan."""
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = lineitem.join(part, F.col("l_partkey") == F.col("p_partkey"))
    return (
        joined.groupBy(
            F.date_format(F.date_trunc("month", "l_shipdate"), "yyyy-MM").alias("ship_month")
        )
        .agg(
            F.round(
                F.round(F.sum(F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0.0))), 2)
                * 100
                / F.round(F.sum(rev), 2)
                + 1e-9,
                4,
            ).alias("promo_share_pct"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy("ship_month")
    )


def idle_rich_customers(
    customer: DataFrame, orders: DataFrame, priority: str = "1-URGENT"
) -> DataFrame:
    """TPC-H Q22-style: customers richer than the average positive
    balance with no ``priority`` order, profiled per market segment.
    The scalar average is a 1-row broadcast; the no-matching-orders
    test is a shuffled anti join on the customer key (both sides
    fact-sized at 100 TB — the correct degradation; the priority
    filter pushes to the orders scan first)."""
    avg_bal = customer.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    rich = customer.crossJoin(avg_bal).filter(F.col("c_acctbal") > F.col("avg_bal"))
    idle = rich.join(
        orders.filter(F.col("o_orderpriority") == priority)
        .select("o_custkey")
        .distinct(),
        rich.c_custkey == F.col("o_custkey"),
        "left_anti",
    )
    return (
        idle.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
        .orderBy("c_mktsegment")
    )


def lonely_late_suppliers(
    supplier: DataFrame, orders: DataFrame, lineitem: DataFrame, late_days: int = 60
) -> DataFrame:
    """TPC-H Q21-style: suppliers who were the SOLE late shipper on a
    multi-supplier order. The classic formulation is exists/not-exists
    self-joins on lineitem; the Spark-first shape aggregates once per
    (order, supplier) and once per order, then filters — two keyed
    shuffles instead of two fact-fact self-joins, same semantics."""
    li = lineitem.join(
        orders.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), late_days)).cast("int").alias("late"),
    )
    per_supp = li.groupBy("l_orderkey", "l_suppkey").agg(F.max("late").alias("late"))
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"), F.sum("late").alias("n_late")
    )
    culprit = (
        per_supp.filter(F.col("late") == 1)
        .join(
            per_order.filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1)),
            "l_orderkey",
        )
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
    )
    return (
        culprit.groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "s_name")
        .limit(20)
    )


def revenue_forecast(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q6-style: revenue delta from a discount change — a pure
    scan-side query. Every predicate (date range, discount band,
    quantity cap) is a deterministic literal comparison that Catalyst
    pushes into the parquet scan (PushedFilters), and only 4 columns
    survive pruning; the agg is a 1-row global partial+final. At 100 TB
    this reads a fraction of the fact table and shuffles ~nothing."""
    f = lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return f.agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "forecast_revenue"
        ),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


def late_shipment_priorities(
    orders: DataFrame, lineitem: DataFrame, late_days: int = 60, year: int = 1997
) -> DataFrame:
    """TPC-H Q4-style (EXISTS rewritten as a left-semi join): count
    orders per priority having >= 1 lineitem shipped more than
    ``late_days`` after the order date. The order-date filter prunes the
    orders scan; the semi join keeps only order keys (no fan-out,
    no duplicate elimination needed); the final agg is tiny."""
    in_year = orders.filter(
        (F.col("o_orderdate") >= F.lit(f"{year}-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(f"{year + 1}-01-01").cast("timestamp"))
    )
    late_keys = (
        lineitem.join(
            in_year.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .filter(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), late_days))
        .select("l_orderkey")
    )
    return (
        in_year.join(late_keys, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


def volume_shipping(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    nation_a: str = "NATION_1",
    nation_b: str = "NATION_2",
) -> DataFrame:
    """TPC-H Q7-style: bilateral shipping volume between two nations by
    year. Both nation dims are filtered to 1 row each BEFORE their
    joins, so supplier/customer shrink to ~1/25 early; the only
    fact-sized shuffles are lineitem->orders and orders->customer.
    nation is broadcast (25 rows)."""
    n1 = nation.filter(F.col("n_name").isin(nation_a, nation_b)).select(
        F.col("n_nationkey").alias("supp_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.filter(F.col("n_name").isin(nation_a, nation_b)).select(
        F.col("n_nationkey").alias("cust_nkey"), F.col("n_name").alias("cust_nation")
    )
    supp = supplier.join(F.broadcast(n1), F.col("s_nationkey") == F.col("supp_nkey"))
    cust = customer.join(F.broadcast(n2), F.col("c_nationkey") == F.col("cust_nkey"))
    joined = (
        lineitem.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        joined.groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "volume"
            ),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


def market_share(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    part: DataFrame,
    target_nation: str = "NATION_5",
    part_type: str = "ECONOMY",
    region_name: str | None = None,
) -> DataFrame:
    """TPC-H Q8-style: the target nation's share of revenue for one part
    type, per order year. Share-of-total is conditional aggregation in
    ONE pass (no second scan, no self-join); part is filtered before the
    join so the fact fan-in shrinks at the scan. region/nation are
    broadcast dims."""
    p = part.filter(F.col("p_type") == part_type).select("p_partkey")
    supp_nation = supplier.join(
        F.broadcast(nation.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "supp_nation")
    cust = customer
    if region_name is not None:
        in_region = (
            nation.join(
                F.broadcast(region.filter(F.col("r_name") == region_name)),
                F.col("n_regionkey") == F.col("r_regionkey"),
            ).select(F.col("n_nationkey").alias("cust_nkey"))
        )
        cust = customer.join(
            F.broadcast(in_region), F.col("c_nationkey") == F.col("cust_nkey")
        )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        lineitem.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp_nation, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust.select("c_custkey"), F.col("o_custkey") == F.col("c_custkey"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            F.round(
                F.round(
                    F.sum(
                        F.when(F.col("supp_nation") == target_nation, rev).otherwise(
                            F.lit(0.0)
                        )
                    ),
                    2,
                )
                * 100
                / F.round(F.sum(rev), 2)
                + 1e-9,
                4,
            ).alias("share_pct"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy("order_year")
    )


def product_type_profit(
    lineitem: DataFrame,
    orders: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    part: DataFrame,
    name_contains: str = "blue",
) -> DataFrame:
    """TPC-H Q9-style (adapted: fixtures carry no partsupp/supplycost,
    so profit = discounted revenue): revenue from parts whose name
    contains a color, by supplier nation and year. The LIKE filter on
    part runs before its join; nation broadcasts."""
    p = part.filter(F.col("p_name").contains(name_contains)).select("p_partkey")
    joined = (
        lineitem.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(nation.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(orders.select("o_orderkey", "o_orderdate"), F.col("l_orderkey") == F.col("o_orderkey"))
    )
    # sum in exact decimal, not double: with ~1e4 terms per group the
    # double accumulation order differs between engines and flips the
    # last cent at a .005 boundary; decimal(18,4) terms make the sum
    # associative and bit-identical everywhere
    profit_term = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        joined.groupBy("supp_nation", F.year("o_orderdate").alias("order_year"))
        .agg(F.round(F.sum(profit_term).cast("double"), 2).alias("profit"))
        .orderBy("supp_nation", "order_year")
    )


def order_count_distribution(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H Q13-style: distribution of per-customer order counts,
    including zero-order customers (left join). Two keyed shuffles
    (custkey, then the tiny count key); the left join preserves
    customers with no orders as count 0."""
    per_cust = (
        customer.select("c_custkey")
        .join(orders.select("o_custkey", "o_orderkey"), F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy(F.col("n_customers").desc(), F.col("n_orders").desc())
    )


def top_supplier(
    lineitem: DataFrame,
    supplier: DataFrame,
    quarter_start: str = "1996-01-01",
    quarter_end: str = "1996-04-01",
) -> DataFrame:
    """TPC-H Q15-style: supplier(s) with maximum revenue over a quarter.
    The per-supplier agg happens first (fact -> |suppliers| rows); the
    scalar max is a 1-row broadcast cross join, and ties are kept —
    exactly the view + subquery semantics, with no second fact scan."""
    rev = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(quarter_start).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(quarter_end).cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "total_revenue"
            )
        )
    )
    max_rev = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.join(F.broadcast(max_rev), F.col("total_revenue") == F.col("max_revenue"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def small_quantity_revenue(
    lineitem: DataFrame, part: DataFrame, brand: str = "Brand#13", factor: float = 0.5
) -> DataFrame:
    """TPC-H Q17-style: average yearly revenue from orders of less than
    ``factor`` x the part's average quantity. The correlated scalar
    subquery (per-part avg) is a partial+final agg joined back on
    partkey — NOT a window over the fact (the brand filter shrinks both
    sides first, and the agg-then-join shape keeps the shuffle keyed on
    the small filtered set)."""
    branded = lineitem.join(
        part.filter(F.col("p_brand") == brand).select("p_partkey"),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    avg_qty = branded.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        (F.round(F.round(F.sum("l_quantity"), 2) / F.count(F.lit(1)) + 1e-9, 4)).alias(
            "avg_qty"
        )
    )
    small = branded.join(avg_qty, F.col("l_partkey") == F.col("ap_partkey")).filter(
        F.col("l_quantity") < F.col("avg_qty") * factor
    )
    return small.agg(
        F.round(F.round(F.sum("l_extendedprice"), 2) / 7.0 + 1e-9, 4).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


def disjunctive_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q19-style: revenue under three OR'd brand/size/quantity
    branches. The disjunction references both join sides, so it can't
    be a join key — but each branch's part-side conjuncts (brand, size)
    and lineitem-side conjuncts (quantity bounds) are pushed below the
    join by Catalyst as a derived common filter; the join itself stays
    an equi hash join on partkey."""
    j = lineitem.join(part, F.col("l_partkey") == F.col("p_partkey"))
    branch = (
        (
            (F.col("p_brand") == "Brand#1")
            & (F.col("p_size").between(1, 10))
            & (F.col("l_quantity").between(1, 15))
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & (F.col("p_size").between(1, 20))
            & (F.col("l_quantity").between(10, 25))
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & (F.col("p_size").between(1, 30))
            & (F.col("l_quantity").between(20, 35))
        )
    )
    return j.filter(branch).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


def priority_value_percentiles(orders: DataFrame) -> DataFrame:
    """Exact percentiles (interpolated, percentile_cont semantics) and
    median per order priority — the exact twin of the approx_percentile
    family. Exact percentiles need the full sorted group; at 100 TB
    prefer the approx sketch (`price_quantiles`) and reserve this for
    the final small-group reporting layer."""
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.expr("percentile(o_totalprice, 0.5)") + 1e-9, 4).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.9)") + 1e-9, 4).alias("p90"),
            F.round(F.expr("percentile(o_totalprice, 0.99)") + 1e-9, 4).alias("p99"),
        )
        .orderBy("o_orderpriority")
    )


def similar_part_names(
    part: DataFrame, max_distance: int = 2, *, blocked: bool = True
) -> DataFrame:
    """Fuzzy self-match over the DISTINCT part-name vocabulary:
    levenshtein pairs within ``max_distance``.

    Scale shape (``blocked=True``, supports max_distance <= 2): the
    SymSpell deletion-neighborhood bound — if levenshtein(s, t) <= d
    then deleting <= d characters from each reaches a COMMON string —
    turns the all-pairs comparison into an EQUI-join: explode every
    name's <= d-deletion variants (an O(len^d) higher-order expression,
    no UDF), hash each variant to a 64-bit key, self-join on the key,
    and run the exact levenshtein only on colliding candidates. Hash
    collisions can only ADD candidates (the verify prunes them), never
    lose a pair, so the blocking is lossless by construction and the
    result is identical to the naive form. Shuffle volume is
    vocabulary x neighborhood-size, never vocabulary².

    ``blocked=False`` keeps the naive banded all-pairs comparison
    (|len(a)-len(b)| <= d pre-filter, then levenshtein) as the
    correctness baseline for the parity unit and for max_distance > 2.
    """
    names = part.select(F.col("p_name").alias("name")).distinct()
    if blocked and max_distance <= 2:
        dels = [
            "array(name)",
            # delete position i (1-based)
            "transform(sequence(1, length(name)),"
            " i -> concat(substring(name, 1, i - 1),"
            "             substring(name, i + 1, length(name))))",
        ]
        if max_distance >= 2:
            # delete positions i < j; filter() (not sequence(i+1, L))
            # because Spark's sequence DESCENDS when start > stop
            dels.append(
                "flatten(transform(sequence(1, length(name)),"
                " i -> transform(filter(sequence(1, length(name)), j -> j > i),"
                "  j -> concat(substring(name, 1, i - 1),"
                "              substring(name, i + 1, j - i - 1),"
                "              substring(name, j + 1, length(name))))))"
            )
        variants = names.select(
            "name",
            F.explode(
                F.array_distinct(F.expr(f"concat({', '.join(dels)})"))
            ).alias("v"),
        ).select("name", F.xxhash64("v").alias("h"))
        x, y = variants.alias("x"), variants.alias("y")
        cand = (
            x.join(y, "h")
            .filter(F.col("x.name") < F.col("y.name"))
            .select(
                F.col("x.name").alias("name_a"), F.col("y.name").alias("name_b")
            )
            .distinct()
        )
        return (
            cand.withColumn("distance", F.levenshtein("name_a", "name_b"))
            .filter(F.col("distance") <= max_distance)
            .orderBy("name_a", "name_b")
        )
    a, b = names.alias("a"), names.alias("b")
    return (
        a.join(
            b,
            (F.col("a.name") < F.col("b.name"))
            & (
                F.abs(F.length("a.name") - F.length("b.name")) <= max_distance
            ),
        )
        .select(
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            F.levenshtein("a.name", "b.name").alias("distance"),
        )
        .filter(F.col("distance") <= max_distance)
        .orderBy("name_a", "name_b")
    )


def parts_supplier_counts(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q16-style (adapted: lineitem IS the part-supplier relation
    in this schema): distinct supplier count per (brand, type, size
    band). The fact is projected to (partkey, suppkey) pairs and
    de-duplicated BEFORE the dim join — the distinct is keyed on
    partkey so it shuffles ids only; the final count-distinct groups a
    vocabulary-sized frame."""
    rel = lineitem.select("l_partkey", "l_suppkey").dropDuplicates(
        ["l_partkey", "l_suppkey"]
    )
    return (
        rel.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            "p_brand",
            "p_type",
            (F.floor(F.col("p_size") / 10) * 10).cast("int").alias("size_band"),
        )
        .agg(F.countDistinct("l_suppkey").alias("n_suppliers"))
        .orderBy(F.col("n_suppliers").desc(), "p_brand", "p_type", "size_band")
    )


def dominant_suppliers(
    lineitem: DataFrame, supplier: DataFrame, share: float = 0.2
) -> DataFrame:
    """TPC-H Q20-style (adapted): suppliers who shipped more than
    ``share`` of some part's total quantity — the nested-aggregate +
    semi-join shape. Per-(part, supplier) quantities aggregate first
    (one keyed shuffle); the per-part total derives from a second agg
    over that SAME frame (not a second fact scan); qualifying supplier
    keys semi-join the supplier dim."""
    per_ps = lineitem.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("ps_qty")
    )
    per_part = per_ps.groupBy("l_partkey").agg(F.sum("ps_qty").alias("part_qty"))
    qualifying = (
        per_ps.join(per_part, "l_partkey")
        .filter(F.col("ps_qty") > F.col("part_qty") * share)
        .select("l_suppkey")
    )
    return (
        supplier.join(
            qualifying, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
        )
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


def cheapest_supplier_per_part(
    lineitem: DataFrame, supplier: DataFrame, max_parts: int = 200
) -> DataFrame:
    """TPC-H Q2-style (adapted: observed min average sell price stands
    in for ps_supplycost): per part, the supplier with the lowest
    average sell price. The correlated min is a ``min(struct(price,
    suppkey))`` partial+final aggregation — the arg-min travels WITH
    the min through the map-side combiner, so no second join back and
    no window over the fact. Deterministic tie-break: lowest suppkey."""
    avg_price = lineitem.filter(F.col("l_partkey") < max_parts).groupBy(
        "l_partkey", "l_suppkey"
    ).agg(
        F.round(
            F.round(F.sum("l_extendedprice"), 2) / F.count(F.lit(1)) + 1e-9, 4
        ).alias("avg_price")
    )
    best = avg_price.groupBy("l_partkey").agg(
        F.min(F.struct("avg_price", "l_suppkey")).alias("b")
    )
    return (
        best.select(
            "l_partkey",
            F.col("b.l_suppkey").alias("s_suppkey_ref"),
            F.col("b.avg_price").alias("best_avg_price"),
        )
        .join(supplier, F.col("s_suppkey_ref") == F.col("s_suppkey"))
        .select("l_partkey", "s_suppkey", "s_name", "best_avg_price")
        .orderBy("l_partkey")
    )


def important_part_value(
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    target_nation: str = "NATION_7",
    multiplier: int = 2,
) -> DataFrame:
    """TPC-H Q11-style (adapted: fixtures carry no partsupp, so stocked
    value = sum(l_extendedprice * l_quantity) over the target nation's
    suppliers): parts whose value exceeds ``multiplier`` x the average
    part value for that nation.

    Plan shape at 100 TB: the nation filter shrinks supplier to a tiny
    dim that BROADCASTS into lineitem (the fact never shuffles for the
    filter); one keyed shuffle aggregates per part; the global
    threshold is a 1-row aggregate over the per-part table that joins
    back as a broadcast — never a window over the fact, never a second
    fact scan. The threshold compare is cross-multiplied
    (``v * N > multiplier * total``) so it evaluates in EXACT decimal
    arithmetic on any engine — an avg would round trip through double
    and flip boundary rows between engines."""
    supp = supplier.join(
        F.broadcast(
            nation.filter(F.col("n_name") == target_nation).select("n_nationkey")
        ),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey")
    value_term = (F.col("l_extendedprice") * F.col("l_quantity")).cast("decimal(18,4)")
    per_part = (
        lineitem.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(value_term).alias("v"))
    )
    # per_part feeds BOTH the threshold aggregate and the final filter —
    # an un-cached diamond recomputes the whole fact scan + shuffle per
    # branch (measured: ReuseExchange does NOT collapse the two
    # exchanges here, 6 parquet scans in the executed plan). Persisting
    # the PARTS-SIZED intermediate (bounded by |part|, dim-sized
    # relative to the fact) halves the fact work; eager fill so the
    # totals job hits the cache.
    per_part = per_part.persist()
    per_part.count()
    totals = per_part.agg(
        F.sum("v").alias("total_v"), F.count(F.lit(1)).alias("n_parts")
    )
    return (
        per_part.crossJoin(F.broadcast(totals))
        .filter(F.col("v") * F.col("n_parts") > F.col("total_v") * multiplier)
        .select(
            F.col("l_partkey").alias("partkey"),
            F.round(F.col("v").cast("double"), 2).alias("part_value"),
        )
        .orderBy(F.col("part_value").desc(), "partkey")
    )


def incremental_rollup(
    snapshot: DataFrame,
    new_batch: DataFrame,
    keys: list[str],
    *,
    cnt_col: str = "n_events",
    sum_col: str = "total_value",
    value_col: str = "value",
) -> DataFrame:
    """Materialized-rollup maintenance: merge a NEW batch into an
    existing aggregate snapshot without recomputing history — the
    aggregate-side analog of the reference's incremental offset copy
    (core.clj:94 reads only rows past the checkpoint; this folds them
    in).

    Works for any algebraic aggregate (count/sum here; avg derives as
    sum/cnt at read time): aggregate the batch alone, union with the
    snapshot's stored partials, and re-reduce on the keys. Cost scales
    with |batch| + |distinct keys|, NEVER with history size — at 100 TB
    the snapshot is a keyed parquet table orders of magnitude smaller
    than the event log, and the merge is one small keyed shuffle."""
    batch_agg = new_batch.groupBy(*keys).agg(
        F.count(F.lit(1)).alias(cnt_col),
        F.sum(value_col).alias(sum_col),
    )
    return (
        snapshot.select(*keys, cnt_col, sum_col)
        .unionByName(batch_agg)
        .groupBy(*keys)
        .agg(
            F.sum(cnt_col).alias(cnt_col),
            F.sum(sum_col).alias(sum_col),
        )
    )


def weighted_discount_udaf(lineitem: DataFrame) -> DataFrame:
    """Quantity-weighted average discount per return flag via a
    GROUPED_AGG ``pandas_udf`` — the custom-UDAF surface (the one
    Python-UDF shape the engine had not yet exercised).

    The UDAF ships each group's columns to one Arrow batch, so it is
    the right tool only for low-cardinality groups with genuinely
    non-algebraic logic (here the weighted mean doubles as a parity
    check against the pure-expression twin computed alongside). At
    scale prefer the expression form for anything algebraic — it keeps
    partial aggregation; a GROUPED_AGG UDAF cannot combine partials
    and must see the whole group.

    Rounding follows the engine's money convention (sum to 2dp, then
    divide, then 4dp) INSIDE the UDAF so the DuckDB oracle can mirror
    it exactly.
    """
    @F.pandas_udf("double")
    def wavg(discount: pd.Series, quantity: pd.Series) -> float:
        # epsilon-then-round at EVERY rounding step, not just the last:
        # Python's bare round() is half-to-even while the expression twin
        # and the DuckDB oracle round half-up, so an intermediate value
        # landing exactly on .xx5 would otherwise diverge
        num = round(float((discount * quantity).sum()) + 1e-9, 2)
        den = round(float(quantity.sum()) + 1e-9, 2)
        return round(num / den + 1e-9, 4)

    # a GROUPED_AGG UDF cannot share an agg() with JVM aggregates
    # (INVALID_PANDAS_UDF_PLACEMENT), so the UDAF and the expression
    # twin aggregate separately and join on the (tiny) group key —
    # broadcast join, no extra wide shuffle
    udaf_side = lineitem.groupBy("l_returnflag").agg(
        wavg("l_discount", "l_quantity").alias("weighted_avg_discount")
    )
    expr_side = lineitem.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(
            F.round(F.sum(F.col("l_discount") * F.col("l_quantity")), 2)
            / F.round(F.sum("l_quantity"), 2)
            + F.lit(1e-9),
            4,
        ).alias("weighted_avg_discount_expr"),
    )
    return (
        expr_side.join(F.broadcast(udaf_side), "l_returnflag")
        .select(
            "l_returnflag",
            "n_items",
            "weighted_avg_discount",
            "weighted_avg_discount_expr",
        )
        .orderBy("l_returnflag")
    )


def unpivot_pricing_metrics(lineitem: DataFrame) -> DataFrame:
    """Wide->long reshaping via ``DataFrame.unpivot`` (melt) — the
    inverse of pivot, and the missing half of the reshaping surface.

    The unpivot itself is a map-side Expand (each input row emits one
    row per value column, no shuffle); the only exchange is the
    up-front aggregate that builds the wide frame. Values are cast to
    one common type (double) because a long frame has a single value
    column by construction.
    """
    wide = lineitem.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "sum_disc_price"
        ),
    )
    return wide.unpivot(
        ["l_returnflag"],
        ["sum_qty", "sum_base_price", "sum_disc_price"],
        "metric",
        "value",
    ).orderBy("l_returnflag", "metric")


def null_safe_status_rollup(orders: DataFrame) -> DataFrame:
    """Null-safe equi-join (``<=>`` / IS NOT DISTINCT FROM): group
    orders against a distinct-status dimension where one status is
    normalized to NULL — an ordinary equi-join silently drops the NULL
    bucket; the null-safe comparator keeps it, and Catalyst still
    plans it as a HASH join (null-safe equality is a valid hash key),
    not a nested loop.
    """
    normalized = orders.select(
        F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("status_norm"),
        "o_totalprice",
    )
    dim = normalized.select("status_norm").distinct()
    return (
        normalized.alias("o")
        .join(
            dim.alias("d"),
            F.col("o.status_norm").eqNullSafe(F.col("d.status_norm")),
        )
        .groupBy(F.col("d.status_norm").alias("status_norm"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("status_norm")
    )


def priority_shipping_mix(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q12 analog (fixtures carry no shipmode, so the grouping is
    line status): per status, how many shipped items belong to
    high-priority orders (1-URGENT/2-HIGH) vs the rest — the join +
    two-way conditional-count pattern. One fact-fact equi join on the
    order key (AQE-planned) feeding a single partial+final agg; the
    CASE arms evaluate map-side, so the shuffle carries only the
    grouped partials."""
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lineitem.select("l_orderkey", "l_linestatus")
        .join(
            orders.select("o_orderkey", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


def cohort_retention(events: DataFrame) -> DataFrame:
    """Weekly cohort-retention matrix: users grouped by their
    first-activity week (the cohort), counted in every later week they
    were active, keyed by week offset — the canonical engagement
    analysis over an event stream.

    Scale shape: ONE fact-sized shuffle. Each user's distinct active
    weeks collapse into a per-user set in a single partial+final
    aggregate (collect_set combines map-side, and its size is bounded
    by the calendar — a user has at most weeks-in-retention-horizon
    entries, not events); the cohort week is then a map-side
    ``array_min`` over that set, and the final count-distinct groups
    the tiny (cohort, offset) matrix. The naive distinct-then-window
    formulation costs a second full-width exchange for the window's
    user_id partitioning.
    """
    wk = F.date_trunc("week", F.col("ts").cast("timestamp"))
    per_user = (
        events.select("user_id", wk.alias("week"))
        .groupBy("user_id")
        .agg(F.collect_set("week").alias("weeks"))
    )
    with_cohort = per_user.select(
        "user_id",
        F.explode("weeks").alias("week"),
        F.array_min("weeks").alias("cohort_week"),
    )
    return (
        with_cohort.groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff("week", "cohort_week") / 7).cast("int").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


def growth_accounting(events: DataFrame) -> DataFrame:
    """Weekly growth accounting: every active (user, week) is classified
    as new (first-ever week), retained (also active the previous week)
    or resurrected (seen before, but not last week); users active in
    week w but silent in w+1 are counted as churned in w+1.  The
    standard DAU/WAU decomposition identity — new + retained +
    resurrected of week w, minus churned of w+1, walks the WAU curve.

    Scale shape: ONE fact-sized shuffle, same as ``cohort_retention`` —
    each user's distinct active weeks collapse into a calendar-bounded
    ``collect_set`` in a single partial+final aggregate, and every
    classification (first week, prev-week membership, next-week
    membership for churn) plus the churn emission rides a single
    map-side ``transform``/``flatten`` over that set — status and churn
    branches never re-shuffle the fact.  The corpus horizon (max
    active week, so the last week emits no phantom churn) is a
    scan-only 1-row aggregate joined as a broadcast scalar; the final
    group-by touches only the tiny (week, status) matrix.
    """
    wk = F.date_trunc("week", F.col("ts").cast("timestamp"))
    per_user = (
        events.select("user_id", wk.alias("week"))
        .groupBy("user_id")
        .agg(F.collect_set("week").alias("weeks"))
    )
    horizon = events.select(wk.alias("w")).agg(F.max("w").alias("max_week"))

    week_s = F.lit(7 * 24 * 3600)  # whole weeks in seconds: exact arithmetic

    def status_of(w):
        return (
            F.when(w == F.array_min("weeks"), F.lit("new"))
            .when(
                F.array_contains("weeks", F.timestamp_seconds(F.unix_timestamp(w) - week_s)),
                F.lit("retained"),
            )
            .otherwise(F.lit("resurrected"))
        )

    def churn_of(w):
        nxt = F.timestamp_seconds(F.unix_timestamp(w) + week_s)
        return F.when(
            (w < F.col("max_week")) & ~F.array_contains("weeks", nxt),
            F.struct(nxt.alias("week"), F.lit("churned").alias("status")),
        )

    entries = F.filter(
        F.flatten(
            F.transform(
                "weeks",
                lambda w: F.array(
                    F.struct(w.alias("week"), status_of(w).alias("status")),
                    churn_of(w),
                ),
            )
        ),
        lambda x: x.isNotNull(),
    )
    return (
        per_user.join(F.broadcast(horizon))
        .select(F.explode(entries).alias("e"))
        .groupBy(F.date_format("e.week", "yyyy-MM-dd").alias("week"))
        .agg(
            F.count(F.when(F.col("e.status") == "new", 1)).alias("n_new"),
            F.count(F.when(F.col("e.status") == "retained", 1)).alias("n_retained"),
            F.count(F.when(F.col("e.status") == "resurrected", 1)).alias("n_resurrected"),
            F.count(F.when(F.col("e.status") == "churned", 1)).alias("n_churned"),
        )
        .orderBy("week")
    )


def cms_word_counts(
    documents: DataFrame,
    *,
    depth: int = 4,
    width: int = 1024,
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Count-min sketch over corpus word frequencies, with the error
    contract made visible: build the (depth x width) sketch
    distributed, then report — for the top-k exactly-counted words —
    the true count, the sketch estimate, and the overestimate.  The
    sketch is the 100 TB shape: its state is ``depth * width`` cells
    no matter the vocabulary, the cells are partial+final countable,
    and two corpus shards' sketches merge by cell-wise addition (the
    same mergeable-summary family as the HLL rollup).  The exact arm
    exists HERE to pin the contract (CMS never underestimates; the
    overestimate is bounded by collisions) — production keeps only the
    sketch.

    Hashes come from the engine-portable md5 family
    (``portable_hash31``), so an independent SQL engine re-derives
    every bucket and every estimate bit-for-bit.
    """
    from flink_elasticsearch_ingestion_spark.operators.dedup import portable_hash31

    toks = F.split(F.lower(F.trim(F.col(text_col))), "\\s+")
    words = documents.select(F.explode(toks).alias("w")).filter(F.col("w") != "")
    exact = words.groupBy("w").agg(F.count(F.lit(1)).alias("true_count"))
    probes = exact.orderBy(F.col("true_count").desc(), "w").limit(k)

    bucket = portable_hash31(
        F.concat(F.lit("cms"), F.col("j").cast("string"), F.lit(":"), F.col("w"))
    ) % width
    # r11 optimization round (guide §2.3, aggregate before you shuffle):
    # every sketch cell is a pure function of the per-word exact counts
    # — which this operator computes anyway for its exact arm — so the
    # depth-fan + md5 run over the VOCABULARY (one row per distinct
    # word, weighted by true_count), not over every token occurrence.
    # Cell values are bit-identical: count of occurrences per bucket =
    # sum of per-word counts mapping to it.  md5 work drops by the
    # corpus occurrence/vocabulary ratio (~40x on the prose fixtures).
    fan = exact.select(
        "w",
        "true_count",
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("j"),
    )
    sketch = (
        fan.select("j", bucket.alias("bucket"), "true_count")
        .groupBy("j", "bucket")
        .agg(F.sum("true_count").alias("c"))
    )
    probe_fan = probes.select(
        "w",
        "true_count",
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("j"),
    ).select("w", "true_count", "j", bucket.alias("bucket"))
    return (
        probe_fan.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("w", "true_count")
        .agg(F.min("c").alias("est_count"))
        .select(
            F.col("w").alias("word"),
            "true_count",
            "est_count",
            (F.col("est_count") - F.col("true_count")).alias("overestimate"),
        )
        .orderBy(F.col("true_count").desc(), "word")
    )


def bloom_prefilter_join(
    lineitem: DataFrame,
    orders: DataFrame,
    *,
    priority: str = "1-URGENT",
    m_bits: int = 1 << 18,
    k_hashes: int = 3,
) -> DataFrame:
    """Explicit runtime Bloom-filter join pruning: build an ``m_bits``
    Bloom filter over the (filtered) build-side join keys, push its
    membership test into the probe-side SCAN as a map-side predicate,
    then run the exact join. False positives only cost a little extra
    probe traffic — the exact join removes them — so the result is
    bit-identical to the plain join (that IS the oracle) while the
    shuffle only carries probe rows that can possibly match.

    This is the hand-rolled twin of Spark's AQE runtime bloom filter
    (spark.sql.optimizer.runtime.bloomFilter), for the cases the
    optimizer declines (non-equi residuals, DSv2 sources it won't
    inject through, or a build side derived outside this query). At
    100 TB the probe scan is the dominant cost; a 2% FP filter drops
    ~all non-matching rows before the exchange.

    Mechanics: k seeded xxhash64 probes mod ``m_bits``; the filter
    words are built with ONE partial+final bit_or aggregation
    (m_bits/64 rows — bounded, like Spark's own driver-collected
    runtime filter), inlined as ONE parsed array literal (see
    SCALE.md: literal models reach the JVM in one parse), and the
    probe test is a pure JVM expression in the scan stage.
    """
    keys = orders.filter(F.col("o_orderpriority") == priority).select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    n_words = m_bits // 64
    pos = [
        F.pmod(F.xxhash64(F.col("o_orderkey"), F.lit(i)), F.lit(m_bits))
        for i in range(k_hashes)
    ]
    contrib = keys.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        (p / 64).cast("int").alias("w"),
                        F.call_function(
                            "shiftleft", F.lit(1).cast("bigint"), (p % 64).cast("int")
                        ).alias("b"),
                    )
                    for p in pos
                ]
            )
        ).alias("c")
    )
    words_rows = (
        contrib.groupBy(F.col("c.w").alias("w"))
        .agg(F.bit_or(F.col("c.b")).alias("bits"))
        .collect()
    )  # bounded: <= m_bits/64 rows (4096 at the default), like Spark's
    # own runtime-filter subquery result
    words = [0] * n_words
    for r in words_rows:
        words[r["w"]] = r["bits"]
    arr_sql = "array(" + ",".join(f"{x}L" for x in words) + ")"
    probe = lineitem.withColumn("__bloom", F.expr(arr_sql))
    tests = []
    for i in range(k_hashes):
        p = F.pmod(F.xxhash64(F.col("l_orderkey"), F.lit(i)), F.lit(m_bits))
        word = F.element_at(F.col("__bloom"), (p / 64).cast("int") + F.lit(1))
        bit = F.call_function(
            "shiftleft", F.lit(1).cast("bigint"), (p % 64).cast("int")
        )
        tests.append(word.bitwiseAND(bit) != 0)
    all_probes = functools.reduce(operator.and_, tests)
    passed = probe.filter(all_probes).drop("__bloom")
    joined = passed.join(F.broadcast(keys), passed.l_orderkey == keys.o_orderkey)
    return (
        joined.groupBy(F.date_trunc("month", "o_orderdate").alias("order_month"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.count_distinct("l_orderkey").alias("n_orders"),
            # prices/discounts are exact 2dp decimals, so the true sum
            # is an exact 1e-4 multiple; +1e-6 pushes BOTH engines'
            # float sums (error ~1e-7 here) off the .xx5 round boundary
            # the same way without ever crossing a 1e-4 grain
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) + 1e-6,
                2,
            ).alias("revenue"),
        )
        .orderBy("order_month")
    )


#: sentinel row carrying a summary's exact decrement total
MG_BUDGET_KEY = "\x00__decrements__"


def mg_summaries(
    words: DataFrame, *, m: int = 64, n_parts: int = 8
) -> DataFrame:
    """Per-partition Misra-Gries summaries of a (doc_id, pos, w) word
    stream: (w, c) counter rows plus ONE ``MG_BUDGET_KEY`` row per
    partition holding its exact decrement total.  Summaries from any
    number of partitions/batches merge by per-word addition, with the
    budget rows summing into the global error bound (Agarwal et al.,
    "Mergeable Summaries")."""
    import pandas as pd

    stream = words.repartition(n_parts, "doc_id").sortWithinPartitions(
        "doc_id", "pos"
    )

    def mg(batches):
        counters: dict[str, int] = {}
        decrements = 0
        for pdf in batches:
            for w in pdf["w"]:
                c = counters.get(w)
                if c is not None:
                    counters[w] = c + 1
                elif len(counters) < m:
                    counters[w] = 1
                else:
                    decrements += 1
                    dead = []
                    for key in counters:
                        if counters[key] == 1:
                            dead.append(key)
                        else:
                            counters[key] -= 1
                    for key in dead:
                        del counters[key]
        out_w = list(counters.keys()) + [MG_BUDGET_KEY]
        out_c = [counters[w] for w in counters] + [decrements]
        yield pd.DataFrame({"w": out_w, "c": out_c})

    return stream.select("w").mapInPandas(mg, schema="w string, c long")


def tokenized_words(
    documents: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, pos, w) word stream — shared tokenization for the
    frequency sketches."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), "\\s+")
    return documents.select(
        F.col(id_col).alias("doc_id"), F.posexplode(toks).alias("pos", "w")
    ).filter(F.col("w") != "")


def heavy_hitters(
    documents: DataFrame,
    *,
    m: int = 64,
    k: int = 20,
    n_parts: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Misra-Gries heavy hitters over corpus word frequencies, built as
    MERGEABLE per-partition summaries — the deterministic frequent-items
    sketch that completes the sketch family (HLL distincts, CMS point
    counts, GK percentiles).

    Each partition streams its words through an ``m``-counter MG
    summary (bounded state regardless of vocabulary) and reports its
    counters PLUS its exact decrement total d_p; summaries merge by
    per-word counter addition (Agarwal et al., "Mergeable Summaries").
    The merged estimate satisfies the two-sided contract
    ``true - sum(d_p) <= est <= true``, checked here against the exact
    arm for the top-``k`` words: ``never_over`` (MG never
    overestimates) and ``within_bound`` (underestimate <= global error
    budget).  Production keeps only the summaries; the exact arm
    exists to make the contract a driver-checkable fact.

    Determinism (required by the cross-engine harness): the word
    stream is hash-partitioned by ``id_col`` into a FIXED ``n_parts``
    and sorted by (doc_id, pos) within partitions, so every run feeds
    each MG instance the identical stream regardless of input layout
    or cluster width. At 100 TB raise ``n_parts`` to the cluster scale
    — the contract holds for any partitioning; only exact replay needs
    it pinned.
    """
    words = tokenized_words(documents, text_col=text_col, id_col=id_col)
    exact = words.groupBy("w").agg(F.count(F.lit(1)).alias("true_count"))
    probes = exact.orderBy(F.col("true_count").desc(), "w").limit(k)

    summaries = mg_summaries(words, m=m, n_parts=n_parts)
    merged = summaries.groupBy("w").agg(F.sum("c").alias("est"))
    err = merged.filter(F.col("w") == MG_BUDGET_KEY).select(
        F.col("est").alias("error_bound")
    )
    est = merged.filter(F.col("w") != MG_BUDGET_KEY)
    return (
        probes.join(est, "w", "left")
        .crossJoin(F.broadcast(err))
        .select(
            F.col("w").alias("word"),
            "true_count",
            (F.coalesce(F.col("est"), F.lit(0)) <= F.col("true_count")).alias(
                "never_over"
            ),
            (
                F.col("true_count") - F.coalesce(F.col("est"), F.lit(0))
                <= F.col("error_bound")
            ).alias("within_bound"),
        )
        .orderBy(F.col("true_count").desc(), "word")
    )


def kmv_set_overlap(
    events: DataFrame,
    key_col: str = "user_id",
    group_col: str = "event_type",
    k: int = 128,
    salt_buckets: int = 64,
) -> DataFrame:
    """KMV (k-minimum-values) distinct sketches per group + pairwise
    Jaccard / intersection ESTIMATES with exact arms — the set-overlap
    question HLL cannot answer (HLL unions; it never intersects).
    Completes the mergeable-sketch family: HLL distincts / CMS point
    counts / GK percentiles / MG frequent items / KMV set algebra.

    The sketch of a set is its k smallest distinct hash values under a
    uniform hash.  It is trivially mergeable (k smallest of the
    concatenation), supports distinct estimation
    (``(k-1) * M / kth_min``), and — uniquely — resemblance: for the
    k smallest values of A ∪ B, the fraction also present in both
    sketches is an unbiased Jaccard estimator (Beyer et al., "On
    Synopses for Distinct-Value Estimation Under Multiset Operations",
    SIGMOD'07; Broder's min-wise resemblance).

    Built on the engine-portable md5-31 hash, so an independent SQL
    engine re-derives every sketch element, estimate, and flag
    bit-for-bit — the same full-sketch-replay oracle posture as
    ``cms_word_counts``.

    Scale shape: ONE fact shuffle (the (group, key) distinct); the
    per-group k-smallest is TWO-PHASE — k smallest within each of
    ``salt_buckets`` hash sub-buckets in parallel (any global top-k
    element is top-k in its own bucket), then k smallest of the
    <= salt_buckets * k survivors — so no group ever sorts its full
    distinct set in one task.  Everything downstream of the distinct
    is sketch-sized (<= groups * k rows).  The exact arms (per-group
    distinct + pairwise intersection) are the driver-checkable
    contract, same pattern as heavy_hitters' exact arm; production
    keeps only the sketches.
    """
    from flink_elasticsearch_ingestion_spark.operators.dedup import (
        portable_hash31,
    )

    m_space = 2147483647  # md5-31 hash space (exclusive upper bound)
    keys = events.select(
        F.col(group_col).alias("grp"),
        F.col(key_col).cast("string").alias("__key"),
    ).distinct()
    hashed = keys.select(
        "grp", portable_hash31(F.col("__key")).alias("h")
    ).distinct()

    w1 = Window.partitionBy(
        "grp", F.pmod(F.col("h"), F.lit(salt_buckets))
    ).orderBy("h")
    cand = (
        hashed.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )
    w2 = Window.partitionBy("grp").orderBy("h")
    sk = cand.withColumn("rn", F.row_number().over(w2)).filter(F.col("rn") <= k)
    sketches = sk.groupBy("grp").agg(
        F.sort_array(F.collect_list("h")).alias("sketch"),
        F.count(F.lit(1)).alias("n_sk"),
        F.max("h").alias("kth"),
    )
    # distinct estimate: exact when the sketch holds the whole set
    # (n_sk < k), else the classic (k-1) * M / kth_min
    est_distinct = F.when(
        F.col("n_sk") < k, F.col("n_sk").cast("double")
    ).otherwise((k - 1) * F.lit(float(m_space)) / F.col("kth"))
    sketches = sketches.withColumn("est_d", est_distinct)

    exact_d = hashed.groupBy("grp").agg(F.count(F.lit(1)).alias("exact_d"))
    per_group = sketches.join(exact_d, "grp")

    a = per_group.select(
        F.col("grp").alias("grp_a"),
        F.col("sketch").alias("sk_a"),
        F.col("n_sk").alias("nsk_a"),
        F.col("est_d").alias("est_a"),
        F.col("exact_d").alias("exact_a"),
    )
    b = per_group.select(
        F.col("grp").alias("grp_b"),
        F.col("sketch").alias("sk_b"),
        F.col("n_sk").alias("nsk_b"),
        F.col("est_d").alias("est_b"),
        F.col("exact_d").alias("exact_b"),
    )
    pairs = a.join(b, F.col("grp_a") < F.col("grp_b"))

    union_k = F.slice(
        F.array_sort(F.array_union(F.col("sk_a"), F.col("sk_b"))), 1, k
    )
    both = F.array_intersect(F.col("sk_a"), F.col("sk_b"))
    in_both = F.size(F.array_intersect(union_k, both))
    j_est = in_both.cast("double") / F.size(union_k)
    union_full = F.array_sort(F.array_union(F.col("sk_a"), F.col("sk_b")))
    union_est = F.when(
        F.size(union_full) < k, F.size(union_full).cast("double")
    ).otherwise((k - 1) * F.lit(float(m_space)) / F.element_at(union_k, k))

    # exact pairwise intersection: ONE shuffle on the key — each key
    # contributes its group set, pairs fan out map-side
    grp_sets = hashed.groupBy("h").agg(F.collect_set("grp").alias("gs"))
    pair_rows = grp_sets.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        F.array_sort("gs"),
                        lambda x: F.transform(
                            F.array_sort("gs"),
                            lambda y: F.struct(
                                x.alias("ga"), y.alias("gb")
                            ),
                        ),
                    )
                ),
                lambda s: s["ga"] < s["gb"],
            )
        ).alias("p")
    )
    exact_inter = pair_rows.groupBy(
        F.col("p.ga").alias("grp_a"), F.col("p.gb").alias("grp_b")
    ).agg(F.count(F.lit(1)).alias("exact_inter"))

    out = (
        pairs.join(exact_inter, ["grp_a", "grp_b"], "left")
        .na.fill({"exact_inter": 0})
        .select(
            "grp_a",
            "grp_b",
            "exact_a",
            "exact_b",
            F.round(F.col("est_a") + 1e-9, 2).alias("est_a"),
            F.round(F.col("est_b") + 1e-9, 2).alias("est_b"),
            F.round(j_est + 1e-9, 6).alias("est_jaccard"),
            F.round(
                (
                    F.col("exact_inter").cast("double")
                    / (
                        F.col("exact_a") + F.col("exact_b") - F.col("exact_inter")
                    )
                )
                + 1e-9,
                6,
            ).alias("exact_jaccard"),
            "exact_inter",
            F.round(j_est * union_est + 1e-9, 2).alias("est_inter"),
        )
        .withColumn(
            # accuracy contract: KMV Jaccard error concentrates within
            # ~3/sqrt(k) of truth (binomial over the k union minima)
            "within_tol",
            (
                F.abs(F.col("est_jaccard") - F.col("exact_jaccard"))
                <= 3.0 / (k ** 0.5)
            ),
        )
        .orderBy("grp_a", "grp_b")
    )
    return out


def target_encode(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    *,
    smoothing: float = 10.0,
) -> DataFrame:
    """Smoothed target (mean) encoding — the classic categorical
    feature for gradient-boosted / linear models:

        enc(c) = (sum_c + m * global_mean) / (n_c + m)

    Rare categories shrink toward the global mean (m = ``smoothing``
    virtual rows), killing the high-cardinality overfit of the naive
    per-category mean.

    Scale shape: ONE partial+final agg on the category key plus a
    1-row global-mean broadcast.  Decimal sums are rounded to 2 dp
    before entering double arithmetic (the engine-wide float-hazard
    rule), so every encoded value is engine-exact.
    """
    per_cat = df.groupBy(cat_col).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum(target_col), 2).cast("double").alias("sum_t"),
    )
    glob = df.agg(
        F.count(F.lit(1)).cast("double").alias("n_all"),
        F.round(F.sum(target_col), 2).cast("double").alias("sum_all"),
    )  # 1-row scalar
    m = float(smoothing)
    return (
        per_cat.crossJoin(F.broadcast(glob))
        .select(
            cat_col,
            "n_rows",
            F.round(
                F.col("sum_t") / F.col("n_rows") + F.lit(1e-9), 4
            ).alias("raw_mean"),
            F.round(
                (
                    F.col("sum_t")
                    + F.lit(m) * (F.col("sum_all") / F.col("n_all"))
                )
                / (F.col("n_rows") + F.lit(m))
                + F.lit(1e-9),
                4,
            ).alias("encoded"),
        )
        .orderBy(cat_col)
    )


def rfm_segments(orders: DataFrame) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation —
    the classic product-analytics cut, scored 1-5 per dimension by
    QUANTILE THRESHOLDS rather than a global NTILE window:

    - per-customer metrics: one keyed agg over the fact table,
    - quintile breakpoints: ONE 1-row exact `percentile_approx`
      (accuracy = max -> quantile_disc semantics, the approx_stats
      correspondence) broadcast everywhere,
    - scores: pure map-side comparisons against the broadcast row.

    No single-partition window anywhere (the engine-wide rank
    discipline); threshold scoring is also what production RFM uses,
    since segment boundaries must stay FIXED while customers move
    between refreshes.  Recency scores INVERSELY (recent = 5).

    Returns the bounded segment-level summary (<= 125 rows):
    r/f/m scores, customer count, avg monetary value.
    """
    exact = 2147483647  # GK sketch at max accuracy == exact disc
    qs = [0.2, 0.4, 0.6, 0.8]
    ref = orders.agg(F.max("o_orderdate").alias("ref_date"))  # 1 row
    cust = (
        orders.crossJoin(F.broadcast(ref))
        .groupBy("o_custkey")
        .agg(
            F.datediff(
                F.max("ref_date"), F.max("o_orderdate")
            ).cast("int").alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum("o_totalprice"), 2)
            .cast("double")
            .alias("monetary"),
        )
    )
    breaks = cust.agg(
        F.percentile_approx("recency_days", qs, exact).alias("rb"),
        F.percentile_approx("frequency", qs, exact).alias("fb"),
        F.percentile_approx("monetary", qs, exact).alias("mb"),
    )  # 1-row scalar

    def _above(col: str, arr: str) -> Column:
        # number of breakpoints strictly below the value (0..4)
        return (
            F.aggregate(
                F.col(arr),
                F.lit(0),
                lambda acc, b: acc
                + F.when(F.col(col) > b, F.lit(1)).otherwise(F.lit(0)),
            )
        )

    scored = (
        cust.crossJoin(F.broadcast(breaks))
        .select(
            "o_custkey",
            "monetary",
            (F.lit(5) - _above("recency_days", "rb")).alias("r_score"),
            (F.lit(1) + _above("frequency", "fb")).alias("f_score"),
            (F.lit(1) + _above("monetary", "mb")).alias("m_score"),
        )
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(
                F.round(F.sum("monetary"), 2) / F.count(F.lit(1)) + F.lit(1e-9),
                4,
            ).alias("avg_monetary"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


def revenue_gini(
    orders: DataFrame, *, coarse_edges: tuple[float, ...] = ()
) -> DataFrame:
    """Gini coefficient of revenue concentration across customers —
    the inequality summary (0 = perfectly even spend, ->1 = one whale)
    computed from the exact rank formula

        G = 2 * sum(rank_i * x_i) / (n * sum(x)) - (n + 1) / n

    with every customer's global ascending rank built TWO-PHASE
    (literal coarse range buckets -> per-bucket row_number + broadcast
    prefix-sum offsets — the equi_depth_buckets/shuffle_order
    discipline), so no single-partition window ever sees the customer
    axis.  Edge choice only balances work, never results.

    Returns one row: n_customers, total_revenue, gini.
    """
    per_cust = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).cast("double").alias("rev")
    )
    edges = list(coarse_edges) or [
        float(e) for e in range(200_000, 2_000_000, 200_000)
    ]
    coarse = F.lit(len(edges))
    for i, e in reversed(list(enumerate(edges))):
        coarse = F.when(F.col("rev") < F.lit(e), F.lit(i)).otherwise(coarse)
    src = per_cust.select(
        "rev", F.col("o_custkey").alias("ck"), coarse.alias("__coarse")
    )
    within = F.row_number().over(
        Window.partitionBy("__coarse").orderBy("rev", "ck")
    )
    counts = src.groupBy("__coarse").agg(F.count(F.lit(1)).alias("__n"))
    offsets = counts.select(
        "__coarse",
        F.coalesce(
            F.sum("__n").over(
                Window.orderBy("__coarse").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("__offset"),
    )
    ranked = (
        src.withColumn("__within", within)
        .join(F.broadcast(offsets), "__coarse")
        .select(
            "rev", (F.col("__offset") + F.col("__within")).alias("rk")
        )
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.round(F.sum("rev"), 2).alias("total_revenue"),
        F.round(
            F.lit(2.0)
            * F.sum(F.col("rk") * F.col("rev"))
            / (F.count(F.lit(1)) * F.sum("rev"))
            - (F.count(F.lit(1)) + F.lit(1.0)) / F.count(F.lit(1))
            + F.lit(1e-9),
            6,
        ).alias("gini"),
    )


def groupwise_ols(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group closed-form OLS (slope, intercept, r^2) of ``y`` on
    ``x`` — the grouped regression every contribution/elasticity
    analysis runs, computed WITHOUT any iterative fitting: one
    partial+final aggregate collecting the five sufficient statistics
    (n, Sx, Sy, Sxy, Sxx, Syy), then pure scalar arithmetic.

    Cross-engine float discipline: the sufficient statistics are
    summed as EXACT decimals (decimal x decimal products never round,
    so the sums are order-independent — the property a double sum
    lacks), cast to double once (one correctly-rounded conversion),
    and the closed form is a fixed IEEE op sequence — deterministic on
    any engine.  Degenerate groups (zero x-variance or y-variance)
    emit null slope/intercept/r2 instead of dividing by zero (guarded
    IN the expression — ANSI mode may evaluate eagerly).

    Scale shape: one aggregate, group-count-sized output; at any
    corpus size the wide work is the single keyed shuffle of five
    partial sums per group."""
    x = F.col(x_col)
    y = F.col(y_col)
    g = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = nd * F.col("syy") - F.col("sy") * F.col("sy")
    slope = F.when(denx != 0, num / denx)
    return (
        g.select(
            *group_cols,
            "n",
            F.round(slope + F.lit(1e-9), 6).alias("slope"),
            F.round(
                F.when(
                    denx != 0, (F.col("sy") - (num / denx) * F.col("sx")) / nd
                )
                + F.lit(1e-9),
                6,
            ).alias("intercept"),
            F.round(
                F.when(
                    (denx != 0) & (deny != 0), (num * num) / (denx * deny)
                )
                + F.lit(1e-9),
                6,
            ).alias("r2"),
        )
        .orderBy(*group_cols)
    )


def weighted_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str,
    *,
    percents: tuple[int, ...] = (25, 50, 75),
) -> DataFrame:
    """Per-group WEIGHTED quantiles (lower/type-1: the smallest value v
    whose cumulative weight reaches p% of the group total) — e.g. "the
    quantity level below which half the revenue sits", the
    revenue-weighted view an unweighted percentile cannot give.

    Exactness contract: weights must already be EXACT integers (the
    caller quantizes, e.g. cents); then cumulative sums, totals, and
    every threshold test ``100*cum >= p*total`` are pure int64
    arithmetic — bit-identical on any engine, no float anywhere.

    Scale shape: ONE partial+final aggregate to (group, distinct
    value) with summed weights — the fact table never re-shuffles —
    then windows over the BOUNDED distinct-value axis (50 quantity
    levels, a price grid, a rating scale...; the day-axis discipline).
    For unbounded continuous values, quantize the value column first
    or swap in approx_percentile."""
    g = df.groupBy(group_col, value_col).agg(
        F.sum(weight_col).alias("w")
    )
    wc = Window.partitionBy(group_col).orderBy(value_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy(group_col)
    cum = g.select(
        group_col,
        value_col,
        F.sum("w").over(wc).alias("cum"),
        F.sum("w").over(wt).alias("total"),
    )
    aggs = [F.max("total").alias("total_weight")]
    for p in percents:
        aggs.append(
            F.min(
                F.when(
                    F.lit(100) * F.col("cum") >= F.lit(int(p)) * F.col("total"),
                    F.col(value_col),
                )
            ).alias(f"p{int(p)}")
        )
    return cum.groupBy(group_col).agg(*aggs).orderBy(group_col)


def relational_division(
    df: DataFrame,
    dividend_col: str,
    divisor_col: str,
    divisor: DataFrame | None = None,
) -> DataFrame:
    """Relational division — "the entities related to ALL values of the
    divisor set" (Codd's / operator; the FOR ALL query SQL famously
    lacks): e.g. customers whose orders span every order priority.

    Implemented as the count-matching form (the only shape that scales):
    one DISTINCT (entity, value) projection, one per-entity count, one
    1-row broadcast of the divisor cardinality, keep entities whose
    distinct-value count equals it.  No double-negation correlated
    NOT EXISTS (which plans as a nested-loop anti-join twice), no
    cross join of entities x divisor.  When ``divisor`` is None the
    divisor set is the distinct values present in ``df`` itself
    (division by the active domain).

    Output: ``(entity, n_values)`` for full-coverage entities."""
    pairs = df.select(
        F.col(dividend_col).alias("entity"),
        F.col(divisor_col).alias("val"),
    ).distinct()
    if divisor is None:
        dom = pairs.select("val").distinct()
    else:
        dom = divisor.select(F.col(divisor_col).alias("val")).distinct()
        pairs = pairs.join(F.broadcast(dom), "val")  # ignore extras
    need = dom.agg(F.count(F.lit(1)).alias("need"))
    counts = pairs.groupBy("entity").agg(
        F.count(F.lit(1)).alias("n_values")
    )
    return (
        counts.crossJoin(F.broadcast(need))  # 1-row scalar
        .filter(F.col("n_values") == F.col("need"))
        .select("entity", "n_values")
        .orderBy("entity")
    )


def join_size_estimate(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    *,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Sketch-based equi-join cardinality estimation (the AMS /
    count-min inner-product estimator, Alon-Gibbons-Matias-Szegedy):
    |A join B| = sum_k cA(k)*cB(k) is estimated by the bucket-wise
    inner product of each side's count sketch, taking the MIN across
    ``depth`` independent hash rows.  This is what a cost-based
    optimizer (or a pipeline pre-flight check) runs BEFORE committing
    to a shuffle strategy: sketch state is ``depth x width`` cells per
    side regardless of data volume, mergeable cell-wise across shards,
    and the estimator never underestimates.

    The exact arm (per-key count join) is computed alongside to pin
    the contract — production keeps only the sketches.  Hashes are the
    engine-portable md5 family, so every cell and the estimate replay
    bit-for-bit in an independent engine; all arithmetic is exact
    int64.

    Output: ONE row (n_left, n_right, true_join_size, est_join_size,
    overestimate, rel_error)."""
    from .dedup import portable_hash31

    # r11 optimization round (guide §2.3, "aggregate before you
    # shuffle" / shuffle keys not payloads): every downstream consumer
    # — sketch cells, exact arm, row counts — is a pure function of
    # the per-key count tables, so collapse each side to (key, count)
    # ONCE and derive everything from that.  The sketch then pays one
    # portable md5 per DISTINCT key x depth instead of per ROW x depth
    # (lineitem at sf0.1: 600k rows -> 150k keys, a 4x cut of the md5
    # work), the per-side scan count drops from 3 to 1, and every
    # value is bit-identical: bucket counts are sums of per-key counts,
    # n_left/n_right are sums of the same counts (null keys included —
    # groupBy keeps the null group exactly as count(1) did).
    # r12 (ADVICE r11): the count tables keep the NATIVE key type —
    # the exact arm joins native keys again (keys equal under numeric
    # coercion, e.g. int 1 vs decimal 1.00, match as they did before
    # r11), and the groupBy exchange carries the narrower native
    # column; the string cast happens only inside sketch(), where the
    # md5 needs text.
    ca = left.groupBy(F.col(left_key).alias("k")).agg(
        F.count(F.lit(1)).alias("ca")
    )
    cb = right.groupBy(F.col(right_key).alias("k")).agg(
        F.count(F.lit(1)).alias("cb")
    )
    # Keys of different numeric types (int 1 vs double 1.0) join under
    # coercion but render as different text ('1' vs '1.0'); hashed apart
    # they would void the never-underestimates contract.  Such keys hash
    # the text of their double instead: keys equal under the join's
    # coercion are equal as doubles (+ 0.0 folds -0.0 onto 0.0, as the
    # join does).  Same-type keys keep their native text, and with it
    # the oracle's hashes.
    key_text = F.col("k").cast("string")
    lt, rt = left.schema[left_key].dataType, right.schema[right_key].dataType
    if lt != rt and isinstance(lt, NumericType) and isinstance(rt, NumericType):
        key_text = (F.col("k").cast("double") + F.lit(0.0)).cast("string")

    def sketch(kc: DataFrame, cnt: str) -> DataFrame:
        fan = kc.select(
            "k",
            F.col(cnt).alias("c0"),
            F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("j"),
        )
        bucket = (
            portable_hash31(
                F.concat(
                    F.lit("jse"),
                    F.col("j").cast("string"),
                    F.lit(":"),
                    key_text,
                )
            )
            % width
        )
        return (
            fan.select("j", bucket.alias("bucket"), "c0")
            .groupBy("j", "bucket")
            .agg(F.sum("c0").alias("c"))
        )

    sa = sketch(ca, "ca")
    sb = sketch(cb, "cb")
    est = (
        sa.join(
            F.broadcast(sb.select("j", "bucket", F.col("c").alias("cb"))),
            ["j", "bucket"],
        )
        .groupBy("j")
        .agg(F.sum(F.col("c") * F.col("cb")).alias("row_est"))
        .agg(F.min("row_est").alias("est_join_size"))
    )
    true_sz = ca.join(cb, "k").agg(
        F.coalesce(F.sum(F.col("ca") * F.col("cb")), F.lit(0)).alias(
            "true_join_size"
        )
    )
    nl = ca.agg(F.coalesce(F.sum("ca"), F.lit(0)).alias("n_left"))
    nr = cb.agg(F.coalesce(F.sum("cb"), F.lit(0)).alias("n_right"))
    return (
        nl.crossJoin(nr)
        .crossJoin(true_sz)
        .crossJoin(est)  # all 1-row scalar frames
        .select(
            "n_left",
            "n_right",
            "true_join_size",
            "est_join_size",
            (F.col("est_join_size") - F.col("true_join_size")).alias(
                "overestimate"
            ),
            F.round(
                F.when(
                    F.col("true_join_size") > 0,
                    (
                        F.col("est_join_size") - F.col("true_join_size")
                    ).cast("double")
                    / F.col("true_join_size"),
                )
                + F.lit(1e-9),
                6,
            ).alias("rel_error"),
        )
    )


def waiting_suppliers(
    lineitem: DataFrame,
    orders: DataFrame,
    supplier: DataFrame,
    *,
    late_days: int = 60,
    k: int = 20,
) -> DataFrame:
    """TPC-H Q21-style "suppliers who kept orders waiting": in finished
    ('F') multi-supplier orders, find the supplier who was the SOLE
    late shipper (shipped more than ``late_days`` after the order
    date) — the reference query's double EXISTS / NOT EXISTS
    correlated self-joins, reformulated as ONE aggregate pass per
    order: count distinct suppliers, count distinct LATE suppliers,
    and when exactly one supplier is late in a >=2-supplier order,
    ``max(late supplier)`` IS that supplier.  The aggregate form
    shuffles lineitem once on the order key instead of self-joining it
    twice — the 100 TB win over the textbook plan.

    Returns the top-``k`` suppliers by wait count (name tiebreak).
    """
    late = F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), late_days)
    lo = lineitem.join(
        orders.filter(F.col("o_orderstatus") == "F").select(
            "o_orderkey", "o_orderdate"
        ),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    per_order = lo.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("n_late"),
        F.max(F.when(late, F.col("l_suppkey"))).alias("late_supp"),
    )
    waits = (
        per_order.filter((F.col("n_supps") >= 2) & (F.col("n_late") == 1))
        .groupBy("late_supp")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
    )
    return (
        waits.join(supplier, waits["late_supp"] == supplier["s_suppkey"])
        .select("s_name", "numwait")
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(k)
    )


def trimmed_stats(
    lineitem: DataFrame,
    *,
    trim_frac: float = 0.1,
    group_col: str = "l_returnflag",
    value_col: str = "l_extendedprice",
) -> DataFrame:
    """Per-group two-sided TRIMMED mean/min/max: drop the lowest and
    highest ``floor(trim_frac * n)`` values per group, aggregate the
    middle — the robust-stats member between plain mean (outlier-
    hostile) and ``winsorized_stats`` (which CLAMPS the tails instead
    of dropping them). Ranks come from a group-partitioned window
    (each partition holds one group's rows — the unpartitioned-window
    audit shape never appears), count rides the same window, and the
    trim bounds are pure rank arithmetic.
    """
    w = Window.partitionBy(group_col).orderBy(value_col, "l_orderkey", "l_linenumber")
    ranked = lineitem.select(
        group_col,
        value_col,
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1))
        .over(Window.partitionBy(group_col))
        .alias("n"),
    )
    k = F.floor(F.lit(float(trim_frac)) * F.col("n")).cast("bigint")
    kept = ranked.filter((F.col("rk") > k) & (F.col("rk") <= F.col("n") - k))
    return (
        kept.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.round(F.min(value_col), 2).alias("trimmed_min"),
            F.round(F.max(value_col), 2).alias("trimmed_max"),
            F.round(
                F.round(F.sum(value_col), 2) / F.count(F.lit(1)) + 1e-9, 4
            ).alias("trimmed_mean"),
        )
        .orderBy(group_col)
    )


def interval_overlap_pairs(
    events: DataFrame,
    *,
    gap_s: int = 600,
    key_col: str = "user_id",
    id_col: str = "event_id",
    ts_col: str = "ts",
) -> DataFrame:
    """All same-key event pairs whose ``gap_s``-second windows overlap
    (|ts_a - ts_b| <= gap_s) — the interval/range self-join behind
    co-occurrence mining, session stitching, and duplicate-burst
    detection.

    Scale shape: a naive range self-join is a per-key theta join —
    quadratic in the hottest key. Instead each event is BUCKETED by
    ``floor(ts / gap_s)``; any qualifying pair differs by at most one
    bucket, so probing buckets {b, b+1} from the left side against the
    right side's home bucket b finds every pair via a pure EQUI-join on
    (key, bucket). The residual |delta| predicate then filters exact
    overlaps, and (least, greatest) id projection + distinct collapses
    the one-or-two discovery paths per pair. Shuffle volume is 2x the
    fact (the two probe buckets), never key-count-squared.
    """
    base = events.select(
        F.col(key_col).alias("k"),
        F.col(id_col).alias("eid"),
        F.col(ts_col).cast("timestamp").alias("t"),
        (F.unix_timestamp(F.col(ts_col).cast("timestamp")) / gap_s)
        .cast("bigint")
        .alias("bucket"),
    )
    left = base.select(
        "k", F.col("eid").alias("id_l"), F.col("t").alias("t_l"),
        F.explode(F.array(F.col("bucket"), F.col("bucket") + 1)).alias("bucket"),
    )
    right = base.select(
        "k", F.col("eid").alias("id_r"), F.col("t").alias("t_r"), "bucket"
    )
    return (
        left.join(right, ["k", "bucket"])
        .filter(
            (F.col("id_l") != F.col("id_r"))
            & (
                F.abs(
                    F.unix_timestamp("t_l") - F.unix_timestamp("t_r")
                )
                <= gap_s
            )
        )
        .select(
            F.col("k").alias(key_col),
            F.least("id_l", "id_r").alias("event_a"),
            F.greatest("id_l", "id_r").alias("event_b"),
        )
        .distinct()
        .orderBy(key_col, "event_a", "event_b")
    )


def dormant_rich_customers(
    customer: DataFrame, orders: DataFrame, *, since: str = "2001-01-01"
) -> DataFrame:
    """TPC-H Q22 pattern on this schema's columns: customers with no
    orders SINCE a cutoff whose balance beats the average POSITIVE
    balance — grouped by nation (the schema's stand-in for Q22's phone
    country code; dormancy-since replaces never-ordered because this
    fixture's order history covers every customer).

    Plan shape: one scalar aggregate (1-row broadcast — the legitimate
    scalar-subquery BNLJ), an anti join against the recent-orders key
    set, and a nation-cardinality group-by. The date predicate pushes
    to the orders scan; the anti join shuffles ids only."""
    avg_pos = customer.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    rich = customer.join(F.broadcast(avg_pos)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    dormant = rich.join(
        orders.filter(F.col("o_orderdate") >= F.lit(since))
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct(),
        "c_custkey",
        "left_anti",
    )
    return (
        dormant.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal") + F.lit(1e-9), 2).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )
