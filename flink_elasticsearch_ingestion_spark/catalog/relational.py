"""Catalog family: joins / aggregations / set ops / grouping sets / TPC-H-style analytics.

Each query (QUERIES) sits next to its DuckDB oracle (ORACLES) so
the pair is reviewed and edited together — drift between the
Spark plan and the SQL twin stays visible in one diff."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_elasticsearch_ingestion_spark.operators import (
    relational as R,
)
from flink_elasticsearch_ingestion_spark.functions import urls as U
from flink_elasticsearch_ingestion_spark.catalog._shared import (
    _t,
    _hilbert_sql,
)
from flink_elasticsearch_ingestion_spark.session import context_tmpdir


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    ).orderBy("event_id")

def q_users_never_purchased(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-diff shape (anti join on the stream): users with click
    events but no purchase events."""
    events = _t(spark, sf_dir, "events")
    clickers = events.filter(F.col("event_type") == "click").select("user_id").distinct()
    buyers = events.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    return clickers.join(buyers, "user_id", "left_anti").orderBy("user_id")

def q_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing with the reference's 9200 port default (core.clj:36-46),
    exercised on synthesized URL lists."""
    nation = _t(spark, sf_dir, "nation")
    urls = nation.select(
        "n_nationkey",
        F.concat(
            F.lit("http://node"),
            F.col("n_nationkey"),
            F.lit(".example.com"),
            F.when(F.col("n_nationkey") % 2 == 0, F.lit(":9300")).otherwise(F.lit("")),
        ).alias("url"),
    )
    return U.parse_url_columns(urls, "url").select(
        "n_nationkey", "host", "scheme", "port"
    ).orderBy("n_nationkey")

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = R.pricing_summary(_t(spark, sf_dir, "lineitem"))
    return df.select(
        "l_returnflag",
        "l_linestatus",
        F.round("sum_qty", 2).alias("sum_qty"),
        F.round("sum_base_price", 2).alias("sum_base_price"),
        F.round("sum_disc_price", 2).alias("sum_disc_price"),
        F.round("sum_charge", 2).alias("sum_charge"),
        # avgs derived from 2-decimal-rounded sums: both engines then
        # divide bit-identical doubles, so round(.,4) can't straddle an
        # FP half-boundary differently (raw avg() did, on real data)
        F.round(F.round("sum_qty", 2) / F.col("count_order") + 1e-9, 4).alias("avg_qty"),
        F.round(F.round("sum_base_price", 2) / F.col("count_order") + 1e-9, 4).alias("avg_price"),
        F.round(F.round("sum_disc", 2) / F.col("count_order") + 1e-9, 4).alias("avg_disc"),
        "count_order",
    )

def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = R.top_revenue_orders(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )
    return df.select(
        "o_orderkey", "o_orderdate", "o_orderpriority", F.round("revenue", 2).alias("revenue")
    )

def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = R.local_supplier_volume(
        _t(spark, sf_dir, "region"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "supplier"),
        region_name="EUROPE",
    )
    return df.select("n_name", F.round("revenue", 2).alias("revenue"))

def q_returned_item_losses(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = R.returned_item_losses(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "nation"),
    )
    return df.select(
        "c_custkey", "c_name", "n_name", F.round("revenue", 2).alias("revenue")
    )

def q_large_quantity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.large_quantity_orders(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
    )

def q_nation_region_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.nation_region_broadcast(_t(spark, sf_dir, "nation"), _t(spark, sf_dir, "region"))

def q_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.customers_with_orders(_t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"))

def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.customers_without_orders(_t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"))

def q_top_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.top_order_per_customer(_t(spark, sf_dir, "orders"))

def q_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = R.revenue_rollup(_t(spark, sf_dir, "lineitem"))
    return df.select(
        "l_returnflag", "l_linestatus", F.round("sum_qty", 2).alias("sum_qty"), "n_rows"
    )

def q_order_priority_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = R.order_priority_cube(_t(spark, sf_dir, "orders"))
    return df.select(
        "o_orderstatus", "o_orderpriority", F.round("sum_price", 2).alias("sum_price"), "n_orders"
    )

def q_returnflag_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = R.returnflag_pivot(_t(spark, sf_dir, "lineitem"))
    return df.select(
        "l_returnflag",
        F.round("qty_open", 2).alias("qty_open"),
        F.round("qty_filled", 2).alias("qty_filled"),
    )

def q_segment_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.segment_set_ops(_t(spark, sf_dir, "customer"))

def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.top_orders(_t(spark, sf_dir, "orders"))

def q_ship_within_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.ship_within_30d(_t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem"))

def q_events_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(
            # day as a string: DATE round-trips differently through
            # pandas in Spark (datetime.date) vs DuckDB (datetime64)
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.round(F.sum("value"), 2) / F.count(F.lit(1)) + 1e-9, 4).alias("avg_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("day", "event_type")
    )

def q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").alias("name_len"),
        F.regexp_extract("p_name", "^([a-z]+)", 1).alias("first_word"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        F.substring("p_name", 1, 3).alias("prefix3"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("snake_name"),
    ).orderBy("p_partkey")

def q_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.round("p_retailprice", 0).alias("price_round"),
        F.round(F.sqrt("p_retailprice"), 6).alias("price_sqrt"),
        F.round(F.log("p_retailprice"), 6).alias("price_ln"),
        F.abs(F.col("p_retailprice") - 1000).alias("price_dev"),
        (F.col("p_size") % 5).alias("size_mod"),
    ).orderBy("p_partkey")

def q_orders_above_cust_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.orders_above_customer_avg(_t(spark, sf_dir, "orders"))

def q_purchases_after_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.purchases_after_click(_t(spark, sf_dir, "events"))

def q_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.date_functions(_t(spark, sf_dir, "orders"))

def q_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map scalar surface: create_map, element_at, size, map_keys,
    map_values (list outputs flattened to csv so the cross-engine value
    hash compares scalars)."""
    events = _t(spark, sf_dir, "events")
    m = F.create_map(
        F.lit("type"), F.col("event_type"), F.lit("uid"), F.col("user_id").cast("string")
    )
    return events.select(
        "event_id",
        F.element_at(m, "type").alias("type_val"),
        F.element_at(m, "uid").alias("uid_val"),
        F.size(m).alias("n_entries"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_csv"),
        F.array_join(F.array_sort(F.map_values(m)), ",").alias("values_csv"),
    ).orderBy("event_id")

def q_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.price_quantiles(_t(spark, sf_dir, "orders"))

def q_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.order_stats(_t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem"))

def q_arg_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.arg_extremes(_t(spark, sf_dir, "events"))

def q_user_event_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded collect_set per user; the array is flattened to a sorted
    CSV string for the contract surface (the driver's value-hash
    canonicalizer can't sort raw array cells — same convention as
    map_functions' keys_csv)."""
    return R.user_event_sets(_t(spark, sf_dir, "events")).select(
        "user_id", F.array_join("event_types", ",").alias("event_types_csv")
    )

def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated equi-join (heavy-hitter join keys): the small
    build side is replicated per salt value so one hot probe key
    spreads over ``salt_buckets`` reducers instead of one. Results must
    equal the plain inner join — which is exactly what the oracle
    checks (join + rollup vs DuckDB's plain join)."""
    from flink_elasticsearch_ingestion_spark.operators.skew import (
        salted_broadcast_join,
    )

    events = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = salted_broadcast_join(events, cust, on="user_id", salt_buckets=8)
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value") + F.lit(1e-9), 2).alias("total_value"),
        )
        .orderBy("c_mktsegment")
    )

def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (heavy-hitter mitigation): results
    must be identical to the plain group-by, which is exactly what the
    oracle checks."""
    from flink_elasticsearch_ingestion_spark.operators.skew import salted_agg

    events = _t(spark, sf_dir, "events")
    return salted_agg(
        events,
        ["event_type"],
        {
            "n_events": (F.count(F.lit(1)), F.sum("n_events")),
            "total_raw": (F.sum("value"), F.sum("total_raw")),
            "max_value": (F.max("value"), F.max("max_value")),
        },
        salt_buckets=8,
    ).select(
        "event_type",
        "n_events",
        F.round("total_raw", 2).alias("total_value"),
        F.round("max_value", 6).alias("max_value"),
    ).orderBy("event_type")

def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.grouping_sets_revenue(spark, _t(spark, sf_dir, "lineitem"))

def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: HLL++ estimates are engine-specific."""
    return R.approx_distinct_counts(_t(spark, sf_dir, "events"))

def q_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch distinct rollup (daily DataSketches-HLL
    sketches union-merged per group). Oracle-checked via the accuracy
    contract: exact per-group distincts plus a sketch_ok flag the
    oracle pins TRUE — an estimator drifting past tolerance turns the
    row red."""
    return R.mergeable_distinct_rollup(_t(spark, sf_dir, "events"))

def q_hilbert_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering key over the same (price-bucket,
    custkey-residue) grid as ``zorder_key`` — no diagonal jumps, so
    per-file bounding boxes are tighter than Morton's; ONE aggregate
    fold over bit levels, exact int64 only."""
    from flink_elasticsearch_ingestion_spark.sources.layout import (
        hilbert_value,
    )

    orders = _t(spark, sf_dir, "orders")
    x = F.least(
        F.lit(65535), F.floor(F.col("o_totalprice") / 8).cast("bigint")
    )
    y = F.pmod(F.col("o_custkey"), 65536)
    return orders.select(
        "o_orderkey",
        x.alias("price_bucket"),
        y.alias("cust_bucket"),
        hilbert_value(x, y).alias("h_key"),
    ).orderBy("o_orderkey")

def q_incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-view incremental maintenance: enriched-orders view kept
    fresh via the delta-join algebra (dA|><|B_old + A_old|><|dB +
    dA|><|dB unioned onto the base view); the oracle recomputes the
    view naively, so a missed/duplicated delta term breaks the hash."""
    from flink_elasticsearch_ingestion_spark.operators.copy import (
        incremental_join_view,
    )

    return incremental_join_view(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "customer")
    )

def q_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS/CM inner-product join-cardinality estimate for
    lineitem JOIN orders on orderkey: depth x width integer sketches
    per side, bucket-wise product, min across rows; exact arm pins
    the never-underestimates contract.  All int64, md5-portable."""
    from flink_elasticsearch_ingestion_spark.operators.relational import (
        join_size_estimate,
    )

    return join_size_estimate(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        "l_orderkey",
        "o_orderkey",
    )

def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target (mean) encoding of order priority by total
    price (m=10 shrink toward the global mean): one category-keyed
    agg + a 1-row global broadcast; decimal sums rounded before
    double arithmetic per the engine float-hazard rule."""
    return R.target_encode(
        _t(spark, sf_dir, "orders"), "o_orderpriority", "o_totalprice"
    )

def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join skew preflight: top-20 heaviest events.user_id keys
    with share / cumulative share / multiple-of-average — the numbers
    that pick salting vs AQE vs broadcast before a 100 TB shuffle."""
    from flink_elasticsearch_ingestion_spark.operators.skew import (
        join_key_skew_profile,
    )

    return join_key_skew_profile(_t(spark, sf_dir, "events"), "user_id")

def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values (integer bucket arithmetic
    — exact on both engines; profiling primitive for corpus numeric
    columns). One map-side bucket expr + one small agg."""
    events = _t(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / 50).cast("int").alias("bucket")
    return (
        events.select(bucket)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("bucket")
    )

def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.promo_revenue_share(_t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part"))

def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.idle_rich_customers(_t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"))

def q_lonely_late_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.lonely_late_suppliers(
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
    )

def q_late_shipment_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.late_shipment_priorities(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )

def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.volume_shipping(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
    )

def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.market_share(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
        _t(spark, sf_dir, "part"),
    )

def q_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.product_type_profit(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "part"),
    )

def q_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.order_count_distribution(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )

def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.top_supplier(_t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "supplier"))

def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.small_quantity_revenue(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )

def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.disjunctive_revenue(_t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part"))

def q_priority_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.priority_value_percentiles(_t(spark, sf_dir, "orders"))

def q_similar_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.similar_part_names(_t(spark, sf_dir, "part"))

def q_parts_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.parts_supplier_counts(_t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part"))

def q_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.dominant_suppliers(_t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "supplier"))

def q_cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.cheapest_supplier_per_part(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "supplier")
    )

def q_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.approx_stats(_t(spark, sf_dir, "orders"))

def q_important_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.important_part_value(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
    )

def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The z-order clustering key over (price-bucket, custkey-residue)
    — the exact expression ``write_zordered`` sorts by, checked for
    bit-identical parity against the oracle's integer arithmetic."""
    from flink_elasticsearch_ingestion_spark.sources.layout import zorder_value

    orders = _t(spark, sf_dir, "orders")
    x = F.least(F.lit(65535), F.floor(F.col("o_totalprice") / 8).cast("bigint"))
    y = F.pmod(F.col("o_custkey"), 65536)
    return orders.select(
        "o_orderkey",
        x.alias("price_bucket"),
        y.alias("cust_bucket"),
        zorder_value(x, y).alias("z_key"),
    ).orderBy("o_orderkey")

def q_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-rollup maintenance, oracle-proven: history (80% of
    events) is pre-aggregated into a snapshot, the remaining 20% merges
    in via incremental_rollup — and the oracle recomputes the FULL
    aggregate from scratch, so a green row proves incremental == full."""
    events = _t(spark, sf_dir, "events").select(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("event_date"),
        "event_type",
        F.col("value").cast("decimal(18,4)").alias("value"),
        "event_id",
    )
    hist = events.filter(F.col("event_id") % 5 != 0)
    batch = events.filter(F.col("event_id") % 5 == 0)
    snapshot = hist.groupBy("event_date", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value")
    )
    merged = R.incremental_rollup(snapshot, batch, ["event_date", "event_type"])
    return merged.select(
        "event_date",
        "event_type",
        "n_events",
        F.round(F.col("total_value").cast("double"), 2).alias("total_value"),
    ).orderBy("event_date", "event_type")

def q_priority_shipping_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.priority_shipping_mix(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )

def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly new/retained/resurrected/churned user decomposition."""
    return R.growth_accounting(_t(spark, sf_dir, "events"))

def q_cms_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch with a visible error contract (portable md5
    hash family: DuckDB re-derives sketch cells and estimates)."""
    return R.cms_word_counts(_t(spark, sf_dir, "documents"))

def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.unpivot_pricing_metrics(_t(spark, sf_dir, "lineitem"))

def q_null_safe_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.null_safe_status_rollup(_t(spark, sf_dir, "orders"))

def q_weighted_discount_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.weighted_discount_udaf(_t(spark, sf_dir, "lineitem"))

def q_bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join pruning: urgent-order keys -> bloom ->
    map-side probe filter on lineitem -> exact join; result is
    bit-identical to the plain join (the oracle)."""
    return R.bloom_prefilter_join(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    )

def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries frequent-items sketch with its mergeable-summary
    error contract checked against the exact arm (top-20 words)."""
    return R.heavy_hitters(_t(spark, sf_dir, "documents"))

def q_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV k-minimum-values sketches per event type over user sets:
    distinct estimates plus pairwise Jaccard/intersection estimates
    with exact arms — the set-INTERSECTION sketch HLL cannot provide.
    Portable md5-31 hashes let DuckDB re-derive every sketch element
    and estimate bit-for-bit.  The sketched sets are USER-DAYS per
    type (users alone fully overlap at small SF — user-days give the
    partial overlaps that actually exercise the estimator)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "user_day",
        F.concat(
            F.col("user_id").cast("string"),
            F.lit(":"),
            F.to_date(F.col("ts").cast("timestamp")).cast("string"),
        ),
    )
    return R.kmv_set_overlap(ev, key_col="user_day")

def q_trimmed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group two-sided trimmed mean/min/max (drop floor(10% n) from
    each tail) — the robust-stats member between plain mean and the
    clamping winsorized_stats; group-partitioned ranks only."""
    return R.trimmed_stats(_t(spark, sf_dir, "lineitem"))

def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority revenue computed off a CO-LOCATED bucketed
    layout (sources/layout.py): lineitem and orders staged bucketed by
    the join key with matching bucket counts, joined with ZERO exchange
    on either side — the bucket-once-join-shuffle-free-forever shape of
    repeated fact-fact joins at 100 TB. Values are layout-independent
    (the oracle joins the raw tables); the exchange-free plan is pinned
    by tests/test_plans.py::test_bucketed_join_is_colocated."""
    from flink_elasticsearch_ingestion_spark.sources.layout import (
        colocated_order_revenue,
    )

    staging = context_tmpdir("bucketed_join_")
    return colocated_order_revenue(
        spark, _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders"), staging
    )


def q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-blocked interval self-join: same-user event pairs whose
    10-minute windows overlap, found via a pure equi-join on
    (user, time bucket) probing buckets {b, b+1} — never a per-key
    theta join (quadratic in the hottest user at 100 TB). Oracle is
    the naive theta self-join, so the hash match proves the blocking
    loses no pair and invents none."""
    return R.interval_overlap_pairs(_t(spark, sf_dir, "events"), gap_s=600)



def q_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 pattern: scalar positive-balance average (1-row
    broadcast), anti join against the orders key set (ids only), nation
    group-by."""
    return R.dormant_rich_customers(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )



#: driver-contract queries owned by this family (names are the
#: catalog keys the driver and the oracle gate use verbatim)
def q_shard_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-shard balance audit of lineitem's join key (32 portable
    md5 shards): per-shard rows, share, and skew vs the balanced
    expectation — predicts the straggler task before the 100 TB
    shuffle runs. One aggregate + a bounded 32-row share window."""
    from flink_elasticsearch_ingestion_spark.operators.skew import (
        shard_skew_report,
    )

    return shard_skew_report(
        _t(spark, sf_dir, "lineitem"), "l_orderkey", n_shards=32
    )


QUERIES = {
    "shard_skew_report": q_shard_skew_report,
    "dormant_rich_customers": q_dormant_rich_customers,
    "interval_overlap": q_interval_overlap,
    "user_event_sets": q_user_event_sets,
    "growth_accounting": q_growth_accounting,
    "cms_word_counts": q_cms_word_counts,
    "bloom_prefilter_join": q_bloom_prefilter_join,
    "heavy_hitters": q_heavy_hitters,
    "kmv_overlap": q_kmv_overlap,
    "skew_profile": q_skew_profile,
    "target_encode": q_target_encode,
    "join_size_estimate": q_join_size_estimate,
    "incremental_join_view": q_incremental_join_view,
    "hilbert_key": q_hilbert_key,
    "bucketed_join": q_bucketed_join,
    "trimmed_stats": q_trimmed_stats,
    "promo_revenue_share": q_promo_revenue_share,
    "idle_rich_customers": q_idle_rich_customers,
    "lonely_late_suppliers": q_lonely_late_suppliers,
    "value_histogram": q_value_histogram,
    "late_shipment_priorities": q_late_shipment_priorities,
    "volume_shipping": q_volume_shipping,
    "order_count_distribution": q_order_count_distribution,
    "top_supplier": q_top_supplier,
    "disjunctive_revenue": q_disjunctive_revenue,
    "market_share": q_market_share,
    "product_type_profit": q_product_type_profit,
    "small_quantity_revenue": q_small_quantity_revenue,
    "priority_value_percentiles": q_priority_value_percentiles,
    "similar_part_names": q_similar_part_names,
    "parts_supplier_counts": q_parts_supplier_counts,
    "dominant_suppliers": q_dominant_suppliers,
    "cheapest_supplier_per_part": q_cheapest_supplier_per_part,
    "approx_stats": q_approx_stats,
    "important_part_value": q_important_part_value,
    "zorder_key": q_zorder_key,
    "incremental_rollup": q_incremental_rollup,
    "weighted_discount_udaf": q_weighted_discount_udaf,
    "unpivot_metrics": q_unpivot_metrics,
    "null_safe_rollup": q_null_safe_rollup,
    "priority_shipping_mix": q_priority_shipping_mix,
    "json_extract": q_json_extract,
    "users_never_purchased": q_users_never_purchased,
    "url_parse": q_url_parse,
    "pricing_summary": q_pricing_summary,
    "top_revenue_orders": q_top_revenue_orders,
    "local_supplier_volume": q_local_supplier_volume,
    "returned_item_losses": q_returned_item_losses,
    "large_quantity_orders": q_large_quantity_orders,
    "nation_region_join": q_nation_region_join,
    "customers_with_orders": q_customers_with_orders,
    "customers_without_orders": q_customers_without_orders,
    "top_order_per_customer": q_top_order_per_customer,
    "revenue_rollup": q_revenue_rollup,
    "order_priority_cube": q_order_priority_cube,
    "returnflag_pivot": q_returnflag_pivot,
    "segment_set_ops": q_segment_set_ops,
    "top_orders": q_top_orders,
    "ship_within_30d": q_ship_within_30d,
    "events_by_day": q_events_by_day,
    "string_functions": q_string_functions,
    "math_functions": q_math_functions,
    "orders_above_cust_avg": q_orders_above_cust_avg,
    "purchases_after_click": q_purchases_after_click,
    "date_functions": q_date_functions,
    "map_functions": q_map_functions,
    "price_quantiles": q_price_quantiles,
    "order_stats": q_order_stats,
    "arg_extremes": q_arg_extremes,
    "salted_agg": q_salted_agg,
    "salted_join": q_salted_join,
    "grouping_sets": q_grouping_sets,
    "approx_distinct": q_approx_distinct,
    "hll_rollup": q_hll_rollup,
}

#: DuckDB oracle per query — keys MUST be a subset of QUERIES
ORACLES = {
    "shard_skew_report": (
        "WITH s AS (SELECT ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)),"
        " 1, 8))::BIGINT % 32 AS shard FROM lineitem),"
        " per AS (SELECT CAST(shard AS INT) AS shard, count(*) AS n_rows"
        "  FROM s GROUP BY 1)"
        " SELECT shard, n_rows,"
        " round(n_rows * 1.0 / sum(n_rows) OVER () + 1e-9, 6) AS share,"
        " round(n_rows * 32.0 / sum(n_rows) OVER () + 1e-9, 4) AS skew"
        " FROM per ORDER BY shard"
    ),
    "dormant_rich_customers": (
        "WITH avg_pos AS (SELECT avg(c_acctbal) AS avg_bal FROM customer"
        "  WHERE c_acctbal > 0)"
        " SELECT c_nationkey, count(*) AS numcust,"
        "  round(sum(c_acctbal) + 1e-9, 2) AS totacctbal"
        " FROM customer, avg_pos"
        " WHERE c_acctbal > avg_bal"
        "  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey"
        "   AND o_orderdate >= DATE '2001-01-01')"
        " GROUP BY c_nationkey ORDER BY c_nationkey"
    ),
    "interval_overlap": (
        "WITH e AS (SELECT user_id, event_id,"
        " CAST(epoch(date_trunc('second', CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec"
        " FROM events)"
        " SELECT a.user_id, a.event_id AS event_a, b.event_id AS event_b"
        " FROM e a JOIN e b ON a.user_id = b.user_id"
        "  AND a.event_id < b.event_id AND abs(a.sec - b.sec) <= 600"
        " ORDER BY a.user_id, event_a, event_b"
    ),
    "json_extract": (
        "SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k"
        " FROM events ORDER BY event_id"
    ),
    "users_never_purchased": (
        "SELECT DISTINCT user_id FROM events WHERE event_type = 'click'"
        " AND user_id NOT IN ("
        "SELECT user_id FROM events WHERE event_type = 'purchase')"
        " ORDER BY user_id"
    ),
    "url_parse": (
        "SELECT n_nationkey,"
        " 'node' || n_nationkey || '.example.com' AS host,"
        " 'http' AS scheme,"
        " CASE WHEN n_nationkey % 2 = 0 THEN 9300 ELSE 9200 END AS port"
        " FROM nation ORDER BY n_nationkey"
    ),
    "pricing_summary": (
        "SELECT l_returnflag, l_linestatus,"
        " round(sum(l_quantity), 2) AS sum_qty,"
        " round(sum(l_extendedprice), 2) AS sum_base_price,"
        " round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,"
        " round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,"
        " round(round(sum(l_quantity), 2) / count(*) + 1e-9, 4) AS avg_qty,"
        " round(round(sum(l_extendedprice), 2) / count(*) + 1e-9, 4) AS avg_price,"
        " round(round(sum(l_discount), 2) / count(*) + 1e-9, 4) AS avg_disc,"
        " count(*) AS count_order"
        " FROM lineitem GROUP BY l_returnflag, l_linestatus"
        " ORDER BY l_returnflag, l_linestatus"
    ),
    "top_revenue_orders": (
        "SELECT o_orderkey, o_orderdate, o_orderpriority,"
        " round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue"
        " FROM customer JOIN orders ON c_custkey = o_custkey"
        " JOIN lineitem ON o_orderkey = l_orderkey"
        " WHERE c_mktsegment = 'BUILDING'"
        " GROUP BY o_orderkey, o_orderdate, o_orderpriority"
        " ORDER BY revenue DESC, o_orderkey LIMIT 10"
    ),
    "local_supplier_volume": (
        "SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue"
        " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
        " JOIN customer ON o_custkey = c_custkey"
        " JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey"
        " JOIN nation ON s_nationkey = n_nationkey"
        " JOIN region ON n_regionkey = r_regionkey"
        " WHERE r_name = 'EUROPE'"
        " GROUP BY n_name ORDER BY revenue DESC"
    ),
    "returned_item_losses": (
        "SELECT c_custkey, c_name, n_name,"
        " round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue"
        " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
        " JOIN customer ON o_custkey = c_custkey"
        " JOIN nation ON c_nationkey = n_nationkey"
        " WHERE l_returnflag = 'R'"
        " GROUP BY c_custkey, c_name, n_name"
        " ORDER BY revenue DESC, c_custkey LIMIT 20"
    ),
    "large_quantity_orders": (
        "WITH big AS (SELECT l_orderkey, sum(l_quantity) AS total_qty"
        "  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150)"
        " SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,"
        " round(total_qty, 2) AS total_qty"
        " FROM big JOIN orders ON l_orderkey = o_orderkey"
        " JOIN customer ON o_custkey = c_custkey"
        " ORDER BY o_totalprice DESC, o_orderkey"
    ),
    "nation_region_join": (
        "SELECT n_nationkey, n_name, r_name FROM nation"
        " JOIN region ON n_regionkey = r_regionkey ORDER BY n_nationkey"
    ),
    "customers_with_orders": (
        "SELECT c_custkey, c_name, c_mktsegment FROM customer"
        " WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"
    ),
    "customers_without_orders": (
        "SELECT c_custkey, c_name, c_acctbal FROM customer"
        " WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey"
        "  AND o_orderpriority = '1-URGENT')"
    ),
    "top_order_per_customer": (
        "SELECT o_custkey, o_orderkey, o_totalprice FROM ("
        "  SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER ("
        "    PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey"
        "  ) AS rn FROM orders) WHERE rn = 1"
    ),
    "revenue_rollup": (
        "SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,"
        " count(*) AS n_rows FROM lineitem"
        " GROUP BY ROLLUP (l_returnflag, l_linestatus)"
        " ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"
    ),
    "order_priority_cube": (
        "SELECT o_orderstatus, o_orderpriority, round(sum(o_totalprice), 2) AS sum_price,"
        " count(*) AS n_orders FROM orders"
        " GROUP BY CUBE (o_orderstatus, o_orderpriority)"
        " ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"
    ),
    "returnflag_pivot": (
        "SELECT l_returnflag,"
        " round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_open,"
        " round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_filled"
        " FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"
    ),
    "segment_set_ops": (
        # CTEs pin evaluation order (SQL INTERSECT binds tighter than
        # EXCEPT; the engine applies except-then-intersect)
        "WITH unioned AS ("
        " SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'"
        " UNION ALL SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),"
        " minus_neg AS (SELECT c_custkey FROM unioned"
        "  EXCEPT ALL SELECT c_custkey FROM customer WHERE c_acctbal < 0)"
        " SELECT c_custkey FROM minus_neg"
        " INTERSECT SELECT c_custkey FROM customer WHERE c_acctbal > 0"
        " ORDER BY c_custkey"
    ),
    "top_orders": (
        "SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders"
        " ORDER BY o_totalprice DESC, o_orderkey LIMIT 25"
    ),
    "ship_within_30d": (
        "SELECT o_orderpriority, count(*) AS n_lineitems"
        " FROM orders JOIN lineitem ON o_orderkey = l_orderkey"
        " WHERE l_shipdate >= o_orderdate AND l_shipdate <= o_orderdate + INTERVAL 30 DAY"
        " GROUP BY o_orderpriority ORDER BY o_orderpriority"
    ),
    "events_by_day": (
        "SELECT strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS day, event_type,"
        " count(*) AS n_events, round(round(sum(value), 2) / count(*) + 1e-9, 4) AS avg_value,"
        " count(DISTINCT user_id) AS n_users"
        " FROM events GROUP BY 1, 2 ORDER BY day, event_type"
    ),
    "string_functions": (
        "SELECT p_partkey, upper(p_name) AS name_upper, length(p_name) AS name_len,"
        " coalesce(regexp_extract(p_name, '^([a-z]+)', 1), '') AS first_word,"
        " concat_ws('/', p_brand, p_type) AS brand_type,"
        " substring(p_name, 1, 3) AS prefix3,"
        " replace(p_name, ' ', '_') AS snake_name"
        " FROM part ORDER BY p_partkey"
    ),
    "math_functions": (
        "SELECT p_partkey, round(p_retailprice, 0) AS price_round,"
        " round(sqrt(p_retailprice), 6) AS price_sqrt,"
        " round(ln(p_retailprice), 6) AS price_ln,"
        " abs(p_retailprice - 1000) AS price_dev,"
        " p_size % 5 AS size_mod"
        " FROM part ORDER BY p_partkey"
    ),
    "orders_above_cust_avg": (
        "SELECT o_orderkey, o_custkey, o_totalprice,"
        " round(cust_avg + 1e-9, 4) AS cust_avg FROM ("
        "  SELECT o_orderkey, o_custkey, o_totalprice,"
        "  avg(o_totalprice) OVER (PARTITION BY o_custkey) AS cust_avg FROM orders)"
        " WHERE o_totalprice > cust_avg ORDER BY o_orderkey"
    ),
    "purchases_after_click": (
        "SELECT c.user_id, count(*) AS n_conversions,"
        " count(DISTINCT c.event_id) AS n_converting_clicks"
        " FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS click_ts, event_id"
        "   FROM events WHERE event_type = 'click') c"
        " JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS purchase_ts"
        "   FROM events WHERE event_type = 'purchase') p"
        " ON c.user_id = p.user_id"
        " WHERE purchase_ts >= click_ts"
        "  AND purchase_ts < click_ts + INTERVAL 7 DAY"
        " GROUP BY c.user_id ORDER BY c.user_id"
    ),
    "date_functions": (
        "SELECT o_orderkey,"
        " strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS order_month,"
        " year(o_orderdate) AS order_year,"
        " quarter(o_orderdate) AS order_quarter,"
        " dayofweek(o_orderdate) + 1 AS order_dow,"
        " date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS days_to_eoy,"
        " CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s"
        " FROM orders ORDER BY o_orderkey"
    ),
    "map_functions": (
        "WITH m AS (SELECT event_id,"
        "  MAP {'type': event_type, 'uid': CAST(user_id AS VARCHAR)} AS mp"
        "  FROM events)"
        " SELECT event_id,"
        " map_extract(mp, 'type')[1] AS type_val,"
        " map_extract(mp, 'uid')[1] AS uid_val,"
        " CAST(cardinality(mp) AS INTEGER) AS n_entries,"
        " array_to_string(list_sort(map_keys(mp)), ',') AS keys_csv,"
        " array_to_string(list_sort(map_values(mp)), ',') AS values_csv"
        " FROM m ORDER BY event_id"
    ),
    "price_quantiles": (
        "SELECT o_orderpriority,"
        " round(quantile_cont(o_totalprice, 0.5), 4) AS median_price,"
        " round(quantile_cont(o_totalprice, 0.9), 4) AS p90_price,"
        " count(*) AS n_orders"
        " FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"
    ),
    "order_stats": (
        "WITH li AS (SELECT round(corr(l_quantity, l_extendedprice), 4)"
        "  AS qty_price_corr FROM lineitem)"
        " SELECT o_orderstatus, round(stddev_samp(o_totalprice), 2) AS price_stddev,"
        " round(round(sum(o_totalprice), 2) / count(*) + 1e-9, 4) AS price_mean,"
        " count(*) AS n_orders, li.qty_price_corr"
        " FROM orders, li GROUP BY o_orderstatus, li.qty_price_corr"
        " ORDER BY o_orderstatus"
    ),
    "arg_extremes": (
        "SELECT event_type, arg_max(user_id, event_id) AS last_user,"
        " arg_min(user_id, event_id) AS first_user, max(event_id) AS last_event_id"
        " FROM events GROUP BY event_type ORDER BY event_type"
    ),
    "user_event_sets": (
        "SELECT user_id, array_to_string("
        " array_agg(DISTINCT event_type ORDER BY event_type), ',')"
        " AS event_types_csv FROM events GROUP BY user_id ORDER BY user_id"
    ),
    "salted_join": (
        "SELECT c_mktsegment, count(*) AS n_events,"
        " round(sum(value) + 1e-9, 2) AS total_value"
        " FROM events e JOIN customer c ON e.user_id = c.c_custkey"
        " GROUP BY c_mktsegment ORDER BY c_mktsegment"
    ),
    "salted_agg": (
        "SELECT event_type, count(*) AS n_events,"
        " round(sum(value), 2) AS total_value,"
        " round(max(value), 6) AS max_value"
        " FROM events GROUP BY event_type ORDER BY event_type"
    ),
    "grouping_sets": (
        "SELECT l_returnflag, l_linestatus, round(sum(l_extendedprice), 2) AS sum_price,"
        " count(*) AS n_rows FROM lineitem"
        " GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))"
        " ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"
    ),
    "value_histogram": (
        "SELECT CAST(floor(value / 50) AS INTEGER) AS bucket,"
        " count(*) AS n_events FROM events GROUP BY 1 ORDER BY bucket"
    ),
    "late_shipment_priorities": (
        "WITH in_year AS (SELECT * FROM orders"
        "  WHERE o_orderdate >= TIMESTAMP '1997-01-01'"
        "  AND o_orderdate < TIMESTAMP '1998-01-01')"
        " SELECT o_orderpriority, count(*) AS n_orders FROM in_year o"
        " WHERE EXISTS (SELECT 1 FROM lineitem l"
        "   WHERE l.l_orderkey = o.o_orderkey"
        "   AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)"
        " GROUP BY o_orderpriority ORDER BY o_orderpriority"
    ),
    "volume_shipping": (
        "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,"
        " year(l_shipdate) AS ship_year,"
        " round(sum(l_extendedprice * (1 - l_discount)), 2) AS volume,"
        " count(*) AS n_lineitems"
        " FROM lineitem"
        " JOIN supplier ON l_suppkey = s_suppkey"
        " JOIN nation n1 ON s_nationkey = n1.n_nationkey"
        " JOIN orders ON l_orderkey = o_orderkey"
        " JOIN customer ON o_custkey = c_custkey"
        " JOIN nation n2 ON c_nationkey = n2.n_nationkey"
        " WHERE n1.n_name IN ('NATION_1', 'NATION_2')"
        " AND n2.n_name IN ('NATION_1', 'NATION_2')"
        " AND n1.n_name <> n2.n_name"
        " GROUP BY 1, 2, 3 ORDER BY supp_nation, cust_nation, ship_year"
    ),
    "market_share": (
        "SELECT year(o_orderdate) AS order_year,"
        " round(round(sum(CASE WHEN n_name = 'NATION_5'"
        "   THEN l_extendedprice * (1 - l_discount) ELSE 0 END), 2) * 100"
        "  / round(sum(l_extendedprice * (1 - l_discount)), 2) + 1e-9, 4)"
        "  AS share_pct,"
        " count(*) AS n_lineitems"
        " FROM lineitem"
        " JOIN part ON l_partkey = p_partkey"
        " JOIN supplier ON l_suppkey = s_suppkey"
        " JOIN nation ON s_nationkey = n_nationkey"
        " JOIN orders ON l_orderkey = o_orderkey"
        " JOIN customer ON o_custkey = c_custkey"
        " WHERE p_type = 'ECONOMY'"
        " GROUP BY 1 ORDER BY order_year"
    ),
    "product_type_profit": (
        "SELECT n_name AS supp_nation, year(o_orderdate) AS order_year,"
        " round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)"
        "   AS DECIMAL(18,4))) AS DOUBLE), 2) AS profit"
        " FROM lineitem"
        " JOIN part ON l_partkey = p_partkey"
        " JOIN supplier ON l_suppkey = s_suppkey"
        " JOIN nation ON s_nationkey = n_nationkey"
        " JOIN orders ON l_orderkey = o_orderkey"
        " WHERE p_name LIKE '%blue%'"
        " GROUP BY 1, 2 ORDER BY supp_nation, order_year"
    ),
    "order_count_distribution": (
        "WITH per_cust AS (SELECT c_custkey, count(o_orderkey) AS n_orders"
        "  FROM customer LEFT JOIN orders ON c_custkey = o_custkey"
        "  GROUP BY c_custkey)"
        " SELECT n_orders, count(*) AS n_customers FROM per_cust"
        " GROUP BY n_orders ORDER BY n_customers DESC, n_orders DESC"
    ),
    "top_supplier": (
        "WITH rev AS (SELECT l_suppkey,"
        "  round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue"
        "  FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01'"
        "  AND l_shipdate < TIMESTAMP '1996-04-01' GROUP BY l_suppkey)"
        " SELECT s_suppkey, s_name, total_revenue"
        " FROM rev JOIN supplier ON l_suppkey = s_suppkey"
        " WHERE total_revenue = (SELECT max(total_revenue) FROM rev)"
        " ORDER BY s_suppkey"
    ),
    "small_quantity_revenue": (
        "WITH branded AS (SELECT l.* FROM lineitem l"
        "  JOIN part p ON l_partkey = p_partkey WHERE p_brand = 'Brand#13'),"
        " avg_q AS (SELECT l_partkey AS ap_partkey,"
        "  round(round(sum(l_quantity), 2) / count(*) + 1e-9, 4) AS avg_qty"
        "  FROM branded GROUP BY l_partkey)"
        " SELECT round(round(sum(l_extendedprice), 2) / 7.0 + 1e-9, 4) AS avg_yearly,"
        " count(*) AS n_lineitems"
        " FROM branded JOIN avg_q ON l_partkey = ap_partkey"
        " WHERE l_quantity < avg_qty * 0.5"
    ),
    "disjunctive_revenue": (
        "SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,"
        " count(*) AS n_lineitems"
        " FROM lineitem JOIN part ON l_partkey = p_partkey"
        " WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10"
        "   AND l_quantity BETWEEN 1 AND 15)"
        " OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20"
        "   AND l_quantity BETWEEN 10 AND 25)"
        " OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30"
        "   AND l_quantity BETWEEN 20 AND 35)"
    ),
    "priority_value_percentiles": (
        "SELECT o_orderpriority, count(*) AS n_orders,"
        " round(quantile_cont(o_totalprice, 0.5) + 1e-9, 4) AS p50,"
        " round(quantile_cont(o_totalprice, 0.9) + 1e-9, 4) AS p90,"
        " round(quantile_cont(o_totalprice, 0.99) + 1e-9, 4) AS p99"
        " FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"
    ),
    "similar_part_names": (
        "WITH names AS (SELECT DISTINCT p_name AS name FROM part)"
        " SELECT a.name AS name_a, b.name AS name_b,"
        " levenshtein(a.name, b.name) AS distance"
        " FROM names a JOIN names b"
        " ON a.name < b.name"
        " AND abs(length(a.name) - length(b.name)) <= 2"
        " WHERE levenshtein(a.name, b.name) <= 2"
        " ORDER BY name_a, name_b"
    ),
    "hll_rollup": (
        # the oracle pins the exact counts and asserts the merged
        # sketch landed inside tolerance (TRUE for every group)
        "SELECT event_type, count(DISTINCT user_id) AS n_exact,"
        " true AS sketch_ok"
        " FROM events GROUP BY event_type ORDER BY event_type"
    ),
    "trimmed_stats": (
        "WITH ranked AS (SELECT l_returnflag, l_extendedprice,"
        "  row_number() OVER (PARTITION BY l_returnflag"
        "   ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rk,"
        "  count(*) OVER (PARTITION BY l_returnflag) AS n"
        "  FROM lineitem),"
        " kept AS (SELECT * FROM ranked"
        "  WHERE rk > CAST(floor(0.1 * n) AS BIGINT)"
        "   AND rk <= n - CAST(floor(0.1 * n) AS BIGINT))"
        " SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_kept,"
        "  round(min(l_extendedprice), 2) AS trimmed_min,"
        "  round(max(l_extendedprice), 2) AS trimmed_max,"
        "  round(round(sum(l_extendedprice), 2) / count(*) + 1e-9, 4)"
        "   AS trimmed_mean"
        " FROM kept GROUP BY l_returnflag ORDER BY l_returnflag"
    ),
    "bucketed_join": (
        "SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,"
        " round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue"
        " FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey"
        " GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority"
    ),
    "important_part_value": (
        "WITH supp AS (SELECT s_suppkey FROM supplier"
        "   JOIN nation ON s_nationkey = n_nationkey WHERE n_name = 'NATION_7'),"
        " pv AS (SELECT l_partkey,"
        "   sum(CAST(l_extendedprice * l_quantity AS DECIMAL(18,4))) AS v"
        "   FROM lineitem JOIN supp ON l_suppkey = s_suppkey GROUP BY l_partkey),"
        " tot AS (SELECT sum(v) AS total_v, count(*) AS n_parts FROM pv)"
        " SELECT l_partkey AS partkey, round(CAST(v AS DOUBLE), 2) AS part_value"
        " FROM pv, tot WHERE v * n_parts > total_v * 2"
        " ORDER BY part_value DESC, partkey"
    ),
    "incremental_rollup": (
        # full recompute from scratch — equality with the Spark
        # side's snapshot+batch merge proves the maintenance math
        "SELECT strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS event_date,"
        " event_type, count(*) AS n_events,"
        " round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS total_value"
        " FROM events GROUP BY 1, 2 ORDER BY event_date, event_type"
    ),
    "weighted_discount_udaf": (
        "SELECT l_returnflag, count(*) AS n_items,"
        " round(round(sum(l_discount * l_quantity), 2)"
        "  / round(sum(l_quantity), 2) + 1e-9, 4) AS weighted_avg_discount,"
        " round(round(sum(l_discount * l_quantity), 2)"
        "  / round(sum(l_quantity), 2) + 1e-9, 4)"
        "  AS weighted_avg_discount_expr"
        " FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"
    ),
    "priority_shipping_mix": (
        "SELECT l_linestatus,"
        " CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')"
        "  THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,"
        " CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')"
        "  THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count"
        " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
        " GROUP BY l_linestatus ORDER BY l_linestatus"
    ),
    "growth_accounting": (
        "WITH uw AS (SELECT DISTINCT user_id,"
        "  date_trunc('week', CAST(ts AS TIMESTAMP)) AS wk FROM events),"
        " mx AS (SELECT max(wk) AS mxw FROM uw),"
        " f AS (SELECT user_id, wk,"
        "  min(wk) OVER (PARTITION BY user_id) AS fw FROM uw),"
        " act AS (SELECT f.wk AS week,"
        "  CASE WHEN f.wk = f.fw THEN 'new'"
        "   WHEN p.user_id IS NOT NULL THEN 'retained'"
        "   ELSE 'resurrected' END AS status"
        "  FROM f LEFT JOIN uw p ON p.user_id = f.user_id"
        "   AND p.wk = f.wk - INTERVAL 7 DAY),"
        " churn AS (SELECT u.wk + INTERVAL 7 DAY AS week,"
        "  'churned' AS status FROM uw u, mx"
        "  WHERE u.wk < mx.mxw AND NOT EXISTS (SELECT 1 FROM uw n"
        "   WHERE n.user_id = u.user_id"
        "    AND n.wk = u.wk + INTERVAL 7 DAY)),"
        " allr AS (SELECT * FROM act UNION ALL SELECT * FROM churn)"
        " SELECT strftime(week, '%Y-%m-%d') AS week,"
        " CAST(count(*) FILTER (WHERE status = 'new') AS BIGINT) AS n_new,"
        " CAST(count(*) FILTER (WHERE status = 'retained') AS BIGINT)"
        "  AS n_retained,"
        " CAST(count(*) FILTER (WHERE status = 'resurrected') AS BIGINT)"
        "  AS n_resurrected,"
        " CAST(count(*) FILTER (WHERE status = 'churned') AS BIGINT)"
        "  AS n_churned"
        " FROM allr GROUP BY 1 ORDER BY 1"
    ),
    "skew_profile": (
        "WITH c AS (SELECT CAST(user_id AS VARCHAR) AS key,"
        "  count(*) AS n FROM events GROUP BY 1),"
        " tot AS (SELECT CAST(sum(n) AS BIGINT) AS total,"
        "  count(*) AS n_keys FROM c),"
        " top AS (SELECT key, n FROM c ORDER BY n DESC, key LIMIT 20)"
        " SELECT key, n,"
        " round(CAST(n AS DOUBLE) / total + 1e-9, 6) AS share,"
        " round(CAST(sum(n) OVER (ORDER BY n DESC, key) AS DOUBLE)"
        "  / total + 1e-9, 6) AS cum_share,"
        " round(CAST(n AS DOUBLE) * n_keys / total + 1e-9, 4) AS x_avg"
        " FROM top CROSS JOIN tot ORDER BY n DESC, key"
    ),
    "hilbert_key": _hilbert_sql(16),
    "incremental_join_view": (
        # naive full recompute -- the differential that catches
        # missed/duplicated delta terms in the Spark IVM path
        "SELECT c_mktsegment AS segment,"
        " CAST(count(*) AS BIGINT) AS n_orders,"
        " CAST(sum(CAST(round(o_totalprice * 100.0, 0) AS BIGINT))"
        "  AS BIGINT) / 100.0 AS revenue"
        " FROM orders JOIN customer ON o_custkey = c_custkey"
        " GROUP BY c_mktsegment ORDER BY segment"
    ),
    "join_size_estimate": (
        "WITH la AS (SELECT CAST(l_orderkey AS VARCHAR) AS k"
        "  FROM lineitem),"
        " ra AS (SELECT CAST(o_orderkey AS VARCHAR) AS k"
        "  FROM orders),"
        " sa AS (SELECT j, ('0x' || substr(md5('jse' ||"
        "   CAST(j AS VARCHAR) || ':' || k), 1, 8))::BIGINT"
        "   % 2147483647 % 256 AS bucket,"
        "  CAST(count(*) AS BIGINT) AS c"
        "  FROM la, generate_series(0, 3) g(j) GROUP BY 1, 2),"
        " sb AS (SELECT j, ('0x' || substr(md5('jse' ||"
        "   CAST(j AS VARCHAR) || ':' || k), 1, 8))::BIGINT"
        "   % 2147483647 % 256 AS bucket,"
        "  CAST(count(*) AS BIGINT) AS cb"
        "  FROM ra, generate_series(0, 3) g(j) GROUP BY 1, 2),"
        " est AS (SELECT CAST(min(row_est) AS BIGINT)"
        "   AS est_join_size FROM ("
        "  SELECT sa.j, sum(sa.c * sb.cb) AS row_est FROM sa"
        "  JOIN sb ON sa.j = sb.j AND sa.bucket = sb.bucket"
        "  GROUP BY sa.j)),"
        " tr AS (SELECT CAST(coalesce(sum(ca.c * cb.c), 0)"
        "   AS BIGINT) AS true_join_size FROM"
        "  (SELECT l_orderkey AS k, count(*) AS c FROM lineitem"
        "   GROUP BY 1) ca JOIN"
        "  (SELECT o_orderkey AS k, count(*) AS c FROM orders"
        "   GROUP BY 1) cb ON ca.k = cb.k),"
        " nl AS (SELECT CAST(count(*) AS BIGINT) AS n_left"
        "  FROM lineitem),"
        " nr AS (SELECT CAST(count(*) AS BIGINT) AS n_right"
        "  FROM orders)"
        " SELECT n_left, n_right, true_join_size, est_join_size,"
        "  est_join_size - true_join_size AS overestimate,"
        "  round(CASE WHEN true_join_size > 0 THEN"
        "   CAST(est_join_size - true_join_size AS DOUBLE)"
        "    / true_join_size END + 1e-9, 6) AS rel_error"
        " FROM nl, nr, tr, est"
    ),
    "target_encode": (
        "WITH pc AS (SELECT o_orderpriority,"
        "  CAST(count(*) AS BIGINT) AS n_rows,"
        "  CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS sum_t"
        "  FROM orders GROUP BY 1),"
        " g AS (SELECT CAST(count(*) AS DOUBLE) AS n_all,"
        "  CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS sum_all"
        "  FROM orders)"
        " SELECT o_orderpriority, n_rows,"
        " round(sum_t / n_rows + 1e-9, 4) AS raw_mean,"
        " round((sum_t + 10.0 * (sum_all / n_all))"
        "  / (n_rows + 10.0) + 1e-9, 4) AS encoded"
        " FROM pc CROSS JOIN g ORDER BY o_orderpriority"
    ),
    "cms_word_counts": (
        "WITH words AS (SELECT w FROM (SELECT"
        "  unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w"
        "  FROM documents) WHERE w <> ''),"
        " exact AS (SELECT w, count(*) AS true_count FROM words"
        "  GROUP BY w),"
        " probes AS (SELECT * FROM exact"
        "  ORDER BY true_count DESC, w LIMIT 20),"
        " sk AS (SELECT j, ('0x' || substr(md5('cms' ||"
        "   CAST(j AS VARCHAR) || ':' || w), 1, 8))::BIGINT"
        "   % 2147483647 % 1024 AS bucket, count(*) AS c"
        "  FROM words, LATERAL (SELECT"
        "   unnest(generate_series(0, 3)) AS j) g GROUP BY 1, 2),"
        " pf AS (SELECT w, true_count, j, ('0x' || substr(md5('cms' ||"
        "   CAST(j AS VARCHAR) || ':' || w), 1, 8))::BIGINT"
        "   % 2147483647 % 1024 AS bucket"
        "  FROM probes, LATERAL (SELECT"
        "   unnest(generate_series(0, 3)) AS j) g)"
        " SELECT pf.w AS word, pf.true_count,"
        " min(sk.c) AS est_count,"
        " min(sk.c) - pf.true_count AS overestimate"
        " FROM pf JOIN sk USING (j, bucket)"
        " GROUP BY pf.w, pf.true_count"
        " ORDER BY true_count DESC, word"
    ),
    "unpivot_metrics": (
        "WITH wide AS (SELECT l_returnflag,"
        "  round(sum(l_quantity), 2) AS sum_qty,"
        "  round(sum(l_extendedprice), 2) AS sum_base_price,"
        "  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price"
        "  FROM lineitem GROUP BY 1)"
        " SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM wide"
        " UNION ALL SELECT l_returnflag, 'sum_base_price', sum_base_price FROM wide"
        " UNION ALL SELECT l_returnflag, 'sum_disc_price', sum_disc_price FROM wide"
        " ORDER BY l_returnflag, metric"
    ),
    "null_safe_rollup": (
        "WITH a AS (SELECT nullif(o_orderstatus, 'P') AS status_norm,"
        "  o_totalprice FROM orders),"
        " d AS (SELECT DISTINCT status_norm FROM a)"
        " SELECT d.status_norm, count(*) AS n_orders,"
        " round(sum(a.o_totalprice), 2) AS total_price"
        " FROM a JOIN d ON a.status_norm IS NOT DISTINCT FROM d.status_norm"
        " GROUP BY d.status_norm ORDER BY d.status_norm"
    ),
    "zorder_key": (
        "WITH b AS (SELECT o_orderkey,"
        "   least(65535, CAST(floor(o_totalprice / 8) AS BIGINT)) AS price_bucket,"
        "   o_custkey % 65536 AS cust_bucket FROM orders)"
        " SELECT o_orderkey, price_bucket, cust_bucket,"
        "  CAST((SELECT sum((((price_bucket >> j) & 1) << (2 * j))"
        "              + (((cust_bucket >> j) & 1) << (2 * j + 1)))"
        "        FROM generate_series(0, 15) AS g(j)) AS BIGINT) AS z_key"
        " FROM b ORDER BY o_orderkey"
    ),
    "approx_stats": (
        "SELECT o_orderpriority,"
        " quantile_disc(o_totalprice, 0.5) AS p50_sketch,"
        " quantile_disc(o_totalprice, 0.9) AS p90_sketch,"
        " count(*) AS n_orders"
        " FROM orders GROUP BY 1 ORDER BY 1"
    ),
    "parts_supplier_counts": (
        "WITH rel AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)"
        " SELECT p_brand, p_type,"
        " CAST(floor(p_size / 10) * 10 AS INT) AS size_band,"
        " count(DISTINCT l_suppkey) AS n_suppliers"
        " FROM rel JOIN part ON l_partkey = p_partkey"
        " GROUP BY 1, 2, 3"
        " ORDER BY n_suppliers DESC, p_brand, p_type, size_band"
    ),
    "dominant_suppliers": (
        "WITH per_ps AS (SELECT l_partkey, l_suppkey,"
        "  sum(l_quantity) AS ps_qty FROM lineitem GROUP BY 1, 2),"
        " per_part AS (SELECT l_partkey, sum(ps_qty) AS part_qty"
        "  FROM per_ps GROUP BY 1)"
        " SELECT s_suppkey, s_name FROM supplier"
        " WHERE s_suppkey IN (SELECT l_suppkey FROM per_ps"
        "  JOIN per_part USING (l_partkey) WHERE ps_qty > part_qty * 0.2)"
        " ORDER BY s_suppkey"
    ),
    "cheapest_supplier_per_part": (
        "WITH ap AS (SELECT l_partkey, l_suppkey,"
        "  round(round(sum(l_extendedprice), 2) / count(*) + 1e-9, 4) AS avg_price"
        "  FROM lineitem WHERE l_partkey < 200 GROUP BY 1, 2),"
        " best AS (SELECT l_partkey, l_suppkey, avg_price,"
        "  row_number() OVER (PARTITION BY l_partkey"
        "   ORDER BY avg_price, l_suppkey) AS rn FROM ap)"
        " SELECT l_partkey, s_suppkey, s_name, avg_price AS best_avg_price"
        " FROM best JOIN supplier ON l_suppkey = s_suppkey"
        " WHERE rn = 1 ORDER BY l_partkey"
    ),
    "promo_revenue_share": (
        "SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS ship_month,"
        " round(round(sum(CASE WHEN p_type LIKE 'PROMO%'"
        "   THEN l_extendedprice * (1 - l_discount) ELSE 0 END), 2) * 100"
        "  / round(sum(l_extendedprice * (1 - l_discount)), 2) + 1e-9, 4)"
        "  AS promo_share_pct,"
        " count(*) AS n_lineitems"
        " FROM lineitem JOIN part ON l_partkey = p_partkey"
        " GROUP BY 1 ORDER BY ship_month"
    ),
    "idle_rich_customers": (
        "WITH ab AS (SELECT avg(c_acctbal) AS avg_bal FROM customer"
        "  WHERE c_acctbal > 0)"
        " SELECT c_mktsegment, count(*) AS n_customers,"
        " round(sum(c_acctbal), 2) AS total_bal"
        " FROM customer, ab"
        " WHERE c_acctbal > avg_bal"
        "  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey"
        "   AND o_orderpriority = '1-URGENT')"
        " GROUP BY c_mktsegment ORDER BY c_mktsegment"
    ),
    "lonely_late_suppliers": (
        "WITH li AS (SELECT l_orderkey, l_suppkey,"
        "  max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY"
        "   THEN 1 ELSE 0 END) AS late"
        "  FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
        "  GROUP BY l_orderkey, l_suppkey),"
        " per_o AS (SELECT l_orderkey, count(*) AS n_supp, sum(late) AS n_late"
        "  FROM li GROUP BY l_orderkey)"
        " SELECT s_name, count(*) AS n_orders"
        " FROM li JOIN per_o USING (l_orderkey)"
        " JOIN supplier ON s_suppkey = l_suppkey"
        " WHERE li.late = 1 AND per_o.n_supp >= 2 AND per_o.n_late = 1"
        " GROUP BY s_name ORDER BY n_orders DESC, s_name LIMIT 20"
    ),
    "bloom_prefilter_join": (
        # the bloom prefilter is transparent (exact join removes
        # false positives), so the oracle is the PLAIN join
        "SELECT date_trunc('month', o_orderdate) AS order_month,"
        " count(*) AS n_lines, count(DISTINCT l_orderkey) AS n_orders,"
        " round(sum(l_extendedprice * (1 - l_discount)) + 1e-6, 2) AS revenue"
        " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
        " WHERE o_orderpriority = '1-URGENT'"
        " GROUP BY 1 ORDER BY 1"
    ),
    "heavy_hitters": (
        # the oracle pins the exact arm AND the contract flags:
        # Misra-Gries never overestimates, and the merged summary's
        # underestimate stays within the summed decrement budget —
        # the engine computes the flags from its sketch, the oracle
        # asserts they must both hold
        "WITH words AS (SELECT w FROM (SELECT"
        "  unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w"
        "  FROM documents) WHERE w <> ''),"
        " exact AS (SELECT w, count(*) AS true_count FROM words"
        "  GROUP BY w)"
        " SELECT w AS word, true_count,"
        " true AS never_over, true AS within_bound"
        " FROM exact ORDER BY true_count DESC, word LIMIT 20"
    ),
    "kmv_overlap": (
        # FULL sketch replay: DuckDB re-derives the md5-31 hash of
        # every user-day, each group's k=128 smallest distinct
        # hashes, the distinct/Jaccard/intersection estimators over
        # those sketches, and the 3/sqrt(k) tolerance flag
        "WITH keys AS (SELECT DISTINCT event_type AS grp,"
        "  CAST(user_id AS VARCHAR) || ':' ||"
        "  CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) AS VARCHAR) AS k"
        "  FROM events),"
        " hashed AS (SELECT DISTINCT grp,"
        "  CAST(('0x' || substr(md5(k), 1, 8)) AS BIGINT)"
        "    % 2147483647 AS h FROM keys),"
        " ranked AS (SELECT grp, h,"
        "  row_number() OVER (PARTITION BY grp ORDER BY h) AS rn"
        "  FROM hashed),"
        " sk AS (SELECT grp, list(h ORDER BY h) AS sketch,"
        "  count(*) AS n_sk, max(h) AS kth"
        "  FROM ranked WHERE rn <= 128 GROUP BY grp),"
        " skd AS (SELECT grp, sketch, n_sk,"
        "  CASE WHEN n_sk < 128 THEN CAST(n_sk AS DOUBLE)"
        "   ELSE 127 * 2147483647.0 / kth END AS est_d FROM sk),"
        " exd AS (SELECT grp, count(*) AS exact_d FROM hashed"
        "  GROUP BY grp),"
        " pg AS (SELECT s.grp, s.sketch, s.est_d, e.exact_d"
        "  FROM skd s JOIN exd e USING (grp)),"
        " pairs AS (SELECT a.grp AS grp_a, b.grp AS grp_b,"
        "  a.sketch AS sk_a, b.sketch AS sk_b,"
        "  a.est_d AS est_a, b.est_d AS est_b,"
        "  a.exact_d AS exact_a, b.exact_d AS exact_b"
        "  FROM pg a JOIN pg b ON a.grp < b.grp),"
        " inter AS (SELECT a.grp AS grp_a, b.grp AS grp_b,"
        "  count(*) AS exact_inter FROM hashed a JOIN hashed b"
        "  ON a.h = b.h AND a.grp < b.grp GROUP BY a.grp, b.grp),"
        " calc AS (SELECT grp_a, grp_b, exact_a, exact_b, est_a,"
        "  est_b, sk_a, sk_b,"
        "  list_sort(list_distinct(sk_a || sk_b)) AS uni,"
        "  COALESCE(i.exact_inter, 0) AS exact_inter"
        "  FROM pairs LEFT JOIN inter i USING (grp_a, grp_b)),"
        " calc2 AS (SELECT *, uni[1:128] AS uni_k,"
        "  list_intersect(sk_a, sk_b) AS ib FROM calc),"
        " calc3 AS (SELECT *,"
        "  CAST(len(list_intersect(uni_k, ib)) AS DOUBLE)"
        "    / len(uni_k) AS j_est,"
        "  CASE WHEN len(uni) < 128 THEN CAST(len(uni) AS DOUBLE)"
        "   ELSE 127 * 2147483647.0 / uni_k[128] END AS union_est"
        "  FROM calc2)"
        " SELECT grp_a, grp_b, exact_a, exact_b,"
        " round(est_a + 1e-9, 2) AS est_a,"
        " round(est_b + 1e-9, 2) AS est_b,"
        " round(j_est + 1e-9, 6) AS est_jaccard,"
        " round(CAST(exact_inter AS DOUBLE)"
        "  / (exact_a + exact_b - exact_inter) + 1e-9, 6)"
        "  AS exact_jaccard,"
        " exact_inter,"
        " round(j_est * union_est + 1e-9, 2) AS est_inter,"
        " abs(round(j_est + 1e-9, 6) - round(CAST(exact_inter AS"
        "  DOUBLE) / (exact_a + exact_b - exact_inter) + 1e-9, 6))"
        "  <= 3.0 / sqrt(128) AS within_tol"
        " FROM calc3 ORDER BY grp_a, grp_b"
    ),
}
