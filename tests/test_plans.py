"""Physical-plan audit over the whole query catalog (SURVEY.md §4).

Guards the scale properties that correctness tests can't see:
- no accidental cartesian / broadcast-nested-loop joins (quadratic at
  100 TB) anywhere except the operators that are intentionally
  brute-force (knn_join's cross join is the exact-kNN baseline);
- parquet scans prune columns (never read full-width documents/lineitem
  when the query projects a few columns);
- selective filters reach the scan as pushed predicates.
"""

import pytest

import __spark_entry__ as E

# The allowlists are shared with scripts/plan_report.py so the
# committed artifact runs the EXACT audits this module runs — they
# live in the package (plans/allowlists.py), not here (ADVICE r9:
# the report must not depend on the tests/ directory layout).
from flink_elasticsearch_ingestion_spark.plans.allowlists import (
    CROSS_JOIN_OK,
    SCALAR_JOIN_OK,
    UNPARTITIONED_WINDOW_OK,
)


from flink_elasticsearch_ingestion_spark.plans import (
    assert_no_accidental_quadratic_join,
    assert_no_unpartitioned_fact_window,
    physical_plan,
    scan_summary,
)


def _physical(spark, name, sf_dir):
    return physical_plan(E.queries()[name](spark, sf_dir))


#: per-query outcome of both catalog-wide audits: {name: {audit: msg}}
_AUDITS: dict[str, dict[str, str | None]] = {}


def _audit(spark, sf_dir, name) -> dict[str, str | None]:
    """Build each catalog query ONCE and run both plan audits on it
    (each behind its own allowlist); the two parametrized tests below
    each read their half. Only the failure messages are kept, never
    the DataFrame."""
    if name not in _AUDITS:
        df = E.queries()[name](spark, sf_dir)

        def run(check, **kw):
            try:
                check(df, **kw)
            except AssertionError as e:
                return str(e) or "audit failed"
            return None

        _AUDITS[name] = {
            "join": None
            if name in CROSS_JOIN_OK
            else run(
                assert_no_accidental_quadratic_join,
                allow_nested_loop=name in SCALAR_JOIN_OK,
            ),
            "window": None
            if name in UNPARTITIONED_WINDOW_OK
            else run(assert_no_unpartitioned_fact_window),
        }
    return _AUDITS[name]


@pytest.mark.parametrize("name", sorted(E.queries()))
def test_no_accidental_quadratic_join(spark, sf_dir, name):
    if name in CROSS_JOIN_OK:
        pytest.skip(
            "intentional cross join (dimension-sized all-pairs baseline)"
        )
    err = _audit(spark, sf_dir, name)["join"]
    assert err is None, err


@pytest.mark.parametrize("name", sorted(E.queries()))
def test_no_unpartitioned_fact_window(spark, sf_dir, name):
    """The quadratic-join audit's missing twin (VERDICT r4): no query
    may funnel a fact-sized input through a global (unpartitioned)
    window — Spark's `WindowExec: No Partition Defined` single-task
    shape. Bounded axes (day/vocab/bucket aggregates, post-limit
    frames) pass structurally; anything else needs an explicit
    UNPARTITIONED_WINDOW_OK entry with a boundedness justification."""
    if name in UNPARTITIONED_WINDOW_OK:
        pytest.skip("documented bounded-input unpartitioned window")
    err = _audit(spark, sf_dir, name)["window"]
    assert err is None, err


def test_copy_filter_is_pushed_to_scan(spark, sf_dir):
    plan = _physical(spark, "copy_incremental", sf_dir)
    assert "PushedFilters: [" in plan
    # the ts-range predicate must reach the parquet reader, not sit in
    # a post-scan Filter only (events.ts arrives as nanos-long)
    assert "GreaterThan(ts" in plan


def test_pricing_summary_prunes_columns(spark, sf_dir):
    scans = scan_summary(E.queries()["pricing_summary"](spark, sf_dir))
    assert len(scans) == 1
    cols = scans[0]["columns"]
    # needed columns only, not lineitem's full width
    assert "l_quantity" in cols and "l_orderkey" not in cols and "l_comment" not in cols


def test_scan_summary_reports_pushed_filters(spark, sf_dir):
    """The audit library itself: copy_incremental's scan must report
    the pushed ts predicate and the pruned column set."""
    scans = scan_summary(E.queries()["copy_incremental"](spark, sf_dir))
    assert len(scans) == 1
    assert any("GreaterThan(ts" in f for f in scans[0].get("pushed_filters", []))
    assert "event_id" in scans[0]["columns"]


def test_top_revenue_orders_no_forced_broadcast(spark, sf_dir):
    """At 100 TB nothing in this query is broadcastable; with the size
    heuristic disabled the plan must degrade to pure shuffle joins. A
    hard-coded F.broadcast hint on any fact-derived subtree would
    survive the disabled threshold and fail here (driver OOM at scale).
    At tiny local SF the heuristic may legitimately broadcast either
    side, so the assertion runs with it off."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _physical(spark, "top_revenue_orders", sf_dir)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastExchange" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_top_orders_plans_takeordered(spark, sf_dir):
    plan = _physical(spark, "top_orders", sf_dir)
    assert "TakeOrderedAndProject" in plan  # per-partition heaps, no global sort


def test_last_wins_is_partial_final_agg_not_window(spark, sf_dir):
    """Last-wins must plan as partial+final
    aggregation (map-side combine collapses duplicate doc_ids BEFORE
    the shuffle), never as a window over the fully-shuffled stream.
    Struct max buffers plan as SortAggregate; what matters is the
    partial instance sitting below the exchange."""
    plan = _physical(spark, "copy_incremental", sf_dir)
    assert "Window" not in plan
    n_aggs = plan.count("SortAggregate") + plan.count("HashAggregate")
    assert n_aggs >= 2  # partial + final
    assert "Exchange hashpartitioning" in plan


def test_bucketed_join_is_colocated(spark, sf_dir):
    """The co-location contract of sources/layout.py::write_bucketed:
    two tables bucketed by the join key with matching bucket counts
    join with ZERO exchange on the join key — no hashpartitioning on
    l_orderkey/o_orderkey anywhere in the plan (the groupBy's
    o_orderpriority exchange is the only shuffle left). Broadcast is
    disabled so the sort-merge join can't hide the property."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        plan = _physical(spark, "bucketed_join", sf_dir)
    finally:
        spark.conf.set(key, old)
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    # sanity: the same join WITHOUT bucketing does exchange on the key
    import __spark_entry__ as _E

    li = _E._t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    od = _E._t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    spark.conf.set(key, "-1")
    try:
        from flink_elasticsearch_ingestion_spark.plans import physical_plan

        raw = physical_plan(li.join(od, li["l_orderkey"] == od["o_orderkey"]))
    finally:
        spark.conf.set(key, old)
    assert "Exchange hashpartitioning(l_orderkey" in raw


def test_bulk_chunks_distributed_no_global_window(spark, sf_dir):
    """The scale-path chunker must never serialize the stream through a
    single-partition global window (the semantics-mirror bulk_chunks
    does, documented); its window partitions by spark_partition_id."""
    plan = _physical(spark, "bulk_chunks_distributed", sf_dir)
    # every Window operator must sit on a hash-partitioned exchange (its
    # windowspecdefinition names a partition expression _wN); the only
    # SinglePartition exchange allowed is the final 1-row summary agg
    for ln in plan.splitlines():
        if "windowspecdefinition" in ln:
            assert "windowspecdefinition(_w" in ln, f"global window: {ln}"
    assert plan.count("Exchange SinglePartition") == 1, "only the 1-row summary may gather"


def test_revenue_forecast_filters_reach_scan(spark, sf_dir):
    """Q6-style is THE pushdown query: all three predicate families
    (date range, discount band, quantity cap) must be pushed into the
    parquet scan and only the 4 referenced columns read."""
    scans = scan_summary(E.queries()["revenue_forecast"](spark, sf_dir))
    assert len(scans) == 1
    pushed = " ".join(scans[0].get("pushed_filters", []))
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed
    cols = scans[0]["columns"]
    assert set(cols) <= {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}


def test_disjunctive_revenue_pushes_per_side_disjuncts(spark, sf_dir):
    """Q19-style: the OR spans both join sides, but Catalyst must derive
    per-side residuals (an Or over l_quantity bounds on the lineitem
    scan, an Or over brand/size on the part scan) and keep the join an
    equi hash/merge join — never a nested loop on the raw disjunction."""
    # NOTE: scan metadata strings are lazy vals on the exec nodes — the
    # first render freezes them — so each helper gets a fresh DataFrame
    plan = physical_plan(E.queries()["disjunctive_revenue"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    scans = scan_summary(E.queries()["disjunctive_revenue"](spark, sf_dir))
    joined = " ".join(" ".join(s.get("pushed_filters", [])) for s in scans)
    assert "Or(" in joined and "l_quantity" in joined
    assert "p_brand" in joined


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_dir):
    """Runtime row-level filtering (§4 scale posture): when a selective
    dim-side filter feeds a shuffle join, Spark should inject a bloom
    filter that drops non-matching fact rows AT THE SCAN, before the
    shuffle — at 100 TB that is the difference between shuffling the
    full fact table and shuffling the ~matching slice. Thresholds are
    lowered here because the local fixtures are below the size gates
    that (correctly) guard the rewrite in production."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1B",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("l_returnflag")
            .count()
        )
        plan = physical_plan(j)
        assert "might_contain" in plan.lower()
        assert "bloom_filter_agg" in plan.lower()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_token_budget_no_data_sized_global_window(spark, sf_dir):
    """The running token total must never funnel the corpus through a
    single partition: the only SinglePartition exchange allowed is the
    tiny (scores x sub_buckets) offsets histogram feeding the prefix
    sum; every data-sized Window partitions by (score, sub-bucket)."""
    plan = _physical(spark, "token_budget", sf_dir)
    for ln in plan.splitlines():
        if "windowspecdefinition" in ln and "_w" not in ln:
            # the histogram prefix-sum window (input: grouped histogram
            # rows, bounded) is the only global-ordered window allowed
            assert "__bucket_tokens" in ln or "__n" in ln, f"global window over data: {ln}"
    assert plan.count("Exchange SinglePartition") <= 1


def test_resample_window_reuses_join_partitioning(spark, sf_dir):
    """The forward-fill window runs directly on the spine join output:
    under the local broadcast plan there must be NO exchange between
    the join and the Window (the spine side already hash-partitions by
    user_id); only the final presentation sort may range-partition."""
    plan = _physical(spark, "resample_events", sf_dir)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # count exchanges: 2 aggregation shuffles + 1 final rangepartitioning
    n_hash = plan.count("Exchange hashpartitioning")
    n_range = plan.count("Exchange rangepartitioning")
    assert n_hash <= 2, plan[:2000]
    assert n_range == 1


def test_time_weighted_value_single_wide_shuffle(spark, sf_dir):
    # the lead window and the per-user aggregate must share one
    # user_id exchange; only the final orderBy adds a range exchange
    plan = _physical(spark, "time_weighted_value", sf_dir)
    hash_exchanges = plan.count("Exchange hashpartitioning")
    assert hash_exchanges == 1, plan


def test_cohort_retention_one_fact_shuffle(spark, sf_dir):
    # collect_set formulation: ONE fact-sized exchange on user_id plus
    # the tiny (cohort, offset) matrix aggregation — the naive
    # distinct-then-window plan costs a second full-width exchange
    plan = _physical(spark, "cohort_retention", sf_dir)
    hash_exchanges = plan.count("Exchange hashpartitioning")
    assert hash_exchanges <= 2, plan
    assert "Window" not in plan, plan


def test_table_profile_single_scan(spark, sf_dir):
    # every statistic for every column in one aggregation pass: one
    # parquet scan, no per-column jobs
    plan = _physical(spark, "table_profile", sf_dir)
    assert plan.count("Scan parquet") == 1, plan


def test_event_trigrams_takeordered_topk(spark, sf_dir):
    # the corpus top-k must plan as TakeOrderedAndProject (bounded
    # per-partition heaps), never a global sort materialization
    plan = _physical(spark, "event_trigrams", sf_dir)
    assert "TakeOrderedAndProject" in plan, plan


def test_portable_minhash_band_join_single_wide_shuffle(spark, sf_dir):
    """The md5-family minhash path keys its band self-join on the
    exploded (band_idx, band_hash) pair and never falls back to a
    cartesian product: the band join is the ONLY fact-wide shuffle."""
    plan = _physical(spark, "minhash_near_dup", sf_dir)
    assert "CartesianProduct" not in plan
    # the band join keys on the exploded (band_idx, band_hash) pair
    assert "band_idx" in plan and "band_hash" in plan


def test_es_scroll_roundtrip_filter_pushdown_visible(tmp_path, spark, sf_dir):
    """The scroll read path's checkpoint predicate must be ACCEPTED by
    pushFilters (evaluated inside the reader, no residual ts Filter in
    the plan) and the read must stay shard-parallel (one input
    partition per staged shard)."""
    import pyspark.sql.functions as F

    from flink_elasticsearch_ingestion_spark.functions.json_shaping import encode_body
    from flink_elasticsearch_ingestion_spark.operators.copy import (
        BODY_COLS,
        shape_documents,
    )
    from flink_elasticsearch_ingestion_spark.sources.es_scroll import (
        EsScrollDataSource,
        write_index_shards,
    )
    from flink_elasticsearch_ingestion_spark.sources.tables import load_events

    spark.dataSource.register(EsScrollDataSource)
    docs = encode_body(shape_documents(load_events(spark, sf_dir)), BODY_COLS).select(
        "doc_id", "index_id", "ts", "source"
    )
    idx = str(tmp_path / "scroll_idx")
    write_index_shards(docs, idx, n_shards=8)
    raw = spark.read.format("es_scroll").option("path", idx).load()
    assert raw.rdd.getNumPartitions() == 8  # one slice per shard
    filtered = raw.filter(F.col("ts") > F.lit("2024-01-15 00:00:00").cast("timestamp"))
    plan = physical_plan(filtered)
    # the ts bound was accepted by pushFilters -> Spark must NOT
    # re-apply it as a post-scan Filter (isnotnull may remain)
    assert "(ts" not in plan.replace("isnotnull(ts", ""), plan


def test_growth_accounting_single_fact_shuffle_no_window(spark, sf_dir):
    """collect_set formulation, same discipline as cohort_retention:
    classification AND churn emission ride one map-side
    transform/flatten over the per-user week set (no Window operator),
    so the fact shuffles exactly once on user_id; the horizon is a
    scan-only 1-row broadcast scalar."""
    plan = _physical(spark, "growth_accounting", sf_dir)
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan


def test_drift_psi_single_scan_single_tiny_shuffle(spark, sf_dir):
    """One orders scan, one aggregation exchange on the ≤10-key bin
    column; the share windows run over the aggregated ≤10-row frame
    (the SinglePartition exchange there is bounded by bin count, not
    data)."""
    plan = _physical(spark, "drift_psi", sf_dir)
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_equi_depth_buckets_window_partitioned_by_coarse_range(spark, sf_dir):
    """The two-phase NTILE must rank inside coarse ranges: every
    data-sized window partitions by __coarse; only the tiny offsets
    histogram may pass through a SinglePartition window."""
    plan = _physical(spark, "equi_depth_buckets", sf_dir)
    for ln in plan.splitlines():
        if "windowspecdefinition" in ln and "__coarse" not in ln:
            assert "__n" in ln, f"global window over data rows: {ln}"
    assert plan.count("Exchange SinglePartition") <= 1, plan


def test_scrub_boilerplate_single_doc_rebuild_shuffle(spark, sf_dir):
    """Passages explode map-side; the boilerplate table broadcasts into
    the flag join (fact side never re-shuffles for it); document
    reassembly is the only doc_id-keyed exchange."""
    plan = _physical(spark, "scrub_boilerplate", sf_dir)
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Exchange hashpartitioning(doc_id") <= 1, plan


def test_sessionize_windows_and_agg_share_one_exchange(spark, sf_dir):
    """lag window, running-sum window, and the per-(user, session)
    aggregate must all ride ONE user_id exchange."""
    plan = _physical(spark, "sessionize", sf_dir)
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan


def test_rolling_wau_expands_deduped_user_days_only(spark, sf_dir):
    """The x7 day fan-out must sit ABOVE the distinct (user, day)
    aggregate, never on the raw fact: the explode's child is the
    final dedup aggregate, and no Window appears anywhere."""
    plan = _physical(spark, "rolling_wau", sf_dir)
    assert "Window" not in plan, plan
    gen = plan.index("Generate explode")
    agg = plan.index("HashAggregate")
    assert gen < plan.index("Scan parquet"), plan[:3000]
    assert "HashAggregate" in plan[gen:], "explode must feed off the dedup agg"


def test_winsorized_stats_bounds_broadcast(spark, sf_dir):
    """Pass-2 clip joins the group-cardinality bounds table as a
    broadcast; the fact never re-shuffles for the join."""
    plan = _physical(spark, "winsorized_stats", sf_dir)
    assert "BroadcastHashJoin" in plan, plan


def test_merge_apply_single_key_shuffle_join(spark, sf_dir):
    """MERGE plans as one full-outer shuffle join on the key (SMJ or
    shuffled hash), no nested loop, no cartesian."""
    plan = _physical(spark, "merge_apply", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FullOuter" in plan or "full_outer" in plan.lower(), plan


def test_embedding_gramian_partial_aggregates_before_shuffle(spark, sf_dir):
    """The dim^2 fan-out must combine map-side: a partial HashAggregate
    sits below the (i, j) exchange, so each partition ships at most
    dim*(dim+1)/2 rows regardless of corpus size."""
    plan = _physical(spark, "embedding_gramian", sf_dir)
    exch = plan.index("Exchange hashpartitioning")
    assert "HashAggregate" in plan[exch:], plan
    # partial agg below the exchange (appears after it in EXPLAIN's
    # bottom-up text rendering)
    below = plan[exch:]
    assert "partial" in below.lower() or "HashAggregate" in below, plan


def test_bloom_prefilter_probe_is_mapside_and_join_broadcast(spark, sf_dir):
    """The bloom membership test must run as a plain Filter in the
    probe-side scan stage (that is the entire point: non-matching rows
    die before any exchange), and the final exact join must broadcast
    the urgent-order build side."""
    plan = _physical(spark, "bloom_prefilter_join", sf_dir)
    assert "xxhash64" in plan  # the probe predicate made it into the plan
    # the probe filter is a Filter node, not a join condition
    filter_idx = plan.find("xxhash64")
    assert "Filter" in plan[: filter_idx + 2000] or "Filter" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_runtime_bloom_filter_injects_on_selective_join(spark, sf_dir):
    """Spark's runtime bloom-filter join pruning: a selective dim-side
    filter creates a bloom_filter_agg subquery and the fact side gains
    a might_contain predicate BEFORE the join — at 100 TB the
    difference between shuffling the whole fact table and shuffling
    only rows that can possibly match. Thresholds are lowered here only
    because the test data is tiny; the assertion is that our join
    shapes stay ELIGIBLE for the rewrite (equi-join, plain scan, no
    structure that blocks the filter)."""
    import __spark_entry__ as _E
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = _E._t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
        od = _E._t(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        ).select("o_orderkey")
        from flink_elasticsearch_ingestion_spark.plans import physical_plan

        plan = physical_plan(li.join(od, li["l_orderkey"] == od["o_orderkey"]))
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert "might_contain" in plan
    assert "bloom_filter_agg" in plan


def test_aqe_splits_skewed_join_partition(spark):
    """The engine-native alternative to manual salting: AQE's runtime
    skew-join handling must split an oversized shuffle partition into
    parallel sub-joins (SortMergeJoin(skew=true) + AQEShuffleRead
    skewed in the FINAL adaptive plan). Thresholds are lowered only
    because the test data is tiny; the assertion is that our session
    leaves the rewrite available and the join shape stays eligible —
    at 100 TB this is what absorbs a hot key without a code change
    (salted_join remains the deterministic-layout alternative)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 300_000).select(
            F.when(F.col("id") % 10 == 0, 7)
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right, "k")
        assert j.count() == 300_000
        j.collect()  # executes j's OWN QueryExecution -> final plan
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert "isFinalPlan=true" in plan
    assert "SortMergeJoin(skew=true)" in plan
    assert "AQEShuffleRead skewed" in plan
