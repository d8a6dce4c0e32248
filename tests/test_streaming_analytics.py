"""Streaming analytics: watermarked event-time windows and the custom
stateful operator produce the same answers as their batch formulations
(stream ≡ batch on a finite fixture, SURVEY.md §5.2.4 analog)."""

import pytest

from pyspark.sql import functions as F

from flink_elasticsearch_ingestion_spark.sources.tables import load_events
from flink_elasticsearch_ingestion_spark.streaming.analytics import (
    stream_user_stats,
    stream_windowed_counts,
    windowed_event_counts,
)


def _staged_events(tmp_path, spark, sf_dir):
    """Stage normalized events (us-timestamp ts) as a parquet dir for the
    file stream source."""
    d = str(tmp_path / "events_in")
    load_events(spark, sf_dir).write.parquet(d)
    return d


def test_stream_windowed_counts_match_batch(tmp_path, spark, sf_dir):
    in_dir = _staged_events(tmp_path, spark, sf_dir)
    q = stream_windowed_counts(spark, in_dir, str(tmp_path / "ck"), query_name="wc_test")
    q.awaitTermination(120)

    streamed = spark.table("wc_test")
    batch = windowed_event_counts(spark.read.parquet(in_dir))
    assert streamed.count() == batch.count()
    assert streamed.exceptAll(batch.select(*streamed.columns)).count() == 0


def test_stateful_user_stats_match_batch(tmp_path, spark, sf_dir):
    in_dir = _staged_events(tmp_path, spark, sf_dir)
    q = stream_user_stats(spark, in_dir, str(tmp_path / "ck2"), query_name="us_test")
    q.awaitTermination(120)

    # update-mode memory sink: keep the LAST emitted row per user
    streamed = spark.table("us_test").groupBy("user_id").agg(
        F.max("n_events").alias("n_events")
    )
    batch = (
        spark.read.parquet(in_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    assert streamed.count() == batch.count()
    assert streamed.exceptAll(batch).count() == 0


def test_streaming_dedup_matches_batch(tmp_path, spark, sf_dir):
    from flink_elasticsearch_ingestion_spark.streaming.analytics import stream_dedup_copy

    # stage the events TWICE so the stream genuinely contains duplicates
    d = str(tmp_path / "dup_in")
    ev = load_events(spark, sf_dir)
    ev.write.parquet(d)
    ev.write.mode("append").parquet(d)

    q = stream_dedup_copy(spark, d, str(tmp_path / "ck3"), query_name="dd_test")
    q.awaitTermination(120)

    streamed = spark.table("dd_test")
    n_distinct = ev.select("event_id").distinct().count()
    assert streamed.count() == n_distinct
    assert streamed.select("event_id").distinct().count() == n_distinct


def test_stream_static_enrichment_join(tmp_path, spark, sf_dir):
    """Stream-static join: the event stream enriched per micro-batch
    against a static dimension (the stream side stays incremental; the
    static side is re-read per batch). Output must equal the batch
    join on the same data."""
    in_dir = _staged_events(tmp_path, spark, sf_dir)
    customers = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    schema = spark.read.parquet(in_dir).schema
    stream = spark.readStream.schema(schema).parquet(in_dir)
    enriched = stream.join(customers, "user_id", "left")

    q = (
        enriched.select("event_id", "user_id", "c_mktsegment")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("enrich_test")
        .option("checkpointLocation", str(tmp_path / "ck4"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    streamed = spark.table("enrich_test")
    batch = (
        spark.read.parquet(in_dir)
        .join(customers, "user_id", "left")
        .select("event_id", "user_id", "c_mktsegment")
    )
    assert streamed.count() == batch.count()
    assert streamed.exceptAll(batch).count() == 0


def test_catalog_window_queries_stream_parity(tmp_path, spark, sf_dir):
    """Batch/stream parity on the EXACT driver-facing window operators
    (tumbling_windows / session_windows are oracle-green in batch): the
    same operator function run as a structured-streaming aggregation
    (complete mode, AvailableNow) must emit the identical result table."""
    from flink_elasticsearch_ingestion_spark.operators import windows as W

    in_dir = _staged_events(tmp_path, spark, sf_dir)
    schema = spark.read.parquet(in_dir).schema

    for name, op in [("tw_parity", W.tumbling_event_windows), ("sw_parity", W.session_windows)]:
        stream = spark.readStream.schema(schema).parquet(in_dir)
        q = (
            op(stream)
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        streamed = spark.table(name)
        batch = op(spark.read.parquet(in_dir))
        assert streamed.count() == batch.count(), name
        assert streamed.exceptAll(batch.select(*streamed.columns)).count() == 0, name


def test_streaming_content_dedup_matches_batch(tmp_path, spark, sf_dir):
    """Planted exact-content duplicates across micro-batch files are
    dropped by the streaming content dedup; final doc set == batch
    content dedup of the union."""
    from flink_elasticsearch_ingestion_spark.streaming.analytics import (
        streaming_content_dedup,
    )

    docs = spark.read.parquet(f"{sf_dir.replace('sf0.001', 'sf0.001')}/documents.parquet")
    base = docs.select(
        "doc_id", "text", F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts")
    )
    clones = base.limit(10).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "ts"
    )
    d = str(tmp_path / "cd_in")
    base.write.parquet(d)
    clones.write.mode("append").parquet(d)

    stream = spark.readStream.schema(base.schema).parquet(d)
    q = (
        streaming_content_dedup(stream)
        .select("doc_id", "content_hash")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("cd_test")
        .option("checkpointLocation", str(tmp_path / "cd_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.table("cd_test")
    batch = streaming_content_dedup(spark.read.parquet(d))
    assert streamed.count() == batch.count()
    # one row per distinct content hash, none of the planted clones' hash duplicated
    assert streamed.select("content_hash").distinct().count() == streamed.count()


def test_stream_stream_interval_join_matches_batch(tmp_path, spark, sf_dir):
    """Stream-stream interval join (clicks x purchases, both streaming,
    watermarked on each side): inner-join matches emit eagerly, so the
    drained result must equal the identical batch-mode range join."""
    from flink_elasticsearch_ingestion_spark.streaming.analytics import (
        purchases_after_click_stream,
    )

    in_dir = _staged_events(tmp_path, spark, sf_dir)
    schema = spark.read.parquet(in_dir).schema

    def sides(df):
        return (
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") == "purchase"),
        )

    s_clicks, s_purchases = sides(spark.readStream.schema(schema).parquet(in_dir))
    q = (
        purchases_after_click_stream(s_clicks, s_purchases)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_test")
        .option("checkpointLocation", str(tmp_path / "ssj_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.table("ssj_test")
    b_clicks, b_purchases = sides(spark.read.parquet(in_dir))
    batch = purchases_after_click_stream(b_clicks, b_purchases)
    assert streamed.count() == batch.count()
    assert streamed.exceptAll(batch.select(*streamed.columns)).count() == 0


def test_stream_sliding_windows_match_batch(tmp_path, spark, sf_dir):
    from flink_elasticsearch_ingestion_spark.streaming.analytics import (
        stream_sliding_counts,
    )

    in_dir = _staged_events(tmp_path, spark, sf_dir)
    q = stream_sliding_counts(spark, in_dir, str(tmp_path / "sw_ck"), query_name="sw_test")
    q.awaitTermination(120)
    streamed = spark.table("sw_test")
    batch = (
        spark.read.parquet(in_dir)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.start").alias("window_start"), "event_type", "n_events")
    )
    assert streamed.count() == batch.count()
    assert streamed.exceptAll(batch).count() == 0
    # hop fan-out sanity: every event lands in exactly 2 windows
    n_events = spark.read.parquet(in_dir).count()
    total = streamed.agg(F.sum("n_events")).first()[0]
    assert total == 2 * n_events


def test_stream_incremental_rollup_equals_one_shot(tmp_path, spark, sf_dir):
    """Fold the event stream into a rollup snapshot micro-batch by
    micro-batch (several triggers via maxFilesPerTrigger=1 over a
    multi-file stage) and require the final snapshot to equal the
    one-shot batch aggregate EXACTLY (decimal sums are associative)."""
    from flink_elasticsearch_ingestion_spark.streaming.analytics import (
        stream_incremental_rollup,
    )

    in_dir = str(tmp_path / "ev_multi")
    # several input files -> several micro-batches
    load_events(spark, sf_dir).repartition(3).write.parquet(in_dir)
    snap_path = str(tmp_path / "rollup_snapshot")
    q = stream_incremental_rollup(
        spark, in_dir, snap_path, str(tmp_path / "ck_roll")
    )
    q.awaitTermination(120)

    got = {
        r.event_type: (r.n_events, r.total_value)
        for r in spark.read.parquet(snap_path).collect()
    }
    want = {
        r.event_type: (r.n_events, r.total_value)
        for r in spark.read.parquet(in_dir)
        .select("event_type", F.col("value").cast("decimal(18,4)").alias("value"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .collect()
    }
    assert got == want


def test_user_stats_tws_or_documented_gate(tmp_path, spark, sf_dir):
    """transformWithStateInPandas twin: runs end-to-end where protobuf
    exists; here the gate must raise the documented ImportError (the
    applyInPandasWithState path remains the tested surface)."""
    from flink_elasticsearch_ingestion_spark.streaming.analytics import (
        _tws_available,
        user_stats_tws,
    )

    if not _tws_available():
        with pytest.raises(ImportError):
            user_stats_tws(load_events(spark, sf_dir))
        return
    in_dir = str(tmp_path / "events_in")
    load_events(spark, sf_dir).select("user_id", "value").write.parquet(in_dir)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    schema = spark.read.parquet(in_dir).schema
    stream = spark.readStream.schema(schema).parquet(in_dir)
    q = (
        user_stats_tws(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("tws_stats")
        .option("checkpointLocation", str(tmp_path / "tws_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["user_id"]: (r["n_events"], round(r["sum_value"], 4))
        for r in spark.table("tws_stats").collect()
    }
    want = {
        r["user_id"]: (r["n"], round(r["s"], 4))
        for r in spark.read.parquet(in_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == want


def test_stream_constraint_report_matches_batch(tmp_path, spark, sf_dir):
    """Continuous DQ: complete-mode streaming run of the compiled rule
    aggregation (multiple triggers via maxFilesPerTrigger in the
    AvailableNow plan) ends at exactly the batch report. ``unique``
    rules are excluded — streaming rejects exact distinct aggregates."""
    from flink_elasticsearch_ingestion_spark.operators.quality import (
        constraint_report,
    )
    from flink_elasticsearch_ingestion_spark.streaming.analytics import (
        stream_constraint_report,
    )

    rules = (
        {"kind": "not_null", "column": "user_id"},
        {"kind": "in_range", "column": "value", "lo": 0.0, "hi": 100.0},
        {"kind": "accepted_values", "column": "event_type",
         "values": ("click", "view", "purchase")},
    )
    in_dir = _staged_events(tmp_path, spark, sf_dir)
    q = stream_constraint_report(
        spark, in_dir, rules, str(tmp_path / "dq_ck"), query_name="dq_test"
    )
    q.awaitTermination(120)
    streamed = spark.table("dq_test")
    batch = constraint_report(spark.read.parquet(in_dir), rules)
    assert streamed.count() == batch.count() == 3
    assert streamed.exceptAll(batch.select(*streamed.columns)).count() == 0
    # at least one rule must actually be failing for the parity to
    # prove anything about nonzero counts
    assert streamed.filter("passed = false").count() >= 1


def test_stream_incremental_dedup_rejects_cross_batch_dupes(tmp_path, spark):
    """Streaming corpus admission: exact/near copies arriving in a later
    micro-batch than their originals must be rejected against the
    persistent signature store; fresh documents are always admitted.
    Order-independent assertions (file->batch order is mtime-driven):
    exactly ONE of each duplicate pair survives, all unique docs do."""
    import os as _os
    import time as _time

    from flink_elasticsearch_ingestion_spark.streaming.analytics import (
        stream_incremental_dedup,
    )

    base = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (1, "pack my box with five dozen liquor jugs before the long summer night"),
        (2, "sphinx of black quartz judge my vow under a pale winter morning sky"),
    ]
    later = [
        (9000, base[0][1]),  # exact copy of doc 0
        (9001, base[1][1] + " extra"),  # near copy of doc 1
        (9002, "completely different content about distributed query engines at scale"),
    ]
    schema = "doc_id bigint, text string"
    src = str(tmp_path / "doc_stream")
    _os.makedirs(src)
    spark.createDataFrame(base, schema).coalesce(1).write.mode("append").parquet(src)
    _time.sleep(1.1)  # distinct mtimes -> deterministic two-trigger order
    spark.createDataFrame(later, schema).coalesce(1).write.mode("append").parquet(src)

    sig_store = str(tmp_path / "sig_store")
    accepted = str(tmp_path / "accepted")
    q = stream_incremental_dedup(
        spark, src, sig_store, accepted, str(tmp_path / "ck_dedup"),
        jaccard_threshold=0.5,
    )
    q.awaitTermination(120)

    got = {r.doc_id for r in spark.read.parquet(accepted).collect()}
    # one survivor per duplicate pair, every unique doc admitted
    assert len({0, 9000} & got) == 1
    assert len({1, 9001} & got) == 1
    assert {2, 9002} <= got
    # the signature store mirrors the accepted set exactly
    sig_ids = {r.doc_id for r in spark.read.parquet(sig_store).collect()}
    assert sig_ids == got


def test_stream_merge_apply_converges_and_replays_idempotently(tmp_path, spark):
    """CDC batches MERGE into the snapshot one micro-batch at a time;
    the final snapshot equals the hand-applied sequence, and replaying
    the last batch against the merged snapshot is a fixed point
    (at-least-once delivery -> exactly-once snapshot)."""
    from flink_elasticsearch_ingestion_spark.operators.copy import merge_apply
    from flink_elasticsearch_ingestion_spark.streaming.analytics import (
        stream_merge_apply,
    )

    in_dir = tmp_path / "cdc"
    in_dir.mkdir()
    b1 = spark.createDataFrame(
        [(1, "a", False), (2, "b", False)],
        "doc_id long, val string, is_delete boolean",
    )
    b2 = spark.createDataFrame(
        [(2, "B", False), (1, None, True), (3, "c", False)],
        "doc_id long, val string, is_delete boolean",
    )
    b1.coalesce(1).write.parquet(str(in_dir / "f1"))
    b2.coalesce(1).write.parquet(str(in_dir / "f2"))
    # parquet dir-of-dirs won't stream; stage flat files instead
    import glob
    import shutil

    flat = tmp_path / "cdc_flat"
    flat.mkdir()
    import os as _os
    import time as _time

    now = _time.time()
    for i, sub in enumerate(sorted(in_dir.iterdir())):
        (part,) = glob.glob(str(sub / "part-*.parquet"))
        dst = str(flat / f"batch-{i}.parquet")
        shutil.copy(part, dst)
        # FileStreamSource orders batches by modification time: pin the
        # CDC log order explicitly (order-sensitive by definition)
        _os.utime(dst, (now + 10 * i, now + 10 * i))

    snap = str(tmp_path / "merge_snapshot")
    q = stream_merge_apply(spark, str(flat), snap, str(tmp_path / "ck_merge"))
    q.awaitTermination(120)

    got = {r["doc_id"]: r["val"] for r in spark.read.parquet(snap).collect()}
    assert got == {2: "B", 3: "c"}

    # replay fixed point: re-merging b2 changes nothing
    merged_again = merge_apply(spark.read.parquet(snap), b2)
    assert {
        r["doc_id"]: r["val"] for r in merged_again.collect()
    } == got


def test_stream_heavy_hitters_contract_bounded_state_and_replay(tmp_path, spark):
    """Two document micro-batches fold into the persistent MG summary:
    the merged sketch honors the two-sided contract against exact
    whole-corpus counts, stored state stays within m counters + the
    budget row, and re-applying an already-folded batch id is a
    no-op."""
    from flink_elasticsearch_ingestion_spark.operators.relational import (
        MG_BUDGET_KEY,
    )
    from flink_elasticsearch_ingestion_spark.streaming.analytics import (
        heavy_hitters_apply_factory,
        stream_heavy_hitters,
    )

    rows1 = [(i, "heavy word filler") for i in range(120)]
    rows1 += [(1000 + i, f"rareA{i} heavy") for i in range(60)]
    rows2 = [(2000 + i, "heavy other tokens") for i in range(80)]
    rows2 += [(3000 + i, f"rareB{i} word") for i in range(60)]
    schema = "doc_id long, text string"
    in_dir = tmp_path / "docs"
    in_dir.mkdir()
    import glob
    import os as _os
    import shutil
    import time as _time

    for i, rows in enumerate([rows1, rows2]):
        sub = tmp_path / f"stage{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(sub))
        (part,) = glob.glob(str(sub / "part-*.parquet"))
        dst = str(in_dir / f"batch-{i}.parquet")
        shutil.copy(part, dst)
        now = _time.time()
        _os.utime(dst, (now + 10 * i, now + 10 * i))

    m = 16
    summary = str(tmp_path / "hh_summary")
    q = stream_heavy_hitters(
        spark, str(in_dir), summary, str(tmp_path / "ck_hh"), m=m, n_parts=2
    )
    q.awaitTermination(120)

    stored = spark.read.parquet(summary).collect()
    counters = {r["w"]: r["c"] for r in stored if r["w"] != MG_BUDGET_KEY}
    budget = next(r["c"] for r in stored if r["w"] == MG_BUDGET_KEY)
    assert len(counters) <= m  # bounded state
    corpus = spark.createDataFrame(rows1 + rows2, schema)
    from pyspark.sql import functions as F

    exact = {
        r["w"]: r["cnt"]
        for r in corpus.select(
            F.explode(F.split(F.lower(F.trim("text")), "\\s+")).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    for w, est in counters.items():
        assert est <= exact[w]  # never overestimates
    for w, true in exact.items():
        assert true - counters.get(w, 0) <= budget  # within budget
    # the dominant word must survive the compress
    assert "heavy" in counters

    # replay: re-applying the last batch id is a no-op
    apply = heavy_hitters_apply_factory(spark, summary, m=m, n_parts=2)
    last = max(r["last_batch"] for r in stored)
    apply(spark.createDataFrame(rows2, schema), last)
    again = spark.read.parquet(summary).collect()
    assert sorted((r["w"], r["c"]) for r in again) == sorted(
        (r["w"], r["c"]) for r in stored
    )


def test_stream_drift_monitor_converges_and_replays(tmp_path, spark):
    """Folding batches yields the full-history histogram, PSI is ~0
    when the stream matches the reference and large when it shifts,
    and a replayed batch id is a no-op."""
    import pyspark.sql.functions as F

    from flink_elasticsearch_ingestion_spark.streaming.analytics import (
        drift_apply_factory,
    )

    monitor = str(tmp_path / "monitor")
    # reference: uniform mass in bins 0 and 1
    ref = {0: 50, 1: 50}
    apply_batch = drift_apply_factory(
        spark, ref, monitor, value_col="v", bin_width=50_000.0, n_bins=10
    )
    b_match = spark.createDataFrame(
        [(10_000.0,)] * 25 + [(60_000.0,)] * 25, "v double"
    )
    apply_batch(b_match, 0)
    log0 = spark.read.parquet(monitor + "/psi_log").orderBy("batch_id").collect()
    assert abs(log0[0]["psi"]) < 1e-6  # matches the reference exactly
    # a shifted batch: all mass lands in the top bin
    b_shift = spark.createDataFrame([(490_000.0,)] * 100, "v double")
    apply_batch(b_shift, 1)
    apply_batch(b_shift, 1)  # replay: no-op
    hist = {
        r["bin"]: r["n"]
        for r in spark.read.parquet(monitor + "/hist").collect()
    }
    assert hist == {0: 25, 1: 25, 9: 100}  # cumulative == full history
    log = spark.read.parquet(monitor + "/psi_log").orderBy("batch_id").collect()
    assert len(log) == 2  # the replay appended nothing
    assert log[1]["psi"] > 0.25  # drift detected


def test_stream_anomaly_monitor_flags_spike_and_replays(tmp_path, spark):
    """Steady batches stay unflagged, a 10x spike batch flags the
    moment it lands, early batches stay unscored, and a replayed
    batch id is a no-op."""
    from flink_elasticsearch_ingestion_spark.streaming.analytics import (
        anomaly_apply_factory,
    )

    monitor = str(tmp_path / "anomaly")
    apply_batch = anomaly_apply_factory(
        spark, monitor, value_col="v", window_n=14, min_history=7
    )
    steady = spark.createDataFrame([(10.0,)] * 10, "v double")
    for i in range(8):
        # tiny wiggle so the trailing stddev is nonzero
        b = spark.createDataFrame([(10.0 + (i % 2),)] * 10, "v double")
        apply_batch(b, i)
    spike = spark.createDataFrame([(100.0,)] * 10, "v double")
    apply_batch(spike, 8)
    apply_batch(spike, 8)  # replay: no-op
    apply_batch(steady, 9)
    rows = {
        r["batch_id"]: r
        for r in spark.read.parquet(monitor + "/series").collect()
    }
    assert len(rows) == 10  # replay appended nothing
    # batches 0..6 lack min_history: unscored
    assert rows[0]["z"] is None and not rows[0]["is_anomaly"]
    assert rows[6]["z"] is None
    # batch 7 has 7 prior steady batches: scored, not flagged
    assert rows[7]["z"] is not None and not rows[7]["is_anomaly"]
    # the spike is flagged the moment it lands
    assert rows[8]["is_anomaly"] and abs(rows[8]["z"]) > 3
    # the post-spike steady batch is judged against a window that now
    # contains the spike, but stays within bounds (not flagged as
    # extreme as the spike itself)
    assert abs(rows[9]["z"]) < abs(rows[8]["z"])


def test_stream_cusum_catches_sustained_shift_and_replays(tmp_path, spark):
    """A small sustained level shift (invisible to any per-batch
    z-score) trips the cumulative statistic within a few batches; the
    recurrence matches a pure-Python replica; replays are no-ops."""
    from flink_elasticsearch_ingestion_spark.streaming.analytics import (
        cusum_apply_factory,
    )

    monitor = str(tmp_path / "cusum")
    apply_batch = cusum_apply_factory(
        spark, monitor, value_col="v", mu=10.0, k_slack=1.0, h_limit=5.0
    )
    totals = [10.0] * 5 + [13.0] * 4  # +3 shift, k=1 -> sp +2/batch
    for i, t in enumerate(totals):
        b = spark.createDataFrame([(t / 2,), (t / 2,)], "v double")
        apply_batch(b, i)
    apply_batch(
        spark.createDataFrame([(99.0,)], "v double"), 3
    )  # replay id 3: no-op
    rows = {
        r["batch_id"]: r
        for r in spark.read.parquet(monitor + "/series").collect()
    }
    assert len(rows) == 9
    # python replica of the recurrence on the same totals
    sp = sn = 0.0
    expect = []
    for t in totals:
        sp = max(0.0, sp + (t - 10.0) - 1.0)
        sn = max(0.0, sn - (t - 10.0) - 1.0)
        expect.append((sp, sn, sp > 5.0 or sn > 5.0))
    for i, (esp, esn, ealarm) in enumerate(expect):
        assert abs(rows[i]["sp"] - esp) < 1e-9
        assert abs(rows[i]["sn"] - esn) < 1e-9
        assert rows[i]["alarm"] == ealarm
    # steady prefix never alarms; the shift alarms by its 3rd batch
    assert not rows[4]["alarm"] and rows[7]["alarm"] and rows[8]["alarm"]


def test_stream_cusum_end_to_end_availablenow(tmp_path, spark):
    """The writeStream wiring: staged parquet files drain under
    AvailableNow, one series row per micro-batch."""
    from flink_elasticsearch_ingestion_spark.streaming.analytics import (
        stream_cusum,
    )

    src = str(tmp_path / "src")
    for i in range(3):
        spark.createDataFrame(
            [(float(10 + i),)], "value double"
        ).coalesce(1).write.mode("append").parquet(src)
    q = stream_cusum(
        spark,
        src,
        str(tmp_path / "mon"),
        str(tmp_path / "ckpt"),
        mu=10.0,
        k_slack=0.5,
        h_limit=100.0,
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(str(tmp_path / "mon") + "/series").collect()
    assert len(rows) == 3
    assert {round(r["total"], 1) for r in rows} == {10.0, 11.0, 12.0}
