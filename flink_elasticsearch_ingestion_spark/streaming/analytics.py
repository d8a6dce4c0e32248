"""Streaming analytics: event-time windows with watermarks, and a custom
stateful operator over ``applyInPandasWithState``.

The reference has no event-time semantics beyond the incremental ts field
(SURVEY.md §2.7) — these are the north-star streaming extensions, built
so every streaming aggregation has an identical batch formulation that
the DuckDB oracle can check (run the same transform on a static frame).

Scale notes:
- watermark state is bounded: windows older than (max event time -
  delay) are finalized and dropped from the state store, so state size
  is O(active windows × group keys), not O(stream length).
- ``applyInPandasWithState`` keeps one state row per group key in the
  state store (RocksDB-backed on a real cluster); batches arrive as
  Arrow, so the python hop is vectorized per group, not per row.
"""

from __future__ import annotations

import os
from typing import Any, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from flink_elasticsearch_ingestion_spark.sources.tables import read_parquet


def _as_event_time(df: DataFrame, col: str) -> DataFrame:
    """Watermarks require TIMESTAMP; tz-less parquet reads as
    TIMESTAMP_NTZ, so normalize the event-time column. Exact under the
    engine's fixed UTC session tz (session.py), batch and stream alike,
    so batch≡stream parity is unaffected."""
    if dict(df.dtypes).get(col) == "timestamp_ntz":
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def windowed_event_counts(
    events: DataFrame,
    window: str = "6 hours",
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Event-time tumbling-window counts. On a stream, the watermark
    bounds state and admits late data up to ``watermark``; on a batch
    frame the same expression is an ordinary group-by (withWatermark is
    a no-op in batch), which is how the oracle checks it."""
    return (
        _as_event_time(events, ts_col).withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def stream_windowed_counts(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    query_name: str = "windowed_counts",
    window: str = "6 hours",
    watermark: str = "1 hour",
):
    """readStream -> watermarked tumbling windows -> in-memory sink
    (update mode: every trigger emits changed windows; the final table
    holds the latest value per window)."""
    schema = read_parquet(spark, source_path).schema
    stream = spark.readStream.schema(schema).parquet(source_path)
    counts = windowed_event_counts(stream, window=window, watermark=watermark)
    return (
        counts.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_dedup(
    events: DataFrame,
    key: str = "event_id",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: drop duplicate keys arriving within the
    watermark horizon. State holds one entry per key seen in the last
    ``watermark`` of event time and is evicted as the watermark advances
    — bounded state for an unbounded stream, which is the only honest
    way to dedup at 100 TB/day (an unbounded seen-set is a batch job's
    privilege). In batch mode this degrades to a plain dropDuplicates."""
    if not events.isStreaming:
        return events.dropDuplicates([key])
    return (
        _as_event_time(events, ts_col)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark([key])
    )


def streaming_content_dedup(
    documents: DataFrame,
    *,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming CONTENT dedup: the batch content-hash operator's
    streaming twin. The sha256 of the normalized text is computed
    map-side per micro-batch, then duplicate hashes arriving within the
    watermark horizon are dropped — bounded state (one entry per
    distinct content seen in the horizon), the only honest contract for
    an unbounded stream. Batch mode degrades to exact content dedup
    keeping the first row per content hash."""
    normalized = F.regexp_replace(F.lower(F.trim(F.col(text_col))), "\\s+", " ")
    hashed = documents.withColumn("content_hash", F.sha2(normalized, 256))
    if not documents.isStreaming:
        return hashed.dropDuplicates(["content_hash"])
    return (
        _as_event_time(hashed, ts_col)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )


def stream_dedup_copy(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    query_name: str = "dedup_stream",
):
    """readStream -> watermarked exact dedup -> append to memory sink."""
    schema = read_parquet(spark, source_path).schema
    stream = spark.readStream.schema(schema).parquet(source_path)
    deduped = streaming_dedup(stream)
    return (
        deduped.select("event_id", "event_type", "user_id", "ts")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


_USER_STATS_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("last_event_type", StringType()),
        StructField("last_ts", TimestampType()),
    ]
)

_USER_STATS_STATE = StructType(
    [
        StructField("n_events", LongType()),
        StructField("last_event_type", StringType()),
        StructField("last_ts", TimestampType()),
    ]
)


def _update_user_stats(
    key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user running profile: total event count + most recent event.
    One state row per user; emits the updated profile each micro-batch
    the user appears in."""
    (user_id,) = key
    if state.exists:
        n_events, last_type, last_ts = state.get
    else:
        n_events, last_type, last_ts = 0, None, None
    for pdf in pdfs:
        n_events += len(pdf)
        idx = pdf["ts"].idxmax()
        batch_last_ts = pdf["ts"].loc[idx]
        if last_ts is None or batch_last_ts >= last_ts:
            last_ts = batch_last_ts
            last_type = pdf["event_type"].loc[idx]
    state.update((n_events, last_type, last_ts))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n_events],
            "last_event_type": [last_type],
            "last_ts": [last_ts],
        }
    )


def stateful_user_stats(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    running per-user event count + latest event type. The stream-native
    equivalent of the batch ``last_wins`` + count aggregate."""
    return (
        events.select("user_id", "event_type", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_stats,
            outputStructType=_USER_STATS_OUTPUT,
            stateStructType=_USER_STATS_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_user_stats(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    query_name: str = "user_stats",
):
    """readStream -> stateful per-user profile -> in-memory sink."""
    schema = read_parquet(spark, source_path).schema
    stream = spark.readStream.schema(schema).parquet(source_path)
    stats = stateful_user_stats(stream)
    return (
        stats.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def purchases_after_click_stream(
    clicks: DataFrame,
    purchases: DataFrame,
    *,
    within: str = "7 days",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join: purchases attributed to a prior
    click by the same user within ``within`` — the streaming twin of the
    batch range-join attribution query.

    Both sides carry watermarks and the join condition bounds the event
    time range, so the state store holds only rows inside
    [watermark + within] per side — the textbook bounded-state
    stream-stream join. In batch mode the same expression is an
    ordinary range join the oracle can check."""
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    if clicks.isStreaming:
        c = _as_event_time(c, "click_ts").withWatermark("click_ts", watermark)
    if purchases.isStreaming:
        p = _as_event_time(p, "purchase_ts").withWatermark("purchase_ts", watermark)
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {within}")),
    ).select("c_user", "click_id", "purchase_id", "click_ts", "purchase_ts")


def stream_sliding_counts(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    query_name: str = "sliding_counts",
    width: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "1 hour",
):
    """readStream -> watermarked sliding windows -> memory sink (update
    mode). The hop fan-out happens map-side before the keyed shuffle;
    watermark eviction bounds state to the active window set."""
    schema = read_parquet(spark, source_path).schema
    stream = spark.readStream.schema(schema).parquet(source_path)
    counts = (
        _as_event_time(stream, "ts")
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.start").alias("window_start"), "event_type", "n_events")
    )
    return (
        counts.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_incremental_rollup(
    spark: SparkSession,
    source_path: str,
    snapshot_path: str,
    checkpoint_dir: str,
    *,
    keys: list[str] | None = None,
    value_col: str = "value",
):
    """Streaming maintenance of a materialized rollup: every
    micro-batch folds into the parquet snapshot via
    ``incremental_rollup`` — the aggregate-side twin of the incremental
    copy (reference core.clj:124-140 advances a row offset; this
    advances a SUM/COUNT snapshot).

    Why ``foreachBatch`` and not a streaming aggregation: a native
    streaming agg holds every group in the state store forever (no
    watermark can evict keys that may still update), while the
    snapshot-merge pattern keeps state OUT of the stream — each batch
    touches |batch| + |affected keys| rows, the snapshot lives as a
    compact keyed parquet table, and a failed batch simply replays
    (the overwrite-swap makes the fold idempotent per batch id at the
    at-least-once grain the reference's bulk sink also provides).

    Sum terms cast to decimal so merge order is associative — the
    snapshot after N batches equals the one-shot aggregate bit-for-bit
    (asserted by the parity test)."""
    import shutil

    from flink_elasticsearch_ingestion_spark.operators.relational import (
        incremental_rollup,
    )

    keys = keys or ["event_type"]
    schema = read_parquet(spark, source_path).schema

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.select(
            *keys, F.col(value_col).cast("decimal(18,4)").alias(value_col)
        )
        if os.path.isdir(snapshot_path):
            snap = spark.read.parquet(snapshot_path)
            merged = incremental_rollup(snap, batch, keys, value_col=value_col)
        else:
            merged = batch.groupBy(*keys).agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(value_col).alias("total_value"),
            )
        # write-then-swap: the merge reads the live snapshot lazily, so
        # an in-place overwrite would destroy its own input mid-job
        tmp = snapshot_path.rstrip("/") + "__folding"
        merged.write.mode("overwrite").parquet(tmp)
        if os.path.isdir(snapshot_path):
            shutil.rmtree(snapshot_path)
        shutil.move(tmp, snapshot_path)

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(source_path)
    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_incremental_dedup(
    spark: SparkSession,
    source_path: str,
    sig_store_path: str,
    accepted_path: str,
    checkpoint_dir: str,
    *,
    jaccard_threshold: float = 0.6,
    num_hashes: int = 16,
    bands: int = 8,
):
    """Streaming corpus admission with cross-batch near-dup rejection —
    the production shape of the dedup pipeline: documents arrive as
    micro-batches, each batch is near-dup-checked against the
    PERSISTENT signature store (everything admitted so far) plus
    itself, survivors are appended to the accepted corpus and their
    signatures to the store.

    Why ``foreachBatch``: cross-batch dedup state is the signature
    store itself — a compact keyed parquet table outside the stream —
    so no streaming state store grows without bound (the same argument
    as ``stream_incremental_rollup``). Per trigger the wide work is
    ``near_duplicates_incremental``: it scales with the batch, never
    store x store.

    Idempotence at the at-least-once grain: both outputs write to
    ``batch=<id>`` subdirectories with overwrite, so a replayed epoch
    rewrites exactly its own output (the per-epoch-manifest pattern the
    es_bulk stream writer uses). Admission policy is greedy by id: a
    batch document near-duplicating ANY store document or an
    earlier-id batch document is rejected. Each trigger is one
    ``streaming.pipeline.admit_batch`` round, the admission the scroll
    ingest pipeline and its catalog replay run."""
    from flink_elasticsearch_ingestion_spark.streaming.pipeline import (
        admit_batch,
        prior_store,
    )

    schema = read_parquet(spark, source_path).schema

    def admit(batch_df: DataFrame, batch_id: int) -> None:
        survivors, survivor_sigs, _drop, sigs = admit_batch(
            spark,
            batch_df,
            prior_store(spark, sig_store_path, batch_id),
            jaccard_threshold=jaccard_threshold,
            num_hashes=num_hashes,
            bands=bands,
            band_cap=1000,
        )
        survivors.write.mode("overwrite").parquet(
            f"{accepted_path}/batch={batch_id}"
        )
        survivor_sigs.write.mode("overwrite").parquet(
            f"{sig_store_path}/batch={batch_id}"
        )
        sigs.unpersist()

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(source_path)
    return (
        stream.writeStream.foreachBatch(admit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def enrich_stream(events: DataFrame, users: DataFrame) -> DataFrame:
    """Stream-static join: enrich a live event stream with a static
    (batch) dimension table — the standard streaming star-schema
    pattern, and the one join family the engine had not yet exercised
    on a stream.

    The static side is re-planned per micro-batch (so a refreshed
    dimension snapshot is picked up on the next trigger) and needs no
    watermark: only stream-stream joins hold join state. With a
    dimension-sized static side Catalyst broadcasts it into every
    micro-batch — per-trigger cost is a map-side hash join over the
    new rows only. Inner joins need no watermark at all; outer
    stream-static joins would.

    In batch mode the same expression is an ordinary join, which is
    how the parity test pins the semantics.
    """
    dim = users.select(
        F.col("user_id").alias("u_user_id"), "segment", "home_region"
    )
    return events.join(
        F.broadcast(dim), events["user_id"] == dim["u_user_id"], "inner"
    ).select("event_id", "ts", "user_id", "event_type", "segment", "home_region")


def stream_enriched_counts(
    spark: SparkSession,
    source_path: str,
    users: DataFrame,
    checkpoint_dir: str,
    query_name: str = "enriched_counts",
):
    """readStream -> stream-static enrich -> per-segment counts ->
    memory sink (complete mode keeps the small per-segment table)."""
    schema = read_parquet(spark, source_path).schema
    stream = spark.readStream.schema(schema).parquet(source_path)
    counts = (
        enrich_stream(stream, users)
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return (
        counts.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_session_counts(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    query_name: str = "session_counts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
):
    """readStream -> watermarked SESSION windows per user -> memory sink.

    Session windows are the one stateful window type whose state can
    MERGE (two open sessions fuse when a bridging event arrives), so
    they exercise a different state-store path than tumbling/sliding;
    the watermark both admits late bridges and finalizes sessions older
    than (max event time - delay). Session aggregations merge state, so
    Spark restricts their output to complete/append — complete keeps
    the (small, per-user) session table correct under merges, and the
    final table equals the batch computation once the stream drains
    (asserted by the parity test)."""
    schema = read_parquet(spark, source_path).schema
    stream = spark.readStream.schema(schema).parquet(source_path)
    counts = (
        _as_event_time(stream, "ts")
        .withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )
    return (
        counts.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _tws_available() -> bool:
    """transformWithState's Python driver worker needs google.protobuf;
    absent in this container (no installs), present on any standard
    cluster image. Gate, don't crash."""
    import importlib.util

    try:
        # find_spec on a dotted name imports the parent package first,
        # so a missing 'google' raises instead of returning None
        return importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        return False


def user_stats_tws(events: DataFrame):
    """Per-user running (count, value-sum) via Spark 4's
    ``transformWithStateInPandas`` — the successor of
    ``applyInPandasWithState`` (typed value/list/map state, timers,
    state schema evolution, RocksDB-backed).

    Functional twin of ``stateful_user_stats``: same keyed contract,
    newer state API. Requires protobuf at runtime (see
    ``_tws_available``); ``stateful_user_stats`` is the
    dependency-free fallback the rest of the engine uses.
    """
    if not _tws_available():
        raise ImportError(
            "transformWithStateInPandas needs google.protobuf; "
            "use stateful_user_stats (applyInPandasWithState) instead"
        )
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
    from pyspark.sql.types import DoubleType

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("sum_value", DoubleType()),
        ]
    )

    class _UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._stats = handle.getValueState("stats", "n bigint, s double")

        def handleInputRows(self, key, rows, timer_values):
            n, s = 0, 0.0
            if self._stats.exists():
                n, s = self._stats.get()
            for pdf in rows:
                n += len(pdf)
                s += float(pdf["value"].sum())
            self._stats.update((n, s))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
            )

        def close(self) -> None:
            pass

    return events.select("user_id", "value").groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_UserStats(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


def stream_constraint_report(
    spark: SparkSession,
    source_path: str,
    rules,
    checkpoint_dir: str,
    query_name: str = "dq_stream",
):
    """Continuous data-quality monitoring: the SAME compiled one-pass
    rule aggregation as batch ``constraint_report`` runs as a
    complete-mode streaming aggregation — each trigger re-emits every
    rule's violation count over everything ingested so far, so the
    memory table always holds the current corpus-wide DQ state.

    State is one long per rule. ``unique`` rules are batch-only here:
    Structured Streaming rejects exact distinct aggregates (unbounded
    per-key state) — express streamed uniqueness as
    ``dropDuplicatesWithinWatermark`` + count, or approx_count_distinct.
    Batch ≡ stream by construction: the rule expressions are identical;
    the parity test drives this with AvailableNow over a staged
    directory and compares against the batch report.
    """
    from flink_elasticsearch_ingestion_spark.operators.quality import (
        constraint_report,
    )

    schema = read_parquet(spark, source_path).schema
    stream = spark.readStream.schema(schema).parquet(source_path)
    report = constraint_report(stream, rules)
    return (
        report.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_merge_apply(
    spark: SparkSession,
    changes_path: str,
    snapshot_path: str,
    checkpoint_dir: str,
    *,
    key_col: str = "doc_id",
    delete_col: str = "is_delete",
):
    """Streaming CDC apply: every micro-batch of change rows (update /
    delete-flag / insert) MERGEs into the parquet snapshot via
    ``merge_apply`` — the streaming twin of the batch MERGE INTO, and
    the continuously-maintained materialization of the reference
    sink's per-document upsert (core.clj:62-63) without a mutable
    index.

    Why ``foreachBatch``: the snapshot is the state, kept OUT of the
    stream (no unbounded state store); each batch costs one key-join
    against the snapshot.  The write-then-swap keeps the merge from
    consuming its own output mid-job, and replaying a batch converges:
    re-applying an update/delete/insert against the already-merged
    snapshot is a fixed point (asserted by the replay test), so
    at-least-once delivery yields the exactly-once snapshot.

    Each batch must carry at most one change per key (the CDC
    compaction contract upstream log readers provide); within-batch
    conflicts would need a sequence column to resolve.
    """
    import shutil

    from flink_elasticsearch_ingestion_spark.operators.copy import merge_apply

    schema = read_parquet(spark, changes_path).schema

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if os.path.isdir(snapshot_path):
            snap = spark.read.parquet(snapshot_path)
            merged = merge_apply(
                snap, batch_df, key_col=key_col, delete_col=delete_col
            )
        else:
            merged = batch_df.filter(~F.col(delete_col)).drop(delete_col)
        tmp = snapshot_path.rstrip("/") + "__merging"
        merged.write.mode("overwrite").parquet(tmp)
        if os.path.isdir(snapshot_path):
            shutil.rmtree(snapshot_path)
        shutil.move(tmp, snapshot_path)

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(changes_path)
    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def heavy_hitters_apply_factory(
    spark: SparkSession,
    summary_path: str,
    *,
    m: int = 64,
    n_parts: int = 4,
):
    """The foreachBatch body for ``stream_heavy_hitters``, exposed so
    tests can drive replay directly: fold one micro-batch of documents
    into the persistent Misra-Gries summary table at ``summary_path``.

    Merge-then-compress (Agarwal et al.): batch summaries + prior
    summary sum per word; if more than ``m`` counters survive, the
    (m+1)-th largest value is subtracted from every counter (dropping
    the non-positive) and FOLDED INTO the error budget — so the stored
    state never exceeds m counters + 1 budget row and the two-sided
    contract (never over; under within budget) holds across any number
    of batches.  The compress runs DRIVER-SIDE on a bounded frame
    (<= n_parts*(m+1) + m + 1 rows by construction — this is sketch
    state, not data).

    Exactly-once under foreachBatch's at-least-once retries: the
    summary records the last applied batch_id; a replayed batch id is
    a no-op.  (One checkpoint per summary lifetime — a fresh
    checkpoint against an existing summary restarts batch numbering
    and must start from an empty summary dir.)
    """
    import shutil

    from flink_elasticsearch_ingestion_spark.operators.relational import (
        MG_BUDGET_KEY,
        mg_summaries,
        tokenized_words,
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        prior_rows: list = []
        if os.path.isdir(summary_path):
            prior_rows = spark.read.parquet(summary_path).collect()
            if prior_rows and max(r["last_batch"] for r in prior_rows) >= batch_id:
                return  # replayed batch: already folded in
        batch_rows = (
            mg_summaries(tokenized_words(batch_df), m=m, n_parts=n_parts)
            .groupBy("w")
            .agg(F.sum("c").alias("c"))
            .collect()
        )
        counters: dict[str, int] = {}
        budget = 0
        for r in list(prior_rows) + list(batch_rows):
            if r["w"] == MG_BUDGET_KEY:
                budget += r["c"]
            else:
                counters[r["w"]] = counters.get(r["w"], 0) + r["c"]
        if len(counters) > m:
            cut = sorted(counters.values(), reverse=True)[m]
            counters = {w: c - cut for w, c in counters.items() if c - cut > 0}
            budget += cut
        out = [(w, int(c), int(batch_id)) for w, c in counters.items()]
        out.append((MG_BUDGET_KEY, int(budget), int(batch_id)))
        new = spark.createDataFrame(out, "w string, c long, last_batch long")
        tmp = summary_path.rstrip("/") + "__merging"
        new.coalesce(1).write.mode("overwrite").parquet(tmp)
        if os.path.isdir(summary_path):
            shutil.rmtree(summary_path)
        shutil.move(tmp, summary_path)

    return apply_batch


def stream_heavy_hitters(
    spark: SparkSession,
    docs_path: str,
    summary_path: str,
    checkpoint_dir: str,
    *,
    m: int = 64,
    n_parts: int = 4,
):
    """Streaming frequent-items maintenance: every micro-batch of
    documents folds into the bounded Misra-Gries summary table — the
    continuously-maintained twin of the batch ``heavy_hitters``
    sketch, with state in the summary parquet (never the stream state
    store), like the incremental-dedup signature store and the CDC
    snapshot."""
    schema = read_parquet(spark, docs_path).schema
    apply_batch = heavy_hitters_apply_factory(
        spark, summary_path, m=m, n_parts=n_parts
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_path)
    )
    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def kmv_apply_factory(
    spark: SparkSession,
    sketch_path: str,
    *,
    key_col: str = "user_id",
    group_col: str = "event_type",
    k: int = 128,
):
    """The foreachBatch body for ``stream_kmv``: fold one micro-batch
    into the persistent per-group KMV sketch table — the streaming twin
    of the batch ``kmv_set_overlap`` sketch build.

    KMV merge is EXACT by construction (the k smallest of a union are
    the k smallest of the two sides' k-smallest sets), so the
    continuously-maintained sketch is bit-identical to one built from
    the full history — the strongest property a streaming sketch can
    have, and the reason state stays a parquet table of
    <= groups x k rows (never the stream state store).

    The batch-side k-smallest uses a plain per-group window: a
    MICRO-batch is bounded by the trigger, so the per-group sort is a
    micro-batch-sized task (the batch operator's two-phase salting
    exists for full-corpus scans, not here).  Exactly-once under
    foreachBatch retries: the sketch records the last applied
    batch_id; a replayed id is a no-op.
    """
    import shutil

    from pyspark.sql import Window

    from flink_elasticsearch_ingestion_spark.operators.dedup import (
        portable_hash31,
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        prior_rows: list = []
        if os.path.isdir(sketch_path):
            prior_rows = spark.read.parquet(sketch_path).collect()
            if prior_rows and max(r["last_batch"] for r in prior_rows) >= batch_id:
                return  # replayed batch: already folded in
        hashed = batch_df.select(
            F.col(group_col).alias("grp"),
            portable_hash31(F.col(key_col).cast("string")).alias("h"),
        ).distinct()
        w = Window.partitionBy("grp").orderBy("h")
        batch_rows = (
            hashed.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("grp", "h")
            .collect()
        )  # bounded: <= groups * k sketch elements
        sets: dict[str, set] = {}
        for r in list(prior_rows) + list(batch_rows):
            sets.setdefault(r["grp"], set()).add(int(r["h"]))
        out = [
            (g, h, int(batch_id))
            for g, hs in sets.items()
            for h in sorted(hs)[:k]
        ]
        new = spark.createDataFrame(out, "grp string, h long, last_batch long")
        tmp = sketch_path.rstrip("/") + "__merging"
        new.coalesce(1).write.mode("overwrite").parquet(tmp)
        if os.path.isdir(sketch_path):
            shutil.rmtree(sketch_path)
        shutil.move(tmp, sketch_path)

    return apply_batch


def stream_kmv(
    spark: SparkSession,
    events_path: str,
    sketch_path: str,
    checkpoint_dir: str,
    *,
    key_col: str = "user_id",
    group_col: str = "event_type",
    k: int = 128,
):
    """Streaming KMV sketch maintenance: every micro-batch of events
    folds into the per-group k-minimum-values sketch table, keeping
    distinct / Jaccard / intersection estimates continuously fresh
    with bounded state (see ``kmv_apply_factory``)."""
    schema = read_parquet(spark, events_path).schema
    apply_batch = kmv_apply_factory(
        spark, sketch_path, key_col=key_col, group_col=group_col, k=k
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_path)
    )
    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def drift_apply_factory(
    spark: SparkSession,
    ref_hist: dict,
    monitor_path: str,
    *,
    value_col: str = "value",
    bin_width: float = 50_000.0,
    n_bins: int = 10,
    eps: float = 1e-6,
):
    """The foreachBatch body for ``stream_drift``: fold each
    micro-batch's value histogram into the persistent current-period
    histogram and append one PSI snapshot row per batch — continuous
    drift monitoring against a FIXED reference distribution
    (``ref_hist``: bin -> count, <= ``n_bins`` entries, computed once
    from the reference period with the same literal bin grid as
    ``distribution_drift_psi``).

    State is two bounded parquet tables (the <= n_bins-row cumulative
    histogram and the one-row-per-batch PSI log), never the stream
    state store.  The batch histogram is a distributed <= n_bins-key
    aggregate; the PSI itself is arithmetic over 2 x n_bins numbers,
    driver-side by construction.  Exactly-once under foreachBatch
    retries: the histogram records the last applied batch_id; a
    replayed id is a no-op.
    """
    import math
    import shutil

    hist_path = monitor_path.rstrip("/") + "/hist"
    log_path = monitor_path.rstrip("/") + "/psi_log"
    ref_total = max(sum(ref_hist.values()), 1)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        prior: dict[int, int] = {}
        if os.path.isdir(hist_path):
            rows = spark.read.parquet(hist_path).collect()
            if rows and max(r["last_batch"] for r in rows) >= batch_id:
                return  # replayed batch: already folded in
            prior = {r["bin"]: r["n"] for r in rows}
        b = F.least(
            F.floor(F.col(value_col) / F.lit(bin_width)).cast("int"),
            F.lit(n_bins - 1),
        )
        batch_hist = {
            r["bin"]: r["n"]
            for r in batch_df.select(b.alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }  # bounded: <= n_bins rows
        cur = dict(prior)
        for k, v in batch_hist.items():
            cur[k] = cur.get(k, 0) + v
        cur_total = max(sum(cur.values()), 1)
        psi = 0.0
        for k in range(n_bins):
            p = max(ref_hist.get(k, 0) / ref_total, eps)
            q = max(cur.get(k, 0) / cur_total, eps)
            psi += (p - q) * math.log(p / q)
        hist_rows = [(k, int(v), int(batch_id)) for k, v in sorted(cur.items())]
        new_hist = spark.createDataFrame(
            hist_rows, "bin int, n long, last_batch long"
        )
        tmp = hist_path + "__merging"
        new_hist.coalesce(1).write.mode("overwrite").parquet(tmp)
        if os.path.isdir(hist_path):
            shutil.rmtree(hist_path)
        shutil.move(tmp, hist_path)
        spark.createDataFrame(
            [(int(batch_id), int(cur_total), round(psi, 6))],
            "batch_id long, n_cur long, psi double",
        ).coalesce(1).write.mode("append").parquet(log_path)

    return apply_batch


def stream_drift(
    spark: SparkSession,
    events_path: str,
    ref_hist: dict,
    monitor_path: str,
    checkpoint_dir: str,
    *,
    value_col: str = "value",
    bin_width: float = 50_000.0,
    n_bins: int = 10,
):
    """Streaming drift monitor: every micro-batch updates the current
    histogram and appends a PSI-vs-reference snapshot (see
    ``drift_apply_factory``) — the continuously-evaluated twin of the
    batch ``distribution_drift_psi`` / ``ks_drift`` monitors."""
    schema = read_parquet(spark, events_path).schema
    apply_batch = drift_apply_factory(
        spark,
        ref_hist,
        monitor_path,
        value_col=value_col,
        bin_width=bin_width,
        n_bins=n_bins,
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_path)
    )
    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def anomaly_apply_factory(
    spark: SparkSession,
    monitor_path: str,
    *,
    value_col: str = "value",
    window_n: int = 14,
    min_history: int = 7,
    z_threshold: float = 3.0,
):
    """foreachBatch body for ``stream_anomaly``: fold each
    micro-batch's value total into the persistent per-batch series and
    append one z-score snapshot judged against the PRECEDING
    ``window_n`` batch totals — the continuously-evaluated twin of the
    batch ``revenue_anomalies`` monitor (ingestion gaps / double loads
    surface as |z| spikes the moment the batch lands, not at the next
    nightly audit).

    State is one bounded parquet table (one row per batch: total +
    its verdict).  The batch total is a distributed aggregate; the
    z-score is arithmetic over <= ``window_n`` numbers, driver-side
    by construction.  Exactly-once under foreachBatch retries: the
    series records batch ids; a replayed id is a no-op.
    """
    import math

    series_path = monitor_path.rstrip("/") + "/series"

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        prior: list = []
        if os.path.isdir(series_path):
            prior = sorted(
                spark.read.parquet(series_path).collect(),
                key=lambda r: r["batch_id"],
            )
            if prior and any(r["batch_id"] == batch_id for r in prior):
                return  # replayed batch: already folded in
        total = batch_df.agg(
            F.coalesce(F.round(F.sum(value_col), 2), F.lit(0.0)).cast(
                "double"
            )
        ).collect()[0][0]
        hist = [r["total"] for r in prior][-window_n:]
        z = None
        flag = False
        if len(hist) >= min_history:
            mean = round(sum(hist) / len(hist) + 1e-9, 4)
            var = sum((x - mean) ** 2 for x in hist) / (len(hist) - 1)
            std = round(math.sqrt(var) + 1e-9, 4)
            if std > 0:
                z = round((total - mean) / std + 1e-9, 4)
                flag = abs(z) > z_threshold
        row = spark.createDataFrame(
            [(int(batch_id), float(total), z, bool(flag))],
            "batch_id long, total double, z double, is_anomaly boolean",
        )
        row.write.mode("append").parquet(series_path)

    return apply_batch


def stream_anomaly(
    spark: SparkSession,
    events_path: str,
    monitor_path: str,
    checkpoint_dir: str,
    *,
    value_col: str = "value",
    window_n: int = 14,
    min_history: int = 7,
):
    """Streaming anomaly monitor: every micro-batch appends its total
    + trailing z-score verdict (see ``anomaly_apply_factory``)."""
    schema = read_parquet(spark, events_path).schema
    apply_batch = anomaly_apply_factory(
        spark,
        monitor_path,
        value_col=value_col,
        window_n=window_n,
        min_history=min_history,
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_path)
    )
    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def cusum_apply_factory(
    spark: SparkSession,
    monitor_path: str,
    *,
    value_col: str = "value",
    mu: float = 0.0,
    k_slack: float = 0.5,
    h_limit: float = 4.0,
):
    """foreachBatch body for ``stream_cusum``: fold each micro-batch's
    value total into the persistent two-sided CUSUM state — the
    continuously-evaluated twin of the batch ``cusum_changepoints``
    chart (a small SUSTAINED level shift trips the cumulative
    statistic batches before any per-batch z-score would notice).

    Streaming semantics: the reference level ``mu`` and the k/h design
    constants are CALLER-provided (estimated on a training window, the
    standard SPC deployment), not re-fit per batch — re-fitting on
    drifting data is exactly what masks the shift being monitored.
    State is the bounded per-batch series parquet; the batch total is
    a distributed aggregate, the recurrence is O(1) driver arithmetic.
    Exactly-once under foreachBatch retries: replayed batch ids
    are no-ops."""

    series_path = monitor_path.rstrip("/") + "/series"

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        prior: list = []
        if os.path.isdir(series_path):
            prior = sorted(
                spark.read.parquet(series_path).collect(),
                key=lambda r: r["batch_id"],
            )
            if prior and any(r["batch_id"] == batch_id for r in prior):
                return
        total = batch_df.agg(
            F.coalesce(F.round(F.sum(value_col), 2), F.lit(0.0)).cast(
                "double"
            )
        ).collect()[0][0]
        sp_prev = prior[-1]["sp"] if prior else 0.0
        sn_prev = prior[-1]["sn"] if prior else 0.0
        sp = max(0.0, sp_prev + (total - mu) - k_slack)
        sn = max(0.0, sn_prev - (total - mu) - k_slack)
        alarm = sp > h_limit or sn > h_limit
        spark.createDataFrame(
            [(int(batch_id), float(total), float(sp), float(sn), bool(alarm))],
            "batch_id long, total double, sp double, sn double,"
            " alarm boolean",
        ).write.mode("append").parquet(series_path)

    return apply_batch


def stream_cusum(
    spark: SparkSession,
    events_path: str,
    monitor_path: str,
    checkpoint_dir: str,
    *,
    value_col: str = "value",
    mu: float = 0.0,
    k_slack: float = 0.5,
    h_limit: float = 4.0,
):
    """Streaming two-sided CUSUM monitor: every micro-batch folds its
    total into the persistent control-chart state (see
    ``cusum_apply_factory``)."""
    schema = read_parquet(spark, events_path).schema
    apply_batch = cusum_apply_factory(
        spark,
        monitor_path,
        value_col=value_col,
        mu=mu,
        k_slack=k_slack,
        h_limit=h_limit,
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_path)
    )
    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
