"""End-to-end streaming ingestion pipeline — the reference's whole job
at PIPELINE granularity (reference core.clj:94-140: scroll source ->
emitter -> bulk sink), upgraded with the admission/monitoring stages a
training-data ingest needs in production:

    scroll source (polling, checkpointed offsets)
      -> last-write-wins upsert grain per doc_id
      -> incremental near-dup ADMISSION against the persistent
         signature store (wide work scales with the batch, never
         store x store)
      -> per-epoch monitor row (arrivals/admissions/value drift)
      -> es_bulk NDJSON commit (the reference's wire format), one
         manifest-committed directory per epoch

Every stage is the SAME operator the batch engine runs — foreachBatch
applies batch code per micro-batch, so one code path is tested once
and runs both ways (the streaming/shell.py discipline).

Idempotence at the at-least-once grain: all three outputs (accepted
corpus, signature store, monitor log) write to ``batch=<epoch>``
subdirectories with overwrite, and the bulk commit is re-staged per
epoch — a replayed epoch rewrites exactly its own output, so replay
==> byte-identical state (proven in tests/test_streaming_pipeline.py).

The deterministic batch twin (``multi_poll_admission``) replays the
identical sequential admission over literal poll splits, which is what
the catalog query `streaming_admission_replay` exposes to the DuckDB
oracle: the full minhash/band/jaccard pair table is SQL-replayable
(portable hash family), and the 3-poll greedy admission unrolls into
three CTE stages.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_elasticsearch_ingestion_spark.operators.dedup import (
    _make_tracked_checkpoint,
    minhash_signature_table,
    near_duplicates_incremental,
)


def admit_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    store_sigs: DataFrame | None,
    *,
    jaccard_threshold: float = 0.4,
    num_hashes: int = 16,
    bands: int = 8,
    band_cap: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_sigs: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """One admission round: near-dup-check ``batch_docs`` against the
    admitted-so-far signature store plus earlier-id batch docs, return
    ``(survivors, survivor_sigs, dropped_ids, sigs)``.

    ``sigs`` (the persisted batch signature slice every other output
    derives from) is returned so the CALLER can ``unpersist()`` it once
    survivors/survivor_sigs are materialized — a long-lived
    processingTime stream would otherwise accumulate one pinned
    DataFrame per micro-batch for the life of the query.

    A batch doc is REJECTED iff it near-duplicates (jaccard >=
    threshold) any store document or any earlier-id document of its own
    batch (pre-admission — the greedy-by-id policy
    ``stream_incremental_dedup`` ships). Both the streaming foreachBatch
    and the deterministic catalog replay call THIS function, so the
    stream and its oracle-checked twin cannot drift apart.

    ``batch_sigs``: pre-computed signature slice for ``batch_docs``
    (multi-poll replays shingle the corpus ONCE and slice per poll
    instead of paying the minhash pass per round).
    """
    sigs = batch_sigs
    if sigs is None:
        sigs = minhash_signature_table(
            batch_docs, num_hashes=num_hashes, id_col=id_col, text_col=text_col
        )
    sigs = sigs.persist()
    sigs.count()  # eager fill (see minhash_near_duplicates)
    if store_sigs is None:
        store_sigs = spark.createDataFrame([], sigs.schema)
    dups = near_duplicates_incremental(
        store_sigs,
        sigs,
        num_hashes=num_hashes,
        bands=bands,
        jaccard_threshold=jaccard_threshold,
        band_cap=band_cap,
    )
    drop = dups.select(F.col("new_id").alias(id_col)).distinct()
    survivors = batch_docs.join(drop, id_col, "left_anti")
    survivor_sigs = sigs.join(drop, id_col, "left_anti")
    return survivors, survivor_sigs, drop, sigs


def multi_poll_admission(
    docs: DataFrame,
    *,
    n_polls: int = 3,
    jaccard_threshold: float = 0.4,
    num_hashes: int = 16,
    bands: int = 8,
) -> DataFrame:
    """Deterministic batch replay of the streaming admission pipeline:
    split ``docs`` into ``n_polls`` arrival waves by ``doc_id %
    n_polls`` and run the EXACT per-batch admission sequentially,
    accumulating the signature store between polls — what the
    foreachBatch loop does across micro-batches, minus the
    nondeterministic file-arrival order.

    Returns one row per poll: arrivals, admissions, rejections and the
    admitted volume/mean-size monitors — the per-epoch monitor row the
    streaming pipeline logs. The rows are collected to the driver (one
    per poll) and returned as a local frame, so the result holds no
    cached blocks, and every cache and checkpoint the replay made is
    released before it returns.
    """
    spark = docs.sparkSession
    tracked_checkpoint = _make_tracked_checkpoint(spark.sparkContext)
    rows, blocks = [], []
    store_sigs: DataFrame | None = None
    # shingle + minhash the corpus ONCE; each poll joins its slice
    all_sigs = minhash_signature_table(docs, num_hashes=num_hashes).persist()
    all_sigs.count()
    for poll in range(n_polls):
        batch = docs.filter(F.col("doc_id") % n_polls == poll)
        survivors, survivor_sigs, drop, batch_sigs = admit_batch(
            spark,
            batch,
            store_sigs,
            jaccard_threshold=jaccard_threshold,
            num_hashes=num_hashes,
            bands=bands,
            batch_sigs=all_sigs.filter(F.col("doc_id") % n_polls == poll),
        )
        # localCheckpoint TRUNCATES the lineage: without it every poll's
        # store union drags the previous polls' full dedup plan into the
        # next near_duplicates_incremental call, and the final plan grows
        # linearly with n_polls (round-6 audit: 1,925 exchanges for 3
        # polls).  After truncation the store is a union of
        # materialized LogicalRDDs — the plan the foreachBatch stream
        # actually has, since it re-reads the signature store from
        # parquet each epoch.
        survivor_sigs, new_blocks = tracked_checkpoint(survivor_sigs)
        blocks += new_blocks
        batch_sigs.unpersist()  # the slice cache served its one poll
        # ONE aggregate over the flagged batch — no 1-row scalar joins
        adm = F.col("__drop").isNull()
        rows.append(
            batch.join(drop.withColumn("__drop", F.lit(1)), "doc_id", "left")
            .agg(
                F.lit(poll).alias("poll"),
                F.count(F.lit(1)).cast("bigint").alias("n_arrived"),
                F.count(F.when(adm, 1)).cast("bigint").alias("n_admitted"),
                F.count(F.when(~adm, 1)).cast("bigint").alias("n_rejected"),
                F.coalesce(F.sum(F.when(adm, F.col("n_chars"))), F.lit(0))
                .cast("bigint")
                .alias("admitted_chars"),
            )
            .first()
        )
        store_sigs = (
            survivor_sigs
            if store_sigs is None
            else store_sigs.unionByName(survivor_sigs)
        )
    all_sigs.unpersist()
    for h in blocks:
        h.unpersist(False)
    return spark.createDataFrame(
        rows,
        "poll int, n_arrived bigint, n_admitted bigint, n_rejected bigint,"
        " admitted_chars bigint",
    ).orderBy("poll")


def prior_store(
    spark: SparkSession, sig_store: str, batch_id: int
) -> DataFrame | None:
    """The admitted-so-far signature store as of epoch ``batch_id``:
    every ``batch=<epoch>`` slice under ``sig_store`` with an earlier
    epoch, or None before the first admission. Reading only earlier
    epochs keeps a replayed epoch from seeing its own admissions."""
    if not os.path.isdir(sig_store):
        return None
    prior = [
        os.path.join(sig_store, d)
        for d in sorted(os.listdir(sig_store))
        if d.startswith("batch=") and int(d.split("=", 1)[1]) < batch_id
    ]
    return spark.read.parquet(*prior) if prior else None


def stream_scroll_ingest_pipeline(
    spark: SparkSession,
    index_path: str,
    work_dir: str,
    *,
    jaccard_threshold: float = 0.4,
    num_hashes: int = 16,
    bands: int = 8,
    available_now: bool = True,
    poll_interval_ms: int = 5000,
):
    """The reference's whole job as ONE streaming graph: es_scroll
    polling source -> upsert grain -> incremental dedup admission ->
    monitor row -> es_bulk NDJSON commit, all inside a single
    foreachBatch so the epoch id ties every output together.

    Outputs under ``work_dir``:

    - ``accepted/``                admitted documents as a VERSIONED
      table (sources/versioned.py): epoch N commits snapshot version N
      via the atomic manifest protocol, so readers get torn-write-free
      snapshot isolation AND time travel over ingestion history
      (``read_accepted(..., version=epoch)``)
    - ``sigstore/batch=<epoch>/``  admitted signatures (parquet)
    - ``monitor/batch=<epoch>/``   one monitor row per epoch (parquet)
    - ``bulk/batch=<epoch>/``      NDJSON bulk bodies + manifest (the
      reference's wire format, sources/es_bulk.py)
    - ``checkpoint/``              Spark's offset log (exactly-once
      replay of every scroll page)

    Scroll docs carry the ES envelope (doc_id/index_id/ts/source); the
    text admitted against the store is the raw ``source`` JSON — the
    content-equality grain an index copy must preserve.
    """
    from flink_elasticsearch_ingestion_spark.operators.copy import last_wins
    from flink_elasticsearch_ingestion_spark.sources.es_bulk import write_bulk
    from flink_elasticsearch_ingestion_spark.sources.es_scroll import (
        register_scroll_source,
    )
    from flink_elasticsearch_ingestion_spark.sources.versioned import (
        VersionedTable,
    )

    register_scroll_source(spark)
    sig_store = os.path.join(work_dir, "sigstore")
    accepted = VersionedTable(spark, os.path.join(work_dir, "accepted"))
    monitor = os.path.join(work_dir, "monitor")
    bulk_out = os.path.join(work_dir, "bulk")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        docs = last_wins(batch_df, key="doc_id", order_col="ts").persist()
        n_seen = batch_df.count()
        survivors, survivor_sigs, _drop, sigs = admit_batch(
            spark,
            docs.withColumn("n_chars", F.length("source").cast("bigint")),
            prior_store(spark, sig_store, batch_id),
            jaccard_threshold=jaccard_threshold,
            num_hashes=num_hashes,
            bands=bands,
            text_col="source",
        )
        survivors = survivors.persist()
        n_admitted = survivors.count()
        n_unique = docs.count()
        # epoch-tagged overwrites: a replayed epoch rewrites exactly
        # its own slice of every output; the accepted corpus goes
        # through the versioned-table manifest commit (epoch == version)
        # so a replayed epoch rewrites the same snapshot
        accepted.commit(survivors.drop("n_chars"), version=int(batch_id))
        survivor_sigs.write.mode("overwrite").parquet(
            f"{sig_store}/batch={batch_id}"
        )
        stats = survivors.agg(
            F.coalesce(F.sum(F.length("source")), F.lit(0))
            .cast("bigint")
            .alias("admitted_chars"),
            F.max("ts").alias("max_ts"),
        ).first()
        spark.createDataFrame(
            [
                (
                    int(batch_id),
                    int(n_seen),
                    int(n_unique),
                    int(n_admitted),
                    int(n_unique - n_admitted),
                    int(stats["admitted_chars"]),
                    str(stats["max_ts"]) if stats["max_ts"] is not None else None,
                )
            ],
            "epoch long, n_seen long, n_unique long, n_admitted long,"
            " n_rejected long, admitted_chars long, max_ts string",
        ).write.mode("overwrite").parquet(f"{monitor}/batch={batch_id}")
        write_bulk(survivors, f"{bulk_out}/batch={batch_id}", overwrite=True)
        # release every per-epoch cache: a continuous processingTime
        # stream runs this for the life of the query, and one pinned
        # DataFrame per micro-batch is a slow memory leak
        sigs.unpersist()
        survivors.unpersist()
        docs.unpersist()

    stream = (
        spark.readStream.format("es_scroll").option("path", index_path).load()
    )
    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", os.path.join(work_dir, "checkpoint")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{poll_interval_ms} milliseconds")
    return writer.start()


def read_monitor_log(spark: SparkSession, work_dir: str) -> DataFrame:
    """The pipeline's epoch-granular monitor table (one row per epoch,
    bounded by epoch count — driver-safe to collect)."""
    return spark.read.parquet(os.path.join(work_dir, "monitor")).orderBy("epoch")


def read_accepted(
    spark: SparkSession, work_dir: str, version: int | None = None
) -> DataFrame:
    """Snapshot-isolated (optionally time-traveled) read of the
    pipeline's accepted corpus: version N == the corpus as of epoch N."""
    from flink_elasticsearch_ingestion_spark.sources.versioned import (
        VersionedTable,
    )

    return VersionedTable(spark, os.path.join(work_dir, "accepted")).read(version)
