"""Catalog family: ES copy pipeline, bulk/scroll connectors, CDC, versioned tables, streaming admission.

Each query (QUERIES) sits next to its DuckDB oracle (ORACLES) so
the pair is reviewed and edited together — drift between the
Spark plan and the SQL twin stays visible in one diff."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_elasticsearch_ingestion_spark.operators import (
    copy as C,
    text as X,
)
from flink_elasticsearch_ingestion_spark.catalog._shared import (
    CHECKPOINT,
    _t,
    ck,
    copy_projection,
    lastwins,
    _minhash_pairs_cte,
)
from flink_elasticsearch_ingestion_spark.session import context_tmpdir


def q_copy_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.incremental_copy(_t(spark, sf_dir, "events"), checkpoint_ts=CHECKPOINT)

def q_copy_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1:1 index copy (no checkpoint): full scan, emitter projection."""
    return C.incremental_copy(_t(spark, sf_dir, "events"), checkpoint_ts=None)

def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-write-wins upsert semantics keyed on user_id."""
    events = _t(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    return C.last_wins(events, key="user_id", order_col="ts")

def q_checkpoint_max_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = C.shape_documents(_t(spark, sf_dir, "events"))
    return C.max_ts_checkpoint(docs, ts_col="ts")

def q_bulk_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = C.shape_documents(_t(spark, sf_dir, "events"))
    return (
        C.bulk_chunks(docs)
        .groupBy("chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("chunk_id")
    )

def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning over the ingested event segments
    (one file per (event_type, day)): exclusive-running-bytes binning
    into ~32 KiB groups — the force-merge/OPTIMIZE planner a polling
    bulk sink eventually requires. Integer arithmetic only; windows
    partitioned per type on the bounded day axis."""
    return C.compaction_plan(_t(spark, sf_dir, "events"))

def q_bulk_chunks_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path bulk chunking (per-partition chunk ids — no global
    single-partition window). The chunk layout depends on the physical
    partitioning, so the contract surface checks the deterministic
    invariants instead: every chunk holds <= 64 docs and no doc is
    lost or duplicated."""
    docs = C.shape_documents(_t(spark, sf_dir, "events"))
    per_chunk = (
        C.bulk_chunks_distributed(docs)
        .groupBy("chunk_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.countDistinct("doc_id").alias("n_distinct"))
    )
    return per_chunk.agg(
        F.sum("n_docs").alias("total_docs"),
        F.sum("n_distinct").alias("total_distinct"),
        (F.max("n_docs") <= C.BULK_MAX_ACTIONS).alias("within_cap"),
    )

def q_es_bulk_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end through the REAL write path: shape events into
    documents, write them with ``es_bulk.write_bulk`` (executor
    chunking, 64-action files, manifest-gated commit), parse the
    committed NDJSON payload back DISTRIBUTED (manifest-listed chunk
    scan + JVM-side line pairing, no driver loop), and aggregate per index from
    the PARSED action/body fields. Hash-green against the DuckDB oracle
    on the raw events table proves the bulk wire format preserved every
    (doc_id, index_id, body) through the sink and back."""
    from flink_elasticsearch_ingestion_spark.functions.json_shaping import encode_body
    from flink_elasticsearch_ingestion_spark.sources.es_bulk import (
        read_bulk_payload_df,
        write_bulk,
    )

    # deterministic 5% slice keeps the written-file count bounded while
    # still exercising the full write path (chunking, manifest,
    # parse-back); the oracle applies the same residue
    events = _t(spark, sf_dir, "events").filter(F.col("event_id") % 20 == 0)
    docs = encode_body(C.shape_documents(events), C.BODY_COLS).select(
        "doc_id", "index_id", "source"
    )
    out = context_tmpdir("es_bulk_roundtrip_")
    write_bulk(docs, out, overwrite=True)
    back = read_bulk_payload_df(spark, out)
    return (
        back.select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            "index_id",
            F.get_json_object("source", "$.user_id").cast("bigint").alias("user_id"),
            F.get_json_object("source", "$.value").cast("double").alias("value"),
        )
        .groupBy("index_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("doc_id").alias("n_distinct"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
            F.sum("user_id").alias("sum_user_id"),
            F.round(F.sum("value") + F.lit(1e-9), 2).alias("sum_value"),
        )
        .orderBy("index_id")
    )

def q_es_http_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end over REAL HTTP (r11): bulk-index a bounded document
    slice into the hermetic in-process ES lookalike
    (sources/es_testing.py — sockets, basic auth, NDJSON framing, the
    reference's 64-action bulks with the core.clj:72-78 retry wrapper),
    then scroll-walk it back page by page and rebuild the DataFrame.
    Hash-green against the oracle on the raw parquet proves every
    (doc_id, source, n_chars) survived the HTTP wire in both
    directions — the dev-env conformance probe the sandbox could not
    run live through round 10.  Driver-side by construction: the slice
    is <= 1000 rows (the distributed path is the es_bulk / es_scroll
    formats, proven by their own roundtrip queries)."""
    from flink_elasticsearch_ingestion_spark.config import SinkConfig
    from flink_elasticsearch_ingestion_spark.sources.es_client import (
        ElasticsearchRestClient,
        send_bulk_with_retry,
        urllib_transport,
    )
    from flink_elasticsearch_ingestion_spark.sources.es_testing import (
        FakeElasticsearchServer,
    )

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 1000)
        .select("doc_id", "source", "n_chars")
    )
    rows = [r.asDict() for r in docs.collect()]  # bounded: id < 1000
    out_rows: list[tuple] = []
    with FakeElasticsearchServer(username="elastic", password="rt") as url:
        client = ElasticsearchRestClient(
            SinkConfig(urls=url, username="elastic", password="rt"),
            transport=urllib_transport,
        )
        client.send(client.request("PUT", "/docs-rt"))
        actions = [
            {
                "index_id": "docs-rt",
                "doc_id": r["doc_id"],
                "body": {"source": r["source"], "n_chars": r["n_chars"]},
            }
            for r in rows
        ]
        bulk = client.cfg.bulk_max_actions  # the reference's 64
        for i in range(0, len(actions), bulk):
            send_bulk_with_retry(client, actions[i : i + bulk])
        client.send(client.request("POST", "/docs-rt/_refresh"))
        page = client.send(
            client.request(
                "POST", "/docs-rt/_search?scroll=1m",
                {"size": 200, "sort": ["_doc"]},
            )
        )
        sid = page["_scroll_id"]
        while page["hits"]["hits"]:
            out_rows += [
                (
                    int(h["_id"]),
                    h["_source"]["source"],
                    int(h["_source"]["n_chars"]),
                )
                for h in page["hits"]["hits"]
            ]
            page = client.send(
                client.request(
                    "POST", "/_search/scroll",
                    {"scroll": "1m", "scroll_id": sid},
                )
            )
            sid = page["_scroll_id"]
        client.send(
            client.request("DELETE", "/_search/scroll", {"scroll_id": sid})
        )
    return spark.createDataFrame(
        out_rows, "doc_id bigint, source string, n_chars bigint"
    ).orderBy("doc_id")


def q_es_scroll_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end through the REAL scroll-source read path: stage a 5%
    event slice as a sharded es_scroll index (JSONL shard files, the
    reference's scroll contract), read it back through the registered
    DataSource V2 plugin WITH a ts-range predicate (exercises
    pushFilters — the reader evaluates the checkpoint range inside each
    shard scan), and aggregate per index from the PARSED fields.
    Hash-green against the DuckDB oracle on the raw events table proves
    the shard staging + scroll read + pushdown preserved every
    (doc_id, index_id, ts, source)."""
    from flink_elasticsearch_ingestion_spark.functions.json_shaping import encode_body
    from flink_elasticsearch_ingestion_spark.sources.es_scroll import (
        scroll_read,
        write_index_shards,
    )

    events = _t(spark, sf_dir, "events").filter(F.col("event_id") % 20 == 0)
    docs = encode_body(C.shape_documents(events), C.BODY_COLS).select(
        "doc_id", "index_id", "ts", "source"
    )
    idx = context_tmpdir("es_scroll_roundtrip_")
    write_index_shards(docs, idx, n_shards=8)
    # scroll_read is session-conf-safe: it enables the pushdown conf
    # when runtime-settable (the vanilla driver session included) and
    # degrades to post-scan filtering when locked — the r3 driver red
    # (DATA_SOURCE_PUSHDOWN_DISABLED) cannot recur
    back = scroll_read(spark, idx, batch_size=500).filter(
        F.col("ts") > F.lit(CHECKPOINT).cast("timestamp")
    )
    return (
        back.select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            "index_id",
            F.get_json_object("source", "$.user_id").cast("bigint").alias("user_id"),
            F.get_json_object("source", "$.value").cast("double").alias("value"),
        )
        .groupBy("index_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("doc_id").alias("n_distinct"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
            F.sum("user_id").alias("sum_user_id"),
            F.round(F.sum("value") + F.lit(1e-9), 2).alias("sum_value"),
        )
        .orderBy("index_id")
    )

def q_cdc_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking duplication audit: rolling-hash
    boundaries (base-31 poly over trailing 4 chars, cut at 0 mod 16),
    per-doc windows only, chunk-text global counts joined back."""
    return X.cdc_chunk_stats(_t(spark, sf_dir, "documents"))

def q_ingestion_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-ingestion diff (anti join on doc_id): docs in the source not
    yet present in the target — the target here is the pre-checkpoint
    slice, so the diff must equal the post-checkpoint docs."""
    docs = C.shape_documents(_t(spark, sf_dir, "events"))
    target = docs.filter(F.col("ts") <= F.lit(CHECKPOINT))
    return C.ingestion_diff(docs, target).select("doc_id", "index_id", "ts").orderBy("doc_id")

def q_cdc_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two deterministic snapshots derived from events (mod-arithmetic
    membership + a planted value rewrite) so insert/update/delete/
    unchanged all occur and the oracle can rebuild both sides."""
    events = _t(spark, sf_dir, "events")
    existing = events.filter(F.col("event_id") % 7 != 0).select("event_id", "value")
    incoming = events.filter(F.col("event_id") % 5 != 0).select(
        "event_id",
        F.when(
            F.col("event_id") % 3 == 0, F.round(F.col("value") * 2, 2)
        )
        .otherwise(F.col("value"))
        .alias("value"),
    )
    return C.cdc_classify(existing, incoming, key_col="event_id")

def q_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics: apply a deterministic CDC changeset
    (updates % 7, deletes % 11, inserts shifted +10000 % 13) to the
    documents snapshot and return the converged next snapshot."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    upd = (
        docs.filter((F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 11 != 3))
        .withColumn("n_chars", F.col("n_chars") + 1000)
        .withColumn("is_delete", F.lit(False))
    )
    dele = docs.filter(F.col("doc_id") % 11 == 3).withColumn(
        "is_delete", F.lit(True)
    )
    ins = (
        docs.filter(F.col("doc_id") % 13 == 1)
        .withColumn("doc_id", F.col("doc_id") + 10000)
        .withColumn("is_delete", F.lit(False))
    )
    changes = upd.unionByName(dele).unionByName(ins)
    return C.merge_apply(docs, changes).orderBy("doc_id")

def q_erase_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR erasure audit: per-subject removed-record counts, with two
    phantom subjects proving the zero-record path."""
    events = _t(spark, sf_dir, "events")
    requests = (
        events.select("user_id")
        .distinct()
        .filter(F.col("user_id") % 17 == 3)
        .unionByName(
            spark.createDataFrame([(99991,), (99992,)], "user_id long")
        )
    )
    cleaned, audit = C.erase_users(events, requests)
    return audit

def q_es_search_after_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``search_after`` pagination through the real source plugin:
    stage a 5% event slice as a sharded index, fetch ONE page of 200
    docs strictly after the (checkpoint_ts, '0') cursor — the cursor
    filter runs INSIDE the reader, the page is the global (ts, doc_id)
    order's next 200. doc_id compares as a string (ES _id semantics);
    the oracle replays the cursor, the lexicographic order, and the
    page boundary on the raw events table."""
    from flink_elasticsearch_ingestion_spark.functions.json_shaping import encode_body
    from flink_elasticsearch_ingestion_spark.sources.es_scroll import (
        search_after_read,
        write_index_shards,
    )

    events = _t(spark, sf_dir, "events").filter(F.col("event_id") % 20 == 0)
    docs = encode_body(C.shape_documents(events), C.BODY_COLS).select(
        "doc_id", "index_id", "ts", "source"
    )
    idx = context_tmpdir("es_search_after_")
    write_index_shards(docs, idx, n_shards=8)
    page = search_after_read(
        spark, idx, page_size=200, after=(CHECKPOINT, "0")
    )
    return page.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "index_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.get_json_object("source", "$.user_id").cast("bigint").alias("user_id"),
    )

def q_time_travel_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned-table time travel + CDC in one flow
    (sources/versioned.py): commit three snapshots of orders —
    v0 = two thirds of the table, v1 = append of the rest,
    v2 = overwrite where every key%7==0 order is deleted and every
    surviving key%5==0 order is repriced (+1) — then CDC-classify
    read(v1) vs read(v2) THROUGH the manifest-resolved time-travel
    scans. Proves the commit protocol serves exact historical
    snapshots: the oracle derives both versions straight from the raw
    table and replays the same classification."""
    from flink_elasticsearch_ingestion_spark.operators.copy import cdc_classify
    from flink_elasticsearch_ingestion_spark.sources.versioned import (
        VersionedTable,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    t = VersionedTable(spark, context_tmpdir("time_travel_"))
    t.commit(orders.filter(F.col("o_orderkey") % 3 != 0))
    t.commit(orders.filter(F.col("o_orderkey") % 3 == 0))
    v2 = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 5 == 0, F.round(F.col("o_totalprice") + 1, 2)
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    t.commit(v2, mode="overwrite")
    return cdc_classify(
        t.read(1),
        t.read(2),
        key_col="o_orderkey",
        compare_cols=("o_totalprice",),
    ).select("change_type", F.col("n_keys").cast("bigint").alias("n_keys"))

def q_streaming_admission_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end streaming ingestion pipeline's deterministic
    batch twin (streaming/pipeline.py): documents arrive in 3 polls
    (doc_id % 3), each poll is near-dup-admission-checked against the
    accumulated signature store of everything admitted so far PLUS its
    own earlier-id docs — the exact greedy policy the foreachBatch
    stream runs per micro-batch (same ``admit_batch`` code path).
    Output: the per-epoch monitor row (arrivals / admissions /
    rejections / admitted volume). The DuckDB oracle unrolls the
    3-stage sequential admission over the SQL-replayed portable
    minhash pair table."""
    from flink_elasticsearch_ingestion_spark.streaming.pipeline import (
        multi_poll_admission,
    )

    return multi_poll_admission(
        _t(spark, sf_dir, "documents"),
        n_polls=3,
        jaccard_threshold=0.4,
    )


#: driver-contract queries owned by this family (names are the
#: catalog keys the driver and the oracle gate use verbatim)
QUERIES = {
    "es_bulk_roundtrip": q_es_bulk_roundtrip,
    "es_http_roundtrip": q_es_http_roundtrip,
    "es_scroll_roundtrip": q_es_scroll_roundtrip,
    "merge_apply": q_merge_apply,
    "erase_users": q_erase_users,
    "cdc_chunk_stats": q_cdc_chunk_stats,
    "streaming_admission_replay": q_streaming_admission_replay,
    "time_travel_diff": q_time_travel_diff,
    "es_search_after_page": q_es_search_after_page,
    "bulk_chunks_distributed": q_bulk_chunks_distributed,
    "ingestion_diff": q_ingestion_diff,
    "cdc_classify": q_cdc_classify,
    "copy_incremental": q_copy_incremental,
    "copy_full": q_copy_full,
    "latest_event_per_user": q_latest_event_per_user,
    "checkpoint_max_ts": q_checkpoint_max_ts,
    "bulk_chunks": q_bulk_chunks,
    "compaction_plan": q_compaction_plan,
}

#: DuckDB oracle per query — keys MUST be a subset of QUERIES
ORACLES = {
    "copy_incremental": lastwins.format(
        base=f"{copy_projection} WHERE CAST(ts AS TIMESTAMP) > {ck}"
    ),
    "copy_full": lastwins.format(base=copy_projection),
    "latest_event_per_user": (
        "SELECT user_id, event_id, ts, event_type FROM ("
        "  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,"
        "  row_number() OVER ("
        # tie-break mirrors last_wins' max(struct(ts, event_id,
        # event_type)) field order exactly, so a (user_id, us-ts) tie
        # resolves identically in both engines
        "    PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC, event_type DESC"
        "  ) AS rn FROM events) WHERE rn = 1"
    ),
    "checkpoint_max_ts": (
        "SELECT max(CAST(ts AS TIMESTAMP)) AS checkpoint_ts FROM events"
    ),
    "compaction_plan": (
        "WITH files AS (SELECT event_type, CAST(ts AS DATE) AS day,"
        "  CAST(count(*) AS BIGINT) AS n_docs,"
        "  CAST(sum(length(props) + 64) AS BIGINT) AS bytes"
        "  FROM events GROUP BY 1, 2),"
        " planned AS (SELECT *,"
        "  CAST(floor(coalesce(sum(bytes) OVER (PARTITION BY event_type"
        "    ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),"
        "   0) / 32768.0) AS INTEGER) AS compaction_group FROM files)"
        " SELECT event_type, compaction_group,"
        "  CAST(count(*) AS BIGINT) AS n_files,"
        "  CAST(sum(n_docs) AS BIGINT) AS n_docs,"
        "  CAST(sum(bytes) AS BIGINT) AS total_bytes,"
        "  strftime(min(day), '%Y-%m-%d') AS first_day,"
        "  strftime(max(day), '%Y-%m-%d') AS last_day"
        " FROM planned GROUP BY 1, 2 ORDER BY 1, 2"
    ),
    "bulk_chunks": (
        "WITH docs AS (SELECT event_id AS doc_id FROM events),"
        " chunked AS (SELECT doc_id, CAST(floor((row_number() OVER (ORDER BY doc_id) - 1) / 64)"
        "   AS BIGINT) AS chunk_id FROM docs)"
        " SELECT chunk_id, count(*) AS n_docs, min(doc_id) AS first_doc,"
        " max(doc_id) AS last_doc FROM chunked GROUP BY chunk_id ORDER BY chunk_id"
    ),
    "es_http_roundtrip": (
        "SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars"
        " FROM documents WHERE doc_id < 1000 ORDER BY doc_id"
    ),
    "es_bulk_roundtrip": (
        # the engine side routes every event through the es_bulk
        # wire format and back; the oracle reads the events table
        # directly — equality proves the sink lost/changed nothing
        "SELECT event_type AS index_id, count(*) AS n_docs,"
        " count(DISTINCT event_id) AS n_distinct,"
        " min(event_id) AS first_doc, max(event_id) AS last_doc,"
        " CAST(sum(user_id) AS BIGINT) AS sum_user_id,"
        " round(sum(value) + 1e-9, 2) AS sum_value"
        " FROM events WHERE event_id % 20 = 0"
        " GROUP BY event_type ORDER BY index_id"
    ),
    "es_scroll_roundtrip": (
        # the engine side stages shards and reads them back through
        # the scroll DataSource with the checkpoint range pushed
        # into the reader; the oracle applies the same residue and
        # ts filter to the raw events table
        "SELECT event_type AS index_id, count(*) AS n_docs,"
        " count(DISTINCT event_id) AS n_distinct,"
        " min(event_id) AS first_doc, max(event_id) AS last_doc,"
        " CAST(sum(user_id) AS BIGINT) AS sum_user_id,"
        " round(sum(value) + 1e-9, 2) AS sum_value"
        " FROM events WHERE event_id % 20 = 0"
        f" AND CAST(ts AS TIMESTAMP) > {{ck}}"
        " GROUP BY event_type ORDER BY index_id"
    ).format(ck=ck),
    "bulk_chunks_distributed": (
        # chunk layout is partition-dependent; the deterministic
        # contract is row preservation + the 64-action cap
        "SELECT count(*) AS total_docs, count(DISTINCT event_id) AS total_distinct,"
        " true AS within_cap FROM events"
    ),
    "ingestion_diff": (
        f"WITH docs AS ({copy_projection}),"
        " target AS (SELECT doc_id FROM docs WHERE ts <= {ck})"
        " SELECT doc_id, index_id, ts FROM docs"
        " WHERE doc_id NOT IN (SELECT doc_id FROM target)"
        " ORDER BY doc_id"
    ).replace("{ck}", ck),
    "es_search_after_page": (
        "SELECT CAST(event_id AS BIGINT) AS doc_id,"
        " event_type AS index_id, CAST(ts AS TIMESTAMP) AS ts,"
        " CAST(user_id AS BIGINT) AS user_id"
        " FROM events WHERE event_id % 20 = 0 AND ("
        f"  CAST(ts AS TIMESTAMP) > TIMESTAMP '{CHECKPOINT}'"
        f"  OR (CAST(ts AS TIMESTAMP) = TIMESTAMP '{CHECKPOINT}'"
        "      AND CAST(event_id AS VARCHAR) > '0'))"
        " ORDER BY CAST(ts AS TIMESTAMP), CAST(event_id AS VARCHAR)"
        " LIMIT 200"
    ),
    "time_travel_diff": (
        # v1 = full orders table; v2 = keys%7!=0 with %5==0 repriced —
        # replay the classification straight off the raw table
        "WITH e AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders),"
        " i AS (SELECT o_orderkey AS k,"
        "   CASE WHEN o_orderkey % 5 = 0 THEN round(o_totalprice + 1, 2)"
        "    ELSE o_totalprice END AS p"
        "   FROM orders WHERE o_orderkey % 7 <> 0),"
        " c AS (SELECT CASE"
        "   WHEN e.k IS NULL THEN 'insert'"
        "   WHEN i.k IS NULL THEN 'delete'"
        "   WHEN e.p <> i.p THEN 'update'"
        "   ELSE 'unchanged' END AS change_type"
        "  FROM e FULL OUTER JOIN i ON e.k = i.k)"
        " SELECT change_type, CAST(count(*) AS BIGINT) AS n_keys"
        " FROM c GROUP BY change_type ORDER BY change_type"
    ),
    "streaming_admission_replay": (
        "WITH " + _minhash_pairs_cte(0.4)
        + ", sym AS (SELECT doc_a AS u, doc_b AS v FROM mh_pairs"
        "   UNION ALL SELECT doc_b, doc_a FROM mh_pairs),"
        " p AS (SELECT doc_id, doc_id % 3 AS poll, n_chars FROM documents),"
        " adm0 AS (SELECT d.doc_id, d.n_chars FROM p d WHERE d.poll = 0"
        "   AND NOT EXISTS (SELECT 1 FROM sym s JOIN p x ON x.doc_id = s.v"
        "     WHERE s.u = d.doc_id AND x.poll = 0 AND x.doc_id < d.doc_id)),"
        " adm1 AS (SELECT d.doc_id, d.n_chars FROM p d WHERE d.poll = 1"
        "   AND NOT EXISTS (SELECT 1 FROM sym s WHERE s.u = d.doc_id AND ("
        "     s.v IN (SELECT doc_id FROM adm0)"
        "     OR EXISTS (SELECT 1 FROM p x WHERE x.doc_id = s.v"
        "        AND x.poll = 1 AND x.doc_id < d.doc_id)))),"
        " adm2 AS (SELECT d.doc_id, d.n_chars FROM p d WHERE d.poll = 2"
        "   AND NOT EXISTS (SELECT 1 FROM sym s WHERE s.u = d.doc_id AND ("
        "     s.v IN (SELECT doc_id FROM adm0)"
        "     OR s.v IN (SELECT doc_id FROM adm1)"
        "     OR EXISTS (SELECT 1 FROM p x WHERE x.doc_id = s.v"
        "        AND x.poll = 2 AND x.doc_id < d.doc_id)))),"
        " base AS (SELECT poll, CAST(count(*) AS BIGINT) AS n_arrived"
        "   FROM p GROUP BY poll),"
        " adm AS ("
        "  SELECT 0 AS poll, CAST(count(*) AS BIGINT) AS n_admitted,"
        "   CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS admitted_chars FROM adm0"
        "  UNION ALL SELECT 1, CAST(count(*) AS BIGINT),"
        "   CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM adm1"
        "  UNION ALL SELECT 2, CAST(count(*) AS BIGINT),"
        "   CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM adm2)"
        " SELECT CAST(b.poll AS INT) AS poll, b.n_arrived, a.n_admitted,"
        "  b.n_arrived - a.n_admitted AS n_rejected, a.admitted_chars"
        " FROM base b JOIN adm a USING (poll) ORDER BY poll"
    ),
    "cdc_classify": (
        "WITH e AS (SELECT event_id AS k, value FROM events WHERE event_id % 7 != 0),"
        " i AS (SELECT event_id AS k,"
        "   CASE WHEN event_id % 3 = 0 THEN round(value * 2, 2) ELSE value END AS value"
        "   FROM events WHERE event_id % 5 != 0)"
        " SELECT CASE WHEN e.k IS NULL THEN 'insert'"
        "   WHEN i.k IS NULL THEN 'delete'"
        "   WHEN e.value != i.value THEN 'update'"
        "   ELSE 'unchanged' END AS change_type,"
        " count(*) AS n_keys"
        " FROM e FULL OUTER JOIN i ON e.k = i.k"
        " GROUP BY 1 ORDER BY 1"
    ),
    "cdc_chunk_stats": (
        "WITH chars AS (SELECT doc_id, source, u.pos AS pos,"
        "   ascii(substring(text, CAST(u.pos AS INT), 1)) AS code"
        "  FROM documents,"
        "   unnest(generate_series(1, length(text))) AS u(pos)),"
        " h AS (SELECT doc_id, source, pos, code,"
        "   code + 31 * lag(code, 1) OVER w + 961 * lag(code, 2) OVER w"
        "    + 29791 * lag(code, 3) OVER w AS hh"
        "  FROM chars WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),"
        " fl AS (SELECT *, CASE WHEN pos >= 4 AND hh % 16 = 0"
        "   THEN 1 ELSE 0 END AS b FROM h),"
        " ck AS (SELECT doc_id, source, pos, coalesce(sum(b) OVER ("
        "   PARTITION BY doc_id ORDER BY pos"
        "   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
        "   AS chunk_id FROM fl),"
        " gr AS (SELECT doc_id, source, chunk_id, min(pos) AS cstart,"
        "   count(*) AS chunk_len FROM ck GROUP BY 1, 2, 3),"
        " ct AS (SELECT gr.doc_id, gr.source, gr.chunk_id, gr.chunk_len,"
        "   substring(d.text, CAST(gr.cstart AS INT),"
        "    CAST(gr.chunk_len AS INT)) AS chunk_text"
        "  FROM gr JOIN documents d ON d.doc_id = gr.doc_id),"
        " gc AS (SELECT chunk_text, count(*) AS g_c FROM ct GROUP BY 1)"
        " SELECT source, count(*) AS n_chunks,"
        "  count(DISTINCT chunk_text) AS n_distinct,"
        "  CAST(sum(CASE WHEN g_c > 1 THEN 1 ELSE 0 END) AS BIGINT)"
        "   AS n_dup_occ,"
        "  round(sum(CASE WHEN g_c > 1 THEN 1 ELSE 0 END) / count(*)"
        "   + 1e-9, 6) AS dup_ratio,"
        "  round(avg(chunk_len) + 1e-9, 4) AS avg_chunk_len"
        " FROM ct JOIN gc USING (chunk_text)"
        " GROUP BY source ORDER BY source"
    ),
    "erase_users": (
        "WITH req AS (SELECT DISTINCT user_id FROM events"
        "  WHERE user_id % 17 = 3"
        "  UNION ALL SELECT 99991 UNION ALL SELECT 99992)"
        " SELECT r.user_id,"
        " CAST(count(e.user_id) AS BIGINT) AS n_erased"
        " FROM req r LEFT JOIN events e ON r.user_id = e.user_id"
        " GROUP BY r.user_id ORDER BY r.user_id"
    ),
    "merge_apply": (
        "WITH snap AS (SELECT doc_id, lang, source, n_chars"
        "  FROM documents),"
        " ch AS ("
        "  SELECT doc_id, lang, source, n_chars + 1000 AS n_chars,"
        "   FALSE AS is_delete FROM documents"
        "   WHERE doc_id % 7 = 0 AND doc_id % 11 <> 3"
        "  UNION ALL SELECT doc_id, lang, source, n_chars, TRUE"
        "   FROM documents WHERE doc_id % 11 = 3"
        "  UNION ALL SELECT doc_id + 10000, lang, source, n_chars,"
        "   FALSE FROM documents WHERE doc_id % 13 = 1)"
        " SELECT coalesce(c.doc_id, s.doc_id) AS doc_id,"
        " CASE WHEN c.doc_id IS NOT NULL THEN c.lang ELSE s.lang END"
        "  AS lang,"
        " CASE WHEN c.doc_id IS NOT NULL THEN c.source ELSE s.source END"
        "  AS source,"
        " CASE WHEN c.doc_id IS NOT NULL THEN c.n_chars ELSE s.n_chars"
        "  END AS n_chars"
        " FROM snap s FULL OUTER JOIN ch c ON s.doc_id = c.doc_id"
        " WHERE NOT coalesce(c.is_delete, FALSE)"
        " ORDER BY doc_id"
    ),
}
