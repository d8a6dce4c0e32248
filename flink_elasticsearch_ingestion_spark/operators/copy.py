"""The copy-pipeline operators — the reference's entire reason to exist.

Reference semantics rebuilt Spark-first:

- record shape (doc_id, index_id, body...) — the emitter's 3-field
  projection (reference core.clj:55-66);
- incremental timestamp-range scan — the TODO'd scroll source
  ("if saved timestamp: provide range in query", core.clj:133-136);
- last-write-wins per doc_id — ES upsert semantics from preserved ids
  (core.clj:62-63);
- max-ts checkpoint — "Store timestamp of last doc" (core.clj:137);
- bulk chunking — flush every 64 actions (core.clj:72).

All pure DataFrame ops: the ts filter pushes into the parquet scan
(row-group pruning at 100 TB), the dedup window shuffles once on doc_id,
and the checkpoint agg is a partial+final max with no full shuffle.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: events-table column mapping onto the reference's document record
DOC_ID = "event_id"
INDEX_ID = "event_type"
TS = "ts"
BODY_COLS = ("user_id", "value", "props")

#: reference bulk-flush max actions (core.clj:72)
BULK_MAX_ACTIONS = 64


def shape_documents(events: DataFrame) -> DataFrame:
    """Emitter projection (core.clj:58-61): narrow the stream to the
    document record. Column pruning reaches the scan via Catalyst.
    A nanos-long ts (the legacy-parquet streaming path) is normalized
    to Spark's microsecond timestamp grain here so batch and streaming
    agree."""
    ts_col = F.col(TS)
    if dict(events.dtypes).get(TS) == "bigint":
        ts_col = F.timestamp_micros(F.expr(f"{TS} div 1000"))
    return events.select(
        F.col(DOC_ID).alias("doc_id"),
        F.col(INDEX_ID).alias("index_id"),
        ts_col.alias("ts"),
        *[F.col(c) for c in BODY_COLS],
    )


def incremental_filter(df: DataFrame, checkpoint_ts: dt.datetime | str | None, ts_col: str = TS) -> DataFrame:
    """Timestamp-range predicate (core.clj:133-136): only docs newer than
    the saved checkpoint; no checkpoint -> full scan ("else perform
    normal query")."""
    if checkpoint_ts is None:
        return df
    return df.filter(F.col(ts_col) > F.lit(checkpoint_ts))


def last_wins(df: DataFrame, key: str = "doc_id", order_col: str = "ts") -> DataFrame:
    """Last-write-wins per document id (upsert semantics, core.clj:62-63).

    Ties broken deterministically by the full column tuple so re-runs
    are stable. One ``max(struct(order_col, ...))`` aggregation: struct
    comparison is field-order lexicographic, so the max struct IS the
    last-wins row. This is the 100 TB shape: partial (map-side)
    aggregation collapses duplicates BEFORE the shuffle — a hot doc_id
    rewritten 10^6 times ships one row per map task, not 10^6. (Struct
    buffers plan as SortAggregate, still partial+final; a
    ``row_number`` window form would have no combiner at all.)
    """
    others = [c for c in df.columns if c not in (key, order_col)]
    packed = F.max(F.struct(F.col(order_col), *[F.col(c) for c in others])).alias("__top")
    out = df.groupBy(key).agg(packed)
    return out.select(
        key,
        F.col(f"__top.{order_col}").alias(order_col),
        *[F.col(f"__top.{c}").alias(c) for c in others],
    ).select(*df.columns)  # original column order


def max_ts_checkpoint(df: DataFrame, ts_col: str = TS) -> DataFrame:
    """'Store timestamp of last doc' (core.clj:137) — partial+final max."""
    return df.agg(F.max(ts_col).alias("checkpoint_ts"))


def bulk_chunks(
    df: DataFrame,
    max_actions: int = BULK_MAX_ACTIONS,
    order_col: str = "doc_id",
    coarse_edges: tuple[float, ...] = (),
) -> DataFrame:
    """Assign each doc its GLOBAL bulk-flush chunk id, mirroring the
    sink's 64-action batching over one ordered stream (core.clj:72).

    The global row_number is computed TWO-PHASE (literal coarse id
    ranges -> per-range row_number in parallel -> broadcast prefix-sum
    offsets of the tiny per-range count table — the
    ``equi_depth_buckets`` discipline), so the exact global chunk
    layout needs NO single-partition window.  Edge choice only
    balances work, never results; the log-spaced defaults suit
    monotonically-assigned ids.  When chunk layout need not be global
    (normal sink operation), ``bulk_chunks_distributed`` chunks within
    partitions with zero cross-partition coordination."""
    edges = list(coarse_edges) or [float(4096 << i) for i in range(16)]
    coarse = F.lit(len(edges))
    for i, e in reversed(list(enumerate(edges))):
        coarse = F.when(F.col(order_col) < F.lit(e), F.lit(i)).otherwise(coarse)
    src = df.withColumn("__coarse", coarse)
    within = F.row_number().over(
        Window.partitionBy("__coarse").orderBy(F.col(order_col))
    )
    counts = src.groupBy("__coarse").agg(F.count(F.lit(1)).alias("__n"))
    offsets = counts.select(
        "__coarse",
        F.coalesce(
            F.sum("__n").over(
                Window.orderBy("__coarse").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("__offset"),
    )
    return (
        src.withColumn("__within", within)
        .join(F.broadcast(offsets), "__coarse")
        .withColumn(
            "chunk_id",
            ((F.col("__offset") + F.col("__within") - F.lit(1)) / F.lit(max_actions)).cast(
                "bigint"
            ),
        )
        .drop("__coarse", "__within", "__offset")
    )


def bulk_chunks_distributed(df: DataFrame, max_actions: int = BULK_MAX_ACTIONS) -> DataFrame:
    """Scale path: chunk ids local to each spark partition
    (spark_partition_id, intra-partition counter) — no global sort, no
    single-partition window. Chunk boundaries differ from the global
    version but the flush-every-N contract is identical."""
    w = Window.partitionBy(F.spark_partition_id()).orderBy(F.monotonically_increasing_id())
    return df.withColumn("__pid", F.spark_partition_id()).withColumn(
        "chunk_id",
        F.concat_ws(
            "-",
            F.col("__pid"),
            ((F.row_number().over(w) - F.lit(1)) / F.lit(max_actions)).cast("bigint"),
        ),
    ).drop("__pid")


def incremental_copy(
    events: DataFrame,
    checkpoint_ts: dt.datetime | str | None = None,
    checkpoint_ns: int | None = None,
) -> DataFrame:
    """The flagship pipeline (SURVEY.md §7.1): scan -> ts filter ->
    emitter projection -> last-wins dedup. Returns the document stream
    ready for any DocumentSink.

    Two checkpoint grains:

    - ``checkpoint_ns`` (preferred when the source carries the raw
      nanos ``ts_ns`` column): the EXACT filter is ``ts_ns >
      checkpoint_ns`` — a plain pushable comparison with no precision
      loss. This closes the continuous-polling boundary edge where an
      event's ns timestamp truncates to the same microsecond as a
      us-grain checkpoint and would be skipped forever by a strict
      ``>`` on the truncated value.
    - ``checkpoint_ts`` (us grain, the catalog/oracle surface): exact
      filter on the normalized timestamp; when ``ts_ns`` exists a
      coarse ``ts_ns > nanos(checkpoint)`` bound is ALSO applied so a
      pushable predicate reaches the parquet reader (the derived
      us-truncated timestamp never can) -> row-group pruning at scale.
    """
    if checkpoint_ns is not None and "ts_ns" in events.columns:
        docs = shape_documents(events.filter(F.col("ts_ns") > F.lit(int(checkpoint_ns))))
        return last_wins(docs, key="doc_id", order_col="ts")
    if checkpoint_ts is not None and "ts_ns" in events.columns:
        events = events.filter(F.col("ts_ns") > F.lit(_to_nanos(checkpoint_ts)))
    # shape next so the exact ts filter sees the normalized timestamp;
    # Catalyst pushes it back through the projection
    docs = incremental_filter(shape_documents(events), checkpoint_ts, ts_col="ts")
    return last_wins(docs, key="doc_id", order_col="ts")


def _to_nanos(checkpoint_ts: dt.datetime | str) -> int:
    """UTC checkpoint -> integer epoch nanoseconds (exact int math; a
    float timestamp() would lose ns precision)."""
    import calendar

    ck = (
        dt.datetime.fromisoformat(checkpoint_ts)
        if isinstance(checkpoint_ts, str)
        else checkpoint_ts
    )
    return calendar.timegm(ck.utctimetuple()) * 10**9 + ck.microsecond * 1000


def ingestion_diff(source_docs: DataFrame, target_docs: DataFrame) -> DataFrame:
    """Docs present in source but absent from target (left anti) —
    the incremental diff a re-ingestion run needs. Broadcast is left to
    AQE; at 100 TB both sides are large so this is a shuffled anti join
    on doc_id, which is the right plan."""
    return source_docs.join(target_docs.select("doc_id"), on="doc_id", how="left_anti")


def cdc_classify(
    existing: DataFrame,
    incoming: DataFrame,
    *,
    key_col: str = "doc_id",
    compare_cols: tuple[str, ...] = ("value",),
) -> DataFrame:
    """Change-data-capture classification between two snapshots of a
    keyed table: per change type (insert / update / delete / unchanged),
    how many keys — the decision table an id-keyed upsert sink applies
    (the reference's ES sink upserts by ``es.mapping.id``,
    core.clj:62-63; parquet has no upsert, so the engine surfaces the
    classification and lets `last_wins` converge reads).

    One full-outer shuffle join on the key; change detection compares a
    single map-side hash of the compared columns, so wide rows never
    shuffle twice. At 100 TB both snapshots are large — a shuffled
    full-outer on the key IS the right plan (bucketed layouts co-locate
    it; see tests/test_skew_bucketing.py).
    """
    fp = lambda df: df.select(  # noqa: E731
        F.col(key_col).alias("k"),
        F.xxhash64(*[F.col(c) for c in compare_cols]).alias("fp"),
    )
    joined = fp(existing).alias("e").join(
        fp(incoming).alias("i"),
        F.col("e.k") == F.col("i.k"),
        "full_outer",
    )
    classified = joined.select(
        F.when(F.col("e.k").isNull(), F.lit("insert"))
        .when(F.col("i.k").isNull(), F.lit("delete"))
        .when(F.col("e.fp") != F.col("i.fp"), F.lit("update"))
        .otherwise(F.lit("unchanged"))
        .alias("change_type")
    )
    return (
        classified.groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n_keys"))
        .orderBy("change_type")
    )


def merge_apply(
    snapshot: DataFrame,
    changes: DataFrame,
    *,
    key_col: str = "doc_id",
    delete_col: str = "is_delete",
) -> DataFrame:
    """Apply a CDC changeset to a snapshot — the MERGE INTO semantics
    (matched: update, matched + delete flag: drop, not matched:
    insert) that turns ``cdc_classify``'s decision table into the next
    snapshot.  The parquet-era answer to the reference sink's
    per-document ES upsert (core.clj:62-63): instead of mutating an
    index in place, produce the converged next snapshot relationally.

    One full-outer shuffle join on the key — the same single-exchange
    shape as ``cdc_classify``; change rows win wherever present,
    deletes drop the key entirely, untouched snapshot rows pass
    through.  At 100 TB a bucketed layout on the key makes the join
    exchange-free (tests/test_skew_bucketing.py).
    """
    data_cols = [c for c in snapshot.columns if c != key_col]
    s = snapshot.alias("s")
    c = changes.alias("c")
    joined = s.join(c, F.col(f"s.{key_col}") == F.col(f"c.{key_col}"), "full_outer")
    not_deleted = ~F.coalesce(F.col(f"c.{delete_col}"), F.lit(False))
    change_present = F.col(f"c.{key_col}").isNotNull()
    return (
        joined.filter(not_deleted)
        .select(
            F.coalesce(F.col(f"c.{key_col}"), F.col(f"s.{key_col}")).alias(key_col),
            *[
                F.when(change_present, F.col(f"c.{col}"))
                .otherwise(F.col(f"s.{col}"))
                .alias(col)
                for col in data_cols
            ],
        )
    )


def erase_users(
    events: DataFrame,
    user_ids: DataFrame,
    *,
    user_col: str = "user_id",
) -> tuple[DataFrame, DataFrame]:
    """GDPR/right-to-be-forgotten erasure over an event corpus: drop
    every record belonging to the requested subjects and produce the
    per-subject erasure audit (how many records each request removed,
    including explicit zero rows for subjects with no data — the
    proof-of-work a deletion request requires).

    Returns ``(cleaned, audit)``.  Scale shape: the erasure itself is
    ONE broadcast anti join (request lists are human-scale); the audit
    semi-reduces the corpus against the broadcast request table FIRST,
    so only the affected slice aggregates (map-side combine bounds the
    shuffle at |requests| keys per partition) — the full corpus never
    shuffles.  At 100 TB pair this with partition pruning on a
    user-bucketed layout (sources/layout.py) so only affected files
    rewrite.
    """
    ids = user_ids.select(F.col(user_col)).distinct()
    cleaned = events.join(F.broadcast(ids), user_col, "left_anti")
    # corpus reduces FIRST via broadcast semi + per-user count (the
    # corpus never shuffles on the user key); zero-record subjects
    # re-enter through the tiny ids-side outer join
    counts = (
        events.select(user_col)
        .join(F.broadcast(ids), user_col, "left_semi")
        .groupBy(user_col)
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    audit = (
        ids.join(counts, user_col, "left")
        .select(
            user_col,
            F.coalesce(F.col("__n"), F.lit(0)).alias("n_erased"),
        )
        .orderBy(user_col)
    )
    return cleaned, audit


def incremental_join_view(
    orders: DataFrame,
    customer: DataFrame,
    *,
    cutoff: str = "1997-01-01",
    new_cust_mod: int = 10,
) -> DataFrame:
    """Incremental maintenance of a JOIN materialized view — the
    delta-join algebra (V = A join B maintained as
    V_old + dA join B_old + A_old join dB + dA join dB) that keeps an
    enriched-orders view fresh WITHOUT re-joining the full fact table
    every batch; the join-view counterpart of ``incremental_rollup``
    (aggregate IVM) and ``merge_apply`` (CDC upsert).

    The split is simulated deterministically: orders on/after
    ``cutoff`` are the order delta, customers with
    ``c_custkey % new_cust_mod == 0`` are the customer delta.  The
    maintained view then aggregates per market segment — and the
    ORACLE computes the same aggregate from a naive full recompute, so
    any missed or duplicated delta term (the classic IVM bugs) breaks
    the hash.

    Scale shape: the three delta terms each join a DELTA against a
    static side (broadcast the delta when batch-sized; the
    ``incremental_near_dup`` production shape — wide work scales with
    the increment, base x base never re-joins); the final union feeds
    ONE partial+final aggregate.  Revenue is quantized to exact cents
    before summing (order-independent)."""
    key = orders["o_custkey"] == customer["c_custkey"]
    a_old = orders.filter(F.col("o_orderdate") < F.lit(cutoff))
    a_new = orders.filter(F.col("o_orderdate") >= F.lit(cutoff))
    b_old = customer.filter(
        F.col("c_custkey") % new_cust_mod != 0
    )
    b_new = customer.filter(F.col("c_custkey") % new_cust_mod == 0)

    def enrich(a: DataFrame, b: DataFrame) -> DataFrame:
        return a.join(b, a["o_custkey"] == b["c_custkey"]).select(
            b["c_mktsegment"].alias("segment"),
            F.expr("CAST(round(o_totalprice * 100.0, 0) AS BIGINT)").alias(
                "cents"
            ),
        )

    v_old = enrich(a_old, b_old)
    delta = (
        enrich(a_new, b_old)
        .unionByName(enrich(a_old, b_new))
        .unionByName(enrich(a_new, b_new))
    )
    return (
        v_old.unionByName(delta)
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum("cents") / F.lit(100.0)).alias("revenue"),
        )
        .orderBy("segment")
    )


def compaction_plan(
    events: DataFrame,
    *,
    target_bytes: int = 32 * 1024,
    per_doc_overhead: int = 64,
) -> DataFrame:
    """Small-file compaction planner — the index-maintenance pass every
    long-running ingestion needs (the ES force-merge / lakehouse
    OPTIMIZE analog of the reference's continuously-appending bulk
    sink, core.clj:55-79): a polling copy job writing per-day
    per-type segments leaves thousands of small files, and read
    amplification grows until someone coalesces them.

    Plans, deterministically: one "segment file" per (event_type, day)
    with bytes = sum(len(props) + per_doc_overhead); consecutive
    day-files of one type bin into compaction groups by EXCLUSIVE
    running bytes — group = floor(cum_before / target_bytes) — so a
    group closes at the first file that carries it past the target
    (size-banded grouping; a group may exceed target by at most one
    file, never splits a file). Pure integer arithmetic end-to-end.

    Scale shape: one fact aggregate to the bounded (type, day) axis;
    the running sum is a PARTITIONED window (per event_type) over that
    small axis, and the plan output is bounded by total_bytes /
    target_bytes. Nothing after the first agg touches fact rows."""
    files = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.length("props") + F.lit(per_doc_overhead))
        .cast("bigint")
        .alias("bytes"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    planned = files.withColumn(
        "cum_before", F.coalesce(F.sum("bytes").over(w), F.lit(0))
    ).withColumn(
        "compaction_group",
        F.floor(F.col("cum_before") / F.lit(target_bytes)).cast("int"),
    )
    return (
        planned.groupBy("event_type", "compaction_group")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("bytes").cast("bigint").alias("total_bytes"),
            F.date_format(F.min("day"), "yyyy-MM-dd").alias("first_day"),
            F.date_format(F.max("day"), "yyyy-MM-dd").alias("last_day"),
        )
        .orderBy("event_type", "compaction_group")
    )
