"""Structured Streaming shell over the identical batch copy logic.

The reference is an unbounded Flink stream with a polling incremental
source (poll-interval / batch-size / checkpoint-offset, reference
core.clj:94-97, 124-140) and a micro-batching bulk sink (core.clj:68-79).
Spark mapping:

- polling source      -> ``readStream`` + ``Trigger.ProcessingTime``
  (finite test/replay mode: ``Trigger.AvailableNow``)
- checkpoint-offset   -> ``checkpointLocation`` (Spark owns offsets/state);
  the batch-mode path persists max(ts) itself (CheckpointStore)
- bulk sink + retry   -> ``foreachBatch`` wrapping the same DocumentSink
  the batch path uses; at-least-once + idempotent doc_id upsert ==
  the reference's effective delivery contract (core.clj:62-63)

Batch/streaming parity: ``incremental_copy`` is applied inside each
micro-batch, so one code path is tested once and runs both ways.
"""

from __future__ import annotations

import json
import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from flink_elasticsearch_ingestion_spark.operators.copy import incremental_copy, shape_documents
from flink_elasticsearch_ingestion_spark.sources.sinks import DocumentSink
from flink_elasticsearch_ingestion_spark.sources.tables import read_parquet


class CheckpointStore:
    """Batch-mode incremental offset: persist max(ts) between runs
    ('Store timestamp of last doc', core.clj:137).

    When the source exposes the raw nanosecond column, the ns value is
    checkpointed alongside the us-grain timestamp: comparing on the
    truncated us value with a strict ``>`` silently and permanently
    skips any later event whose ns timestamp truncates to the same
    microsecond as the checkpoint. The ns offset makes the boundary
    exact."""

    def __init__(self, path: str):
        self.path = path

    def _read(self) -> dict:
        if not os.path.exists(self.path):
            return {}
        with open(self.path) as f:
            return json.load(f)

    def load(self) -> str | None:
        return self._read().get("checkpoint_ts")

    def load_ns(self) -> int | None:
        ns = self._read().get("checkpoint_ns")
        return int(ns) if ns is not None else None

    def save(self, checkpoint_ts: str, checkpoint_ns: int | None = None) -> None:
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        state: dict = {"checkpoint_ts": checkpoint_ts}
        if checkpoint_ns is not None:
            state["checkpoint_ns"] = int(checkpoint_ns)
        with open(self.path, "w") as f:
            json.dump(state, f)


def checkpointed_copy(
    events: DataFrame, store: CheckpointStore
) -> tuple[DataFrame, Callable[[], int]]:
    """The copy (``incremental_copy``) of the ``events`` past ``store``'s
    offset, and a ``commit()`` to call once that frame's one write has
    returned: it saves the new offset and returns the rows written.

    Prefers the exact ns offset whenever the source carries ``ts_ns``
    (see CheckpointStore); falls back to the us-grain timestamp offset
    for sources without it. The row count, ``max(ts)`` and
    ``max(ts_ns)`` are ``Observation``s riding in the write's own job,
    so a poll is one Spark pass; a failed write raises before
    ``commit()`` runs, and a poll with nothing new leaves the offset
    alone."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    has_ns = "ts_ns" in events.columns
    ck_ns = store.load_ns() if has_ns else None
    if has_ns:
        # observed below the ts filters: max over the full slice
        # equals max over the rows that pass whenever any row does
        if ck_ns is not None:
            events = events.filter(F.col("ts_ns") > F.lit(ck_ns))
        ns_obs = Observation()
        events = events.observe(ns_obs, F.max("ts_ns").alias("max_ns"))
    if ck_ns is not None:
        docs = incremental_copy(events, checkpoint_ns=ck_ns)
    else:
        docs = incremental_copy(events, checkpoint_ts=store.load())
    obs = Observation()
    docs = docs.observe(obs, F.count(F.lit(1)).alias("n"), F.max("ts").alias("max_ts"))

    def commit() -> int:
        n = obs.get["n"]
        if n:
            store.save(
                obs.get["max_ts"].isoformat(sep=" "),
                checkpoint_ns=ns_obs.get["max_ns"] if has_ns else None,
            )
        return n

    return docs, commit


def run_incremental_batch(
    events: DataFrame,
    sink: DocumentSink,
    store: CheckpointStore,
) -> int:
    """One poll of the batch-mode incremental copy in one Spark pass:
    filter past the saved offset, copy, write, advance the offset
    (``checkpointed_copy``). Returns rows written. ``sink.write`` must
    run one action over the frame it is given."""
    docs, commit = checkpointed_copy(events, store)
    sink.write(docs)
    return commit()


def stream_copy(
    spark: SparkSession,
    source_path: str,
    sink: DocumentSink,
    checkpoint_dir: str,
    schema: str | None = None,
    available_now: bool = True,
    poll_interval_ms: int = 5000,
    batch_size_files: int | None = None,
):
    """Streaming copy: file source -> identical batch transform per
    micro-batch -> DocumentSink via foreachBatch.

    ``available_now=True`` drains all available input then stops
    (deterministic tests); ``False`` polls forever at the reference's
    poll interval.

    ``batch_size_files`` is the per-trigger batch-size cap
    (``source.batch-size``, core.clj:94): the file-source analog of the
    scroll page size, mapped to ``maxFilesPerTrigger`` — honored by
    AvailableNow too, which then drains in multiple rate-limited
    micro-batches instead of one."""
    reader = spark.readStream.format("parquet").schema(
        schema or read_parquet(spark, source_path).schema
    )
    if batch_size_files is not None:
        reader = reader.option("maxFilesPerTrigger", str(batch_size_files))
    stream = reader.load(source_path)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        sink.write(incremental_copy(batch_df))

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{poll_interval_ms} milliseconds")
    return writer.start()
