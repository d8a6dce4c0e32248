"""User-facing entry points: the engine as a library.

``Engine`` wraps a SparkSession + a scale-factor directory and exposes
the three ways users consume this engine:

- ``engine.table(name)`` — DataFrame handle per fixture table
- ``engine.sql(query)`` — ANSI SQL over the registered views (Catalyst
  plans it identically to the DataFrame form)
- ``engine.query(name)`` — the named operator catalog from
  ``__spark_entry__.queries()`` (every SURVEY.md §2 operator)

The reference's only entry point was a CLI main that assembled one
hard-wired pipeline (core.clj:102-112); this replaces it with the
standard Spark triad while `copy_run` keeps the reference's one-command
batch-copy semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from flink_elasticsearch_ingestion_spark.session import get_spark
from flink_elasticsearch_ingestion_spark.sources.tables import (
    TABLES,
    load_table,
    register_views,
)


class Engine:
    def __init__(self, sf_dir: str, spark: SparkSession | None = None):
        self.spark = spark or get_spark("engine")
        self.sf_dir = sf_dir
        register_views(self.spark, sf_dir)

    def table(self, name: str) -> DataFrame:
        return load_table(self.spark, self.sf_dir, name)

    def tables(self) -> tuple[str, ...]:
        return TABLES

    def sql(self, query: str) -> DataFrame:
        """ANSI SQL over the registered table views."""
        return self.spark.sql(query)

    def query(self, name: str) -> DataFrame:
        """Run a named operator from the driver-contract catalog."""
        import __spark_entry__ as entry

        return entry.queries()[name](self.spark, self.sf_dir)

    def query_names(self) -> list[str]:
        import __spark_entry__ as entry

        return sorted(entry.queries())

    def copy_run(self, checkpoint_path: str, sink_path: str) -> int:
        """The reference's headline behavior as one call: incremental
        batch copy of the event stream with a persisted ts offset, in
        one Spark pass per call (``run_incremental_batch``)."""
        from flink_elasticsearch_ingestion_spark.sources.sinks import ParquetSink
        from flink_elasticsearch_ingestion_spark.streaming.shell import (
            CheckpointStore,
            run_incremental_batch,
        )

        events = self.table("events")
        sink = ParquetSink(path=sink_path, mode="append")
        return run_incremental_batch(events, sink, CheckpointStore(checkpoint_path))

    def copy_run_bulk(self, checkpoint_path: str, bulk_path: str) -> int:
        """``copy_run`` writing ``/_bulk`` wire-format payload files
        (``sources.es_bulk.write_bulk``) instead of parquet: the output
        directory holds the literal payload a replay tool POSTs to a
        live cluster — the complete reference job (incremental scan ->
        emitter -> last-wins -> bulk sink -> "store timestamp of last
        doc", core.clj:72, 137). Returns the documents written.

        One Spark pass per call (``streaming.shell.checkpointed_copy``,
        shared with ``copy_run``): the checkpoint's ``max(ts)`` (and
        ``max(ts_ns)`` for sources carrying raw nanoseconds, the exact
        offset ``CheckpointStore`` documents) is an ``Observation``
        riding in the write's own job, read only after the write
        returned — a failed write raises before the checkpoint moves.
        A poll with nothing new writes no manifest and leaves the
        checkpoint alone."""
        from flink_elasticsearch_ingestion_spark.functions.json_shaping import (
            encode_body,
        )
        from flink_elasticsearch_ingestion_spark.operators.copy import BODY_COLS
        from flink_elasticsearch_ingestion_spark.sources.es_bulk import write_bulk
        from flink_elasticsearch_ingestion_spark.streaming.shell import (
            CheckpointStore,
            checkpointed_copy,
        )

        docs, commit = checkpointed_copy(
            self.table("events"), CheckpointStore(checkpoint_path)
        )
        write_bulk(encode_body(docs, BODY_COLS), bulk_path)
        return commit()
