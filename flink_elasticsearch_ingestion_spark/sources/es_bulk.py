"""Elasticsearch ``_bulk`` wire-format sink — the sink half of the
reference (core.clj:55-79).

The reference's sink builds ``IndexRequest(id=doc_id, index=index_id,
body=source-json)`` and hands them to a BulkProcessor flushing every 64
actions. This sink produces the exact bytes such a processor sends:
NDJSON action/body line pairs ::

    {"index": {"_index": "<index_id>", "_id": "<doc_id>"}}
    {...source JSON...}

chunked into one file per (task, flush) with at most ``max_actions``
actions each — so a replay tool can POST each file to a live cluster's
``/_bulk`` verbatim. A manifest naming the committed files is written
driver-side only after every task succeeded: consumers
(:func:`read_bulk_payload`) see all of a write or none of it.

Two entry points share the chunk writer:

- batch: :func:`write_bulk` — ONE Spark job (``mapInArrow`` tasks write
  the chunks and return ``(files, n_actions)``; the driver collects
  them and writes one ``_MANIFEST-job-<tag>.json``). An ``Observation``
  on the input rides in the same job, so a caller gets its counters
  without a second pass.
- streaming: ``writeStream.format("es_bulk")`` — the Python DataSource
  micro-batch writer, one ``_MANIFEST-<epoch>.json`` per epoch,
  mirroring the reference's unbounded job writing through the same
  bulk processor. The DataSource is stream-only.
"""

from __future__ import annotations

import dataclasses
import functools
import json
import os
import uuid
from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    WriterCommitMessage,
)
from pyspark.sql.types import Row, StructType

#: reference bulk flush size (core.clj:72)
DEFAULT_MAX_ACTIONS = 64


@dataclasses.dataclass
class BulkCommit(WriterCommitMessage):
    files: list
    n_actions: int


def _write_chunks(path: str, rows: Iterator[Row], max_actions: int, tag: str):
    """Write bulk NDJSON chunk files of <= max_actions actions each;
    runs on the executor, one call per task."""
    os.makedirs(path, exist_ok=True)
    files: list[str] = []
    n = 0
    chunk_idx = 0
    fh = None
    in_chunk = 0
    try:
        for row in rows:
            if fh is None or in_chunk >= max_actions:
                if fh is not None:
                    fh.close()
                fname = f"bulk-{tag}-{chunk_idx:05d}.ndjson"
                fh = open(os.path.join(path, fname), "w")
                files.append(fname)
                chunk_idx += 1
                in_chunk = 0
            action = {"index": {"_index": row["index_id"], "_id": row["doc_id"]}}
            fh.write(json.dumps(action, separators=(",", ":")) + "\n")
            fh.write(row["source"] + "\n")
            in_chunk += 1
            n += 1
    finally:
        if fh is not None:
            fh.close()
    return BulkCommit(files=files, n_actions=n)


def _write_manifest(path: str, messages, name: str, extra: dict | None = None) -> None:
    files: list[str] = []
    total = 0
    for m in messages:
        if m is not None:
            files.extend(m.files)
            total += m.n_actions
    manifest = {"files": sorted(files), "n_actions": total}
    manifest.update(extra or {})
    with open(os.path.join(path, name), "w") as fh:
        json.dump(manifest, fh)


_TASK_COMMIT = pa.schema([("files", pa.list_(pa.string())), ("n_actions", pa.int64())])


def _write_task(path: str, max_actions: int, batches: Iterator[pa.RecordBatch]):
    """``mapInArrow`` body: one task's chunk files, reported as a
    single ``(files, n_actions)`` row for the driver-side commit."""
    rows = (row for batch in batches for row in batch.to_pylist())
    c = _write_chunks(path, rows, max_actions, uuid.uuid4().hex[:12])
    yield pa.RecordBatch.from_pylist(
        [{"files": c.files, "n_actions": c.n_actions}], schema=_TASK_COMMIT
    )


def write_bulk(
    df: DataFrame,
    path: str,
    *,
    max_actions: int = DEFAULT_MAX_ACTIONS,
    overwrite: bool = False,
) -> int:
    """Write ``df``'s ``(doc_id, index_id, source)`` as ``/_bulk`` chunk
    files under ``path`` in one Spark job; returns the actions written.

    Every task's ``(files, n_actions)`` is collected before the
    manifest is written, so a failed task raises here with no manifest
    (the payload stays invisible). One manifest per call
    (``_MANIFEST-job-<tag>.json``): a second append must not clobber
    the first call's manifest, or its committed documents vanish from
    :func:`read_bulk_payload`. ``overwrite=True`` drops every earlier
    manifest at commit, so only this call's files stay visible (orphaned
    chunk files are invisible by contract). A call that writes nothing
    writes no manifest."""
    from flink_elasticsearch_ingestion_spark.session import ship_package

    # _write_task is pickled by reference: workers must import the package
    ship_package(df.sparkSession)
    os.makedirs(path, exist_ok=True)
    commits = (
        df.select("doc_id", "index_id", "source")
        .mapInArrow(
            functools.partial(_write_task, path, max_actions),
            "files array<string>, n_actions bigint",
        )
        .collect()
    )
    if overwrite:
        for f in os.listdir(path):
            if f.startswith("_MANIFEST") and f.endswith(".json"):
                os.remove(os.path.join(path, f))
    n = sum(c.n_actions for c in commits)
    if n:
        _write_manifest(path, commits, name=f"_MANIFEST-job-{uuid.uuid4().hex[:12]}.json")
    return n


class EsBulkStreamWriter(DataSourceStreamWriter):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("es_bulk requires option 'path'")
        self.max_actions = int(options.get("max_actions", str(DEFAULT_MAX_ACTIONS)))

    def write(self, iterator: Iterator[Row]) -> BulkCommit:
        return _write_chunks(
            self.path, iterator, self.max_actions, uuid.uuid4().hex[:12]
        )

    def commit(self, messages, batchId: int) -> None:
        # one manifest per epoch: a replayed batch overwrites its own
        # manifest (idempotent), never another epoch's
        _write_manifest(
            self.path,
            messages,
            name=f"_MANIFEST-{batchId}.json",
            extra={"batch_id": batchId},
        )

    def abort(self, messages, batchId: int) -> None:
        pass


class EsBulkDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "es_bulk"

    def schema(self) -> str:
        return "doc_id string, index_id string, source string"

    def streamWriter(self, schema: StructType, overwrite: bool) -> EsBulkStreamWriter:
        return EsBulkStreamWriter(self.options)


def register_bulk_sink(spark) -> None:
    """Idempotent registration: a session cloned via ``newSession``
    shares the data-source registry, where a second ``register`` of the
    same name raises DATA_SOURCE_ALREADY_EXISTS instead of overwriting."""
    try:
        spark.dataSource.register(EsBulkDataSource)
    except Exception as e:  # pragma: no cover - message-keyed on purpose
        if "DATA_SOURCE_ALREADY_EXISTS" not in str(e):
            raise


def read_bulk_payload_df(spark, path: str):
    """Distributed parse-back of the committed bulk payload.

    The scale path for auditing a bulk export: the manifest log is
    parsed driver-side (tiny metadata, same pattern as a Delta/Iceberg
    log read — Spark's file index hides ``_``-prefixed files from
    distributed readers anyway), the committed chunk files are scanned
    with the ordinary distributed text reader, and the action/body line
    pairing happens JVM-side with higher-order array functions — no
    driver-side payload loop, so a 100 TB payload audits at cluster
    parallelism.  At extreme file counts, compact per-epoch manifests
    before auditing.  Visibility contract matches
    :func:`read_bulk_payload`: only files named by a manifest count;
    uncommitted stragglers are invisible.

    Returns a DataFrame ``(doc_id string, index_id string, source
    string)`` — doc_id stays a string here because the wire format
    carries it as JSON; callers cast as needed.
    """
    from pyspark.sql import functions as F

    files: list[str] = []
    if os.path.isdir(path):
        for f in sorted(os.listdir(path)):
            if f.startswith("_MANIFEST") and f.endswith(".json"):
                with open(os.path.join(path, f)) as fh:
                    files.extend(json.load(fh)["files"])
    paths = [os.path.join(path, f) for f in sorted(set(files))]
    if not paths:
        # no committed manifests -> empty payload
        return spark.createDataFrame(
            [], "doc_id string, index_id string, source string"
        )
    committed = spark.read.text(paths, wholetext=True)
    lines = F.filter(F.split(F.col("value"), "\n"), lambda x: x != "")
    split_cols = committed.select(
        F.filter(lines, lambda x, i: i % 2 == 0).alias("actions"),
        F.filter(lines, lambda x, i: i % 2 == 1).alias("bodies"),
    )
    # same invariant the driver-side reader asserts: a committed chunk
    # holds (action, body) PAIRS. A truncated/corrupt chunk must fail
    # loudly, not null-pad the zip into silently wrong audit aggregates.
    paired = split_cols.select(
        F.when(
            F.size("actions") == F.size("bodies"),
            F.arrays_zip("actions", "bodies"),
        )
        .otherwise(
            F.raise_error("odd line count in committed bulk chunk")
        )
        .alias("z")
    ).select(F.explode("z").alias("p"))
    return paired.select(
        F.get_json_object("p.actions", "$.index._id").alias("doc_id"),
        F.get_json_object("p.actions", "$.index._index").alias("index_id"),
        F.col("p.bodies").alias("source"),
    )


def read_bulk_payload(path: str) -> list[tuple[dict, str]]:
    """Parse every COMMITTED chunk back into (action, body) pairs —
    the test-side consumer standing in for a live ``/_bulk`` endpoint.
    Only files named by a manifest count (batch ``_MANIFEST-job-<tag>.json`` and
    per-epoch ``_MANIFEST-<n>.json``); uncommitted stragglers are
    invisible, which is the point of the manifest."""
    files: list[str] = []
    for f in sorted(os.listdir(path)):
        if f.startswith("_MANIFEST") and f.endswith(".json"):
            with open(os.path.join(path, f)) as fh:
                files.extend(json.load(fh)["files"])
    out = []
    for fname in sorted(set(files)):
        with open(os.path.join(path, fname)) as fh:
            lines = [ln for ln in fh.read().splitlines() if ln]
        assert len(lines) % 2 == 0, f"odd line count in {fname}"
        for i in range(0, len(lines), 2):
            out.append((json.loads(lines[i]), lines[i + 1]))
    return out
