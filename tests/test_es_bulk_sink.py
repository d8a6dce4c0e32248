"""es_bulk sink: ES _bulk wire format, 64-action chunking,
manifest-gated visibility; batch ``write_bulk`` + the streaming
DataSource writer."""

import json
import os

import pyspark.sql.functions as F

from flink_elasticsearch_ingestion_spark.functions.json_shaping import encode_body
from flink_elasticsearch_ingestion_spark.operators.copy import (
    BODY_COLS,
    incremental_copy,
    shape_documents,
)
from flink_elasticsearch_ingestion_spark.sources.es_bulk import (
    EsBulkDataSource,
    read_bulk_payload,
    write_bulk,
)
from flink_elasticsearch_ingestion_spark.sources.tables import load_events


def _docs(spark, sf_dir):
    return encode_body(shape_documents(load_events(spark, sf_dir)), BODY_COLS).select(
        "doc_id", "index_id", "source"
    )


def test_bulk_write_round_trips_wire_format(tmp_path, spark, sf_dir):
    docs = _docs(spark, sf_dir)
    out = str(tmp_path / "bulk_out")
    write_bulk(docs, out)
    payload = read_bulk_payload(out)
    assert len(payload) == docs.count()
    # every action routes by (index_id, doc_id) exactly as the
    # reference emitter does, and every body is the source JSON
    want = {r["doc_id"]: r for r in docs.collect()}
    for action, body in payload:
        meta = action["index"]
        row = want[meta["_id"]]
        assert meta["_index"] == row["index_id"]
        assert body == row["source"]
        json.loads(body)  # body must be valid JSON for /_bulk


def test_bulk_chunks_respect_max_actions(tmp_path, spark, sf_dir):
    docs = _docs(spark, sf_dir).repartition(3)
    out = str(tmp_path / "bulk_chunked")
    write_bulk(docs, out, max_actions=64)
    manifests = [f for f in os.listdir(out) if f.startswith("_MANIFEST-job-")]
    assert len(manifests) == 1  # one batch job -> one job manifest
    with open(os.path.join(out, manifests[0])) as fh:
        manifest = json.load(fh)
    assert manifest["n_actions"] == docs.count()
    for fname in manifest["files"]:
        with open(os.path.join(out, fname)) as fh:
            n_lines = sum(1 for ln in fh if ln.strip())
        assert n_lines % 2 == 0 and n_lines // 2 <= 64
    # ceil-division lower bound: chunking actually splits
    assert len(manifest["files"]) >= docs.count() // 64


def test_two_append_runs_both_stay_visible(tmp_path, spark, sf_dir):
    # regression (round-2 advice): a second incremental run used to
    # overwrite the first run's fixed-name manifest, silently dropping
    # the earlier documents from the committed payload
    docs = _docs(spark, sf_dir)
    first = docs.limit(10)
    second = docs.subtract(first).limit(7)
    out = str(tmp_path / "bulk_two_runs")
    write_bulk(first, out)
    write_bulk(second, out)
    payload = read_bulk_payload(out)
    assert len(payload) == 17
    got_ids = {a["index"]["_id"] for a, _ in payload}
    want_ids = {r["doc_id"] for r in first.collect()} | {
        r["doc_id"] for r in second.collect()
    }
    assert got_ids == want_ids


def test_overwrite_run_replaces_previous_payload(tmp_path, spark, sf_dir):
    docs = _docs(spark, sf_dir)
    out = str(tmp_path / "bulk_overwrite")
    write_bulk(docs.limit(10), out)
    replacement = docs.limit(3)
    write_bulk(replacement, out, overwrite=True)
    payload = read_bulk_payload(out)
    assert len(payload) == 3
    assert {a["index"]["_id"] for a, _ in payload} == {
        r["doc_id"] for r in replacement.collect()
    }


def test_uncommitted_chunks_stay_invisible(tmp_path):
    out = tmp_path / "bulk_stray"
    out.mkdir()
    (out / "bulk-deadbeef-00000.ndjson").write_text(
        '{"index": {"_index": "i", "_id": "x"}}\n{}\n'
    )
    # no manifest at all -> nothing committed -> empty payload
    assert read_bulk_payload(str(out)) == []


def test_streaming_bulk_write_per_epoch_manifests(tmp_path, spark, sf_dir):
    spark.dataSource.register(EsBulkDataSource)
    src = str(tmp_path / "stream_src")
    _docs(spark, sf_dir).write.parquet(src)
    out = str(tmp_path / "bulk_stream_out")
    schema = spark.read.parquet(src).schema
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.format("es_bulk")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "bulk_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    payload = read_bulk_payload(out)
    n = spark.read.parquet(src).count()
    assert len(payload) == n
    manifests = [f for f in os.listdir(out) if f.startswith("_MANIFEST-")]
    assert len(manifests) >= 1  # one per drained epoch


def test_streaming_epoch_replay_is_idempotent(tmp_path, spark, sf_dir):
    """A replayed micro-batch (same batchId after a crash before the
    checkpoint commit) must overwrite ITS OWN epoch manifest, leaving
    the visible payload identical — the exactly-once contract of the
    manifest scheme."""
    from flink_elasticsearch_ingestion_spark.sources.es_bulk import (
        EsBulkStreamWriter,
    )

    docs = _docs(spark, sf_dir).limit(10)
    out = tmp_path / "bulk_replay"
    out.mkdir()
    writer = EsBulkStreamWriter({"path": str(out)})
    rows = docs.collect()
    # first attempt of epoch 7, then a replay of the SAME epoch (crash
    # after data files landed but before the engine recorded the commit)
    msg1 = writer.write(iter(rows))
    writer.commit([msg1], 7)
    first_payload = read_bulk_payload(str(out))
    msg2 = writer.write(iter(rows))
    writer.commit([msg2], 7)
    replayed_payload = read_bulk_payload(str(out))
    # same epoch -> same manifest name -> replay REPLACES, never doubles
    assert len(replayed_payload) == len(first_payload) == 10
    assert {a["index"]["_id"] for a, _ in replayed_payload} == {
        a["index"]["_id"] for a, _ in first_payload
    }
    manifests = [f for f in os.listdir(out) if f.startswith("_MANIFEST-")]
    assert manifests == ["_MANIFEST-7.json"]


def test_full_reference_pipeline_scan_to_bulk(tmp_path, spark, sf_dir):
    """The reference's whole job in one statement: incremental scan ->
    emitter projection -> last-wins -> bulk-format sink."""
    events = load_events(spark, sf_dir)
    docs = encode_body(
        incremental_copy(events, checkpoint_ts="2024-01-15 00:00:00"), BODY_COLS
    ).select("doc_id", "index_id", "source")
    out = str(tmp_path / "bulk_pipeline")
    write_bulk(docs, out)
    assert len(read_bulk_payload(out)) == docs.count()


def test_engine_copy_run_bulk_incremental_resume(tmp_path, spark, sf_dir):
    """Two engine runs: the first drains everything, the second (no new
    events) writes nothing — the checkpoint made the bulk copy
    incremental end to end."""
    from flink_elasticsearch_ingestion_spark.api import Engine

    eng = Engine(sf_dir, spark=spark)
    ck = str(tmp_path / "ck.json")
    out = str(tmp_path / "bulk_run")
    n1 = eng.copy_run_bulk(ck, out)
    assert n1 > 0
    assert len(read_bulk_payload(out)) == n1
    n2 = eng.copy_run_bulk(ck, out)
    assert n2 == 0
    assert len(read_bulk_payload(out)) == n1


def test_copy_run_bulk_is_one_pass(tmp_path, spark, sf_dir, count_jobs):
    """A copy poll is scan -> last-wins -> bulk write in one pass: the
    checkpoint's max(ts) rides in the write's job (no count, no
    max-ts job, no persist), and the events schema registered by
    ``Engine(...)`` is reused (no inference job)."""
    from flink_elasticsearch_ingestion_spark.api import Engine

    eng = Engine(sf_dir, spark=spark)
    sc = spark.sparkContext
    cached_before = set(sc._jsc.getPersistentRDDs().keySet())
    n, jobs = count_jobs(
        lambda: eng.copy_run_bulk(str(tmp_path / "ck.json"), str(tmp_path / "bulk"))
    )
    assert n > 0
    assert jobs <= 2
    assert set(sc._jsc.getPersistentRDDs().keySet()) == cached_before


def test_copy_run_bulk_ns_checkpoint_boundary_not_lost(tmp_path, spark, sf_dir):
    """A nanosecond source: an event later than the checkpoint but in
    the same microsecond must still be copied by the next poll (a
    us-grain offset with a strict ``>`` would skip it forever)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_elasticsearch_ingestion_spark.api import Engine

    sf = tmp_path / "sf"
    (sf / "events.parquet").mkdir(parents=True)
    for f in os.listdir(sf_dir):
        if f != "events.parquet":
            os.symlink(os.path.join(sf_dir, f), sf / f)
    base_ns = 1_700_000_000_000_000_000  # us-aligned

    def write_events(name, rows):
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([i for i, _ in rows], pa.int64()),
                    "ts": pa.array([ns for _, ns in rows], pa.timestamp("ns")),
                    "user_id": pa.array([1] * len(rows), pa.int64()),
                    "event_type": ["click"] * len(rows),
                    "value": [1.0] * len(rows),
                    "props": ["{}"] * len(rows),
                }
            ),
            sf / "events.parquet" / name,
        )

    write_events("part-0.parquet", [(1, base_ns + 100), (2, base_ns + 1_000_100)])
    eng = Engine(str(sf), spark=spark)
    ck = str(tmp_path / "ck.json")
    out = str(tmp_path / "bulk")
    assert eng.copy_run_bulk(ck, out) == 2
    # the late event truncates to the checkpoint's microsecond
    write_events("delta-1.parquet", [(3, base_ns + 1_000_600)])
    assert eng.copy_run_bulk(ck, out) == 1
    assert eng.copy_run_bulk(ck, out) == 0
    assert sorted(a["index"]["_id"] for a, _ in read_bulk_payload(out)) == [1, 2, 3]


def test_failed_write_commits_no_manifest(tmp_path, spark):
    """A task failure mid-write must abort the job with NO manifest —
    consumers see nothing, not a partial payload (the all-or-nothing
    visibility the reference's bulk retry loop approximates)."""
    import pytest

    out = str(tmp_path / "bulk_fail")
    bad = spark.createDataFrame(
        [("a", "i", "{}"), ("b", "i", None)],  # null source -> TypeError in writer
        "doc_id string, index_id string, source string",
    ).coalesce(1)
    with pytest.raises(Exception):
        write_bulk(bad, out)
    if os.path.isdir(out):
        assert not [f for f in os.listdir(out) if f.startswith("_MANIFEST")]
        assert read_bulk_payload(out) == []

def test_distributed_payload_reader_matches_driver_reader(tmp_path, spark, sf_dir):
    """read_bulk_payload_df (manifest semi-join + JVM line pairing) must
    see exactly the committed (doc_id, index_id, source) set the
    driver-side reader sees — including manifest-gated invisibility of
    uncommitted stragglers."""
    from flink_elasticsearch_ingestion_spark.sources.es_bulk import (
        read_bulk_payload_df,
    )

    docs = _docs(spark, sf_dir)
    out = str(tmp_path / "bulk_dist")
    write_bulk(docs, out)
    # plant an uncommitted straggler chunk: valid wire format, no manifest
    with open(os.path.join(out, "bulk-straggler-00000.ndjson"), "w") as fh:
        fh.write('{"index":{"_index":"ghost","_id":"999999"}}\n{"x":1}\n')
    driver_side = {
        (str(a["index"]["_id"]), a["index"]["_index"], b)
        for a, b in read_bulk_payload(out)
    }
    dist = {
        (r["doc_id"], r["index_id"], r["source"])
        for r in read_bulk_payload_df(spark, out).collect()
    }
    assert dist == driver_side
    assert not any(ix == "ghost" for _, ix, _ in dist)


def test_distributed_payload_reader_empty_dir(tmp_path, spark):
    from flink_elasticsearch_ingestion_spark.sources.es_bulk import (
        read_bulk_payload_df,
    )

    out = tmp_path / "bulk_empty"
    out.mkdir()
    assert read_bulk_payload_df(spark, str(out)).count() == 0


def test_distributed_payload_reader_rejects_corrupt_chunk(tmp_path, spark):
    """A committed chunk with an odd line count (truncated write that
    made it into a manifest, or post-commit corruption) must fail
    loudly, matching the driver-side reader's assertion — never
    null-pad into silently wrong audit aggregates."""
    import pytest as _pytest

    from flink_elasticsearch_ingestion_spark.sources.es_bulk import (
        read_bulk_payload_df,
    )

    out = tmp_path / "bulk_corrupt"
    out.mkdir()
    with open(out / "bulk-x-00000.ndjson", "w") as fh:
        fh.write('{"index":{"_index":"i1","_id":"1"}}\n{"x":1}\n')
        fh.write('{"index":{"_index":"i1","_id":"2"}}\n')  # truncated pair
    with open(out / "_MANIFEST-job-x.json", "w") as fh:
        json.dump({"files": ["bulk-x-00000.ndjson"], "n_actions": 2}, fh)
    with _pytest.raises(Exception, match="odd line count"):
        read_bulk_payload_df(spark, str(out)).collect()
