"""Copy-pipeline semantics: idempotence, incremental ≡ full,
checkpoint persistence, chunking invariants (SURVEY.md §5.2.4)."""

import datetime as dt

from pyspark.sql import functions as F

from flink_elasticsearch_ingestion_spark.operators import copy as C
from flink_elasticsearch_ingestion_spark.sources.tables import load_events
from flink_elasticsearch_ingestion_spark.streaming.shell import CheckpointStore, run_incremental_batch
from flink_elasticsearch_ingestion_spark.sources.sinks import MemorySink, ParquetSink


def _events(spark, sf_dir):
    return load_events(spark, sf_dir)


def test_copy_idempotent(spark, sf_dir):
    """Running the copy twice over the same input yields the same doc set
    (last-wins by doc_id == ES upsert, core.clj:62-63)."""
    events = _events(spark, sf_dir)
    once = C.incremental_copy(events)
    twice = C.incremental_copy(events.union(events))
    assert once.exceptAll(twice).count() == 0
    assert twice.exceptAll(once).count() == 0


def test_incremental_equals_full(spark, sf_dir):
    """copy(t0..t1) ∪ copy(t1..end) == copy(full) for mid-range t1."""
    events = _events(spark, sf_dir)
    t1 = dt.datetime(2024, 1, 15)
    first = events.filter(F.col("ts") <= t1)
    second = events.filter(F.col("ts") > t1)
    merged = C.incremental_copy(first).union(C.incremental_copy(second))
    # doc ids unique per half, so union == full copy
    full = C.incremental_copy(events)
    assert merged.exceptAll(full).count() == 0
    assert full.exceptAll(merged).count() == 0


def test_incremental_filter_bounds(spark, sf_dir):
    events = _events(spark, sf_dir)
    total = events.count()
    after = C.incremental_filter(events, dt.datetime(2024, 1, 15)).count()
    assert 0 < after < total
    assert C.incremental_filter(events, None).count() == total


def test_last_wins_keeps_latest(spark):
    df = spark.createDataFrame(
        [(1, "a", 1.0), (1, "b", 3.0), (1, "c", 2.0), (2, "d", 1.0)],
        "doc_id int, payload string, ts double",
    )
    out = C.last_wins(df).collect()
    by_id = {r.doc_id: r.payload for r in out}
    assert by_id == {1: "b", 2: "d"}


def test_bulk_chunks_sizes(spark, sf_dir):
    docs = C.shape_documents(_events(spark, sf_dir))
    sizes = (
        C.bulk_chunks(docs, max_actions=64)
        .groupBy("chunk_id")
        .count()
        .collect()
    )
    counts = sorted((r.chunk_id, r["count"]) for r in sizes)
    assert all(c == 64 for _, c in counts[:-1])  # all full but the last
    assert counts[-1][1] <= 64


def test_checkpoint_store_roundtrip(tmp_path, spark, sf_dir):
    store = CheckpointStore(str(tmp_path / "ck.json"))
    assert store.load() is None
    sink = MemorySink()
    events = _events(spark, sf_dir)
    n1 = run_incremental_batch(events, sink, store)
    assert n1 == events.count()
    assert store.load() is not None
    # second poll over unchanged input: nothing new past the checkpoint
    n2 = run_incremental_batch(events, sink, store)
    assert n2 == 0
    assert len(sink.rows) == n1


def test_parquet_sink_partitions_by_index(tmp_path, spark, sf_dir):
    """Data-dependent index routing (core.clj:58,64) -> partitionBy."""
    docs = C.incremental_copy(_events(spark, sf_dir))
    sink = ParquetSink(path=str(tmp_path / "out"))
    sink.write(docs)
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == docs.count()
    dirs = {p.name for p in (tmp_path / "out").iterdir() if p.is_dir()}
    assert any(d.startswith("index_id=") for d in dirs)


def test_ingestion_diff(spark, sf_dir):
    events = _events(spark, sf_dir)
    docs = C.incremental_copy(events)
    half = docs.filter(F.col("doc_id") % 2 == 0)
    missing = C.ingestion_diff(docs, half)
    assert missing.count() == docs.count() - half.count()
    assert missing.filter(F.col("doc_id") % 2 == 0).count() == 0


def test_ns_checkpoint_boundary_not_lost(tmp_path, spark):
    """Continuous-polling boundary edge: an event whose ns timestamp
    truncates to the same MICROSECOND as the saved checkpoint must be
    picked up by the next poll (the us-grain strict > skipped it
    forever; the ns-grain offset is exact)."""
    base_ns = 1_700_000_000_000_000_000  # multiple of 1000: us-aligned
    schema = "event_id long, event_type string, ts long, ts_ns long, user_id long, value double, props string"

    def mk(rows):
        return spark.createDataFrame(
            [(i, "click", ns, ns, 1, 1.0, "{}") for i, ns in rows], schema
        )

    store = CheckpointStore(str(tmp_path / "ck.json"))
    sink = MemorySink()
    # poll 1: two events; checkpoint lands on base_ns (and its us truncation)
    n1 = run_incremental_batch(mk([(1, base_ns - 5000), (2, base_ns)]), sink, store)
    assert n1 == 2
    assert store.load_ns() == base_ns
    # poll 2: a late event 500 ns later — SAME microsecond as checkpoint
    late = mk([(1, base_ns - 5000), (2, base_ns), (3, base_ns + 500)])
    n2 = run_incremental_batch(late, sink, store)
    assert n2 == 1  # us-grain comparison would yield 0: silent data loss
    assert {r.doc_id for r in sink.rows} == {1, 2, 3}
    assert store.load_ns() == base_ns + 500
    # poll 3: nothing new -> nothing re-emitted
    assert run_incremental_batch(late, sink, store) == 0


def test_compact_last_wins_converges_append_sink(tmp_path, spark, sf_dir):
    """Retried append-mode writes duplicate doc_ids in storage; the
    read-side compaction recovers the exact converged document set."""
    from flink_elasticsearch_ingestion_spark.sources.sinks import compact_last_wins

    docs = C.incremental_copy(_events(spark, sf_dir))
    sink = ParquetSink(path=str(tmp_path / "out"), mode="append")
    sink.write(docs)
    sink.write(docs)  # the retry
    raw = spark.read.parquet(sink.path)
    assert raw.count() == 2 * docs.count()
    converged = compact_last_wins(spark, sink.path)
    assert converged.count() == docs.count()
    cols = docs.columns
    assert converged.select(*cols).exceptAll(docs).count() == 0


def test_copy_run_is_one_pass(tmp_path, spark, sf_dir, count_jobs):
    """``Engine.copy_run`` writes in one pass: the row count and the
    checkpoint's max(ts) ride in the sink's write job (no cache, no
    count job, no max-ts job), and the registered events schema is
    reused. An empty poll still runs only the write."""
    from flink_elasticsearch_ingestion_spark.api import Engine

    eng = Engine(sf_dir, spark=spark)
    sc = spark.sparkContext
    cached_before = set(sc._jsc.getPersistentRDDs().keySet())
    ck, out = str(tmp_path / "ck.json"), str(tmp_path / "copied")
    n, jobs = count_jobs(lambda: eng.copy_run(ck, out))
    assert n == load_events(spark, sf_dir).count()
    assert jobs <= 2
    saved = CheckpointStore(ck).load()
    n, jobs = count_jobs(lambda: eng.copy_run(ck, out))
    assert n == 0 and jobs <= 2
    assert CheckpointStore(ck).load() == saved
    assert set(sc._jsc.getPersistentRDDs().keySet()) == cached_before
