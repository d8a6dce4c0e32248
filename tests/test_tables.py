"""Table loading: each parquet path's schema is inferred once per
SparkContext and reused until a file it was inferred from changes."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from flink_elasticsearch_ingestion_spark.sources.tables import load_events, load_table


def _write_region(path, keys, extra=None):
    cols = {"r_regionkey": pa.array(keys, pa.int64()), "r_name": [f"R{k}" for k in keys]}
    if extra:
        cols[extra] = [1.0] * len(keys)
    pq.write_table(pa.table(cols), path)


def test_second_load_launches_no_job(tmp_path, spark, count_jobs):
    (tmp_path / "region.parquet").mkdir()
    _write_region(tmp_path / "region.parquet" / "part-0.parquet", [0, 1, 2])
    first, n_first = count_jobs(lambda: load_table(spark, str(tmp_path), "region"))
    second, n_second = count_jobs(lambda: load_table(spark, str(tmp_path), "region"))
    assert n_first >= 1  # the first read infers
    assert n_second == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_appended_file_keeps_the_schema_and_shows_its_rows(tmp_path, spark, count_jobs):
    table = tmp_path / "region.parquet"
    table.mkdir()
    _write_region(table / "part-0.parquet", [0, 1, 2])
    load_table(spark, str(tmp_path), "region")
    _write_region(table / "part-1.parquet", [3, 4])
    df, n = count_jobs(lambda: load_table(spark, str(tmp_path), "region"))
    assert n == 0
    assert sorted(r.r_regionkey for r in df.collect()) == [0, 1, 2, 3, 4]


def test_rewritten_table_is_inferred_again(tmp_path, spark, count_jobs):
    table = tmp_path / "region.parquet"
    table.mkdir()
    _write_region(table / "part-0.parquet", [0, 1, 2])
    assert "r_comment" not in load_table(spark, str(tmp_path), "region").columns
    os.remove(table / "part-0.parquet")
    _write_region(table / "part-0-v2.parquet", [5, 6], extra="r_comment")
    df, n = count_jobs(lambda: load_table(spark, str(tmp_path), "region"))
    assert n >= 1
    assert "r_comment" in df.columns
    assert sorted(r.r_regionkey for r in df.collect()) == [5, 6]


def test_nanosecond_events_keep_ts_ns_and_a_microsecond_ts(tmp_path, spark, count_jobs):
    """TIMESTAMP(NANOS) events read as nanos-long (``ts_ns``) plus a
    truncated microsecond ``ts``, on the inferring read and the memo's."""
    (tmp_path / "events.parquet").mkdir()
    base_ns = 1_700_000_000_000_000_000
    nanos = [base_ns + 1_999, base_ns + 1_000_000_500]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(nanos, pa.timestamp("ns")),
                "user_id": pa.array([1, 1], pa.int64()),
                "event_type": ["click", "click"],
                "value": [1.0, 1.0],
                "props": ["{}", "{}"],
            }
        ),
        tmp_path / "events.parquet" / "part-0.parquet",
    )
    first = load_events(spark, str(tmp_path))
    second, n = count_jobs(lambda: load_events(spark, str(tmp_path)))
    assert n == 0
    for df in (first, second):
        dtypes = dict(df.dtypes)
        assert dtypes["ts_ns"] == "bigint" and dtypes["ts"] == "timestamp"
        rows = sorted(df.select("ts_ns", F.unix_micros("ts").alias("us")).collect())
        assert [r.ts_ns for r in rows] == nanos
        assert [r.us for r in rows] == [ns // 1000 for ns in nanos]

