"""Parquet table loaders for the test fixtures (TESTDATA.md).

Scale note: ``spark.read.parquet`` gives Catalyst the scan it needs for
predicate pushdown, column pruning and partition pruning — at 100 TB the
same call reads a partitioned/bucketed layout and only the row groups a
query's filters allow. Do not collect or materialize here.

Schema: every read goes through ``read_parquet``. The first read of a
path runs Spark's own inference (one footer-reading job); the schema is
then fixed for that path for the life of the SparkContext, as a file
stream fixes its schema when the query starts, and later reads pass it
to ``spark.read.schema(...)`` and launch no job. It is inferred again
only when one of the data files it was inferred from is gone or changed
(an overwrite); appended files keep it, since without ``mergeSchema``
Spark assumes every file shares one footer's schema anyway. The memo is
keyed by the absolute path plus the parquet confs that change inference
(``_SCHEMA_CONFS``). Paths on a non-``file:`` filesystem are read as
plain ``spark.read.parquet``.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# session confs under which the same footer infers a different schema
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)


def _data_files(path: str) -> frozenset | None:
    """``(relative name, size, mtime_ns)`` of every file Spark's file
    index would list under a local ``path`` (hidden ``_``/``.`` names
    skipped, ``k=v`` partition dirs kept); None when ``path`` is not a
    local file or directory (a glob, a missing path)."""
    if os.path.isfile(path):
        st = os.stat(path)
        return frozenset([("", st.st_size, st.st_mtime_ns)])
    if not os.path.isdir(path):
        return None

    def hidden(n: str) -> bool:
        return (n.startswith("_") and "=" not in n) or n.startswith(".")

    out = []
    for dirpath, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not hidden(d)]
        for f in files:
            if hidden(f):
                continue
            full = os.path.join(dirpath, f)
            try:
                st = os.stat(full)
            except FileNotFoundError:  # removed while listing
                continue
            out.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return frozenset(out)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema inferred once per
    SparkContext (see the module docstring for when it is inferred
    again)."""
    url = urlparse(path)
    local = os.path.abspath(url.path or path) if url.scheme in ("", "file") else None
    files = _data_files(local) if local else None
    if not files:
        return spark.read.parquet(path)
    memo = spark.sparkContext.__dict__.setdefault("_fei_parquet_schemas", {})
    key = (local, tuple(spark.conf.get(c) for c in _SCHEMA_CONFS))
    hit = memo.get(key)
    if hit is not None and hit[1] <= files:
        return spark.read.schema(hit[0]).parquet(path)
    df = spark.read.parquet(path)
    memo[key] = (df.schema, files)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # every catalog query funnels through here: guarantee executor
    # workers can import the package (pickle-by-reference UDFs and
    # DataSource classes) even when the driving process isn't rooted
    # in the repo — one addPyFile per SparkContext, then a no-op
    from flink_elasticsearch_ingestion_spark.session import ship_package

    ship_package(spark)
    if name == "events":
        return load_events(spark, sf_dir)
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.ts is TIMESTAMP(NANOS) parquet, which Spark's vectorized
    reader rejects; read it as nanos-long and truncate to microseconds
    (integer ``div`` — float division would round and drift from
    DuckDB's truncating ns->us cast)."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, f"{sf_dir}/events.parquet")
    if dict(df.dtypes).get("ts") == "bigint":
        # keep the raw nanos column (ts_ns): predicates on the DERIVED
        # timestamp cannot reach the parquet scan, but a coarse range
        # predicate on ts_ns pushes down and prunes row groups — the
        # incremental copy uses both (coarse pushed + exact post-filter)
        df = df.withColumn("ts_ns", F.col("ts")).withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register the fixture tables as temp views for the SQL surface."""
    for name, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(name)
