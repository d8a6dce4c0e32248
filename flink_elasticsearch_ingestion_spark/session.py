"""SparkSession factory.

Local test profile mirrors the driver environment (local[N], single JVM);
the same builder flags are what we would set on a 1000-executor cluster:
AQE on (runtime coalesce + skew-join), UTC session timezone (fixtures are
UTC; see FIXTURES.md), Arrow for any pandas exchange.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def default_driver_memory() -> str:
    """Driver heap: 24g, capped at half the host's physical memory. In
    local mode the driver JVM is the whole executor, so a fixed 24g on
    a 16 GB host lets two sessions (a test run next to an oracle check)
    grow until the kernel kills one."""
    try:
        half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    except (AttributeError, ValueError, OSError):
        return "24g"
    return f"{min(24 * 1024, half_mb)}m"


def get_spark(
    app_name: str = "flink_elasticsearch_ingestion_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    On a real cluster, pass ``master=None`` with spark-submit owning the
    master URL; every other setting below is scale-safe.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # plan-audit tooling (plans/audit.py) parses PushedFilters out of
        # rendered plans; the 100-char default truncates them mid-bracket
        .config("spark.sql.maxMetadataStringLength", "100000")
        .config("spark.ui.enabled", "false")
        # Python DataSource V2 filter pushdown (es_scroll's ts-range
        # checkpoint predicate evaluates inside the source reader)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", default_driver_memory()),
        )
        # a long-lived session compiles one codegen class per plan
        # stage; a few hundred distinct queries overflow JDK17's 240 MB
        # default ReservedCodeCacheSize, the JIT shuts off, and
        # HOF-heavy expression queries drop to interpreter speed
        # (measured 5x on the set-similarity join late in a full bench
        # run). Same flag a production driver/executor would carry.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g",
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def context_tmpdir(prefix: str) -> str:
    """A fresh directory under the active SparkContext's SparkFiles
    root, which Spark deletes when the context stops. Staging for the
    frames catalog queries return: they stay recomputable for the life
    of the context, and nothing is left behind in the system temp dir."""
    import tempfile

    from pyspark import SparkFiles

    return tempfile.mkdtemp(prefix=prefix, dir=SparkFiles.getRootDirectory())


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers
    regardless of the driver process's cwd / PYTHONPATH.

    Anything pickled BY REFERENCE (module-level functions handed to
    ``mapInPandas``/``mapInArrow`` such as the es_bulk chunk writer,
    the es_bulk/es_scroll DataSource classes, UDTF classes) requires
    the worker's Python to ``import
    flink_elasticsearch_ingestion_spark`` — which fails when the
    driving process found the repo via a ``sys.path`` insert the
    workers never saw. Shipping the package once per SparkContext via
    ``addPyFile`` (workers unzip onto their ``sys.path``) removes the
    assumption; this is also exactly how the package deploys to a real
    multi-node cluster, where executors share no filesystem with the
    driver.
    """
    sc = spark.sparkContext
    if getattr(sc, "_fei_pkg_shipped", False):
        return
    import zipfile

    pkg_root = os.path.dirname(os.path.abspath(__file__))
    parent = os.path.dirname(pkg_root)
    zpath = os.path.join(context_tmpdir("fei_pkg_"), "fei_spark_pkg.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for dirpath, _dirs, files in os.walk(pkg_root):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, parent))
    sc.addPyFile(zpath)
    sc._fei_pkg_shipped = True
