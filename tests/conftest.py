import pytest

from flink_elasticsearch_ingestion_spark import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    s.conf.set("spark.sql.session.timeZone", "UTC")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` -> ``(fn(), Spark jobs fn launched)``.

    The jobs are counted under a fresh job group after the listener bus
    drains, so the count neither races the bus nor saturates at the
    status store's ``spark.ui.retainedJobs`` in a long session."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"count_jobs_{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
