"""Gap-filling resample, unpivot, and null-safe join unit checks."""

import datetime as dt

from flink_elasticsearch_ingestion_spark.operators.relational import (
    null_safe_status_rollup,
    unpivot_pricing_metrics,
)
from flink_elasticsearch_ingestion_spark.operators.windows import (
    resample_events_hourly,
)


def _ts(h, m=0):
    return dt.datetime(2024, 1, 1, h, m)


def test_resample_fills_gaps_and_forward_fills(spark):
    events = spark.createDataFrame(
        [
            (1, _ts(0, 10), 10.0),
            (1, _ts(0, 50), 20.0),
            # hours 1 and 2 are gaps
            (1, _ts(3, 5), 40.0),
            (2, _ts(5, 0), 7.0),
        ],
        "user_id long, ts timestamp, value double",
    )
    rows = {
        (r["user_id"], r["hour"].hour): r
        for r in resample_events_hourly(events).collect()
    }
    assert len(rows) == 5  # user1: hours 0..3; user2: hour 5
    assert rows[(1, 0)]["n_events"] == 2 and rows[(1, 0)]["value_ffill"] == 15.0
    # gap hours exist with zero events and carry the last average forward
    assert rows[(1, 1)]["n_events"] == 0 and rows[(1, 1)]["value_ffill"] == 15.0
    assert rows[(1, 2)]["n_events"] == 0 and rows[(1, 2)]["value_ffill"] == 15.0
    assert rows[(1, 3)]["value_ffill"] == 40.0
    assert rows[(2, 5)]["n_events"] == 1


def test_unpivot_is_lossless_reshape(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    long = unpivot_pricing_metrics(li)
    n_flags = li.select("l_returnflag").distinct().count()
    assert long.count() == n_flags * 3
    assert set(r["metric"] for r in long.collect()) == {
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
    }


def test_null_safe_join_keeps_null_bucket(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = null_safe_status_rollup(orders).collect()
    statuses = {r["status_norm"] for r in out}
    assert None in statuses  # the P bucket, normalized to NULL, survives
    assert sum(r["n_orders"] for r in out) == orders.count()
