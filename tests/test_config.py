"""Config model: the reference's ParameterTool bugs are unrepresentable
(duplicate key core.clj:95/97, key mismatch core.clj:84 vs 91)."""

import pytest

from flink_elasticsearch_ingestion_spark.config import PipelineConfig, SinkConfig
from flink_elasticsearch_ingestion_spark.functions.urls import urls_to_http_hosts
from flink_elasticsearch_ingestion_spark.sources.sinks import elasticsearch_writer_options


def test_from_flat_roundtrip():
    cfg = PipelineConfig.from_flat(
        {
            "source.elasticsearch-urls": "http://a:9201,http://b",
            "source.batch-size": "500",
            "source.poll-interval": "1000",
            "sink.elasticsearch-url": "https://c",
            "sink.username": "elastic",
        }
    )
    assert cfg.source.urls == "http://a:9201,http://b"
    assert cfg.source.batch_size == 500
    assert cfg.source.poll_interval_ms == 1000
    assert cfg.sink.username == "elastic"


def test_both_url_spellings_accepted():
    # reference bug: job-graph read "-urls", defaults defined "-url"
    a = PipelineConfig.from_flat({"source.elasticsearch-url": "http://x"})
    b = PipelineConfig.from_flat({"source.elasticsearch-urls": "http://x"})
    assert a.source.urls == b.source.urls == "http://x"


def test_unknown_key_rejected():
    with pytest.raises(KeyError):
        PipelineConfig.from_flat({"source.pol-interval": "99"})  # typo'd key


def test_reference_sink_defaults():
    # bulk/retry constants carried from core.clj:72-78
    sink = SinkConfig()
    assert sink.bulk_max_actions == 64
    assert sink.bulk_flush_interval_ms == 5000
    assert sink.retry_count == 10
    assert sink.retry_base_delay_ms == 2000
    assert sink.backoff_policy == "EXPONENTIAL"


def test_urls_to_http_hosts_port_default():
    # port defaults to 9200 when absent (core.clj:43)
    hosts = urls_to_http_hosts("http://a:9201,b,https://c")
    assert [(h.host, h.port, h.scheme) for h in hosts] == [
        ("a", 9201, "http"),
        ("b", 9200, "http"),
        ("c", 9200, "https"),
    ]


def test_es_writer_options_carry_reference_semantics():
    opts = elasticsearch_writer_options(SinkConfig(urls="http://es1:9200", username="u", password="p"))
    assert opts["es.batch.size.entries"] == "64"
    assert opts["es.batch.write.retry.count"] == "10"
    assert opts["es.mapping.id"] == "doc_id"
    assert opts["es.resource.write"] == "{index_id}"  # dynamic routing


def test_json_body_roundtrip(spark, sf_dir):
    """encode_body (to_json at the sink, core.clj:59-60) and decode_body
    invert each other; inferred schema parses what encode produced."""
    from pyspark.sql import functions as F

    from flink_elasticsearch_ingestion_spark.functions import json_shaping as J
    from flink_elasticsearch_ingestion_spark.sources.tables import load_events

    events = load_events(spark, sf_dir).select("event_id", "user_id", "value")
    encoded = J.encode_body(events, ("user_id", "value"), out_col="source")
    schema = J.infer_body_schema(encoded, "source")
    decoded = J.decode_body(encoded, "source", schema).select(
        "event_id",
        F.col("body.user_id").alias("user_id"),
        F.col("body.value").alias("value"),
    )
    assert decoded.exceptAll(events).count() == 0
    assert decoded.count() == events.count()


def test_reference_auth_key_spellings_accepted():
    """The reference's actual flat auth keys (core.clj:92-93 spellings)
    must build a config, not raise KeyError."""
    from flink_elasticsearch_ingestion_spark.config import PipelineConfig

    cfg = PipelineConfig.from_flat(
        {
            "source.elasticsearch-username": "su",
            "source.elasticsearch-password": "sp",
            "sink.elasticsearch-username": "ku",
            "sink.elasticsearch-password": "kp",
        }
    )
    assert (cfg.source.username, cfg.source.password) == ("su", "sp")
    assert (cfg.sink.username, cfg.sink.password) == ("ku", "kp")


def test_es_writer_options_full_reference_contract():
    """Every reference sink constant round-trips: 64 actions, 10
    retries, 2000 ms delay into real es-hadoop keys; 5000 ms flush
    interval and EXPONENTIAL policy live in SinkConfig (honored by the
    streaming trigger / documented constant-wait mapping)."""
    cfg = SinkConfig(urls="https://es1:9243,http://es2", username="u", password="p")
    opts = elasticsearch_writer_options(cfg)
    assert opts["es.nodes"] == "es1"
    assert opts["es.port"] == "9243"
    assert opts["es.net.http.auth.user"] == "u"
    assert opts["es.net.http.auth.pass"] == "p"
    assert opts["es.batch.size.entries"] == str(cfg.bulk_max_actions) == "64"
    assert opts["es.batch.write.retry.count"] == str(cfg.retry_count) == "10"
    assert opts["es.batch.write.retry.wait"] == f"{cfg.retry_base_delay_ms}ms" == "2000ms"
    assert opts["es.write.operation"] == "index"
    assert opts["es.batch.write.refresh"] == "false"
    assert cfg.bulk_flush_interval_ms == 5000
    assert cfg.backoff_policy == "EXPONENTIAL"
    # every emitted key is a real elasticsearch-hadoop option namespace
    assert all(k.startswith("es.") for k in opts)


def test_default_driver_memory_is_half_the_host_capped_at_24g(monkeypatch):
    from flink_elasticsearch_ingestion_spark import session

    pages = {"SC_PAGE_SIZE": 4096}
    monkeypatch.setattr(session.os, "sysconf", lambda k: pages[k])
    pages["SC_PHYS_PAGES"] = 16 * 2**30 // 4096  # 16 GB host
    assert session.default_driver_memory() == "8192m"
    pages["SC_PHYS_PAGES"] = 256 * 2**30 // 4096
    assert session.default_driver_memory() == "24576m"
