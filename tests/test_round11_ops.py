"""Round-11 additions: hermetic fake-ES HTTP server semantics
(sources/es_testing.py — VERDICT r10 "Next round #2"), the real retry
schedule over real HTTP, and the MinHash hash-family recall sweep
against the banding S-curve (VERDICT r10 #7).
"""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from flink_elasticsearch_ingestion_spark.config import SinkConfig
from flink_elasticsearch_ingestion_spark.sources.es_client import (
    ElasticsearchRestClient,
    send_bulk_with_retry,
)
from flink_elasticsearch_ingestion_spark.sources.es_testing import (
    FakeElasticsearchServer,
)


def _transport(req: dict):
    body = req.get("body")
    data = body.encode() if isinstance(body, str) else (
        json.dumps(body).encode() if body is not None else None
    )
    r = urllib.request.Request(
        req["url"], data=data, headers=req["headers"], method=req["method"]
    )
    with urllib.request.urlopen(r, timeout=10) as resp:
        return json.loads(resp.read().decode() or "{}")


@pytest.fixture()
def server():
    s = FakeElasticsearchServer(username="elastic", password="pw").start()
    yield s
    s.stop()


def _client(server, password="pw"):
    return ElasticsearchRestClient(
        SinkConfig(urls=server.url, username="elastic", password=password),
        transport=_transport,
    )


def test_wrong_credentials_rejected_with_real_401(server):
    """Auth is ENFORCED on the wire: a bad password yields an HTTP 401
    from the socket layer, not a silent success — the piece no fake
    transport object could pin."""
    bad = _client(server, password="nope")
    with pytest.raises(urllib.error.HTTPError) as ei:
        bad.send(bad.request("GET", "/"))
    assert ei.value.code == 401
    ok = _client(server)
    assert ok.send(ok.request("GET", "/"))["version"]["number"].startswith("8.")


def test_retry_schedule_over_real_http(server):
    """The reference's bulk failure handling (core.clj:72-78) end to
    end over HTTP: two injected all-429 bulks, then success — the
    client re-sends only retryable items and reports the attempts."""
    server.state.fail_bulk_statuses = [429, 503]
    c = _client(server)
    c.send(c.request("PUT", "/retry-idx"))
    docs = [
        {"index_id": "retry-idx", "doc_id": i, "body": {"n": i}}
        for i in range(5)
    ]
    sleeps: list[float] = []
    out = send_bulk_with_retry(c, docs, sleep=sleeps.append)
    assert out == {"attempts": 3, "indexed": 5, "retried": 10}
    # exponential: base 2000ms doubling per retry (core.clj:76-78)
    assert sleeps == [2.0, 4.0]
    assert server.state.bulk_calls == 3
    count = c.send(c.request("GET", "/retry-idx/_count"))
    assert count["count"] == 5


def test_range_query_pushdown_shape(server):
    """The scroll source's ts-range pushdown shape (sources/
    es_scroll.py): a range query filters server-side, so only matching
    docs ever cross the wire."""
    c = _client(server)
    c.send(c.request("PUT", "/rq"))
    docs = [
        {"index_id": "rq", "doc_id": i, "body": {"ts": i * 10}}
        for i in range(10)
    ]
    c.send(c.bulk_request(docs))
    page = c.send(
        c.request(
            "POST",
            "/rq/_search",
            {
                "size": 100,
                "sort": [{"ts": "asc"}],
                "query": {"range": {"ts": {"gt": 30, "lte": 70}}},
            },
        )
    )
    assert [h["_source"]["ts"] for h in page["hits"]["hits"]] == [40, 50, 60, 70]


def test_scroll_context_released_and_missing_context_404(server):
    c = _client(server)
    c.send(c.request("PUT", "/sc"))
    c.send(c.bulk_request(
        [{"index_id": "sc", "doc_id": i, "body": {"n": i}} for i in range(7)]
    ))
    page = c.send(
        c.request("POST", "/sc/_search?scroll=1m", {"size": 3, "sort": ["_doc"]})
    )
    sid = page["_scroll_id"]
    assert len(page["hits"]["hits"]) == 3
    c.send(c.request("DELETE", "/_search/scroll", {"scroll_id": sid}))
    with pytest.raises(urllib.error.HTTPError) as ei:
        c.send(c.request("POST", "/_search/scroll", {"scroll_id": sid}))
    assert ei.value.code == 404


# ---------------------------------------------------------------------------
# Arrow exact-cosine scoring twin (_arrow_pair_cosines) — bit parity
# with the aggregate/zip_with expression form (VERDICT r10 #3)
# ---------------------------------------------------------------------------
import struct

import numpy as np

from pyspark.sql import functions as F

from flink_elasticsearch_ingestion_spark.operators import similarity as S


def _bits(x):
    return None if x is None else struct.pack("<d", x).hex()


def _emb_frame(spark, n=400, dim=16, seed=11):
    rng = np.random.RandomState(seed)
    vecs = rng.randn(n, dim).astype("float32")
    rows = [(i, [float(v) for v in vecs[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_arrow_score_bit_parity_mutual_end_to_end(spark):
    """mutual_best_match with the Arrow scoring stage is BIT-identical
    to the expression form (same candidates: the bucket stage is held
    on the expression path on both sides)."""
    emb = _emb_frame(spark)
    left = emb.filter(F.col("vec_id") % 2 == 0)
    right = emb.filter(F.col("vec_id") % 2 == 1)
    kw = dict(bits=4, tables=8, corpus_rows=400)
    a = S.mutual_best_match(left, right, arrow=False, arrow_score=False, **kw)
    b = S.mutual_best_match(left, right, arrow=False, arrow_score=True, **kw)
    ra = [(r.vec_a, r.vec_b, _bits(r.cosine)) for r in a.collect()]
    rb = [(r.vec_a, r.vec_b, _bits(r.cosine)) for r in b.collect()]
    assert len(ra) > 10
    assert ra == rb


def test_bucket_score_bit_parity_mutual_margin_knn(spark):
    """arrow_score="bucket" (bucket-local matmul, the sixth-decade
    default for arrow=True) is bit-identical to the fold on mutual,
    margin AND the knn rank surface — the dedup keeps any one of the
    per-table duplicate scores, which are themselves bit-identical."""
    emb = _emb_frame(spark, n=320, dim=16, seed=47)
    left = emb.filter(F.col("vec_id") % 2 == 0)
    right = emb.filter(F.col("vec_id") % 2 == 1)
    kw = dict(bits=4, tables=8, corpus_rows=320)
    a = S.mutual_best_match(left, right, arrow_score=False, **kw)
    b = S.mutual_best_match(left, right, arrow_score="bucket", **kw)
    ra = [(r.vec_a, r.vec_b, _bits(r.cosine)) for r in a.collect()]
    rb = [(r.vec_a, r.vec_b, _bits(r.cosine)) for r in b.collect()]
    assert len(ra) > 10 and ra == rb
    ma = S.margin_best_match(left, right, arrow_score=False, **kw)
    mb = S.margin_best_match(left, right, arrow_score="bucket", **kw)
    assert sorted(map(tuple, ma.collect())) == sorted(map(tuple, mb.collect()))
    ka = S.knn_join_lsh(left.limit(15), emb, k=3, arrow_score=False, **kw)
    kb = S.knn_join_lsh(left.limit(15), emb, k=3, arrow_score="bucket", **kw)
    pa = [(r.query_id, r.neighbor_id, r.rank, _bits(r.cosine)) for r in ka.collect()]
    pb = [(r.query_id, r.neighbor_id, r.rank, _bits(r.cosine)) for r in kb.collect()]
    assert len(pa) == 45 and pa == pb


def test_bucket_score_zero_norm_raises(spark):
    """ANSI parity on the bucket path: a zero-norm vector raises."""
    # zero vectors on BOTH sides: every plane dot is 0 -> >= 0 -> the
    # all-ones bucket on both, so the collision (and the zero norm in
    # a non-empty cogroup) is guaranteed
    rows = [(0, [0.0] * 8), (1, [0.0] * 8), (2, [0.5] * 8), (3, [1.0] * 8)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        S.mutual_best_match(
            emb.filter(F.col("vec_id") % 2 == 0),
            emb.filter(F.col("vec_id") % 2 == 1),
            bits=2, tables=2, corpus_rows=4, arrow_score="bucket",
            center_check=False,
        ).collect()


def test_unrolled_score_bit_parity(spark):
    """arrow_score="unrolled" (flat left-deep codegen expression) is
    bit-identical to the interpreted fold on well-formed input — the
    left-deep chain replays the fold's IEEE addition order.  (Measured
    r11: wins at sf10 where the ~600-op codegen method still JITs,
    loses at sf30 to JIT method limits + GC — kept as a documented
    opt-in, the arrow pair scorer is the scale default.)"""
    emb = _emb_frame(spark, n=300, dim=16, seed=31)
    left = emb.filter(F.col("vec_id") % 2 == 0)
    right = emb.filter(F.col("vec_id") % 2 == 1)
    kw = dict(bits=4, tables=8, corpus_rows=300)
    a = S.mutual_best_match(left, right, arrow_score=False, **kw)
    b = S.mutual_best_match(left, right, arrow_score="unrolled", **kw)
    ra = [(r.vec_a, r.vec_b, _bits(r.cosine)) for r in a.collect()]
    rb = [(r.vec_a, r.vec_b, _bits(r.cosine)) for r in b.collect()]
    assert len(ra) > 10 and ra == rb


def test_arrow_score_bit_parity_margin_and_knn(spark):
    emb = _emb_frame(spark, n=240, dim=8, seed=23)
    left = emb.filter(F.col("vec_id") % 2 == 0)
    right = emb.filter(F.col("vec_id") % 2 == 1)
    kw = dict(bits=4, tables=8, corpus_rows=240)
    a = S.margin_best_match(left, right, arrow_score=False, **kw)
    b = S.margin_best_match(left, right, arrow_score=True, **kw)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    ka = S.knn_join_lsh(left.limit(20), emb, k=3, arrow_score=False, **kw)
    kb = S.knn_join_lsh(left.limit(20), emb, k=3, arrow_score=True, **kw)
    pa = [(r.query_id, r.neighbor_id, r.rank, _bits(r.cosine)) for r in ka.collect()]
    pb = [(r.query_id, r.neighbor_id, r.rank, _bits(r.cosine)) for r in kb.collect()]
    assert len(pa) == 60 and pa == pb


def test_arrow_pair_cosines_degenerate_parity(spark):
    """Null vectors, length-mismatched pairs, and NaN elements degrade
    IDENTICALLY to the expression form: NULL for the first two (the
    zip_with null-padding semantics), NaN-as-a-value for the third."""
    rows = [
        (1, 1, [1.0, 2.0, 3.0], [1.0, 2.0, 4.0]),       # normal
        (2, 2, None, [1.0, 2.0, 3.0]),                  # null q
        (3, 3, [1.0, 2.0, 3.0], None),                  # null c
        (4, 4, [1.0, 2.0], [1.0, 2.0, 3.0]),            # len mismatch
        (5, 5, [float("nan"), 1.0, 0.0], [1.0, 1.0, 1.0]),  # NaN element
        (6, 6, [0.5, 0.5], [0.25, -0.5]),               # short dim
    ]
    pairs = spark.createDataFrame(
        rows,
        "query_id long, neighbor_id long, "
        "q_vec array<double>, c_vec array<double>",
    )
    expr = pairs.select(
        "query_id",
        F.round(S.cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cosine"),
    ).collect()
    arrow = (
        S._arrow_pair_cosines(pairs)
        .select(
            "query_id",
            F.round(
                F.when(F.col("nan_flag"), F.lit(float("nan"))).otherwise(
                    F.col("cosine_raw")
                ),
                6,
            ).alias("cosine"),
        )
        .collect()
    )
    ea = {r.query_id: _bits(r.cosine) for r in expr}
    aa = {r.query_id: _bits(r.cosine) for r in arrow}
    assert ea == aa
    assert aa[2] is None and aa[3] is None and aa[4] is None
    assert struct.unpack("<d", bytes.fromhex(aa[5]))[0] != aa[5]  # NaN bits present
    assert np.isnan(struct.unpack("<d", bytes.fromhex(aa[5]))[0])


def test_arrow_pair_cosines_zero_norm_raises(spark):
    """ANSI parity: a zero-norm vector raises (the expression path
    raises DIVIDE_BY_ZERO under Spark 4 ANSI) rather than silently
    emitting Inf/NaN."""
    pairs = spark.createDataFrame(
        [(1, 1, [0.0, 0.0], [1.0, 2.0])],
        "query_id long, neighbor_id long, "
        "q_vec array<double>, c_vec array<double>",
    )
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        S._arrow_pair_cosines(pairs).collect()


# ---------------------------------------------------------------------------
# Hash-family recall parity with the banding S-curve (VERDICT r10 #7): the
# md5-31 MinHash family recovers planted twins at the rate the LSH theory
# predicts, not just by mechanism.
# ---------------------------------------------------------------------------
from flink_elasticsearch_ingestion_spark.operators import dedup as D


def _planted_corpus(keep_num, keep_den, n=300, seed=5):
    """(doc_id, text) rows: n seeded docs + one truncation twin each
    (first keep_num/keep_den of its tokens) — the same planting recipe
    as ``dedup.planted_dup_recall``, parameterized over the S-curve
    operating point."""
    rng = np.random.RandomState(seed)
    vocab = [f"w{i}" for i in range(800)]
    rows = []
    for i in range(n):
        toks = [vocab[j] for j in rng.randint(0, len(vocab), 30)]
        keep = -(-len(toks) * keep_num // keep_den)  # ceil
        rows.append((i, " ".join(toks)))
        rows.append((i + 1_000_000, " ".join(toks[:keep])))
    return rows


def _s_curve_recall(rows, threshold=0.4, rows_per_band=2, bands=8, k=3):
    """Expected recall of the banded pipeline over the planted pairs:
    each pair collides in some band with probability 1-(1-J^r)^b and
    survives the exact verify iff J >= threshold."""
    def grams(text):
        t = text.split(" ")
        return {tuple(t[i : i + k]) for i in range(max(len(t) - k + 1, 1))}

    text = dict(rows)
    probs = []
    for doc_id, body in rows:
        if doc_id >= 1_000_000:
            continue
        a, b = grams(body), grams(text[doc_id + 1_000_000])
        j = round(len(a & b) / len(a | b), 6)
        probs.append(1 - (1 - j**rows_per_band) ** bands if j >= threshold else 0.0)
    return sum(probs) / len(probs)


@pytest.mark.parametrize(
    "keep_num,keep_den",
    [(9, 10), (4, 5), (3, 5), (1, 5)],
    ids=["j~0.9", "j~0.8", "j~0.6", "below-threshold"],
)
def test_hash_family_recall_parity(spark, keep_num, keep_den):
    """Across the banding S-curve operating points, the md5-31 MinHash
    family (16 hashes, 8 bands) recovers the planted twins at the
    recall the S-curve predicts: 1.0 above the curve, 0 below the
    verify threshold, and within 5 points of 1-(1-J^2)^8 on the slope
    (a random hash family differs from the expectation only in banding
    luck; the exact-jaccard verify bounds it from above)."""
    rows = _planted_corpus(keep_num, keep_den)
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    n_planted = 300
    pairs = D.minhash_near_duplicates(
        corpus, jaccard_threshold=0.4, band_cap=None, arrow=True
    )
    found = (
        pairs.filter(F.col("doc_b") - F.col("doc_a") == 1_000_000)
        .filter(F.col("doc_a") < 1_000_000)
        .count()
    )
    recall = found / n_planted
    if keep_den == 5 and keep_num == 1:
        assert recall == 0.0  # below verify threshold
    elif keep_num == 9:
        assert recall == 1.0  # saturated top of curve
    else:
        # the slope: banding hit probability 1-(1-j^r)^b < 1, so the
        # family may miss a handful of twins
        assert recall > 0.9
        assert abs(recall - _s_curve_recall(rows)) <= 0.05
