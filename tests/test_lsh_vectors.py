"""Sign-LSH vector-match family: ``embedding_near_duplicates`` and the
shared candidate stage ``_lsh_scored_pairs`` with the operators built
on it (``knn_join_lsh``, ``mutual_best_match``, ``margin_best_match``).

Each operator has one path: the ``_arrow_banded`` bucket kernel and,
in the candidate stage, the bucket-local ``_bucket_matmul_scores``
scorer. These tests pin that path bit for bit to the expression
reference in ``lsh_reference`` (the arithmetic the DuckDB oracle
replays) on clean, NaN, shifted, string-id and dirty inputs.
"""

import random
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from lsh_reference import reference_scored_pairs, reference_stages

from flink_elasticsearch_ingestion_spark.operators import similarity as S
from flink_elasticsearch_ingestion_spark.sources.tables import load_table


def _bits(x):
    return None if x is None else struct.pack("<d", x).hex()


def _emb_frame(spark, n=400, dim=16, seed=11):
    rng = np.random.RandomState(seed)
    vecs = rng.randn(n, dim).astype("float32")
    rows = [(i, [float(v) for v in vecs[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _positive_frame(spark, n=64, dim=8, id_type="long"):
    """Deterministic all-positive uniform-[0,1] vectors."""
    rng = random.Random(7)
    rows = []
    for i in range(n):
        vec = [rng.random() for _ in range(dim)]
        rows.append((str(i) if id_type == "string" else i, vec))
    return spark.createDataFrame(
        rows, f"vec_id {id_type}, embedding array<double>"
    )


def _centered_rows(n=40, dim=8, seed=7):
    rng = random.Random(seed)
    return [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)]


def _near_dup_pairs(emb, **kw):
    return sorted(
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in S.embedding_near_duplicates(emb, **kw).collect()
    )


def _reference_near_dup_pairs(emb, **kw):
    with reference_stages():
        return _near_dup_pairs(emb, **kw)


# ------------------------------------------------- embedding_near_duplicates


def test_embedding_near_duplicates_matches_reference(spark, sf_dir):
    """The bucket kernel yields exactly the expression form's verified
    pair set (signs agree except within ~1e-14 of zero, which the
    fixture never hits)."""
    emb = load_table(spark, sf_dir, "embeddings")
    kw = dict(threshold=0.4, bits=6, tables=8)
    got = _near_dup_pairs(emb, **kw)
    assert got == _reference_near_dup_pairs(emb, **kw) and got


def test_embedding_near_duplicates_buckets_nan_like_reference(spark):
    """A NaN element makes a NaN plane dot. Spark orders NaN above every
    number, so the expression form puts that sign on the 1 side; the
    bucket kernel must do the same, or the NaN vectors pair with
    different partners."""
    rows = _centered_rows() + [
        (40, [float("nan")] + [0.5] * 7),
        (41, [1.0, float("nan")] + [-0.5] * 6),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(threshold=-2.0, bits=2, tables=2, center_check=False)
    got = [(a, b) for a, b, _ in _near_dup_pairs(emb, **kw)]
    want = [(a, b) for a, b, _ in _reference_near_dup_pairs(emb, **kw)]
    assert got == want
    assert any(40 in p for p in got) and any(41 in p for p in got)


def test_bucket_shift_matches_reference_and_rebalances(spark, sf_dir):
    """bucket_shift parity with the expression form on the all-positive
    media features — the distribution the shift exists for — plus the
    rebalancing claim: shifted bucketing spreads the same vectors over
    MORE buckets than raw bucketing does."""
    from flink_elasticsearch_ingestion_spark.operators import multimodal as M

    feats = M.sha_features_expr(
        M.documents_as_media(load_table(spark, sf_dir, "documents"))
    ).select(
        F.col("media_id").alias("vec_id"), F.col("feature").alias("embedding")
    )
    kw = dict(threshold=0.9, bits=5, tables=3, bucket_shift=0.5)
    assert _near_dup_pairs(feats, **kw) == _reference_near_dup_pairs(feats, **kw)
    # rebalancing: distinct buckets (table 0) strictly increase
    planes = S._hyperplanes(8, 5, 42)
    raw = feats.select(S.lsh_bucket_expr("embedding", planes).alias("b"))
    shifted = feats.withColumn(
        "s", F.expr("transform(embedding, x -> CAST(x AS DOUBLE) - 0.5D)")
    ).select(S.lsh_bucket_expr("s", planes).alias("b"))
    n_raw = raw.distinct().count()
    n_shifted = shifted.distinct().count()
    assert n_shifted > n_raw, (n_raw, n_shifted)


def test_embedding_near_duplicates_keeps_string_ids(spark):
    """String ids ride through the bucket kernel as strings and give
    the expression form's pairs."""
    rows = [(f"doc_{i:02d}", v) for i, v in _centered_rows()]
    emb = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    kw = dict(threshold=-2.0, bits=2, tables=2)
    got = _near_dup_pairs(emb, **kw)
    assert got == _reference_near_dup_pairs(emb, **kw)
    assert got and isinstance(got[0][0], str)


def test_embedding_near_duplicates_drops_null_and_ragged(spark):
    """A null vector and a vector of the wrong size are in no pair:
    appending them to a clean frame leaves its pairs unchanged."""
    schema = "vec_id long, embedding array<double>"
    clean = spark.createDataFrame(_centered_rows(), schema)
    dirty = clean.unionByName(
        spark.createDataFrame([(1000, None), (1001, [0.1, 0.2, 0.3])], schema)
    )
    kw = dict(threshold=-2.0, bits=2, tables=2)
    want = _near_dup_pairs(clean, **kw)
    assert _near_dup_pairs(dirty, **kw) == want and want


def test_bucket_cap_pins_no_second_cache(spark):
    """The bucket_cap truncation count reads the banded frame the call
    already caches: a capped call leaves no more new persisted RDD ids
    than an uncapped one (ids, not a count, so blocks the
    ContextCleaner releases meanwhile cannot offset a leak)."""
    persisted = lambda: set(spark.sparkContext._jsc.getPersistentRDDs().keySet())  # noqa: E731

    def frame(first_id):
        # distinct rows per call, so no call reuses another's cache
        return spark.createDataFrame(
            [(first_id + i, [1.0, 0.5, 0.25, 0.75]) for i in range(200)],
            "vec_id long, embedding array<double>",
        )

    kw = dict(threshold=0.5, bits=3, tables=2, center_check=False)
    before = persisted()
    S.embedding_near_duplicates(frame(0), **kw).collect()
    plain = persisted() - before
    before = persisted()
    with pytest.warns(UserWarning, match="truncated"):
        capped = S.embedding_near_duplicates(
            frame(1000), bucket_cap=10, **kw
        ).collect()
    assert len(capped) == 45  # C(10,2): the cap still bounds the pairs
    assert len(persisted() - before) <= len(plain)


# ----------------------------------------------- _lsh_scored_pairs family

_SCORED_KW = dict(
    seed=42, query_id="vec_id", corpus_id="vec_id", vec_col="embedding"
)


def _scored_rows(left, right, **kw):
    got = sorted(map(tuple, S._lsh_scored_pairs(left, right, **kw).collect()))
    want = sorted(map(tuple, reference_scored_pairs(left, right, **kw).collect()))
    return got, want


def test_lsh_scored_pairs_matches_reference(spark, sf_dir):
    """The candidate stage returns the expression form's scored pair
    set: buckets, pairs and 6dp cosines all equal."""
    emb = load_table(spark, sf_dir, "embeddings")
    got, want = _scored_rows(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
        bits=4, tables=8, **_SCORED_KW,
    )
    assert got == want and got


def test_lsh_scored_pairs_keeps_string_ids(spark):
    """String doc ids come back as strings, bucket-identical to the
    expression form."""
    df = _positive_frame(spark, 32, id_type="string")
    got, want = _scored_rows(
        df, df, bits=3, tables=2, center_check=False, **_SCORED_KW
    )
    assert got == want
    assert got and isinstance(got[0][0], str)


def test_lsh_scored_pairs_drops_null_and_ragged(spark):
    """Null and wrong-dimension vectors fall out of the candidate stage
    as they fall out of the expression form (null buckets drop from the
    equi-join) — they never raise."""
    good = _positive_frame(spark, 24)
    dirty = good.unionByName(
        spark.createDataFrame(
            [(1000, None), (1001, [0.1, 0.2])],
            "vec_id long, embedding array<double>",
        )
    )
    got, want = _scored_rows(
        dirty, dirty, bits=3, tables=2, center_check=False, **_SCORED_KW
    )
    assert got == want
    ids = {p[0] for p in got} | {p[1] for p in got}
    assert 1000 not in ids and 1001 not in ids


def test_bucket_score_bit_parity_mutual_margin_knn(spark):
    """Bucket banding + bucket-local scoring is bit-identical to the
    expression form (ids-only collision join, then the fold) on
    mutual, margin AND the knn rank surface — the dedup keeps any one
    of the per-table duplicate scores, which are themselves
    bit-identical."""
    emb = _emb_frame(spark, n=320, dim=16, seed=47)
    left = emb.filter(F.col("vec_id") % 2 == 0)
    right = emb.filter(F.col("vec_id") % 2 == 1)
    kw = dict(bits=4, tables=8, corpus_rows=320)

    def run():
        mutual = [
            (r.vec_a, r.vec_b, _bits(r.cosine))
            for r in S.mutual_best_match(left, right, **kw).collect()
        ]
        margin = sorted(
            map(tuple, S.margin_best_match(left, right, **kw).collect())
        )
        knn = [
            (r.query_id, r.neighbor_id, r.rank, _bits(r.cosine))
            for r in S.knn_join_lsh(left.limit(15), emb, k=3, **kw).collect()
        ]
        return mutual, margin, knn

    mutual, margin, knn = run()
    with reference_stages():
        assert (mutual, margin, knn) == run()
    assert len(mutual) > 10 and len(knn) == 45


def test_bucket_score_zero_norm_raises(spark):
    """ANSI parity: a zero-norm vector raises DIVIDE_BY_ZERO on the
    bucket scorer as on the fold."""
    # zero vectors on BOTH sides: every plane dot is 0 -> >= 0 -> the
    # all-ones bucket on both, so the collision (and the zero norm in
    # a non-empty cogroup) is guaranteed
    rows = [(0, [0.0] * 8), (1, [0.0] * 8), (2, [0.5] * 8), (3, [1.0] * 8)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def run():
        S.mutual_best_match(
            emb.filter(F.col("vec_id") % 2 == 0),
            emb.filter(F.col("vec_id") % 2 == 1),
            bits=2, tables=2, corpus_rows=4, center_check=False,
        ).collect()

    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        run()
    with reference_stages(), pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        run()


def test_knn_scorers_agree_on_degenerate_vectors(spark):
    """Null vectors, wrong-dim vectors and NaN elements degrade as in
    the expression form, bit for bit: the first two never collide
    (banding drops them), a NaN element collides and scores as a NaN
    value (never NULL, never dropped)."""
    emb = _emb_frame(spark, n=60, dim=8, seed=5)
    dirty = emb.unionByName(
        spark.createDataFrame(
            [
                (1000, None),                               # null vector
                (1001, [0.5, -0.25, 1.0]),                  # wrong dim
                (1002, [float("nan")] + [0.5] * 7),         # NaN element
                (1003, [1.0, float("nan")] + [-0.5] * 6),   # NaN element
            ],
            "vec_id long, embedding array<float>",
        )
    )
    queries = dirty.filter(
        (F.col("vec_id") < 10) | (F.col("vec_id") >= 1000)
    )
    kw = dict(k=4, bits=2, tables=4, corpus_rows=64, center_check=False)

    def rows():
        return [
            (r.query_id, r.neighbor_id, r.rank, _bits(r.cosine))
            for r in S.knn_join_lsh(queries, dirty, **kw).collect()
        ]

    bucket = rows()
    with reference_stages():
        assert bucket == rows()
    ids = {q for q, _, _, _ in bucket} | {n for _, n, _, _ in bucket}
    assert 1000 not in ids and 1001 not in ids
    nan_rows = [r for r in bucket if 1002 in r[:2] or 1003 in r[:2]]
    assert nan_rows and all(
        np.isnan(struct.unpack("<d", bytes.fromhex(c))[0]) for *_, c in nan_rows
    )
