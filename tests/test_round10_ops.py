"""Round-10 operator tests: the vectorized MinHash signature kernel
against its SQL-expression reference, the bounded recall-account arm,
and the round's hardening items.
"""

import pytest

from pyspark.sql import functions as F

from flink_elasticsearch_ingestion_spark.operators import dedup as D
from flink_elasticsearch_ingestion_spark.sources.tables import load_table
from minhash_reference import reference_signature_table


# -- MinHash signature kernel vs the expression reference ---------------------

EDGE_ROWS = [
    ("d01", None),                      # null text -> [null] shingles
    ("d02", ""),                        # empty -> one "" token
    ("d03", "   "),                     # space-only: trim eats it
    ("d04", "\tHello\xa0World  foo"),   # \xa0 is NOT Java \s; \t is
    ("d05", "a b"),                     # fewer tokens than word_k
    ("d06", "one two three four five"),
    ("d07", "ünïcode İstanbul ß TEXT"),  # lower() edge
    ("d08", "x"),
    ("d09", "a  b\nc\rd"),              # mixed ASCII whitespace
    ("d10", "same same same same same"),  # distinct collapses shingles
]


def _edge_df(spark):
    return spark.createDataFrame(EDGE_ROWS, "doc_id string, text string")


@pytest.mark.parametrize("mode", [dict(word_k=3), dict(word_k=None, shingle_k=5)])
def test_arrow_signature_parity_fixture(spark, sf_dir, mode):
    """The Arrow/numpy signature kernel is BIT-IDENTICAL to the
    expression reference on real fixture documents — doc_id, shingle
    set (values and order), and all 16 signature slots. The expression
    form is the oracle-transparent reference; the kernel is the
    measured scale build (the 16-perm map stage was the linear
    124 s/sf10 constant under minhash_band_stats, SCALE.md r9)."""
    docs = load_table(spark, sf_dir, "documents")
    e = reference_signature_table(docs, **mode)
    a = D.minhash_signature_table(docs, **mode)
    assert e.exceptAll(a).count() == 0
    assert a.exceptAll(e).count() == 0
    assert a.count() == docs.count()


@pytest.mark.parametrize("mode", [dict(word_k=3), dict(word_k=None, shingle_k=5)])
def test_arrow_signature_parity_edge_cases(spark, mode):
    """Dirty-input parity, element-for-element: null text ([null]
    shingles + all-null sig, exactly like the HOF fold over a null
    input), empty/whitespace-only strings, ASCII-vs-unicode whitespace
    (Java \\s is ASCII-only — \\xa0 must survive as a token char),
    sub-k-token docs (the short-slice fold), and unicode lowercasing."""
    edge = _edge_df(spark)
    e = reference_signature_table(edge, **mode).orderBy("doc_id")
    a = D.minhash_signature_table(edge, **mode).orderBy("doc_id")
    assert e.collect() == a.collect()


def test_arrow_near_duplicates_same_pairs(spark, sf_dir):
    """End-to-end: the banded near-dup pair set (band keys, candidate
    join, exact-Jaccard verify) is identical when the signature stage
    runs on the expression reference."""
    docs = load_table(spark, sf_dir, "documents")
    e = D.near_duplicates_from_signatures(
        reference_signature_table(docs), jaccard_threshold=0.4, band_cap=None
    )
    a = D.minhash_near_duplicates(docs, jaccard_threshold=0.4, band_cap=None)
    assert sorted(map(tuple, e.collect())) == sorted(map(tuple, a.collect()))


# -- Bounded reference arm of the bucket_cap recall account (VERDICT r9 #3) --

def test_recall_account_reference_arm_bounded(spark):
    """A pathological corpus (600 identical vectors -> ONE bucket per
    table) must not make the recall MEASUREMENT quadratic: the
    reference arm keeps reference_cap members per bucket, so verified
    reference pairs are bounded at cap*(cap-1)/2 — the dedup band_cap
    contract applied to the diagnostic itself — and the truncation
    counter reports that the reference arm was bounded."""
    from flink_elasticsearch_ingestion_spark.operators.similarity import (
        bucket_cap_recall_account,
    )

    n, ref_cap, prod_cap = 600, 32, 8
    vec = [float(i + 1) for i in range(8)]
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"), F.array(*[F.lit(v) for v in vec]).alias("embedding")
    )
    row = bucket_cap_recall_account(
        emb, threshold=0.4, bits=4, tables=8,
        bucket_cap=prod_cap, reference_cap=ref_cap,
    ).collect()[0]
    # identical vectors -> every reference pair verifies at cosine 1.0;
    # all land in one bucket per table, so the reference arm emits the
    # SAME ref_cap members in each table (row_number orders by id)
    assert 0 < row["pairs_uncapped"] <= ref_cap * (ref_cap - 1) // 2
    assert row["pairs_capped"] == prod_cap * (prod_cap - 1) // 2
    assert row["n_buckets_truncated"] > 0
    assert 0.0 < row["recall"] <= 1.0


def test_recall_account_releases_cache(spark):
    """The diagnostic materializes eagerly and unpersists its banded
    frame before returning (ADVICE r9: the persist leaked for the
    session lifetime on every invocation)."""
    from flink_elasticsearch_ingestion_spark.operators.similarity import (
        bucket_cap_recall_account,
    )

    # ids, not a count: the ContextCleaner may release blocks other
    # tests left while this one runs, shrinking the count meanwhile
    persisted = lambda: set(spark.sparkContext._jsc.getPersistentRDDs().keySet())  # noqa: E731
    before = persisted()
    emb = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") * (i + 1)).cast("double") for i in range(4)]).alias(
            "embedding"
        ),
    )
    bucket_cap_recall_account(emb, bits=2, tables=2, bucket_cap=4).collect()
    assert persisted() - before == set()


# -- LSH dim-inference guard (ADVICE r9) --------------------------------------

def test_lsh_scored_pairs_rejects_all_null_query_head(spark):
    """An all-null (or empty) query vector head must fail loudly
    instead of inferring dim=0 and silently dropping every corpus row
    (the old behavior returned an empty result that read as 'no
    matches')."""
    from flink_elasticsearch_ingestion_spark.operators.similarity import (
        _lsh_scored_pairs,
    )

    corpus = spark.range(10).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(2.0)).alias("embedding"),
    )
    null_q = spark.range(5).select(
        F.col("id").alias("vec_id"),
        F.lit(None).cast("array<double>").alias("embedding"),
    )
    kw = dict(bits=2, tables=2, seed=42, query_id="vec_id",
              corpus_id="vec_id", vec_col="embedding")
    with pytest.raises(ValueError, match="no non-null"):
        _lsh_scored_pairs(null_q, corpus, **kw)
    empty_q = null_q.filter(F.lit(False))
    with pytest.raises(ValueError, match="no non-null"):
        _lsh_scored_pairs(empty_q, corpus, **kw)


# -- Discrete-quantile convention equivalence (ADVICE r9) ---------------------

@pytest.mark.parametrize("n", [7, 10, 20, 33, 100, 101])
def test_percentile_approx_matches_duckdb_quantile_disc(spark, n):
    """doc_length_calibration derives its band breakpoints from
    percentile_approx at accuracy=INT_MAX and its oracle uses DuckDB
    quantile_disc; the two engines' discrete-quantile rank conventions
    must select the SAME element at every decile — including row
    counts divisible by n_bands, where an off-by-one at the exact
    p*N boundary would silently shift a band edge."""
    import duckdb

    vals = [(i * 37) % 1009 for i in range(n)]  # distinct-ish, unsorted
    qs = [i / 10 for i in range(1, 10)]
    sdf = spark.createDataFrame([(v,) for v in vals], "n_chars int")
    got = sdf.agg(
        F.percentile_approx("n_chars", qs, 2147483647).alias("lb")
    ).collect()[0]["lb"]
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES "
                + ",".join(f"({v})" for v in vals) + ") AS t(n_chars)")
    want = [
        con.execute(
            f"SELECT quantile_disc(n_chars, {q}) FROM t"
        ).fetchone()[0]
        for q in qs
    ]
    assert got == want, f"n={n}: spark={got} duck={want}"


# -- bpe_train_fixed: sentinel-replace state == struct-fold semantics --------

def test_bpe_train_fixed_matches_fold_trainer(spark, sf_dir):
    """The sentinel-string replace encoding implements the SAME greedy
    left-to-right non-overlapping merge pass as bpe_merge_fold: the
    2-merge fixed trainer and the fold-based bpe_train learn the
    identical merge table on the fixture corpus."""
    from flink_elasticsearch_ingestion_spark.operators.text import (
        bpe_train,
        bpe_train_fixed,
    )

    docs = load_table(spark, sf_dir, "documents")
    fold = [tuple(r) for r in bpe_train(docs, n_merges=2).collect()]
    fixed = [tuple(r) for r in bpe_train_fixed(docs, n_merges=2).collect()]
    assert fold == fixed and len(fixed) == 2


def test_bpe_fixed_replace_handles_overlap_and_boundaries(spark):
    """The two classic replace-encoding hazards: overlapping merge
    runs ('aaaa' + merge (a,a) must give [aa, aa], not [aa, a, a] or a
    re-merged [aaaa]) and cross-symbol false matches (symbol 'bc' must
    never donate its 'b' to an (a, b) merge)."""
    from flink_elasticsearch_ingestion_spark.operators.text import (
        bpe_train,
        bpe_train_fixed,
    )

    rows = [(1, "aaaa aaaa ab"), (2, "abc abc abc bc bc")]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    fold = [tuple(r) for r in bpe_train(docs, n_merges=3).collect()]
    fixed = [tuple(r) for r in bpe_train_fixed(docs, n_merges=3).collect()]
    assert fold == fixed


# -- Round-10 query operators -------------------------------------------------

def test_minhash_estimate_error_zero_on_identical_docs(spark):
    """Identical documents: every candidate pair has estimate 1.0 and
    exact Jaccard 1.0 — the estimator error account must read exactly
    zero (n_pairs > 0 proves the banding produced candidates)."""
    docs = spark.range(6).select(
        F.col("id").alias("doc_id"),
        F.lit("alpha beta gamma delta epsilon zeta").alias("text"),
    )
    row = D.minhash_estimate_error(docs, band_cap=None).collect()[0]
    assert row["n_pairs"] == 15  # C(6,2)
    assert row["mean_abs_err"] == 0.0
    assert row["max_abs_err"] == 0.0
    assert row["bias"] == 0.0


def test_context_window_fit_exact_accounting(spark):
    """Hand-checkable grid: docs of 2/4/8 tokens against sizes 2 and
    4 — fit counts, token mass, and clipped mass are exact integers."""
    from flink_elasticsearch_ingestion_spark.operators.text import (
        context_window_fit,
    )

    rows = [(1, "a b"), (2, "a b c d"), (3, "a b c d e f g h")]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r["context_size"]: r
        for r in context_window_fit(docs, sizes=(2, 4)).collect()
    }
    # total tokens = 14
    assert out[2]["n_docs_fit"] == 1
    assert out[2]["token_fit_share"] == round(2 / 14 + 1e-9, 6)
    assert out[2]["clipped_token_share"] == round(6 / 14 + 1e-9, 6)
    assert out[4]["n_docs_fit"] == 2
    assert out[4]["clipped_token_share"] == round(10 / 14 + 1e-9, 6)


def test_token_burstiness_separates_poisson_from_bursty(spark):
    """A token spread evenly (count 1 in every doc -> VMR 0) vs a
    bursty token (counts 1 and 9 -> VMR 3.2): the dispersion stat
    must rank the bursty one higher from exact integer moments."""
    from flink_elasticsearch_ingestion_spark.operators.text import (
        token_burstiness,
    )

    rows = [
        (1, "flat burst " + "burst " * 8),  # flat:1 burst:9
        (2, "flat burst"),
        (3, "flat"),
        (4, "flat"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["token"]: r for r in token_burstiness(docs, k=5).collect()}
    assert out["flat"]["vmr"] == 0.0  # count 1 in each of 4 docs
    # burst: counts [9, 1] -> mean 5, var ((81+1)/2 - 25) = 16, vmr 3.2
    assert out["burst"]["df"] == 2
    assert out["burst"]["vmr"] == round(16 / 5 + 1e-9, 6)


def test_pq_distortion_zero_at_centroids(spark):
    """Vectors sitting exactly on codebook centroids quantize with
    zero distortion; a midpoint vector reports the exact squared-L2
    residual."""
    from flink_elasticsearch_ingestion_spark.operators.similarity import (
        pq_distortion,
    )

    cb = [[[0.0, 0.0], [2.0, 2.0]]]  # 1 subspace, dim 2
    emb = spark.createDataFrame(
        [(1, [2.0, 2.0]), (2, [0.0, 0.0]), (3, [1.0, 1.0])],
        "vec_id int, embedding array<double>",
    )
    row = pq_distortion(emb, cb).collect()[0]
    assert row["sub"] == 0 and row["n_vectors"] == 3
    # midpoint residual: (1-0)^2*2 = 2 (ties resolve to either centroid,
    # same distance); mean = round(round(0+0+2, 2)/3 + 1e-9, 4)
    assert row["max_distortion"] == 2.0
    assert row["mean_distortion"] == round(2.0 / 3 + 1e-9, 4)


def test_kcore_peel_drops_stars_keeps_cores(spark):
    """k=2 peel on a star (hub + 3 leaves) plus a triangle: the star
    evaporates (leaves have degree 1; removing them strands the hub),
    the triangle survives with residual degree 2 everywhere."""
    from flink_elasticsearch_ingestion_spark.operators.graph import kcore_peel

    edges = [(100, 1), (100, 2), (100, 3),  # star
             (10, 11), (11, 12), (10, 12)]  # triangle
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    out = {r["node"]: r["degree"] for r in kcore_peel(df, k=2, rounds=2).collect()}
    assert out == {10: 2, 11: 2, 12: 2}


def test_planted_dup_recall_perfect_on_identical_twins(spark):
    """keep_share 5/5 plants BYTE-IDENTICAL twins — the pipeline must
    recover every planted pair (jaccard 1.0 >= any threshold)."""
    docs = spark.createDataFrame(
        [(i, f"unique{i} words here for doc number{i} padding tokens")
         for i in range(8)],
        "doc_id long, text string",
    )
    row = D.planted_dup_recall(
        docs, keep_share_num=5, keep_share_den=5
    ).collect()[0]
    assert row["n_planted"] == 8
    assert row["n_found"] == 8
    assert row["recall"] == 1.0
    assert row["mean_found_jaccard"] == 1.0


def test_arrow_signature_parity_randomized_batch(spark):
    """Seeded-random parity sweep: 60 adversarial texts (mixed
    unicode, repeated tokens, ASCII/unicode whitespace, long runs,
    empty-ish strings) through BOTH signature builds in one job —
    the broad-input pin behind the oracle-scale parity tests."""
    import random

    rng = random.Random(0xC0FFEE)
    alphabet = ["tok", "x", "λ", "Ωmega", "été", "12", "a" * 30,
                "İi", "ß", "中文", "word"]
    ws = [" ", "  ", "\t", "\n", "\r", " \x0b "]
    rows = []
    for i in range(60):
        n = rng.randrange(0, 25)
        parts = []
        for _ in range(n):
            parts.append(rng.choice(alphabet))
            parts.append(rng.choice(ws))
        rows.append((str(i), "".join(parts)))
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    for mode in (dict(word_k=3), dict(word_k=None, shingle_k=4)):
        e = reference_signature_table(docs, **mode).orderBy("doc_id")
        a = D.minhash_signature_table(docs, **mode).orderBy("doc_id")
        assert e.collect() == a.collect(), mode
