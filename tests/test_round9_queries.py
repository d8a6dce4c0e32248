"""Round-9 catalog-operator semantics pins — analytic extremes and
planted fixtures for the new operators (their value parity vs DuckDB is
the oracle gate's job; these pin the MEANING on inputs where the right
answer is computable by hand)."""

import pytest

from pyspark.sql import functions as F


def test_token_gini_extremes(spark):
    from flink_elasticsearch_ingestion_spark.operators.text import token_gini

    # perfectly uniform token distribution -> gini 0
    uni = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(8)],
        "doc_id long, text string",
    )
    row = token_gini(uni).first()
    assert row["distinct_tokens"] == 4
    assert row["total_tokens"] == 32
    assert row["gini"] == 0.0
    # extreme concentration: one type dominating -> gini near (V-1)/V * share
    skew = spark.createDataFrame(
        [(0, " ".join(["the"] * 96 + ["a", "b", "c", "d"]))],
        "doc_id long, text string",
    )
    g = token_gini(skew).first()["gini"]
    assert g > 0.7


def test_dedup_saturation_monotone_unique_share(spark):
    from flink_elasticsearch_ingestion_spark.operators.dedup import (
        dedup_saturation,
    )

    # batch 0: 3 unique; batch 1: all copies of batch 0 -> new_rate 0
    rows = [(i, f"unique text number {i}") for i in range(3)]
    rows += [(100 + i, f"unique text number {i}") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["batch"]: r for r in dedup_saturation(df, batch_size=100).collect()}
    assert out[0]["n_new"] == 3 and out[0]["new_rate"] == 1.0
    assert out[1]["n_new"] == 0 and out[1]["new_rate"] == 0.0
    assert out[1]["cum_unique_share"] == 0.5


def test_ngram_novelty_first_owner_attribution(spark):
    from flink_elasticsearch_ingestion_spark.operators.dedup import ngram_novelty

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),  # owns all its trigrams
            (2, "alpha beta gamma delta"),  # exact copy -> novelty 0
            (3, "epsilon zeta eta theta"),  # fresh -> novelty 1
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in ngram_novelty(df, n=3).collect()}
    assert out[1]["novelty"] == 1.0
    assert out[2]["novelty"] == 0.0
    assert out[3]["novelty"] == 1.0


def test_shard_skew_report_shares_sum_to_one(spark, sf_dir):
    from flink_elasticsearch_ingestion_spark.operators.skew import (
        shard_skew_report,
    )
    from flink_elasticsearch_ingestion_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    out = shard_skew_report(li, "l_orderkey", n_shards=16).collect()
    assert sum(r["n_rows"] for r in out) == li.count()
    assert abs(sum(r["share"] for r in out) - 1.0) < 1e-4
    # a uniformly hashed key should not produce extreme skew
    assert max(r["skew"] for r in out) < 2.0


def test_langid_confusion_structure(spark):
    """Planted fixture: German stopword text labeled 'de' must land on
    the diagonal; English stopword text labeled 'de' must land in the
    ('de', 'en') confusion cell — the failure mode the matrix exists to
    surface. Shares sum to 1 within each labeled language."""
    from flink_elasticsearch_ingestion_spark.operators.text import (
        langid_confusion,
    )

    rows = [
        (1, "der hund und die katze das ist gut", "de"),
        (2, "die sonne und der mond das ist hell", "de"),
        (3, "the cat and the dog of the town", "de"),  # mislabeled
        (4, "the quick fox of a lazy dog and to run", "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = langid_confusion(df).collect()
    cells = {(r["lang"], r["lang_guess"]): r for r in out}
    assert cells[("de", "de")]["n_docs"] == 2
    assert cells[("de", "en")]["n_docs"] == 1
    assert not cells[("de", "en")]["correct"]
    assert cells[("en", "en")]["correct"]
    per_lang = {}
    for r in out:
        per_lang[r["lang"]] = per_lang.get(r["lang"], 0.0) + r["share"]
    for lang, tot in per_lang.items():
        assert abs(tot - 1.0) < 1e-5, (lang, tot)


def test_source_kl_drift_zero_for_identical_distribution(spark):
    from flink_elasticsearch_ingestion_spark.operators.text import (
        source_kl_drift,
    )

    # two sources with IDENTICAL token distributions -> KL == 0 both
    rows = []
    for s in ("a", "b"):
        for i in range(10):
            rows.append((s, i, "red green blue"))
    df = spark.createDataFrame(rows, "source string, doc_id long, text string")
    out = source_kl_drift(df, vocab_k=10).collect()
    assert len(out) == 2
    for r in out:
        assert abs(r["kl_divergence"]) < 1e-6


def test_minhash_band_stats_budget_matches_pair_join(spark, sf_dir):
    """The histogram's candidate_pairs column must equal the number of
    distinct band-collision candidates the REAL pair join would
    generate per band (sum over buckets of C(occ, 2))."""
    from flink_elasticsearch_ingestion_spark.operators.dedup import (
        _banded,
        minhash_band_stats,
        minhash_signature_table,
    )
    from flink_elasticsearch_ingestion_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(120)
    stats = minhash_band_stats(docs)
    budget = {
        r["band_idx"]: r["total"]
        for r in stats.groupBy("band_idx")
        .agg(F.sum("candidate_pairs").alias("total"))
        .collect()
    }
    sigs = minhash_signature_table(docs).select("doc_id", "sig")
    banded = _banded(sigs, num_hashes=16, bands=8)
    a, b = banded.alias("a"), banded.alias("b")
    real = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.band_idx").alias("band_idx"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    for r in real:
        assert budget[r["band_idx"]] == r["n"]


def test_doc_length_calibration_bands_partition_corpus(spark, sf_dir):
    from flink_elasticsearch_ingestion_spark.operators.quality import (
        doc_length_calibration,
    )
    from flink_elasticsearch_ingestion_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = doc_length_calibration(docs).collect()
    assert sum(r["n_docs"] for r in out) == docs.count()
    # bands are ordered, non-overlapping in length
    for lo, hi in zip(out, out[1:]):
        assert lo["length_band"] < hi["length_band"]
        assert lo["max_chars"] <= hi["min_chars"]
    for r in out:
        assert 0.0 <= r["keep_rate"] <= 1.0


def test_recall_vs_bucket_cap_bounds(spark, sf_dir):
    import __spark_entry__ as E

    row = E.queries()["recall_vs_bucket_cap"](spark, sf_dir).first()
    assert row["pairs_capped"] <= row["pairs_uncapped"]
    assert 0.0 < row["recall"] <= 1.0


def test_token_coverage_curve_monotone(spark):
    from flink_elasticsearch_ingestion_spark.operators.text import (
        token_coverage_curve,
    )

    rows = [(i, " ".join(f"w{j}" for j in range(30)) + " the the the") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = token_coverage_curve(df, vocab_sizes=(5, 10, 20)).collect()
    assert [r["vocab_size"] for r in out] == [5, 10, 20]
    covs = [r["coverage"] for r in out]
    assert covs == sorted(covs)
    mins = [r["min_in_vocab_count"] for r in out]
    assert mins == sorted(mins, reverse=True)
    assert all(0 < r["coverage"] <= 1.0 for r in out)
