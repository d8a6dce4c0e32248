"""Round-9 units: the LSH centering guard threaded through the SHARED
candidate stage (``_lsh_scored_pairs`` / ``_arrow_banded``), the
``bits="auto"`` union-count fallback contract, and the
``mutual_best_match`` argmax-aggregate rewrite's equivalence to the old
rank-window form. The id-type and dirty-input parity tests live with
the family in ``test_lsh_vectors.py``."""

import warnings as W

import pytest

from pyspark.sql import functions as F

from flink_elasticsearch_ingestion_spark.operators import similarity as S
from flink_elasticsearch_ingestion_spark.sources.tables import load_table


def _positive_frame(spark, n=64, dim=8, id_type="long"):
    """Deterministic all-positive uniform-[0,1] vectors — the sign-LSH
    bucket-collapse class the preflight exists for."""
    import random

    rng = random.Random(7)
    rows = []
    for i in range(n):
        vec = [rng.random() for _ in range(dim)]
        rows.append((str(i) if id_type == "string" else i, vec))
    return spark.createDataFrame(
        rows, f"vec_id {id_type}, embedding array<double>"
    )


# ---------------------------------------------------------------- task 4


def test_center_preflight_trips_through_mutual_best_match(spark):
    """VERDICT r8 #4: all-positive vectors must trip the warning via
    the SHARED candidate stage (it previously existed only on
    embedding_near_duplicates); a shifted call stays silent; strict
    raises."""
    left = _positive_frame(spark, 40).filter(F.col("vec_id") % 2 == 0)
    right = _positive_frame(spark, 40).filter(F.col("vec_id") % 2 == 1)
    with pytest.warns(UserWarning, match="off-center"):
        S.mutual_best_match(left, right, bits=3, tables=2).count()
    with pytest.raises(ValueError, match="off-center"):
        S.mutual_best_match(
            left, right, bits=3, tables=2, center_check="strict"
        ).count()
    with W.catch_warnings():
        W.simplefilter("error")
        S.mutual_best_match(
            left, right, bits=3, tables=2, bucket_shift=0.5
        ).count()


def test_center_preflight_trips_through_knn_join_lsh_and_margin(spark):
    left = _positive_frame(spark, 40).filter(F.col("vec_id") % 2 == 0)
    right = _positive_frame(spark, 40).filter(F.col("vec_id") % 2 == 1)
    with pytest.warns(UserWarning, match="off-center"):
        S.knn_join_lsh(left, right, k=3, bits=3, tables=2).count()
    with pytest.warns(UserWarning, match="off-center"):
        S.margin_best_match(left, right, bits=3, tables=2).count()


def test_center_preflight_silent_on_tiny_centered_panel(spark, sf_dir):
    """The median-over-dims statistic (round-9): a 5-vector centered
    query panel must NOT false-alarm — with max-over-dims the
    small-sample |mean|/std noise fired spuriously on exactly this
    catalog shape (q_knn_join_lsh's vec_id < 5 panel)."""
    emb = load_table(spark, sf_dir, "embeddings")
    with W.catch_warnings():
        W.simplefilter("error", UserWarning)
        S.knn_join_lsh(
            emb.filter(F.col("vec_id") < 5), emb, k=4, bits=4, tables=8
        ).count()


def test_bucket_shift_changes_buckets_not_scores(spark):
    """The shift applies to the SIGN PROJECTION only: pairs surviving
    both runs carry identical exact cosines."""
    left = _positive_frame(spark, 40).filter(F.col("vec_id") % 2 == 0)
    right = _positive_frame(spark, 40).filter(F.col("vec_id") % 2 == 1)
    kw = dict(bits=2, tables=4, query_id="vec_id", corpus_id="vec_id",
              vec_col="embedding", seed=42)
    with W.catch_warnings():
        W.simplefilter("ignore")
        plain = {
            (r["query_id"], r["neighbor_id"]): r["cosine"]
            for r in S._lsh_scored_pairs(left, right, **kw).collect()
        }
        shifted = {
            (r["query_id"], r["neighbor_id"]): r["cosine"]
            for r in S._lsh_scored_pairs(
                left, right, bucket_shift=0.5, **kw
            ).collect()
        }
    common = set(plain) & set(shifted)
    assert common, "shift test fixture produced disjoint candidate sets"
    for k in common:
        assert plain[k] == shifted[k]


def test_shifted_buckets_rebalance_occupancy(spark):
    """On the all-positive frame the unshifted buckets collapse (most
    mass in few buckets); bucket_shift=0.5 spreads them — the measured
    40x class, asserted as distinct-bucket count."""
    df = _positive_frame(spark, 200)
    with W.catch_warnings():
        W.simplefilter("ignore")
        plain = S._arrow_banded(
            df, "vec_id", "vid", dim=8, bits=4, tables=1, seed=42,
            vec_col="embedding",
        )
        shifted = S._arrow_banded(
            df, "vec_id", "vid", dim=8, bits=4, tables=1, seed=42,
            vec_col="embedding", bucket_shift=0.5,
        )
        n_plain = plain.select("bucket").distinct().count()
        n_shift = shifted.select("bucket").distinct().count()
    assert n_shift > n_plain


# ------------------------------------------------------- ADVICE low items


def test_auto_bits_fallback_uses_union_count(spark, sf_dir):
    """ADVICE r8: splitting one table in two halves and omitting
    corpus_rows must resolve bits="auto" from the FULL union count
    (what an oracle's inlined planes assume), not one half-table."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    left = emb.filter(F.col("vec_id") % 2 == 0)
    right = emb.filter(F.col("vec_id") % 2 == 1)
    with_hint = sorted(
        map(tuple,
            S.mutual_best_match(left, right, bits="auto", tables=4,
                                corpus_rows=n).collect())
    )
    without = sorted(
        map(tuple,
            S.mutual_best_match(left, right, bits="auto", tables=4).collect())
    )
    assert with_hint == without


# ------------------------------------------ task 5: argmax-agg rewrite


def test_mutual_best_match_matches_rank_window_form(spark, sf_dir):
    """The argmax-aggregate rewrite must reproduce the old
    rl==1 & rr==1 rank-window semantics exactly, ties included
    (cosine DESC at 6dp, partner id ASC)."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    left = emb.filter(F.col("vec_id") % 2 == 0)
    right = emb.filter(F.col("vec_id") % 2 == 1)
    got = sorted(
        map(tuple,
            S.mutual_best_match(left, right, bits=4, tables=8).collect())
    )
    scored = S._lsh_scored_pairs(
        left, right, bits=4, tables=8, seed=42,
        query_id="vec_id", corpus_id="vec_id", vec_col="embedding",
    )
    wl = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    wr = Window.partitionBy("neighbor_id").orderBy(
        F.col("cosine").desc(), F.col("query_id")
    )
    want = sorted(
        map(tuple,
            scored.withColumn("rl", F.row_number().over(wl))
            .withColumn("rr", F.row_number().over(wr))
            .filter((F.col("rl") == 1) & (F.col("rr") == 1))
            .select(
                F.col("query_id").alias("vec_a"),
                F.col("neighbor_id").alias("vec_b"),
                "cosine",
            )
            .collect())
    )
    assert got == want and got


def test_mutual_best_match_plan_has_no_sort_window(spark, sf_dir):
    """The rewrite's point: the mutual reduction is partial+final hash
    aggregates, not two full-candidate-frame sort windows."""
    from flink_elasticsearch_ingestion_spark.plans import physical_plan

    emb = load_table(spark, sf_dir, "embeddings")
    df = S.mutual_best_match(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
        bits=4,
        tables=8,
    )
    plan = physical_plan(df)
    assert "Window" not in plan
    assert "partial_min" in plan or "HashAggregate" in plan


def test_margin_best_match_windows_get_group_limit_pushdown(spark, sf_dir):
    """margin_best_match keeps its rank windows DELIBERATELY (the
    argmax-aggregate form measured 2.7x slower at sf10 — ObjectHash
    aggregate on a struct buffer vs WindowGroupLimit partial top-k);
    this pins the load-bearing property: every rank window in the plan
    carries the WindowGroupLimit pushdown, so per-partition partial
    top-k runs before the shuffle."""
    from flink_elasticsearch_ingestion_spark.plans import physical_plan

    emb = load_table(spark, sf_dir, "embeddings")
    df = S.margin_best_match(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
        bits=4,
        tables=8,
    )
    plan = physical_plan(df)
    window_nodes = [ln for ln in plan.splitlines() if "+- Window [" in ln]
    assert len(window_nodes) == 3, window_nodes  # rl, rr, rm
    assert "WindowGroupLimit" in plan
