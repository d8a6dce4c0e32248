"""Round-8 operator units: Fleiss' kappa gate panel, snake-balanced
shards, compaction planning, revenue ACF, and reciprocal best match.

Each test pins the hand-computable contract the DuckDB oracle cannot
see (degenerate groups, conservation invariants, periodicity
endpoints, mutuality) on crafted micro-frames or sf0.001.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F


def test_fleiss_kappa_matches_hand_computation(spark):
    """Three-gate panel on crafted vote patterns equals the textbook
    Fleiss formula from integer sums; the all-unanimous group is null
    (pe == 1), not an error."""
    from flink_elasticsearch_ingestion_spark.operators.quality import (
        gate_fleiss_kappa,
    )

    k3 = "x" * 300 + " y" * 99  # 498 chars, 100 toks, 99 spaces
    k0 = "short"  # 0 votes
    k1 = "z" * 400  # chars only: 400 chars, 1 tok, 0 spaces
    k2 = "abcdef " * 55  # 385 chars, 55 toks, 55 spaces -> chars+spaces
    docs = spark.createDataFrame(
        [("s", k3)] * 2 + [("s", k0)] + [("s", k1)] + [("s", k2)]
        + [("t", k3)] * 3,
        "source string, text string",
    )
    out = {r["source"]: r for r in gate_fleiss_kappa(docs).collect()}
    s = out["s"]
    # votes: 3,3,0,1,2 -> keep_votes 9; pairs: 6+6+6+2+2 = 22
    assert (s["n"], s["m_raters"], s["keep_votes"], s["agree_pairs"]) == (
        5, 3, 9, 22,
    )
    p_bar = 22 / 30
    p = 9 / 15
    p_e = p * p + (1 - p) * (1 - p)
    assert abs(s["p_bar"] - round(p_bar + 1e-9, 6)) < 1e-9
    assert abs(s["kappa"] - round((p_bar - p_e) / (1 - p_e) + 1e-9, 6)) < 1e-9
    assert out["t"]["kappa"] is None  # unanimous: chance-only, undefined


def test_balanced_shards_conserves_and_balances(spark, sf_dir):
    """Every doc lands in exactly one shard; per-shard token totals are
    within one max-document of each other (the snake/LPT guarantee on
    sorted sizes); the two-phase rank reproduces the single-window
    reference on a small frame."""
    from flink_elasticsearch_ingestion_spark.operators.packing import (
        balanced_shards,
    )
    from flink_elasticsearch_ingestion_spark.operators.text import token_count
    from flink_elasticsearch_ingestion_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "n_tokens", token_count("text").cast("long")
    )
    out = balanced_shards(docs, n_shards=8).collect()
    assert [r["shard"] for r in out] == list(range(8))
    n_docs, n_tokens = docs.count(), docs.agg(F.sum("n_tokens")).first()[0]
    assert sum(r["n_docs"] for r in out) == n_docs
    assert sum(r["total_tokens"] for r in out) == n_tokens
    totals = [r["total_tokens"] for r in out]
    max_doc = docs.agg(F.max("n_tokens")).first()[0]
    assert max(totals) - min(totals) <= max_doc
    # reference: plain global window + snake fold, same aggregates
    rows = sorted(
        docs.select("doc_id", "n_tokens").collect(),
        key=lambda r: (-r["n_tokens"], r["doc_id"]),
    )
    ref = {s: 0 for s in range(8)}
    for i, r in enumerate(rows):
        pos = i % 16
        ref[pos if pos < 8 else 15 - pos] += r["n_tokens"]
    assert totals == [ref[s] for s in range(8)]


def test_compaction_plan_bins_and_conserves(spark):
    """Known file sizes bin at the exclusive-cumsum boundaries; bytes
    and docs are conserved; group ids are consecutive from 0 per type."""
    from flink_elasticsearch_ingestion_spark.operators.copy import (
        compaction_plan,
    )

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # one event per (type, day); props of 36 chars -> 100 bytes/file
        (i, base + dt.timedelta(days=d), 1, t, 1.0, "p" * 36)
        for i, (t, d) in enumerate(
            (t, d) for t in ("a", "b") for d in range(5)
        )
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    out = compaction_plan(events, target_bytes=250).collect()
    by_type = {}
    for r in out:
        by_type.setdefault(r["event_type"], []).append(r)
    for t, groups in by_type.items():
        # cum_before 0,100,200,300,400 at target 250 -> groups 0,0,0,1,1
        assert [g["compaction_group"] for g in groups] == [0, 1]
        assert [g["n_files"] for g in groups] == [3, 2]
        assert [g["total_bytes"] for g in groups] == [300, 200]
        assert groups[0]["last_day"] < groups[1]["first_day"]
    assert sum(r["n_docs"] for r in out) == events.count()


def test_autocorrelation_finds_the_weekly_period(spark):
    """A perfectly 7-periodic daily series pins acf(7) == acf(14) == 1
    with exact pair counts; off-period lags score strictly lower."""
    from flink_elasticsearch_ingestion_spark.operators.windows import (
        revenue_autocorrelation,
    )

    pattern = [100.0, 220.0, 340.0, 160.0, 280.0, 400.0, 520.0]
    days = 70
    orders = spark.createDataFrame(
        [
            (i, dt.date(2024, 1, 1) + dt.timedelta(days=i), pattern[i % 7])
            for i in range(days)
        ],
        "o_orderkey long, o_orderdate date, o_totalprice double",
    )
    out = {r["lag"]: r for r in revenue_autocorrelation(orders).collect()}
    assert set(out) == set(range(1, 15))
    for lag in (7, 14):
        assert out[lag]["acf"] == 1.0
        assert out[lag]["n_pairs"] == days - lag
    assert all(out[lag]["acf"] < 1.0 for lag in range(1, 15) if lag % 7)


def test_mutual_best_match_keeps_only_reciprocal_pairs(spark):
    """Crafted 2-d corpus: two true pairs survive; the near-duplicate
    distractor whose best partner is already taken is excluded — the
    hub-suppression property that one-directional top-1 lacks."""
    from flink_elasticsearch_ingestion_spark.operators.similarity import (
        mutual_best_match,
    )

    left = spark.createDataFrame(
        [(0, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    right = spark.createDataFrame(
        # r10 ~ l0, r11 ~ l2, r12 = distractor nearest to l0 but beaten
        # by r10 in l0's ranking
        [(10, [0.99, 0.01]), (11, [0.1, 0.9]), (12, [0.95, 0.05])],
        "vec_id long, embedding array<float>",
    )
    out = mutual_best_match(left, right, bits=1, tables=8)
    got = {(r["vec_a"], r["vec_b"]) for r in out.collect()}
    assert got == {(0, 10), (2, 11)}


def test_mutual_best_match_is_consistent_with_its_candidates(spark, sf_dir):
    """On real embeddings: every returned pair is each side's rank-1
    candidate under the same LSH family — recomputed independently from
    the shared scored-candidate stage."""
    from flink_elasticsearch_ingestion_spark.operators.similarity import (
        _lsh_scored_pairs,
        mutual_best_match,
    )
    from flink_elasticsearch_ingestion_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    left = emb.filter(F.col("vec_id") % 2 == 0)
    right = emb.filter(F.col("vec_id") % 2 == 1)
    got = mutual_best_match(left, right, bits=4, tables=8).collect()
    assert got, "sf0.001 embeddings should produce at least one match"
    scored = _lsh_scored_pairs(
        left, right, bits=4, tables=8, seed=42,
        query_id="vec_id", corpus_id="vec_id", vec_col="embedding",
    ).collect()
    best_l, best_r = {}, {}
    for r in scored:
        key = (-r["cosine"], r["neighbor_id"])
        if r["query_id"] not in best_l or key < best_l[r["query_id"]][0]:
            best_l[r["query_id"]] = (key, r["neighbor_id"])
        key2 = (-r["cosine"], r["query_id"])
        if r["neighbor_id"] not in best_r or key2 < best_r[r["neighbor_id"]][0]:
            best_r[r["neighbor_id"]] = (key2, r["query_id"])
    want = {
        (q, b) for q, (_, b) in best_l.items() if best_r[b][1] == q
    }
    assert {(r["vec_a"], r["vec_b"]) for r in got} == want


def test_sorted_neighborhood_pairs_blocking_contract(spark):
    """Shared-prefix near-dups pair regardless of token frequency; a
    similar doc sorted far away is (by contract) missed — the
    documented SNM trade the window bound buys; two-phase rank agrees
    with the plain sorted reference."""
    from flink_elasticsearch_ingestion_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    tmpl = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, tmpl + " one"),
            (2, tmpl + " two"),
            (3, tmpl + " three"),
            # same tokens, reversed head -> sorts far from the template
            # trio once padding docs spread the order
            (40, "zeta eta theta alpha beta gamma delta epsilon"),
        ]
        + [(10 + i, f"filler {c} text unrelated body {c}") for i, c in
           enumerate("mnopqr")],
        "doc_id long, text string",
    )
    out = sorted_neighborhood_pairs(docs, window=2, threshold=0.5).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in out}
    # trio is adjacent in sort order: window=2 catches all three pairs
    assert {(1, 2), (1, 3), (2, 3)} <= got
    # doc 40 shares 8/9 tokens with doc 1 but sorts under 'z' — SNM
    # misses it by design (that pair is LSH/inverted-index territory)
    assert not any(40 in p for p in got)
    for r in out:
        assert r["jaccard"] >= 0.5


def test_theil_sen_trend_is_robust_to_one_outlier(spark):
    """A perfectly linear series with one wild outlier day still
    reports the true slope (the median estimator's whole point); the
    banded pair count matches the hand formula."""
    from flink_elasticsearch_ingestion_spark.operators.windows import (
        theil_sen_trend,
    )

    days, slope0, span = 60, 7.0, 30
    rows = []
    for i in range(days):
        rev = 1000.0 + slope0 * i + (50000.0 if i == 30 else 0.0)
        rows.append((i, dt.date(2024, 1, 1) + dt.timedelta(days=i), rev))
    orders = spark.createDataFrame(
        rows, "o_orderkey long, o_orderdate date, o_totalprice double"
    )
    out = theil_sen_trend(orders, max_span=span).collect()[0]
    # pairs: for each i, partners j in (i, i+span]; total = sum over
    # gaps g=1..span of (days - g)
    want_pairs = sum(days - g for g in range(1, span + 1))
    assert out["n_pairs"] == want_pairs
    assert abs(out["slope_per_day"] - slope0) < 1e-6


def test_margin_best_match_normalizes_hub_density(spark):
    """A hub that scores high against EVERYTHING has a dense
    neighborhood, so its margin deflates below a pair whose cosine
    stands clear of its own neighborhood — the density correction raw
    cosine lacks; margins verify against a hand computation."""
    from flink_elasticsearch_ingestion_spark.operators.similarity import (
        _lsh_scored_pairs,
        margin_best_match,
    )

    left = spark.createDataFrame(
        [(0, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    right = spark.createDataFrame(
        [(10, [0.99, 0.01]), (11, [0.1, 0.9]), (12, [0.95, 0.05])],
        "vec_id long, embedding array<float>",
    )
    out = margin_best_match(
        left, right, k_neighborhood=2, margin_threshold=0.0,
        bits=1, tables=8,
    ).collect()
    got = {r["vec_a"]: r for r in out}
    # forward strategy: one best-by-margin partner per left vector
    assert set(got) == {0, 2}
    # hand-verify each margin from the scored-candidate frame
    scored = _lsh_scored_pairs(
        left, right, bits=1, tables=8, seed=42,
        query_id="vec_id", corpus_id="vec_id", vec_col="embedding",
    ).collect()
    by_l, by_r = {}, {}
    for r in scored:
        by_l.setdefault(r["query_id"], []).append(r["cosine"])
        by_r.setdefault(r["neighbor_id"], []).append(r["cosine"])
    for r in out:
        al = sorted(by_l[r["vec_a"]], reverse=True)[:2]
        ar = sorted(by_r[r["vec_b"]], reverse=True)[:2]
        want = round(
            r["cosine"] / ((sum(al) / len(al) + sum(ar) / len(ar)) / 2)
            + 1e-9, 4,
        )
        assert abs(r["margin"] - want) < 1e-9
    # l0's true partner r10 outranks the distractor r12 by margin too
    assert got[0]["vec_b"] == 10


def test_token_fertility_hand_counts(spark):
    """Fertility on crafted text equals the hand-tokenized ratio: the
    BPE-ish regex splits punctuation and digit runs off words, so
    'e-mail 42x' charges more subwords than whitespace words."""
    from flink_elasticsearch_ingestion_spark.operators.text import (
        token_fertility_by_lang,
    )

    docs = spark.createDataFrame(
        # 'e-mail 42x now' -> ws 3; bpe: e,-,mail,42,x,now = 6
        [("en", "e-mail 42x now"), ("de", "abc def")],
        "lang string, text string",
    )
    out = {r["lang"]: r for r in token_fertility_by_lang(docs).collect()}
    assert (out["en"]["ws_tokens"], out["en"]["bpe_tokens"]) == (3, 6)
    assert out["en"]["fertility"] == 2.0
    assert (out["de"]["ws_tokens"], out["de"]["bpe_tokens"]) == (2, 2)
    assert out["de"]["fertility"] == 1.0


def test_duplicate_token_share_flags_exact_clone_mass(spark):
    """The dup-token KPI is internally consistent on real docs: shares
    are in [0, 1], dup_tokens <= total_tokens, and the flagged-doc
    count matches the distinct endpoints of the verified pair table."""
    import __spark_entry__ as E

    # sf0.01: the smallest fixture whose near-dup pair table is non-empty
    row = E.queries()["duplicate_token_share"](spark, "/root/testdata/sf0.01").collect()[0]
    assert 0 <= row["dup_docs"] <= row["total_docs"]
    assert 0 <= row["dup_tokens"] <= row["total_tokens"]
    assert abs(
        row["dup_token_share"]
        - round(row["dup_tokens"] / row["total_tokens"], 6)
    ) < 1e-9


def test_cross_source_near_dup_matrix_is_upper_triangular(spark):
    """The source-overlap matrix is canonically ordered (x <= y), its
    pair counts sum to the verified near-dup pair total, and jaccards
    respect the mining threshold."""
    import __spark_entry__ as E

    rows = E.queries()["cross_source_near_dup"](spark, "/root/testdata/sf0.01").collect()
    assert rows
    for r in rows:
        assert r["source_x"] <= r["source_y"]
        assert r["max_jaccard"] >= 0.4
    total = sum(r["n_pairs"] for r in rows)
    pairs = E.queries()["minhash_near_dup"](spark, "/root/testdata/sf0.01").count()
    assert total == pairs


def test_spearman_endpoints_and_degenerate_group(spark):
    """Monotone signals pin rho = 1, inverse signals pin rho = -1, and
    a zero-variance group returns null (not a division error)."""
    from flink_elasticsearch_ingestion_spark.operators.quality import (
        spearman_gate_correlation,
    )

    docs = spark.createDataFrame(
        [
            # chars and tokens rise together -> rho 1
            ("m", "aa bb"), ("m", "aaa bbb cc"), ("m", "aaaa bbbb cccc d"),
            # chars rise while tokens fall -> rho -1
            ("inv", "a b c d"), ("inv", "abcde fgh"), ("inv", "abcdefghijk"),
            # identical docs: zero rank variance -> null
            ("z", "same text"), ("z", "same text"),
        ],
        "source string, text string",
    )
    out = {r["source"]: r for r in spearman_gate_correlation(docs).collect()}
    assert out["m"]["spearman"] == 1.0
    assert out["inv"]["spearman"] == -1.0
    assert out["z"]["spearman"] is None
    assert out["m"]["n"] == 3 and out["z"]["n_joint"] == 1
