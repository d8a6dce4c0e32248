"""Tests for the round-3 analytics additions: growth accounting,
PSI drift monitoring, boilerplate scrubbing with reassembly, and
exact equi-depth (NTILE) bucketing."""

import pytest
import hashlib

from pyspark.sql import functions as F

from flink_elasticsearch_ingestion_spark.operators.quality import (
    distribution_drift_psi,
)
from flink_elasticsearch_ingestion_spark.operators.relational import (
    growth_accounting,
)
from flink_elasticsearch_ingestion_spark.operators.sampling import (
    equi_depth_buckets,
)
from flink_elasticsearch_ingestion_spark.operators.text import scrub_boilerplate


# ---------------------------------------------------------- growth


def test_growth_accounting_hand_computed(spark):
    # 2024-01-01 / 01-08 / 01-15 are Mondays (week starts). A: w1, w2.
    # B: w1, w3 (skips w2).  Expected: w1 new=2; w2 retained=A,
    # churned=B; w3 resurrected=B, churned=A.  No phantom churn after
    # the corpus horizon (w3 is the max active week).
    events = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 100),
            (2, "2024-01-09 10:00:00", 100),
            (3, "2024-01-02 10:00:00", 200),
            (4, "2024-01-16 10:00:00", 200),
        ],
        "event_id long, ts string, user_id long",
    ).select("event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id")
    rows = {r["week"]: r.asDict() for r in growth_accounting(events).collect()}
    assert rows["2024-01-01"]["n_new"] == 2
    assert rows["2024-01-01"]["n_churned"] == 0
    assert rows["2024-01-08"]["n_retained"] == 1
    assert rows["2024-01-08"]["n_churned"] == 1
    assert rows["2024-01-08"]["n_new"] == 0
    assert rows["2024-01-15"]["n_resurrected"] == 1
    assert rows["2024-01-15"]["n_churned"] == 1
    # horizon: no week-4 row from phantom churn of week-3 actives
    assert "2024-01-22" not in rows


def test_growth_accounting_statuses_partition_actives(spark, sf_dir):
    # every (user, week) active pair lands in exactly one of
    # new/retained/resurrected: per-week sum equals distinct actives
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = growth_accounting(events).collect()
    actives = {
        (r["week"], r["n"])
        for r in events.select(
            F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd").alias("week"),
            "user_id",
        )
        .distinct()
        .groupBy("week")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for r in out:
        got = r["n_new"] + r["n_retained"] + r["n_resurrected"]
        if got:  # churn-only weeks have no active row
            assert (r["week"], got) in actives


# ---------------------------------------------------------- drift


def test_drift_psi_identical_distribution_is_zero(spark):
    df = spark.createDataFrame(
        [(float(v), p) for v in (10_000, 60_000, 120_000, 480_000) for p in ("ref", "cur")],
        "val double, tag string",
    )
    out = distribution_drift_psi(df, "val", F.col("tag")).collect()
    assert all(abs(r["psi_term"]) < 1e-9 for r in out)
    assert all(abs(r["psi_total"]) < 1e-9 for r in out)
    assert abs(sum(r["ref_share"] for r in out) - 1.0) < 1e-3


def test_drift_psi_detects_shift(spark):
    # ref mass in bin 0, cur mass in bin 9 -> large PSI
    rows = [(10_000.0, "ref")] * 50 + [(490_000.0, "cur")] * 50
    df = spark.createDataFrame(rows, "val double, tag string")
    out = distribution_drift_psi(df, "val", F.col("tag")).collect()
    assert out[0]["psi_total"] > 0.25
    # smoothing floor: zero-count side uses eps, never log(0)/NaN
    assert all(r["psi_term"] == r["psi_term"] for r in out)  # no NaN


def test_ks_drift_identical_distribution_is_zero(spark):
    from flink_elasticsearch_ingestion_spark.operators.quality import ks_drift

    df = spark.createDataFrame(
        [(float(v), p) for v in (10_000, 60_000, 120_000, 480_000) for p in ("ref", "cur")],
        "val double, tag string",
    )
    out = ks_drift(df, "val", F.col("tag")).collect()
    assert all(abs(r["cdf_gap"]) < 1e-9 for r in out)
    assert all(abs(r["ks_stat"]) < 1e-9 for r in out)
    # cumulative shares reach 1 in the last bin
    assert abs(out[-1]["cum_ref_share"] - 1.0) < 1e-3


def test_ks_drift_localizes_full_shift(spark):
    # all ref mass below bin 1, all cur mass above: KS = 1 exactly,
    # and the max gap sits at the boundary bin
    rows = [(10_000.0, "ref")] * 50 + [(490_000.0, "cur")] * 50
    from flink_elasticsearch_ingestion_spark.operators.quality import ks_drift

    df = spark.createDataFrame(rows, "val double, tag string")
    out = ks_drift(df, "val", F.col("tag")).collect()
    assert abs(out[0]["ks_stat"] - 1.0) < 1e-6
    assert abs(out[0]["cdf_gap"] - 1.0) < 1e-6  # gap maximal at bin 0


def test_contrastive_triples_exclude_false_negatives(spark):
    """A pool document that is itself a near-dup of the anchor must
    NEVER be emitted as that anchor's negative; each pair gets exactly
    k_neg negatives and they are deterministic."""
    from flink_elasticsearch_ingestion_spark.operators.dedup import (
        contrastive_triples,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base),
        (2, base + " lambda"),          # near-dup of 1
        (3, base + " mu nu"),           # near-dup of 1 and 2
    ] + [
        (10 + i, f"doc{i} " + " ".join(f"x{i}w{j}" for j in range(9)))
        for i in range(12)              # distinct filler docs -> pool
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = contrastive_triples(docs, k_neg=3).collect()
    assert out
    near_set = {1, 2, 3}
    by_pair = {}
    for r in out:
        assert r["negative"] not in near_set or r["negative"] not in (
            r["anchor"],
            r["positive"],
        )
        # stronger: negatives of an anchor in the dup cluster never
        # come from the same cluster
        if r["anchor"] in near_set:
            assert r["negative"] not in near_set
        by_pair.setdefault((r["anchor"], r["positive"]), []).append(
            (r["neg_rank"], r["negative"])
        )
    for negs in by_pair.values():
        assert [n for n, _ in sorted(negs)] == [1, 2, 3]
    again = contrastive_triples(docs, k_neg=3).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_session_occupancy_planted_curve(spark):
    """Three users with known overlapping sessions: the sweep reports
    the exact concurrency at each hour boundary, never negative, and
    returns to zero after every session closes."""
    from flink_elasticsearch_ingestion_spark.operators.windows import (
        session_occupancy,
    )

    rows = [
        # u1: one session 10:00-12:30 (events 10:00, 12:30 within gap?
        # 30-min gap would split; keep events 10 min apart)
        *[(1, i, f"2024-01-01 10:{m:02d}:00", "click") for i, m in enumerate(range(0, 60, 10))],
        *[(1, 100 + i, f"2024-01-01 11:{m:02d}:00", "click") for i, m in enumerate(range(0, 60, 10))],
        # u2: session 10:30-10:50
        (2, 200, "2024-01-01 10:30:00", "click"),
        (2, 201, "2024-01-01 10:50:00", "click"),
        # u3: session 14:00-14:05 (disjoint)
        (3, 300, "2024-01-01 14:00:00", "click"),
        (3, 301, "2024-01-01 14:05:00", "click"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, ts string, event_type string"
    )
    out = {str(r["hour"]): r for r in session_occupancy(ev).collect()}
    # hour 10: u1 + u2 start -> 2 open; u2 ends at 10:50 -> closes at 11
    assert out["2024-01-01 10:00:00"]["n_starts"] == 2
    assert out["2024-01-01 10:00:00"]["open_sessions"] == 2
    assert out["2024-01-01 11:00:00"]["n_ends"] == 1
    assert out["2024-01-01 11:00:00"]["open_sessions"] == 1
    vals = [r["open_sessions"] for r in sorted(out.values(), key=lambda r: r["hour"])]
    assert all(v >= 0 for v in vals)
    assert vals[-1] == 0  # every session eventually closes


def test_temperature_sample_upsamples_low_resource(spark):
    """sqrt-temperature budgets: a 100x larger language gets only a
    10x larger budget, so the small language's share of the sample
    strictly exceeds its share of the corpus; picks are deterministic
    and capped by the stratum size."""
    from flink_elasticsearch_ingestion_spark.operators.sampling import (
        temperature_language_sample,
    )

    rows = [(i, "big") for i in range(1000)] + [
        (10_000 + i, "small") for i in range(10)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_language_sample(docs, total=100).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    n_small = len(by_lang["small"])
    n_big = len(by_lang["big"])
    # raw share of small = ~1%; sqrt share = sqrt(10)/(sqrt(1000)+sqrt(10)) ~ 9%
    assert n_small / (n_small + n_big) > 0.02
    assert n_small <= 10  # never more picks than documents
    again = temperature_language_sample(docs, total=100).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_ab_test_detects_planted_effect_and_passes_null(spark, tmp_path, sf_dir):
    """With outcomes wired to the arm assignment the z-test fires;
    with arm-independent outcomes (the catalog query's construction)
    it reports non-significance."""
    import __spark_entry__ as E
    from flink_elasticsearch_ingestion_spark.operators.sampling import hash_split

    users = spark.range(400).select(F.col("id").alias("user_id"))
    arms = {
        r["user_id"]: r["split"]
        for r in hash_split(
            users, "user_id", {"A": 0.5, "B": 0.5}, salt="ab-v1"
        ).collect()
    }
    # arm A users get 3 purchases (converted: 3 % 3 == 0), arm B get 1
    rows = []
    for u, arm in arms.items():
        n_purch = 3 if arm == "A" else 1
        rows += [(u, "purchase")] * n_purch + [(u, "click")]
    ev = spark.createDataFrame(rows, "user_id long, event_type string")
    sf = str(tmp_path / "ab_sf")
    ev.write.parquet(f"{sf}/events.parquet")
    planted = E.queries()["ab_test"](spark, sf).collect()[0]
    assert planted["rate_a"] == 1.0 and planted["rate_b"] == 0.0
    assert planted["significant"]
    null = E.queries()["ab_test"](spark, sf_dir).collect()[0]
    assert not null["significant"]  # assignment independent of behavior


def test_shared_span_mining_reports_maximal_planted_span(spark):
    """A 20-token span planted at different offsets in two documents
    comes back as ONE maximal span with exact starts and length —
    not a pile of fixed-window fragments; unrelated docs report
    nothing."""
    from flink_elasticsearch_ingestion_spark.operators.dedup import (
        shared_span_mining,
    )

    span = " ".join(f"s{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            (1, " ".join(f"a{i}" for i in range(5)) + " " + span
                + " " + " ".join(f"z{i}" for i in range(4))),
            (2, " ".join(f"b{i}" for i in range(9)) + " " + span),
            (3, " ".join(f"c{i}" for i in range(30))),
        ],
        "doc_id long, text string",
    )
    rows = shared_span_mining(docs, window_k=8, min_span=12).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert r["start_a"] == 5 and r["start_b"] == 9
    assert r["span_tokens"] == 20


def test_shared_span_mining_df_cap_drops_boilerplate_windows(spark):
    """A window present in MORE than df_cap documents is excluded from
    matching (the stop-window guard): with cap=2 a 3-doc-shared span
    yields no pairs; raising the cap restores them."""
    from flink_elasticsearch_ingestion_spark.operators.dedup import (
        shared_span_mining,
    )

    span = " ".join(f"w{i}" for i in range(14))
    docs = spark.createDataFrame(
        [(d, f"u{d}x u{d}y " + span) for d in range(3)],
        "doc_id long, text string",
    )
    capped = shared_span_mining(docs, window_k=8, min_span=12, df_cap=2).collect()
    assert capped == []
    open_ = shared_span_mining(docs, window_k=8, min_span=12, df_cap=3).collect()
    assert len(open_) == 3  # all three pairs report the span


def _py_maximal_spans(texts, k=4, min_span=5):
    """Brute-force reference: all maximal shared runs of >= min_span
    tokens between doc pairs, via diagonal scanning in plain Python."""
    toks = {d: t.split() for d, t in texts.items()}
    out = set()
    ids = sorted(toks)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            ta, tb = toks[a], toks[b]
            for diag in range(-len(tb) + 1, len(ta)):
                run = 0
                for pa in range(max(0, diag), min(len(ta), len(tb) + diag)):
                    pb = pa - diag
                    if ta[pa] == tb[pb]:
                        run += 1
                    else:
                        if run >= min_span:
                            out.add((a, b, pa - run, pa - diag - run, run))
                        run = 0
                pa_end = min(len(ta), len(tb) + diag)
                if run >= min_span:
                    out.add((a, b, pa_end - run, pa_end - diag - run, run))
    return out


def test_shared_span_mining_matches_bruteforce(spark):
    """Differential: on a randomized small corpus (fixed seed) the
    distributed window-hash + islands formulation reports exactly the
    maximal spans the quadratic Python reference finds."""
    import random

    from flink_elasticsearch_ingestion_spark.operators.dedup import (
        shared_span_mining,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    shared_bits = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(5, 9)))
        for _ in range(4)
    ]
    texts = {}
    for d in range(8):
        parts = []
        for _ in range(rng.randint(2, 4)):
            if rng.random() < 0.5:
                parts.append(rng.choice(shared_bits))
            else:
                parts.append(
                    " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 7)))
                )
        texts[d] = " ".join(parts)
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {
        (r["doc_a"], r["doc_b"], r["start_a"], r["start_b"], r["span_tokens"])
        for r in shared_span_mining(
            docs, window_k=4, min_span=5, df_cap=100
        ).collect()
    }
    want = _py_maximal_spans(texts, k=4, min_span=5)
    assert got == want


def test_threshold_sweep_monotone_and_planted(spark):
    """The curve is monotone non-increasing in the threshold, and a
    planted exact-dup pair survives every threshold while a disjoint
    doc contributes nothing."""
    from flink_elasticsearch_ingestion_spark.operators.dedup import (
        near_dup_threshold_sweep,
    )

    same = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, same),
            (2, same),                       # exact dup of 1 (J = 1.0)
            (3, same + " extra words here"), # near dup
            (4, "totally different text with no overlap at all ok"),
        ],
        "doc_id long, text string",
    )
    rows = near_dup_threshold_sweep(docs).collect()
    pair_counts = [r["n_pairs"] for r in rows]
    doc_counts = [r["n_docs_affected"] for r in rows]
    assert pair_counts == sorted(pair_counts, reverse=True)
    assert doc_counts == sorted(doc_counts, reverse=True)
    by_t = {r["threshold"]: r for r in rows}
    assert by_t[0.9]["n_pairs"] >= 1      # the exact dup survives 0.9
    assert by_t[0.2]["n_docs_affected"] <= 3  # doc 4 never appears


# ---------------------------------------------------------- boilerplate


def test_scrub_boilerplate_drops_planted_passage_and_reassembles(spark):
    boiler = " ".join(f"b{i}" for i in range(10))  # one exact 10-word chunk
    docs = []
    for d in range(4):
        unique = " ".join(f"u{d}w{i}" for i in range(10))
        tail = " ".join(f"t{d}w{i}" for i in range(10))
        # boilerplate sits in the MIDDLE: reassembly must keep order
        docs.append((d, f"{unique} {boiler} {tail}"))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in scrub_boilerplate(df, df_threshold=3).collect()}
    for d in range(4):
        unique = " ".join(f"u{d}w{i}" for i in range(10))
        tail = " ".join(f"t{d}w{i}" for i in range(10))
        expected = f"{unique} {tail}"
        assert out[d]["n_passages"] == 3
        assert out[d]["n_dropped"] == 1
        assert out[d]["n_chars_clean"] == len(expected)
        assert out[d]["clean_sha"] == hashlib.md5(expected.encode()).hexdigest()


def test_scrub_boilerplate_below_threshold_keeps_everything(spark):
    shared = " ".join(f"s{i}" for i in range(10))
    df = spark.createDataFrame(
        [(0, shared), (1, shared)], "doc_id long, text string"
    )
    out = scrub_boilerplate(df, df_threshold=3).collect()
    assert all(r["n_dropped"] == 0 for r in out)
    assert all(r["n_chars_clean"] == len(shared) for r in out)


# ---------------------------------------------------------- equi-depth


def test_equi_depth_buckets_matches_ntile_distribution(spark):
    # n=10, k=3: ntile sizes must be 4,3,3 with ordered value ranges
    df = spark.createDataFrame(
        [(float(i * 11), i) for i in range(10)], "v double, id long"
    )
    out = equi_depth_buckets(
        df, "v", "id", k=3, coarse_edges=(30.0, 70.0)
    ).collect()
    assert [r["bucket"] for r in out] == [1, 2, 3]
    assert [r["n_rows"] for r in out] == [4, 3, 3]
    # equi-depth: bucket ranges tile the sorted domain
    assert out[0]["max_val"] < out[1]["min_val"] < out[2]["min_val"]


def test_equi_depth_buckets_edge_choice_is_correctness_free(spark, sf_dir):
    # ANY coarse edges give identical results (they only balance work)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    a = equi_depth_buckets(orders, "o_totalprice", "o_orderkey", k=8).collect()
    b = equi_depth_buckets(
        orders, "o_totalprice", "o_orderkey", k=8, coarse_edges=(123_456.0,)
    ).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


# ---------------------------------------------------------- sessionize


def test_sessionize_hand_computed(spark):
    from flink_elasticsearch_ingestion_spark.operators.windows import sessionize

    events = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 7, "view"),
            (2, "2024-01-01 10:10:00", 7, "click"),
            (3, "2024-01-01 11:00:00", 7, "view"),  # 50-min gap: new session
            (4, "2024-01-01 09:00:00", 8, "view"),
        ],
        "event_id long, ts string, user_id long, event_type string",
    ).select("event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id", "event_type")
    out = {(r["user_id"], r["session_seq"]): r.asDict() for r in sessionize(events).collect()}
    assert set(out) == {(7, 1), (7, 2), (8, 1)}
    assert out[(7, 1)]["n_events"] == 2
    assert out[(7, 1)]["duration_s"] == 600
    assert out[(7, 1)]["n_event_types"] == 2
    assert out[(7, 2)]["n_events"] == 1
    assert out[(7, 2)]["duration_s"] == 0


def test_sessionize_boundary_gap_not_a_break(spark):
    from flink_elasticsearch_ingestion_spark.operators.windows import sessionize

    # exactly 30 minutes is NOT > gap: stays one session
    events = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 7, "a"), (2, "2024-01-01 10:30:00", 7, "a")],
        "event_id long, ts string, user_id long, event_type string",
    ).select("event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id", "event_type")
    assert sessionize(events).count() == 1


# ---------------------------------------------------------- rolling WAU


def test_rolling_active_users_hand_computed(spark):
    from flink_elasticsearch_ingestion_spark.operators.windows import (
        rolling_active_users,
    )

    events = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 100),
            (2, "2024-01-01 11:00:00", 200),
            (3, "2024-01-09 10:00:00", 200),
        ],
        "event_id long, ts string, user_id long",
    ).select("event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id")
    rows = {r["day"]: r["active_users"] for r in rolling_active_users(events).collect()}
    # Jan 1 activity supports Jan 1-7; Jan 9 activity trimmed at horizon
    for d in range(1, 8):
        assert rows[f"2024-01-0{d}"] == 2
    assert rows["2024-01-09"] == 1
    assert "2024-01-08" not in rows  # no supporting user-day
    assert "2024-01-10" not in rows  # beyond corpus horizon


# ---------------------------------------------------------- winsorize


def test_winsorized_stats_clips_tails(spark):
    from flink_elasticsearch_ingestion_spark.operators.quality import (
        winsorized_stats,
    )

    df = spark.createDataFrame(
        [(float(v), "g") for v in range(1, 101)], "val double, grp string"
    )
    (r,) = winsorized_stats(df, "val", "grp").collect()
    assert r["n"] == 100
    # p01 of 1..100 interpolates to 1.99, p99 to 99.01: one value clips each side
    assert r["n_clipped_lo"] == 1 and r["n_clipped_hi"] == 1
    assert 1.0 < r["lo_bound"] < 2.0 and 99.0 < r["hi_bound"] < 100.0
    # winsorized mean stays at the symmetric center
    assert abs(r["winsorized_mean"] - 50.5) < 0.01


# ---------------------------------------------------------- merge apply


def test_merge_apply_update_delete_insert(spark):
    from flink_elasticsearch_ingestion_spark.operators.copy import merge_apply

    snap = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, val string"
    )
    changes = spark.createDataFrame(
        [(2, "B", False), (3, None, True), (4, "d", False)],
        "doc_id long, val string, is_delete boolean",
    )
    out = {r["doc_id"]: r["val"] for r in merge_apply(snap, changes).collect()}
    assert out == {1: "a", 2: "B", 4: "d"}


def test_merge_apply_empty_changes_is_identity(spark):
    from flink_elasticsearch_ingestion_spark.operators.copy import merge_apply

    snap = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, val string")
    empty = spark.createDataFrame([], "doc_id long, val string, is_delete boolean")
    out = merge_apply(snap, empty)
    assert sorted((r["doc_id"], r["val"]) for r in out.collect()) == [(1, "a"), (2, "b")]


# ---------------------------------------------------------- PCA


def test_embedding_gramian_matches_numpy(spark):
    import numpy as np

    from flink_elasticsearch_ingestion_spark.operators.embeddings import (
        embedding_gramian,
    )

    rng = np.random.RandomState(7)
    X = rng.randn(40, 8).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    out = embedding_gramian(df, dim=8)
    G = X.astype(np.float64).T @ X.astype(np.float64)
    for r in out.collect():
        assert abs(r["dot"] - G[r["i"], r["j"]]) < 1e-5


def test_embedding_pca_matches_numpy_reference(spark):
    import numpy as np

    from flink_elasticsearch_ingestion_spark.operators.embeddings import (
        embedding_pca,
    )

    rng = np.random.RandomState(11)
    # anisotropic cloud so the principal axes are well separated
    X = (rng.randn(60, 6) * np.array([5.0, 2.0, 1, 0.5, 0.2, 0.1])).astype(
        np.float32
    )
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: (r["pc1"], r["pc2"])
        for r in embedding_pca(df, dim=6, n_components=2).collect()
    }
    Xd = X.astype(np.float64)
    mu = Xd.mean(axis=0)
    C = (Xd - mu).T @ (Xd - mu) / (len(Xd) - 1)
    vals, vecs = np.linalg.eigh(C)
    order = np.argsort(vals)[::-1][:2]
    ref = []
    for k in order:
        v = vecs[:, k]
        if v[np.argmax(np.abs(v))] < 0:
            v = -v
        ref.append(v)
    proj = (Xd - mu) @ np.array(ref).T
    for i in range(60):
        assert abs(got[i][0] - proj[i, 0]) < 1e-2
        assert abs(got[i][1] - proj[i, 1]) < 1e-2
    # pc1 captures more variance than pc2
    p1 = np.array([got[i][0] for i in range(60)])
    p2 = np.array([got[i][1] for i in range(60)])
    assert p1.var() > p2.var()


# ---------------------------------------------------------- CMS


def test_cms_never_underestimates_and_is_exact_without_collisions(spark):
    from flink_elasticsearch_ingestion_spark.operators.relational import (
        cms_word_counts,
    )

    docs = spark.createDataFrame(
        [(0, "alpha alpha alpha beta beta gamma")], "doc_id long, text string"
    )
    out = {r["word"]: r.asDict() for r in cms_word_counts(docs, width=4096).collect()}
    # 3 words in a 4096-wide sketch: no collisions, estimates exact
    assert out["alpha"]["true_count"] == 3 and out["alpha"]["est_count"] == 3
    assert out["beta"]["overestimate"] == 0
    assert all(r["est_count"] >= r["true_count"] for r in out.values())


def test_cms_sketch_state_is_bounded_by_depth_width(spark, sf_dir):
    from flink_elasticsearch_ingestion_spark.operators.dedup import portable_hash31
    from pyspark.sql import functions as F2

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F2.split(F2.lower(F2.trim(F2.col("text"))), "\\s+")
    words = docs.select(F2.explode(toks).alias("w")).filter(F2.col("w") != "")
    fan = words.select(
        "w", F2.explode(F2.sequence(F2.lit(0), F2.lit(3))).alias("j")
    )
    bucket = portable_hash31(
        F2.concat(F2.lit("cms"), F2.col("j").cast("string"), F2.lit(":"), F2.col("w"))
    ) % 1024
    sketch = fan.select("j", bucket.alias("bucket")).groupBy("j", "bucket").count()
    assert sketch.count() <= 4 * 1024


# ---------------------------------------------------------- SCD2 lookup


def test_scd2_lookup_matches_containing_interval(spark):
    from flink_elasticsearch_ingestion_spark.operators.windows import scd2_lookup

    events = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 7, "view"),
            (2, "2024-01-01 11:00:00", 7, "click"),
            (3, "2024-01-01 12:00:00", 7, "purchase"),
            (4, "2024-01-01 13:00:00", 7, "view"),
        ],
        "event_id long, ts string, user_id long, event_type string",
    ).select("event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id", "event_type")
    out = scd2_lookup(events).collect()
    # the purchase at 12:00 falls in the 'purchase' version that
    # started at 12:00 (intervals are [from, to))
    assert len(out) == 1
    assert out[0]["event_id"] == 3
    assert out[0]["state_at_event"] == "purchase"


def test_scd2_lookup_every_probe_matches_exactly_once(spark, sf_dir):
    from flink_elasticsearch_ingestion_spark.operators.windows import scd2_lookup

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_probes = events.filter(F.col("event_type") == "purchase").count()
    assert scd2_lookup(events).count() == n_probes


# ---------------------------------------------------------- LSH expr twin


def test_lsh_bucket_expr_matches_column_build(spark):
    # the one-parse SQL build must produce bit-identical buckets to the
    # readable Column-by-Column reference implementation
    import numpy as np

    from lsh_reference import lsh_bucket

    from flink_elasticsearch_ingestion_spark.operators.similarity import (
        _hyperplanes,
        lsh_bucket_expr,
    )

    rng = np.random.RandomState(3)
    X = rng.randn(50, 16).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    planes = _hyperplanes(16, 6, seed=99)
    out = df.select(
        lsh_bucket(F.col("embedding"), planes).alias("ref"),
        lsh_bucket_expr("embedding", planes).alias("fast"),
    ).collect()
    assert all(r["ref"] == r["fast"] for r in out)


# ---------------------------------------------------------- JL


def test_jl_projection_distortion_concentrates_near_one(spark, sf_dir):
    from flink_elasticsearch_ingestion_spark.operators.embeddings import (
        jl_projection_audit,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = jl_projection_audit(emb).collect()
    ds = [r["distortion"] for r in rows]
    # JL with k=16: norms preserved in expectation, bounded spread
    assert all(0.2 < d < 2.5 for d in ds)
    mean = sum(ds) / len(ds)
    assert 0.8 < mean < 1.2
    # projection never inflates a zero vector and norms are consistent
    assert all(
        abs(r["distortion"] - r["norm_proj"] / r["norm_orig"]) < 1e-3
        for r in rows
        if r["norm_orig"] > 0
    )


# ---------------------------------------------------------- OHLC


def test_ohlc_bars_hand_computed(spark):
    from flink_elasticsearch_ingestion_spark.operators.windows import ohlc_bars

    events = spark.createDataFrame(
        [
            (1, "2024-01-01 10:05:00", 7, "view", 10.0),
            (2, "2024-01-01 10:15:00", 7, "view", 30.0),
            (3, "2024-01-01 10:45:00", 7, "view", 5.0),
            (4, "2024-01-01 10:55:00", 7, "view", 20.0),
        ],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id",
        "event_type", "value",
    )
    (r,) = ohlc_bars(events).collect()
    assert (r["open"], r["high"], r["low"], r["close"]) == (10.0, 30.0, 5.0, 20.0)
    assert r["n_events"] == 4


def test_ohlc_same_timestamp_tiebreaks_on_event_id(spark):
    from flink_elasticsearch_ingestion_spark.operators.windows import ohlc_bars

    events = spark.createDataFrame(
        [
            (2, "2024-01-01 10:00:00", 7, "view", 99.0),
            (1, "2024-01-01 10:00:00", 7, "view", 11.0),
        ],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id",
        "event_type", "value",
    )
    (r,) = ohlc_bars(events).collect()
    # equal timestamps: event_id orders the bar deterministically
    assert r["open"] == 11.0 and r["close"] == 99.0


# ---------------------------------------------------------- erasure


def test_erase_users_removes_all_and_audits_zero_subjects(spark, sf_dir):
    from flink_elasticsearch_ingestion_spark.operators.copy import erase_users

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    requests = spark.createDataFrame([(3,), (20,), (424242,)], "user_id long")
    cleaned, audit = erase_users(events, requests)
    # proof of absence: no requested subject survives in the cleaned set
    assert cleaned.join(requests, "user_id", "left_semi").count() == 0
    rows = {r["user_id"]: r["n_erased"] for r in audit.collect()}
    assert rows[424242] == 0  # zero-record subject still audited
    per_user = dict(
        events.filter(F.col("user_id").isin(3, 20))
        .groupBy("user_id").count().collect()
    )
    assert rows[3] == per_user.get(3, 0) and rows[20] == per_user.get(20, 0)
    # conservation: cleaned + erased == total
    assert cleaned.count() + sum(rows.values()) == events.count()


def test_embedding_gramian_arrow_matches_expr_twin(spark, sf_dir):
    from flink_elasticsearch_ingestion_spark.operators.embeddings import (
        embedding_gramian,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = {(r["i"], r["j"]): r["dot"] for r in embedding_gramian(emb).collect()}
    e = {
        (r["i"], r["j"]): r["dot"]
        for r in embedding_gramian(emb, method="expr").collect()
    }
    assert a.keys() == e.keys()
    # both paths agree after the 6dp round (BLAS partial order vs
    # left-fold differ at ~1e-13, far below the rounding grain)
    assert all(abs(a[k] - e[k]) < 2e-6 for k in a)


# ------------------------------------------- gopher quality rules


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_gopher_quality_planted_rules(spark):
    from flink_elasticsearch_ingestion_spark.operators.text import gopher_quality

    good = "the quick brown fox and a dog " * 10  # 70 words, stopwords
    short = "too short"  # fails word floor
    bullets = "\n".join("- item one two three four five six seven" for _ in range(10))
    nostop = "zzz qqq www eee rrr ttt yyy " * 10  # no required stopwords
    rows = [(1, good), (2, short), (3, bullets), (4, nostop)]
    out = {
        r["doc_id"]: r.asDict()
        for r in gopher_quality(_docs(spark, rows), min_words=20).collect()
    }
    assert out[1]["passes_gopher"] is True
    assert out[2]["passes_gopher"] is False and out[2]["n_words"] == 2
    assert out[3]["passes_gopher"] is False
    assert out[3]["bullet_line_frac"] == 1.0
    assert out[4]["passes_gopher"] is False and out[4]["stop_hits"] == 0


# ------------------------------------- exact-substring contamination


def test_substring_contamination_planted(spark):
    from flink_elasticsearch_ingestion_spark.operators.dedup import (
        substring_contamination,
    )

    corpus = _docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "prefix words then alpha beta gamma embedded here"),
            (3, "completely unrelated text with other words"),
            # layout-insensitive: extra whitespace still matches
            (4, "ALPHA   beta\tgamma trailing"),
        ],
    )
    probe = corpus.filter(F.col("doc_id") == 1)
    hits = {
        (r["corpus_id"], r["probe_id"])
        for r in substring_contamination(corpus, probe, needle_words=3).collect()
    }
    assert hits == {(2, 1), (4, 1)}  # self-hit (1,1) excluded


# -------------------------------- prefix-filtered set-similarity join


def test_token_set_join_matches_brute_force(spark):
    from flink_elasticsearch_ingestion_spark.operators.dedup import (
        token_set_similarity_join,
    )

    base = "one two three four five six seven eight nine ten"
    rows = [
        (1, base),
        (2, base + " eleven"),  # near-identical to 1
        (3, "totally different words here nothing shared at all xyz"),
        (4, base),  # exact duplicate of 1
        (5, "one two three unrelated tail of tokens goes here now"),
    ]
    out = token_set_similarity_join(
        _docs(spark, rows), threshold=0.5, gram_k=2
    ).collect()
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in out}
    # brute force over distinct word-bigram sets
    import itertools

    sets = {
        i: {
            " ".join(t.split()[j : j + 2])
            for j in range(len(t.split()) - 1)
        }
        for i, t in rows
    }
    expect = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        jac = inter / max(len(sets[a] | sets[b]), 1)
        if jac >= 0.5:
            expect[(a, b)] = round(jac + 1e-9, 6)
    assert got == expect
    assert (1, 4) in got and got[(1, 4)] == 1.0


# ------------------------------------------- bloom prefilter join


def test_bloom_prefilter_equals_plain_join(spark, sf_dir):
    from flink_elasticsearch_ingestion_spark.operators.relational import (
        bloom_prefilter_join,
    )
    from flink_elasticsearch_ingestion_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    got = bloom_prefilter_join(li, orders).collect()
    # k_hashes is honored, not hardcoded to 3: fewer/more probes change
    # the filter's selectivity but never the (exact-join) result
    for k in (2, 5):
        assert bloom_prefilter_join(li, orders, k_hashes=k).collect() == got
    plain = (
        li.join(
            orders.filter(F.col("o_orderpriority") == "1-URGENT"),
            li.l_orderkey == orders.o_orderkey,
        )
        .groupBy(F.date_trunc("month", "o_orderdate").alias("order_month"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.count_distinct("l_orderkey").alias("n_orders"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) + 1e-6,
                2,
            ).alias("revenue"),
        )
        .orderBy("order_month")
        .collect()
    )
    assert got == plain


# ------------------------------------------------- MAD outliers


def test_mad_outliers_planted_spike(spark):
    from flink_elasticsearch_ingestion_spark.operators.quality import mad_outliers

    rows = [(i, "a", float(v)) for i, v in enumerate([10, 11, 9, 10, 12, 10, 11, 1000])]
    rows += [(100 + i, "b", float(10 + i % 3)) for i in range(8)]
    df = spark.createDataFrame(rows, "id long, grp string, value double")
    out = {r["grp"]: r.asDict() for r in mad_outliers(df, "value", "grp").collect()}
    assert out["a"]["n_outliers"] == 1  # the 1000 spike
    assert out["a"]["median"] == 10.5
    assert out["b"]["n_outliers"] == 0


# ---------------------------------------------- Misra-Gries sketch


def test_heavy_hitters_contract_on_skew(spark):
    from flink_elasticsearch_ingestion_spark.operators.relational import (
        heavy_hitters,
    )

    # heavy word appears 400x; 200 rare words once each — vocabulary
    # far above the counter budget, so decrements must happen and the
    # two-sided contract must still hold
    rows = [(i, "heavy word filler") for i in range(200)]
    rows += [(200 + i, f"rare{i} heavy") for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["word"]: r.asDict() for r in heavy_hitters(docs, m=8, k=5).collect()}
    assert out["heavy"]["true_count"] == 400
    for r in out.values():
        assert r["never_over"] is True
        assert r["within_bound"] is True


# ------------------------------------------------- linear probe


def test_linear_probe_matches_numpy(spark, sf_dir):
    import numpy as np

    from flink_elasticsearch_ingestion_spark.operators.embeddings import (
        linear_probe_scores,
    )
    from flink_elasticsearch_ingestion_spark.operators.similarity import (
        _hyperplanes,
    )
    from flink_elasticsearch_ingestion_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    got = linear_probe_scores(emb).limit(50).collect()
    W = np.array(_hyperplanes(64, 3, 11))
    raw = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in emb.select("vec_id", "embedding").limit(50).collect()
    }
    for r in got:
        logits = W @ raw[r["vec_id"]]
        np.testing.assert_allclose(
            [r["logit_0"], r["logit_1"], r["logit_2"]], logits, atol=1e-5
        )
        assert r["pred_class"] == int(np.argmax(logits))
        srt = np.sort(logits)
        assert abs(r["margin"] - (srt[-1] - srt[-2])) < 1e-5


# ------------------------------------------ corpus build capstone


def test_corpus_build_funnel_is_monotone(spark, sf_dir):
    import __spark_entry__ as E

    rows = E.queries()["corpus_build_pipeline"](spark, sf_dir).collect()
    assert rows  # every source reports
    for r in rows:
        assert (
            r["n_raw"]
            >= r["n_quality"]
            >= r["n_dedup"]
            >= r["n_clean"]
            >= r["n_kept"]
            >= 0
        )
    # the pipeline must actually do work at each stage somewhere
    assert sum(r["n_raw"] for r in rows) > sum(r["n_quality"] for r in rows)
    assert sum(r["n_clean"] for r in rows) > sum(r["n_kept"] for r in rows)
    assert all(r["kept_tokens"] >= 0 for r in rows)


# ------------------------------------------------ feature hashing


def test_feature_hashing_preserves_token_mass(spark):
    from flink_elasticsearch_ingestion_spark.operators.text import feature_hashing

    docs = spark.createDataFrame(
        [(1, "one two three four"), (2, "one one one"), (3, "x")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r.asDict() for r in feature_hashing(docs, dims=8).collect()}
    # vector mass equals token count; identical tokens share a bucket
    assert sum(rows[1][f"f{j}"] for j in range(8)) == 4
    assert sum(rows[2][f"f{j}"] for j in range(8)) == 3
    assert max(rows[2][f"f{j}"] for j in range(8)) == 3  # all in one bucket
    assert sum(rows[3][f"f{j}"] for j in range(8)) == 1


# ------------------------------------------------- BPE training


def _bpe_reference(word_counts, n_merges):
    """Pure-Python BPE (Sennrich et al.): returns [(rank, pair, count)]."""
    vocab = {tuple(w): c for w, c in word_counts.items()}
    merges = []
    for r in range(n_merges):
        pairs = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pairs[p] = pairs.get(p, 0) + c
        if not pairs:
            break
        # same tie-break as the engine: max count, then lexicographic
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), cnt = best
        merges.append((r, f"{a} {b}", cnt))
        new_vocab = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges


def test_bpe_train_matches_python_reference(spark):
    from collections import Counter

    from flink_elasticsearch_ingestion_spark.operators.text import bpe_train

    texts = [
        "low low low lower lowest",
        "new newer newest low",
        "widest wide wider new",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [
        (r["rank"], r["pair"], r["pair_count"])
        for r in bpe_train(docs, n_merges=6).collect()
    ]
    wc = Counter(w for t in texts for w in t.split())
    assert got == _bpe_reference(wc, 6)


def test_bpe_train_survives_quote_and_backslash_symbols(spark):
    """Learned symbols are bound via F.lit, not spliced into SQL text:
    corpora containing quotes/backslashes (repr() of which only parses
    under specific literal/escape parser modes) must train fine."""
    from collections import Counter

    from flink_elasticsearch_ingestion_spark.operators.text import bpe_train

    texts = [
        "don't don't don't can't",
        r"a\'b a\'b a\'b don't",
        'say "hi" say "hi"',
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [
        (r["rank"], r["pair"], r["pair_count"])
        for r in bpe_train(docs, n_merges=5).collect()
    ]
    wc = Counter(w for t in texts for w in t.split())
    assert got == _bpe_reference(wc, 5)


def test_bpe_encode_greedy_and_lossless(spark):
    """The encoder applies merges greedily left-to-right (aaa with
    merge (a,a) -> [aa, a], never [a, aa]), in rank order, and the
    symbol stream concatenates back to the original text."""
    from flink_elasticsearch_ingestion_spark.operators.text import bpe_encode

    docs = spark.createDataFrame(
        [(1, "aaa ab table"), (2, "banana scan")],
        "doc_id long, text string",
    )
    merges = [("a", "a"), ("t", "a"), ("l", "e"), ("b", "le"), ("ta", "ble")]
    out = {r["doc_id"]: r for r in bpe_encode(docs, merges).collect()}
    enc1 = out[1]["encoded"].split(" ")
    assert enc1[0] == "aa,a"          # greedy, not a,aa
    assert enc1[1] == "a,b"           # (a,a) does not fire on 'ab'
    assert enc1[2] == "table"         # cascade ta+b+le -> ta+ble -> table
    assert out[1]["n_symbols"] == 2 + 2 + 1
    for r in out.values():
        rebuilt = " ".join(
            w.replace(",", "") for w in r["encoded"].split(" ")
        )
        # stream minus separators == original text (lossless)
        assert rebuilt in {"aaa ab table", "banana scan"}


def test_bpe_train_then_encode_compose(spark):
    """Encoding with the trained merge table shrinks the corpus and
    the shared fold keeps trainer/encoder semantics identical: the
    most-frequent trained pair never survives as adjacent symbols."""
    from flink_elasticsearch_ingestion_spark.operators.text import (
        bpe_encode,
        bpe_train,
    )

    docs = spark.createDataFrame(
        [(i, "low low lower lowest new newer") for i in range(3)],
        "doc_id long, text string",
    )
    merges = [
        tuple(r["pair"].split(" "))
        for r in bpe_train(docs, n_merges=4).collect()
    ]
    enc = bpe_encode(docs, merges).collect()
    for r in enc:
        assert r["n_symbols"] < sum(len(w) for w in "low low lower lowest new newer".split())
        first = merges[0]
        for word in r["encoded"].split(" "):
            syms = word.split(",")
            for x, y in zip(syms, syms[1:]):
                assert (x, y) != first  # rank-0 pair fully merged


def test_linear_probe_rejects_single_class(spark, sf_dir):
    import pytest as _pytest

    from flink_elasticsearch_ingestion_spark.operators.embeddings import (
        linear_probe_scores,
    )
    from flink_elasticsearch_ingestion_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    with _pytest.raises(ValueError, match="n_classes >= 2"):
        linear_probe_scores(emb, n_classes=1)


# ------------------------------------- embedding dedup capstone


def test_embedding_dup_clusters_are_consistent(spark, sf_dir):
    import __spark_entry__ as E

    rows = E.queries()["embedding_dup_clusters"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["cluster_size"] >= 2  # only nodes with an edge enter CC
        assert r["representative"] == r["component"]  # min-label convention


# ---------------------------------------------- training batches


def test_training_batches_reconstruct_documents(spark, sf_dir):
    """Every bin respects capacity (single-doc overflow bins exempt),
    no document is lost or duplicated, and decoding a bin's id stream
    through the vocabulary reproduces the original token streams."""
    import __spark_entry__ as E
    from flink_elasticsearch_ingestion_spark.operators.text import vocab_with_ids
    from flink_elasticsearch_ingestion_spark.sources.tables import load_table

    bins = E.queries()["training_batches"](spark, sf_dir).collect()
    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    id2tok = {
        r["token_id"]: r["token"]
        for r in vocab_with_ids(
            load_table(spark, sf_dir, "documents"), min_count=1
        ).collect()
    }
    n_docs_out = 0
    decoded_streams = []
    for b in bins:
        seqs = b["input_ids"].split("|")
        n_docs_out += len(seqs)
        assert len(seqs) == b["n_docs"]
        total = sum(len(s.split(",")) for s in seqs)
        assert total == b["bin_tokens"]
        assert total <= 512 or b["n_docs"] == 1  # capacity or lone doc
        for s in seqs:
            decoded_streams.append(
                " ".join(id2tok[int(i)] for i in s.split(","))
            )
    assert n_docs_out == len(docs)  # conservation
    originals = {
        " ".join(t.lower().strip().split()) for t in docs.values()
    }
    assert set(decoded_streams) == originals  # lossless round-trip


def test_training_batches_lossless_on_mixed_whitespace(spark, tmp_path):
    """Encoding must tokenize with the SAME \\s+ split the vocabulary
    uses: with a literal single-space split, tokens adjacent to tabs /
    newlines / multi-space runs miss the vocab join and are silently
    dropped (latent in the sf fixtures, which are single-space-only)."""
    import __spark_entry__ as E
    from flink_elasticsearch_ingestion_spark.operators.text import vocab_with_ids

    docs = spark.createDataFrame(
        [
            (1, "en", "alpha\tbeta  gamma"),
            (2, "en", "delta\nepsilon alpha"),
            (3, "fr", "  beta\t\tzeta \n eta  "),
            (4, "fr", "theta"),
        ],
        "doc_id long, lang string, text string",
    )
    sf = str(tmp_path / "mixed_ws")
    docs.write.parquet(f"{sf}/documents.parquet")
    bins = E.queries()["training_batches"](spark, sf).collect()
    id2tok = {
        r["token_id"]: r["token"]
        for r in vocab_with_ids(docs, min_count=1).collect()
    }
    decoded = set()
    n_docs_out = 0
    for b in bins:
        seqs = b["input_ids"].split("|")
        n_docs_out += len(seqs)
        for s in seqs:
            decoded.add(" ".join(id2tok[int(i)] for i in s.split(",")))
    assert n_docs_out == 4  # every document survives encoding
    want = {
        " ".join(t.lower().split())
        for t in [r["text"] for r in docs.collect()]
    }
    assert decoded == want  # no token dropped at the vocab join


def test_sha_features_expr_matches_arrow_path(spark, sf_dir):
    """The pure-JVM feature twin must be bit-identical to the Arrow
    mapInPandas extractor on every column (same digest bytes, same
    /255 doubles)."""
    from flink_elasticsearch_ingestion_spark.operators.multimodal import (
        documents_as_media,
        extract_features,
        sha_features_expr,
    )
    from flink_elasticsearch_ingestion_spark.sources.tables import load_table

    media = documents_as_media(load_table(spark, sf_dir, "documents"))
    a = {
        r["media_id"]: (r["kind"], r["n_bytes"], r["content_sha"], tuple(r["feature"]))
        for r in extract_features(media).collect()
    }
    b = {
        r["media_id"]: (r["kind"], r["n_bytes"], r["content_sha"], tuple(r["feature"]))
        for r in sha_features_expr(media).collect()
    }
    assert a == b and a


def test_source_similarity_identical_and_disjoint(spark):
    """Sources with identical token distributions hit cosine 1.0;
    sources with disjoint vocabularies that hash to different buckets
    score near zero; output covers every source pair exactly once."""
    from flink_elasticsearch_ingestion_spark.operators.text import (
        source_similarity,
    )

    same = "alpha beta gamma delta epsilon"
    rows = (
        [(i, "s1", same) for i in range(5)]
        + [(100 + i, "s2", same) for i in range(5)]
        + [(200 + i, "s3", "zulu yankee xray whiskey victor") for i in range(5)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {(r["src_a"], r["src_b"]): r["cosine"] for r in source_similarity(docs).collect()}
    assert set(out) == {("s1", "s2"), ("s1", "s3"), ("s2", "s3")}
    assert abs(out[("s1", "s2")] - 1.0) < 1e-9
    assert out[("s1", "s3")] < 0.5  # different vocab, low overlap


def test_neyman_allocation_favors_volatile_strata(spark):
    """Two equal-size strata, one with 10x the value spread: the
    volatile stratum gets ~10x the budget; budgets sum to ~total and
    picks never exceed the stratum size."""
    from flink_elasticsearch_ingestion_spark.operators.sampling import (
        neyman_allocation_sample,
    )

    rows = [(i, "flat", 100.0 + (i % 10)) for i in range(200)] + [
        (1000 + i, "wild", 100.0 + (i % 10) * 10) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "o_orderkey long, s string, v double")
    out = {
        r["s"]: r
        for r in neyman_allocation_sample(
            df, "s", "v", total=110, key_col="o_orderkey"
        ).collect()
    }
    assert out["wild"]["budget"] == 10 * out["flat"]["budget"]
    assert out["flat"]["n_picked"] == out["flat"]["budget"]
    assert abs(sum(r["budget"] for r in out.values()) - 110) <= 1
    assert all(r["n_picked"] <= r["n_rows"] for r in out.values())


def _py_winnow(text, k=3, w=4):
    toks = text.strip().split()
    P = 2147483647
    h = lambda s: int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % P
    grams = [h(" ".join(toks[i:i + k])) for i in range(len(toks) - k + 1)] if len(toks) >= k else []
    if len(grams) >= w:
        fps = {min(grams[j:j + w]) for j in range(len(grams) - w + 1)}
    else:
        fps = set(grams)
    return grams, fps


def test_winnowing_matches_python_reference_and_guarantee(spark):
    """Differential vs a plain-Python winnower on every doc, plus the
    winnowing guarantee: two docs sharing a run of >= w+k-1 = 6 tokens
    share at least one fingerprint."""
    import random

    from flink_elasticsearch_ingestion_spark.operators.text import (
        winnowing_fingerprints,
    )

    rng = random.Random(3)
    shared = " ".join(f"s{i}" for i in range(6))  # exactly w+k-1 tokens
    texts = {
        1: "a1 a2 a3 " + shared + " a4 a5",
        2: "b1 " + shared + " b2 b3 b4 b5 b6",
        3: " ".join(rng.choice("pqrstu") + str(i) for i in range(30)),
        4: "tiny doc",  # below gram_k: zero grams
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    out = {r["doc_id"]: r for r in winnowing_fingerprints(docs).collect()}
    sets = {}
    for d, t in texts.items():
        grams, fps = _py_winnow(t)
        sets[d] = fps
        r = out[d]
        assert r["n_grams"] == len(grams)
        assert r["n_fps"] == len(fps)
        if fps:
            assert r["fp_min"] == min(fps) and r["fp_max"] == max(fps)
        else:
            assert r["fp_min"] is None and r["fp_max"] is None
    assert sets[1] & sets[2]            # the guarantee fires
    assert not (sets[3] & sets[1])      # unrelated docs stay disjoint


def test_substring_contamination_engines_agree(spark, sf_dir):
    """Differential: the Aho-Corasick mapInPandas pass must equal the
    broadcast contains scan pair-for-pair on real documents (overlapping
    needles, repeated matches, unicode text) — the contract that lets
    auto-routing switch engines on needle-table size alone."""
    from flink_elasticsearch_ingestion_spark.operators.dedup import (
        substring_contamination,
    )
    from flink_elasticsearch_ingestion_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    probe = docs.filter(F.col("doc_id") % 7 == 0)
    want = substring_contamination(
        docs, probe, needle_words=4, engine="broadcast"
    ).collect()
    got = substring_contamination(
        docs, probe, needle_words=4, engine="aho"
    ).collect()
    assert len(want) > 0  # the fixture must actually exercise matches
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_substring_contamination_auto_routes_off_the_bnlj(spark):
    """Above max_broadcast_needles the plan must contain NO broadcast
    nested-loop join — the automaton pass is a pure map-side scan."""
    from flink_elasticsearch_ingestion_spark.operators.dedup import (
        substring_contamination,
    )
    from flink_elasticsearch_ingestion_spark.plans.audit import physical_plan

    corpus = _docs(
        spark,
        [(i, f"doc number {i} speaks of alpha beta gamma delta")
         for i in range(20)],
    )
    probe = _docs(spark, [(100, "alpha beta gamma delta epsilon")])
    routed = substring_contamination(
        corpus, probe, needle_words=3, max_broadcast_needles=0
    )
    plan = physical_plan(routed)
    assert "BroadcastNestedLoopJoin" not in plan
    assert {(r["corpus_id"], r["probe_id"]) for r in routed.collect()} == {
        (i, 100) for i in range(20)
    }


def test_aho_corasick_overlapping_and_nested_needles(spark):
    """Automaton correctness corners the planted test can't reach:
    needles that are substrings of other needles (failure-link outputs)
    and duplicate needles shared by several probe ids."""
    from flink_elasticsearch_ingestion_spark.operators.dedup import (
        substring_contamination,
    )

    corpus = _docs(spark, [(1, "aa bb cc dd ee ff gg")])
    probe = _docs(
        spark,
        [
            (10, "aa bb cc unrelated tail words"),      # prefix needle
            (11, "bb cc dd more filler words here"),    # overlapping window
            (12, "aa bb cc different suffix entirely"), # duplicate needle of 10
            (13, "zz yy xx nothing matches this one"),
        ],
    )
    hits = {
        (r["corpus_id"], r["probe_id"])
        for r in substring_contamination(
            corpus, probe, needle_words=3, engine="aho"
        ).collect()
    }
    assert hits == {(1, 10), (1, 11), (1, 12)}


def test_substring_contamination_caps_fact_sized_probe_sides(spark, sf_dir):
    """Both engines materialize the probe side on the driver, so a
    fact-sized probe must raise via the limit-bounded O(cap) probe —
    never scan the mistake or OOM the collect."""
    from flink_elasticsearch_ingestion_spark.operators.dedup import (
        substring_contamination,
    )
    from flink_elasticsearch_ingestion_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    with pytest.raises(ValueError, match="benchmark-sized"):
        substring_contamination(docs, docs, max_needles=5)


def test_bucket_cap_bounds_degenerate_bucket_pairs(spark):
    """A degenerate corpus (many identical vectors -> ONE bucket in
    every table) must emit at most cap*(cap-1)/2 candidate pairs, not
    n^2/2 — the band_cap guard transplanted to the embedding path."""
    from flink_elasticsearch_ingestion_spark.operators.similarity import (
        embedding_near_duplicates,
    )

    rows = [(i, [1.0, 0.5, 0.25, 0.75]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    capped = embedding_near_duplicates(
        df, threshold=0.5, bits=3, tables=2, bucket_cap=10
    )
    n = capped.count()
    assert n == 45  # C(10,2): first 10 ids per bucket, deduped across tables
    # and the cap keeps the LOWEST ids deterministically
    ids = {r["vec_a"] for r in capped.collect()} | {
        r["vec_b"] for r in capped.collect()
    }
    assert ids == set(range(10))


def test_aho_engine_survives_empty_needle_alphabet(spark):
    """Zero usable needles with engine='aho' forced (empty/whitespace
    probe texts -> empty needle alphabet) must return an empty result,
    not IndexError out of the dense-table codepoint remap (the sparse
    walk always handled this shape; round-8 guard in _ac_scan_block)."""
    from flink_elasticsearch_ingestion_spark.operators.dedup import (
        substring_contamination,
    )

    corpus = spark.createDataFrame(
        [(1, "some ordinary corpus text"), (2, "another document body")],
        "doc_id long, text string",
    )
    probe = spark.createDataFrame(
        [(10, ""), (11, "   "), (12, None)], "doc_id long, text string"
    )
    out = substring_contamination(
        corpus, probe, needle_words=3, engine="aho"
    )
    assert out.count() == 0


def test_corpus_rows_hint_skips_the_count_job(spark, sf_dir):
    """bits='auto' with a corpus_rows= stats hint must resolve WITHOUT
    running count() on the input frame (the hint is the table-stats
    path; count() is only the fallback). The input's count method is
    instance-patched to fail loudly if the operator touches it."""
    from flink_elasticsearch_ingestion_spark.operators import similarity as S
    from flink_elasticsearch_ingestion_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()  # known row count, counted by the TEST only

    def boom():
        raise AssertionError("corpus count() ran despite corpus_rows hint")

    emb.count = boom  # instance shadow; operator must never call it
    try:
        hinted = S.embedding_near_duplicates(
            emb, threshold=0.4, bits="auto", tables=8, corpus_rows=n
        ).collect()
    finally:
        del emb.count
    # identical result to the count()-fallback path (same auto bits)
    want = S.embedding_near_duplicates(
        emb, threshold=0.4, bits="auto", tables=8
    ).collect()
    assert [tuple(r) for r in hinted] == [tuple(r) for r in want]

    # knn_join_lsh takes the same hint for its corpus side
    emb.count = boom
    try:
        got = S.knn_join_lsh(
            emb.limit(20), emb, k=3, bits="auto", corpus_rows=n
        )
        assert got.count() > 0
    finally:
        del emb.count


def test_center_preflight_trips_on_uncentered_features(spark, sf_dir):
    """The sign-LSH centering preflight (round-8): [0,1]^8 sha-stub
    features with NO bucket_shift warn; the shifted call does not; the
    strict flag raises; zero-centered embeddings never trip."""
    import warnings as W

    from flink_elasticsearch_ingestion_spark.operators import (
        multimodal as M,
        similarity as S,
    )
    from flink_elasticsearch_ingestion_spark.sources.tables import load_table

    feats = M.sha_features_expr(
        M.documents_as_media(load_table(spark, sf_dir, "documents"))
    ).select(
        F.col("media_id").alias("vec_id"), F.col("feature").alias("embedding")
    )
    with pytest.warns(UserWarning, match="off-center"):
        S.embedding_near_duplicates(feats, threshold=0.999, bits=4, tables=2)
    with pytest.raises(ValueError, match="off-center"):
        S.embedding_near_duplicates(
            feats, threshold=0.999, bits=4, tables=2, center_check="strict"
        )
    # the shifted call and the centered corpus stay silent
    with W.catch_warnings():
        W.simplefilter("error")
        S.embedding_near_duplicates(
            feats, threshold=0.999, bits=4, tables=2, bucket_shift=0.5
        )
        S.embedding_near_duplicates(
            load_table(spark, sf_dir, "embeddings"), threshold=0.4, bits=4
        )


def test_bucket_cap_truncation_is_observable(spark, sf_dir):
    """bucket_cap must not be a silent recall trade: when the cap
    actually truncates banded rows, a warning carries the dropped-row
    count; when it never fires (oracle-scale sizing) there is no
    warning."""
    import warnings as W

    from flink_elasticsearch_ingestion_spark.operators import similarity as S
    from flink_elasticsearch_ingestion_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(60)
    # bits=3 over 60 vectors: some bucket must exceed an occupancy of 2
    with pytest.warns(UserWarning, match="truncated"):
        S.embedding_near_duplicates(
            emb, threshold=0.0, bits=3, tables=2, bucket_cap=2
        ).collect()
    with W.catch_warnings():
        W.simplefilter("error")
        S.embedding_near_duplicates(
            emb, threshold=0.0, bits=3, tables=2, bucket_cap=10_000
        ).collect()
