"""Round-5 operator properties: two-phase distribution ranks equal the
window functions bit-for-bit, span removal excises exactly the planted
duplicates, keep-first passage dedup preserves first occurrences,
Kneser-Ney is a proper probability model, group-aware folds partition
the corpus with zero leakage."""

import pytest

import pyspark.sql.functions as F
from pyspark.sql import Window

from flink_elasticsearch_ingestion_spark.operators.dedup import scrub_shared_spans
from flink_elasticsearch_ingestion_spark.operators.sampling import leakage_safe_folds
from flink_elasticsearch_ingestion_spark.operators.text import (
    dedup_passages_global,
    kneser_ney_score,
)
from flink_elasticsearch_ingestion_spark.operators.windows import (
    global_distribution_ranks,
)
from flink_elasticsearch_ingestion_spark.sources.tables import load_table


def test_distribution_ranks_equal_window_functions(spark, sf_dir):
    """The two-phase path must be BIT-identical to
    ntile/percent_rank/cume_dist over the same order — including the
    uneven-bucket distribution when n % k != 0."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    for k in (4, 7):  # 7 rarely divides the row count: exercises n % k
        got = global_distribution_ranks(
            orders, "o_totalprice", "o_orderkey", ntile_k=k
        ).select("o_orderkey", "quartile", "pr", "cd")
        w = Window.orderBy("o_totalprice", "o_orderkey")
        want = orders.select(
            "o_orderkey",
            F.ntile(k).over(w).alias("quartile"),
            F.percent_rank().over(w).alias("pr"),
            F.cume_dist().over(w).alias("cd"),
        )
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0


def test_distribution_ranks_single_row():
    from flink_elasticsearch_ingestion_spark import get_spark

    spark = get_spark("tests")
    df = spark.createDataFrame([(1, 10.0)], "id long, v double")
    row = global_distribution_ranks(df, "v", "id", ntile_k=4).collect()[0]
    assert (row["quartile"], row["pr"], row["cd"]) == (1, 0.0, 1.0)


def test_scrub_shared_spans_removes_planted_duplicate(spark):
    """A 16-token passage shared by two docs: the lower doc keeps it,
    the higher doc loses exactly those tokens; a third unrelated doc
    is untouched."""
    span = " ".join(f"dup{i}" for i in range(16))
    rows = [
        (1, f"alpha beta {span} gamma delta"),
        (2, f"one two three four five {span} six seven"),
        (3, "totally unrelated words here " * 4),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in scrub_shared_spans(df).collect()}
    assert out[1]["n_spans_removed"] == 0
    assert out[1]["clean_text"] == rows[0][1]
    assert out[2]["n_spans_removed"] == 1
    assert out[2]["n_tokens_after"] == out[2]["n_tokens_before"] - 16
    assert "dup0" not in out[2]["clean_text"]
    assert out[2]["clean_text"] == "one two three four five six seven"
    assert out[3]["n_spans_removed"] == 0


def test_scrub_shared_spans_merges_overlapping_intervals(spark):
    """Two overlapping spans (shared with two different partners) must
    union before excision — tokens in the overlap are removed once,
    not twice, and the count is the union's length."""
    a = " ".join(f"w{i}" for i in range(20))  # doc 1: tokens w0..w19
    left = " ".join(f"w{i}" for i in range(0, 14))  # w0..w13  (14 toks)
    right = " ".join(f"w{i}" for i in range(6, 20))  # w6..w19 (14 toks)
    rows = [
        (1, left),
        (2, right),
        (3, a + " tail0 tail1"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in scrub_shared_spans(df).collect()}
    # doc 3 shares w0..w13 with doc 1 and w6..w19 with doc 2: the
    # merged removal interval is w0..w19 (all 20), leaving the tail
    assert out[3]["n_spans_removed"] == 1  # merged into ONE interval
    assert out[3]["n_tokens_after"] == 2
    assert out[3]["clean_text"] == "tail0 tail1"


def test_dedup_passages_keep_first(spark):
    """The same 10-word passage in three docs: (lowest doc, lowest pos)
    keeps it, everyone else drops it — including a second copy INSIDE
    the first doc."""
    p = " ".join(f"p{i}" for i in range(10))
    other = " ".join(f"q{i}" for i in range(10))
    rows = [
        (1, f"{p} {p}"),          # first occurrence + in-doc repeat
        (2, f"{other} {p}"),      # later doc: drops the shared passage
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup_passages_global(df).collect()}
    assert out[1]["n_passages"] == 2 and out[1]["n_dropped"] == 1
    assert out[2]["n_passages"] == 2 and out[2]["n_dropped"] == 1
    # doc 2 keeps only its unique passage
    import hashlib

    assert out[2]["clean_sha"] == hashlib.md5(other.encode()).hexdigest()


def test_kneser_ney_is_a_proper_distribution(spark):
    """For every prefix w1, sum over the OBSERVED vocabulary of
    P_KN(w2|w1) must be exactly 1 (the defining property of
    interpolated KN: discounted mass re-enters via continuation
    probabilities). Verified by reconstructing P from the same counts
    the operator uses."""
    rows = [
        (1, "a b a c a b d"),
        (2, "b c b a c c a"),
        (3, "d a d b d c"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # rebuild the model exactly as the operator defines it
    import collections
    import math

    bg = collections.Counter()
    for _, t in rows:
        w = t.split()
        for i in range(len(w) - 1):
            bg[(w[i], w[i + 1])] += 1
    c_w1 = collections.Counter()
    n1p_fw = collections.defaultdict(set)
    n1p_bw = collections.defaultdict(set)
    for (w1, w2), c in bg.items():
        c_w1[w1] += c
        n1p_fw[w1].add(w2)
        n1p_bw[w2].add(w1)
    T = len(bg)
    vocab = {w for pair in bg for w in pair}
    for w1 in c_w1:
        s = sum(
            max(bg.get((w1, w2), 0) - 0.75, 0.0) / c_w1[w1]
            + (0.75 * len(n1p_fw[w1]) / c_w1[w1]) * (len(n1p_bw.get(w2, ())) / T)
            for w2 in vocab
        )
        assert abs(s - 1.0) < 1e-9, (w1, s)
    # and the operator agrees with a direct per-doc computation
    out = {r["doc_id"]: r for r in kneser_ney_score(df).collect()}
    for doc_id, t in rows:
        w = t.split()
        lps = []
        for i in range(len(w) - 1):
            w1, w2 = w[i], w[i + 1]
            p = max(bg[(w1, w2)] - 0.75, 0.0) / c_w1[w1] + (
                0.75 * len(n1p_fw[w1]) / c_w1[w1]
            ) * (len(n1p_bw[w2]) / T)
            lps.append(math.log(p))
        want = round(-sum(lps) / len(lps) + 1e-9, 4)
        assert out[doc_id]["kn_cross_entropy"] == want


def test_leakage_safe_folds_partition_and_zero_leaks(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = leakage_safe_folds(docs, k=5, jaccard_threshold=0.4,
                             band_cap=None).collect()
    assert sum(r["n_docs"] for r in out) == docs.count()
    assert all(r["n_leaky_pairs"] == 0 for r in out)
    assert all(r["n_groups"] <= r["n_docs"] for r in out)


def test_unimax_water_filling_properties(spark):
    """UNIMAX invariants on a corpus where the budget forces
    saturation: (a) no language exceeds its natural size, (b) the
    allocations sum to min(budget, corpus), (c) every unsaturated
    language gets the SAME share, and that share >= every saturated
    language's cap."""
    from flink_elasticsearch_ingestion_spark.operators.sampling import (
        unimax_language_sample,
    )

    rows = []
    did = 0
    # tiny lang: 3 docs x 5 tokens; mid: 10 x 20; two big: 40 x 50
    for lang, n_docs, n_tok in [("aa", 3, 5), ("bb", 10, 20), ("cc", 40, 50), ("dd", 40, 50)]:
        for _ in range(n_docs):
            rows.append((did, lang, " ".join(f"t{i}" for i in range(n_tok))))
            did += 1
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    budget = 1_000  # < total (4215): the two big langs must share
    out = {r["lang"]: r.asDict() for r in unimax_language_sample(df, budget_tokens=budget).collect()}
    caps = {"aa": 15, "bb": 200, "cc": 2000, "dd": 2000}
    for lang, cap in caps.items():
        assert out[lang]["cap_tokens"] == cap
        assert out[lang]["alloc_tokens"] <= cap + 1e-6
    total_alloc = sum(out[lang]["alloc_tokens"] for lang in caps)
    assert abs(total_alloc - budget) < 1e-3
    # aa saturates (15 < 1000/4); bb saturates (200 < (1000-15)/3=328);
    # cc and dd split the leftover equally
    assert out["aa"]["alloc_tokens"] == 15.0
    assert out["bb"]["alloc_tokens"] == 200.0
    assert out["cc"]["alloc_tokens"] == out["dd"]["alloc_tokens"]
    assert abs(out["cc"]["alloc_tokens"] - (1000 - 215) / 2) < 1e-6
    # selection never exceeds the allocation, and saturated langs take all
    for lang in caps:
        assert out[lang]["sel_tokens"] <= out[lang]["alloc_tokens"] + 1e-6
    assert out["aa"]["sel_tokens"] == 15 and out["aa"]["n_docs"] == 3
    assert out["bb"]["sel_tokens"] == 200 and out["bb"]["n_docs"] == 10


def test_containment_catches_quotes_symmetric_misses(spark):
    """A short doc quoted verbatim inside a much longer one: containment
    (|A∩B|/|A|) ~= 1 while symmetric Jaccard is far below the near-dup
    threshold — the subset case containment_pairs exists for."""
    from flink_elasticsearch_ingestion_spark.operators.dedup import (
        containment_pairs,
        minhash_near_duplicates,
    )

    quote = " ".join(f"q{i}" for i in range(30))
    filler = " ".join(f"f{i}" for i in range(300))
    rows = [
        (1, quote),
        (2, f"{filler} {quote}"),
        (3, " ".join(f"z{i}" for i in range(40))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["contained_id"], r["container_id"]): r["containment"]
        for r in containment_pairs(df, threshold=0.6).collect()
    }
    assert (1, 2) in got and got[(1, 2)] >= 0.9
    assert (2, 1) not in got  # asymmetric: the long doc is NOT contained
    assert not any(3 in p for p in got)
    # the symmetric pass at the same grain misses it
    sym = minhash_near_duplicates(df, jaccard_threshold=0.6).collect()
    assert not any({r["doc_a"], r["doc_b"]} == {1, 2} for r in sym)


# ----------------------------- round-6 additions -----------------------------


def test_interval_overlap_blocking_equals_theta_join(spark, sf_dir):
    """The bucket-blocked equi-join must find exactly the naive theta
    self-join's pairs — no false negatives at bucket boundaries, no
    duplicates from the two discovery paths."""
    from flink_elasticsearch_ingestion_spark.operators.relational import (
        interval_overlap_pairs,
    )
    from flink_elasticsearch_ingestion_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    got = interval_overlap_pairs(events, gap_s=600).collect()
    e = events.select(
        "user_id", "event_id", F.unix_timestamp("ts").alias("sec")
    )
    a, b = e.alias("a"), e.alias("b")
    want = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_id") < F.col("b.event_id"))
            & (F.abs(F.col("a.sec") - F.col("b.sec")) <= 600),
        )
        .select(
            F.col("a.user_id").alias("user_id"),
            F.col("a.event_id").alias("event_a"),
            F.col("b.event_id").alias("event_b"),
        )
        .orderBy("user_id", "event_a", "event_b")
        .collect()
    )
    assert len(want) > 0
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_interval_overlap_plan_is_equi_join(spark, sf_dir):
    from flink_elasticsearch_ingestion_spark.operators.relational import (
        interval_overlap_pairs,
    )
    from flink_elasticsearch_ingestion_spark.plans.audit import physical_plan
    from flink_elasticsearch_ingestion_spark.sources.tables import load_table

    plan = physical_plan(interval_overlap_pairs(load_table(spark, sf_dir, "events")))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sqrt_frequency_cap_two_phase_equals_single_window(spark, sf_dir):
    """The salted two-phase rank must be bit-identical to the naive
    single-window per-source rank (same caps, same winners, same rank
    values)."""
    from pyspark.sql import Window

    from flink_elasticsearch_ingestion_spark.operators.sampling import (
        sqrt_frequency_cap,
    )
    from flink_elasticsearch_ingestion_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    got = sqrt_frequency_cap(docs).collect()
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").cast("double").desc(), "doc_id"
    )
    caps = docs.groupBy("source").agg(
        F.ceil(F.sqrt(F.count(F.lit(1)))).cast("int").alias("cap")
    )
    want = (
        docs.join(caps, "source")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.col("cap"))
        .select(
            "source",
            "doc_id",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            "rank",
            "cap",
        )
        .orderBy("source", "rank")
        .collect()
    )
    assert len(want) > 0
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # every source respects its sublinear quota
    import collections

    per = collections.Counter(r["source"] for r in got)
    caps_map = {r["source"]: r["cap"] for r in got}
    assert all(per[s] <= caps_map[s] for s in per)


def test_similar_part_names_blocking_equals_naive(spark, sf_dir):
    """The SymSpell deletion-neighborhood equi-join must return exactly
    the naive banded all-pairs result — the lossless-blocking guarantee
    (levenshtein <= d implies a shared <= d-deletion variant; hash
    collisions only add candidates, the verify prunes them)."""
    from flink_elasticsearch_ingestion_spark.operators.relational import (
        similar_part_names,
    )
    from flink_elasticsearch_ingestion_spark.sources.tables import load_table

    part = load_table(spark, sf_dir, "part")
    got = similar_part_names(part).collect()
    want = similar_part_names(part, blocked=False).collect()
    assert len(want) > 0
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_similar_part_names_plan_has_no_all_pairs_join(spark, sf_dir):
    from flink_elasticsearch_ingestion_spark.operators.relational import (
        similar_part_names,
    )
    from flink_elasticsearch_ingestion_spark.plans.audit import (
        assert_no_accidental_quadratic_join,
    )
    from flink_elasticsearch_ingestion_spark.sources.tables import load_table

    assert_no_accidental_quadratic_join(
        similar_part_names(load_table(spark, sf_dir, "part"))
    )


def test_seasonal_decompose_identity_and_invariants(spark, sf_dir):
    """rev == trend + seasonal + residual on every full-window day
    (within the declared rounding), seasonal components are mean-zero,
    and edge days carry null trend/residual instead of extrapolations."""
    from flink_elasticsearch_ingestion_spark.operators.windows import (
        seasonal_decompose,
    )
    from flink_elasticsearch_ingestion_spark.sources.tables import load_table

    rows = seasonal_decompose(load_table(spark, sf_dir, "orders")).collect()
    assert len(rows) > 30
    # first/last 3 days can't center a 7-day window
    for r in rows[:3] + rows[-3:]:
        assert r["trend"] is None and r["residual"] is None
    full = [r for r in rows if r["trend"] is not None]
    assert len(full) == len(rows) - 6
    for r in full:
        assert abs(r["rev"] - (r["trend"] + r["seasonal"] + r["residual"])) < 1e-3
    # mean-zero seasonals: one component value per weekday, summing ~0
    seasonal_by_day = {r["day"]: r["seasonal"] for r in rows}
    distinct = sorted({v for v in seasonal_by_day.values()})
    assert len(distinct) <= 7
    assert abs(sum(r["seasonal"] for r in rows) / len(rows)) < 1e-3


def test_mixing_epochs_invariants(spark, sf_dir):
    """Weights sum to 1, drawn tokens sum to the budget, and epochs
    equal drawn/available per source."""
    from flink_elasticsearch_ingestion_spark.operators.sampling import (
        mixing_epochs_plan,
    )
    from flink_elasticsearch_ingestion_spark.sources.tables import load_table

    budget = 1_000_000.0
    rows = mixing_epochs_plan(
        load_table(spark, sf_dir, "documents"), token_budget=budget
    ).collect()
    assert len(rows) >= 2
    assert abs(sum(r["mix_weight"] for r in rows) - 1.0) < 1e-4
    assert abs(sum(r["drawn_tokens"] for r in rows) - budget) < 1.0
    for r in rows:
        assert abs(r["epochs"] - r["drawn_tokens"] / r["avail_tokens"]) < 1e-3
        assert r["avail_tokens"] > 0
    # sqrt weighting: bigger sources draw more tokens but FEWER epochs
    by_avail = sorted(rows, key=lambda r: r["avail_tokens"])
    assert by_avail[-1]["drawn_tokens"] > by_avail[0]["drawn_tokens"]
    assert by_avail[-1]["epochs"] < by_avail[0]["epochs"]


def test_corpus_datasheet_semantics(spark):
    """On a crafted fixture: dup_rate counts normalized-content
    duplicates, the email probe counts real addresses, token/char
    totals are exact."""
    from flink_elasticsearch_ingestion_spark.operators.quality import (
        corpus_datasheet,
    )

    docs = spark.createDataFrame(
        [
            (1, "hello  world", "en", "web", 12),
            (2, "Hello world", "en", "web", 11),      # dup after normalize
            (3, "mail me at a.b@example.com now", "en", "web", 30),
            (4, "autre texte", "fr", "web", 11),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = {(r["source"], r["lang"]): r for r in corpus_datasheet(docs).collect()}
    en = rows[("web", "en")]
    assert en["n_docs"] == 3
    assert en["n_distinct_contents"] == 2  # docs 1+2 collapse
    assert abs(en["dup_rate"] - 1 / 3) < 1e-3
    assert en["email_hits"] == 1
    assert en["total_ws_tokens"] == 2 + 2 + 5
    fr = rows[("web", "fr")]
    assert fr["n_docs"] == 1 and fr["dup_rate"] == 0.0 and fr["email_hits"] == 0


def test_seasonal_decompose_rejects_even_period(spark, sf_dir):
    """Even periods need a 2xMA trend the centered frame can't express;
    silently returning all-null trend/residual (the pre-guard behavior)
    is worse than refusing."""
    from flink_elasticsearch_ingestion_spark.operators.windows import (
        seasonal_decompose,
    )
    from flink_elasticsearch_ingestion_spark.sources.tables import load_table

    with pytest.raises(ValueError, match="period must be odd"):
        seasonal_decompose(load_table(spark, sf_dir, "orders"), period=12)


def test_group_auc_matches_brute_force_pair_counting(spark):
    """AUC from the rankless aggregate formulation == the definitional
    pair count ((pos > neg) + 0.5 * ties) / (P * N) on a crafted group
    with ties on both sides."""
    from flink_elasticsearch_ingestion_spark.operators.quality import (
        group_auc,
    )
    from pyspark.sql import functions as F2

    rows = [  # (score, is_pos)
        (10, 1), (10, 0), (8, 1), (8, 1), (8, 0), (5, 0), (5, 0),
        (3, 1), (1, 0),
    ]
    df = spark.createDataFrame(
        [("g", s, p) for s, p in rows], "source string, n_chars int, pos int"
    )
    got = group_auc(
        df, label=(F2.col("pos") == 1)
    ).collect()[0]
    pos = [s for s, p in rows if p]
    neg = [s for s, p in rows if not p]
    want = sum(
        1.0 if a > b else (0.5 if a == b else 0.0) for a in pos for b in neg
    ) / (len(pos) * len(neg))
    assert got["n_pos"] == len(pos) and got["n_neg"] == len(neg)
    assert abs(got["auc"] - round(want + 1e-9, 6)) < 1e-9
    # perfect separation and perfect anti-separation pin the endpoints
    sep = spark.createDataFrame(
        [("g", 9, 1), ("g", 8, 1), ("g", 2, 0)],
        "source string, n_chars int, pos int",
    )
    assert group_auc(sep, label=(F2.col("pos") == 1)).collect()[0]["auc"] == 1.0


def test_cohens_kappa_matches_the_textbook_2x2(spark):
    """kappa on a crafted contingency table equals the hand-computed
    (po - pe) / (1 - pe); the degenerate both-gates-constant group is
    null, not an error."""
    from flink_elasticsearch_ingestion_spark.operators.quality import (
        gate_agreement_kappa,
    )

    long = "w " * 100  # 200 chars, 100 tokens -> a=0 (chars<300), b=1
    both = "x" * 300 + " y" * 99  # >=300 chars, 100 tokens -> a=1, b=1
    neither = "short"  # a=0, b=0
    a_only = "z" * 400  # 400 chars, 1 token -> a=1, b=0
    docs = spark.createDataFrame(
        [("s", both)] * 4 + [("s", neither)] * 3 + [("s", long)] * 2
        + [("s", a_only)] * 1 + [("t", "tiny")] * 2,
        "source string, text string",
    )
    out = {r["source"]: r for r in gate_agreement_kappa(docs).collect()}
    s = out["s"]
    assert (s["n11"], s["n10"], s["n01"], s["n00"]) == (4, 1, 2, 3)
    po = 7 / 10
    pe = (5 / 10) * (6 / 10) + (5 / 10) * (4 / 10)
    want = round((po - pe) / (1 - pe) + 1e-9, 6)
    assert abs(s["kappa"] - want) < 1e-9
    assert out["t"]["kappa"] is None  # pe == 1: chance-only, undefined


def test_rrf_fusion_places_consensus_docs_first(spark, sf_dir):
    """A document ranked by BOTH scorers must outscore one ranked by a
    single scorer at similar depth; fused scores equal the hand
    formula from the two rank columns."""
    from flink_elasticsearch_ingestion_spark.operators.text import (
        rrf_fusion,
    )
    from flink_elasticsearch_ingestion_spark.sources.tables import load_table

    out = rrf_fusion(
        load_table(spark, sf_dir, "documents"),
        ["spark", "merge", "window"],
        k=10,
    ).collect()
    assert len(out) == 10
    for r in out:
        want = 0.0
        if r["bm25_rank"] is not None:
            want += 1.0 / (60 + r["bm25_rank"])
        if r["ql_rank"] is not None:
            want += 1.0 / (60 + r["ql_rank"])
        assert abs(r["rrf"] - round(want + 1e-9, 6)) < 1e-9
    scores = [r["rrf"] for r in out]
    assert scores == sorted(scores, reverse=True)
