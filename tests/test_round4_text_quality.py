"""Tests for the round-4 text-quality additions: per-source lexical
diversity (TTR / hapax / Herdan's C) and OOV-rate against the corpus's
own top-k vocabulary."""

import math

from flink_elasticsearch_ingestion_spark.operators.text import (
    lexical_diversity,
    oov_rate,
)


def test_lexical_diversity_hand_computed(spark):
    docs = spark.createDataFrame(
        [
            (1, "a a b", "s1"),
            (2, "b c", "s1"),
            (3, "x x x x", "s2"),
        ],
        "doc_id long, text string, source string",
    )
    out = {r.source: r for r in lexical_diversity(docs).collect()}
    s1 = out["s1"]
    # s1 tokens: a:2 b:2 c:1 -> 5 tokens, 3 types, 1 hapax (c)
    assert s1.n_tokens == 5 and s1.n_types == 3 and s1.n_hapax == 1
    assert abs(s1.ttr - round(3 / 5 + 1e-9, 6)) < 1e-12
    assert abs(s1.hapax_ratio - round(1 / 3 + 1e-9, 6)) < 1e-12
    assert abs(s1.herdan_c - round(math.log(3) / math.log(5) + 1e-9, 6)) < 1e-12
    s2 = out["s2"]
    # degenerate source: one type, zero hapax, Herdan ln(1)/ln(4) = 0
    assert s2.n_tokens == 4 and s2.n_types == 1 and s2.n_hapax == 0
    assert s2.ttr == 0.25 and s2.hapax_ratio == 0.0 and s2.herdan_c == 0.0


def test_lexical_diversity_mixed_whitespace(spark):
    # \s+ tokenizer: tabs / newlines / multi-space must not create
    # empty or glued tokens (the ADVICE-r3 single-space-split trap)
    docs = spark.createDataFrame(
        [(1, "a\tb  c\nd", "s")], "doc_id long, text string, source string"
    )
    row = lexical_diversity(docs).collect()[0]
    assert row.n_tokens == 4 and row.n_types == 4 and row.n_hapax == 4


def test_oov_rate_hand_computed(spark):
    docs = spark.createDataFrame(
        [
            (1, "a a b", "s1"),
            (2, "a c", "s1"),
            (3, "b b d", "s2"),
        ],
        "doc_id long, text string, source string",
    )
    # counts: a:3 b:3 c:1 d:1 -> top-2 (count desc, token asc) = {a, b}
    out = {r.source: r for r in oov_rate(docs, vocab_size=2).collect()}
    s1 = out["s1"]
    assert s1.n_docs == 2 and s1.n_tokens == 5 and s1.n_oov == 1
    assert abs(s1.micro_oov_rate - round(1 / 5 + 1e-9, 6)) < 1e-12
    # macro: doc1 rate 0, doc2 rate 1/2 -> 0.25
    assert abs(s1.macro_oov_rate - round(0.25 + 1e-9, 6)) < 1e-12
    s2 = out["s2"]
    assert s2.n_docs == 1 and s2.n_tokens == 3 and s2.n_oov == 1
    assert abs(s2.micro_oov_rate - round(1 / 3 + 1e-9, 6)) < 1e-12
    assert s2.micro_oov_rate == s2.macro_oov_rate


def test_oov_rate_vocab_tiebreak_is_token_asc(spark):
    # b and c tie at count 2; vocab_size=1 must keep 'b' (token asc)
    docs = spark.createDataFrame(
        [(1, "b c", "s"), (2, "c b", "s")],
        "doc_id long, text string, source string",
    )
    row = oov_rate(docs, vocab_size=1).collect()[0]
    # 4 tokens, the two 'c' occurrences are OOV
    assert row.n_tokens == 4 and row.n_oov == 2


# ------------------------------------------------- CDC chunking

def _py_cdc(text, window=4, mask=16):
    """Pure-Python replica of the cdc_chunks boundary rule."""
    codes = [ord(c) for c in text]
    bounds = []
    for i in range(len(text)):  # pos = i + 1
        if i + 1 >= window:
            h = (
                codes[i]
                + 31 * codes[i - 1]
                + 961 * codes[i - 2]
                + 29791 * codes[i - 3]
            )
            if h % mask == 0:
                bounds.append(i + 1)
    chunks, start = [], 1
    for b in bounds:
        chunks.append(text[start - 1 : b])
        start = b + 1
    if start <= len(text):
        chunks.append(text[start - 1 :])
    return chunks


def test_cdc_chunks_match_python_replica_and_reassemble(spark):
    from flink_elasticsearch_ingestion_spark.operators.text import cdc_chunks

    texts = [
        "the quick brown fox jumps over the lazy dog and runs away fast",
        "lorem ipsum dolor sit amet consectetur adipiscing elit sed do",
        "aaaa bbbb cccc dddd eeee ffff gggg hhhh iiii jjjj kkkk llll",
    ]
    docs = spark.createDataFrame(
        [(i, t, "s") for i, t in enumerate(texts)],
        "doc_id long, text string, source string",
    )
    rows = cdc_chunks(docs).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_id, r.chunk_text))
    for i, t in enumerate(texts):
        got = [c for _, c in sorted(by_doc[i])]
        assert got == _py_cdc(t)          # exact boundary agreement
        assert "".join(got) == t          # lossless reassembly


def test_cdc_boundaries_survive_prefix_insertion(spark):
    """The CDC selling point: prepending text realigns within one
    chunk — every original chunk after the first boundary reappears
    verbatim in the edited doc's chunking."""
    from flink_elasticsearch_ingestion_spark.operators.text import cdc_chunks

    base = "the quick brown fox jumps over the lazy dog and runs away fast"
    edited = "INSERTED PREFIX " + base
    py_base, py_edit = _py_cdc(base), _py_cdc(edited)
    assert len(py_base) >= 3  # fixture actually chunks
    # all base chunks except (possibly) the first are preserved
    assert set(py_base[1:]) <= set(py_edit)
    docs = spark.createDataFrame(
        [(0, base, "s"), (1, edited, "s")],
        "doc_id long, text string, source string",
    )
    rows = cdc_chunks(docs).collect()
    got0 = [r.chunk_text for r in sorted(rows, key=lambda r: r.chunk_id) if r.doc_id == 0]
    got1 = {r.chunk_text for r in rows if r.doc_id == 1}
    assert set(got0[1:]) <= got1


# ------------------------------------------------- CUSUM change-points

def test_cusum_matches_python_recurrence_and_flags_shift(spark):
    """Level shift in the back half must push S+ over h while the
    front half stays quiet; values must equal the exact recurrence."""
    import datetime

    from flink_elasticsearch_ingestion_spark.operators.quality import (
        cusum_changepoints,
    )

    # 10 quiet days at ~100, then 10 shifted days at ~130
    vals = [100.0, 101.0, 99.0, 100.0, 102.0, 98.0, 100.0, 101.0, 99.0, 100.0]
    vals += [130.0, 131.0, 129.0, 130.0, 132.0, 128.0, 130.0, 131.0, 129.0, 130.0]
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, base + datetime.timedelta(days=i), float(v))
        for i, v in enumerate(vals)
    ]
    orders = spark.createDataFrame(
        rows, "o_orderkey long, o_orderdate timestamp, o_totalprice double"
    )
    out = cusum_changepoints(orders).collect()
    assert len(out) == 20

    # replica with identical pre-rounding
    import statistics

    mu = round(sum(vals) / len(vals) + 1e-9, 2)
    sigma = round(statistics.stdev(vals) + 1e-9, 2)
    k, h = 0.5 * sigma, 4.0 * sigma
    sp = sn = 0.0
    for r, x in zip(out, vals):
        sp = max(0.0, sp + x - mu - k)
        sn = max(0.0, sn - (x - mu) - k)
        assert r.s_pos == round(sp + 1e-9, 4)
        assert r.s_neg == round(sn + 1e-9, 4)
        assert r.alarm == (sp > h or sn > h)
    # a step vs the GLOBAL mean shows up on both sides: the low half
    # drives S- (never S+), the high half drives S+ — and the very
    # first days are quiet until slack is overcome
    assert not any(r.alarm for r in out[:3])
    assert all(r.s_pos == 0.0 for r in out[:10])
    assert any(r.alarm and r.s_neg > 0 for r in out[:10])
    assert any(r.alarm and r.s_pos > 0 for r in out[10:])


# -------------------------------------- quality-aware dedup survivors

def test_quality_survivor_beats_min_id(spark):
    """A cluster whose LOWEST-id member is degenerate must keep the
    higher-entropy twin — the policy difference vs near_dup_clusters."""
    from flink_elasticsearch_ingestion_spark.operators.dedup import (
        near_dup_clusters,
        quality_dedup_survivors,
    )

    rich = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            # doc 1: repetitive (low entropy) near-dup of doc 2's shingles
            (1, "alpha beta gamma delta epsilon zeta eta theta iota iota"),
            (2, rich),
            # isolated doc — singleton cluster keeps itself
            (7, "completely unrelated words nothing shared here at all ok"),
        ],
        "doc_id long, text string",
    )
    kw = dict(jaccard_threshold=0.5, band_cap=None)
    legacy = {
        r.component: r.keep_doc_id for r in near_dup_clusters(docs, **kw).collect()
    }
    quality = {
        r.component: r for r in quality_dedup_survivors(docs, **kw).collect()
    }
    # both see the same {1,2} cluster keyed by min node
    assert set(legacy) == set(quality)
    assert legacy[1] == 1                      # min-id policy
    assert quality[1].keep_doc_id == 2         # quality policy
    assert quality[1].cluster_size == 2
    # singletons never enter the duplicate subgraph in either policy
    assert 7 not in quality


# -------------------------------------------- centroid-margin label scan

def test_centroid_margin_flags_planted_mislabel(spark):
    from flink_elasticsearch_ingestion_spark.operators.embeddings import (
        centroid_margin,
    )

    # two tight clusters around (0,0) and (10,10); vec 99 sits in
    # cluster B but carries label 0
    rows = [
        (1, [0.0, 0.1], 0),
        (2, [0.1, 0.0], 0),
        (3, [0.0, 0.0], 0),
        (11, [10.0, 10.1], 1),
        (12, [10.1, 10.0], 1),
        (13, [10.0, 10.0], 1),
        (99, [10.0, 10.05], 0),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {r.vec_id: r for r in centroid_margin(emb).collect()}
    assert out[99].suspect and out[99].margin < 0
    assert out[99].nearest_other_label == 1
    for vid in (1, 2, 3, 11, 12, 13):
        assert not out[vid].suspect and out[vid].margin > 0


# ------------------------------------- kNN label-disagreement scan

def test_label_disagreement_flags_planted_mislabel(spark):
    """A vector embedded inside the other class's cluster must show
    majority disagreement among its neighbors; core members must not."""
    import random

    from flink_elasticsearch_ingestion_spark.operators.similarity import (
        label_disagreement_knn,
    )

    rng = random.Random(7)
    rows = []
    # two well-separated gaussian blobs in 8d, 20 vectors each
    for i in range(20):
        rows.append((i, [1.0 + rng.gauss(0, 0.05) for _ in range(8)], 0))
    for i in range(20, 40):
        rows.append((i, [-1.0 + rng.gauss(0, 0.05) for _ in range(8)], 1))
    # planted: lives in blob B, labeled 0
    rows.append((99, [-1.0 + rng.gauss(0, 0.05) for _ in range(8)], 0))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {
        r.vec_id: r
        for r in label_disagreement_knn(emb, k=5, bits=2, tables=4).collect()
    }
    assert out[99].suspect and out[99].disagreement > 0.5
    # blob cores agree with their neighbors (99 may appear as one
    # neighbor of a B-core vector, so allow <= 1 disagreeing neighbor)
    for vid in range(40):
        if vid in out:
            assert out[vid].n_disagree <= 1 and not out[vid].suspect


# ------------------------------------------ greedy k-center selection

def test_kcenter_select_matches_bruteforce_greedy(spark):
    """The Spark farthest-point traversal must walk the exact greedy
    trajectory of a pure-Python replica (same seed=min id, same 4dp
    rounding, same id-asc tie-break)."""
    import random

    from flink_elasticsearch_ingestion_spark.operators.embeddings import (
        kcenter_select,
    )

    rng = random.Random(13)
    vecs = {i: [rng.uniform(-1, 1) for _ in range(6)] for i in range(30)}
    emb = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()],
        "vec_id long, embedding array<float>",
    )
    # replica: float32 cast first (matches array<float> storage)
    import struct

    def f32(x):
        return struct.unpack("f", struct.pack("f", x))[0]

    pv = {i: [f32(x) for x in v] for i, v in vecs.items()}

    def d2(a, b):
        return round(sum((x - y) * (x - y) for x, y in zip(a, b)) + 1e-9, 4)

    k = 6
    chosen = [(0, 0, 0.0)]
    md = {i: d2(v, pv[0]) for i, v in pv.items()}
    for rank in range(1, k):
        pool = [i for i in pv if i not in {c[1] for c in chosen}]
        far = max(pool, key=lambda i: (md[i], -i))
        chosen.append((rank, far, md[far]))
        md = {i: min(md[i], d2(pv[i], pv[far])) for i in pv}
    got = [(r.rank, r.vec_id, r.dist) for r in kcenter_select(emb, k=k).collect()]
    assert got == [(r, i, d) for r, i, d in chosen]
    # coverage-radius curve is non-increasing after the seed row
    dists = [d for _, _, d in got[1:]]
    assert dists == sorted(dists, reverse=True)


def test_kcenter_select_k_exceeds_rows(spark):
    from flink_elasticsearch_ingestion_spark.operators.embeddings import (
        kcenter_select,
    )

    emb = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [3.0, 4.0])],
        "vec_id long, embedding array<float>",
    )
    out = kcenter_select(emb, k=5).collect()
    assert [r.vec_id for r in out] == [1, 2]
    assert abs(out[1].dist - 25.0) < 1e-6


# ------------------------------------------ fixed-iteration k-means

def test_kmeans_fixed_recovers_planted_clusters(spark):
    """Three tight, well-separated blobs with k=3 must converge to one
    cluster per blob with near-zero inertia."""
    import random

    from flink_elasticsearch_ingestion_spark.operators.embeddings import (
        kmeans_fixed,
    )

    rng = random.Random(5)
    rows = []
    centers = [(-5.0, -5.0), (0.0, 5.0), (5.0, -5.0)]
    for i in range(60):
        cx, cy = centers[i % 3]
        rows.append(
            (i, [cx + rng.gauss(0, 0.01), cy + rng.gauss(0, 0.01)])
        )
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    out = kmeans_fixed(emb, k=3, iters=3).collect()
    assert sorted(r.n_members for r in out) == [20, 20, 20]
    assert all(r.inertia < 0.1 for r in out)


def test_kmeans_fixed_matches_python_replica(spark):
    """Exact trajectory differential: quantized-int updates + 4dp
    distances + lowest-cluster tie-break replayed in pure Python."""
    import math
    import random
    import struct

    from flink_elasticsearch_ingestion_spark.operators.embeddings import (
        kmeans_fixed,
    )

    def f32(x):
        return struct.unpack("f", struct.pack("f", x))[0]

    rng = random.Random(11)
    vecs = {
        i: [f32(rng.uniform(-1, 1)) for _ in range(5)] for i in range(40)
    }
    emb = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()],
        "vec_id long, embedding array<float>",
    )
    k, iters = 4, 3
    iv = {
        i: [math.floor(abs(x * 1e4) + 0.5) * (1 if x >= 0 else -1) for x in v]
        for i, v in vecs.items()
    }
    cents = [iv[i] for i in sorted(vecs)[:k]]

    def assign(cs):
        out = {}
        for i, v in vecs.items():
            ds = []
            for j, m in enumerate(cs):
                d = 0.0
                for x, mm in zip(v, m):
                    c = mm / 1e4
                    d = d + (x - c) * (x - c)
                ds.append((round(d + 1e-9, 4), j))
            out[i] = min(ds)
        return out

    for _ in range(iters):
        a = assign(cents)
        newc = []
        for j in range(k):
            members = [i for i, (_, cl) in a.items() if cl == j]
            if not members:
                newc.append(cents[j])
                continue
            n = len(members)
            newc.append(
                [
                    math.floor(
                        (2 * sum(iv[i][d] for i in members) + n) / (2 * n)
                    )
                    for d in range(5)
                ]
            )
        cents = newc
    a = assign(cents)
    expect = {}
    for i, (d, cl) in a.items():
        n, s = expect.get(cl, (0, 0))
        expect[cl] = (n + 1, s + math.floor(abs(d * 1e4) + 0.5))
    got = {
        r.cluster_id: (r.n_members, round(r.inertia * 1e4))
        for r in kmeans_fixed(emb, k=k, iters=iters).collect()
    }
    assert got == {cl: (n, s) for cl, (n, s) in expect.items()}


def test_kmeans_fixed_empty_cluster_keeps_centroid(spark):
    """k exceeding the number of distinct points: duplicate initial
    centroids leave clusters empty; the run must not crash and every
    point lands in the lowest-id duplicate centroid."""
    from flink_elasticsearch_ingestion_spark.operators.embeddings import (
        kmeans_fixed,
    )

    emb = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [0.0, 0.0]), (3, [9.0, 9.0])],
        "vec_id long, embedding array<float>",
    )
    out = kmeans_fixed(emb, k=3, iters=2).collect()
    got = {r.cluster_id: r.n_members for r in out}
    # clusters 0 and 1 start identical -> ties go to cluster 0;
    # cluster 1 stays empty and emits no row
    assert got == {0: 2, 2: 1}
    assert all(r.inertia < 1e-6 for r in out)


# ------------------------------------- Holt linear-trend forecasting

def test_holt_forecast_tracks_linear_trend(spark):
    """On an exactly linear series Holt's recurrence locks onto the
    trend: in-sample forecasts converge to the truth and every
    future-horizon row extrapolates the line exactly."""
    import datetime

    from flink_elasticsearch_ingestion_spark.operators.windows import (
        holt_forecast,
    )

    base = datetime.date(2024, 1, 1)
    rows = []
    oid = 0
    for t in range(30):
        # revenue = 100 + 10*t, split across two orders
        for part in (40.0, 60.0 + 10.0 * t):
            rows.append((oid, base + datetime.timedelta(days=t), part))
            oid += 1
    orders = spark.createDataFrame(
        rows, "o_orderkey long, o_orderdate date, o_totalprice double"
    )
    out = holt_forecast(orders, horizon=3).collect()
    ins = [r for r in out if r.horizon == 0]
    fut = sorted(
        (r for r in out if r.horizon > 0), key=lambda r: r.horizon
    )
    assert ins[0].forecast is None and len(fut) == 3
    # after burn-in the one-step error vanishes (geometric decay)
    for r in ins[-5:]:
        assert abs(r.forecast - r.revenue) < 0.01
    for h, r in enumerate(fut, start=1):
        assert r.revenue is None
        assert abs(r.forecast - (100.0 + 10.0 * (29 + h))) < 0.05
        assert r.day.date() == base + datetime.timedelta(days=29 + h)


def test_holt_forecast_matches_python_recurrence(spark):
    """Bit-level differential: the fold must equal the textbook
    recurrence computed in Python on the same 2dp-rounded inputs."""
    import datetime
    import random

    from flink_elasticsearch_ingestion_spark.operators.windows import (
        holt_forecast,
    )

    rng = random.Random(3)
    base = datetime.date(2023, 6, 1)
    ys = [round(rng.uniform(50, 150), 2) for _ in range(20)]
    orders = spark.createDataFrame(
        [
            (i, base + datetime.timedelta(days=i), y)
            for i, y in enumerate(ys)
        ],
        "o_orderkey long, o_orderdate date, o_totalprice double",
    )
    l, b = ys[0], 0.0
    expect = [None]
    for y in ys[1:]:
        expect.append(round(l + b + 1e-9, 4))
        nl = 0.5 * y + 0.5 * (l + b)
        b = 0.5 * (nl - l) + 0.5 * b
        l = nl
    out = holt_forecast(orders, horizon=2).collect()
    ins = [r.forecast for r in out if r.horizon == 0]
    assert ins == expect
    fut = {r.horizon: r.forecast for r in out if r.horizon > 0}
    assert fut == {
        1: round(l + 1.0 * b + 1e-9, 4),
        2: round(l + 2.0 * b + 1e-9, 4),
    }


# ---------------------------------------- Pareto skyline selection

def test_skyline_docs_dominance(spark):
    """Hand-built frontier: dominated docs drop, ties survive, empty
    docs never appear."""
    from flink_elasticsearch_ingestion_spark.operators.text import (
        skyline_docs,
    )

    docs = spark.createDataFrame(
        [
            # 4 tokens, all distinct -> ttr 1.0 (frontier: longest)
            (1, "a b c d"),
            # 4 tokens, ttr 0.5 -> dominated by doc 1 (same x, lower y)
            (2, "a a b b"),
            # 3 tokens, ttr 1.0 -> dominated by doc 1 (shorter, same y)
            (3, "a b c"),
            # 2 tokens ttr 1.0 dominated by 1; but nothing beats 1
            (4, "x y"),
            # duplicate point of doc 1 -> tie, both kept
            (5, "p q r s"),
            (6, "   "),
        ],
        "doc_id long, text string",
    )
    out = skyline_docs(docs).collect()
    assert [(r.doc_id, r.n_tokens, r.ttr) for r in out] == [
        (1, 4, 1.0),
        (5, 4, 1.0),
    ]


def test_skyline_docs_matches_bruteforce(spark):
    """Random corpus: frontier == brute-force O(n^2) dominance scan."""
    import random

    from flink_elasticsearch_ingestion_spark.operators.text import (
        skyline_docs,
    )

    rng = random.Random(21)
    words = [f"w{i}" for i in range(12)]
    rows = []
    for i in range(60):
        n = rng.randint(1, 25)
        rows.append((i, " ".join(rng.choice(words) for _ in range(n))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pts = {}
    for i, text in rows:
        t = [x for x in text.lower().split() if x]
        pts[i] = (len(t), round(len(set(t)) / len(t) + 1e-9, 4))
    keep = []
    for i, (x, y) in pts.items():
        dominated = any(
            (x2 >= x and y2 >= y and (x2 > x or y2 > y))
            for j, (x2, y2) in pts.items()
            if j != i
        )
        if not dominated:
            keep.append((x, i))
    expect = [i for x, i in sorted(keep, key=lambda p: (-p[0], p[1]))]
    got = [r.doc_id for r in skyline_docs(docs).collect()]
    assert got == expect


# ------------------------------------ DP histogram release audit

def test_dp_histogram_matches_python_replica(spark):
    """Noise replay: sign bit + trailing-zero geometric magnitude of
    the seeded md5-31 hash, zero clamp — exact integer differential."""
    import hashlib

    from flink_elasticsearch_ingestion_spark.operators.quality import (
        dp_histogram,
    )

    rows = [(f"g{i % 7}", i) for i in range(50)] + [("rare", 0)]
    df = spark.createDataFrame(rows, "grp string, x long")
    out = {r.grp: r for r in dp_histogram(df, ["grp"]).collect()}

    def py_noise(key):
        h = int(hashlib.md5(f"dp-seed-0|{key}".encode()).hexdigest()[:8], 16)
        h %= 2147483647
        sign = 1 if h % 2 == 1 else -1
        v = h // 2
        tz = 0
        while tz < 20 and v % (2 ** (tz + 1)) == 0:
            tz += 1
        return sign * tz

    for key in {g for g, _ in rows}:
        true = sum(1 for g, _ in rows if g == key)
        n = py_noise(key)
        r = out[key]
        assert (r.true_count, r.noise, r.noisy_count) == (
            true,
            n,
            max(0, true + n),
        )


def test_dp_histogram_noise_distribution(spark):
    """Across many groups the geometric magnitudes must look like
    P(|z|=m)=2^-(m+1): >=40% zeros, heavy mass at small magnitudes,
    and the clamp keeps counts non-negative."""
    from flink_elasticsearch_ingestion_spark.operators.quality import (
        dp_histogram,
    )

    df = spark.createDataFrame(
        [(f"group-{i}", 1) for i in range(400)], "grp string, one int"
    )
    out = dp_histogram(df, ["grp"]).collect()
    mags = [abs(r.noise) for r in out]
    assert sum(1 for m in mags if m == 0) >= 0.4 * len(mags)
    assert sum(1 for m in mags if m <= 2) >= 0.8 * len(mags)
    assert max(mags) <= 20
    assert all(r.noisy_count >= 0 for r in out)
    signs = [r.noise for r in out if r.noise != 0]
    pos = sum(1 for s in signs if s > 0)
    assert 0.3 < pos / len(signs) < 0.7


# ---------------------------------------------- l-diversity audit

def test_l_diversity_flags_homogeneous_group(spark):
    """A k-anonymous group whose sensitive attribute is uniform must
    be flagged; a diverse group must not."""
    from flink_elasticsearch_ingestion_spark.operators.quality import (
        l_diversity_audit,
    )

    rows = (
        # group A: 5 members, all share sensitive value 1 -> at risk
        [("A", "x", 1)] * 5
        # group B: 5 members, 5 distinct sensitive values -> safe
        + [("B", "x", v) for v in range(5)]
        # group C: 4 members, 2 distinct -> at risk (l=3)
        + [("C", "y", 1), ("C", "y", 1), ("C", "y", 2), ("C", "y", 2)]
    )
    df = spark.createDataFrame(rows, "qi1 string, qi2 string, s int")
    out = {
        r.qi_values: (r.group_size, r.n_sensitive)
        for r in l_diversity_audit(df, ["qi1", "qi2"], "s", l=3).collect()
    }
    assert out == {
        "A|x": (5, 1),
        "C|y": (4, 2),
        "__TOTAL__": (2, 9),
    }


# --------------------------------- matryoshka truncation recall eval

def test_dim_truncation_recall_extremes(spark):
    """If the first half of every vector carries ALL the signal,
    truncated retrieval is perfect (recall 1.0); if it carries NONE,
    recall collapses toward chance."""
    import random

    from flink_elasticsearch_ingestion_spark.operators.embeddings import (
        dim_truncation_recall,
    )

    rng = random.Random(9)

    def corpus(signal_first_half):
        rows = []
        for i in range(40):
            sig = [rng.gauss(0, 1) for _ in range(4)]
            noise = [0.001 * rng.gauss(0, 1) for _ in range(4)]
            v = (sig + noise) if signal_first_half else (noise + sig)
            rows.append((i, v))
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )

    good = dim_truncation_recall(
        corpus(True), trunc_dim=4, k=5, n_queries=4
    ).collect()
    assert all(r.recall > 0.95 for r in good)
    bad = dim_truncation_recall(
        corpus(False), trunc_dim=4, k=5, n_queries=4
    ).collect()
    assert sum(r.recall for r in bad) / len(bad) < 0.6
    # schema sanity
    assert {r.query_id for r in good} == {0, 1, 2, 3}
    assert all(r.n_overlap == round(r.recall * 5) for r in good)


# ------------------------------------------- grouped closed-form OLS

def test_groupwise_ols_recovers_planted_lines(spark):
    """Exact lines per group -> slope/intercept recovered, r2 = 1;
    a pure-noise group -> r2 near 0; a constant-x group -> nulls."""
    from decimal import Decimal

    from flink_elasticsearch_ingestion_spark.operators.relational import (
        groupwise_ols,
    )

    rows = []
    # group a: y = 3x + 10 exactly
    for x in range(1, 21):
        rows.append(("a", Decimal(x), Decimal(3 * x + 10)))
    # group b: y alternates independent of x
    for x in range(1, 21):
        rows.append(("b", Decimal(x % 4), Decimal(100 if x % 2 else -100)))
    # group c: constant x -> zero x-variance -> null fit
    for x in range(5):
        rows.append(("c", Decimal(7), Decimal(x)))
    df = spark.createDataFrame(
        rows, "grp string, x decimal(18,2), y decimal(18,2)"
    )
    out = {r.grp: r for r in groupwise_ols(df, ["grp"], "x", "y").collect()}
    assert abs(out["a"].slope - 3.0) < 1e-6
    assert abs(out["a"].intercept - 10.0) < 1e-6
    assert abs(out["a"].r2 - 1.0) < 1e-6
    assert out["b"].r2 <= 0.25
    assert out["c"].slope is None and out["c"].r2 is None
    assert out["a"].n == 20 and out["c"].n == 5


def test_groupwise_ols_matches_numpy(spark):
    """Random-data differential against numpy polyfit / corrcoef."""
    import random
    from decimal import Decimal

    import numpy as np

    from flink_elasticsearch_ingestion_spark.operators.relational import (
        groupwise_ols,
    )

    rng = random.Random(17)
    xs = [round(rng.uniform(0, 100), 2) for _ in range(200)]
    ys = [round(2.5 * x + rng.gauss(0, 25), 2) for x in xs]
    df = spark.createDataFrame(
        [("g", Decimal(str(x)), Decimal(str(y))) for x, y in zip(xs, ys)],
        "grp string, x decimal(18,2), y decimal(18,2)",
    )
    r = groupwise_ols(df, ["grp"], "x", "y").collect()[0]
    slope, intercept = np.polyfit(xs, ys, 1)
    r2 = np.corrcoef(xs, ys)[0, 1] ** 2
    assert abs(r.slope - slope) < 1e-4
    assert abs(r.intercept - intercept) < 1e-4
    assert abs(r.r2 - r2) < 1e-6


# --------------------------------------------- TextRank keywords

def test_textrank_hub_token_ranks_first(spark):
    """A token adjacent to every other token (a star hub) must out-rank
    the leaves; rank mass is deterministic integers."""
    from flink_elasticsearch_ingestion_spark.operators.text import (
        textrank_keywords,
    )

    docs = spark.createDataFrame(
        [
            (1, "hub alpha hub beta hub gamma hub delta"),
            (2, "hub alpha hub beta hub gamma"),
        ],
        "doc_id long, text string",
    )
    out = textrank_keywords(docs, n_iter=4, top_k=10).collect()
    assert out[0].token == "hub"
    assert out[0].rank_score > max(r.rank_score for r in out[1:])
    leaves = {r.token for r in out[1:]}
    assert leaves == {"alpha", "beta", "gamma", "delta"}


def test_textrank_matches_python_fixed_point(spark):
    """Exact integer differential: the (w*r)//W and (85*m)//100 int
    recurrence replayed in pure Python must match bit-for-bit."""
    import random
    from collections import defaultdict

    from flink_elasticsearch_ingestion_spark.operators.text import (
        textrank_keywords,
    )

    rng = random.Random(23)
    words = ["apple", "berry", "cedar", "delta", "ember", "frost"]
    rows = [
        (i, " ".join(rng.choice(words) for _ in range(12)))
        for i in range(10)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    und = defaultdict(int)
    for _, text in rows:
        t = [x for x in text.lower().split() if len(x) >= 3]
        for a, b in zip(t, t[1:]):
            if a != b:
                und[(min(a, b), max(a, b))] += 1
    edges = defaultdict(dict)
    for (u, v), w in und.items():
        edges[u][v] = edges[u].get(v, 0) + w
        edges[v][u] = edges[v].get(u, 0) + w
    wu = {u: sum(nb.values()) for u, nb in edges.items()}
    r = {u: 1_000_000 for u in wu}
    for _ in range(4):
        mass = defaultdict(int)
        for u, nb in edges.items():
            for v, w in nb.items():
                mass[v] += (w * r[u]) // wu[u]
        r = {u: 150_000 + (85 * mass.get(u, 0)) // 100 for u in wu}
    expect = sorted(
        ((u, wu[u], r[u] / 1_000_000.0) for u in wu),
        key=lambda x: (-x[2], x[0]),
    )[:10]
    got = [
        (x.token, x.weighted_degree, x.rank_score)
        for x in textrank_keywords(docs, n_iter=4, top_k=10).collect()
    ]
    assert got == expect


# ------------------------------------------ weighted quantiles

def test_weighted_quantiles_hand_case(spark):
    """Lower weighted median: value whose cumulative weight first
    reaches the threshold — verified against a hand computation."""
    from flink_elasticsearch_ingestion_spark.operators.relational import (
        weighted_quantiles,
    )

    rows = [
        # group a: values 1..4 with weights 1, 1, 6, 2 (total 10)
        # cum: 1, 2, 8, 10 -> p25 -> first cum>=2.5 -> 3;
        # p50 -> first cum>=5 -> 3; p75 -> first cum>=7.5 -> 3
        ("a", 1, 1), ("a", 2, 1), ("a", 3, 6), ("a", 4, 2),
        # group b: uniform weights over 1..4 -> cum 1,2,3,4
        # p25 -> 1, p50 -> 2, p75 -> 3
        ("b", 1, 1), ("b", 2, 1), ("b", 3, 1), ("b", 4, 1),
    ]
    df = spark.createDataFrame(rows, "grp string, v int, w long")
    out = {r.grp: r for r in weighted_quantiles(df, "grp", "v", "w").collect()}
    assert (out["a"].p25, out["a"].p50, out["a"].p75) == (3, 3, 3)
    assert (out["b"].p25, out["b"].p50, out["b"].p75) == (1, 2, 3)
    assert out["a"].total_weight == 10 and out["b"].total_weight == 4


def test_weighted_quantiles_matches_expansion(spark):
    """Weighted median == unweighted lower median of the
    frequency-expanded multiset, on random integer data."""
    import random

    from flink_elasticsearch_ingestion_spark.operators.relational import (
        weighted_quantiles,
    )

    rng = random.Random(31)
    rows = [
        ("g", rng.randint(1, 12), rng.randint(1, 9)) for _ in range(80)
    ]
    df = spark.createDataFrame(rows, "grp string, v int, w long")
    out = weighted_quantiles(df, "grp", "v", "w").collect()[0]
    expanded = sorted(v for _, v, w in rows for _ in range(w))
    n = len(expanded)
    for p, got in ((25, out.p25), (50, out.p50), (75, out.p75)):
        # lower quantile: smallest v with cum >= p% of total
        idx = -(-n * p // 100)  # ceil(n*p/100)
        assert got == expanded[idx - 1]


# ------------------------------------------- relational division

def test_relational_division_explicit_divisor(spark):
    """Division by an explicit divisor set: extras in the dividend are
    ignored; partial coverage fails; the empty-divisor edge returns
    everything-with-zero? No: nothing (need=0 matches only entities
    with 0 rows, which never appear)."""
    from flink_elasticsearch_ingestion_spark.operators.relational import (
        relational_division,
    )

    taken = spark.createDataFrame(
        [
            ("alice", "sql"), ("alice", "spark"), ("alice", "extras"),
            ("bob", "sql"),
            ("carol", "spark"), ("carol", "sql"),
        ],
        "student string, course string",
    )
    required = spark.createDataFrame(
        [("sql",), ("spark",)], "course string"
    )
    out = relational_division(taken, "student", "course", required).collect()
    assert [(r.entity, r.n_values) for r in out] == [
        ("alice", 2),
        ("carol", 2),
    ]
    # active-domain division: only entities covering ALL courses seen
    out2 = relational_division(taken, "student", "course").collect()
    assert [r.entity for r in out2] == ["alice"]


# ---------------------------------------- join-size estimation

def test_join_size_estimate_never_underestimates(spark):
    """CMS inner product >= true join size always; exact on
    collision-free data; overestimate grows only via collisions."""
    from flink_elasticsearch_ingestion_spark.operators.relational import (
        join_size_estimate,
    )

    left = spark.createDataFrame(
        [(k, "l") for k in range(30) for _ in range(k % 3 + 1)],
        "k long, side string",
    )
    right = spark.createDataFrame(
        [(k, "r") for k in range(15, 45) for _ in range(2)],
        "k long, side string",
    )
    r = join_size_estimate(left, right, "k", "k", width=64).collect()[0]
    true = sum(2 * (k % 3 + 1) for k in range(15, 30))
    assert r.true_join_size == true
    assert r.est_join_size >= r.true_join_size
    assert r.overestimate == r.est_join_size - r.true_join_size
    assert r.n_left == sum(k % 3 + 1 for k in range(30))
    assert r.n_right == 60
    # with a wide sketch the estimate should be tight-ish
    r2 = join_size_estimate(left, right, "k", "k", width=4096).collect()[0]
    assert r2.est_join_size - r2.true_join_size <= r.est_join_size - r.true_join_size
    assert r2.rel_error < 0.5


def test_join_size_estimate_disjoint_keys(spark):
    """Disjoint key sets: true size 0, rel_error null."""
    from flink_elasticsearch_ingestion_spark.operators.relational import (
        join_size_estimate,
    )

    left = spark.createDataFrame([(k,) for k in range(10)], "k long")
    right = spark.createDataFrame([(k,) for k in range(100, 110)], "k long")
    r = join_size_estimate(left, right, "k", "k").collect()[0]
    assert r.true_join_size == 0 and r.rel_error is None
    assert r.est_join_size >= 0


# ------------------------------------- incremental join-view IVM

def test_incremental_join_view_equals_full_recompute(spark):
    """The delta-join algebra must reproduce the naive join exactly,
    including orders/customers that fall in every delta quadrant."""
    import datetime

    from flink_elasticsearch_ingestion_spark.operators.copy import (
        incremental_join_view,
    )

    d_old = datetime.date(1996, 6, 1)
    d_new = datetime.date(1997, 6, 1)
    orders = spark.createDataFrame(
        [
            # (orderkey, custkey, date, price): old/new x old/new cust
            (1, 1, d_old, 100.0),   # old order, old cust (1%10 != 0)
            (2, 10, d_old, 200.0),  # old order, NEW cust (10%10 == 0)
            (3, 1, d_new, 400.0),   # new order, old cust
            (4, 20, d_new, 800.0),  # new order, new cust
            (5, 99, d_new, 50.0),   # new order, no matching cust
        ],
        "o_orderkey long, o_custkey long, o_orderdate date,"
        " o_totalprice double",
    )
    customer = spark.createDataFrame(
        [(1, "BUILDING"), (10, "AUTO"), (20, "AUTO"), (30, "MACHINERY")],
        "c_custkey long, c_mktsegment string",
    )
    out = {
        r.segment: (r.n_orders, r.revenue)
        for r in incremental_join_view(orders, customer).collect()
    }
    # full recompute: BUILDING gets orders 1+3, AUTO gets 2+4
    assert out == {
        "BUILDING": (2, 500.0),
        "AUTO": (2, 1000.0),
    }


# ------------------------------------------ Hilbert layout key

def test_hilbert_value_matches_reference_walk(spark):
    """Exact differential vs the textbook xy2d walk on a full 16x16
    grid, plus the locality property that justifies Hilbert over
    Morton: consecutive keys are always grid neighbors."""
    from pyspark.sql import functions as F

    from flink_elasticsearch_ingestion_spark.sources.layout import (
        hilbert_value,
    )

    def xy2d(n, x, y):
        d, s = 0, n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = s - 1 - x, s - 1 - y
                x, y = y, x
            s //= 2
        return d

    df = spark.createDataFrame(
        [(x, y) for x in range(16) for y in range(16)], "x long, y long"
    )
    rows = df.select(
        "x", "y", hilbert_value(F.col("x"), F.col("y"), bits=4).alias("h")
    ).collect()
    assert all(r.h == xy2d(16, r.x, r.y) for r in rows)
    assert sorted(r.h for r in rows) == list(range(256))  # bijection
    by_h = {r.h: (r.x, r.y) for r in rows}
    assert all(
        abs(by_h[i][0] - by_h[i + 1][0]) + abs(by_h[i][1] - by_h[i + 1][1])
        == 1
        for i in range(255)
    )


# -------------------------------------- power-iteration component

def test_top_component_matches_numpy_eigh(spark):
    """On a corpus with one dominant direction, 5 power iterations
    recover numpy's top eigenvector (up to sign) and eigenvalue."""
    import random

    import numpy as np

    from flink_elasticsearch_ingestion_spark.operators.embeddings import (
        top_component,
    )

    rng = random.Random(41)
    axis = np.array([3.0, 1.0, 0.5, 0.25])
    axis /= np.linalg.norm(axis)
    rows = []
    for i in range(300):
        v = rng.gauss(0, 5) * axis + np.array(
            [rng.gauss(0, 0.3) for _ in range(4)]
        )
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = top_component(emb, iters=5, dim=4).collect()
    v = np.array([r.loading for r in sorted(out, key=lambda r: r.dim_index)])
    lam = out[0].eigenvalue
    X = np.array([r[1] for r in rows])
    G = X.T @ X
    evals, evecs = np.linalg.eigh(G)
    top = evecs[:, -1]
    cos = abs(float(v @ top) / (np.linalg.norm(v) * np.linalg.norm(top)))
    assert cos > 0.999
    assert abs(lam - evals[-1]) / evals[-1] < 0.01
    assert abs(np.linalg.norm(v) - 1.0) < 1e-4
    assert all(r.eigenvalue == lam for r in out)
