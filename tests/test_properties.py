"""Property-style tests (SURVEY.md §5.2.4) over generated inputs.

hypothesis drives the data generation; each property is a semantic
invariant of the engine, not a point example:
- last-wins dedup is idempotent and keeps the true max-ts row per key;
- incremental(t0..t1) ∪ incremental(t1..∞) ≡ full copy (exact split);
- MinHash signature agreement estimates Jaccard within statistical
  tolerance on adversarial token multisets;
- URL parsing applies the reference's 9200 default exactly when the
  port is absent (core.clj:43 semantics).
"""

import datetime as dt

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from flink_elasticsearch_ingestion_spark.operators import copy as C
from flink_elasticsearch_ingestion_spark.operators import dedup as D
from flink_elasticsearch_ingestion_spark.functions import urls as U

_SETTINGS = dict(
    max_examples=10,  # each example spins Spark jobs; keep bounded
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),  # doc_id: few keys -> collisions
        st.integers(min_value=0, max_value=10**6),  # ts offset seconds
        st.text(alphabet="abc", min_size=0, max_size=5),  # payload
    ),
    min_size=1,
    max_size=40,
)


def _frame(spark, rows):
    base = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [(d, base + dt.timedelta(seconds=s), p) for d, s, p in rows],
        "doc_id long, ts timestamp, payload string",
    )


@given(rows=_EVENTS)
@settings(**_SETTINGS)
def test_last_wins_idempotent_and_max_ts(spark, rows):
    df = _frame(spark, rows)
    once = C.last_wins(df, key="doc_id", order_col="ts")
    twice = C.last_wins(once, key="doc_id", order_col="ts")
    got = {r.doc_id: r.ts for r in once.collect()}
    # idempotent
    assert sorted(once.collect()) == sorted(twice.collect())
    # one row per key, carrying that key's max ts
    expect = {}
    base = dt.datetime(2024, 1, 1)
    for d, s, _ in rows:
        ts = base + dt.timedelta(seconds=s)
        expect[d] = max(expect.get(d, ts), ts)
    assert got == expect


@given(rows=_EVENTS, split=st.integers(min_value=0, max_value=10**6))
@settings(**_SETTINGS)
def test_incremental_split_equals_full(spark, rows, split):
    """copy(≤t1) ∪ copy(>t1) over the raw stream re-deduped == full copy
    (the union of window splits must lose and invent nothing)."""
    df = _frame(spark, rows)
    cut = dt.datetime(2024, 1, 1) + dt.timedelta(seconds=split)
    lo = df.filter(F.col("ts") <= F.lit(cut))
    hi = df.filter(F.col("ts") > F.lit(cut))
    merged = C.last_wins(lo.unionByName(hi), key="doc_id", order_col="ts")
    full = C.last_wins(df, key="doc_id", order_col="ts")
    assert sorted(merged.collect()) == sorted(full.collect())


@given(
    a=st.sets(st.text(alphabet="abcdef", min_size=1, max_size=6), min_size=3, max_size=30),
    overlap=st.sets(st.text(alphabet="ghijkl", min_size=1, max_size=6), min_size=0, max_size=30),
)
@settings(**_SETTINGS)
def test_minhash_signature_estimates_jaccard(spark, a, overlap):
    """Signature slot agreement between two token sets approximates
    their true Jaccard: E[match fraction] = J; with 64 hashes the
    error stays within ~4 sigma = 4*sqrt(J(1-J)/64) + slack. The
    signature is the md5-31 affine family over md5-31 token hashes."""
    b = a | overlap  # supersets give controllable overlap
    true_j = len(a & b) / len(a | b)
    df = spark.createDataFrame([(list(a),), (list(b),)], "toks array<string>")
    hashed = F.array_distinct(F.transform(F.col("toks"), D.portable_hash31))
    sig = df.select(
        D.portable_minhash_signature(hashed, num_hashes=64).alias("sig")
    ).collect()
    s1, s2 = sig[0].sig, sig[1].sig
    est = sum(1 for x, y in zip(s1, s2) if x == y) / 64
    tol = 4 * (true_j * (1 - true_j) / 64) ** 0.5 + 0.02
    assert abs(est - true_j) <= tol


@given(
    host=st.from_regex(r"[a-z][a-z0-9]{0,10}(\.[a-z]{2,5}){1,2}", fullmatch=True),
    port=st.one_of(st.none(), st.integers(min_value=1, max_value=65535)),
    scheme=st.sampled_from(["http", "https"]),
)
@settings(**_SETTINGS)
def test_url_parse_port_default(spark, host, port, scheme):
    url = f"{scheme}://{host}" + (f":{port}" if port is not None else "")
    df = spark.createDataFrame([(url,)], "url string")
    row = U.parse_url_columns(df, "url").first()
    assert row.host == host
    assert row.scheme == scheme
    assert row.port == (port if port is not None else 9200)  # core.clj:43


_SIZES = st.lists(st.integers(min_value=1, max_value=700), min_size=1, max_size=30)


@given(sizes=_SIZES)
@settings(**_SETTINGS)
def test_packing_invariants(spark, sizes):
    """For any size sequence: no doc lost, bins fill <= capacity unless
    a single oversize doc, bin ids are contiguous from 0, and the greedy
    assignment matches a sequential python replay."""
    from flink_elasticsearch_ingestion_spark.operators.packing import pack_documents

    cap = 512
    docs = spark.createDataFrame(
        [(i, "x", s) for i, s in enumerate(sizes)],
        "doc_id long, lang string, n_tokens long",
    )
    out = pack_documents(docs, capacity=cap, group_cols=("lang",), n_shards=1)
    rows = sorted(out.collect(), key=lambda r: r.doc_id)
    assert [r.doc_id for r in rows] == list(range(len(sizes)))

    # python replay of the greedy recurrence
    bin_id, fill, want = 0, 0, []
    for s in sizes:
        if fill > 0 and fill + s > cap:
            bin_id, fill = bin_id + 1, 0
        fill += s
        want.append(bin_id)
    assert [r.bin_id for r in rows] == want

    fills: dict[int, list[int]] = {}
    for r in rows:
        fills.setdefault(r.bin_id, []).append(int(r.n_tokens))
    assert sorted(fills) == list(range(len(fills)))  # contiguous ids
    for members in fills.values():
        assert sum(members) <= cap or len(members) == 1


@given(
    ids=st.lists(st.integers(min_value=0, max_value=10**6), min_size=1, max_size=40, unique=True),
    rate=st.sampled_from([0.0, 0.1, 0.5, 1.0]),
)
@settings(**_SETTINGS)
def test_deterministic_sample_is_pure_residue_function(spark, ids, rate):
    from flink_elasticsearch_ingestion_spark.operators.sampling import (
        deterministic_stratified_sample,
    )

    df = spark.createDataFrame([(i, "en") for i in ids], "doc_id long, lang string")
    kept = {
        r.doc_id
        for r in deterministic_stratified_sample(df, "lang", {"en": rate}).collect()
    }
    assert kept == {i for i in ids if i % 1000 < int(rate * 1000)}


@given(
    edges=st.lists(
        st.tuples(st.integers(min_value=0, max_value=25), st.integers(min_value=0, max_value=25)),
        min_size=0,
        max_size=35,
    )
)
@settings(max_examples=5, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_connected_components_fixed_point(spark, edges):
    """For any pair set: labels are a fixed point (every node's label ==
    min label in its neighborhood) and each component's label is a
    member of that component."""
    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    comp = {r.node: r.component for r in D.connected_components(pairs).collect()}
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    for n, c in comp.items():
        assert c == min([comp[n]] + [comp[m] for m in adj[n]])  # fixed point
        assert c in comp and comp[c] == c  # label is its own representative


@given(
    ids=st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=60, unique=True),
    seed=st.sampled_from(["epoch0", "epoch1", "x"]),
    buckets=st.sampled_from([1, 7, 256]),
)
@settings(**_SETTINGS)
def test_shuffle_order_is_dense_permutation(spark, ids, seed, buckets):
    """shuffle_order emits a dense 1..N bijection for ANY bucket count,
    and the order is a pure function of (seed, key) — layout-independent
    (the two-phase rank must agree with itself across partitionings)."""
    from flink_elasticsearch_ingestion_spark.operators.sampling import shuffle_order

    df = spark.createDataFrame([(i,) for i in ids], ["doc_id"])
    out = shuffle_order(df, seed=seed, buckets=buckets).collect()
    assert sorted(r.shuffle_pos for r in out) == list(range(1, len(ids) + 1))
    # purity: same assignment when the input arrives in 1 partition
    out2 = shuffle_order(df.coalesce(1), seed=seed, buckets=buckets).collect()
    assert {r.doc_id: r.shuffle_pos for r in out} == {
        r.doc_id: r.shuffle_pos for r in out2
    }


@given(
    words=st.lists(st.sampled_from("abcdefgh"), min_size=1, max_size=35),
    chunk=st.sampled_from([3, 10]),
)
@settings(**_SETTINGS)
def test_passage_dedup_counts_duplicated_doc(spark, words, chunk):
    """A corpus of one doc and its exact copy: every DISTINCT chunk of
    the doc must surface as a duplicated passage with n_docs == 2, and
    the occurrence multiset must be exactly twice the per-chunk counts
    (a doc of repeated words legitimately collapses identical chunks
    into one passage row — hypothesis found that edge)."""
    from collections import Counter

    from flink_elasticsearch_ingestion_spark.operators.text import passage_dedup

    text = " ".join(words)
    df = spark.createDataFrame([(1, text), (2, text)], ["doc_id", "text"])
    rows = passage_dedup(df, chunk_words=chunk).collect()
    chunks = Counter(
        " ".join(words[i : i + chunk]) for i in range(0, len(words), chunk)
    )
    assert len(rows) == len(chunks)
    assert all(r.n_docs == 2 for r in rows)
    assert sorted(r.n_occurrences for r in rows) == sorted(
        2 * v for v in chunks.values()
    )


@given(
    edges=st.lists(
        st.tuples(st.integers(min_value=0, max_value=25), st.integers(min_value=0, max_value=25)),
        min_size=1,
        max_size=35,
    )
)
@settings(max_examples=5, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_star_contraction_matches_min_label(spark, edges):
    """connected_components_star (large/small-star, O(log n) rounds) is
    a drop-in for min-label propagation: identical (node, component)
    assignment on ANY pair set."""
    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    via_label = {(r.node, r.component) for r in D.connected_components(pairs).collect()}
    via_star = {
        (r.node, r.component) for r in D.connected_components_star(pairs).collect()
    }
    assert via_star == via_label


def test_star_contraction_resolves_long_chain(spark):
    """A 120-node path (diameter 119) — min-label needs diameter-many
    rounds; star contraction must fully resolve it within its
    max_iterations=30 O(log n) budget."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(120)], "doc_a long, doc_b long"
    )
    out = D.connected_components_star(chain).collect()
    assert len(out) == 121
    assert all(r.component == 0 for r in out)


_RULE_FRAME = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),                    # id (dups likely)
        st.one_of(st.none(), st.floats(min_value=-100, max_value=100, allow_nan=False)),
        st.one_of(st.none(), st.sampled_from(["OK", "BAD", "odd"])),
    ),
    min_size=1,
    max_size=25,
)


@pytest.mark.parametrize("dummy", [0])
@given(rows=_RULE_FRAME)
@settings(**_SETTINGS)
def test_constraint_report_matches_python_reference(spark, rows, dummy):
    """Every compiled rule must agree with a plain-Python count over
    the same rows (the executable spec of each rule kind)."""
    from flink_elasticsearch_ingestion_spark.operators.quality import (
        constraint_report,
    )

    df = spark.createDataFrame(rows, "id long, amount double, status string")
    rules = [
        {"kind": "not_null", "column": "amount"},
        {"kind": "unique", "column": "id"},
        {"kind": "in_range", "column": "amount", "lo": -50.0, "hi": 50.0},
        {"kind": "accepted_values", "column": "status", "values": ("OK", "BAD")},
    ]
    got = {r["rule"]: r["n_violations"] for r in constraint_report(df, rules).collect()}
    ids = [r[0] for r in rows]
    amounts = [r[1] for r in rows]
    statuses = [r[2] for r in rows]
    assert got["not_null_amount"] == sum(a is None for a in amounts)
    assert got["unique_id"] == len(ids) - len(set(ids))
    assert got["in_range_amount"] == sum(
        a is not None and (a < -50.0 or a > 50.0) for a in amounts
    )
    assert got["accepted_values_status"] == sum(
        s is not None and s not in ("OK", "BAD") for s in statuses
    )


# --------------------------------- prefix-filter join exactness

_CORPUS = st.lists(
    st.lists(
        st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]),
        min_size=2,
        max_size=8,
    ),
    min_size=2,
    max_size=10,
)


@given(word_lists=_CORPUS, threshold=st.sampled_from([0.3, 0.5, 0.8]))
@settings(**_SETTINGS)
def test_token_set_join_equals_brute_force(spark, word_lists, threshold):
    """AllPairs prefix filtering is EXACT: on arbitrary tiny-vocabulary
    corpora (the adversarial case — everything collides) the
    prefix-filtered join must return precisely the brute-force pair
    set at every threshold."""
    import itertools

    rows = [(i, " ".join(ws)) for i, ws in enumerate(word_lists)]
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.token_set_similarity_join(
            spark.createDataFrame(rows, "doc_id long, text string"),
            threshold=threshold,
            gram_k=2,
        ).collect()
    }
    sets = {
        i: {" ".join(ws[j : j + 2]) for j in range(len(ws) - 1)}
        for i, ws in enumerate(word_lists)
        if len(ws) >= 2
    }
    expect = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        jac = inter / max(union, 1)
        if jac >= threshold:
            expect[(a, b)] = round(jac + 1e-9, 6)
    assert got == expect


# ------------------------------- Misra-Gries contract on random data

_DOCS = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c", "dd", "ee", "fff", "g1", "g2"]),
        min_size=1,
        max_size=12,
    ),
    min_size=1,
    max_size=15,
)


@given(word_lists=_DOCS, m=st.sampled_from([2, 4, 8]))
@settings(**_SETTINGS)
def test_heavy_hitters_contract_holds_on_random_corpora(spark, word_lists, m):
    """On arbitrary corpora and tiny counter budgets the merged MG
    summary must satisfy BOTH contract sides for every probed word."""
    from flink_elasticsearch_ingestion_spark.operators.relational import (
        heavy_hitters,
    )

    rows = [(i, " ".join(ws)) for i, ws in enumerate(word_lists)]
    out = heavy_hitters(
        spark.createDataFrame(rows, "doc_id long, text string"), m=m, k=8,
        n_parts=2,
    ).collect()
    assert out
    for r in out:
        assert r["never_over"] is True
        assert r["within_bound"] is True


# ---------------------------------------------------------------------------
# Graph-operator properties (round 4)
# ---------------------------------------------------------------------------

_EDGES = st.lists(
    st.tuples(st.integers(0, 7), st.integers(0, 7)).filter(
        lambda e: e[0] != e[1]
    ),
    min_size=1,
    max_size=20,
)


@given(edges=_EDGES)
@settings(**_SETTINGS)
def test_pagerank_matches_reference_and_conserves_mass(spark, edges):
    """On arbitrary small digraphs, pagerank_fixed equals the pure-
    Python power iteration at every node AND total rank stays |V|
    (dangling redistribution conserves mass by construction)."""
    from flink_elasticsearch_ingestion_spark.operators.graph import (
        pagerank_fixed,
    )
    from tests.test_graph_mining import _py_pagerank

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank_score"] for r in
           pagerank_fixed(df, n_iter=2).collect()}
    ref = _py_pagerank(edges, n_iter=2)
    assert set(got) == set(ref)
    for n, want in ref.items():
        assert got[n] == pytest.approx(want, abs=5e-6)
    assert sum(got.values()) == pytest.approx(len(ref), abs=1e-3)


@given(edges=_EDGES)
@settings(**_SETTINGS)
def test_triangle_count_matches_bruteforce(spark, edges):
    """Degree-ordered wedge counting equals the O(n^3) brute force on
    arbitrary graphs (direction- and duplicate-insensitive)."""
    from itertools import combinations

    from flink_elasticsearch_ingestion_spark.operators.graph import (
        triangle_count,
    )

    und = {frozenset(e) for e in edges}
    nodes = sorted({n for e in und for n in e})
    brute = sum(
        1
        for a, b, c in combinations(nodes, 3)
        if {frozenset((a, b)), frozenset((b, c)), frozenset((a, c))} <= und
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["n_triangles"] for r in
           triangle_count(df).collect()}
    assert got["__TOTAL__"] == brute


_TOKEN_TEXTS = st.lists(
    st.lists(
        st.text(alphabet="abcxyz", min_size=1, max_size=4),
        min_size=1,
        max_size=25,
    ).map(" ".join),
    min_size=1,
    max_size=5,
)


@given(texts=_TOKEN_TEXTS)
@settings(**_SETTINGS)
def test_span_corruption_matches_python_on_random_texts(spark, texts):
    """Mask decisions, run numbering, and both output digests equal
    the pure-Python replica on arbitrary token streams; masked +
    unmasked-token count = total."""
    from flink_elasticsearch_ingestion_spark.operators.text import (
        span_corruption,
    )
    from tests.test_graph_mining import _py_span_corruption

    docs = list(enumerate(texts))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r for r in span_corruption(df).collect()}
    for doc_id, text in docs:
        n, nm, ns, cmd5, tmd5 = _py_span_corruption(doc_id, text)
        r = got[doc_id]
        assert (r["n_tokens"], r["n_masked"], r["n_spans"]) == (n, nm, ns)
        assert r["corrupted_md5"] == cmd5
        assert r["target_md5"] == tmd5
        assert 0 <= r["n_spans"] <= r["n_masked"] <= r["n_tokens"]


# ------------------------- round-6 pure-python properties -------------------
# These properties exercise driver-side algorithm kernels (no Spark
# jobs), so hypothesis can afford real example counts.


@given(
    st.lists(
        st.tuples(
            st.integers(1, 24),  # width
            st.integers(1, 16),  # height
            st.sampled_from([1, 2, 3, 4]),  # channels
            st.sampled_from([0, 1, 2, 3, 4]),  # filter
            st.integers(0, 2**32 - 1),  # pixel seed
        ),
        min_size=1,
        max_size=4,
    )
)
@settings(max_examples=60, deadline=None)
def test_png_roundtrip_property(cases):
    """encode -> decode is the identity for every size / color type /
    filter combination over arbitrary pixel content."""
    import random as _r

    from flink_elasticsearch_ingestion_spark.functions.png_codec import (
        decode_png,
        encode_png,
    )

    for w, h, c, ft, seed in cases:
        rng = _r.Random(seed)
        px = bytes(rng.randrange(256) for _ in range(w * h * c))
        blob = encode_png(px, w, h, c, filter_type=ft)
        got = decode_png(blob)
        assert got == (w, h, c, bytearray(px))


@given(
    st.lists(st.text(alphabet="abcd ", min_size=1, max_size=12), min_size=1, max_size=20),
    st.text(alphabet="abcd ", min_size=0, max_size=200),
)
@settings(max_examples=100, deadline=None)
def test_aho_corasick_matches_python_in_operator(needles, hay):
    """The automaton's matched-needle set must equal the trivially
    correct {n : n in hay} for arbitrary overlapping/nested/duplicate
    needle sets."""
    from flink_elasticsearch_ingestion_spark.operators.dedup import (
        _build_aho_corasick,
    )

    patterns = {}
    for i, n in enumerate(needles):
        patterns.setdefault(n, []).append(i)
    goto, fail, out = _build_aho_corasick(sorted(patterns.items()))
    node, hits = 0, set()
    for ch in hay:
        while node and ch not in goto[node]:
            node = fail[node]
        node = goto[node].get(ch, 0)
        hits.update(out[node])
    want = {i for i, n in enumerate(needles) if n in hay}
    assert hits == want


@given(
    st.text(alphabet="abc", min_size=0, max_size=10),
    st.text(alphabet="abc", min_size=0, max_size=10),
)
@settings(max_examples=200, deadline=None)
def test_deletion_neighborhood_bound_property(s, t):
    """The SymSpell blocking guarantee similar_part_names rests on:
    levenshtein(s, t) <= 2 implies the <= 2-deletion neighborhoods of
    s and t intersect (so the variant equi-join cannot miss a pair)."""

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    def neigh(x, d=2):
        out = {x}
        layer = {x}
        for _ in range(d):
            layer = {
                v[:i] + v[i + 1 :] for v in layer for i in range(len(v))
            }
            out |= layer
        return out

    if lev(s, t) <= 2:
        assert neigh(s) & neigh(t)
