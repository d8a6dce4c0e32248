"""Extension operators: planted-duplicate detection, similarity recall,
multimodal plumbing — the non-SQL-expressible paths (SURVEY.md §5.2.3)."""

import pytest
from pyspark.sql import functions as F

from flink_elasticsearch_ingestion_spark.operators import dedup as D
from flink_elasticsearch_ingestion_spark.operators import multimodal as M
from flink_elasticsearch_ingestion_spark.operators import similarity as S


@pytest.fixture(scope="module")
def docs_with_dupes(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # plant: an exact copy of doc 0 as 9000, a near-copy of doc 1 as 9001
    base = docs.limit(2).collect()
    near = base[1].text.rsplit(" ", 2)[0] + " zzz"
    planted = spark.createDataFrame(
        [
            (9000, base[0].text, base[0].lang, "planted", len(base[0].text)),
            (9001, near, base[1].lang, "planted", len(near)),
        ],
        docs.schema,
    )
    return docs.union(planted)


def test_dedup_by_content_finds_exact_copy(docs_with_dupes):
    out = D.dedup_by_content(docs_with_dupes)
    dupes = out.filter(F.col("n_copies") > 1).collect()
    assert len(dupes) == 1
    assert dupes[0].doc_id == 0  # keeps smallest id


def test_minhash_finds_planted_near_dup(docs_with_dupes):
    pairs = D.minhash_near_duplicates(docs_with_dupes, jaccard_threshold=0.5)
    found = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert (0, 9000) in found  # exact copy: jaccard 1.0
    assert (1, 9001) in found  # near copy
    exact = [r.jaccard for r in pairs.collect() if (r.doc_a, r.doc_b) == (0, 9000)]
    assert exact[0] == 1.0


def test_band_cap_bounds_degenerate_corpus(spark):
    # a pathological corpus of identical documents must not go
    # quadratic in the band join: with n=600 identical docs and
    # band_cap=40, each band bucket emits at most 40*39/2 pairs
    # instead of 600*599/2 ~ 180k
    n, cap = 600, 40
    text = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit(text).alias("text")
    )
    pairs = D.minhash_near_duplicates(
        docs, jaccard_threshold=0.5, band_cap=cap
    )
    n_pairs = pairs.count()
    assert 0 < n_pairs <= cap * (cap - 1) // 2
    # the capped bucket keeps the FIRST doc_ids, so the canonical
    # representative (min id) still appears in pairs
    assert pairs.filter(F.col("doc_a") == 0).count() > 0


def test_simhash_exact_copy_same_signature(spark, docs_with_dupes):
    sig = D.simhash_signature(docs_with_dupes)
    by_id = {r.doc_id: r.simhash for r in sig.filter(F.col("doc_id").isin(0, 9000, 1, 9001)).collect()}
    assert by_id[0] == by_id[9000]
    # near-dup: small hamming distance
    ham = bin((by_id[1] ^ by_id[9001]) & ((1 << 64) - 1)).count("1")
    assert ham <= 8


def test_ngram_jaccard_planted_pair(docs_with_dupes):
    pairs = D.ngram_jaccard_pairs(docs_with_dupes, threshold=0.5)
    found = {(r.doc_a, r.doc_b): r.jaccard for r in pairs.collect()}
    assert found[(0, 9000)] == 1.0
    assert (1, 9001) in found


def test_lsh_topk_recall(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]
    exact = {r.vec_id for r in S.cosine_topk(emb, qv, k=10).collect()}
    approx = {r.vec_id for r in S.lsh_topk(emb, qv, k=10, bits=2).collect()}
    # 2-bit LSH scans ~1/4 of vectors; the query itself must always hit
    assert 0 in approx
    assert len(exact & approx) >= 2


def test_lsh_multiprobe_recall_dominates_single_bucket(spark, sf_dir):
    """Multi-probe must never recall FEWER true neighbors than the
    single-bucket probe at the same bits (its probe set is a strict
    superset), and the self-hit always survives."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]
    exact = {r.vec_id for r in S.cosine_topk(emb, qv, k=10).collect()}
    single = {r.vec_id for r in S.lsh_topk(emb, qv, k=10, bits=4).collect()}
    multi = {r.vec_id for r in S.lsh_topk_multiprobe(emb, qv, k=10, bits=4).collect()}
    assert 0 in multi
    assert len(exact & multi) >= len(exact & single)


def test_knn_join_shape(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = S.knn_join(emb.filter(F.col("vec_id") < 3), emb, k=4).collect()
    assert len(out) == 12
    for r in out:
        assert r.query_id != r.neighbor_id
        assert -1.0001 <= r.cosine <= 1.0001


def test_embedding_near_dup_planted(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    clone = emb.filter(F.col("vec_id") == 0).select(
        F.lit(99999).cast("long").alias("vec_id"), "embedding", "label"
    )
    out = S.embedding_near_duplicates(emb.unionByName(clone), threshold=0.999)
    pairs = {(r.vec_a, r.vec_b) for r in out.collect()}
    assert (0, 99999) in pairs  # identical vector always shares the bucket


def test_multimodal_features(spark, sf_dir):
    media = M.documents_as_media(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    feats = M.extract_features(media)
    rows = feats.limit(5).collect()
    assert all(len(r.feature) == 8 for r in rows)
    assert all(0.0 <= x <= 1.0 for r in rows for x in r.feature)
    # deterministic: same payload -> same feature
    again = {r.media_id: r.feature for r in M.extract_features(media).limit(5).collect()}
    for r in rows:
        assert again[r.media_id] == r.feature


def test_media_stats_counts(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = M.media_stats(M.documents_as_media(docs)).collect()
    assert len(out) == 1
    assert out[0].n_items == docs.count()


def test_resize_images_rewrites_meta_and_payload(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = M.documents_as_media(docs)
    resized = M.resize_images(media, width=8, height=8)
    # composable: same column names/types (nullability may differ)
    assert resized.dtypes == media.dtypes
    row = resized.filter(F.col("media_id") == 0).first()
    assert row.meta.width == 8 and row.meta.height == 8
    assert len(row.payload) <= 64


def test_sample_frames_fan_out(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = M.documents_as_media(docs)
    frames = M.sample_frames(media, frame_bytes=64, stride=2)
    assert frames.count() > media.count()  # fan-out happened
    per = frames.groupBy("media_id").count().agg(F.max("count")).first()[0]
    assert per >= 2
    # deterministic: same input -> same frames
    again = M.sample_frames(media, frame_bytes=64, stride=2)
    assert frames.exceptAll(again).count() == 0


def test_pandas_cosine_matches_expression(spark, sf_dir):
    """The Arrow-vectorized scorer and the JVM expression scorer must
    produce identical top-k (same ids, same rounded scores)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]
    expr = S.cosine_topk(emb, qv, k=20).collect()
    vec = S.pandas_cosine_topk(emb, qv, k=20).collect()
    assert [(r.vec_id, r.cosine) for r in expr] == [(r.vec_id, r.cosine) for r in vec]


def test_simhash64_known_values(spark):
    """simhash64 ground truth on hand-computable inputs: a single
    feature's signature is the feature hash's own bit pattern, and the
    majority fold matches a python reference on a known set."""
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({"hs": [[5], [5, 5, 7]]}))
    sigs = [r.s for r in df.select(D.simhash64("hs").alias("s")).collect()]
    assert sigs[0] == 5  # one feature -> its own bits
    # majority of {5(101), 5(101), 7(111)}: bit0=3 votes, bit1=1, bit2=3 -> 101
    assert sigs[1] == 5


def test_ivf_topk_recall_and_self_hit(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]
    exact = {r.vec_id for r in S.cosine_topk(emb, qv, k=10).collect()}
    approx = [r.vec_id for r in S.ivf_topk(emb, qv, k=10, nlist=8, nprobe=3).collect()]
    assert approx[0] == 0  # the query's own vector lands in a probed list
    assert len(exact & set(approx)) >= 3  # decent recall at nprobe/nlist=3/8
    # deterministic across runs (seeded sample + init)
    again = [r.vec_id for r in S.ivf_topk(emb, qv, k=10, nlist=8, nprobe=3).collect()]
    assert approx == again


def test_ivf_indexed_probe_prunes_partitions(tmp_path, spark, sf_dir):
    """The materialized IVF layout must turn the centroid filter into
    partition pruning (PartitionFilters on the scan) and agree with the
    unindexed IVF search."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]
    path = str(tmp_path / "ivf_index")
    cents = S.ivf_build_index(emb, path, nlist=8)
    out = S.ivf_topk_indexed(spark, path, cents, qv, k=10, nprobe=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "centroid_id" in plan.split("PartitionFilters")[1][:250]
    direct = S.ivf_topk(emb, qv, k=10, nlist=8, nprobe=3, centroids=cents)
    assert [(r.vec_id, r.cosine) for r in out.collect()] == [
        (r.vec_id, r.cosine) for r in direct.collect()
    ]


def test_ngram_jaccard_df_cap_bounds_hot_gram(spark):
    # 40 docs all sharing one hot trigram ("aaa bbb ccc"); two docs also
    # share a rare trigram pair-exclusive to them. With df_cap below the
    # hot gram's posting length, the hot gram is dropped: the 40*39/2
    # candidate blowup never reaches the join, while the rare-gram pair
    # survives with its similarity intact.
    rows = [(i, f"aaa bbb ccc unique{i} tail{i} word{i}") for i in range(40)]
    rows[5] = (5, "aaa bbb ccc rare gram pair shared text five")
    rows[7] = (7, "aaa bbb ccc rare gram pair shared text five")
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = D.ngram_jaccard_pairs(docs, threshold=0.5, df_cap=10)
    found = {(r.doc_a, r.doc_b) for r in capped.collect()}
    assert found == {(5, 7)}

    # uncapped still finds the pair (sanity: cap didn't create it)
    exact = D.ngram_jaccard_pairs(docs, threshold=0.5, df_cap=None)
    assert (5, 7) in {(r.doc_a, r.doc_b) for r in exact.collect()}

    # candidate volume with the cap stays bounded: only the rare-gram
    # pair shares any surviving gram, so even threshold=0 yields 1 pair
    all_pairs = D.ngram_jaccard_pairs(docs, threshold=0.0, df_cap=10)
    assert all_pairs.count() == 1


def test_simhash_default_bits_spread_buckets(spark, sf_dir):
    """SimHash features are 31-bit md5 hashes, so a signature bit at
    position >= 31 never gets a positive vote. The default width must
    stay within those 31 bits (a 64-bit signature put every document
    in one bucket), and wider signatures are refused."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert D.simhash_buckets(docs).count() > 1
    with pytest.raises(ValueError, match="31"):
        D.simhash_buckets(docs, bits=64)


def test_simhash_buckets_state_cap(spark):
    # 30 identical docs -> one bucket; doc_ids sample is capped at
    # max_ids while n_docs reports the exact membership.
    docs = spark.createDataFrame(
        [(i, "identical text for every single document here") for i in range(30)],
        "doc_id long, text string",
    )
    out = D.simhash_buckets(docs, max_ids=10).collect()
    assert len(out) == 1
    assert out[0].n_docs == 30
    assert out[0].doc_ids == list(range(10))  # smallest ids, sorted


@pytest.mark.parametrize("edge_bound", [D.DRIVER_EDGE_BOUND, 0])
def test_connected_components_chain_and_clique(spark, edge_bound):
    # chain 1-2-3-4 (diameter 3), clique {10,11,12}, isolated pair {20,21};
    # edge_bound=0 forces the distributed label-propagation loop, the
    # default exercises the driver union-find fast path
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    comp = {
        r.node: r.component
        for r in D.connected_components(pairs, driver_edge_bound=edge_bound).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_matches_union_find(spark):
    # random graph vs an in-test union-find reference implementation
    import random

    rng = random.Random(7)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
    edges = [(a, b) for a, b in edges if a != b]

    parent = list(range(60))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # expected: min node id per component, only for nodes touching an edge
    touched = {n for e in edges for n in e}
    expected = {}
    for n in touched:
        root = find(n)
        expected.setdefault(root, []).append(n)
    want = {n: min(ns) for root, ns in expected.items() for n in ns}

    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    for bound in (D.DRIVER_EDGE_BOUND, 0):  # both execution paths
        got = {
            r.node: r.component
            for r in D.connected_components(pairs, driver_edge_bound=bound).collect()
        }
        assert got == want


def test_near_dup_clusters_and_filtered_corpus(docs_with_dupes):
    # the fixture corpus has organic near-dups at this threshold too, so
    # assert structure, not exact sizes: planted copies land in their
    # originals' clusters, representatives are cluster minima, and the
    # filtered corpus drops exactly the non-representatives.
    clusters = D.near_dup_clusters(docs_with_dupes, jaccard_threshold=0.5)
    rows = clusters.collect()
    by_rep = {r.component: r for r in rows}
    assert all(r.keep_doc_id == r.component for r in rows)  # min-id reps
    assert 0 in by_rep and by_rep[0].cluster_size >= 2  # holds planted 9000
    assert 1 in by_rep and by_rep[1].cluster_size >= 2  # holds planted 9001

    kept = D.dedup_near(docs_with_dupes, jaccard_threshold=0.5)
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert 0 in kept_ids and 9000 not in kept_ids
    assert 1 in kept_ids and 9001 not in kept_ids
    n_dropped = sum(r.cluster_size - 1 for r in rows)
    assert kept.count() == docs_with_dupes.count() - n_dropped


def test_pack_documents_greedy_invariants(spark):
    from flink_elasticsearch_ingestion_spark.operators.packing import (
        pack_documents,
        packing_summary,
    )

    rows = [(i, "x", int(s)) for i, s in enumerate([100, 200, 300, 250, 600, 50, 120])]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, n_tokens long")
    out = pack_documents(docs, capacity=512, group_cols=("lang",), n_shards=1)
    got = {r.doc_id: r.bin_id for r in out.collect()}
    # greedy replay: 100+200=300 | +300>512 -> bin1: 300+250=550? no:
    # 300, fill 300; doc2 300 -> 600>512 new bin (300); doc3 250 ->
    # 550>512 new bin (250); doc4 600 -> 850>512 new bin (600, oversize
    # alone); doc5 50 -> 650>512 new bin; doc6 120 -> 170 same bin
    assert got == {0: 0, 1: 0, 2: 1, 3: 2, 4: 3, 5: 4, 6: 4}

    summ = packing_summary(out, capacity=512).collect()[0]
    assert summ.n_bins == 5 and summ.n_docs == 7
    assert summ.total_tokens == sum(s for _, _, s in rows)
    # every bin respects capacity unless it holds a single oversize doc
    per_bin = out.groupBy("bin_id").agg(
        F.sum("n_tokens").alias("fill"), F.count(F.lit(1)).alias("n")
    )
    for r in per_bin.collect():
        assert r.fill <= 512 or r.n == 1


def test_deterministic_stratified_sample_is_stable(spark, sf_dir):
    from flink_elasticsearch_ingestion_spark.operators.sampling import (
        deterministic_stratified_sample,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = deterministic_stratified_sample(docs, "lang", {"en": 0.5}, default_rate=0.2)
    b = deterministic_stratified_sample(
        docs.repartition(7), "lang", {"en": 0.5}, default_rate=0.2
    )
    ids_a = {r.doc_id for r in a.select("doc_id").collect()}
    ids_b = {r.doc_id for r in b.select("doc_id").collect()}
    assert ids_a == ids_b  # layout-independent membership
    # every kept doc satisfies its stratum's residue rule
    for r in a.select("doc_id", "lang").collect():
        cap = 500 if r.lang == "en" else 200
        assert r.doc_id % 1000 < cap


def test_tfidf_rare_term_outranks_common(spark):
    from flink_elasticsearch_ingestion_spark.operators import text as X

    docs = spark.createDataFrame(
        [
            (1, "common common common unicorn"),
            (2, "common words here again"),
            (3, "common words there also"),
        ],
        "doc_id long, text string",
    )
    out = X.tfidf_top_terms(docs, k=2)
    top1 = {r.doc_id: r.term for r in out.collect() if r.rank == 1}
    # 'unicorn' (df=1) beats 'common' (df=3) despite tf 1 vs 3? tf*idf:
    # common: 3*(ln(4/4)+1)=3.0; unicorn: 1*(ln(4/2)+1)=1.69 -> common
    # wins doc 1 on raw weight; rank order must reflect the math
    assert top1[1] == "common"
    doc1 = {r.term: r.tfidf for r in out.collect() if r.doc_id == 1}
    assert doc1["common"] > doc1["unicorn"]


def test_repetition_ratio_values(spark):
    from flink_elasticsearch_ingestion_spark.operators import text as X

    docs = spark.createDataFrame(
        [(1, "a b c a b c a b c"), (2, "all words here are different ones")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in X.repetition_ratio(docs).collect()}
    # doc 1: 9 tokens -> 7 trigrams, 3 distinct -> 4/7 repeated
    assert got[1].total_grams == 7 and got[1].distinct_grams == 3
    assert abs(got[1].repetition_ratio - 4 / 7) < 1e-4
    assert got[2].repetition_ratio == 0.0


def test_cross_corpus_contamination_planted(spark):
    corpus = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog"),
            (101, "completely unrelated corpus text nothing shared"),
        ],
        "doc_id long, text string",
    )
    probe = spark.createDataFrame(
        [(1, "quick brown fox jumps high")], "doc_id long, text string"
    )
    out = D.cross_corpus_contamination(corpus, probe, min_shared=2).collect()
    # shares 'quick brown fox' and 'brown fox jumps' -> n_shared == 2
    assert len(out) == 1
    assert (out[0].corpus_id, out[0].probe_id, out[0].n_shared) == (100, 1, 2)


def test_redact_pii_replaces_and_counts(spark):
    from flink_elasticsearch_ingestion_spark.operators import text as X

    docs = spark.createDataFrame(
        [(1, "mail alice.b+test@ex-ample.org or call +4915112345678 now")],
        "doc_id long, text string",
    )
    r = X.redact_pii(docs).collect()[0]
    assert r.n_emails == 1 and r.n_phones == 1
    assert r.redacted_text == "mail <EMAIL> or call <PHONE> now"


def test_signature_table_roundtrip_matches_direct(tmp_path, spark, docs_with_dupes):
    """write_signature_table -> near_duplicates_from_signatures (the
    100 TB materialized path) must produce exactly the direct
    operator's pairs."""
    direct = D.minhash_near_duplicates(docs_with_dupes, jaccard_threshold=0.5)
    path = str(tmp_path / "sigs")
    D.write_signature_table(docs_with_dupes, path)
    from_table = D.near_duplicates_from_signatures(
        spark.read.parquet(path), jaccard_threshold=0.5
    )
    assert [(r.doc_a, r.doc_b, r.jaccard) for r in direct.collect()] == [
        (r.doc_a, r.doc_b, r.jaccard) for r in from_table.collect()
    ]


# --------------------------------------------------------------------------
# round-2 LLM-pipeline ops: passage dedup, bigrams, embedding maintenance,
# deterministic shuffle order
# --------------------------------------------------------------------------


def test_passage_dedup_finds_planted_shared_chunk(spark, sf_dir):
    from flink_elasticsearch_ingestion_spark.operators.text import passage_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    planted = spark.createDataFrame(
        [
            (9100, shared + " tail one two three four five six seven eight nine", "en", "p", 1),
            (9101, shared + " other words follow here now ok go stop end done", "en", "p", 1),
        ],
        docs.schema,
    )
    out = passage_dedup(docs.union(planted))
    import hashlib

    h = hashlib.md5(shared.encode()).hexdigest()
    hit = [r for r in out.collect() if r.passage_hash == h]
    assert hit and hit[0].n_docs == 2 and hit[0].n_occurrences == 2


def test_top_bigrams_counts(spark):
    from flink_elasticsearch_ingestion_spark.operators.text import top_bigrams

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c")], ["doc_id", "text"]
    )
    rows = {r.bigram: r.n_occurrences for r in top_bigrams(df, k=10).collect()}
    # "a b" occurs twice in doc1 (positions 1,3? no - pairs: (a,b),(b,a),(a,b)) + once in doc2
    assert rows["a b"] == 3 and rows["b a"] == 1 and rows["b c"] == 1


def test_shuffle_order_matches_naive_global_window(spark, sf_dir):
    """The two-phase (bucketed rank + prefix-sum offsets) global
    ordering must equal the naive single-partition row_number."""
    from pyspark.sql import Window

    from flink_elasticsearch_ingestion_spark.operators.sampling import shuffle_order

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    fast = shuffle_order(docs)
    h = F.md5(F.concat(F.lit("epoch0:"), F.col("doc_id").cast("string")))
    naive = docs.select(
        "doc_id",
        F.row_number().over(Window.orderBy(h.asc(), F.col("doc_id").asc())).alias("pos"),
    )
    joined = fast.join(naive, "doc_id")
    assert joined.filter(F.col("shuffle_pos") != F.col("pos")).count() == 0
    # dense 1..N
    n = docs.count()
    assert fast.agg(F.min("shuffle_pos"), F.max("shuffle_pos")).first() == (1, n)


def test_shuffle_order_big_window_is_partitioned(spark, sf_dir):
    """Plan audit: the per-row rank window must be hash-partitioned on
    the bucket; only the <=256-row offset table may gather."""
    from flink_elasticsearch_ingestion_spark.operators.sampling import shuffle_order
    from flink_elasticsearch_ingestion_spark.plans import physical_plan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    plan = physical_plan(shuffle_order(docs))
    row_windows = [
        ln for ln in plan.splitlines() if "row_number()" in ln and "__within" in ln
    ]
    assert row_windows and all("windowspecdefinition(__bucket" in ln for ln in row_windows)


def test_quantize_embeddings_bounds(spark, sf_dir):
    from flink_elasticsearch_ingestion_spark.operators.embeddings import (
        quantize_embeddings,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = quantize_embeddings(emb)
    bad_q = out.filter((F.col("q_min") < -127) | (F.col("q_max") > 127)).count()
    assert bad_q == 0
    # worst-case reconstruction error of round-to-nearest is scale/2
    # (recon_err is reported rounded to 6 decimals -> 5e-7 quantum)
    bad_err = out.filter(F.col("recon_err") > F.col("scale") / 2 + 5e-7).count()
    assert bad_err == 0


def test_embedding_norms_planted_unit_vector(spark, sf_dir):
    from flink_elasticsearch_ingestion_spark.operators.embeddings import embedding_norms

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(emb.first().embedding)
    unit = spark.createDataFrame(
        [(99999, [1.0] + [0.0] * (dim - 1), 777)], emb.schema
    )
    out = embedding_norms(emb.union(unit)).filter(F.col("label") == 777).first()
    assert out.n_vectors == 1 and abs(out.avg_norm - 1.0) < 1e-6


def test_chunk_documents_expr_udtf_parity(spark):
    from flink_elasticsearch_ingestion_spark.operators import text as X

    docs = spark.createDataFrame(
        [
            (1, "w1 w2 w3 w4 w5 w6 w7"),  # 7 words, chunk 3/overlap 1 -> starts 0,2,4,6
            (2, "a"),  # single word -> one 1-word chunk
            (3, "x y z"),  # exactly one full chunk
        ],
        "doc_id long, text string",
    )
    kw = dict(chunk_words=3, overlap=1)
    expr = X.chunk_documents(docs, **kw).orderBy("doc_id", "chunk_id").collect()
    udtf = X.chunk_documents_udtf(docs, **kw).orderBy("doc_id", "chunk_id").collect()
    assert expr == udtf
    d1 = [r for r in expr if r.doc_id == 1]
    assert [r.chunk_text for r in d1] == ["w1 w2 w3", "w3 w4 w5", "w5 w6 w7", "w7"]
    assert [r.n_chunk_words for r in d1] == [3, 3, 3, 1]
    assert [r.chunk_text for r in expr if r.doc_id == 2] == ["a"]
    # overlap >= chunk_words must be rejected, not loop forever
    import pytest as _pytest

    with _pytest.raises(ValueError):
        X.chunk_documents(docs, chunk_words=3, overlap=3)


def test_hybrid_search_rrf_fusion(spark):
    from flink_elasticsearch_ingestion_spark.operators import similarity as S

    docs = spark.createDataFrame(
        [
            (1, "query query query query"),  # keyword #1, vector absent
            (2, "query other words here"),  # keyword #2, vector #1
            (3, "nothing relevant at all"),  # vector #2 only
        ],
        "doc_id long, text string",
    )
    embs = spark.createDataFrame(
        [(2, [1.0, 0.0]), (3, [0.9, 0.1]), (4, [-1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    out = S.hybrid_search(docs, embs, ["query"], [1.0, 0.0], k=4).collect()
    scores = {r.doc_id: r.rrf_score for r in out}
    # doc 2 appears in BOTH arms (kw rank 2, vec rank 1) -> 1/62 + 1/61
    # beats doc 1's single-arm kw rank 1 (1/61) and doc 3 (1/63 + 1/62)
    assert out[0].doc_id == 2
    assert abs(scores[2] - round(1 / 62 + 1 / 61, 6)) < 1e-9
    assert abs(scores[1] - round(1 / 61, 6)) < 1e-9
    assert set(scores) == {1, 2, 3, 4}  # full-outer: single-arm docs kept


def test_portable_simhash_exact_copy_same_signature(docs_with_dupes):
    sig = D.simhash_signature(docs_with_dupes, bits=24)
    by_id = {
        r.doc_id: r.simhash
        for r in sig.filter(F.col("doc_id").isin(0, 9000)).collect()
    }
    assert by_id[0] == by_id[9000]


def test_incremental_near_dup_planted(docs_with_dupes):
    """Incremental dedup contract: a new batch is checked against the
    corpus signature table and itself; corpus-vs-corpus pairs are never
    reported. Planted: doc 9000 (exact copy of corpus doc 0) and 9001
    (near copy of corpus doc 1) arrive as the 'new batch'."""
    is_new = F.col("doc_id") >= 9000
    corpus = docs_with_dupes.filter(~is_new)
    batch = docs_with_dupes.filter(is_new)
    cs = D.minhash_signature_table(corpus)
    ns = D.minhash_signature_table(batch)
    out = D.near_duplicates_incremental(cs, ns, jaccard_threshold=0.5)
    pairs = {(r.new_id, r.dup_id): r.jaccard for r in out.collect()}
    assert (9000, 0) in pairs and pairs[(9000, 0)] == 1.0
    assert (9001, 1) in pairs
    # every reported pair involves a new document
    assert all(n >= 9000 for n, _ in pairs)


def test_incremental_near_dup_equals_full_selfjoin_restriction(docs_with_dupes):
    """The operator's defining equivalence: incremental(new, corpus) ==
    full self-join over corpus+new restricted to pairs touching new."""
    is_new = F.col("doc_id") % 3 == 1
    cs = D.minhash_signature_table(docs_with_dupes.filter(~is_new))
    ns = D.minhash_signature_table(docs_with_dupes.filter(is_new))
    inc = {
        (r.new_id, r.dup_id, r.jaccard)
        for r in D.near_duplicates_incremental(
            cs, ns, jaccard_threshold=0.5, band_cap=None
        ).collect()
    }
    full = D.minhash_near_duplicates(
        docs_with_dupes, jaccard_threshold=0.5, band_cap=None
    )
    want = set()
    for r in full.collect():
        a_new, b_new = r.doc_a % 3 == 1, r.doc_b % 3 == 1
        if b_new:
            want.add((r.doc_b, r.doc_a, r.jaccard))
        elif a_new:
            want.add((r.doc_a, r.doc_b, r.jaccard))
    assert inc == want


def test_portable_hash31_matches_duckdb_on_adversarial_strings(spark):
    """The portability claim, tested at the hash level: portable_hash31
    must agree with its documented DuckDB twin on empty strings,
    whitespace, unicode (multi-byte UTF-8), long strings, and
    hex-looking inputs — not just on fixture prose."""
    import duckdb

    cases = [
        "", " ", "  ", "\t", "a", "A", "0", "deadbeef", "0x00",
        "the quick brown fox", "word " * 500,
        "naïve café résumé", "日本語のテキスト", "emoji 🙂 test",
        "Ω≈ç√∫˜µ≤≥÷", "mixed ASCII と 日本語", "é́",
        "line\nbreak", "quote'quote", 'double"quote',
    ]
    df = spark.createDataFrame([(s,) for s in cases], "s string")
    from flink_elasticsearch_ingestion_spark.operators.dedup import portable_hash31

    got = {r["s"]: r["h"] for r in df.select("s", portable_hash31(F.col("s")).alias("h")).collect()}
    con = duckdb.connect()
    for s in cases:
        want = con.execute(
            "SELECT ('0x' || substr(md5(?),1,8))::BIGINT % 2147483647", [s]
        ).fetchone()[0]
        assert got[s] == want, repr(s)


def test_hll_sketch_merge_equals_sketch_of_union(spark, sf_dir):
    """The property mergeable rollups rest on: union-merging per-slice
    sketches estimates EXACTLY what one sketch over the whole input
    estimates (DataSketches HLL merge is lossless over sketch state).
    Plus the accuracy contract the oracle pins: within 3% of exact."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    whole = events.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est")
    ).first()["est"]
    merged = (
        events.withColumn("slice", F.col("event_id") % 7)
        .groupBy("slice")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .first()["est"]
    )
    assert merged == whole
    exact = events.select("user_id").distinct().count()
    assert abs(merged - exact) <= 0.03 * exact


def test_mergeable_distinct_rollup_contract(spark, sf_dir):
    from flink_elasticsearch_ingestion_spark.operators.relational import (
        mergeable_distinct_rollup,
    )

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = mergeable_distinct_rollup(events).collect()
    assert out and all(r.sketch_ok for r in out)
    exact = {
        r.event_type: r.n
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert {r.event_type: r.n_exact for r in out} == exact


def test_hll_sketch_survives_parquet_roundtrip(tmp_path, spark, sf_dir):
    """The production flow: daily sketch table materialized to parquet,
    read back later, union-merged — estimates must equal the in-memory
    merge exactly (sketch state is an opaque binary column)."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = events.groupBy(
        "event_type", F.to_date(F.col("ts").cast("timestamp")).alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sketch"))
    path = str(tmp_path / "sketches")
    daily.write.parquet(path)
    from_disk = (
        spark.read.parquet(path)
        .groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est"))
    )
    in_mem = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est")
    )
    got = {r.event_type: r.est for r in from_disk.collect()}
    want = {r.event_type: r.est for r in in_mem.collect()}
    assert got == want


def test_knn_join_lsh_recall_and_no_crossjoin(spark, sf_dir):
    """The kNN join's scale path: candidates from LSH collisions only —
    the plan must contain NO cartesian product (that is the exact
    baseline's plan), and per-query results must overlap the exact
    kNN meaningfully while every query's self-hit stays excluded."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    approx = S.knn_join_lsh(q, emb, k=4, bits=4, tables=8)
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    exact = S.knn_join(q, emb, k=4)
    ap = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    ex = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    assert all(qid != nid for qid, nid in ap)
    assert len(ap & ex) >= len(ex) // 3
