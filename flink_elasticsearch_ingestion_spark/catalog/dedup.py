"""Catalog family: exact/near dedup, decontamination, span mining.

Each query (QUERIES) sits next to its DuckDB oracle (ORACLES) so
the pair is reviewed and edited together — drift between the
Spark plan and the SQL twin stays visible in one diff."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_elasticsearch_ingestion_spark.operators import (
    dedup as D,
    similarity as S,
    text as X,
)
from flink_elasticsearch_ingestion_spark.catalog._shared import (
    _t,
    _nrows,
    _minhash_pairs_cte,
    _shared_spans_cte,
    _plane_values,
)


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.fingerprints(_t(spark, sf_dir, "documents")).orderBy("doc_id")

def q_training_data_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed LLM-training-data pipeline in one plan: quality
    filter -> exact near-dup removal (content hash, keep smallest id)
    -> per-language corpus profile. Each stage is an already-verified
    operator; this query proves they compose without materialization
    barriers (one job, scan -> filter -> agg -> join -> agg)."""
    docs = _t(spark, sf_dir, "documents")
    scored = X.quality_scores(docs).filter(F.col("quality_score") >= 0.7)
    kept_ids = D.dedup_by_content(
        docs.join(scored.select("doc_id"), "doc_id")
    ).select("doc_id")
    kept = docs.join(kept_ids, "doc_id").select(
        "doc_id", "lang", X.token_count("text").alias("n_tokens"), F.length("text").alias("n_chars")
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.round(F.sum("n_chars"), 2) / F.count(F.lit(1)) + 1e-9, 4).alias("avg_chars"),
        )
        .orderBy("lang")
    )

def q_dedup_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.dedup_by_content(_t(spark, sf_dir, "documents")).orderBy("doc_id")

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source", "n_chars")
    return D.dedup_exact(docs, key="doc_id").orderBy("doc_id")

def q_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs with the engine-portable hash family
    (md5-31-bit base + affine perms, signature-slice band keys): the
    DuckDB oracle re-derives the IDENTICAL signatures, band keys, and
    candidate set from SQL, so banding + pair join + exact-Jaccard
    verify are all value-hash-checked end-to-end. band_cap=None because
    the oracle derives ALL band-collision candidates — the production
    cap would make Spark drop pairs the oracle keeps on a degenerate
    bucket (the cap's own planted test covers that guard)."""
    return D.minhash_near_duplicates(
        _t(spark, sf_dir, "documents"),
        jaccard_threshold=0.4,
        band_cap=None,
        arrow=True,
    )

def q_duplicate_token_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level dedup KPI (the datasheet number a curation run
    reports): what share of the corpus' TOKENS sits in documents that
    have at least one verified near-duplicate. Portable-MinHash pairs
    (the hash-proven banded self-join) -> distinct flagged doc ids ->
    one left-semi-style flag join + a single global aggregate. Scale
    shape: the only wide work is the LSH band join minhash_near_dup
    already pays; the KPI itself adds an ids-only distinct and one
    agg over a map-side token count."""
    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_near_duplicates(
        docs, jaccard_threshold=0.4, band_cap=None, arrow=True
    )
    dup_ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("__dup", F.lit(1))
    )
    toks = docs.select("doc_id", X.token_count("text").alias("n_tokens"))
    return toks.join(dup_ids, "doc_id", "left").agg(
        F.count(F.lit(1)).cast("bigint").alias("total_docs"),
        F.count("__dup").cast("bigint").alias("dup_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.coalesce(F.sum(F.when(F.col("__dup") == 1, F.col("n_tokens"))), F.lit(0))
        .cast("bigint")
        .alias("dup_tokens"),
        F.round(
            F.coalesce(
                F.sum(F.when(F.col("__dup") == 1, F.col("n_tokens"))), F.lit(0)
            )
            / F.sum("n_tokens"),
            6,
        ).alias("dup_token_share"),
    )

def q_cross_source_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-dataset contamination matrix: verified near-dup pairs
    grouped by (source, source) — the audit that tells a corpus
    engineer WHICH ingested datasets overlap before mixing them
    (same-source rows expose intra-dataset duplication). max(jaccard)
    instead of avg: exact and summation-order-insensitive, so the
    cross-engine hash is stable. Scale shape: the pair table is the
    LSH-banded join's output (never all-pairs); sources attach via two
    narrow id-keyed joins, then a |sources|^2-bounded aggregate."""
    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_near_duplicates(
        docs, jaccard_threshold=0.4, band_cap=None, arrow=True
    )
    src = docs.select("doc_id", "source")
    j = pairs.join(
        src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")),
        "doc_a",
    ).join(
        src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")),
        "doc_b",
    )
    return (
        j.select(
            F.least("sa", "sb").alias("source_x"),
            F.greatest("sa", "sb").alias("source_y"),
            "jaccard",
        )
        .groupBy("source_x", "source_y")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(F.max("jaccard"), 6).alias("max_jaccard"),
        )
        .orderBy("source_x", "source_y")
    )

def q_shared_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal shared token spans across doc pairs (exact-substring
    dedup, Lee et al. 2022): window-hash join + diagonal
    gaps-and-islands; ids+hashes-only shuffle, df-capped stop
    windows.  Oracle replays windows, matches, and island collapse."""
    return D.shared_span_mining(_t(spark, sf_dir, "documents"))

def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) rolling-hash fingerprints: per-doc summary of
    the window-minimum gram-hash selection — the position-robust local
    fingerprint with the w+k-1 shared-run detection guarantee."""
    from flink_elasticsearch_ingestion_spark.operators.text import (
        winnowing_fingerprints,
    )

    return winnowing_fingerprints(_t(spark, sf_dir, "documents"))

def q_quality_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup canonicalization: near-dup clusters keep
    their highest-entropy member (tie-break id) instead of min id —
    per-cluster window argmax on the bounded duplicate subgraph.
    band_cap=None to match the uncapped oracle candidate set."""
    return D.quality_dedup_survivors(
        _t(spark, sf_dir, "documents"),
        jaccard_threshold=0.4,
        band_cap=None,
        arrow=True,
    )

def q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-20 bigrams by pointwise mutual
    information (min count 5) — separates true collocations from
    merely-frequent pairs; tokenizer-seeding / phrase-dedup input."""
    return X.bigram_pmi(_t(spark, sf_dir, "documents"))

def q_span_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring leakage across the train/val/test split:
    maximal shared spans whose endpoints live in DIFFERENT splits —
    the verbatim-overlap eval-hygiene audit (complement of
    split_leakage's near-dup view).  Composes hash_split with
    shared_span_mining; the oracle re-derives both."""
    from flink_elasticsearch_ingestion_spark.operators.sampling import hash_split

    docs = _t(spark, sf_dir, "documents")
    spans = D.shared_span_mining(docs)
    split = hash_split(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).select("doc_id", "split")
    sa = split.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    sb = split.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    return (
        spans.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select(
            "doc_a", "doc_b", "split_a", "split_b",
            "start_a", "start_b", "span_tokens",
        )
        .orderBy("doc_a", "doc_b", "start_a", "start_b")
    )

def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup tuning curve: per candidate Jaccard threshold, the
    surviving near-dup pair count and the number of documents touched —
    one MinHash pass at the loosest threshold feeds the whole grid.
    Oracle replays the portable-MinHash pair chain plus both
    histogram-vs-grid aggregations."""
    return D.near_dup_threshold_sweep(_t(spark, sf_dir, "documents"))

def q_contrastive_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(anchor, positive, negative) triples for contrastive embedding
    training: near-dup positives + shared deterministic negative pool
    with a false-negative screen — the training-pair construction step
    between dedup and the embedding trainer."""
    return D.contrastive_triples(_t(spark, sf_dir, "documents"))

def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs over an inverted-index join (bounded
    to doc_id < 200 to keep candidate pairs sane at any sf; the df_cap
    stop-gram guard cannot fire under that bound, so the uncapped
    DuckDB oracle is exact)."""
    return D.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.15, max_docs=200
    )

def q_sorted_neighborhood_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood (merge/purge) near-dup pairs: normalized
    32-char-prefix sort, window-5 rank adjacency, exact token-Jaccard
    verify — the third blocking family next to LSH buckets and the
    inverted index, with a guaranteed O(n x window) candidate budget.
    Global rank via the two-phase coarse-range discipline."""
    return D.sorted_neighborhood_pairs(
        _t(spark, sf_dir, "documents"), window=5, threshold=0.4
    )

def q_text_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters with a FULLY SQL-expressible edge set: n-gram
    Jaccard pairs (deterministic, no engine-specific hashing) resolved
    by alternating large-star/small-star contraction — so the iterative
    component operator itself is differential-tested against a DuckDB
    recursive-CTE transitive closure, not just rows-counted."""
    pairs = D.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.15, max_docs=200
    )
    return D.connected_components_star(pairs).orderBy("node")

def q_kcore_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-round k-core peel (k=16) on the bipartite customer-part
    purchase graph (r10): iteratively drop customers with < k distinct
    parts and parts with < k distinct buyers, report survivors with
    residual degree — the recsys data-cleaning core (prune cold users
    and cold items BEFORE training interaction embeddings; one pass of
    each filter is not enough because dropping cold items cools some
    users, hence the peel). Part nodes are offset by 10^7 to keep the
    bipartite id spaces disjoint. Fixed rounds -> hash-checked CTE
    unroll (the kmeans_fixed discipline)."""
    from flink_elasticsearch_ingestion_spark.operators.graph import kcore_peel

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.lit(10_000_000) + F.col("l_partkey")).alias("dst"),
        )
        .distinct()
    )
    return kcore_peel(edges, k=16, rounds=2)

def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup capstone — portable-MinHash near-dup pairs resolved
    into clusters via iterative connected components; one row per
    cluster with size + kept representative. Oracle-checked: the DuckDB
    side re-derives the same pairs and resolves components with a
    recursive CTE. band_cap=None to match the uncapped oracle
    candidate set (see q_minhash_near_dup)."""
    return D.near_dup_clusters(
        _t(spark, sf_dir, "documents"),
        jaccard_threshold=0.4,
        band_cap=None,
        arrow=True,
    )

def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-hygiene audit: near-duplicate pairs that STRADDLE the
    train/val/test split — the leakage a held-out set must not have.
    Composes the deterministic hash split with portable-MinHash
    near-dup pairs, so the DuckDB oracle re-derives both the split
    membership and the pair set and checks the exact leak list."""
    from flink_elasticsearch_ingestion_spark.operators.sampling import hash_split

    docs = _t(spark, sf_dir, "documents")
    split = hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}).select(
        "doc_id", "split"
    )
    pairs = D.minhash_near_duplicates(
        docs, jaccard_threshold=0.4, band_cap=None, arrow=True
    )
    sa = split.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a"))
    sb = split.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select("doc_a", "doc_b", "jaccard", "split_a", "split_b")
        .orderBy("doc_a", "doc_b")
    )

def q_incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: a 10% 'new batch' (doc_id % 10 == 7)
    near-dup-checked against the remaining 90% corpus signature table +
    itself — the daily-crawl ingestion shape, where wide work scales
    with the increment, never corpus x corpus. Portable hash family, so
    the DuckDB oracle verifies it as the full self-join restricted to
    pairs touching the batch (an equivalence the operator guarantees)."""
    docs = _t(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 10 == 7
    cs = D.minhash_signature_table(
        docs.filter(~is_new), arrow=True
    ).persist()
    ns = D.minhash_signature_table(
        docs.filter(is_new), arrow=True
    ).persist()
    cs.count(), ns.count()  # eager fill: see minhash_near_duplicates
    # materialize the (tiny) pair result, then RELEASE the two
    # corpus-scale signature caches — the caller collects from the
    # small cached result, so nothing leaks into the rest of a
    # long-lived session
    out = D.near_duplicates_incremental(
        cs, ns, jaccard_threshold=0.4, band_cap=None
    ).persist()
    out.count()
    cs.unpersist()
    ns.unpersist()
    return out

def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: corpus docs (doc_id >= 25) sharing >= 2
    distinct trigrams with any probe doc (doc_id < 25)."""
    docs = _t(spark, sf_dir, "documents")
    return D.cross_corpus_contamination(
        docs.filter(F.col("doc_id") >= 25),
        docs.filter(F.col("doc_id") < 25),
        min_shared=2,
    )

def q_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.passage_dedup(_t(spark, sf_dir, "documents"))

def q_scrub_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc repeated-passage removal with in-order reassembly."""
    return X.scrub_boilerplate(_t(spark, sf_dir, "documents"), df_threshold=3)

def q_simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash bucketing with the engine-portable hash family (md5-31
    feature hashes, 24-bit signature, 12-bit bucket prefix): the DuckDB
    oracle re-derives the identical per-bit votes, signatures, and
    bucket membership — including the capped, deterministically-ordered
    id sample. The bounded id sample is flattened to CSV so every
    contract column is scalar."""
    return D.simhash_buckets(
        _t(spark, sf_dir, "documents"), bits=24, prefix_bits=12
    ).select(
        "bucket", "n_docs", F.array_join("doc_ids", ",").alias("doc_ids_csv")
    ).orderBy("bucket")

def q_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end SimHash near-dup pairs: Manku-pigeonhole band
    blocking (hamming <= 2 over 24 portable bits MUST collide on one
    of 3 exact 8-bit bands — guaranteed recall, no S-curve) + popcount
    verify. The oracle re-derives signatures, bands, candidates, and
    hamming distances bit-for-bit from the md5-31 feature family."""
    return D.simhash_hamming_pairs(
        _t(spark, sf_dir, "documents"),
        bits=24,
        max_hamming=2,
    )


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table sign-LSH near-dup pairs, hash-verified: the oracle
    re-derives buckets from inlined hyperplane literals plus the exact
    cosine verify. Threshold/bits/tables tuned so the synthetic corpus
    (random vectors, max pairwise cosine ~0.5) yields a non-trivial
    result."""
    # bits="auto" resolves to 4 at the sf0.01 fixture (500 vectors) —
    # the width the oracle's plane literals assume — and grows log2
    # with the corpus (auto_lsh_bits; see the sf1 LSH lesson, SCALE.md)
    # corpus_rows from the parquet footer: auto-bits costs no count job
    return S.embedding_near_duplicates(
        _t(spark, sf_dir, "embeddings"), threshold=0.4, bits="auto", tables=8,
        corpus_rows=_nrows(sf_dir, "embeddings"),
    )

def q_substring_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring benchmark-leakage audit: every 5th document's
    leading 3-word phrase probed as a contiguous substring of the
    corpus (broadcast needle table, map-side contains scan)."""
    docs = _t(spark, sf_dir, "documents")
    probe = docs.filter(F.col("doc_id") % 5 == 0)
    return D.substring_contamination(docs, probe, needle_words=3)

def q_token_set_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity self-join (AllPairs prefix filtering) over
    distinct word-bigram sets; the oracle is the full all-pairs SQL
    join, so a hash-green row PROVES the prefix filter loses nothing."""
    return D.token_set_similarity_join(
        _t(spark, sf_dir, "documents"), threshold=0.5, gram_k=3
    )

def q_corpus_build_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The five-stage corpus-build capstone, composed from oracled
    operators into ONE lazy plan: Gopher quality gate -> portable
    MinHash near-dup drop (keep the smaller doc id of each verified
    pair) -> exact-substring decontamination (every 5th doc's leading
    3-word phrase as the benchmark needle set) -> per-source 50% token
    budget (docs admitted in doc_id order until half the surviving
    source's tokens) -> per-source funnel report.  Each stage's
    survivor count is a column, so the report IS the audit trail.

    Scale notes: every stage is an ids-only semi/anti join against the
    document stream; the budget stage uses a per-source window (source
    cardinality is small — for skewed sources the two-phase
    ``token_budget_by_source`` is the documented swap-in)."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "source",
        X.token_count("text").alias("n_tokens"),
    )
    s1 = (
        X.gopher_quality(docs)
        .filter(F.col("passes_gopher"))
        .select("doc_id")
    )
    pairs = D.minhash_near_duplicates(
        docs, jaccard_threshold=0.4, band_cap=None, arrow=True
    )
    dup_drop = (
        pairs.join(s1.withColumnRenamed("doc_id", "doc_a"), "doc_a", "semi")
        .join(s1.withColumnRenamed("doc_id", "doc_b"), "doc_b", "semi")
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    s2 = s1.join(dup_drop, "doc_id", "anti")
    probe = docs.filter(F.col("doc_id") % 5 == 0)
    s2_docs = docs.join(s2, "doc_id", "semi")
    contaminated = (
        D.substring_contamination(s2_docs, probe, needle_words=3)
        .select(F.col("corpus_id").alias("doc_id"))
        .distinct()
    )
    s3 = s2.join(contaminated, "doc_id", "anti")
    from pyspark.sql import Window as _W

    s3_base = base.join(s3, "doc_id", "semi")
    w_cum = _W.partitionBy("source").orderBy("doc_id")
    w_tot = _W.partitionBy("source")
    s4 = (
        s3_base.withColumn("cum", F.sum("n_tokens").over(w_cum))
        .withColumn("tot", F.sum("n_tokens").over(w_tot))
        .filter(F.col("cum") <= 0.5 * F.col("tot"))
        .select("doc_id")
    )
    marked = (
        base.join(s1.withColumn("q1", F.lit(True)), "doc_id", "left")
        .join(s2.withColumn("q2", F.lit(True)), "doc_id", "left")
        .join(s3.withColumn("q3", F.lit(True)), "doc_id", "left")
        .join(s4.withColumn("q4", F.lit(True)), "doc_id", "left")
    )
    return (
        marked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.count(F.when(F.col("q1"), 1)).alias("n_quality"),
            F.count(F.when(F.col("q2"), 1)).alias("n_dedup"),
            F.count(F.when(F.col("q3"), 1)).alias("n_clean"),
            F.count(F.when(F.col("q4"), 1)).alias("n_kept"),
            F.sum(F.when(F.col("q4"), F.col("n_tokens")).otherwise(F.lit(0))).alias(
                "kept_tokens"
            ),
        )
        .orderBy("source")
    )

def q_training_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAST MILE of the training-data pipeline, materialized: build
    the frequency-ranked vocabulary -> encode every document as its
    token-id sequence -> greedy-pack documents into capacity-512
    training bins -> emit each bin's concatenated input-id stream.
    Everything upstream profiles/filters/dedups documents; THIS is the
    operator that produces what a trainer actually reads.

    Plan shape: the vocab is vocabulary-sized (two-phase ranked, no
    global window); encoding is one fact shuffle (token join + per-doc
    ordered re-collect, state bounded by document length); packing is
    per-(lang, shard) applyInPandas streams; the bin assembly re-joins
    ids by doc_id with per-bin state bounded by capacity. The DuckDB
    oracle replays ALL FOUR stages, including the packing recurrence
    as a recursive CTE and the exact id streams."""
    docs = _t(spark, sf_dir, "documents")
    from flink_elasticsearch_ingestion_spark.operators.packing import pack_documents

    vocab = X.vocab_with_ids(docs, min_count=1).select("token", "token_id")
    toks = docs.select(
        "doc_id",
        "lang",
        # MUST be the same \s+ tokenizer vocab_with_ids uses: a literal
        # single-space split would silently drop any token adjacent to a
        # tab/newline/multi-space run at the vocab join, breaking the
        # lossless decode round-trip
        F.posexplode(F.split(F.lower(F.trim(F.col("text"))), "\\s+")).alias(
            "pos", "token"
        ),
    ).filter(F.col("token") != "")
    encoded = (
        toks.join(vocab, "token")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "token_id"))
                    ),
                    lambda s: s["token_id"].cast("string"),
                ),
                ",",
            ).alias("ids_csv"),
        )
    )
    assign = pack_documents(
        encoded, capacity=512, size_col="n_tokens", group_cols=("lang",), n_shards=8
    )
    return (
        assign.join(encoded.select("doc_id", "ids_csv"), "doc_id")
        .groupBy("lang", "shard", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("bin_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "ids_csv"))),
                    lambda s: s["ids_csv"],
                ),
                "|",
            ).alias("input_ids"),
        )
        .orderBy("lang", "shard", "bin_id")
    )

def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dups (Broder |A∩B|/|A|): documents
    QUOTED inside longer ones, which symmetric Jaccard misses. Rare-
    prefix blocking (never all-pairs) + exact verify on the portable
    shingle sets; the oracle re-derives shingles, prefix, candidates,
    and the containment cut."""
    return D.containment_pairs(_t(spark, sf_dir, "documents"), threshold=0.6)

def q_window_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplication profile: fraction of 8-token windows
    shared with any other document — the cheap novelty triage before
    pairwise span mining (one df aggregate + membership join, no pair
    expansion). Oracle replays windows, sharing, and the ratio."""
    return D.window_novelty(_t(spark, sf_dir, "documents"))

def q_dedup_passages_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 keep-first passage dedup: each exact 10-word passage keeps
    its earliest (doc_id, pos) occurrence corpus-wide; later copies
    drop and documents reassemble in order. The oracle re-derives the
    winner election and the rebuilt text hash per doc."""
    return X.dedup_passages_global(_t(spark, sf_dir, "documents"))

def q_scrub_shared_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup REMOVAL (Lee et al. policy): every maximal
    shared span keeps its lowest-doc occurrence and is excised from the
    higher doc; overlapping removal intervals union before excision.
    The oracle re-derives the span mining, the interval merge, and the
    token-level rebuild — the cleaned corpus hash-matches end to end."""
    return D.scrub_shared_spans(_t(spark, sf_dir, "documents"))


def q_saturating_dedup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup saturation curve: per id-ordered ingest batch, the share
    of documents whose normalized content hash is a FIRST occurrence,
    plus the cumulative unique share — the is-this-source-mined-out
    signal. One content-hash aggregate + bounded batch-axis windows."""
    return D.dedup_saturation(_t(spark, sf_dir, "documents"), batch_size=100)


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-occurrence trigram novelty per document (share of a doc's
    distinct word trigrams seen in NO earlier doc) — the ordered
    complement of window_novelty's shared-with-anyone view. One
    gram-keyed min(doc) aggregate + re-join on the same key."""
    return D.ngram_novelty(_t(spark, sf_dir, "documents"), n=3)


def q_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration (r10): over ALL band-collision
    candidate pairs, the 16-perm signature match rate vs the exact
    shingle-set Jaccard — mean absolute error, worst error, and signed
    bias of the estimator on this corpus. The number that justifies
    num_hashes: S-curve band math assumes the estimate tracks truth.
    band_cap=None to match the uncapped oracle candidate set (see
    q_minhash_near_dup); the production default caps buckets."""
    return D.minhash_estimate_error(
        _t(spark, sf_dir, "documents"), band_cap=None
    )

def q_planted_dup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup recall on planted truncation twins (r10):
    every doc's first 4/5 of tokens (exact integer arithmetic) is
    unioned in as a twin, the full portable MinHash -> banding ->
    verify pipeline runs on the doubled corpus, and the row reports
    how many planted pairs it recovered — the banding S-curve's
    recall, measured on this corpus instead of assumed from theory.
    The oracle replays twin construction AND the whole pair chain."""
    return D.planted_dup_recall(_t(spark, sf_dir, "documents"))

def q_minhash_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-bucket occupancy histogram (same signatures and band
    keys as minhash_near_dup, portable family): per (band, occupancy),
    bucket count and implied candidate-pair budget — the
    observability readout that predicts band_cap truncation and join
    cost BEFORE the pair join runs."""
    return D.minhash_band_stats(
        _t(spark, sf_dir, "documents"), arrow=True
    )


#: driver-contract queries owned by this family (names are the
#: catalog keys the driver and the oracle gate use verbatim)
QUERIES = {
    "saturating_dedup_rate": q_saturating_dedup_rate,
    "ngram_novelty": q_ngram_novelty,
    "minhash_band_stats": q_minhash_band_stats,
    "minhash_estimate_error": q_minhash_estimate_error,
    "planted_dup_recall": q_planted_dup_recall,
    "fingerprints": q_fingerprints,
    "training_data_pipeline": q_training_data_pipeline,
    "dedup_content": q_dedup_content,
    "dedup_exact": q_dedup_exact,
    "minhash_near_dup": q_minhash_near_dup,
    "duplicate_token_share": q_duplicate_token_share,
    "cross_source_near_dup": q_cross_source_near_dup,
    "ngram_jaccard": q_ngram_jaccard,
    "sorted_neighborhood_dedup": q_sorted_neighborhood_dedup,
    "simhash_buckets": q_simhash_buckets,
    "simhash_hamming_pairs": q_simhash_hamming_pairs,
    "embedding_near_dup": q_embedding_near_dup,
    "scrub_boilerplate": q_scrub_boilerplate,
    "substring_contamination": q_substring_contamination,
    "token_set_join": q_token_set_join,
    "dedup_threshold_sweep": q_dedup_threshold_sweep,
    "shared_spans": q_shared_spans,
    "span_leakage": q_span_leakage,
    "bigram_pmi": q_bigram_pmi,
    "contrastive_triples": q_contrastive_triples,
    "winnowing": q_winnowing,
    "quality_dedup_survivors": q_quality_dedup_survivors,
    "scrub_shared_spans": q_scrub_shared_spans,
    "dedup_passages_global": q_dedup_passages_global,
    "window_novelty": q_window_novelty,
    "containment_pairs": q_containment_pairs,
    "corpus_build_pipeline": q_corpus_build_pipeline,
    "training_batches": q_training_batches,
    "near_dup_clusters": q_near_dup_clusters,
    "kcore_fixed": q_kcore_fixed,
    "incremental_near_dup": q_incremental_near_dup,
    "split_leakage": q_split_leakage,
    "contamination": q_contamination,
    "passage_dedup": q_passage_dedup,
    "text_dup_components": q_text_dup_components,
}

#: DuckDB oracle per query — keys MUST be a subset of QUERIES
ORACLES = {
    "saturating_dedup_rate": (
        "WITH h AS (SELECT doc_id AS doc,"
        " sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS hh"
        " FROM documents),"
        " fo AS (SELECT hh, min(doc) AS first_doc FROM h GROUP BY hh),"
        " fl AS (SELECT CAST(doc // 100 AS INT) AS batch,"
        "  CASE WHEN doc = first_doc THEN 1 ELSE 0 END AS is_new"
        "  FROM h JOIN fo USING (hh)),"
        " per AS (SELECT batch, count(*) AS n_docs,"
        "  CAST(sum(is_new) AS BIGINT) AS n_new FROM fl GROUP BY batch)"
        " SELECT batch, n_docs, n_new,"
        " round(n_new * 1.0 / n_docs + 1e-9, 6) AS new_rate,"
        " round(sum(n_new) OVER w * 1.0 / sum(n_docs) OVER w + 1e-9, 6)"
        "  AS cum_unique_share"
        " FROM per WINDOW w AS (ORDER BY batch ROWS UNBOUNDED PRECEDING)"
        " ORDER BY batch"
    ),
    "ngram_novelty": (
        # same trigram construction as ngram_jaccard (w[i:i+2] 1-based
        # inclusive == F.slice(w, i, 3)), min-doc first-owner attribution
        "WITH d AS (SELECT doc_id AS doc,"
        " string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')"
        "  AS w FROM documents),"
        " g AS (SELECT doc, unnest(list_distinct(["
        "  array_to_string(w[i:i+2], ' ')"
        "  FOR i IN generate_series(1, greatest(len(w)-2, 1))])) AS gram"
        "  FROM d),"
        " o AS (SELECT gram, min(doc) AS first_doc FROM g GROUP BY gram),"
        " per AS (SELECT doc AS doc_id, count(*) AS n_grams,"
        "  CAST(sum(CASE WHEN doc = first_doc THEN 1 ELSE 0 END) AS BIGINT)"
        "   AS n_novel"
        "  FROM g JOIN o USING (gram) GROUP BY doc)"
        " SELECT doc_id, n_grams, n_novel,"
        " round(n_novel * 1.0 / n_grams + 1e-9, 6) AS novelty"
        " FROM per ORDER BY doc_id"
    ),
    "planted_dup_recall": (
        # the pair chain over the doubled corpus (docs + 4/5-token
        # truncation twins), then the planted-pair recall account
        "WITH " + _minhash_pairs_cte(0.4, source="(SELECT doc_id, text FROM documents UNION ALL SELECT doc_id + 1000000 AS doc_id, array_to_string(list_slice(t, 1, (4 * len(t) + 4) // 5), ' ') AS text FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t   FROM documents)) AS planted_src")
        + ", planted AS (SELECT doc_id AS doc_a,"
        "   doc_id + 1000000 AS doc_b FROM documents),"
        " found AS (SELECT jaccard FROM planted"
        "   JOIN mh_pairs USING (doc_a, doc_b)),"
        " np AS (SELECT count(*) AS n_planted FROM documents)"
        " SELECT CAST(n_planted AS BIGINT) AS n_planted,"
        " CAST((SELECT count(*) FROM found) AS BIGINT) AS n_found,"
        " round((SELECT count(*) FROM found) * 1.0 / n_planted + 1e-9, 6)"
        "  AS recall,"
        " round(round((SELECT sum(jaccard) FROM found), 2) /"
        "  (SELECT count(*) FROM found) + 1e-9, 4) AS mean_found_jaccard"
        " FROM np"
    ),
    "minhash_estimate_error": (
        # reuses the portable-MinHash chain's cand/sig/hv CTEs; the
        # signature match rate (matches/16, exact binary) vs the exact
        # hashed-shingle Jaccard per candidate pair, then the repo's
        # float discipline: round(round(sum, 2)/n + 1e-9, 4)
        "WITH " + _minhash_pairs_cte(0.4)
        + ", ps AS (SELECT c.doc_a, c.doc_b,"
        "   sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 16.0 AS est"
        "   FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a"
        "   JOIN sig sb ON sb.doc_id = c.doc_b AND sb.j = sa.j"
        "   GROUP BY c.doc_a, c.doc_b),"
        " ex AS (SELECT c.doc_a, c.doc_b,"
        "   round(len(list_intersect(ha.h, hb.h)) * 1.0 /"
        "     greatest(len(ha.h) + len(hb.h) - len(list_intersect(ha.h, hb.h)), 1),"
        "     6) AS exact"
        "   FROM cand c JOIN hv ha ON ha.doc_id = c.doc_a"
        "   JOIN hv hb ON hb.doc_id = c.doc_b)"
        " SELECT CAST(count(*) AS BIGINT) AS n_pairs,"
        " round(round(sum(abs(est - exact)), 2) / count(*) + 1e-9, 4)"
        "  AS mean_abs_err,"
        " round(max(round(abs(est - exact), 6)), 6) AS max_abs_err,"
        " round(round(sum(est - exact), 2) / count(*) + 1e-9, 4) AS bias"
        " FROM ps JOIN ex USING (doc_a, doc_b)"
    ),
    "minhash_band_stats": (
        # reuses the portable-MinHash chain's `bands` CTE (unreferenced
        # tail CTEs are never evaluated); occupancy histogram on top
        "WITH " + _minhash_pairs_cte(0.4)
        + ", bk AS (SELECT band_idx, band_key, count(*) AS occupancy"
        "  FROM bands GROUP BY 1, 2)"
        " SELECT CAST(band_idx AS INT) AS band_idx, occupancy,"
        " count(*) AS n_buckets,"
        " CAST(sum(occupancy * (occupancy - 1) // 2) AS BIGINT)"
        "  AS candidate_pairs"
        " FROM bk GROUP BY 1, 2 ORDER BY 1, 2"
    ),
    "fingerprints": (
        "SELECT doc_id,"
        " sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,"
        " length(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS n_chars_norm"
        " FROM documents ORDER BY doc_id"
    ),
    "training_data_pipeline": (
        "WITH scored AS ("
        " SELECT doc_id, text, lang, round("
        "  (CASE WHEN length(text) BETWEEN 50 AND 10000 THEN 0.4 ELSE 0.0 END)"
        "  + (CASE WHEN len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]'))"
        "      / greatest(length(text), 1) < 0.1 THEN 0.3 ELSE 0.0 END)"
        "  + (CASE WHEN len(list_filter(string_split_regex(trim(text), '\\s+'),"
        "      t -> lower(t) IN ('the','a','of','and','to')))"
        "      / greatest(len(string_split_regex(trim(text), '\\s+')), 1) > 0.01"
        "      THEN 0.3 ELSE 0.0 END), 2) AS quality_score"
        " FROM documents),"
        " passed AS (SELECT * FROM scored WHERE quality_score >= 0.7),"
        " kept AS (SELECT min(doc_id) AS doc_id FROM passed"
        "  GROUP BY sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')))"
        " SELECT d.lang, count(*) AS n_docs,"
        " CAST(sum(len(string_split_regex(trim(d.text), '\\s+'))) AS BIGINT)"
        "  AS total_tokens,"
        " round(round(sum(length(d.text)), 2) / count(*) + 1e-9, 4) AS avg_chars"
        " FROM documents d JOIN kept USING (doc_id)"
        " GROUP BY d.lang ORDER BY d.lang"
    ),
    "passage_dedup": (
        "WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t"
        "  FROM documents),"
        " chunks AS (SELECT doc_id,"
        "  unnest(list_transform(range(0, CAST(ceil(len(t) / 10.0) AS INT)),"
        "   i -> md5(array_to_string(t[(i*10+1):(i*10+10)], ' ')))) AS passage_hash"
        "  FROM toks)"
        " SELECT passage_hash, count(*) AS n_occurrences,"
        " count(DISTINCT doc_id) AS n_docs"
        " FROM chunks GROUP BY 1 HAVING count(*) > 1"
        " ORDER BY n_occurrences DESC, passage_hash"
    ),
    # shared shingle/pair pipeline for the two n-gram entries below:
    # DuckDB list slice w[i:i+2] is 1-based INCLUSIVE == F.slice(w, i, 3);
    # generate_series is end-inclusive; list comprehension + list_distinct
    # mirrors word_shingles() exactly
    "sorted_neighborhood_dedup": (
        "WITH d AS (SELECT doc_id,"
        r"  substr(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), 1, 32)"
        "   AS key,"
        r"  list_distinct(string_split(regexp_replace(lower(trim(text)),"
        r"   '\s+', ' ', 'g'), ' ')) AS toks"
        "  FROM documents),"
        " r AS (SELECT *, row_number() OVER (ORDER BY key, doc_id) AS rn"
        "  FROM d),"
        " cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,"
        "   a.toks AS ta, b.toks AS tb"
        "  FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 5),"
        " j AS (SELECT doc_a, doc_b,"
        "   round(len(list_intersect(ta, tb)) * 1.0 /"
        "    (len(ta) + len(tb) - len(list_intersect(ta, tb))), 6) AS jaccard"
        "  FROM cand)"
        " SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.4"
        " ORDER BY doc_a, doc_b"
    ),
    "ngram_jaccard": (
        "WITH docs AS (SELECT doc_id,"
        " string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w"
        " FROM documents WHERE doc_id < 200),"
        " sh AS (SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ')"
        "   FOR i IN generate_series(1, greatest(len(w)-2, 1))]) AS grams FROM docs),"
        " sizes AS (SELECT doc_id, len(grams) AS n_grams FROM sh),"
        " ex AS (SELECT doc_id, unnest(grams) AS gram FROM sh),"
        " cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared"
        "   FROM ex a JOIN ex b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1, 2)"
        " SELECT doc_a, doc_b, n_shared,"
        " round(n_shared * 1.0 / (sa.n_grams + sb.n_grams - n_shared), 6) AS jaccard"
        " FROM cand JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b"
        " WHERE round(n_shared * 1.0 / (sa.n_grams + sb.n_grams - n_shared), 6) >= 0.15"
        " ORDER BY doc_a, doc_b"
    ),
    "embedding_near_dup": (
        "WITH planes AS (SELECT * FROM (VALUES "
        + _plane_values(4, [42 + t for t in range(8)])
        + ") AS t(tbl, i, p)),"
        " vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),"
        " buckets AS (SELECT vec_id, v, tbl, CAST(sum(CASE WHEN"
        "   list_dot_product(v, p) >= 0 THEN (1::BIGINT << i) ELSE 0 END)"
        "   AS BIGINT) AS bucket FROM vecs CROSS JOIN planes GROUP BY vec_id, v, tbl),"
        " cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b"
        "   FROM buckets a JOIN buckets b ON a.tbl = b.tbl"
        "   AND a.bucket = b.bucket AND a.vec_id < b.vec_id),"
        " verified AS (SELECT vec_a, vec_b,"
        "   round(list_dot_product(va.v, vb.v) /"
        "     (sqrt(list_dot_product(va.v, va.v)) * sqrt(list_dot_product(vb.v, vb.v))),"
        "     6) AS cosine"
        "   FROM cand JOIN vecs va ON va.vec_id = cand.vec_a"
        "   JOIN vecs vb ON vb.vec_id = cand.vec_b)"
        " SELECT vec_a, vec_b, cosine FROM verified WHERE cosine >= 0.4"
        " ORDER BY vec_a, vec_b"
    ),
    "simhash_buckets": (
        "WITH docs AS (SELECT doc_id,"
        " string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w"
        " FROM documents),"
        " th AS (SELECT doc_id, list_transform(w,"
        "   t -> ('0x' || substr(md5(t),1,8))::BIGINT % 2147483647) AS ht FROM docs),"
        " hv AS (SELECT doc_id, list_distinct(["
        "   list_reduce(list_prepend(0::BIGINT, ht[i:i+1]),"
        "     (a, x) -> ((a*1000003) % 2147483647 + x) % 2147483647)"
        "   FOR i IN generate_series(1, greatest(len(ht)-1, 1))]) AS h FROM th),"
        " sig AS (SELECT doc_id, CAST(list_sum([CASE WHEN"
        "   list_sum(list_transform(h, x -> CASE WHEN (x >> b) & 1 = 1"
        "     THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << b) ELSE 0 END"
        "   FOR b IN generate_series(0, 23)]) AS BIGINT) AS s FROM hv),"
        " ranked AS (SELECT doc_id, s >> 12 AS bucket,"
        "   row_number() OVER (PARTITION BY (s >> 12) ORDER BY doc_id) AS rn"
        "   FROM sig)"
        " SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,"
        "   string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id)"
        "     FILTER (WHERE rn <= 100) AS doc_ids_csv"
        " FROM ranked GROUP BY bucket HAVING count(*) > 1 ORDER BY bucket"
    ),
    "simhash_hamming_pairs": (
        # same portable signature derivation as simhash_buckets (md5-31
        # word-bigram features, 24-bit signature), then the pigeonhole
        # band join + popcount verify
        "WITH docs AS (SELECT doc_id,"
        " string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w"
        " FROM documents),"
        " th AS (SELECT doc_id, list_transform(w,"
        "   t -> ('0x' || substr(md5(t),1,8))::BIGINT % 2147483647) AS ht FROM docs),"
        " hv AS (SELECT doc_id, list_distinct(["
        "   list_reduce(list_prepend(0::BIGINT, ht[i:i+1]),"
        "     (a, x) -> ((a*1000003) % 2147483647 + x) % 2147483647)"
        "   FOR i IN generate_series(1, greatest(len(ht)-1, 1))]) AS h FROM th),"
        " sig AS (SELECT doc_id, CAST(list_sum([CASE WHEN"
        "   list_sum(list_transform(h, x -> CASE WHEN (x >> b) & 1 = 1"
        "     THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << b) ELSE 0 END"
        "   FOR b IN generate_series(0, 23)]) AS BIGINT) AS s FROM hv),"
        " banded AS (SELECT doc_id, b AS band_idx,"
        "   (s >> (b * 8)) & 255 AS band_bits"
        "   FROM sig, LATERAL (SELECT unnest(generate_series(0, 2)) AS b) g),"
        " cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b"
        "   FROM banded a JOIN banded b ON a.band_idx = b.band_idx"
        "   AND a.band_bits = b.band_bits AND a.doc_id < b.doc_id)"
        " SELECT c.doc_a, c.doc_b,"
        "   CAST(bit_count(xor(sa.s, sb.s)) AS INTEGER) AS hamming"
        " FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a"
        " JOIN sig sb ON sb.doc_id = c.doc_b"
        " WHERE bit_count(xor(sa.s, sb.s)) <= 2 ORDER BY doc_a, doc_b"
    ),
    "minhash_near_dup": (
        "WITH " + _minhash_pairs_cte(0.4)
        + " SELECT doc_a, doc_b, jaccard FROM mh_pairs ORDER BY doc_a, doc_b"
    ),
    "duplicate_token_share": (
        "WITH " + _minhash_pairs_cte(0.4)
        + ", dup_ids AS (SELECT DISTINCT doc_id FROM"
        "   (SELECT doc_a AS doc_id FROM mh_pairs"
        "    UNION ALL SELECT doc_b AS doc_id FROM mh_pairs)),"
        " tok AS (SELECT doc_id,"
        "   len(string_split_regex(trim(text), '\\s+')) AS n_tokens"
        "   FROM documents)"
        " SELECT CAST(count(*) AS BIGINT) AS total_docs,"
        " CAST(count(d.doc_id) AS BIGINT) AS dup_docs,"
        " CAST(sum(t.n_tokens) AS BIGINT) AS total_tokens,"
        " CAST(coalesce(sum(CASE WHEN d.doc_id IS NOT NULL"
        "   THEN t.n_tokens END), 0) AS BIGINT) AS dup_tokens,"
        " round(coalesce(sum(CASE WHEN d.doc_id IS NOT NULL"
        "   THEN t.n_tokens END), 0) * 1.0 / sum(t.n_tokens), 6)"
        "   AS dup_token_share"
        " FROM tok t LEFT JOIN dup_ids d ON t.doc_id = d.doc_id"
    ),
    "cross_source_near_dup": (
        "WITH " + _minhash_pairs_cte(0.4)
        + ", s AS (SELECT doc_id, source FROM documents)"
        " SELECT least(sa.source, sb.source) AS source_x,"
        " greatest(sa.source, sb.source) AS source_y,"
        " CAST(count(*) AS BIGINT) AS n_pairs,"
        " round(max(jaccard), 6) AS max_jaccard"
        " FROM mh_pairs p"
        " JOIN s sa ON sa.doc_id = p.doc_a"
        " JOIN s sb ON sb.doc_id = p.doc_b"
        " GROUP BY 1, 2 ORDER BY 1, 2"
    ),
    "split_leakage": (
        "WITH " + _minhash_pairs_cte(0.4)
        + ", sp AS (SELECT doc_id, CASE"
        f" WHEN u < {0.8!r} THEN 'train'"
        f" WHEN u < {0.8 + 0.1!r} THEN 'val' ELSE 'test' END AS split FROM ("
        " SELECT doc_id,"
        " ('0x' || substr(md5('split-v1:' || doc_id::VARCHAR), 1, 13))::BIGINT"
        " / 4503599627370496.0 AS u FROM documents))"
        " SELECT doc_a, doc_b, jaccard, a.split AS split_a, b.split AS split_b"
        " FROM mh_pairs JOIN sp a ON a.doc_id = doc_a"
        " JOIN sp b ON b.doc_id = doc_b"
        " WHERE a.split <> b.split ORDER BY doc_a, doc_b"
    ),
    "incremental_near_dup": (
        "WITH " + _minhash_pairs_cte(0.4)
        + " SELECT CASE WHEN doc_b % 10 = 7 THEN doc_b ELSE doc_a END AS new_id,"
        " CASE WHEN doc_b % 10 = 7 THEN doc_a ELSE doc_b END AS dup_id,"
        " jaccard FROM mh_pairs"
        " WHERE doc_a % 10 = 7 OR doc_b % 10 = 7"
        " ORDER BY new_id, dup_id"
    ),
    "window_novelty": (
        "WITH t AS (SELECT doc_id AS doc,"
        "  string_split_regex(trim(text), '\\s+') AS toks FROM documents),"
        " win AS (SELECT doc, i AS pos,"
        "  ('0x' || substr(md5(array_to_string("
        "    toks[i + 1 : i + 8], ' ')), 1, 8))::BIGINT"
        "    % 2147483647 AS wh"
        "  FROM t, LATERAL (SELECT unnest(generate_series(0,"
        "   len(toks) - 8)) AS i) g WHERE len(toks) >= 8),"
        " sh AS (SELECT wh FROM win GROUP BY wh"
        "  HAVING count(DISTINCT doc) > 1),"
        " per AS (SELECT w.doc, CAST(count(*) AS BIGINT) AS n_windows,"
        "  CAST(count(s.wh) AS BIGINT) AS n_shared"
        "  FROM win w LEFT JOIN sh s ON s.wh = w.wh GROUP BY w.doc)"
        " SELECT t.doc AS doc_id,"
        "  CAST(coalesce(p.n_windows, 0) AS BIGINT) AS n_windows,"
        "  CAST(coalesce(p.n_shared, 0) AS BIGINT) AS n_shared,"
        "  round(1.0 - coalesce(p.n_shared, 0)"
        "   / greatest(coalesce(p.n_windows, 0), 1) + 1e-9, 6) AS novelty"
        " FROM t LEFT JOIN per p ON p.doc = t.doc ORDER BY doc_id"
    ),
    "dedup_passages_global": (
        "WITH t AS (SELECT doc_id,"
        " regexp_split_to_array(trim(text), '\\s+') AS toks"
        " FROM documents WHERE trim(text) <> ''),"
        " c AS (SELECT doc_id, i AS pos,"
        "  array_to_string(list_slice(toks, i * 10 + 1, i * 10 + 10),"
        "   ' ') AS passage"
        "  FROM t, LATERAL (SELECT unnest(generate_series(0,"
        "   CAST(ceil(len(toks) / 10.0) AS INT) - 1)) AS i) g),"
        " w AS (SELECT passage, min({'d': doc_id, 'p': pos}) AS win"
        "  FROM c GROUP BY passage),"
        " f AS (SELECT c.doc_id, c.pos, c.passage,"
        "  (c.doc_id = (w.win).d AND c.pos = (w.win).p) AS keep"
        "  FROM c JOIN w ON c.passage = w.passage)"
        " SELECT doc_id, CAST(count(*) AS BIGINT) AS n_passages,"
        " CAST(count(*) FILTER (WHERE NOT keep) AS BIGINT) AS n_dropped,"
        " CAST(length(coalesce(string_agg(passage, ' ' ORDER BY pos)"
        "  FILTER (WHERE keep), '')) AS BIGINT) AS n_chars_clean,"
        " md5(coalesce(string_agg(passage, ' ' ORDER BY pos)"
        "  FILTER (WHERE keep), '')) AS clean_sha"
        " FROM f GROUP BY doc_id ORDER BY doc_id"
    ),
    "scrub_shared_spans": (
        "WITH " + _shared_spans_cte()
        + ", iv AS (SELECT doc_b AS doc, CAST(start_b AS BIGINT) AS s,"
        "   CAST(start_b + span_tokens AS BIGINT) AS e FROM spans),"
        " marked AS (SELECT doc, s, e, max(e) OVER (PARTITION BY doc"
        "   ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
        "   AS pm FROM iv),"
        " gi AS (SELECT doc, s, e,"
        "   sum(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)"
        "    OVER (PARTITION BY doc ORDER BY s, e"
        "     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid"
        "  FROM marked),"
        " merged AS (SELECT doc, min(s) AS s, max(e) AS e FROM gi"
        "   GROUP BY doc, gid),"
        " ivs AS (SELECT doc, list({'s': s, 'e': e} ORDER BY s, e) AS ivl"
        "   FROM merged GROUP BY doc),"
        " cleaned AS (SELECT t.doc, len(t.toks) AS n_before,"
        "   CASE WHEN ivs.ivl IS NULL THEN t.toks"
        "    ELSE [t.toks[i] FOR i IN generate_series(1, len(t.toks))"
        "          IF len(list_filter(ivs.ivl,"
        "            iv -> (i-1) >= iv.s AND (i-1) < iv.e)) = 0]"
        "   END AS kept,"
        "   coalesce(len(ivs.ivl), 0) AS n_spans"
        "  FROM t LEFT JOIN ivs ON ivs.doc = t.doc)"
        " SELECT doc AS doc_id, CAST(n_before AS BIGINT) AS n_tokens_before,"
        "  CAST(len(kept) AS BIGINT) AS n_tokens_after,"
        "  CAST(n_spans AS BIGINT) AS n_spans_removed,"
        "  coalesce(array_to_string(kept, ' '), '') AS clean_text"
        " FROM cleaned ORDER BY doc_id"
    ),
    "containment_pairs": (
        "WITH docs AS (SELECT doc_id,"
        " string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')"
        "  AS w FROM documents),"
        " th AS (SELECT doc_id, list_transform(w,"
        "   t -> ('0x' || substr(md5(t),1,8))::BIGINT % 2147483647) AS ht"
        "  FROM docs),"
        " hv AS (SELECT doc_id, list_distinct(["
        "   list_reduce(list_prepend(0::BIGINT, ht[i:i+2]),"
        "     (a, x) -> ((a*1000003) % 2147483647 + x) % 2147483647)"
        "   FOR i IN generate_series(1, greatest(len(ht)-2, 1))]) AS h FROM th),"
        " ex AS (SELECT doc_id AS doc, unnest(h) AS s FROM hv),"
        " dfc AS (SELECT s, count(*) AS df FROM ex GROUP BY s),"
        " pre AS (SELECT e.doc, e.s, row_number() OVER ("
        "   PARTITION BY e.doc ORDER BY d.df, e.s) AS rn"
        "  FROM ex e JOIN dfc d USING (s)),"
        " pl AS (SELECT doc_id AS doc,"
        "   CAST(floor((1.0 - 0.6) * len(h)) + 1 AS INT) AS plen FROM hv),"
        " cand AS (SELECT DISTINCT p.doc AS doc_a, b.doc AS doc_b"
        "  FROM pre p JOIN pl ON pl.doc = p.doc"
        "  JOIN ex b ON b.s = p.s AND b.doc <> p.doc"
        "  WHERE p.rn <= pl.plen),"
        " ver AS (SELECT doc_a, doc_b,"
        "  round(len(list_intersect(ha.h, hb.h))"
        "   / greatest(len(ha.h), 1) + 1e-9, 6) AS containment"
        "  FROM cand JOIN hv ha ON ha.doc_id = doc_a"
        "  JOIN hv hb ON hb.doc_id = doc_b)"
        " SELECT doc_a AS contained_id, doc_b AS container_id, containment"
        " FROM ver WHERE containment >= 0.6"
        " ORDER BY contained_id, container_id"
    ),
    "near_dup_clusters": (
        "WITH RECURSIVE " + _minhash_pairs_cte(0.4)
        + ", sym AS (SELECT doc_a AS u, doc_b AS v FROM mh_pairs"
        "   UNION SELECT doc_b, doc_a FROM mh_pairs),"
        " reach AS (SELECT u AS node, u AS label FROM sym"
        "   UNION SELECT s.u AS node, r.label FROM sym s JOIN reach r ON r.node = s.v)"
        " SELECT component, CAST(count(*) AS BIGINT) AS cluster_size,"
        "   min(node) AS keep_doc_id"
        " FROM (SELECT node, min(label) AS component FROM reach GROUP BY node)"
        " GROUP BY component ORDER BY component"
    ),
    "quality_dedup_survivors": (
        "WITH RECURSIVE " + _minhash_pairs_cte(0.4)
        + ", sym AS (SELECT doc_a AS u, doc_b AS v FROM mh_pairs"
        "   UNION SELECT doc_b, doc_a FROM mh_pairs),"
        " reach AS (SELECT u AS node, u AS label FROM sym"
        "   UNION SELECT s.u AS node, r.label FROM sym s"
        "    JOIN reach r ON r.node = s.v),"
        " comp AS (SELECT node, min(label) AS component FROM reach"
        "   GROUP BY node),"
        " etk AS (SELECT doc_id,"
        "   lower(unnest(string_split(trim(text), ' '))) AS token"
        "   FROM documents),"
        " ept AS (SELECT doc_id, token, count(*) AS c FROM etk"
        "   WHERE length(token) > 0 GROUP BY 1, 2),"
        " ent AS (SELECT doc_id AS node,"
        "   round(ln(sum(c)) - sum(c * ln(c)) / sum(c) + 1e-9, 4)"
        "    AS entropy FROM ept GROUP BY doc_id),"
        " rk AS (SELECT c.component, c.node, e.entropy,"
        "   row_number() OVER (PARTITION BY c.component"
        "    ORDER BY e.entropy DESC, c.node ASC) AS rk"
        "   FROM comp c JOIN ent e ON e.node = c.node)"
        " SELECT component, count(*) AS cluster_size,"
        "  max(CASE WHEN rk = 1 THEN node END) AS keep_doc_id,"
        "  max(CASE WHEN rk = 1 THEN entropy END) AS keep_entropy"
        " FROM rk GROUP BY component ORDER BY component"
    ),
    "kcore_fixed": 'WITH e0 AS (SELECT DISTINCT o_custkey AS u, 10000000 + l_partkey AS v   FROM lineitem JOIN orders ON l_orderkey = o_orderkey), d1 AS (SELECT node, count(*) AS dg FROM (SELECT u AS node FROM e0   UNION ALL SELECT v FROM e0) GROUP BY node), k1 AS (SELECT node FROM d1 WHERE dg >= 16), e1 AS (SELECT u, v FROM e0 WHERE u IN (SELECT node FROM k1)   AND v IN (SELECT node FROM k1)), d2 AS (SELECT node, count(*) AS dg FROM (SELECT u AS node FROM e1   UNION ALL SELECT v FROM e1) GROUP BY node), k2 AS (SELECT node FROM d2 WHERE dg >= 16), e2 AS (SELECT u, v FROM e1 WHERE u IN (SELECT node FROM k2)   AND v IN (SELECT node FROM k2)) SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (   SELECT u AS node FROM e2 UNION ALL SELECT v FROM e2) GROUP BY node ORDER BY node',
    "text_dup_components": (
        "WITH RECURSIVE docs AS (SELECT doc_id,"
        " string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w"
        " FROM documents WHERE doc_id < 200),"
        " sh AS (SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ')"
        "   FOR i IN generate_series(1, greatest(len(w)-2, 1))]) AS grams FROM docs),"
        " sizes AS (SELECT doc_id, len(grams) AS n_grams FROM sh),"
        " ex AS (SELECT doc_id, unnest(grams) AS gram FROM sh),"
        " cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared"
        "   FROM ex a JOIN ex b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1, 2),"
        " pairs AS (SELECT doc_a, doc_b FROM cand"
        "   JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b"
        "   WHERE round(n_shared * 1.0 / (sa.n_grams + sb.n_grams - n_shared), 6) >= 0.15),"
        " sym AS (SELECT doc_a AS u, doc_b AS v FROM pairs"
        "   UNION SELECT doc_b, doc_a FROM pairs),"
        " reach AS (SELECT u AS node, u AS label FROM sym"
        "   UNION SELECT s.u AS node, r.label FROM sym s JOIN reach r ON r.node = s.v)"
        " SELECT node, min(label) AS component FROM reach GROUP BY node ORDER BY node"
    ),
    "shared_spans": (
        "WITH " + _shared_spans_cte()
        + " SELECT doc_a, doc_b, start_a, start_b, span_tokens"
        " FROM spans ORDER BY doc_a, doc_b, start_a, start_b"
    ),
    "bigram_pmi": (
        "WITH d AS (SELECT string_split_regex(trim(text), '\\s+') AS toks"
        "  FROM documents),"
        " words AS (SELECT unnest(toks) AS w FROM d),"
        " uni AS (SELECT w, count(*) AS c FROM words WHERE w <> ''"
        "  GROUP BY w),"
        " tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_tokens FROM uni),"
        " bg AS (SELECT toks[i] || ' ' || toks[i + 1] AS bigram"
        "  FROM d, LATERAL (SELECT unnest(generate_series(1,"
        "   len(toks) - 1)) AS i) g WHERE len(toks) >= 2),"
        " bi AS (SELECT bigram, count(*) AS c_ab FROM bg GROUP BY bigram"
        "  HAVING count(*) >= 5),"
        " parts AS (SELECT bigram, c_ab,"
        "  string_split(bigram, ' ')[1] AS w1,"
        "  string_split(bigram, ' ')[2] AS w2 FROM bi)"
        " SELECT bigram, c_ab, ua.c AS c_a, ub.c AS c_b,"
        " round(ln(CAST(c_ab AS DOUBLE) * n_tokens /"
        "  (CAST(ua.c AS DOUBLE) * ub.c)) + 1e-9, 6) AS pmi"
        " FROM parts JOIN uni ua ON ua.w = parts.w1"
        " JOIN uni ub ON ub.w = parts.w2 CROSS JOIN tot"
        " ORDER BY pmi DESC, bigram LIMIT 20"
    ),
    "span_leakage": (
        # shared spans straddling the deterministic hash split:
        # composes the span-mining replay with the portable-md5
        # split membership (same uniform as hash_split)
        "WITH " + _shared_spans_cte()
        + ", sp AS (SELECT doc_id, CASE"
        "  WHEN ('0x' || substr(md5('split-v1:' || doc_id), 1, 13))::BIGINT"
        "   / 4503599627370496.0 < 0.8 THEN 'train'"
        "  WHEN ('0x' || substr(md5('split-v1:' || doc_id), 1, 13))::BIGINT"
        "   / 4503599627370496.0 < 0.9 THEN 'val'"
        "  ELSE 'test' END AS split FROM documents)"
        " SELECT s.doc_a, s.doc_b,"
        " sa.split AS split_a, sb.split AS split_b,"
        " s.start_a, s.start_b, s.span_tokens"
        " FROM spans s JOIN sp sa ON sa.doc_id = s.doc_a"
        " JOIN sp sb ON sb.doc_id = s.doc_b"
        " WHERE sa.split <> sb.split"
        " ORDER BY s.doc_a, s.doc_b, s.start_a, s.start_b"
    ),
    "dedup_threshold_sweep": (
        "WITH " + _minhash_pairs_cte(0.2) + ","
        " ph AS (SELECT CAST(floor(jaccard * 10) AS INT) AS bin,"
        "  count(*) AS n_pairs FROM mh_pairs GROUP BY 1),"
        " dd AS (SELECT doc, max(jaccard) AS mx FROM ("
        "  SELECT doc_a AS doc, jaccard FROM mh_pairs"
        "  UNION ALL SELECT doc_b, jaccard FROM mh_pairs)"
        "  GROUP BY doc),"
        " dh AS (SELECT CAST(floor(mx * 10) AS INT) AS bin,"
        "  count(*) AS n_docs FROM dd GROUP BY 1),"
        " grid AS (SELECT CAST(t AS DOUBLE) AS threshold FROM (VALUES"
        "  (0.2),(0.3),(0.4),(0.5),(0.6),(0.7),(0.8),(0.9)) v(t)),"
        " a AS (SELECT threshold,"
        "  CAST(COALESCE(sum(n_pairs), 0) AS BIGINT) AS n_pairs"
        "  FROM grid LEFT JOIN ph"
        "  ON ph.bin >= CAST(round(threshold * 10) AS INT)"
        "  GROUP BY threshold),"
        " b AS (SELECT threshold,"
        "  CAST(COALESCE(sum(n_docs), 0) AS BIGINT) AS n_docs_affected"
        "  FROM grid LEFT JOIN dh"
        "  ON dh.bin >= CAST(round(threshold * 10) AS INT)"
        "  GROUP BY threshold)"
        " SELECT a.threshold, a.n_pairs, b.n_docs_affected"
        " FROM a JOIN b USING (threshold) ORDER BY threshold"
    ),
    "scrub_boilerplate": (
        "WITH t AS (SELECT doc_id,"
        "  regexp_split_to_array(trim(text), '\\s+') AS toks"
        "  FROM documents WHERE trim(text) <> ''),"
        " c AS (SELECT doc_id, i AS pos,"
        "  array_to_string(list_slice(toks, i * 10 + 1, i * 10 + 10),"
        "   ' ') AS passage"
        "  FROM t, LATERAL (SELECT unnest(generate_series(0,"
        "   CAST(ceil(len(toks) / 10.0) AS INT) - 1)) AS i) g),"
        " b AS (SELECT passage FROM c GROUP BY passage"
        "  HAVING count(DISTINCT doc_id) >= 3),"
        " f AS (SELECT c.doc_id, c.pos, c.passage,"
        "  b.passage IS NOT NULL AS is_b"
        "  FROM c LEFT JOIN b ON c.passage = b.passage)"
        " SELECT doc_id, CAST(count(*) AS BIGINT) AS n_passages,"
        " CAST(count(*) FILTER (WHERE is_b) AS BIGINT) AS n_dropped,"
        " length(coalesce(string_agg(passage, ' ' ORDER BY pos)"
        "  FILTER (WHERE NOT is_b), '')) AS n_chars_clean,"
        " md5(coalesce(string_agg(passage, ' ' ORDER BY pos)"
        "  FILTER (WHERE NOT is_b), '')) AS clean_sha"
        " FROM f GROUP BY doc_id ORDER BY doc_id"
    ),
    "winnowing": (
        "WITH t AS (SELECT doc_id,"
        "  string_split_regex(trim(text), '\\s+') AS toks"
        "  FROM documents),"
        " g AS (SELECT doc_id, CASE WHEN len(toks) >= 3 THEN"
        "  [('0x' || substr(md5(array_to_string(toks[i:i+2], ' ')),"
        "    1, 8))::BIGINT % 2147483647"
        "   FOR i IN generate_series(1, len(toks) - 2)]"
        "  ELSE CAST([] AS BIGINT[]) END AS grams FROM t),"
        " f AS (SELECT doc_id, grams,"
        "  list_distinct(CASE WHEN len(grams) >= 4 THEN"
        "   [list_min(grams[j:j+3])"
        "    FOR j IN generate_series(1, len(grams) - 3)]"
        "  ELSE grams END) AS fps FROM g)"
        " SELECT doc_id, CAST(len(grams) AS INT) AS n_grams,"
        " CAST(len(fps) AS INT) AS n_fps,"
        " list_min(fps) AS fp_min, list_max(fps) AS fp_max,"
        " round(CAST(len(fps) AS DOUBLE) / greatest(len(grams), 1)"
        "  + 1e-9, 6) AS density"
        " FROM f ORDER BY doc_id"
    ),
    "contrastive_triples": (
        "WITH " + _minhash_pairs_cte(0.4) + ","
        " pr AS (SELECT doc_a AS anchor, doc_b AS positive, jaccard"
        "  FROM mh_pairs),"
        " pool AS (SELECT doc_id AS cand,"
        "  ('0x' || substr(md5('neg-v1:' || CAST(doc_id AS VARCHAR)),"
        "   1, 13))::BIGINT / 4503599627370496.0 AS u"
        "  FROM documents ORDER BY u, cand LIMIT 11),"
        " adj AS (SELECT anchor AS a, positive AS b FROM pr"
        "  UNION SELECT positive, anchor FROM pr),"
        " negs AS (SELECT pr.*, pool.cand, pool.u FROM pr CROSS JOIN pool"
        "  WHERE pool.cand <> pr.anchor AND pool.cand <> pr.positive"
        "  AND NOT EXISTS (SELECT 1 FROM adj WHERE adj.a = pr.anchor"
        "   AND adj.b = pool.cand)),"
        " rk AS (SELECT *, row_number() OVER (PARTITION BY anchor,"
        "  positive ORDER BY u, cand) AS neg_rank FROM negs)"
        " SELECT anchor, positive, jaccard,"
        " CAST(neg_rank AS INT) AS neg_rank, cand AS negative"
        " FROM rk WHERE neg_rank <= 3"
        " ORDER BY anchor, positive, neg_rank"
    ),
    "contamination": (
        "WITH toks AS (SELECT doc_id,"
        "  string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t"
        "  FROM documents),"
        " g AS (SELECT doc_id, list_distinct(list_transform("
        "  range(1, greatest(len(t) - 2, 1) + 1),"
        "  i -> array_to_string(t[i:i+2], ' '))) AS grams FROM toks),"
        " ce AS (SELECT doc_id AS corpus_id, unnest(grams) AS gram FROM g WHERE doc_id >= 25),"
        " pe AS (SELECT doc_id AS probe_id, unnest(grams) AS gram FROM g WHERE doc_id < 25)"
        " SELECT corpus_id, probe_id, count(*) AS n_shared"
        " FROM ce JOIN pe USING (gram) GROUP BY 1, 2"
        " HAVING count(*) >= 2 ORDER BY corpus_id, probe_id"
    ),
    "training_batches": (
        # four-stage replay: vocab ranking, per-doc id encoding,
        # the greedy packing recurrence (recursive CTE), and the
        # concatenated per-bin id streams
        "WITH RECURSIVE tok AS (SELECT doc_id, lang, i AS pos, w[i] AS token"
        "  FROM (SELECT doc_id, lang,"
        "    string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents),"
        "  LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) g"
        "  ),"
        " tk AS (SELECT * FROM tok WHERE length(token) > 0),"
        " vocab AS (SELECT token,"
        "   CAST(row_number() OVER (ORDER BY count(*) DESC, token) AS INT)"
        "     AS token_id"
        "   FROM tk GROUP BY token),"
        " encoded AS (SELECT tk.doc_id, tk.lang,"
        "   count(*) AS n_tokens,"
        "   string_agg(vocab.token_id::VARCHAR, ',' ORDER BY tk.pos)"
        "     AS ids_csv"
        "   FROM tk JOIN vocab USING (token) GROUP BY tk.doc_id, tk.lang),"
        " ordered AS (SELECT *, doc_id % 8 AS shard, row_number() OVER ("
        "   PARTITION BY lang, doc_id % 8 ORDER BY doc_id) AS rn FROM encoded),"
        " packed AS ("
        "  SELECT lang, shard, doc_id, n_tokens, ids_csv, rn,"
        "   CAST(0 AS BIGINT) AS bin_id, n_tokens AS fill"
        "  FROM ordered WHERE rn = 1"
        "  UNION ALL"
        "  SELECT o.lang, o.shard, o.doc_id, o.n_tokens, o.ids_csv, o.rn,"
        "   CASE WHEN p.fill + o.n_tokens > 512 THEN p.bin_id + 1 ELSE p.bin_id END,"
        "   CASE WHEN p.fill + o.n_tokens > 512 THEN o.n_tokens ELSE p.fill + o.n_tokens END"
        "  FROM packed p JOIN ordered o"
        "   ON o.lang = p.lang AND o.shard = p.shard AND o.rn = p.rn + 1)"
        " SELECT lang, shard, bin_id, count(*) AS n_docs,"
        " CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,"
        " string_agg(ids_csv, '|' ORDER BY doc_id) AS input_ids"
        " FROM packed GROUP BY lang, shard, bin_id"
        " ORDER BY lang, shard, bin_id"
    ),
    "dedup_content": (
        "SELECT sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_hash,"
        " min(doc_id) AS doc_id, count(*) AS n_copies"
        " FROM documents GROUP BY 1 ORDER BY doc_id"
    ),
    "dedup_exact": (
        "SELECT doc_id, min(lang) AS lang, min(source) AS source,"
        " min(n_chars) AS n_chars FROM documents GROUP BY doc_id ORDER BY doc_id"
    ),
    "substring_contamination": (
        "WITH norm AS (SELECT doc_id,"
        "  regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t"
        "  FROM documents),"
        " needles AS (SELECT doc_id AS probe_id,"
        "  array_to_string((string_split(t, ' '))[1:3], ' ') AS needle"
        "  FROM norm WHERE doc_id % 5 = 0"
        "  AND len(string_split(t, ' ')) >= 3)"
        " SELECT h.doc_id AS corpus_id, n.probe_id FROM norm h"
        " JOIN needles n ON contains(h.t, n.needle)"
        " AND h.doc_id <> n.probe_id"
        " ORDER BY corpus_id, probe_id"
    ),
    "token_set_join": (
        # the ORACLE is the naive exact all-pairs join; the engine
        # runs prefix-filtered AllPairs — hash equality proves the
        # prefix filter admits no false negatives
        "WITH docs AS (SELECT doc_id,"
        "  string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')"
        "    AS w FROM documents),"
        " s AS (SELECT doc_id,"
        "  list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]"
        "    FOR i IN generate_series(1, len(w)-2)]) AS st"
        "  FROM docs WHERE len(w) >= 3)"
        " SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,"
        " round(len(list_intersect(a.st, b.st)) * 1.0 /"
        "  greatest(len(a.st) + len(b.st) - len(list_intersect(a.st, b.st)), 1)"
        "  + 1e-9, 6) AS jaccard"
        " FROM s a JOIN s b ON a.doc_id < b.doc_id"
        " WHERE len(list_intersect(a.st, b.st)) * 1.0 /"
        "  greatest(len(a.st) + len(b.st) - len(list_intersect(a.st, b.st)), 1)"
        "  >= 0.5"
        " ORDER BY doc_a, doc_b"
    ),
    "corpus_build_pipeline": (
        "WITH " + _minhash_pairs_cte(0.4) + ","
        # stage 1: Gopher quality gate (identical rules to the
        # gopher_quality oracle)
        " gt AS (SELECT doc_id, text,"
        "  string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ') AS gw,"
        "  string_split(text, chr(10)) AS glines FROM documents),"
        " gm AS (SELECT doc_id,"
        "  len(gw) AS n_words,"
        "  greatest(len(gw), 1)::DOUBLE AS nw,"
        "  CAST(list_sum(list_transform(gw, x -> length(x))) AS DOUBLE)"
        "    / greatest(len(gw), 1) AS mwl,"
        "  len(regexp_extract_all(text, '#|\\.\\.\\.')) AS n_sym,"
        "  greatest(len(glines), 1)::DOUBLE AS nl,"
        "  len(list_filter(glines, l -> regexp_matches(trim(l), '^[-*•]')))"
        "    AS n_bullet,"
        "  len(list_filter(glines, l -> regexp_matches(trim(l), '\\.\\.\\.$')))"
        "    AS n_ell,"
        "  len(list_filter(gw, x -> regexp_matches(x, '[a-zA-Z]'))) AS n_alpha,"
        "  len(list_intersect(list_transform(gw, x -> lower(x)),"
        "    ['the','a','of','and','to'])) AS stop_hits"
        "  FROM gt),"
        " s1 AS (SELECT doc_id FROM gm WHERE"
        "  n_words >= 50 AND n_words <= 100000"
        "  AND mwl >= 3.0 AND mwl <= 10.0"
        "  AND n_sym / nw < 0.1 AND n_bullet / nl <= 0.9"
        "  AND n_ell / nl <= 0.3 AND n_alpha / nw >= 0.8"
        "  AND stop_hits >= 2),"
        # stage 2: near-dup drop among survivors (keep smaller id)
        " dupdrop AS (SELECT DISTINCT doc_b AS doc_id FROM mh_pairs"
        "  WHERE doc_a IN (SELECT doc_id FROM s1)"
        "  AND doc_b IN (SELECT doc_id FROM s1)),"
        " s2 AS (SELECT doc_id FROM s1"
        "  WHERE doc_id NOT IN (SELECT doc_id FROM dupdrop)),"
        # stage 3: exact-substring decontamination
        " norm3 AS (SELECT doc_id,"
        "  regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t"
        "  FROM documents),"
        " needles3 AS (SELECT doc_id AS probe_id,"
        "  array_to_string((string_split(t, ' '))[1:3], ' ') AS needle"
        "  FROM norm3 WHERE doc_id % 5 = 0"
        "  AND len(string_split(t, ' ')) >= 3),"
        " contaminated AS (SELECT DISTINCT h.doc_id FROM norm3 h"
        "  JOIN needles3 n ON contains(h.t, n.needle)"
        "  AND h.doc_id <> n.probe_id"
        "  WHERE h.doc_id IN (SELECT doc_id FROM s2)),"
        " s3 AS (SELECT doc_id FROM s2"
        "  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),"
        # stage 4: per-source 50% token budget, doc_id admission order
        " toks AS (SELECT doc_id, source,"
        "  len(string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' '))"
        "    AS n_tokens FROM documents),"
        " budg AS (SELECT doc_id, source, n_tokens,"
        "  sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS cum,"
        "  sum(n_tokens) OVER (PARTITION BY source) AS tot"
        "  FROM toks WHERE doc_id IN (SELECT doc_id FROM s3)),"
        " s4 AS (SELECT doc_id FROM budg WHERE cum <= 0.5 * tot)"
        # funnel report
        " SELECT t.source, count(*) AS n_raw,"
        " count(CASE WHEN t.doc_id IN (SELECT doc_id FROM s1) THEN 1 END)"
        "   AS n_quality,"
        " count(CASE WHEN t.doc_id IN (SELECT doc_id FROM s2) THEN 1 END)"
        "   AS n_dedup,"
        " count(CASE WHEN t.doc_id IN (SELECT doc_id FROM s3) THEN 1 END)"
        "   AS n_clean,"
        " count(CASE WHEN t.doc_id IN (SELECT doc_id FROM s4) THEN 1 END)"
        "   AS n_kept,"
        " CAST(sum(CASE WHEN t.doc_id IN (SELECT doc_id FROM s4)"
        "   THEN t.n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens"
        " FROM toks t GROUP BY t.source ORDER BY t.source"
    ),
}
