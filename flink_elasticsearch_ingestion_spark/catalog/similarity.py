"""Catalog family: embedding similarity search, ANN, embedding ops.

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
    _query_vector,
    _hash_embed_values,
    _pq_values,
    _top_component_sql,
    _kmeans_sql,
    _kcenter_sql,
    _plane_values,
    _jl_s2_sql,
    _probe_logit_sqls,
)


def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array scalar surface over the embedding column: size, element_at,
    slice + aggregate (fold), array_max — all JVM-side expressions."""
    emb = _t(spark, sf_dir, "embeddings")
    dv = F.col("embedding").cast("array<double>")
    return emb.select(
        "vec_id",
        F.size("embedding").alias("n_dims"),
        F.round(F.element_at(dv, 1), 6).alias("first_val"),
        F.round(
            F.aggregate(F.slice(dv, 1, 8), F.lit(0.0), lambda acc, x: acc + x), 6
        ).alias("head_sum"),
        F.round(F.array_max(dv), 6).alias("max_val"),
    ).orderBy("vec_id")

def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode (UNNEST) -> per-dimension profile of the embedding
    corpus. The explode is map-side; the per-dim agg is one shuffle on a
    64-key space."""
    emb = _t(spark, sf_dir, "embeddings")
    exploded = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val")
    ).select((F.col("pos") + 1).alias("dim"), "val")
    return (
        exploded.groupBy("dim")
        .agg(
            F.round(F.round(F.sum("val"), 6) / F.count(F.lit(1)) + 1e-9, 6).alias("avg_val"),
            F.round(F.min("val"), 6).alias("min_val"),
            F.round(F.max("val"), 6).alias("max_val"),
            F.count(F.lit(1)).alias("n_vals"),
        )
        .orderBy("dim")
    )

def q_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus cartography: pairwise cosine between sources over hashed
    bag-of-words distributions — the mixing/contamination overview.
    Quadratic only in SOURCE count; hashes engine-portable."""
    return X.source_similarity(_t(spark, sf_dir, "documents"))

def q_kcenter_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (farthest-point traversal):
    k-1 one-job iterations, incremental least(md, dist) state —
    O(dim)-sized expressions per step, k-bounded driver state."""
    from flink_elasticsearch_ingestion_spark.operators.embeddings import (
        kcenter_select,
    )

    return kcenter_select(_t(spark, sf_dir, "embeddings"), k=8)

def q_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction by power iteration on the distributed
    Gram matrix — the hash-verifiable sibling of the rows-only
    embedding_pca: dim^2-bounded corpus reduction, then 5 driver-side
    matrix-vector products on the 6dp-rounded matrix with the shared
    sequential-fold dot order; unrolled CTE oracle replays the whole
    trajectory."""
    from flink_elasticsearch_ingestion_spark.operators.embeddings import (
        top_component,
    )

    return top_component(_t(spark, sf_dir, "embeddings"), iters=5)

def q_weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-weighted quantity quantiles per return flag: at which
    quantity level does 25/50/75% of revenue sit?  Weights quantized
    to exact cents, one fact aggregate to the bounded (flag, quantity)
    grid, integer-only threshold tests — bit-exact on any engine."""
    from flink_elasticsearch_ingestion_spark.operators.relational import (
        weighted_quantiles,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("int").alias("qty"),
        F.expr(
            "CAST(round(l_extendedprice * 100.0, 0) AS BIGINT)"
        ).alias("cents"),
    )
    return weighted_quantiles(li, "l_returnflag", "qty", "cents")

def q_groupwise_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(returnflag, linestatus) closed-form OLS of extended price
    on quantity: one aggregate of exact-decimal sufficient statistics
    (order-independent sums), then a fixed IEEE closed form — no
    iterative fitting, group-count-sized output."""
    from flink_elasticsearch_ingestion_spark.operators.relational import (
        groupwise_ols,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        # the stored doubles ARE 2dp decimals: quantize so every
        # sufficient statistic sums exactly (order-independent)
        F.col("l_quantity").cast("decimal(18,2)").alias("qx"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("py"),
    )
    return groupwise_ols(
        li, ["l_returnflag", "l_linestatus"], "qx", "py"
    )

def q_dim_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation eval: per-query recall@10 of 32-dim
    truncated cosine retrieval vs the full 64-dim ground truth over a
    fixed 16-query panel — broadcast panel join + two bounded
    per-query windows."""
    from flink_elasticsearch_ingestion_spark.operators.embeddings import (
        dim_truncation_recall,
    )

    return dim_truncation_recall(
        _t(spark, sf_dir, "embeddings"), trunc_dim=32, k=10, n_queries=16
    )

def q_kmeans_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means over the full embedding corpus
    (k=8, 3 fixed iterations): per iteration ONE partial+final
    aggregate (64 exact int64 dim-sums) + a k-row collect; assignment
    re-enters each job as a one-parse literal-codebook expression.
    The quantized-int update rule makes the whole trajectory replay
    bit-for-bit in the unrolled materialized-CTE oracle."""
    from flink_elasticsearch_ingestion_spark.operators.embeddings import (
        kmeans_fixed,
    )

    return kmeans_fixed(_t(spark, sf_dir, "embeddings"), k=8, iters=3)

def q_label_disagreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label-disagreement mislabel scan: LSH-candidate kNN with
    the corpus as its own query set, then per-vector share of
    different-label neighbors; majority disagreement = suspect."""
    # bits="auto" = auto_lsh_bits(count): resolves to 4 at the sf0.01
    # oracle fixture (500 vectors / target bucket 32) — the value the
    # oracle's inlined plane literals assume — and keeps growing with
    # the corpus so bucket occupancy (and candidate volume per vector)
    # stays constant at scale. Fixed bits=4 measured 36x wall-clock on
    # a 10x corpus (sf1 spot-run, SCALE.md).
    # corpus_rows from the parquet footer: auto-bits costs no count job
    return S.label_disagreement_knn(
        _t(spark, sf_dir, "embeddings"), k=5, bits="auto", tables=4,
        corpus_rows=_nrows(sf_dir, "embeddings"),
    )

def q_centroid_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise scan: per-vector squared distance to own vs
    nearest-other label centroid (broadcast centroid table, map-side
    arithmetic, |labels|-bounded ranking); negative margin = suspect."""
    from flink_elasticsearch_ingestion_spark.operators.embeddings import (
        centroid_margin,
    )

    return centroid_margin(_t(spark, sf_dir, "embeddings"))

def q_hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed random-projection document embeddings (32 portable-hash
    buckets -> literal Gaussian matrix -> 16 dims, long form): the
    deterministic text->vector encoder feeding the ANN stack; one
    corpus shuffle + one broadcast join + one (doc, dim) agg."""
    from flink_elasticsearch_ingestion_spark.operators.embeddings import (
        hash_embed_documents,
    )

    return hash_embed_documents(_t(spark, sf_dir, "documents"))

def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (4 subspaces x 8 centroids over
    the 64-dim embeddings): map-side-only expression work, zero
    shuffles — 64 floats compress to 4 codes.  Deterministic codebook
    (similarity.pq_codebook) so the oracle re-derives every
    assignment."""
    return S.pq_encode(_t(spark, sf_dir, "embeddings"))

def q_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance (ADC) PQ top-10: literal per-subspace
    lookup tables (constant-folded), each candidate scored by 4 array
    lookups + adds — the compressed-domain scan of billion-vector
    search.  TakeOrdered on rounded distance."""
    qv = _query_vector(spark, sf_dir)
    return S.pq_search_adc(_t(spark, sf_dir, "embeddings"), qv, k=10)

def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified re-ranking (lambda 0.7, pool 20, k 5) over the
    standard query vector: distributed relevance + pool cut, bounded
    greedy selection, every score rounded before comparison so the
    DuckDB oracle replays all five unrolled steps exactly."""
    qv = _query_vector(spark, sf_dir)
    return S.mmr_rerank(_t(spark, sf_dir, "embeddings"), qv, k=5, pool=20)

def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_elasticsearch_ingestion_spark.operators.embeddings import embedding_norms

    return embedding_norms(_t(spark, sf_dir, "embeddings"))

def q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_elasticsearch_ingestion_spark.operators.embeddings import (
        quantize_embeddings,
    )

    return quantize_embeddings(_t(spark, sf_dir, "embeddings"))

def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    qv = _query_vector(spark, sf_dir)
    return S.hybrid_search(
        _t(spark, sf_dir, "documents"),
        _t(spark, sf_dir, "embeddings"),
        ["spark", "window"],
        qv,
        k=10,
    )

def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_elasticsearch_ingestion_spark.operators.embeddings import (
        label_centroids,
    )

    return label_centroids(_t(spark, sf_dir, "embeddings"))

def q_embedding_gramian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed X'X upper triangle over the embedding corpus."""
    from flink_elasticsearch_ingestion_spark.operators.embeddings import (
        embedding_gramian,
    )

    return embedding_gramian(_t(spark, sf_dir, "embeddings"))

def q_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass distributed PCA projection (top-2 components).
    Rows-only driver check by design: the eigendecomposition is not
    SQL-expressible; parity is pinned by the numpy differential unit
    test, and the distributed reduction feeding it (the Gram matrix)
    is hash-verified via ``embedding_gramian``."""
    from flink_elasticsearch_ingestion_spark.operators.embeddings import (
        embedding_pca,
    )

    return embedding_pca(_t(spark, sf_dir, "embeddings"))

def q_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL random projection 64->16 with per-vector distortion audit."""
    from flink_elasticsearch_ingestion_spark.operators.embeddings import (
        jl_projection_audit,
    )

    return jl_projection_audit(_t(spark, sf_dir, "embeddings"))

def q_quantize_embeddings_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_elasticsearch_ingestion_spark.operators import embeddings as E

    return E.quantize_embeddings_arrow(_t(spark, sf_dir, "embeddings"))

def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    qv = _query_vector(spark, sf_dir)
    return S.cosine_topk(_t(spark, sf_dir, "embeddings"), qv, k=10)

def q_pandas_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow-vectorized (@pandas_udf) scorer; oracle-checked against
    the SAME SQL as the expression path — both must agree with DuckDB."""
    qv = _query_vector(spark, sf_dir)
    return S.pandas_cosine_topk(_t(spark, sf_dir, "embeddings"), qv, k=10)

def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return S.knn_join(queries_df, emb, k=5)

def q_embedding_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-dedup capstone over EMBEDDINGS (the twin of the text
    capstone text_dup_components): sign-LSH near-dup pairs ->
    connected components -> one row per cluster (size + kept
    representative).  Hash-verified end-to-end: the oracle re-derives
    the hyperplane buckets from inlined literals, the cosine verify,
    and the component closure via a recursive CTE."""
    pairs = S.embedding_near_duplicates(
        # bits="auto" = auto_lsh_bits(count): 4 at the sf0.01 oracle
        # fixture (500 vectors / target bucket 32 — what the oracle's
        # inlined plane literals assume), growing log2 with the corpus
        # so the bucket self-join stays ~linear. The old fixed bits=6
        # measured 15x wall-clock on a 10x corpus (sf1 spot-run,
        # SCALE.md).
        _t(spark, sf_dir, "embeddings"),
        threshold=0.4,
        bits="auto",
        tables=8,
        corpus_rows=_nrows(sf_dir, "embeddings"),
    )
    edges = pairs.select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    comp = D.connected_components(edges)
    return (
        comp.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.min("node").alias("representative"),
        )
        .orderBy("component")
    )

def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: IVF (learned coarse quantizer) approximate top-k —
    the data-adaptive ANN family next to LSH. Deterministic (seeded
    k-means); recall asserted in unit tests."""
    qv = _query_vector(spark, sf_dir)
    return S.ivf_topk(_t(spark, sf_dir, "embeddings"), qv, k=10, nlist=8, nprobe=3)

def q_knn_join_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate kNN join via multi-table sign-LSH blocking — the
    sub-quadratic scale path next to the exact crossJoin baseline
    (knn_join). Oracle re-derives the exact candidate set from the
    inlined plane literals."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.knn_join_lsh(
        emb.filter(F.col("vec_id") < 5), emb, k=4, bits=4, tables=8
    )

def q_mutual_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal best match (bitext-mining shape) between the even-id
    and odd-id halves of the embeddings table: LSH-blocked candidates
    scored once, ranked in BOTH directions, mutual top-1 survives.
    Oracle re-derives planes, candidates, and both rank frames."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.mutual_best_match(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
        # auto = auto_lsh_bits(500) = 4 at the sf0.01 oracle fixture
        # (what the inlined plane literals assume), growing with the
        # corpus so bucket occupancy — and candidate volume — stays
        # flat (the round-7 LSH law; fixed bits=4 measured 5.8s at
        # sf0.1 vs 1.3s with auto)
        bits="auto",
        tables=8,
        corpus_rows=_nrows(sf_dir, "embeddings"),
    )

def q_margin_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-scored bitext matching (Artetxe-Schwenk ratio margin):
    cosine normalized by both endpoints' k-NN neighborhood averages,
    forward best-by-margin per left vector — the density-aware
    refinement of mutual_matches, over the SAME single LSH candidate
    pass. Oracle replays planes, candidates, averages, and margins."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.margin_best_match(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
        k_neighborhood=4,
        margin_threshold=1.0,
        bits="auto",
        tables=8,
        corpus_rows=_nrows(sf_dir, "embeddings"),
    )

def q_lsh_topk_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH top-k (query bucket + all Hamming-1
    buckets): the recall lever over plain lsh_topk, oracle-checked —
    DuckDB re-derives the same planes, buckets, and probe set."""
    qv = _query_vector(spark, sf_dir)
    return S.lsh_topk_multiprobe(_t(spark, sf_dir, "embeddings"), qv, k=10, bits=4)

def q_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed half of IVF, hash-verified: inverted-list
    assignment (the Arrow-batched numpy argmax pandas_udf that scales
    to the corpus) with DETERMINISTIC centroids — the first 8
    embeddings, L2-normalized. The DuckDB oracle re-derives every
    per-vector nearest-centroid decision in SQL, so the whole
    normalize->matmul->argmax UDF path is value-checked; only the
    k-means TRAINER (driver-side bounded sample by design) remains
    rows-only via ``ivf_topk``. The 8-row centroid collect is the same
    bounded driver step IVF training is allowed."""
    import numpy as np

    emb = _t(spark, sf_dir, "embeddings")
    rows = (
        emb.filter(F.col("vec_id") < 8).orderBy("vec_id").select("embedding").collect()
    )
    c = np.asarray([list(r[0]) for r in rows], dtype=np.float64)
    c /= np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
    return S.ivf_assign(emb, c).select("vec_id", "centroid_id").orderBy("vec_id")

def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: approximate LSH top-k."""
    qv = _query_vector(spark, sf_dir)
    return S.lsh_topk(_t(spark, sf_dir, "embeddings"), qv, k=10, bits=4)

def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the sign-LSH approximate top-k against the exact
    cosine top-k ground truth — the ANN quality account every
    approximate index owes its users (the missing piece between
    `cosine_topk`, the baseline, and `lsh_topk`, the scale path).
    Shape: both sides are TakeOrdered 10-row frames; the recall join
    is 10x10. At 100 TB the same query runs over a SAMPLED query panel
    — recall estimation never needs the full corpus as queries."""
    qv = _query_vector(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    exact = S.cosine_topk(emb, qv, k=10).select(
        F.col("vec_id").alias("evid")
    )
    approx = S.lsh_topk(emb, qv, k=10, bits=4).select(
        F.col("vec_id").alias("avid"), F.lit(1).alias("__hit")
    )
    return exact.join(
        approx, F.col("evid") == F.col("avid"), "left"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("k_exact"),
        F.count("__hit").cast("bigint").alias("n_hit"),
        F.round(
            F.try_divide(
                F.count("__hit").cast("double"), F.count(F.lit(1))
            )
            + F.lit(1e-9),
            6,
        ).alias("recall"),
    )

def q_ivf_topk_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF SEARCH path, hash-verified end-to-end: deterministic
    centroids (first 8 embeddings, L2-normalized — the same family
    ``ivf_assign`` pins), driver probe selection (top-3 centroids by
    query dot product), Arrow-batched assignment, candidate pruning to
    the probed inverted lists, exact cosine rescore, top-10.  With the
    trainer factored out (``ivf_topk`` keeps the learned-k-means path,
    rows-only by design), every remaining IVF decision is re-derived
    by DuckDB bit-for-bit."""
    import numpy as np

    emb = _t(spark, sf_dir, "embeddings")
    rows = (
        emb.filter(F.col("vec_id") < 8).orderBy("vec_id").select("embedding").collect()
    )
    c = np.asarray([list(r[0]) for r in rows], dtype=np.float64)
    c /= np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
    qv = _query_vector(spark, sf_dir)
    return S.ivf_topk(emb, qv, k=10, nprobe=3, centroids=c)

def q_rbo_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-Biased Overlap between the exact cosine top-10 and the
    LSH top-10 per panel query (r11): the rank-weighted ANN quality
    account next to ann_recall_eval's set recall — catches "right set,
    wrong order". Oracle replays the exact ranking, the plane-literal
    LSH ranking, the depth-overlap counts, and the literal RBO
    weights."""
    from flink_elasticsearch_ingestion_spark.operators.similarity import (
        rbo_eval,
    )

    return rbo_eval(
        _t(spark, sf_dir, "embeddings"), k=10, p=0.9, n_queries=4,
        bits=4, tables=8,
    )


def q_embedding_anisotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected cosine between unrelated vectors (Ethayarajh-style
    anisotropy) over the deterministic i <-> i + N/2 pairing — the
    calibration constant every cosine threshold downstream sits on.
    One narrow equi-join + one global agg; the oracle replays the
    pairing and the 6dp cosine mean exactly."""
    from flink_elasticsearch_ingestion_spark.operators.embeddings import (
        embedding_anisotropy,
    )

    n = _nrows(sf_dir, "embeddings")
    return embedding_anisotropy(
        _t(spark, sf_dir, "embeddings"), offset=n // 2
    )


def q_probe_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability curve of the broadcast linear probe: margin bins vs
    per-bin label agreement — the calibration audit for any
    model-scored corpus gate.  Zero shuffles before the <= 8-key agg;
    oracle replays logits, margins, bins, and rates bit-for-bit."""
    from flink_elasticsearch_ingestion_spark.operators.embeddings import (
        probe_calibration,
    )

    return probe_calibration(_t(spark, sf_dir, "embeddings"))

def q_linear_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-model linear scoring over embeddings: per-class
    logits, argmax class, top-two margin — one parsed literal matrix,
    zero shuffles."""
    from flink_elasticsearch_ingestion_spark.operators.embeddings import (
        linear_probe_scores,
    )

    return linear_probe_scores(_t(spark, sf_dir, "embeddings"))


#: driver-contract queries owned by this family (names are the
#: catalog keys the driver and the oracle gate use verbatim)
def q_string_id_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """knn_join_lsh over STRING document ids: the bucket kernel
    (`_arrow_banded`) derives its id field from the input type, so the
    ids come back as strings. Rank ties break on the string id,
    identically in the SQL oracle's collation (ASCII codepoints)."""
    emb = _t(spark, sf_dir, "embeddings").select(
        F.concat(F.lit("doc_"), F.col("vec_id").cast("string")).alias("vec_id"),
        "embedding",
        F.col("vec_id").alias("num_id"),
    )
    out = S.knn_join_lsh(
        emb.filter(F.col("num_id") < 5).drop("num_id"),
        emb.drop("num_id"),
        k=4,
        bits=4,
        tables=8,
    )
    return out


def q_centered_mutual_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal best match over ALL-POSITIVE [0,1]^8 sha-stub media
    features with bucket_shift=0.5 on the SHARED candidate stage — the
    round-9 closure of the LSH centering gap (round 7's 40x
    bucket-collapse class): the shift recenters the sign projection
    (the exact-cosine verify still scores the original features), and
    the oracle replays the shifted planes bit-for-bit."""
    from flink_elasticsearch_ingestion_spark.catalog import multimodal as MM

    feats = MM.M.sha_features_expr(
        MM.M.documents_as_media(_t(spark, sf_dir, "documents"))
    ).select(
        F.col("media_id").alias("vec_id"), F.col("feature").alias("embedding")
    )
    return S.mutual_best_match(
        feats.filter(F.col("vec_id") % 2 == 0),
        feats.filter(F.col("vec_id") % 2 == 1),
        bits=4,
        tables=4,
        bucket_shift=0.5,
    )


def q_recall_vs_bucket_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucket_cap recall account (VERDICT r8 #7): verified near-dup
    pairs with the production per-bucket occupancy cap (bucket_cap=8,
    deliberately truncating at oracle scale) vs the df-style BOUNDED
    reference arm (reference_cap=256 = 32x production, VERDICT r9 #3
    — never truncating at oracle scale, max occupancy 61 — a truly
    uncapped self-join is the degenerate-bucket blow-up the cap
    prevents), plus the recall ratio and the reference arm's own
    truncation counter. Single bucket build, single cosine verify:
    capped candidates are a strict subset of reference ones, so capped
    membership is a semi-join flag, never a second LSH run. The oracle
    replays the shared rank bound exactly."""
    return S.bucket_cap_recall_account(
        _t(spark, sf_dir, "embeddings"),
        threshold=0.4,
        bits=4,
        tables=8,
        bucket_cap=8,
        reference_cap=256,
    )


def q_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-subspace PQ quantization error (r10): mean and worst
    squared-L2 distance from each vector to its assigned centroid —
    the codebook-adequacy eval behind trusting ADC scores. Oracle
    replays the deterministic codebook and the min-distance selection
    exactly (same rounded-distance convention as pq_encode)."""
    return S.pq_distortion(_t(spark, sf_dir, "embeddings"))

QUERIES = {
    "string_id_knn": q_string_id_knn,
    "centered_mutual_matches": q_centered_mutual_matches,
    "recall_vs_bucket_cap": q_recall_vs_bucket_cap,
    "pq_distortion": q_pq_distortion,
    "cosine_topk": q_cosine_topk,
    "pandas_cosine_topk": q_pandas_cosine_topk,
    "knn_join": q_knn_join,
    "lsh_topk": q_lsh_topk,
    "ivf_topk": q_ivf_topk,
    "ivf_assign": q_ivf_assign,
    "lsh_topk_multiprobe": q_lsh_topk_multiprobe,
    "knn_join_lsh": q_knn_join_lsh,
    "mutual_matches": q_mutual_matches,
    "margin_matches": q_margin_matches,
    "embedding_gramian": q_embedding_gramian,
    "embedding_pca": q_embedding_pca,
    "jl_projection": q_jl_projection,
    "probe_calibration": q_probe_calibration,
    "embedding_anisotropy": q_embedding_anisotropy,
    "rbo_eval": q_rbo_eval,
    "ivf_topk_fixed": q_ivf_topk_fixed,
    "ann_recall_eval": q_ann_recall_eval,
    "source_similarity": q_source_similarity,
    "mmr_rerank": q_mmr_rerank,
    "pq_encode": q_pq_encode,
    "pq_search": q_pq_search,
    "hash_embed": q_hash_embed,
    "centroid_margin": q_centroid_margin,
    "label_disagreement": q_label_disagreement,
    "kcenter_select": q_kcenter_select,
    "kmeans_fixed": q_kmeans_fixed,
    "dim_truncation_recall": q_dim_truncation_recall,
    "groupwise_ols": q_groupwise_ols,
    "weighted_quantiles": q_weighted_quantiles,
    "top_component": q_top_component,
    "linear_probe": q_linear_probe,
    "embedding_dup_clusters": q_embedding_dup_clusters,
    "embedding_norms": q_embedding_norms,
    "quantize_embeddings": q_quantize_embeddings,
    "hybrid_search": q_hybrid_search,
    "label_centroids": q_label_centroids,
    "quantize_embeddings_arrow": q_quantize_embeddings_arrow,
    "array_functions": q_array_functions,
    "embedding_dim_stats": q_embedding_dim_stats,
}

#: DuckDB oracle per query — keys MUST be a subset of QUERIES
#: sha-stub media feature vector SQL (identical to the multimodal
#: family's oracles — 8 hex pairs of sha256(text) scaled to [0,1])
_SHA_VECS = (
    "vecs AS (SELECT doc_id AS vec_id, ["
    + ", ".join(
        f"('0x' || substr(sha256(text), {1 + 2 * i}, 2))::INT / 255.0"
        for i in range(8)
    )
    + "]::DOUBLE[] AS v FROM documents)"
)

ORACLES = {
    "string_id_knn": (
        "WITH planes AS (SELECT * FROM (VALUES "
        + _plane_values(4, [42 + t for t in range(8)])
        + ") AS t(tbl, i, p)),"
        " vecs AS (SELECT vec_id, 'doc_' || CAST(vec_id AS VARCHAR) AS sid,"
        "  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),"
        " buckets AS (SELECT vec_id, sid, v, tbl, CAST(sum(CASE WHEN"
        "   list_dot_product(v, p) >= 0 THEN (1::BIGINT << i) ELSE 0 END)"
        "   AS BIGINT) AS bucket FROM vecs CROSS JOIN planes"
        "   GROUP BY vec_id, sid, v, tbl),"
        " cand AS (SELECT DISTINCT q.sid AS query_id, c.sid AS neighbor_id"
        "   FROM buckets q JOIN buckets c ON q.tbl = c.tbl AND q.bucket = c.bucket"
        "   AND q.sid <> c.sid WHERE q.vec_id < 5),"
        " scored AS (SELECT query_id, neighbor_id,"
        "   round(list_dot_product(a.v, b.v) /"
        "     (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),"
        "     6) AS cosine"
        "   FROM cand JOIN vecs a ON a.sid = cand.query_id"
        "   JOIN vecs b ON b.sid = cand.neighbor_id),"
        " ranked AS (SELECT query_id, neighbor_id, cosine, CAST(row_number()"
        "   OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)"
        "   AS INT) AS rank FROM scored)"
        " SELECT query_id, neighbor_id, cosine, rank FROM ranked"
        " WHERE rank <= 4 ORDER BY query_id, rank"
    ),
    "centered_mutual_matches": (
        "WITH planes AS (SELECT * FROM (VALUES "
        + _plane_values(4, [42 + t for t in range(4)], dim=8)
        + ") AS t(tbl, i, p)), "
        + _SHA_VECS
        + ","
        " buckets AS (SELECT vec_id, v, tbl, CAST(sum(CASE WHEN"
        "   list_dot_product(list_transform(v, x -> x - 0.5), p) >= 0"
        "   THEN (1::BIGINT << i) ELSE 0 END)"
        "   AS BIGINT) AS bucket FROM vecs CROSS JOIN planes GROUP BY vec_id, v, tbl),"
        " cand AS (SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb"
        "   FROM buckets a JOIN buckets b ON a.tbl = b.tbl AND a.bucket = b.bucket"
        "   WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 1),"
        " scored AS (SELECT va, vb,"
        "   round(list_dot_product(a.v, b.v) /"
        "     (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),"
        "     6) AS cosine"
        "   FROM cand JOIN vecs a ON a.vec_id = cand.va"
        "   JOIN vecs b ON b.vec_id = cand.vb),"
        " ranked AS (SELECT va, vb, cosine,"
        "   row_number() OVER (PARTITION BY va ORDER BY cosine DESC, vb) AS rl,"
        "   row_number() OVER (PARTITION BY vb ORDER BY cosine DESC, va) AS rr"
        "   FROM scored)"
        " SELECT va AS vec_a, vb AS vec_b, cosine FROM ranked"
        " WHERE rl = 1 AND rr = 1 ORDER BY vec_a"
    ),
    "pq_distortion": (
        "WITH cb AS (SELECT * FROM (VALUES "
        + _pq_values()
        + ") AS t(sub, cid, c)),"
        " v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
        "  FROM embeddings),"
        " d AS (SELECT vec_id, sub,"
        "  round(list_dot_product(xs, xs)"
        "   - 2.0 * list_dot_product(xs, c)"
        "   + list_dot_product(c, c) + 1e-9, 6) AS d"
        "  FROM (SELECT vec_id, sub, cid, c,"
        "   list_slice(v, sub * 16 + 1, sub * 16 + 16) AS xs"
        "   FROM v CROSS JOIN cb)),"
        " md AS (SELECT vec_id, sub, min(d) AS d FROM d GROUP BY vec_id, sub)"
        " SELECT CAST(sub AS INT) AS sub,"
        " CAST(count(*) AS BIGINT) AS n_vectors,"
        " round(round(sum(d), 2) / count(*) + 1e-9, 4) AS mean_distortion,"
        " round(max(d), 6) AS max_distortion"
        " FROM md GROUP BY sub ORDER BY sub"
    ),
    "recall_vs_bucket_cap": (
        "WITH planes AS (SELECT * FROM (VALUES "
        + _plane_values(4, [42 + t for t in range(8)])
        + ") AS t(tbl, i, p)),"
        " vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),"
        " buckets AS (SELECT vec_id, v, tbl, CAST(sum(CASE WHEN"
        "   list_dot_product(v, p) >= 0 THEN (1::BIGINT << i) ELSE 0 END)"
        "   AS BIGINT) AS bucket FROM vecs CROSS JOIN planes GROUP BY vec_id, v, tbl),"
        " ranked AS (SELECT vec_id, tbl, bucket, row_number() OVER"
        "    (PARTITION BY tbl, bucket ORDER BY vec_id) AS rn FROM buckets),"
        " trunc AS (SELECT CAST(count(*) AS BIGINT) AS n_buckets_truncated"
        "   FROM (SELECT tbl, bucket FROM ranked"
        "         GROUP BY tbl, bucket HAVING max(rn) > 256)),"
        " ref AS (SELECT vec_id, tbl, bucket FROM ranked WHERE rn <= 256),"
        " cand_u AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b"
        "   FROM ref a JOIN ref b ON a.tbl = b.tbl"
        "   AND a.bucket = b.bucket AND a.vec_id < b.vec_id),"
        " ver_u AS (SELECT vec_a, vec_b"
        "   FROM cand_u JOIN vecs va ON va.vec_id = cand_u.vec_a"
        "   JOIN vecs vb ON vb.vec_id = cand_u.vec_b"
        "   WHERE round(list_dot_product(va.v, vb.v) /"
        "     (sqrt(list_dot_product(va.v, va.v)) * sqrt(list_dot_product(vb.v, vb.v))),"
        "     6) >= 0.4),"
        " kept AS (SELECT vec_id, tbl, bucket FROM ranked WHERE rn <= 8),"
        " cand_c AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b"
        "   FROM kept a JOIN kept b ON a.tbl = b.tbl"
        "   AND a.bucket = b.bucket AND a.vec_id < b.vec_id),"
        " ver_c AS (SELECT vec_a, vec_b, 1 AS hit"
        "   FROM cand_c JOIN vecs va ON va.vec_id = cand_c.vec_a"
        "   JOIN vecs vb ON vb.vec_id = cand_c.vec_b"
        "   WHERE round(list_dot_product(va.v, vb.v) /"
        "     (sqrt(list_dot_product(va.v, va.v)) * sqrt(list_dot_product(vb.v, vb.v))),"
        "     6) >= 0.4)"
        " SELECT CAST(count(*) AS BIGINT) AS pairs_uncapped,"
        " CAST(sum(coalesce(hit, 0)) AS BIGINT) AS pairs_capped,"
        " round(sum(coalesce(hit, 0)) * 1.0 / count(*) + 1e-9, 6) AS recall,"
        " (SELECT n_buckets_truncated FROM trunc) AS n_buckets_truncated"
        " FROM ver_u LEFT JOIN ver_c USING (vec_a, vec_b)"
    ),
    "array_functions": (
        "SELECT vec_id, len(embedding) AS n_dims,"
        " round(CAST(embedding AS DOUBLE[])[1], 6) AS first_val,"
        " round(list_aggregate(CAST(embedding[1:8] AS DOUBLE[]), 'sum'), 6) AS head_sum,"
        " round(list_aggregate(CAST(embedding AS DOUBLE[]), 'max'), 6) AS max_val"
        " FROM embeddings ORDER BY vec_id"
    ),
    "embedding_dim_stats": (
        "WITH e AS (SELECT unnest(CAST(embedding AS DOUBLE[])) AS val,"
        "  unnest(range(1, len(embedding)+1)) AS dim FROM embeddings)"
        " SELECT dim, round(round(sum(val), 6) / count(*) + 1e-9, 6) AS avg_val,"
        " round(min(val), 6) AS min_val, round(max(val), 6) AS max_val,"
        " count(*) AS n_vals"
        " FROM e GROUP BY dim ORDER BY dim"
    ),
    "embedding_norms": (
        "WITH norms AS (SELECT label,"
        "  round(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),"
        "   x -> x * x))) + 1e-9, 6) AS norm FROM embeddings)"
        " SELECT label, count(*) AS n_vectors,"
        " round(round(sum(norm), 2) / count(*) + 1e-9, 4) AS avg_norm,"
        " round(min(norm), 4) AS min_norm, round(max(norm), 4) AS max_norm"
        " FROM norms GROUP BY label ORDER BY label"
    ),
    "quantize_embeddings": (
        "WITH p AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,"
        "  list_max(list_transform(CAST(embedding AS DOUBLE[]), v -> abs(v)))"
        "   / 127.0 AS s FROM embeddings)"
        " SELECT vec_id, label, round(s + 1e-12, 8) AS scale,"
        " CAST(list_min(list_transform(e, v -> round(v / s))) AS INT) AS q_min,"
        " CAST(list_max(list_transform(e, v -> round(v / s))) AS INT) AS q_max,"
        " round(list_max(list_transform(e, v -> abs(v - round(v / s) * s)))"
        "  + 1e-12, 6) AS recon_err"
        " FROM p ORDER BY vec_id"
    ),
    "hybrid_search": (
        "WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),"
        " kw AS (SELECT doc_id, len(list_filter("
        "   regexp_split_to_array(trim(lower(text)), '\\s+'),"
        "   t -> t IN ('spark', 'window'))) AS tf FROM documents),"
        " kwt AS (SELECT doc_id, tf FROM kw WHERE tf > 0"
        "   ORDER BY tf DESC, doc_id LIMIT 100),"
        " kwr AS (SELECT doc_id, row_number() OVER (ORDER BY tf DESC, doc_id) AS kw_rank FROM kwt),"
        " vs AS (SELECT vec_id AS doc_id, round("
        "   list_dot_product(CAST(embedding AS DOUBLE[]), qv) /"
        "   (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))"
        "    * sqrt(list_dot_product(qv, qv))), 6) AS cos FROM embeddings, q),"
        " vt AS (SELECT doc_id, cos FROM vs ORDER BY cos DESC, doc_id LIMIT 100),"
        " vr AS (SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS vec_rank FROM vt)"
        " SELECT COALESCE(kwr.doc_id, vr.doc_id) AS doc_id,"
        " round(COALESCE(1.0/(60 + kw_rank), 0) + COALESCE(1.0/(60 + vec_rank), 0), 6) AS rrf_score"
        " FROM kwr FULL OUTER JOIN vr ON kwr.doc_id = vr.doc_id"
        " ORDER BY rrf_score DESC, doc_id LIMIT 10"
    ),
    "knn_join_lsh": (
        "WITH planes AS (SELECT * FROM (VALUES "
        + _plane_values(4, [42 + t for t in range(8)])
        + ") AS t(tbl, i, p)),"
        " vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),"
        " buckets AS (SELECT vec_id, v, tbl, CAST(sum(CASE WHEN"
        "   list_dot_product(v, p) >= 0 THEN (1::BIGINT << i) ELSE 0 END)"
        "   AS BIGINT) AS bucket FROM vecs CROSS JOIN planes GROUP BY vec_id, v, tbl),"
        " cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id"
        "   FROM buckets q JOIN buckets c ON q.tbl = c.tbl AND q.bucket = c.bucket"
        "   AND q.vec_id <> c.vec_id WHERE q.vec_id < 5),"
        " scored AS (SELECT query_id, neighbor_id,"
        "   round(list_dot_product(a.v, b.v) /"
        "     (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),"
        "     6) AS cosine"
        "   FROM cand JOIN vecs a ON a.vec_id = cand.query_id"
        "   JOIN vecs b ON b.vec_id = cand.neighbor_id),"
        " ranked AS (SELECT query_id, neighbor_id, cosine, CAST(row_number()"
        "   OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)"
        "   AS INT) AS rank FROM scored)"
        " SELECT query_id, neighbor_id, cosine, rank FROM ranked"
        " WHERE rank <= 4 ORDER BY query_id, rank"
    ),
    "mutual_matches": (
        "WITH planes AS (SELECT * FROM (VALUES "
        + _plane_values(4, [42 + t for t in range(8)])
        + ") AS t(tbl, i, p)),"
        " vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),"
        " buckets AS (SELECT vec_id, v, tbl, CAST(sum(CASE WHEN"
        "   list_dot_product(v, p) >= 0 THEN (1::BIGINT << i) ELSE 0 END)"
        "   AS BIGINT) AS bucket FROM vecs CROSS JOIN planes GROUP BY vec_id, v, tbl),"
        " cand AS (SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb"
        "   FROM buckets a JOIN buckets b ON a.tbl = b.tbl AND a.bucket = b.bucket"
        "   WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 1),"
        " scored AS (SELECT va, vb,"
        "   round(list_dot_product(a.v, b.v) /"
        "     (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),"
        "     6) AS cosine"
        "   FROM cand JOIN vecs a ON a.vec_id = cand.va"
        "   JOIN vecs b ON b.vec_id = cand.vb),"
        " ranked AS (SELECT va, vb, cosine,"
        "   row_number() OVER (PARTITION BY va ORDER BY cosine DESC, vb) AS rl,"
        "   row_number() OVER (PARTITION BY vb ORDER BY cosine DESC, va) AS rr"
        "   FROM scored)"
        " SELECT va AS vec_a, vb AS vec_b, cosine FROM ranked"
        " WHERE rl = 1 AND rr = 1 ORDER BY vec_a"
    ),
    "margin_matches": (
        "WITH planes AS (SELECT * FROM (VALUES "
        + _plane_values(4, [42 + t for t in range(8)])
        + ") AS t(tbl, i, p)),"
        " vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),"
        " buckets AS (SELECT vec_id, v, tbl, CAST(sum(CASE WHEN"
        "   list_dot_product(v, p) >= 0 THEN (1::BIGINT << i) ELSE 0 END)"
        "   AS BIGINT) AS bucket FROM vecs CROSS JOIN planes GROUP BY vec_id, v, tbl),"
        " cand AS (SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb"
        "   FROM buckets a JOIN buckets b ON a.tbl = b.tbl AND a.bucket = b.bucket"
        "   WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 1),"
        " scored AS (SELECT va, vb,"
        "   round(list_dot_product(a.v, b.v) /"
        "     (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),"
        "     6) AS cosine"
        "   FROM cand JOIN vecs a ON a.vec_id = cand.va"
        "   JOIN vecs b ON b.vec_id = cand.vb),"
        " ranked AS (SELECT va, vb, cosine,"
        "   row_number() OVER (PARTITION BY va ORDER BY cosine DESC, vb) AS rl,"
        "   row_number() OVER (PARTITION BY vb ORDER BY cosine DESC, va) AS rr"
        "   FROM scored),"
        " al AS (SELECT va, sum(cosine) / count(*) AS avg_a FROM ranked"
        "   WHERE rl <= 4 GROUP BY va),"
        " ar AS (SELECT vb, sum(cosine) / count(*) AS avg_b FROM ranked"
        "   WHERE rr <= 4 GROUP BY vb),"
        " m AS (SELECT s.va, s.vb, s.cosine,"
        "   round(s.cosine / ((al.avg_a + ar.avg_b) / 2) + 1e-9, 4) AS margin"
        "   FROM scored s JOIN al ON al.va = s.va JOIN ar ON ar.vb = s.vb),"
        " best AS (SELECT *, row_number() OVER (PARTITION BY va"
        "   ORDER BY margin DESC, vb) AS rm FROM m)"
        " SELECT va AS vec_a, vb AS vec_b, cosine, margin FROM best"
        " WHERE rm = 1 AND margin >= 1.0 ORDER BY vec_a"
    ),
    "lsh_topk_multiprobe": (
        "WITH planes AS (SELECT * FROM (VALUES "
        + _plane_values(4, [42])
        + ") AS t(tbl, i, p)),"
        " vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),"
        " q AS (SELECT v AS qv FROM vecs WHERE vec_id = 0),"
        " buckets AS (SELECT vec_id, v, CAST(sum(CASE WHEN"
        "   list_dot_product(v, p) >= 0 THEN (1::BIGINT << i) ELSE 0 END)"
        "   AS BIGINT) AS bucket FROM vecs CROSS JOIN planes GROUP BY vec_id, v),"
        " qb AS (SELECT bucket AS qbucket FROM buckets WHERE vec_id = 0)"
        " SELECT vec_id, round(list_dot_product(v, qv) /"
        "   (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6)"
        "   AS cosine"
        " FROM buckets, q, qb"
        " WHERE bucket = qbucket OR xor(bucket, qbucket) IN (1, 2, 4, 8)"
        " ORDER BY cosine DESC, vec_id LIMIT 10"
    ),
    "ivf_assign": (
        "WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
        "   FROM embeddings),"
        " nv AS (SELECT vec_id, list_transform(v,"
        "   x -> x / greatest(sqrt(list_dot_product(v, v)), 1e-12)) AS vn"
        "   FROM vecs),"
        " cents AS (SELECT vec_id AS cid, vn AS cn FROM nv WHERE vec_id < 8),"
        " scored AS (SELECT a.vec_id, c.cid, row_number() OVER ("
        "   PARTITION BY a.vec_id"
        "   ORDER BY list_dot_product(a.vn, c.cn) DESC, c.cid) AS rn"
        "   FROM nv a CROSS JOIN cents c)"
        " SELECT vec_id, CAST(cid AS INT) AS centroid_id FROM scored"
        " WHERE rn = 1 ORDER BY vec_id"
    ),
    "ann_recall_eval": (
        "WITH planes AS (SELECT * FROM (VALUES "
        + _plane_values(4, [42])
        + ") AS t(tbl, i, p)),"
        " vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
        "   FROM embeddings),"
        " q AS (SELECT v AS qv FROM vecs WHERE vec_id = 0),"
        " exact AS (SELECT vec_id FROM (SELECT vec_id,"
        "   round(list_dot_product(v, qv) / (sqrt(list_dot_product(v, v))"
        "    * sqrt(list_dot_product(qv, qv))), 6) AS cosine"
        "   FROM vecs CROSS JOIN q ORDER BY cosine DESC, vec_id LIMIT 10)),"
        " buckets AS (SELECT vec_id, v, CAST(sum(CASE WHEN"
        "   list_dot_product(v, p) >= 0 THEN (1::BIGINT << i) ELSE 0 END)"
        "   AS BIGINT) AS bucket FROM vecs CROSS JOIN planes"
        "   GROUP BY vec_id, v),"
        " qb AS (SELECT bucket AS qbucket FROM buckets WHERE vec_id = 0),"
        " approx AS (SELECT vec_id FROM (SELECT b.vec_id,"
        "   round(list_dot_product(b.v, q.qv) /"
        "    (sqrt(list_dot_product(b.v, b.v))"
        "     * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine"
        "   FROM buckets b, q, qb WHERE b.bucket = qb.qbucket"
        "   ORDER BY cosine DESC, b.vec_id LIMIT 10))"
        " SELECT CAST(count(*) AS BIGINT) AS k_exact,"
        "  CAST(count(a.vec_id) AS BIGINT) AS n_hit,"
        "  round(count(a.vec_id) / CAST(count(*) AS DOUBLE) + 1e-9, 6)"
        "   AS recall"
        " FROM exact e LEFT JOIN approx a ON a.vec_id = e.vec_id"
    ),
    "ivf_topk_fixed": (
        # full IVF search replay: normalized fixed centroids, the
        # top-3 probe selection, every per-vector argmax
        # assignment, candidate pruning, exact cosine top-10
        "WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
        "   FROM embeddings),"
        " nv AS (SELECT vec_id, v, list_transform(v,"
        "   x -> x / greatest(sqrt(list_dot_product(v, v)), 1e-12)) AS vn"
        "   FROM vecs),"
        " cents AS (SELECT vec_id AS cid, vn AS cn FROM nv WHERE vec_id < 8),"
        " q AS (SELECT v AS qv FROM vecs WHERE vec_id = 0),"
        " probe AS (SELECT cid FROM (SELECT c.cid, row_number() OVER ("
        "   ORDER BY list_dot_product(c.cn, q.qv) DESC, c.cid) AS rn"
        "   FROM cents c CROSS JOIN q) WHERE rn <= 3),"
        " assigned AS (SELECT vec_id, cid FROM (SELECT a.vec_id, c.cid,"
        "   row_number() OVER (PARTITION BY a.vec_id"
        "   ORDER BY list_dot_product(a.vn, c.cn) DESC, c.cid) AS rn"
        "   FROM nv a CROSS JOIN cents c) WHERE rn = 1),"
        " cand AS (SELECT n.vec_id, n.v FROM nv n"
        "   JOIN assigned s ON n.vec_id = s.vec_id"
        "   JOIN probe p ON s.cid = p.cid)"
        " SELECT vec_id, round(list_dot_product(v, qv) /"
        "   (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6)"
        "   AS cosine"
        " FROM cand CROSS JOIN q"
        " ORDER BY cosine DESC, vec_id LIMIT 10"
    ),
    "lsh_topk": (
        "WITH planes AS (SELECT * FROM (VALUES "
        + _plane_values(4, [42])
        + ") AS t(tbl, i, p)),"
        " vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),"
        " q AS (SELECT v AS qv FROM vecs WHERE vec_id = 0),"
        " buckets AS (SELECT vec_id, v, CAST(sum(CASE WHEN"
        "   list_dot_product(v, p) >= 0 THEN (1::BIGINT << i) ELSE 0 END)"
        "   AS BIGINT) AS bucket FROM vecs CROSS JOIN planes GROUP BY vec_id, v),"
        " qb AS (SELECT bucket AS qbucket FROM buckets WHERE vec_id = 0)"
        " SELECT vec_id, round(list_dot_product(v, qv) /"
        "   (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6)"
        "   AS cosine"
        " FROM buckets, q, qb WHERE bucket = qbucket"
        " ORDER BY cosine DESC, vec_id LIMIT 10"
    ),
    "embedding_dup_clusters": (
        # plane literals generated for bits = auto_lsh_bits(500) = 4
        # (the sf0.01 fixture count; pinned by a unit so drift raises)
        "WITH RECURSIVE planes AS (SELECT * FROM (VALUES "
        + _plane_values(4, [42 + t for t in range(8)])
        + ") AS t(tbl, i, p)),"
        " vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),"
        " buckets AS (SELECT vec_id, v, tbl, CAST(sum(CASE WHEN"
        "   list_dot_product(v, p) >= 0 THEN (1::BIGINT << i) ELSE 0 END)"
        "   AS BIGINT) AS bucket FROM vecs CROSS JOIN planes GROUP BY vec_id, v, tbl),"
        " cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b"
        "   FROM buckets a JOIN buckets b ON a.tbl = b.tbl"
        "   AND a.bucket = b.bucket AND a.vec_id < b.vec_id),"
        " pairs AS (SELECT vec_a, vec_b"
        "   FROM cand JOIN vecs va ON va.vec_id = cand.vec_a"
        "   JOIN vecs vb ON vb.vec_id = cand.vec_b"
        "   WHERE round(list_dot_product(va.v, vb.v) /"
        "     (sqrt(list_dot_product(va.v, va.v)) * sqrt(list_dot_product(vb.v, vb.v))),"
        "     6) >= 0.4),"
        " sym AS (SELECT vec_a AS u, vec_b AS v FROM pairs"
        "   UNION SELECT vec_b, vec_a FROM pairs),"
        " reach AS (SELECT u AS node, u AS label FROM sym"
        "   UNION SELECT s.u AS node, r.label FROM sym s JOIN reach r ON r.node = s.v),"
        " labels AS (SELECT node, min(label) AS component FROM reach GROUP BY node)"
        " SELECT component, count(*) AS cluster_size, min(node) AS representative"
        " FROM labels GROUP BY component ORDER BY component"
    ),
    "label_centroids": (
        "WITH e AS (SELECT label,"
        " unnest(generate_series(1, len(embedding))) AS dim1,"
        " CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)"
        " SELECT label, CAST(dim1 - 1 AS INT) AS dim, count(*) AS n_vectors,"
        " round(round(sum(emb[dim1]), 2) / count(*) + 1e-9, 4) AS centroid"
        " FROM e GROUP BY 1, 2 ORDER BY 1, 2"
    ),
    "quantize_embeddings_arrow": (
        # identical contract to quantize_embeddings (the mapInArrow
        # twin must reproduce the expression form bit-for-bit at 6dp)
        "WITH p AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,"
        "  list_max(list_transform(CAST(embedding AS DOUBLE[]), v -> abs(v)))"
        "   / 127.0 AS s FROM embeddings)"
        " SELECT vec_id, label, round(s + 1e-12, 8) AS scale,"
        " CAST(list_min(list_transform(e, v -> round(v / s))) AS INT) AS q_min,"
        " CAST(list_max(list_transform(e, v -> round(v / s))) AS INT) AS q_max,"
        " round(list_max(list_transform(e, v -> abs(v - round(v / s) * s)))"
        "  + 1e-12, 6) AS recon_err"
        " FROM p ORDER BY vec_id"
    ),
    "source_similarity": (
        "WITH w AS (SELECT source AS src,"
        "  unnest(string_split_regex(trim(text), '\\s+')) AS t"
        "  FROM documents),"
        " c AS (SELECT src,"
        "  (('0x' || substr(md5(t), 1, 8))::BIGINT % 2147483647)"
        "    % 32 AS b, count(*) AS cnt"
        "  FROM w WHERE t <> '' GROUP BY 1, 2),"
        " v0 AS (SELECT src, list(b ORDER BY b) AS bs,"
        "  list(cnt ORDER BY b) AS cs FROM c GROUP BY src),"
        " v AS (SELECT src,"
        "  [CASE WHEN COALESCE(list_position(bs, d), 0) > 0"
        "   THEN cs[list_position(bs, d)]::DOUBLE ELSE 0.0 END"
        "   FOR d IN generate_series(0, 31)] AS vec FROM v0)"
        " SELECT a.src AS src_a, b.src AS src_b,"
        " round(list_dot_product(a.vec, b.vec) /"
        "  (sqrt(list_dot_product(a.vec, a.vec))"
        "   * sqrt(list_dot_product(b.vec, b.vec))) + 1e-9, 6)"
        "  AS cosine"
        " FROM v a JOIN v b ON a.src < b.src"
        " ORDER BY src_a, src_b"
    ),
    "kcenter_select": _kcenter_sql(8),
    "kmeans_fixed": _kmeans_sql(8, 3),
    "top_component": _top_component_sql(5, 64),
    "weighted_quantiles": (
        "WITH li AS (SELECT l_returnflag,"
        "  CAST(l_quantity AS INT) AS qty,"
        "  CAST(round(l_extendedprice * 100.0, 0) AS BIGINT)"
        "   AS cents FROM lineitem),"
        " g AS (SELECT l_returnflag, qty,"
        "  CAST(sum(cents) AS BIGINT) AS w FROM li GROUP BY 1, 2),"
        " c AS (SELECT l_returnflag, qty,"
        "  CAST(sum(w) OVER (PARTITION BY l_returnflag ORDER BY qty"
        "   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        "   AS BIGINT) AS cum,"
        "  CAST(sum(w) OVER (PARTITION BY l_returnflag) AS BIGINT)"
        "   AS total FROM g)"
        " SELECT l_returnflag, max(total) AS total_weight,"
        "  min(CASE WHEN 100 * cum >= 25 * total THEN qty END)"
        "   AS p25,"
        "  min(CASE WHEN 100 * cum >= 50 * total THEN qty END)"
        "   AS p50,"
        "  min(CASE WHEN 100 * cum >= 75 * total THEN qty END)"
        "   AS p75"
        " FROM c GROUP BY l_returnflag ORDER BY l_returnflag"
    ),
    "groupwise_ols": (
        "WITH li AS (SELECT l_returnflag, l_linestatus,"
        "  CAST(l_quantity AS DECIMAL(18,2)) AS qx,"
        "  CAST(l_extendedprice AS DECIMAL(18,2)) AS py"
        "  FROM lineitem),"
        " g AS (SELECT l_returnflag, l_linestatus,"
        "  count(*) AS n,"
        "  CAST(sum(qx) AS DOUBLE) AS sx,"
        "  CAST(sum(py) AS DOUBLE) AS sy,"
        "  CAST(sum(qx * py) AS DOUBLE) AS sxy,"
        "  CAST(sum(qx * qx) AS DOUBLE) AS sxx,"
        "  CAST(sum(py * py) AS DOUBLE) AS syy"
        "  FROM li GROUP BY 1, 2)"
        " SELECT l_returnflag, l_linestatus,"
        "  CAST(n AS BIGINT) AS n,"
        "  round(CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx <> 0"
        "   THEN (CAST(n AS DOUBLE) * sxy - sx * sy)"
        "    / (CAST(n AS DOUBLE) * sxx - sx * sx) END"
        "   + 1e-9, 6) AS slope,"
        "  round(CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx <> 0"
        "   THEN (sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)"
        "    / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)"
        "    / CAST(n AS DOUBLE) END + 1e-9, 6) AS intercept,"
        "  round(CASE WHEN (CAST(n AS DOUBLE) * sxx - sx * sx <> 0)"
        "   AND (CAST(n AS DOUBLE) * syy - sy * sy <> 0)"
        "   THEN ((CAST(n AS DOUBLE) * sxy - sx * sy)"
        "    * (CAST(n AS DOUBLE) * sxy - sx * sy))"
        "    / ((CAST(n AS DOUBLE) * sxx - sx * sx)"
        "     * (CAST(n AS DOUBLE) * syy - sy * sy)) END"
        "   + 1e-9, 6) AS r2"
        " FROM g ORDER BY l_returnflag, l_linestatus"
    ),
    "dim_truncation_recall": (
        "WITH base AS (SELECT vec_id,"
        "  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),"
        " q AS (SELECT vec_id AS qid, v AS qv FROM base"
        "  WHERE vec_id < 16),"
        " p AS (SELECT q.qid, b.vec_id,"
        "  round(list_dot_product(b.v, q.qv)"
        "   / (sqrt(list_dot_product(b.v, b.v))"
        "      * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cs_full,"
        "  round(list_dot_product(b.v[1:32], q.qv[1:32])"
        "   / (sqrt(list_dot_product(b.v[1:32], b.v[1:32]))"
        "      * sqrt(list_dot_product(q.qv[1:32], q.qv[1:32]))), 6)"
        "   AS cs_tr"
        "  FROM base b, q WHERE b.vec_id <> q.qid),"
        " r AS (SELECT qid, vec_id,"
        "  row_number() OVER (PARTITION BY qid"
        "   ORDER BY cs_full DESC, vec_id) AS rf,"
        "  row_number() OVER (PARTITION BY qid"
        "   ORDER BY cs_tr DESC, vec_id) AS rt FROM p)"
        " SELECT qid AS query_id,"
        "  CAST(sum(CASE WHEN rf <= 10 AND rt <= 10 THEN 1 ELSE 0"
        "   END) AS BIGINT) AS n_overlap,"
        "  round(CAST(sum(CASE WHEN rf <= 10 AND rt <= 10 THEN 1"
        "   ELSE 0 END) AS BIGINT) / 10.0 + 1e-9, 4) AS recall"
        " FROM r GROUP BY qid ORDER BY qid"
    ),
    "label_disagreement": (
        "WITH planes AS (SELECT * FROM (VALUES "
        + _plane_values(4, [42 + t for t in range(4)])
        + ") AS t(tbl, i, p)),"
        " vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
        "   FROM embeddings),"
        " buckets AS (SELECT vec_id, v, tbl, CAST(sum(CASE WHEN"
        "   list_dot_product(v, p) >= 0 THEN (1::BIGINT << i) ELSE 0 END)"
        "   AS BIGINT) AS bucket FROM vecs CROSS JOIN planes"
        "   GROUP BY vec_id, v, tbl),"
        " cand AS (SELECT DISTINCT q.vec_id AS query_id,"
        "   c.vec_id AS neighbor_id"
        "   FROM buckets q JOIN buckets c ON q.tbl = c.tbl"
        "   AND q.bucket = c.bucket AND q.vec_id <> c.vec_id),"
        " scored AS (SELECT query_id, neighbor_id,"
        "   round(list_dot_product(a.v, b.v) /"
        "     (sqrt(list_dot_product(a.v, a.v))"
        "      * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine"
        "   FROM cand JOIN vecs a ON a.vec_id = cand.query_id"
        "   JOIN vecs b ON b.vec_id = cand.neighbor_id),"
        " nn AS (SELECT query_id, neighbor_id FROM (SELECT query_id,"
        "   neighbor_id, row_number() OVER (PARTITION BY query_id"
        "   ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)"
        "   WHERE rank <= 5)"
        " SELECT n.query_id AS vec_id, eq.label,"
        "  count(*) AS n_neighbors,"
        "  CAST(sum(CASE WHEN en.label <> eq.label THEN 1 ELSE 0 END)"
        "   AS BIGINT) AS n_disagree,"
        "  round(sum(CASE WHEN en.label <> eq.label THEN 1 ELSE 0 END)"
        "   / count(*) + 1e-9, 6) AS disagreement,"
        "  round(sum(CASE WHEN en.label <> eq.label THEN 1 ELSE 0 END)"
        "   / count(*) + 1e-9, 6) > 0.5 AS suspect"
        " FROM nn n JOIN embeddings eq ON eq.vec_id = n.query_id"
        " JOIN embeddings en ON en.vec_id = n.neighbor_id"
        " GROUP BY 1, 2 ORDER BY 1"
    ),
    "centroid_margin": (
        "WITH e0 AS (SELECT vec_id, label,"
        "   CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),"
        " cent AS (SELECT label, dim1 AS dim1, count(*) AS n,"
        "   round(round(sum(emb[dim1]), 2) / count(*) + 1e-9, 4)"
        "    AS centroid"
        "  FROM (SELECT label, unnest(generate_series(1, len(emb)))"
        "    AS dim1, emb FROM e0) GROUP BY 1, 2),"
        " cv AS (SELECT label AS c_label,"
        "   list(centroid ORDER BY dim1) AS cvec FROM cent"
        "   GROUP BY label),"
        " d AS (SELECT e.vec_id, e.label, c.c_label,"
        "   round(list_sum(list_transform("
        "     generate_series(1, len(c.cvec)),"
        "     i -> (e.emb[i] - c.cvec[i]) * (e.emb[i] - c.cvec[i])))"
        "    + 1e-9, 4) AS dist"
        "  FROM e0 e, cv c),"
        " own AS (SELECT vec_id, label, dist AS d_own FROM d"
        "   WHERE c_label = label),"
        " oth AS (SELECT vec_id, c_label, dist, row_number() OVER ("
        "   PARTITION BY vec_id ORDER BY dist ASC, c_label ASC)"
        "   AS rk FROM d WHERE c_label != label)"
        " SELECT w.vec_id, w.label,"
        "  o.c_label AS nearest_other_label, w.d_own,"
        "  o.dist AS d_nearest_other,"
        "  round(o.dist - w.d_own + 1e-9, 4) AS margin,"
        "  round(o.dist - w.d_own + 1e-9, 4) < 0 AS suspect"
        " FROM own w JOIN oth o ON o.vec_id = w.vec_id AND o.rk = 1"
        " ORDER BY w.vec_id"
    ),
    "hash_embed": (
        "WITH m AS (SELECT * FROM (VALUES "
        + _hash_embed_values()
        + ") AS t(b, d, w)),"
        " tk AS (SELECT doc_id,"
        "  (('0x' || substr(md5(t), 1, 8))::BIGINT % 2147483647)"
        "   % 32 AS b FROM (SELECT doc_id,"
        "  unnest(string_split_regex(trim(text), '\\s+')) AS t"
        "  FROM documents) WHERE t <> ''),"
        " db AS (SELECT doc_id, b, count(*) AS cnt FROM tk"
        "  GROUP BY 1, 2)"
        " SELECT db.doc_id, m.d,"
        " round(sum(db.cnt * m.w) + 1e-9, 6) AS value"
        " FROM db JOIN m ON m.b = db.b"
        " GROUP BY db.doc_id, m.d ORDER BY db.doc_id, m.d"
    ),
    "pq_encode": (
        "WITH cb AS (SELECT * FROM (VALUES "
        + _pq_values()
        + ") AS t(sub, cid, c)),"
        " v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
        "  FROM embeddings),"
        " d AS (SELECT vec_id, sub, cid,"
        "  round(list_dot_product(xs, xs)"
        "   - 2.0 * list_dot_product(xs, c)"
        "   + list_dot_product(c, c) + 1e-9, 6) AS d"
        "  FROM (SELECT vec_id, sub, cid, c,"
        "   list_slice(v, sub * 16 + 1, sub * 16 + 16) AS xs"
        "   FROM v CROSS JOIN cb)),"
        " a AS (SELECT vec_id, sub, cid FROM (SELECT *,"
        "  row_number() OVER (PARTITION BY vec_id, sub"
        "   ORDER BY d, cid) AS rn FROM d) WHERE rn = 1)"
        " SELECT vec_id,"
        " CAST(max(CASE WHEN sub = 0 THEN cid END) AS INT) AS code0,"
        " CAST(max(CASE WHEN sub = 1 THEN cid END) AS INT) AS code1,"
        " CAST(max(CASE WHEN sub = 2 THEN cid END) AS INT) AS code2,"
        " CAST(max(CASE WHEN sub = 3 THEN cid END) AS INT) AS code3"
        " FROM a GROUP BY vec_id ORDER BY vec_id"
    ),
    "pq_search": (
        "WITH cb AS (SELECT * FROM (VALUES "
        + _pq_values()
        + ") AS t(sub, cid, c)),"
        " v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
        "  FROM embeddings),"
        " d AS (SELECT vec_id, sub, cid,"
        "  round(list_dot_product(xs, xs)"
        "   - 2.0 * list_dot_product(xs, c)"
        "   + list_dot_product(c, c) + 1e-9, 6) AS d"
        "  FROM (SELECT vec_id, sub, cid, c,"
        "   list_slice(v, sub * 16 + 1, sub * 16 + 16) AS xs"
        "   FROM v CROSS JOIN cb)),"
        " a AS (SELECT vec_id, sub, cid FROM (SELECT *,"
        "  row_number() OVER (PARTITION BY vec_id, sub"
        "   ORDER BY d, cid) AS rn FROM d) WHERE rn = 1),"
        " q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv"
        "  FROM embeddings WHERE vec_id = 0),"
        " lut AS (SELECT sub, cid,"
        "  round(list_dot_product(qs, qs)"
        "   - 2.0 * list_dot_product(qs, c)"
        "   + list_dot_product(c, c) + 1e-9, 6) AS d"
        "  FROM (SELECT sub, cid, c,"
        "   list_slice(qv, sub * 16 + 1, sub * 16 + 16) AS qs"
        "   FROM cb CROSS JOIN q)),"
        " s AS (SELECT a.vec_id, round(sum(l.d) + 1e-9, 6)"
        "   AS adc_dist FROM a JOIN lut l"
        "   ON l.sub = a.sub AND l.cid = a.cid GROUP BY a.vec_id),"
        " codes AS (SELECT vec_id,"
        "  CAST(max(CASE WHEN sub = 0 THEN cid END) AS INT) AS code0,"
        "  CAST(max(CASE WHEN sub = 1 THEN cid END) AS INT) AS code1,"
        "  CAST(max(CASE WHEN sub = 2 THEN cid END) AS INT) AS code2,"
        "  CAST(max(CASE WHEN sub = 3 THEN cid END) AS INT) AS code3"
        "  FROM a GROUP BY vec_id)"
        " SELECT s.vec_id, codes.code0, codes.code1, codes.code2,"
        "  codes.code3, s.adc_dist"
        " FROM s JOIN codes ON codes.vec_id = s.vec_id"
        " ORDER BY s.adc_dist, s.vec_id LIMIT 10"
    ),
    "mmr_rerank": (
        "WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv"
        "  FROM embeddings WHERE vec_id = 0),"
        " pool AS (SELECT vec_id,"
        "  CAST(embedding AS DOUBLE[]) AS v,"
        "  round(list_dot_product(CAST(embedding AS DOUBLE[]), qv)"
        "   / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),"
        "       CAST(embedding AS DOUBLE[])))"
        "      * sqrt(list_dot_product(qv, qv))), 6) AS rel"
        "  FROM embeddings, q ORDER BY rel DESC, vec_id LIMIT 20),"
        " sims AS (SELECT a.vec_id AS ai, b.vec_id AS bi,"
        "  round(list_dot_product(a.v, b.v)"
        "   / (sqrt(list_dot_product(a.v, a.v))"
        "      * sqrt(list_dot_product(b.v, b.v))), 6) AS sim"
        "  FROM pool a JOIN pool b ON a.vec_id <> b.vec_id),"
        " s1 AS (SELECT vec_id, rel,"
        "  round(0.7 * rel - (1.0 - 0.7) * 0.0 + 1e-9, 6) AS score"
        "  FROM pool ORDER BY score DESC, vec_id LIMIT 1),"
        " l1 AS (SELECT vec_id FROM s1),"
        " s2 AS (SELECT p.vec_id, p.rel,"
        "  round(0.7 * p.rel - (1.0 - 0.7)"
        "   * COALESCE(m.ms, 0.0) + 1e-9, 6) AS score"
        "  FROM pool p LEFT JOIN (SELECT ai, max(sim) AS ms"
        "   FROM sims WHERE bi IN (SELECT vec_id FROM l1)"
        "   GROUP BY ai) m ON m.ai = p.vec_id"
        "  WHERE p.vec_id NOT IN (SELECT vec_id FROM l1)"
        "  ORDER BY score DESC, p.vec_id LIMIT 1),"
        " l2 AS (SELECT vec_id FROM l1 UNION ALL"
        "  SELECT vec_id FROM s2),"
        " s3 AS (SELECT p.vec_id, p.rel,"
        "  round(0.7 * p.rel - (1.0 - 0.7)"
        "   * COALESCE(m.ms, 0.0) + 1e-9, 6) AS score"
        "  FROM pool p LEFT JOIN (SELECT ai, max(sim) AS ms"
        "   FROM sims WHERE bi IN (SELECT vec_id FROM l2)"
        "   GROUP BY ai) m ON m.ai = p.vec_id"
        "  WHERE p.vec_id NOT IN (SELECT vec_id FROM l2)"
        "  ORDER BY score DESC, p.vec_id LIMIT 1),"
        " l3 AS (SELECT vec_id FROM l2 UNION ALL"
        "  SELECT vec_id FROM s3),"
        " s4 AS (SELECT p.vec_id, p.rel,"
        "  round(0.7 * p.rel - (1.0 - 0.7)"
        "   * COALESCE(m.ms, 0.0) + 1e-9, 6) AS score"
        "  FROM pool p LEFT JOIN (SELECT ai, max(sim) AS ms"
        "   FROM sims WHERE bi IN (SELECT vec_id FROM l3)"
        "   GROUP BY ai) m ON m.ai = p.vec_id"
        "  WHERE p.vec_id NOT IN (SELECT vec_id FROM l3)"
        "  ORDER BY score DESC, p.vec_id LIMIT 1),"
        " l4 AS (SELECT vec_id FROM l3 UNION ALL"
        "  SELECT vec_id FROM s4),"
        " s5 AS (SELECT p.vec_id, p.rel,"
        "  round(0.7 * p.rel - (1.0 - 0.7)"
        "   * COALESCE(m.ms, 0.0) + 1e-9, 6) AS score"
        "  FROM pool p LEFT JOIN (SELECT ai, max(sim) AS ms"
        "   FROM sims WHERE bi IN (SELECT vec_id FROM l4)"
        "   GROUP BY ai) m ON m.ai = p.vec_id"
        "  WHERE p.vec_id NOT IN (SELECT vec_id FROM l4)"
        "  ORDER BY score DESC, p.vec_id LIMIT 1)"
        " SELECT * FROM ("
        "  SELECT CAST(1 AS INT) AS rank, vec_id, rel,"
        "   score AS mmr_score FROM s1"
        "  UNION ALL SELECT CAST(2 AS INT), vec_id, rel, score FROM s2"
        "  UNION ALL SELECT CAST(3 AS INT), vec_id, rel, score FROM s3"
        "  UNION ALL SELECT CAST(4 AS INT), vec_id, rel, score FROM s4"
        "  UNION ALL SELECT CAST(5 AS INT), vec_id, rel, score FROM s5"
        " ) ORDER BY rank"
    ),
    "jl_projection": (
        "WITH vecs AS (SELECT vec_id,"
        "  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),"
        " s AS (SELECT vec_id, list_dot_product(v, v) AS n2, "
        + _jl_s2_sql()
        + "  AS s2 FROM vecs)"
        " SELECT vec_id, round(sqrt(n2) + 1e-9, 4) AS norm_orig,"
        " round(sqrt(s2) + 1e-9, 4) AS norm_proj,"
        " round(sqrt(s2) / sqrt(n2) + 1e-9, 4) AS distortion"
        " FROM s ORDER BY vec_id"
    ),
    "embedding_gramian": (
        "WITH p AS (SELECT i, j,"
        "  CAST(embedding[i + 1] AS DOUBLE) *"
        "  CAST(embedding[j + 1] AS DOUBLE) AS v"
        "  FROM embeddings,"
        "  LATERAL (SELECT unnest(generate_series(0, 63)) AS i) gi,"
        "  LATERAL (SELECT unnest(generate_series(0, 63)) AS j) gj"
        "  WHERE j >= i)"
        " SELECT i, j, round(sum(v) + 1e-9, 6) AS dot"
        " FROM p GROUP BY i, j ORDER BY i, j"
    ),
    "rbo_eval": (
        # exact panel ranking + plane-literal LSH ranking; RBO depth
        # weights inlined as the SAME repr() literals the Spark plan
        # uses (operators/similarity._rbo_coeffs)
        "WITH planes AS (SELECT * FROM (VALUES "
        + _plane_values(4, [42 + t for t in range(8)])
        + ") AS t(tbl, i, p)),"
        " vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),"
        " eq AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,"
        "   round(list_dot_product(a.v, b.v) /"
        "     (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),"
        "     6) AS cosine FROM vecs a, vecs b"
        "   WHERE a.vec_id < 4 AND a.vec_id <> b.vec_id),"
        " ex AS (SELECT query_id, neighbor_id, ra FROM (SELECT query_id,"
        "   neighbor_id, row_number() OVER (PARTITION BY query_id"
        "   ORDER BY cosine DESC, neighbor_id) AS ra FROM eq) WHERE ra <= 10),"
        " buckets AS (SELECT vec_id, v, tbl, CAST(sum(CASE WHEN"
        "   list_dot_product(v, p) >= 0 THEN (1::BIGINT << i) ELSE 0 END)"
        "   AS BIGINT) AS bucket FROM vecs CROSS JOIN planes GROUP BY vec_id, v, tbl),"
        " cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id"
        "   FROM buckets q JOIN buckets c ON q.tbl = c.tbl AND q.bucket = c.bucket"
        "   AND q.vec_id <> c.vec_id WHERE q.vec_id < 4),"
        " scored AS (SELECT query_id, neighbor_id,"
        "   round(list_dot_product(a.v, b.v) /"
        "     (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),"
        "     6) AS cosine"
        "   FROM cand JOIN vecs a ON a.vec_id = cand.query_id"
        "   JOIN vecs b ON b.vec_id = cand.neighbor_id),"
        " ap AS (SELECT query_id, neighbor_id, rb FROM (SELECT query_id,"
        "   neighbor_id, row_number() OVER (PARTITION BY query_id"
        "   ORDER BY cosine DESC, neighbor_id) AS rb FROM scored) WHERE rb <= 10),"
        " paired AS (SELECT ex.query_id, ex.ra, ap.rb FROM ex"
        "   JOIN ap USING (query_id, neighbor_id)),"
        " xd AS (SELECT query_id, d, count(*) AS x FROM paired,"
        "   (SELECT unnest(generate_series(1, 10)) AS d) g"
        "   WHERE ra <= d AND rb <= d GROUP BY 1, 2),"
        " rbo AS (SELECT query_id, round(sum(x * CASE d WHEN 1 THEN 0.15353399327876294 WHEN 2 THEN 0.06909029697544332 WHEN 3 THEN 0.041454178185266 WHEN 4 THEN 0.02798157027505455 WHEN 5 THEN 0.020146730598039272 WHEN 6 THEN 0.015110047948529456 WHEN 7 THEN 0.011656322703151294 WHEN 8 THEN 0.009179354128731646 WHEN 9 THEN 0.007343483302985317 WHEN 10 THEN 0.005948221475418106 END)"
        "   + 1e-9, 6) AS rbo FROM xd GROUP BY 1),"
        " ne AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact FROM ex GROUP BY 1),"
        " na AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_approx FROM ap GROUP BY 1),"
        " nc AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_common FROM paired GROUP BY 1)"
        " SELECT ne.query_id, ne.n_exact,"
        " CAST(COALESCE(na.n_approx, 0) AS BIGINT) AS n_approx,"
        " CAST(COALESCE(nc.n_common, 0) AS BIGINT) AS n_common,"
        " COALESCE(rbo.rbo, 0.0) AS rbo"
        " FROM ne LEFT JOIN na USING (query_id) LEFT JOIN nc USING (query_id)"
        " LEFT JOIN rbo USING (query_id) ORDER BY ne.query_id"
    ),
    "embedding_anisotropy": (
        # offset = floor(N/2) as a scalar subquery, so the oracle is
        # sf-agnostic like the Spark side's _nrows(sf_dir)//2
        "WITH a AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS va"
        "   FROM embeddings),"
        " b AS (SELECT vec_id - (SELECT count(*) // 2 FROM embeddings)"
        "   AS vec_id, CAST(embedding AS DOUBLE[]) AS vb FROM embeddings),"
        " p AS (SELECT round(list_dot_product(va, vb) /"
        "   (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb)))"
        "   , 6) AS c FROM a JOIN b USING (vec_id))"
        " SELECT CAST(count(*) AS BIGINT) AS n_pairs,"
        " round(round(sum(c), 4) / count(*) + 1e-9, 6) AS mean_cosine,"
        " round(round(sum(abs(c)), 4) / count(*) + 1e-9, 6) AS mean_abs_cosine,"
        " max(abs(c)) AS max_abs_cosine FROM p"
    ),
    "cosine_topk": (
        "WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)"
        " SELECT vec_id, round("
        "  list_dot_product(CAST(embedding AS DOUBLE[]), qv) /"
        "  (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))"
        "   * sqrt(list_dot_product(qv, qv))), 6) AS cosine"
        " FROM embeddings, q ORDER BY cosine DESC, vec_id LIMIT 10"
    ),
    "pandas_cosine_topk": (
        "WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)"
        " SELECT vec_id, round("
        "  list_dot_product(CAST(embedding AS DOUBLE[]), qv) /"
        "  (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))"
        "   * sqrt(list_dot_product(qv, qv))), 6) AS cosine"
        " FROM embeddings, q ORDER BY cosine DESC, vec_id LIMIT 10"
    ),
    "knn_join": (
        "WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv"
        "   FROM embeddings WHERE vec_id < 5),"
        " c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),"
        " scored AS (SELECT query_id, neighbor_id, round("
        "   list_dot_product(qv, cv) /"
        "   (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS cosine"
        "  FROM q, c WHERE query_id != neighbor_id),"
        " ranked AS (SELECT *, CAST(row_number() OVER ("
        "   PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank FROM scored)"
        " SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5"
        " ORDER BY query_id, rank"
    ),
    "probe_calibration": (
        # full replay: probe logits from the shared literal weight
        # family, margin, fixed 0.05-wide bins, per-bin agreement
        "WITH vecs AS (SELECT vec_id, label,"
        "  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),"
        " lg AS (SELECT vec_id, label, "
        + ", ".join(
            f"{s} AS l{c}" for c, s in enumerate(_probe_logit_sqls())
        )
        + "  FROM vecs),"
        " arr AS (SELECT vec_id, label, [l0, l1, l2] AS ls FROM lg),"
        " sc AS (SELECT vec_id, label,"
        "  CAST(list_position(ls, list_max(ls)) - 1 AS INT)"
        "    AS pred_class,"
        "  round(list_max(ls) - list_sort(ls)[2] + 1e-9, 6) AS margin"
        "  FROM arr),"
        " b AS (SELECT"
        "  least(CAST(floor(margin / CAST(0.05 AS DOUBLE)) AS INT), 7)"
        "    AS bin_id,"
        "  margin,"
        "  CASE WHEN pred_class = label THEN 1 ELSE 0 END AS hit"
        "  FROM sc)"
        " SELECT bin_id,"
        " round(bin_id * CAST(0.05 AS DOUBLE) + 1e-9, 2) AS bin_lo,"
        " count(*) AS n,"
        " CAST(sum(hit) AS BIGINT) AS n_correct,"
        " round(CAST(sum(hit) AS DOUBLE) / count(*) + 1e-9, 6)"
        "  AS accuracy,"
        " round(round(sum(margin), 6) / count(*) + 1e-9, 6)"
        "  AS mean_margin"
        " FROM b GROUP BY bin_id ORDER BY bin_id"
    ),
    "linear_probe": (
        "WITH vecs AS (SELECT vec_id,"
        "  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),"
        " lg AS (SELECT vec_id, "
        + ", ".join(
            f"{s} AS l{c}" for c, s in enumerate(_probe_logit_sqls())
        )
        + "  FROM vecs),"
        " arr AS (SELECT vec_id, l0, l1, l2, [l0, l1, l2] AS ls FROM lg)"
        " SELECT vec_id,"
        " round(l0 + 1e-9, 6) AS logit_0,"
        " round(l1 + 1e-9, 6) AS logit_1,"
        " round(l2 + 1e-9, 6) AS logit_2,"
        " CAST(list_position(ls, list_max(ls)) - 1 AS INT) AS pred_class,"
        " round(list_max(ls) - list_sort(ls)[2] + 1e-9, 6) AS margin"
        " FROM arr ORDER BY vec_id"
    ),
}
