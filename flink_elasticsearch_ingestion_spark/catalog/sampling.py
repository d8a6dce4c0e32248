"""Catalog family: mixing, sampling, splits, budgets.

Each query (QUERIES) sits next to its DuckDB oracle (ORACLES) so
the pair is reviewed and edited together — drift between the
Spark plan and the SQL twin stays visible in one diff."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_elasticsearch_ingestion_spark.operators import (
    text as X,
)
from flink_elasticsearch_ingestion_spark.catalog._shared import (
    _t,
    _kn_scores_sql,
    _minhash_pairs_cte,
    _bootstrap_coeff_values,
)


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test corpus split — membership is a pure
    function of doc_id + salt, so re-runs and backfills agree without
    an assignment table. The md5-based uniform is engine-portable, so
    the DuckDB oracle re-derives the identical per-doc membership (the
    split boundaries are embedded with Python float accumulation
    semantics to match the engine's literals exactly)."""
    from flink_elasticsearch_ingestion_spark.operators.sampling import hash_split

    docs = _t(spark, sf_dir, "documents")
    out = hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    return (
        out.groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .orderBy("split")
    )

def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B significance test over event conversions:
    users deterministically assigned to arms via the portable hash
    split, per-user purchase conversion, per-arm rates, pooled
    two-proportion z-score and the |z| > 1.96 significance flag — the
    experiment-analysis query every product pipeline ends in.  One
    user_id shuffle; everything after is a 2-row aggregate.  Under the
    null (assignment independent of behavior, true here by
    construction) the flag should be false."""
    from flink_elasticsearch_ingestion_spark.operators.sampling import hash_split

    events = _t(spark, sf_dir, "events")
    # outcome: purchase-count residue — at any sf EVERY user has
    # purchase events (max(has-purchase) would make p_pool = 1 and the
    # pooled SE zero), so the binary outcome derives from the count's
    # mod-3 class (~1/3 rate, deterministic, engine-replayable, and
    # independent of the arm assignment by construction)
    per_user = events.groupBy("user_id").agg(
        (
            F.sum((F.col("event_type") == "purchase").cast("int")) % 3 == 0
        )
        .cast("int")
        .alias("converted")
    )
    arms = hash_split(per_user, "user_id", {"A": 0.5, "B": 0.5}, salt="ab-v1")
    per_arm = arms.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").alias("n_converted"),
    )
    a = per_arm.filter(F.col("split") == "A").select(
        F.col("n_users").alias("n_a"), F.col("n_converted").alias("c_a")
    )
    b = per_arm.filter(F.col("split") == "B").select(
        F.col("n_users").alias("n_b"), F.col("n_converted").alias("c_b")
    )
    j = a.crossJoin(b)  # two 1-row frames
    p_pool = (F.col("c_a") + F.col("c_b")) / (F.col("n_a") + F.col("n_b"))
    se = F.sqrt(
        p_pool * (1 - p_pool) * (1 / F.col("n_a") + 1 / F.col("n_b"))
    )
    diff = F.col("c_a") / F.col("n_a") - F.col("c_b") / F.col("n_b")
    # degenerate pools (all or none converted) have zero variance: the
    # rates are identical by construction there, so z := 0
    z = F.when(se > 0, diff / se).otherwise(F.lit(0.0))
    return j.select(
        "n_a",
        "c_a",
        F.round(F.col("c_a") / F.col("n_a") + 1e-9, 6).alias("rate_a"),
        "n_b",
        "c_b",
        F.round(F.col("c_b") / F.col("n_b") + 1e-9, 6).alias("rate_b"),
        F.round(z + 1e-9, 4).alias("z_score"),
        (F.abs(F.round(z + 1e-9, 4)) > 1.96).alias("significant"),
    )

def q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mT5-style temperature (alpha=0.5) language resampling:
    per-language budgets proportional to sqrt(N_l) — up-samples
    low-resource languages — with deterministic md5-ordered picks.
    sqrt is IEEE-exactly-rounded, so the oracle re-derives every
    budget and pick bit-for-bit."""
    from flink_elasticsearch_ingestion_spark.operators.sampling import (
        temperature_language_sample,
    )

    return temperature_language_sample(_t(spark, sf_dir, "documents"))

def q_neyman_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-aware stratified allocation (Neyman's N_h x S_h rule)
    over order priorities by total-price spread; exact-grid weights
    keep every integer budget engine-identical."""
    from flink_elasticsearch_ingestion_spark.operators.sampling import (
        neyman_allocation_sample,
    )

    return neyman_allocation_sample(
        _t(spark, sf_dir, "orders"), "o_orderpriority", "o_totalprice"
    )

def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (hashed-unigram log-likelihood ratio,
    target = English vs the raw pool, 256 buckets, add-one smoothing)
    — the importance-resampling data-selection signal.  One corpus
    shuffle on (doc, bucket); both model tables broadcast."""
    from flink_elasticsearch_ingestion_spark.operators.sampling import (
        dsir_importance_weights,
    )

    return dsir_importance_weights(_t(spark, sf_dir, "documents"))

def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson-bootstrap 95% CI for the mean order value
    (50 hash-derived resamples, one partial+final agg on the resample
    id) — a bootstrap an independent engine re-derives bit-for-bit."""
    from flink_elasticsearch_ingestion_spark.operators.sampling import (
        bootstrap_ci,
    )

    return bootstrap_ci(
        _t(spark, sf_dir, "orders"), "o_totalprice", "o_orderkey"
    )

def q_kfold_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold CV assignment (portable hash of the key,
    per-fold balance audit) — reproducible across runs, engines, and
    cluster layouts."""
    from flink_elasticsearch_ingestion_spark.operators.sampling import (
        kfold_split,
    )

    return kfold_split(_t(spark, sf_dir, "documents"), "doc_id")

def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic corpus mixing: keep 50% of 'en' and
    20% of every other language, membership a pure function of doc_id."""
    from flink_elasticsearch_ingestion_spark.operators.sampling import (
        deterministic_stratified_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    kept = deterministic_stratified_sample(
        docs, "lang", {"en": 0.5}, default_rate=0.2
    )
    return (
        kept.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .orderBy("lang")
    )

def q_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_elasticsearch_ingestion_spark.operators.sampling import shuffle_order

    return shuffle_order(_t(spark, sf_dir, "documents"))

def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (A-ES keys
    over the portable md5 uniform, weight = document length): the
    corpus-mixing primitive for oversampling preferred documents.
    Oracle re-derives the identical ln(u)/w ranking in DuckDB."""
    from flink_elasticsearch_ingestion_spark.operators.sampling import (
        weighted_sample_k,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return weighted_sample_k(docs, "n_chars", 50).orderBy("doc_id")

def q_stratified_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_elasticsearch_ingestion_spark.operators.sampling import (
        stratified_exact_k,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_exact_k(docs, "lang", 40).orderBy("lang", "doc_id")

def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy best-tokens-first corpus selection under a 50k-token
    budget (two-phase prefix sum — no single-partition window); the
    budget is set inside the sf0.01 corpus's total so the cutoff
    actually excludes documents."""
    from flink_elasticsearch_ingestion_spark.operators.sampling import (
        select_within_token_budget,
    )

    return select_within_token_budget(_t(spark, sf_dir, "documents"), 10_000)

def q_token_budget_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source greedy token budgets (corpus mixing: "N best tokens
    per source") — the grouped two-phase prefix sum; the per-group
    budget sits inside each source's total so the cutoff bites."""
    from flink_elasticsearch_ingestion_spark.operators.sampling import (
        select_within_token_budget_by_group,
    )

    return select_within_token_budget_by_group(
        _t(spark, sf_dir, "documents"), 1_500, group_col="source"
    )

def q_equi_depth_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact NTILE(8) equi-depth histogram of order values, two-phase."""
    from flink_elasticsearch_ingestion_spark.operators.sampling import (
        equi_depth_buckets,
    )

    return equi_depth_buckets(
        _t(spark, sf_dir, "orders"), "o_totalprice", "o_orderkey", k=8
    )

def q_difficulty_stratified_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difficulty-stratified eval panel: KN cross-entropy quartiles x
    language, deterministic exact-k per cell — the balanced eval set.
    Composition of three independently oracle-proven stages (KN score,
    two-phase quartiles, salted per-cell cut); the oracle replays the
    full chain with plain ntile (bit-identical by construction)."""
    return X.difficulty_stratified_eval(_t(spark, sf_dir, "documents"))

def q_cluster_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup (SemDeDup-family): sampling weight 1/|near-dup
    cluster| so each cluster contributes ~one document's expected mass
    — re-weighting instead of deletion. Output is the per-cluster-size
    selection audit; the oracle replays components, weights, the A-ES
    keys, and the exact-k cut."""
    from flink_elasticsearch_ingestion_spark.operators.sampling import (
        cluster_weighted_sample,
    )

    return cluster_weighted_sample(
        _t(spark, sf_dir, "documents"),
        k=150,
        jaccard_threshold=0.4,
        band_cap=None,
    )

def q_unimax_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNIMAX water-filling language balance (Chung et al. 2023):
    budget splits equally across languages except where a language's
    whole corpus is smaller (it saturates, leftover flows up) — the
    bounded-epochs replacement for temperature sampling. Oracle replays
    the level solve, the allocation, and the salted per-language
    selection."""
    from flink_elasticsearch_ingestion_spark.operators.sampling import (
        unimax_language_sample,
    )

    return unimax_language_sample(
        _t(spark, sf_dir, "documents"), budget_tokens=20_000
    )

def q_leakage_safe_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware k-fold split: near-dup clusters assign as UNITS
    (fold keyed on the cluster representative), so cross-fold near-dup
    leakage is zero by construction — the dedup-aware split a training
    pipeline needs before cross-validation. The oracle re-derives the
    clusters (recursive CTE), the fold hash, the per-fold sizes AND the
    zero leaky-pair proof."""
    from flink_elasticsearch_ingestion_spark.operators.sampling import (
        leakage_safe_folds,
    )

    return leakage_safe_folds(
        _t(spark, sf_dir, "documents"),
        k=5,
        jaccard_threshold=0.4,
        band_cap=None,
    )


def q_sqrt_frequency_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sublinear per-source frequency capping (keep ceil(sqrt(n)) docs
    per source, best quality first) on the two-phase salted-rank path —
    no whole-source window partition ever materializes. Oracle is the
    single-window form, so the hash match proves the two phases are
    exactly the naive rank."""
    from flink_elasticsearch_ingestion_spark.operators.sampling import (
        sqrt_frequency_cap,
    )

    return sqrt_frequency_cap(_t(spark, sf_dir, "documents"))



def q_mixing_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining mix planner: sqrt mixing weights over per-source
    token inventories -> drawn tokens + implied epochs per source (the
    repetition accounting read before any training run). Bounded
    post-aggregate frame; window sums pass the unpartitioned-window
    audit structurally."""
    from flink_elasticsearch_ingestion_spark.operators.sampling import (
        mixing_epochs_plan,
    )

    return mixing_epochs_plan(
        _t(spark, sf_dir, "documents"), token_budget=1_000_000.0
    )



#: driver-contract queries owned by this family (names are the
#: catalog keys the driver and the oracle gate use verbatim)
def q_purged_time_split(spark, sf_dir):
    """Purged temporal train/test split with a 2-day embargo band
    (cutoff 2024-01-22): train strictly before cutoff-embargo, test
    at/after cutoff, the band between PURGED — the time-series
    eval-hygiene twin of leakage_safe_folds (which guards content
    leakage). One scan, one 3-key agg, pushdown-friendly predicate."""
    from flink_elasticsearch_ingestion_spark.operators.sampling import (
        purged_time_split,
    )

    return purged_time_split(_t(spark, sf_dir, "events"))


QUERIES = {
    "purged_time_split": q_purged_time_split,
    "mixing_epochs": q_mixing_epochs,
    "sqrt_frequency_cap": q_sqrt_frequency_cap,
    "hash_split": q_hash_split,
    "token_budget_by_source": q_token_budget_by_source,
    "equi_depth_buckets": q_equi_depth_buckets,
    "ab_test": q_ab_test,
    "temperature_sample": q_temperature_sample,
    "neyman_sample": q_neyman_sample,
    "dsir_weights": q_dsir_weights,
    "kfold_split": q_kfold_split,
    "bootstrap_ci": q_bootstrap_ci,
    "leakage_safe_folds": q_leakage_safe_folds,
    "unimax_sample": q_unimax_sample,
    "cluster_weighted_sample": q_cluster_weighted_sample,
    "difficulty_stratified_eval": q_difficulty_stratified_eval,
    "deterministic_sample": q_deterministic_sample,
    "shuffle_order": q_shuffle_order,
    "stratified_exact_k": q_stratified_exact_k,
    "weighted_sample": q_weighted_sample,
    "token_budget": q_token_budget,
}

#: DuckDB oracle per query — keys MUST be a subset of QUERIES
ORACLES = {
    "purged_time_split": (
        "WITH e AS (SELECT CASE"
        "  WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-20 00:00:00'"
        "   THEN 'train'"
        "  WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-22 00:00:00'"
        "   THEN 'purged'"
        "  ELSE 'test' END AS split, CAST(ts AS TIMESTAMP) AS ts, user_id"
        "  FROM events)"
        " SELECT split, CAST(count(*) AS BIGINT) AS n_events,"
        "  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,"
        "  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS min_ts,"
        "  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS max_ts"
        " FROM e GROUP BY split ORDER BY split"
    ),
    "mixing_epochs": (
        "WITH per AS (SELECT source,"
        "  CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)"
        "   AS avail_tokens"
        "  FROM documents GROUP BY source),"
        " w AS (SELECT source, avail_tokens,"
        "  sqrt(CAST(avail_tokens AS DOUBLE)) AS wt,"
        "  sum(sqrt(CAST(avail_tokens AS DOUBLE))) OVER () AS tot FROM per)"
        " SELECT source, avail_tokens,"
        "  round(wt / tot + 1e-9, 6) AS mix_weight,"
        "  round(wt / tot * 1000000.0 + 1e-9, 2) AS drawn_tokens,"
        "  round(round(wt / tot * 1000000.0 + 1e-9, 2) / avail_tokens + 1e-9, 4)"
        "   AS epochs"
        " FROM w ORDER BY source"
    ),
    "sqrt_frequency_cap": (
        "WITH ranked AS (SELECT source, doc_id, n_chars,"
        " CAST(row_number() OVER (PARTITION BY source"
        "  ORDER BY CAST(n_chars AS DOUBLE) DESC, doc_id) AS INTEGER) AS rank,"
        " CAST(ceil(sqrt(count(*) OVER (PARTITION BY source))) AS INTEGER) AS cap"
        " FROM documents)"
        " SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars, rank, cap"
        " FROM ranked WHERE rank <= cap ORDER BY source, rank"
    ),
    "shuffle_order": (
        "SELECT doc_id,"
        " md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,"
        " CAST(row_number() OVER ("
        "  ORDER BY md5('epoch0:' || CAST(doc_id AS VARCHAR)), doc_id"
        " ) AS INT) AS shuffle_pos"
        " FROM documents ORDER BY shuffle_pos"
    ),
    "hash_split": (
        # boundaries accumulate the same way hash_split does
        # (0.8, then 0.8 + 0.1) so the double literals are identical
        f"WITH u AS (SELECT n_chars,"
        f" ('0x' || substr(md5('split-v1:' || doc_id::VARCHAR), 1, 13))::BIGINT"
        f" / 4503599627370496.0 AS u FROM documents),"
        f" labeled AS (SELECT n_chars, CASE WHEN u < {0.8!r} THEN 'train'"
        f" WHEN u < {0.8 + 0.1!r} THEN 'val' ELSE 'test' END AS split FROM u)"
        f" SELECT split, CAST(count(*) AS BIGINT) AS n_docs,"
        f" CAST(sum(n_chars) AS BIGINT) AS total_chars"
        f" FROM labeled GROUP BY split ORDER BY split"
    ),
    "cluster_weighted_sample": (
        "WITH RECURSIVE " + _minhash_pairs_cte(0.4)
        + ", sym AS (SELECT doc_a AS u, doc_b AS v FROM mh_pairs"
        "   UNION SELECT doc_b, doc_a FROM mh_pairs),"
        " reach AS (SELECT u AS node, u AS label FROM sym"
        "   UNION SELECT s.u AS node, r.label FROM sym s"
        "    JOIN reach r ON r.node = s.v),"
        " comp AS (SELECT node, min(label) AS component FROM reach"
        "   GROUP BY node),"
        " sizes AS (SELECT component, count(*) AS csize FROM comp"
        "   GROUP BY component),"
        " wt AS (SELECT d.doc_id,"
        "   CAST(coalesce(s.csize, 1) AS BIGINT) AS csize,"
        "   1.0 / coalesce(s.csize, 1) AS w"
        "  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id"
        "  LEFT JOIN sizes s ON s.component = c.component),"
        " keyed AS (SELECT doc_id, csize,"
        "   CASE WHEN w > 0 THEN"
        "    ln(('0x' || substr(md5('softdedup-v1:' || doc_id::VARCHAR), 1, 13))::BIGINT"
        "       / 4503599627370496.0) / w"
        "   ELSE -1e308 END AS k FROM wt),"
        " picked AS (SELECT doc_id FROM keyed"
        "   ORDER BY k DESC, doc_id LIMIT 150)"
        " SELECT w.csize AS cluster_size,"
        "  CAST(count(*) AS BIGINT) AS n_candidates,"
        "  CAST(count(p.doc_id) AS BIGINT) AS n_selected,"
        "  round(count(p.doc_id) * 1.0 / count(*) + 1e-9, 6)"
        "   AS selection_rate"
        " FROM wt w LEFT JOIN picked p ON p.doc_id = w.doc_id"
        " GROUP BY w.csize ORDER BY cluster_size"
    ),
    "unimax_sample": (
        "WITH tok AS (SELECT doc_id, lang,"
        "  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tok"
        "  FROM documents),"
        " caps AS (SELECT lang, CAST(sum(n_tok) AS BIGINT) AS cap"
        "  FROM tok GROUP BY lang),"
        " ordered AS (SELECT lang, cap,"
        "  row_number() OVER (ORDER BY cap, lang) AS i,"
        "  count(*) OVER () AS n,"
        "  coalesce(sum(cap) OVER (ORDER BY cap, lang"
        "   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx"
        "  FROM caps),"
        " lv AS (SELECT arg_min((20000.0 - pfx) / (n - i + 1), i) AS level"
        "  FROM ordered WHERE (20000.0 - pfx) / (n - i + 1) < cap),"
        " alloc AS (SELECT lang, cap,"
        "  CASE WHEN lv.level IS NULL THEN CAST(cap AS DOUBLE)"
        "   ELSE least(CAST(cap AS DOUBLE), lv.level) END AS alloc"
        "  FROM ordered CROSS JOIN lv),"
        " sel AS (SELECT t.doc_id, t.lang, t.n_tok,"
        "  sum(t.n_tok) OVER (PARTITION BY t.lang"
        "   ORDER BY md5('unimax-v1:' || t.doc_id::VARCHAR), t.doc_id"
        "   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum"
        "  FROM tok t),"
        " kept AS (SELECT s.lang, s.n_tok FROM sel s"
        "  JOIN alloc a ON a.lang = s.lang WHERE s.cum <= a.alloc)"
        " SELECT a.lang, a.cap AS cap_tokens,"
        "  round(a.alloc + 1e-9, 4) AS alloc_tokens,"
        "  CAST(coalesce(count(k.n_tok), 0) AS BIGINT) AS n_docs,"
        "  CAST(coalesce(sum(k.n_tok), 0) AS BIGINT) AS sel_tokens"
        " FROM alloc a LEFT JOIN kept k ON k.lang = a.lang"
        " GROUP BY a.lang, a.cap, a.alloc ORDER BY a.lang"
    ),
    "difficulty_stratified_eval": (
        "WITH s AS (SELECT * FROM (" + _kn_scores_sql() + ")),"
        " r AS (SELECT doc_id, kn_cross_entropy,"
        "  ntile(4) OVER (ORDER BY kn_cross_entropy, doc_id) AS quartile"
        "  FROM s),"
        " c AS (SELECT r.*, d.lang FROM r JOIN documents d USING (doc_id)),"
        " sel AS (SELECT c.*, row_number() OVER ("
        "  PARTITION BY lang, quartile"
        "  ORDER BY md5('evalsel-v1:' || doc_id::VARCHAR), doc_id) AS rn"
        "  FROM c)"
        " SELECT lang, CAST(quartile AS INT) AS quartile,"
        "  CAST(count(*) AS BIGINT) AS n_pool,"
        "  CAST(count(*) FILTER (WHERE rn <= 5) AS BIGINT) AS n_selected,"
        "  round(coalesce(sum(kn_cross_entropy) FILTER (WHERE rn <= 5)"
        "   / nullif(count(*) FILTER (WHERE rn <= 5), 0), 0.0) + 1e-9, 4)"
        "   AS avg_ce_selected"
        " FROM sel GROUP BY lang, quartile ORDER BY lang, quartile"
    ),
    "leakage_safe_folds": (
        "WITH RECURSIVE " + _minhash_pairs_cte(0.4)
        + ", sym AS (SELECT doc_a AS u, doc_b AS v FROM mh_pairs"
        "   UNION SELECT doc_b, doc_a FROM mh_pairs),"
        " reach AS (SELECT u AS node, u AS label FROM sym"
        "   UNION SELECT s.u AS node, r.label FROM sym s JOIN reach r ON r.node = s.v),"
        " comp AS (SELECT node, min(label) AS component FROM reach GROUP BY node),"
        " asg AS (SELECT d.doc_id,"
        "   coalesce(c.component, d.doc_id) AS grp, d.n_chars"
        "   FROM documents d LEFT JOIN comp c ON c.node = d.doc_id),"
        " fld AS (SELECT doc_id, grp, n_chars,"
        "   ('0x' || substr(md5('groupfold-v1:' || grp::VARCHAR), 1, 8))::BIGINT % 5"
        "    AS fold FROM asg),"
        " leaks AS (SELECT f AS fold, CAST(count(*) AS BIGINT) AS n FROM ("
        "   SELECT fa.fold AS f FROM mh_pairs p"
        "    JOIN fld fa ON fa.doc_id = p.doc_a"
        "    JOIN fld fb ON fb.doc_id = p.doc_b WHERE fa.fold <> fb.fold"
        "   UNION ALL SELECT fb.fold FROM mh_pairs p"
        "    JOIN fld fa ON fa.doc_id = p.doc_a"
        "    JOIN fld fb ON fb.doc_id = p.doc_b WHERE fa.fold <> fb.fold)"
        "  GROUP BY f)"
        " SELECT f.fold, CAST(count(*) AS BIGINT) AS n_docs,"
        "  CAST(count(DISTINCT grp) AS BIGINT) AS n_groups,"
        "  CAST(sum(n_chars) AS BIGINT) AS n_chars,"
        "  coalesce(any_value(l.n), 0) AS n_leaky_pairs"
        " FROM fld f LEFT JOIN leaks l ON l.fold = f.fold"
        " GROUP BY f.fold ORDER BY f.fold"
    ),
    "weighted_sample": (
        "SELECT doc_id, lang, n_chars FROM ("
        " SELECT doc_id, lang, n_chars,"
        "  CASE WHEN n_chars > 0 THEN"
        "   ln(('0x' || substr(md5('wsample-v1:' || doc_id::VARCHAR), 1, 13))::BIGINT"
        "      / 4503599627370496.0) / n_chars"
        "  ELSE -1e308 END AS k"
        " FROM documents ORDER BY k DESC, doc_id LIMIT 50"
        ") ORDER BY doc_id"
    ),
    "stratified_exact_k": (
        "WITH r AS (SELECT doc_id, lang,"
        "  row_number() OVER (PARTITION BY lang"
        "   ORDER BY md5('exact-k-v1:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk"
        "  FROM documents)"
        " SELECT doc_id, lang FROM r WHERE rk <= 40 ORDER BY lang, doc_id"
    ),
    "token_budget": (
        # the naive global window IS the spec; the engine reproduces
        # it with the two-phase prefix sum
        "WITH base AS (SELECT doc_id,"
        "  len(string_split_regex(trim(text), '\\s+')) AS n_tokens,"
        "  len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS n_punct,"
        "  len(list_filter(string_split_regex(trim(text), '\\s+'),"
        "      t -> lower(t) IN ('the','a','of','and','to'))) AS n_stop,"
        "  length(text) AS n_chars FROM documents),"
        " scored AS (SELECT doc_id, n_tokens,"
        "  round((CASE WHEN n_chars BETWEEN 50 AND 10000 THEN 0.4 ELSE 0.0 END)"
        "   + (CASE WHEN n_punct / greatest(n_chars, 1) < 0.1 THEN 0.3 ELSE 0.0 END)"
        "   + (CASE WHEN n_stop / greatest(n_tokens, 1) > 0.01 THEN 0.3 ELSE 0.0 END), 2)"
        "   AS quality_score FROM base),"
        " c AS (SELECT doc_id, quality_score, n_tokens,"
        "  sum(n_tokens) OVER (ORDER BY quality_score DESC, doc_id"
        "   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens"
        "  FROM scored)"
        " SELECT doc_id, quality_score, CAST(n_tokens AS BIGINT) AS n_tokens,"
        " CAST(cum_tokens AS BIGINT) AS cum_tokens"
        " FROM c WHERE cum_tokens <= 10000 ORDER BY cum_tokens"
    ),
    "token_budget_by_source": (
        # naive per-group window IS the spec; the engine reproduces
        # it with the grouped two-phase prefix sum
        "WITH base AS (SELECT doc_id, source,"
        "  len(string_split_regex(trim(text), '\\s+')) AS n_tokens,"
        "  len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS n_punct,"
        "  len(list_filter(string_split_regex(trim(text), '\\s+'),"
        "      t -> lower(t) IN ('the','a','of','and','to'))) AS n_stop,"
        "  length(text) AS n_chars FROM documents),"
        " scored AS (SELECT doc_id, source, n_tokens,"
        "  round((CASE WHEN n_chars BETWEEN 50 AND 10000 THEN 0.4 ELSE 0.0 END)"
        "   + (CASE WHEN n_punct / greatest(n_chars, 1) < 0.1 THEN 0.3 ELSE 0.0 END)"
        "   + (CASE WHEN n_stop / greatest(n_tokens, 1) > 0.01 THEN 0.3 ELSE 0.0 END), 2)"
        "   AS quality_score FROM base),"
        " c AS (SELECT source, doc_id, quality_score, n_tokens,"
        "  sum(n_tokens) OVER (PARTITION BY source"
        "   ORDER BY quality_score DESC, doc_id"
        "   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens"
        "  FROM scored)"
        " SELECT source, doc_id, quality_score,"
        " CAST(n_tokens AS BIGINT) AS n_tokens,"
        " CAST(cum_tokens AS BIGINT) AS cum_tokens"
        " FROM c WHERE cum_tokens <= 1500 ORDER BY source, cum_tokens"
    ),
    "temperature_sample": (
        "WITH c AS (SELECT lang, count(*) AS n_docs FROM documents"
        "  GROUP BY lang),"
        " w AS (SELECT lang, n_docs, round(sqrt(n_docs), 6) AS s"
        "  FROM c),"
        " d AS (SELECT CAST(sum(s) AS DOUBLE) AS s_total FROM w),"
        " b AS (SELECT lang, n_docs,"
        "  CAST(floor(s / s_total * 200 + 0.5) AS INT) AS budget"
        "  FROM w CROSS JOIN d),"
        " r AS (SELECT doc_id, lang, row_number() OVER ("
        "  PARTITION BY lang ORDER BY"
        "  md5('temp-v1:' || CAST(doc_id AS VARCHAR)), doc_id)"
        "  AS pick_rank FROM documents)"
        " SELECT r.doc_id, r.lang, r.pick_rank, b.n_docs, b.budget"
        " FROM r JOIN b ON b.lang = r.lang"
        " WHERE r.pick_rank <= b.budget"
        " ORDER BY r.lang, r.pick_rank"
    ),
    "ab_test": (
        "WITH pu AS (SELECT user_id,"
        "  CASE WHEN sum(CASE WHEN event_type = 'purchase'"
        "   THEN 1 ELSE 0 END) % 3 = 0 THEN 1 ELSE 0 END"
        "   AS converted FROM events GROUP BY user_id),"
        " arms AS (SELECT converted, CASE WHEN"
        "  ('0x' || substr(md5('ab-v1:' || user_id), 1, 13))::BIGINT"
        "   / 4503599627370496.0 < 0.5 THEN 'A' ELSE 'B' END AS split"
        "  FROM pu),"
        " pa AS (SELECT count(*) AS n_a,"
        "  CAST(sum(converted) AS BIGINT) AS c_a FROM arms"
        "  WHERE split = 'A'),"
        " pb AS (SELECT count(*) AS n_b,"
        "  CAST(sum(converted) AS BIGINT) AS c_b FROM arms"
        "  WHERE split = 'B'),"
        " j AS (SELECT * FROM pa CROSS JOIN pb),"
        " c AS (SELECT *,"
        "  CAST(c_a + c_b AS DOUBLE) / (n_a + n_b) AS p_pool FROM j),"
        " zc AS (SELECT *, CASE WHEN p_pool > 0 AND p_pool < 1 THEN"
        "  (CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)"
        "   / sqrt(p_pool * (1 - p_pool)"
        "     * (1.0 / n_a + 1.0 / n_b)) ELSE 0.0 END AS z FROM c)"
        " SELECT n_a, c_a,"
        " round(CAST(c_a AS DOUBLE) / n_a + 1e-9, 6) AS rate_a,"
        " n_b, c_b,"
        " round(CAST(c_b AS DOUBLE) / n_b + 1e-9, 6) AS rate_b,"
        " round(z + 1e-9, 4) AS z_score,"
        " abs(round(z + 1e-9, 4)) > 1.96 AS significant"
        " FROM zc"
    ),
    "bootstrap_ci": (
        "WITH co AS (SELECT * FROM (VALUES "
        + _bootstrap_coeff_values()
        + ") AS t(b, a, cc)),"
        " h AS (SELECT o_totalprice AS x,"
        "  ('0x' || substr(md5('boot-v1:' ||"
        "   CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT"
        "   % 2147483647 AS h FROM orders),"
        " e AS (SELECT h.x, co.b,"
        "  CAST((co.a * h.h + co.cc) % 2147483647 AS DOUBLE)"
        "   / 2147483647.0 AS u FROM h CROSS JOIN co),"
        " c AS (SELECT x, b, CASE"
        "  WHEN u < 0.36787944117144233 THEN 0"
        "  WHEN u < 0.7357588823428847 THEN 1"
        "  WHEN u < 0.9196986029286058 THEN 2"
        "  WHEN u < 0.9810118431238463 THEN 3"
        "  WHEN u < 0.9963401531726563 THEN 4"
        "  ELSE 5 END AS c FROM e),"
        " m AS (SELECT round(sum(c * x) / sum(c) + 1e-9, 4) AS m"
        "  FROM c GROUP BY b HAVING sum(c) > 0),"
        " boot AS (SELECT CAST(count(*) AS BIGINT) AS b_resamples,"
        "  round(sum(m) / count(*) + 1e-9, 4) AS boot_mean,"
        "  quantile_disc(m, 0.025) AS ci_lo,"
        "  quantile_disc(m, 0.975) AS ci_hi FROM m),"
        " p AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,"
        "  round(sum(o_totalprice) / count(*) + 1e-9, 4) AS est_mean"
        "  FROM orders)"
        " SELECT n_rows, est_mean, b_resamples, boot_mean,"
        " ci_lo, ci_hi FROM p CROSS JOIN boot"
    ),
    "kfold_split": (
        "WITH f AS (SELECT (('0x' || substr(md5('kfold-v1:' ||"
        "  CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 2147483647)"
        "  % 5 AS fold FROM documents),"
        " t AS (SELECT CAST(count(*) AS DOUBLE) AS total"
        "  FROM documents)"
        " SELECT CAST(fold AS INT) AS fold,"
        " CAST(count(*) AS BIGINT) AS n_rows,"
        " round(count(*) / total + 1e-9, 6) AS share"
        " FROM f CROSS JOIN t GROUP BY fold, total ORDER BY fold"
    ),
    "dsir_weights": (
        "WITH tk AS (SELECT doc_id, lang,"
        "  (('0x' || substr(md5(t), 1, 8))::BIGINT % 2147483647)"
        "   % 256 AS b FROM (SELECT doc_id, lang,"
        "  unnest(string_split_regex(trim(text), '\\s+')) AS t"
        "  FROM documents) WHERE t <> ''),"
        " db AS (SELECT doc_id, lang, b, count(*) AS cnt"
        "  FROM tk GROUP BY 1, 2, 3),"
        " m AS (SELECT b,"
        "  CAST(sum(CASE WHEN lang = 'en' THEN cnt ELSE 0 END)"
        "   AS BIGINT) AS ct,"
        "  CAST(sum(CASE WHEN lang <> 'en' THEN cnt ELSE 0 END)"
        "   AS BIGINT) AS cr FROM db GROUP BY b),"
        " t AS (SELECT CAST(sum(ct) AS BIGINT) AS tt,"
        "  CAST(sum(cr) AS BIGINT) AS tr FROM m),"
        " lr AS (SELECT b,"
        "  ln(CAST(ct + 1 AS DOUBLE) / CAST(tt + 256 AS DOUBLE))"
        "  - ln(CAST(cr + 1 AS DOUBLE) / CAST(tr + 256 AS DOUBLE))"
        "   AS lr FROM m CROSS JOIN t)"
        " SELECT db.doc_id, db.lang,"
        " CAST(sum(cnt) AS BIGINT) AS n_tokens,"
        " round(sum(cnt * lr) + 1e-9, 6) AS llr"
        " FROM db JOIN lr ON lr.b = db.b"
        " GROUP BY db.doc_id, db.lang ORDER BY db.doc_id"
    ),
    "neyman_sample": (
        "WITH st AS (SELECT o_orderpriority, count(*) AS n_rows,"
        "  max(o_totalprice) - min(o_totalprice) AS spread"
        "  FROM orders GROUP BY o_orderpriority),"
        " w AS (SELECT *, n_rows * CAST(spread AS DOUBLE) AS wt FROM st),"
        " d AS (SELECT CAST(sum(wt) AS DOUBLE) AS w_total FROM w),"
        " a AS (SELECT o_orderpriority, n_rows, spread,"
        "  CAST(floor(wt / w_total * 200 + 0.5) AS INT) AS budget"
        "  FROM w CROSS JOIN d),"
        " r AS (SELECT o_orderpriority, row_number() OVER ("
        "  PARTITION BY o_orderpriority ORDER BY"
        "  md5('neyman-v1:' || CAST(o_orderkey AS VARCHAR)),"
        "  o_orderkey) AS rk FROM orders),"
        " p AS (SELECT r.o_orderpriority, count(*) AS n_picked"
        "  FROM r JOIN a ON a.o_orderpriority = r.o_orderpriority"
        "  WHERE r.rk <= a.budget GROUP BY r.o_orderpriority)"
        " SELECT a.o_orderpriority, a.n_rows,"
        " round(CAST(a.spread AS DOUBLE) + 1e-9, 2) AS spread,"
        " a.budget, CAST(COALESCE(p.n_picked, 0) AS BIGINT) AS n_picked"
        " FROM a LEFT JOIN p ON p.o_orderpriority = a.o_orderpriority"
        " ORDER BY a.o_orderpriority"
    ),
    "equi_depth_buckets": (
        "WITH r AS (SELECT o_totalprice AS v,"
        "  ntile(8) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket"
        "  FROM orders)"
        " SELECT CAST(bucket AS BIGINT) AS bucket,"
        " count(*) AS n_rows,"
        " round(min(v), 2) AS min_val, round(max(v), 2) AS max_val,"
        " round(round(CAST(sum(v) AS DOUBLE), 2) / count(*) + 1e-9, 4)"
        "  AS avg_val"
        " FROM r GROUP BY bucket ORDER BY bucket"
    ),
    "deterministic_sample": (
        "SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars"
        " FROM documents"
        " WHERE doc_id % 1000 < CASE WHEN lang = 'en' THEN 500 ELSE 200 END"
        " GROUP BY lang ORDER BY lang"
    ),
}
