"""Corpus sampling operators — every large-scale training-data pipeline
ends in one (decontamination holdouts, per-language quotas, eval splits).

Three primitives, all map-side (no shuffle):

- ``uniform_sample``: Bernoulli row sampling, seed-deterministic.
- ``stratified_sample``: per-stratum fractions (e.g. downsample the
  dominant language) via ``sampleBy``.
- ``hash_split``: deterministic train/val/test assignment from a key
  hash — NOT random. At 100 TB this is the one to use: membership is a
  pure function of the id, so re-runs, backfills, and different
  machines agree on every document's split without storing an
  assignment table (and new documents never migrate between splits).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def uniform_sample(df: DataFrame, fraction: float, seed: int = 42) -> DataFrame:
    return df.sample(fraction=fraction, seed=seed)


def stratified_sample(
    df: DataFrame, stratum_col: str, fractions: dict[str, float], seed: int = 42
) -> DataFrame:
    """Per-stratum Bernoulli sampling (strata absent from ``fractions``
    are dropped, matching sampleBy semantics)."""
    return df.sampleBy(stratum_col, fractions=fractions, seed=seed)


def deterministic_stratified_sample(
    df: DataFrame,
    stratum_col: str,
    rates: dict[str, float],
    *,
    default_rate: float | None = None,
    key_col: str = "doc_id",
    modulus: int = 1000,
) -> DataFrame:
    """Per-stratum DETERMINISTIC sampling by key residue: a row is kept
    iff ``key % modulus < rate * modulus`` for its stratum's rate.

    Unlike ``sampleBy`` (seeded RNG over partition/row order, so the
    kept set shifts when the layout does), membership here is a pure
    function of the key — re-runs, backfills, and other engines agree
    row-for-row, which is what corpus-mixing recipes need (e.g.
    "2x en, 0.2x everything else"). Map-side only, no shuffle.
    Strata absent from ``rates`` take ``default_rate``; with no
    default they are dropped (sampleBy semantics)."""
    res = F.col(key_col) % modulus
    expr = None
    for stratum, rate in sorted(rates.items()):
        cond = (F.col(stratum_col) == stratum) & (res < int(rate * modulus))
        expr = cond if expr is None else expr | cond
    if default_rate is not None:
        listed = F.col(stratum_col).isin(*rates) if rates else F.lit(False)
        dflt = (~listed) & (res < int(default_rate * modulus))
        expr = dflt if expr is None else expr | dflt
    return df.filter(expr)


def portable_uniform(key_col: str, salt: str) -> F.Column:
    """Deterministic engine-portable uniform in [0,1): top 52 bits of
    ``md5(salt || ':' || key)`` over the exactly-representable 2^52
    divisor — both the integer and the quotient are exact doubles, so
    comparisons against split boundaries are bit-stable. ONE definition
    shared by ``hash_split`` and ``weighted_sample_k``; the DuckDB
    oracles inline its twin by contract:
    ``('0x' || substr(md5(salt || ':' || key), 1, 13))::BIGINT /
    4503599627370496.0``."""
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt + ":"), F.col(key_col).cast("string"))), 1, 13
        ),
        16,
        10,
    ).cast("bigint") / F.lit(float(1 << 52))


def hash_split(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float],
    salt: str = "split-v1",
    out_col: str = "split",
) -> DataFrame:
    """Assign each row a named split with probability proportional to
    ``weights``, as a pure function of ``md5(salt || ':' || key)``.

    The salt versions the assignment: changing it reshuffles every
    membership, keeping it fixed pins them forever — which is exactly
    the contract an eval holdout needs. The uniform is engine-portable
    (md5 top-52-bits / 2^52, exact in doubles), so any SQL engine can
    re-derive the identical membership:
    ``('0x' || substr(md5(salt || ':' || key), 1, 13))::BIGINT /
    4503599627370496.0`` in DuckDB."""
    total = float(sum(weights.values()))
    u = portable_uniform(key_col, salt)
    expr = None
    acc = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        acc += w / total
        cond = u < acc
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn(out_col, expr)


def shuffle_order(
    df: DataFrame,
    *,
    key_col: str = "doc_id",
    seed: str = "epoch0",
    buckets: int = 256,
    out_col: str = "shuffle_pos",
) -> DataFrame:
    """Deterministic global training-order shuffle: every row gets a
    stable dense position from ``md5(seed || key)`` — reshuffling is a
    new seed, and any two runs (or engines) agree bit-for-bit.

    Scale shape — two-phase global ranking, NEVER a single-partition
    window: the first hash byte buckets rows (uniform by construction,
    so no skew), ranks are computed per bucket in parallel, and each
    bucket's offset is a prefix sum over the tiny ``buckets``-row count
    table (broadcast back). Because the bucket is a PREFIX of the sort
    key, (bucket, hash) order == global hash order, so
    offset + within-bucket rank is the exact global row_number at the
    cost of one keyed shuffle + one broadcast join.
    """
    from pyspark.sql import Window

    h = F.md5(F.concat(F.lit(seed + ":"), F.col(key_col).cast("string")))
    bucket = F.conv(F.substring(h, 1, 2), 16, 10).cast("int") % buckets
    hashed = df.select(F.col(key_col), h.alias("shuffle_key"), bucket.alias("__bucket"))
    within = F.row_number().over(
        Window.partitionBy("__bucket").orderBy("shuffle_key", key_col)
    )
    ranked = hashed.withColumn("__within", within)
    # prefix-sum over the bucket histogram: |buckets| rows, a broadcastable
    # driver-side-free cumulative window on a deliberately tiny frame
    counts = hashed.groupBy("__bucket").agg(F.count(F.lit(1)).alias("__n"))
    offsets = counts.withColumn(
        "__offset",
        F.coalesce(
            F.sum("__n").over(
                Window.orderBy("__bucket").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("__bucket", "__offset")
    return (
        ranked.join(F.broadcast(offsets), "__bucket")
        .select(
            F.col(key_col),
            "shuffle_key",
            (F.col("__offset") + F.col("__within")).cast("int").alias(out_col),
        )
        .orderBy(out_col)
    )


def weighted_sample_k(
    df: DataFrame,
    weight_col: str,
    k: int,
    *,
    key_col: str = "doc_id",
    salt: str = "wsample-v1",
) -> DataFrame:
    """EXACTLY k rows sampled without replacement with probability
    proportional to ``weight_col`` — Efraimidis–Spirakis A-ES keys:
    every row draws a deterministic uniform u from the portable md5
    hash and ranks by u^(1/w); the top k by that key are a true
    weighted sample. The corpus-mixing primitive for "oversample
    high-quality documents" with re-run/backfill stability.

    Distributed shape: the key is a pure map-side expression; top-k by
    key plans as TakeOrderedAndProject (per-partition heaps, no global
    sort) because k is a LIMIT, not a window.  Engine-portable: u is
    the same md5-52-bit construction as ``hash_split``, and the rank
    key is ln(u)/w — the monotone transform of u^(1/w) (same ordering,
    one transcendental instead of two, so less cross-libm ulp
    exposure); DuckDB evaluates the identical expression, making the
    selected set oracle-checkable. Zero/negative weights sort last
    (key forced to -infinity-ish).  The key_col tiebreak pins
    determinism."""
    u = portable_uniform(key_col, salt)
    es_key = F.when(
        F.col(weight_col) > 0, F.log(u) / F.col(weight_col)
    ).otherwise(F.lit(-1e308))
    return (
        df.withColumn("__wk", es_key)
        .orderBy(F.col("__wk").desc(), F.col(key_col).asc())
        .limit(k)
        .drop("__wk")
    )


def stratified_exact_k(
    df: DataFrame,
    stratum_col: str,
    k: int,
    *,
    key_col: str = "doc_id",
    salt: str = "exact-k-v1",
) -> DataFrame:
    """EXACTLY k rows per stratum (fewer only if the stratum is
    smaller), chosen by deterministic hash order — the eval-set
    builder's primitive: "50 held-out docs per language", stable across
    re-runs, backfills, and engines.

    Unlike fraction-based sampling (row count varies run to run) this
    ranks each stratum by ``md5(salt || key)`` — uniform, seedable via
    the salt, and engine-portable — and keeps rank <= k. One keyed
    shuffle on the stratum; the per-stratum top-k evaluates as a
    windowed rank with partial sort, never a global order."""
    from pyspark.sql import Window

    h = F.md5(F.concat(F.lit(salt + ":"), F.col(key_col).cast("string")))
    w = Window.partitionBy(stratum_col).orderBy(h.asc(), F.col(key_col).asc())
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def select_within_token_budget(
    documents: DataFrame,
    budget_tokens: int,
    *,
    sub_buckets: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy corpus selection under a global token budget: take
    documents in (quality_score DESC, doc_id ASC) order until the
    running token total would exceed ``budget_tokens`` — the standard
    "best N tokens" curation step between scoring and tokenization.

    Scale shape — a global running sum with NO single-partition window
    (the naive ``sum() over (order by score desc)`` funnels the corpus
    through one task). Same two-phase prefix-sum scheme as
    ``shuffle_order``/``vocab_with_ids``: sub-bucket each score group
    by a doc-id RANGE (monotone in the tie-break order, so
    within-bucket order + bucket offsets reproduce the exact global
    order), cumsum tokens inside each (score, bucket) partition in
    parallel, and add the bucket's global token offset — a prefix sum
    over the tiny (scores x sub_buckets) histogram, broadcast back.
    """
    from flink_elasticsearch_ingestion_spark.operators.text import quality_scores

    scored = quality_scores(documents).select(
        F.col("doc_id"), "quality_score", "n_tokens"
    )
    # doc-id range width for sub-bucketing (1-row agg, broadcast)
    max_id = scored.agg(F.max("doc_id").alias("m")).first()["m"] or 0
    width = max(1, (int(max_id) + sub_buckets) // sub_buckets)
    sub = scored.withColumn("__sub", (F.col("doc_id") / width).cast("int"))
    within = F.sum("n_tokens").over(
        Window.partitionBy("quality_score", "__sub")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    hist = sub.groupBy("quality_score", "__sub").agg(
        F.sum("n_tokens").alias("__bucket_tokens")
    )
    offsets = hist.withColumn(
        "__offset",
        F.coalesce(
            F.sum("__bucket_tokens").over(
                Window.orderBy(
                    F.col("quality_score").desc(), F.col("__sub")
                ).rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("quality_score", "__sub", "__offset")
    return (
        sub.withColumn("__within", within)
        .join(F.broadcast(offsets), ["quality_score", "__sub"])
        .select(
            "doc_id",
            "quality_score",
            "n_tokens",
            (F.col("__offset") + F.col("__within")).alias("cum_tokens"),
        )
        .filter(F.col("cum_tokens") <= budget_tokens)
        .orderBy("cum_tokens")
    )


def select_within_token_budget_by_group(
    documents: DataFrame,
    budget_tokens: int,
    *,
    group_col: str = "source",
    sub_buckets: int = 16,
) -> DataFrame:
    """Greedy PER-GROUP token budgets: within each ``group_col`` value
    (corpus-mixing by source, language, domain...), take documents in
    (quality_score DESC, doc_id ASC) order until the group's running
    token total would exceed ``budget_tokens`` — the "N tokens per
    source" recipe of corpus mixing.

    Scale shape: the naive per-group running sum
    (``sum() over (partition by source order by score)``) funnels each
    ENTIRE group through one task — with a handful of sources at 100 TB
    that's a few tasks doing all the work. Same cure as the global
    version: sub-bucket by doc-id range WITHIN each (group, score)
    cell, cumsum in parallel per (group, score, bucket), and add back
    per-bucket offsets from a broadcast prefix sum over the tiny
    (groups x scores x buckets) histogram, partitioned by group.
    """
    from flink_elasticsearch_ingestion_spark.operators.text import quality_scores

    g = group_col
    scored = quality_scores(documents, keep=(g,)).select(
        "doc_id", g, "quality_score", "n_tokens"
    )
    max_id = scored.agg(F.max("doc_id").alias("m")).first()["m"] or 0
    width = max(1, (int(max_id) + sub_buckets) // sub_buckets)
    sub = scored.withColumn("__sub", (F.col("doc_id") / width).cast("int"))
    within = F.sum("n_tokens").over(
        Window.partitionBy(g, "quality_score", "__sub")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    hist = sub.groupBy(g, "quality_score", "__sub").agg(
        F.sum("n_tokens").alias("__bucket_tokens")
    )
    offsets = hist.withColumn(
        "__offset",
        F.coalesce(
            F.sum("__bucket_tokens").over(
                Window.partitionBy(g)
                .orderBy(F.col("quality_score").desc(), F.col("__sub"))
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select(g, "quality_score", "__sub", "__offset")
    return (
        sub.withColumn("__within", within)
        .join(F.broadcast(offsets), [g, "quality_score", "__sub"])
        .select(
            g,
            "doc_id",
            "quality_score",
            "n_tokens",
            (F.col("__offset") + F.col("__within")).alias("cum_tokens"),
        )
        .filter(F.col("cum_tokens") <= budget_tokens)
        .orderBy(g, "cum_tokens")
    )


def equi_depth_buckets(
    df: DataFrame,
    value_col: str,
    tiebreak_col: str,
    *,
    k: int = 8,
    coarse_edges: tuple[float, ...] = (),
) -> DataFrame:
    """Exact equi-depth (NTILE) bucketing without a single-partition
    window: every row's global rank under ``ORDER BY value, tiebreak``
    is computed two-phase, then mapped to its ntile bucket with the
    standard "first n % k buckets get the extra row" distribution —
    bit-identical to ``ntile(k) OVER (ORDER BY ...)`` at any scale.

    Phase 1 range-partitions rows by literal ``coarse_edges`` over the
    value column (the coarse bucket is a PREFIX of the sort key, so
    coarse order == global order); phase 2 ranks within each coarse
    range in parallel and adds the broadcast prefix-sum offset of the
    tiny per-range count table.  The edges only balance work — ANY
    choice is correct — so a stale histogram never affects results.
    Same discipline as ``shuffle_order``/``vocab_with_ids``: the only
    wide exchange is the keyed shuffle for the per-range window.

    Returns per-bucket stats (count, min/max/avg of the value), the
    equi-depth profile used for histogram equalization, feature
    binning, and choosing range-partition split points.
    """
    edges = list(coarse_edges) or [float(e) for e in range(50_000, 500_000, 50_000)]
    coarse = F.lit(len(edges))
    for i, e in reversed(list(enumerate(edges))):
        coarse = F.when(F.col(value_col) < F.lit(e), F.lit(i)).otherwise(coarse)
    ranked_src = df.select(
        F.col(value_col).alias("__v"),
        F.col(tiebreak_col).alias("__t"),
        coarse.alias("__coarse"),
    )
    within = F.row_number().over(
        Window.partitionBy("__coarse").orderBy("__v", "__t")
    )
    counts = ranked_src.groupBy("__coarse").agg(F.count(F.lit(1)).alias("__n"))
    offsets = counts.select(
        "__coarse",
        F.coalesce(
            F.sum("__n").over(
                Window.orderBy("__coarse").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("__offset"),
        F.sum("__n").over(
            Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("__total"),
    )
    ranked = ranked_src.withColumn("__within", within).join(
        F.broadcast(offsets), "__coarse"
    )
    rank = F.col("__offset") + F.col("__within")
    bucket = (((rank - 1) * F.lit(k)) / F.col("__total")).cast("bigint") + 1
    return (
        ranked.select(bucket.alias("bucket"), F.col("__v"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.min("__v"), 2).alias("min_val"),
            F.round(F.max("__v"), 2).alias("max_val"),
            F.round(F.round(F.sum("__v"), 2) / F.count(F.lit(1)) + 1e-9, 4).alias("avg_val"),
        )
        .orderBy("bucket")
    )


def temperature_language_sample(
    df: DataFrame,
    *,
    total: int = 200,
    stratum_col: str = "lang",
    key_col: str = "doc_id",
    salt: str = "temp-v1",
) -> DataFrame:
    """Temperature-based multilingual resampling (the mT5/XLM-R corpus
    mixing rule at temperature alpha = 0.5): per-language sampling
    budgets proportional to ``N_l^alpha`` instead of ``N_l``, which
    UP-samples low-resource languages relative to their raw share —
    the standard fix for high-resource languages drowning the mix.
    Documents within each language are then picked by the
    deterministic md5 order (``stratified_exact_k``'s contract) up to
    the language's computed budget.

    alpha is FIXED at 0.5 because IEEE-754 ``sqrt`` is exactly
    rounded, so ``N^0.5`` is bit-identical on every engine — an
    arbitrary ``pow(N, alpha)`` is not, and a last-ulp difference at a
    floor() boundary would flip a whole language's budget.  Each
    sqrt is rounded to 6dp before summing so the share denominator is
    an exact 1e-6-grid value regardless of summation order.

    Scale shape: one language-count aggregate (|langs| rows), the
    1-row weight denominator broadcast back, and the per-language
    ranked pick — one keyed shuffle on the stratum, same as
    ``stratified_exact_k``.
    """
    from pyspark.sql import Window

    counts = df.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("n_docs"))
    wts = counts.withColumn("s", F.round(F.sqrt("n_docs"), 6))
    denom = wts.agg(F.sum("s").alias("s_total"))
    budgets = (
        wts.crossJoin(F.broadcast(denom))
        .withColumn(
            "budget",
            F.floor(F.col("s") / F.col("s_total") * total + F.lit(0.5)).cast(
                "int"
            ),
        )
        .select(stratum_col, "n_docs", "budget")
    )
    h = F.md5(F.concat(F.lit(salt + ":"), F.col(key_col).cast("string")))
    w = Window.partitionBy(stratum_col).orderBy(h.asc(), F.col(key_col).asc())
    picked = (
        df.withColumn("pick_rank", F.row_number().over(w))
        .join(F.broadcast(budgets), stratum_col)
        .filter(F.col("pick_rank") <= F.col("budget"))
    )
    return picked.select(
        key_col, stratum_col, "pick_rank", "n_docs", "budget"
    ).orderBy(stratum_col, "pick_rank")


def neyman_allocation_sample(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    *,
    total: int = 200,
    key_col: str = "o_orderkey",
    salt: str = "neyman-v1",
) -> DataFrame:
    """Variance-aware stratified allocation (Neyman's rule: sample
    each stratum proportional to ``N_h * S_h``, concentrating budget
    where the measured value varies most — the survey-sampling
    optimum, vs proportional allocation's equal treatment of flat and
    volatile strata).  Returns the per-stratum allocation summary with
    the deterministic pick count.

    The spread term uses ``max - min`` instead of a standard
    deviation ON PURPOSE: min/max are exact data values, so the weight
    ``N_h * (max - min)`` lands on an exact decimal grid where
    summation order cannot change the total and every engine computes
    bit-identical budgets — a cross-engine stddev differs in the last
    ulp (different summation orders) and a last-ulp difference under
    ``floor(x + 0.5)`` flips an integer budget (the same IEEE-exactness
    rule as temperature_language_sample's sqrt).

    Scale shape: one stratum aggregate (|strata| rows), a 1-row weight
    denominator broadcast, and the per-stratum md5-ordered rank pick —
    one keyed shuffle, same as ``stratified_exact_k``.
    """
    from pyspark.sql import Window

    stats = df.groupBy(stratum_col).agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.max(value_col) - F.min(value_col)).alias("spread"),
    )
    wts = stats.withColumn(
        "w", F.col("n_rows") * F.col("spread").cast("double")
    )
    denom = wts.agg(F.sum("w").alias("w_total"))
    alloc = (
        wts.crossJoin(F.broadcast(denom))
        .withColumn(
            "budget",
            F.floor(F.col("w") / F.col("w_total") * total + F.lit(0.5)).cast(
                "int"
            ),
        )
        .select(stratum_col, "n_rows", "spread", "budget")
    )
    h = F.md5(F.concat(F.lit(salt + ":"), F.col(key_col).cast("string")))
    wnd = Window.partitionBy(stratum_col).orderBy(h.asc(), F.col(key_col).asc())
    picked = (
        df.withColumn("__rk", F.row_number().over(wnd))
        .join(F.broadcast(alloc), stratum_col)
        .filter(F.col("__rk") <= F.col("budget"))
        .groupBy(stratum_col)
        .agg(F.count(F.lit(1)).alias("n_picked"))
    )
    return (
        alloc.join(picked, stratum_col, "left")
        .na.fill({"n_picked": 0})
        .select(
            stratum_col,
            "n_rows",
            F.round(F.col("spread").cast("double") + 1e-9, 2).alias("spread"),
            "budget",
            "n_picked",
        )
        .orderBy(stratum_col)
    )


def dsir_importance_weights(
    documents: DataFrame,
    *,
    target_lang: str = "en",
    n_buckets: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """DSIR-style importance weights: hashed-n-gram log-likelihood
    ratio of a target distribution vs the raw pool (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling").

    Each document scores sum_f c_f(doc) * [ln p_target(f) -
    ln p_raw(f)] over ``n_buckets`` hashed unigram features, with
    add-one smoothing on both bucket distributions.  High weight =
    looks like the target domain; sampling documents by this weight
    (Gumbel-top-k on weight + portable uniform, as in
    ``weighted_sample``) reproduces the DSIR selection step.

    Scale shape: one explode + one (doc, bucket) partial+final agg on
    the corpus; both model tables are ``n_buckets`` rows, broadcast
    into the scoring join — the corpus shuffles ONCE on (doc, bucket),
    never on vocabulary.  Hashing uses the engine-portable md5-31
    family (dedup.py:55), so the DuckDB oracle re-derives every
    bucket, both smoothed distributions, and each doc's exact ratio.
    """
    from .dedup import portable_hash31

    toks = (
        documents.select(
            F.col(id_col).alias("doc_id"),
            F.col(lang_col).alias("lang"),
            F.explode(
                F.split(F.trim(F.col(text_col)), r"\s+")
            ).alias("tok"),
        )
        .where(F.col("tok") != "")
        .select(
            "doc_id",
            "lang",
            (portable_hash31(F.col("tok")) % F.lit(n_buckets)).alias("b"),
        )
    )
    doc_b = toks.groupBy("doc_id", "lang", "b").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    is_target = F.col("lang") == F.lit(target_lang)
    model = doc_b.groupBy("b").agg(
        F.sum(F.when(is_target, F.col("cnt")).otherwise(F.lit(0))).alias("ct"),
        F.sum(F.when(~is_target, F.col("cnt")).otherwise(F.lit(0))).alias("cr"),
    )
    totals = model.agg(
        F.sum("ct").alias("tt"), F.sum("cr").alias("tr")
    )  # 1-row scalar
    lr = (
        model.crossJoin(F.broadcast(totals))
        .select(
            "b",
            (
                F.log((F.col("ct") + 1) / (F.col("tt") + F.lit(n_buckets)))
                - F.log((F.col("cr") + 1) / (F.col("tr") + F.lit(n_buckets)))
            ).alias("lr"),
        )
    )
    return (
        doc_b.join(F.broadcast(lr), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.round(F.sum(F.col("cnt") * F.col("lr")) + F.lit(1e-9), 6).alias(
                "llr"
            ),
        )
        .orderBy("doc_id")
    )


def kfold_split(
    df: DataFrame,
    key_col: str,
    *,
    k: int = 5,
    salt: str = "kfold-v1",
) -> DataFrame:
    """Deterministic k-fold cross-validation assignment: fold =
    portable md5 hash of (salt, key) mod k — membership is a pure
    function of the key, so folds are reproducible across runs,
    engines, and cluster layouts, and any worker can recompute its
    rows' folds without coordination (the same contract as
    ``hash_split``, generalized to k ways).

    Returns the per-fold summary (n_rows, share) — the assignment
    itself is the one-line expression ``fold_of(key)`` callers embed;
    the summary is the balance audit run before training.
    """
    if k < 2:
        raise ValueError(f"kfold_split requires k >= 2, got {k}")
    from .dedup import portable_hash31

    fold = (
        portable_hash31(
            F.concat(F.lit(salt + ":"), F.col(key_col).cast("string"))
        )
        % F.lit(k)
    ).alias("fold")
    total = df.count()  # scalar
    return (
        df.select(fold)
        .groupBy("fold")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            F.col("fold").cast("int").alias("fold"),
            "n_rows",
            F.round(
                F.col("n_rows") / F.lit(float(total)) + F.lit(1e-9), 6
            ).alias("share"),
        )
        .orderBy("fold")
    )


#: Poisson(1) CDF thresholds for the hash-uniform -> count mapping
#: (counts capped at 5; P(X > 5) ~ 0.06%).  Python floats repr
#: round-trip exactly, so both engines compare against identical
#: doubles.
import math as _math

POISSON1_CDF: tuple[float, ...] = tuple(
    sum(_math.exp(-1.0) / _math.factorial(j) for j in range(k + 1))
    for k in range(5)
)


def bootstrap_coeffs(n_resamples: int) -> list[tuple[int, int, int]]:
    """Deterministic affine coefficients ``(b, a, c)`` for the
    per-resample hash permutations (seeded, so both engines inline
    identical literals — same discipline as MINHASH_COEFFS)."""
    import random as _random

    rng = _random.Random(0xB007)
    M = 2147483647
    return [
        (b, rng.randrange(1, M), rng.randrange(0, M))
        for b in range(1, n_resamples + 1)
    ]


def bootstrap_ci(
    df: DataFrame,
    value_col: str,
    key_col: str,
    *,
    n_resamples: int = 50,
    salt: str = "boot-v1",
) -> DataFrame:
    """Distributed Poisson bootstrap CI for the mean (the online /
    streaming bootstrap: each row appears Poisson(1) times in each
    resample, indistinguishable from multinomial resampling at scale).

    Every count is a PURE FUNCTION of (salt, key, resample id): ONE
    portable md5 per row, then an affine permutation per resample
    (the MinHash coefficient trick — md5 is the expensive part, so
    hashing once and permuting B times cut the sf0.1 benchmark from
    10.9 s to the low seconds) inverted through the Poisson CDF.  The
    whole resampling plan is deterministic and engine-replayable — a
    bootstrap an independent SQL engine can re-derive bit-for-bit,
    which classic RNG resampling can never be.

    Scale shape: one map-side explode (x ``n_resamples``) feeding ONE
    partial+final aggregation on the resample id — map-side combine
    collapses each partition to ``n_resamples`` partial rows, so the
    shuffle carries B x partitions rows, not B x data.  The final
    percentile runs over ``n_resamples`` numbers.

    Returns one row: n_rows, point estimate, bootstrap mean,
    [2.5%, 97.5%] CI bounds.
    """
    from .dedup import MERSENNE31, portable_hash31

    h = portable_hash31(
        F.concat(F.lit(salt + ":"), F.col(key_col).cast("string"))
    )
    # per-resample affine permutation of the one row hash: a_b*h + c_b
    # mod M31 stays uniform; products stay < 2^62 (exact BIGINT)
    coeffs = bootstrap_coeffs(n_resamples)
    u = (
        (
            (F.col("a") * F.col("h") + F.col("cc")) % F.lit(MERSENNE31)
        ).cast("double")
        / F.lit(float(MERSENNE31))
    )
    cnt = F.lit(len(POISSON1_CDF))
    for k in reversed(range(len(POISSON1_CDF))):
        cnt = F.when(u < F.lit(POISSON1_CDF[k]), F.lit(k)).otherwise(cnt)
    # the coefficients ride INSIDE the exploded literal array (one
    # 50-struct constant), so no join touches the B x rows stream at
    # all — measured ~1.5x over broadcast-joining a coefficient table
    coeff_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("b"),
                F.lit(a).alias("a"),
                F.lit(c).alias("cc"),
            )
            for b, a, c in coeffs
        ]
    )
    # r11 optimization round: the hash projection MUST live in its own
    # select BELOW the explode.  In the fused form
    # ``select(x, h, explode(arr))`` the analyzer's ExtractGenerator
    # places the md5 expression in the Project ABOVE the Generate, so
    # it re-evaluates once per EXPLODED row — B x per input row
    # (measured at sf0.1: the explode stage alone cost 6.9 s vs 1.0 s
    # with the two-step select; see the Generate input in the plan from
    # ``python scripts/opt_measure.py --explain-only bootstrap_ci``).
    # Same expression, same values — only the projection boundary moves.
    exploded = (
        df.select(F.col(value_col).alias("x"), h.alias("h"))
        .select(
            "x",
            "h",
            F.explode(coeff_arr).alias("co"),
        )
        .select(
            "x",
            "h",
            F.col("co.b").alias("b"),
            F.col("co.a").alias("a"),
            F.col("co.cc").alias("cc"),
        )
        .select("x", "b", cnt.alias("c"))
    )
    means = (
        exploded.groupBy("b")
        .agg(
            F.sum(F.col("c") * F.col("x")).alias("sx"),
            F.sum("c").alias("sc"),
        )
        .where(F.col("sc") > 0)
        .select(
            F.round(F.col("sx") / F.col("sc") + F.lit(1e-9), 4).alias("m")
        )
    )
    exact = 2147483647
    boot = means.agg(
        F.count(F.lit(1)).cast("bigint").alias("b_resamples"),
        F.round(
            F.sum("m") / F.count(F.lit(1)) + F.lit(1e-9), 4
        ).alias("boot_mean"),
        F.percentile_approx("m", [0.025, 0.975], exact).alias("ci"),
    )
    point = df.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.round(
            F.sum(value_col) / F.count(F.lit(1)) + F.lit(1e-9), 4
        ).alias("est_mean"),
    )
    return point.crossJoin(F.broadcast(boot)).select(
        "n_rows",
        "est_mean",
        "b_resamples",
        "boot_mean",
        F.element_at("ci", 1).alias("ci_lo"),
        F.element_at("ci", 2).alias("ci_hi"),
    )


def leakage_safe_folds(
    documents: DataFrame,
    *,
    k: int = 5,
    jaccard_threshold: float = 0.4,
    salt: str = "groupfold-v1",
    id_col: str = "doc_id",
    band_cap: int | None = 1000,
) -> DataFrame:
    """Group-aware k-fold split: every member of a near-dup cluster
    lands in the SAME fold, so no fold pair shares near-duplicate
    content — the straddling pairs ``split_leakage`` audits are zero BY
    CONSTRUCTION, not by luck. This is the dedup-aware split a training
    pipeline needs before any cross-validation or holdout eval: a plain
    per-doc hash split leaks every near-dup cluster across folds.

    Mechanics: MinHash near-dup pairs -> connected components (only the
    duplicate subgraph iterates); fold = portable md5 of the CLUSTER
    representative (singletons key on their own id), so membership is a
    pure engine-replayable function of content clusters + salt.

    Returns one row per fold: docs, distinct groups, character volume,
    and the cross-fold leaky-pair count (provably 0 for every fold —
    the column exists so the oracle re-derives the proof, not just the
    sizes).
    """
    from flink_elasticsearch_ingestion_spark.operators.dedup import (
        connected_components,
        minhash_near_duplicates,
    )

    pairs = minhash_near_duplicates(
        documents,
        jaccard_threshold=jaccard_threshold,
        id_col=id_col,
        band_cap=band_cap,
    ).persist()
    pairs.count()  # eager fill (see minhash_near_duplicates)
    comp = connected_components(pairs)
    grouped = documents.join(
        comp.withColumnRenamed("node", id_col), id_col, "left"
    )
    group = F.coalesce(F.col("component"), F.col(id_col))
    fold = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt + ":"), group.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint"),
        F.lit(int(k)),
    )
    assigned = grouped.select(
        F.col(id_col),
        group.alias("group_key"),
        fold.alias("fold"),
        F.col("n_chars"),
    ).persist()
    assigned.count()
    fa = assigned.select(F.col(id_col).alias("doc_a"), F.col("fold").alias("fold_a"))
    fb = assigned.select(F.col(id_col).alias("doc_b"), F.col("fold").alias("fold_b"))
    straddle = (
        pairs.join(fa, "doc_a")
        .join(fb, "doc_b")
        .filter(F.col("fold_a") != F.col("fold_b"))
    )
    leaks = (
        straddle.select(F.col("fold_a").alias("fold"))
        .unionByName(straddle.select(F.col("fold_b").alias("fold")))
        .groupBy("fold")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_leaky_pairs"))
    )
    out = (
        assigned.groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("group_key").cast("bigint").alias("n_groups"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
        )
        .join(leaks, "fold", "left")
        .select(
            "fold",
            "n_docs",
            "n_groups",
            "n_chars",
            F.coalesce(F.col("n_leaky_pairs"), F.lit(0)).cast("bigint").alias(
                "n_leaky_pairs"
            ),
        )
        .orderBy("fold")
    )
    return out


def unimax_language_sample(
    documents: DataFrame,
    *,
    budget_tokens: int = 20_000,
    salt: str = "unimax-v1",
    lang_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """UNIMAX language balancing (Chung et al. 2023, "UniMax: Fairer
    and More Effective Language Sampling for Large-Scale Multilingual
    Pretraining"): distribute a token budget across languages by
    WATER-FILLING — every language gets an equal share of the budget
    unless its whole corpus is smaller, in which case it saturates and
    its leftover flows to the bigger languages. This is the principled
    replacement for temperature sampling: no language is ever
    upsampled past its natural size (epochs are bounded), and the
    budget splits as uniformly as the data allows.

    Mechanics, all relational and engine-replayable:

    1. per-language token caps: one aggregate (|langs|-sized);
    2. the water level solves ``sum(min(cap_i, L)) = budget``: with
       caps sorted ascending, L = the first candidate
       ``(budget - prefix_caps) / languages_remaining`` that falls
       below its own cap — two windows over the bounded language axis
       plus ONE 1-row scalar broadcast (the level);
    3. per-language selection to the allocation: documents order by a
       portable md5 (salted, so remixes are a new salt) and accumulate
       tokens in a lang-partitioned running sum; docs keep while the
       prefix fits the allocation — the ``token_budget`` discipline.

    Returns per language: cap, allocation, selected docs/tokens.
    """
    toks = F.size(F.split(F.trim(F.col(text_col)), "\\s+"))
    tok = documents.select(
        F.col(id_col).alias("doc_id"),
        F.col(lang_col).alias("lang"),
        toks.cast("bigint").alias("n_tok"),
    )
    caps = tok.groupBy("lang").agg(F.sum("n_tok").cast("bigint").alias("cap"))
    w = Window.orderBy("cap", "lang")
    ordered = caps.select(
        "lang",
        "cap",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1))
        .over(Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("n"),
        F.coalesce(
            F.sum("cap").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("pfx"),
    )
    b = F.lit(float(budget_tokens))
    cand = (b - F.col("pfx")) / (F.col("n") - F.col("i") + F.lit(1))
    # the level is the FIRST (smallest-i) candidate that falls below
    # its own cap: for later i the prefix already includes unsaturated
    # caps, so those candidates are meaningless (can even go negative)
    level = ordered.filter(cand < F.col("cap")).agg(
        F.min(F.struct(F.col("i"), cand.alias("c")))["c"].alias("level")
    )
    alloc = ordered.crossJoin(F.broadcast(level)).select(
        "lang",
        "cap",
        F.when(F.col("level").isNull(), F.col("cap").cast("double"))
        .otherwise(F.least(F.col("cap").cast("double"), F.col("level")))
        .alias("alloc"),
    )
    cum = F.sum("n_tok").over(
        Window.partitionBy("lang")
        .orderBy(
            F.md5(F.concat(F.lit(salt + ":"), F.col("doc_id").cast("string"))),
            "doc_id",
        )
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sel = tok.withColumn("cum", cum)
    kept = sel.join(alloc.select("lang", "alloc"), "lang").filter(
        F.col("cum") <= F.col("alloc")
    )
    picked = kept.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("sel_tokens"),
    )
    return (
        alloc.join(picked, "lang", "left")
        .select(
            "lang",
            F.col("cap").alias("cap_tokens"),
            F.round(F.col("alloc") + F.lit(1e-9), 4).alias("alloc_tokens"),
            F.coalesce(F.col("n_docs"), F.lit(0)).cast("bigint").alias("n_docs"),
            F.coalesce(F.col("sel_tokens"), F.lit(0))
            .cast("bigint")
            .alias("sel_tokens"),
        )
        .orderBy("lang")
    )


def cluster_weighted_sample(
    documents: DataFrame,
    *,
    k: int = 150,
    jaccard_threshold: float = 0.4,
    salt: str = "softdedup-v1",
    id_col: str = "doc_id",
    band_cap: int | None = 1000,
) -> DataFrame:
    """Soft dedup by cluster-weighted sampling (the SemDeDup-family
    alternative to hard removal): instead of deleting near-duplicates,
    every document's sampling weight is 1/|its near-dup cluster|, so
    each CLUSTER contributes ~one document's worth of expected mass and
    over-represented boilerplate stops dominating the mix while still
    being reachable. Hard dedup throws information away; soft dedup
    re-weights it.

    Composition of two proven primitives: MinHash pairs -> connected
    components (cluster sizes; singletons weigh 1) feeding the
    Efraimidis–Spirakis exact-k weighted sampler (engine-portable md5
    keys, TakeOrdered plan — no global sort).

    Returns the selection audit grouped by cluster size: candidates vs
    selected and the implied per-doc selection rate — the numbers that
    show equalization (rate falls ~linearly with cluster size).
    """
    from flink_elasticsearch_ingestion_spark.operators.dedup import (
        connected_components,
        minhash_near_duplicates,
    )

    pairs = minhash_near_duplicates(
        documents,
        jaccard_threshold=jaccard_threshold,
        id_col=id_col,
        band_cap=band_cap,
    ).persist()
    pairs.count()  # eager fill (see minhash_near_duplicates)
    comp = connected_components(pairs)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("csize"))
    member = comp.join(sizes, "component").select(
        F.col("node").alias(id_col), "csize"
    )
    weighted = (
        documents.select(id_col)
        .join(member, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("csize"), F.lit(1)).cast("bigint").alias("csize"),
        )
        .withColumn("w", F.lit(1.0) / F.col("csize"))
    )
    picked = weighted_sample_k(
        weighted, "w", k, key_col=id_col, salt=salt
    ).select(id_col, F.lit(1).alias("__sel"))
    return (
        weighted.join(picked.select(id_col, "__sel"), id_col, "left")
        .groupBy("csize")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.count(F.when(F.col("__sel").isNotNull(), 1))
            .cast("bigint")
            .alias("n_selected"),
        )
        .select(
            F.col("csize").alias("cluster_size"),
            "n_candidates",
            "n_selected",
            F.round(
                F.col("n_selected").cast("double") / F.col("n_candidates") + 1e-9, 6
            ).alias("selection_rate"),
        )
        .orderBy("cluster_size")
    )


def sqrt_frequency_cap(
    documents: DataFrame,
    *,
    key_col: str = "source",
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
    shards: int = 8,
) -> DataFrame:
    """Sublinear per-source frequency capping: keep at most
    ``ceil(sqrt(n_source))`` documents per source, preferring high
    ``quality_col`` (ties broken by ``id_col``) — the corpus-curation
    move that stops a few mega-sources from dominating a training mix
    while still letting bigger sources contribute more.

    Scale shape: the per-source quota needs a per-source TOP-cap rank,
    and a single ``row_number() OVER (PARTITION BY source)`` puts an
    entire hot source on one reducer. Two-phase instead (the
    ``global_distribution_ranks`` / knn_join salting pattern): phase 1
    ranks within ``(source, shard)`` — shard = crc32(id) % shards — and
    keeps each shard's top ``cap`` (a superset of the winners); phase 2
    re-ranks the <= shards*cap survivors per source. The per-source
    counts come from one hash aggregate broadcast back (source
    cardinality is dimension-sized by definition). Result is identical
    to the single-window form.
    """
    caps = documents.groupBy(F.col(key_col).alias("k")).agg(
        F.ceil(F.sqrt(F.count(F.lit(1)))).cast("int").alias("cap")
    )
    ranked_src = documents.select(
        F.col(key_col).alias("k"),
        F.col(id_col).alias("doc"),
        F.col(quality_col).cast("double").alias("q"),
        F.pmod(F.crc32(F.col(id_col).cast("string")), F.lit(shards)).alias(
            "shard"
        ),
    ).join(F.broadcast(caps), "k")
    order = [F.col("q").desc(), F.col("doc")]
    w1 = Window.partitionBy("k", "shard").orderBy(*order)
    w2 = Window.partitionBy("k").orderBy(*order)
    return (
        ranked_src.withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= F.col("cap"))
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= F.col("cap"))
        .select(
            F.col("k").alias(key_col),
            F.col("doc").alias(id_col),
            F.col("q").cast("bigint").alias(quality_col),
            "rank",
            "cap",
        )
        .orderBy(key_col, "rank")
    )


def mixing_epochs_plan(
    documents: DataFrame,
    *,
    token_budget: float = 1_000_000.0,
    key_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Pretraining mix planner: given a total token budget and sqrt
    mixing weights (weight_s ∝ sqrt(available_s) — the sublinear
    upweighting that stops mega-sources from dominating while letting
    them contribute more), report per source how many tokens the mix
    draws and how many EPOCHS of that source that implies — the
    repetition accounting every data-mixing plan needs before anyone
    trains on it (epochs >> 1 means memorization-prone repetition).

    Scale shape: one hash aggregate to the per-source frame (bounded
    by source cardinality), then window sums over that bounded frame —
    nothing per-document survives the first aggregate.
    """
    from flink_elasticsearch_ingestion_spark.operators.text import token_count

    per = documents.groupBy(F.col(key_col).alias("source")).agg(
        F.sum(token_count(text_col)).cast("bigint").alias("avail_tokens")
    )
    w = F.sqrt(F.col("avail_tokens").cast("double"))
    tot = F.sum(w).over(Window.partitionBy())  # bounded: post-aggregate frame
    drawn = F.round(w / tot * F.lit(float(token_budget)) + F.lit(1e-9), 2)
    return (
        per.withColumn("mix_weight", F.round(w / tot + F.lit(1e-9), 6))
        .withColumn("drawn_tokens", drawn)
        .withColumn(
            "epochs",
            F.round(
                F.col("drawn_tokens") / F.col("avail_tokens") + F.lit(1e-9), 4
            ),
        )
        .orderBy("source")
    )


def purged_time_split(
    events: DataFrame,
    *,
    cutoff: str = "2024-01-22 00:00:00",
    embargo_days: int = 2,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Purged temporal train/test split with an embargo band (the
    time-series eval-hygiene counterpart of ``leakage_safe_folds``,
    which guards CONTENT leakage): train is everything strictly before
    ``cutoff - embargo``, test is everything at/after ``cutoff``, and
    the embargo band between them is PURGED — rows whose effects
    (labels computed over trailing windows, sessions straddling the
    boundary, delayed feedback) would otherwise leak future information
    into training. Returns per-split accounting (row/user counts, time
    bounds) — the audit row a training run logs before trusting its
    holdout.

    Shape: one scan, one 3-key aggregate; the split predicate is a
    pushed-down timestamp comparison, so at 100 TB with date
    partitioning each split prunes to its own partitions.
    """
    cut = F.to_timestamp(F.lit(cutoff))
    emb = cut - F.expr(f"INTERVAL {int(embargo_days)} DAYS")
    split = (
        F.when(F.col(ts_col) < emb, F.lit("train"))
        .when(F.col(ts_col) < cut, F.lit("purged"))
        .otherwise(F.lit("test"))
    )
    fmt = "yyyy-MM-dd HH:mm:ss"
    return (
        events.groupBy(split.alias("split"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.countDistinct(user_col).cast("bigint").alias("n_users"),
            F.date_format(F.min(ts_col), fmt).alias("min_ts"),
            F.date_format(F.max(ts_col), fmt).alias("max_ts"),
        )
        .orderBy("split")
    )
