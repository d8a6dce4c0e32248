"""Round-11 OPTIMIZATION-round parity pins.

Each test pins an optimization that changed an operator's internals
(OPTIMIZATION_r11.md): the optimized default path must be
value-identical to the legacy path / an independent re-derivation.
"""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from flink_elasticsearch_ingestion_spark.operators.relational import (
    join_size_estimate,
)
from flink_elasticsearch_ingestion_spark.operators.similarity import (
    _hyperplanes,
    bucket_cap_recall_account,
    cosine,
    lsh_bucket_expr,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _pair_attach_account(
    embeddings, *, threshold, bits, tables, bucket_cap, reference_cap,
    seed=42,
):
    """The pair-attach recall account, the reference the bucket-local
    verify is pinned against: banded self-join per arm -> pair dedup ->
    join both vectors onto every pair -> interpreted cosine fold."""
    head = [
        r[0] for r in embeddings.select("embedding").limit(64).collect()
        if r[0] is not None
    ]
    dim = len(head[0])
    keyed = embeddings.select(
        F.col("vec_id").alias("vid"), F.col("embedding").alias("vec")
    )
    buckets = [
        lsh_bucket_expr("vec", _hyperplanes(dim, bits, seed + t)).alias(f"b{t}")
        for t in range(tables)
    ]
    banded = keyed.select("vid", *buckets).select(
        "vid",
        F.posexplode(F.array(*[F.col(f"b{t}") for t in range(tables)])).alias(
            "table_idx", "bucket"
        ),
    ).withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy("table_idx", "bucket").orderBy("vid")
        ),
    )
    n_truncated = (
        banded.groupBy("table_idx", "bucket")
        .agg(F.max("_rn").alias("occ"))
        .filter(F.col("occ") > reference_cap)
        .count()
    )

    def candidates(cap):
        arm = banded.filter(F.col("_rn") <= cap)
        a, b = arm.alias("a"), arm.alias("b")
        return (
            a.join(
                b,
                (F.col("a.table_idx") == F.col("b.table_idx"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.vid") < F.col("b.vid")),
            )
            .select(F.col("a.vid").alias("vec_a"), F.col("b.vid").alias("vec_b"))
            .dropDuplicates(["vec_a", "vec_b"])
        )

    va = keyed.select(F.col("vid").alias("vec_a"), F.col("vec").alias("va"))
    vb = keyed.select(F.col("vid").alias("vec_b"), F.col("vec").alias("vb"))
    hit = F.coalesce(F.col("hit"), F.lit(0))
    row = (
        candidates(reference_cap)
        .join(
            candidates(bucket_cap).withColumn("hit", F.lit(1)),
            ["vec_a", "vec_b"],
            "left",
        )
        .join(va, "vec_a")
        .join(vb, "vec_b")
        .filter(F.round(cosine(F.col("va"), F.col("vb")), 6) >= F.lit(threshold))
        .agg(
            F.count(F.lit(1)).alias("pairs_uncapped"),
            F.sum(hit).cast("bigint").alias("pairs_capped"),
            F.round(F.sum(hit) / F.count(F.lit(1)) + 1e-9, 6).alias("recall"),
        )
        .first()
    )
    return [(*row, n_truncated)]


class TestBucketCapRecallBucketLocal:
    """The bucket-local verify (grouped numpy scoring) must be
    bit-identical to the pair-attach reference."""

    def test_parity_on_fixture(self, spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        kw = dict(threshold=0.4, bits=4, tables=8, bucket_cap=8,
                  reference_cap=256)
        new = _rows(bucket_cap_recall_account(emb, **kw))
        old = _pair_attach_account(emb, **kw)
        assert new == old
        # the account is non-trivial on the fixture
        assert new[0][0] > 0

    def test_parity_with_truncation_and_tiny_caps(self, spark, sf_dir):
        # force reference-arm truncation (reference_cap < occupancy)
        # so the truncated branch is compared too
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        kw = dict(threshold=0.2, bits=2, tables=4, bucket_cap=2,
                  reference_cap=8)
        new = _rows(bucket_cap_recall_account(emb, **kw))
        old = _pair_attach_account(emb, **kw)
        assert new == old
        assert new[0][3] > 0  # n_buckets_truncated really exercised

    def test_parity_with_null_and_wrong_dim_vectors(self, spark, sf_dir):
        # null / wrong-dim rows occupy rank slots but never score —
        # the verify and the reference must agree on that
        emb = (
            spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .select("vec_id", "embedding")
            .limit(200)
        )
        dirty = emb.unionByName(
            spark.createDataFrame(
                [(900001, None), (900002, [1.0, 2.0])],
                "vec_id bigint, embedding array<double>",
            ).select(
                "vec_id",
                F.col("embedding").cast(emb.schema["embedding"].dataType),
            )
        )
        kw = dict(threshold=0.3, bits=3, tables=4, bucket_cap=4,
                  reference_cap=16)
        new = _rows(bucket_cap_recall_account(dirty, **kw))
        old = _pair_attach_account(dirty, **kw)
        assert new == old


class TestBootstrapCiHashBelowGenerate:
    """The md5 row hash must be projected BELOW the coefficient explode
    (its own select): fused into one select, ExtractGenerator parks the
    md5 in the Project above the Generate and it re-evaluates once per
    EXPLODED row — B x per input (measured 6.9 s vs 1.0 s at sf0.1 for
    the explode stage alone)."""

    def test_generate_input_carries_hash_not_key(self, spark, sf_dir):
        import io
        from contextlib import redirect_stdout

        from flink_elasticsearch_ingestion_spark.operators.sampling import (
            bootstrap_ci,
        )

        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        buf = io.StringIO()
        with redirect_stdout(buf):
            bootstrap_ci(orders, "o_totalprice", "o_orderkey").explain(
                "formatted"
            )
        plan = buf.getvalue()
        # the Generate operator's Input must be the pre-computed (x, h)
        # projection, not the raw key column the md5 derives from
        gen_blocks = [
            b for b in plan.split("\n\n") if b.startswith("(") and ") Generate" in b.split("\n")[0]
        ]
        assert gen_blocks, "no Generate block in the bootstrap plan"
        for b in gen_blocks:
            input_line = next(l for l in b.split("\n") if l.startswith("Input"))
            assert "o_orderkey" not in input_line, (
                "md5 hash is being evaluated above the explode "
                f"(Generate consumes the raw key): {input_line}"
            )

    def test_values_unchanged_vs_fused_form(self, spark, sf_dir):
        # independent re-derivation with the ORIGINAL fused projection
        from flink_elasticsearch_ingestion_spark.operators.dedup import (
            MERSENNE31,
            portable_hash31,
        )
        from flink_elasticsearch_ingestion_spark.operators.sampling import (
            POISSON1_CDF,
            bootstrap_ci,
            bootstrap_coeffs,
        )

        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        got = bootstrap_ci(orders, "o_totalprice", "o_orderkey").collect()[0]

        h = portable_hash31(
            F.concat(F.lit("boot-v1:"), F.col("o_orderkey").cast("string"))
        )
        coeffs = bootstrap_coeffs(50)
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
        u = (
            (F.col("a") * F.col("h") + F.col("cc")) % F.lit(MERSENNE31)
        ).cast("double") / F.lit(float(MERSENNE31))
        cnt = F.lit(len(POISSON1_CDF))
        for k in reversed(range(len(POISSON1_CDF))):
            cnt = F.when(u < F.lit(POISSON1_CDF[k]), F.lit(k)).otherwise(cnt)
        fused = (
            orders.select(
                F.col("o_totalprice").alias("x"),
                h.alias("h"),
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
            fused.groupBy("b")
            .agg(
                F.sum(F.col("c") * F.col("x")).alias("sx"),
                F.sum("c").alias("sc"),
            )
            .where(F.col("sc") > 0)
            .select(
                F.round(F.col("sx") / F.col("sc") + F.lit(1e-9), 4).alias("m")
            )
        )
        ref = means.agg(
            F.count(F.lit(1)).cast("bigint").alias("b_resamples"),
            F.round(F.sum("m") / F.count(F.lit(1)) + F.lit(1e-9), 4).alias(
                "boot_mean"
            ),
        ).collect()[0]
        assert got["b_resamples"] == ref["b_resamples"]
        assert got["boot_mean"] == ref["boot_mean"]


class TestCmsSketchFromExactCounts:
    """The CMS sketch cells now fan over the per-word exact counts
    (weighted) instead of every token occurrence; cells must equal the
    per-occurrence derivation bit-for-bit."""

    def test_matches_per_occurrence_derivation(self, spark, sf_dir):
        from flink_elasticsearch_ingestion_spark.operators.dedup import (
            portable_hash31,
        )
        from flink_elasticsearch_ingestion_spark.operators.relational import (
            cms_word_counts,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        got = sorted(
            tuple(r) for r in cms_word_counts(docs).collect()
        )

        depth, width, k = 4, 1024, 20
        toks = F.split(F.lower(F.trim(F.col("text"))), "\\s+")
        words = docs.select(F.explode(toks).alias("w")).filter(
            F.col("w") != ""
        )
        exact = words.groupBy("w").agg(F.count(F.lit(1)).alias("true_count"))
        probes = exact.orderBy(F.col("true_count").desc(), "w").limit(k)
        bucket = (
            portable_hash31(
                F.concat(
                    F.lit("cms"),
                    F.col("j").cast("string"),
                    F.lit(":"),
                    F.col("w"),
                )
            )
            % width
        )
        fan = words.select(
            "w", F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("j")
        )
        sketch = (
            fan.select("j", bucket.alias("bucket"))
            .groupBy("j", "bucket")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        probe_fan = probes.select(
            "w",
            "true_count",
            F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("j"),
        ).select("w", "true_count", "j", bucket.alias("bucket"))
        ref = sorted(
            tuple(r)
            for r in (
                probe_fan.join(F.broadcast(sketch), ["j", "bucket"])
                .groupBy("w", "true_count")
                .agg(F.min("c").alias("est_count"))
                .select(
                    F.col("w").alias("word"),
                    "true_count",
                    "est_count",
                    (F.col("est_count") - F.col("true_count")).alias(
                        "overestimate"
                    ),
                )
                .collect()
            )
        )
        assert got == ref


class TestJoinSizeEstimateDedupFirst:
    """The sketch now hashes per DISTINCT key (weighted by count)
    instead of per row; every output value must be identical to an
    independent per-row re-derivation."""

    def test_tiny_frame_exact(self, spark):
        left = spark.createDataFrame(
            [(1,), (1,), (1,), (2,), (2,), (3,), (None,)], "k bigint"
        )
        right = spark.createDataFrame(
            [(1,), (2,), (2,), (4,), (None,), (None,)], "k bigint"
        )
        out = join_size_estimate(left, right, "k", "k").collect()[0]
        # exact arm: 3*1 + 2*2 = 7 (nulls never join)
        assert out["n_left"] == 7
        assert out["n_right"] == 6
        assert out["true_join_size"] == 7
        # AMS inner-product estimator never underestimates
        assert out["est_join_size"] >= out["true_join_size"]
        assert out["overestimate"] == out["est_join_size"] - 7

    def test_matches_per_row_derivation(self, spark, sf_dir):
        # independent re-derivation of the sketch from the ORIGINAL
        # per-row fan (the pre-optimization shape) on fixture data
        from flink_elasticsearch_ingestion_spark.operators.dedup import (
            portable_hash31,
        )

        depth, width = 4, 256
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")

        def row_sketch(df, key):
            fan = df.select(F.col(key).cast("string").alias("k")).select(
                "k",
                F.explode(
                    F.sequence(F.lit(0), F.lit(depth - 1))
                ).alias("j"),
            )
            bucket = (
                portable_hash31(
                    F.concat(
                        F.lit("jse"),
                        F.col("j").cast("string"),
                        F.lit(":"),
                        F.col("k"),
                    )
                )
                % width
            )
            return (
                fan.select("j", bucket.alias("bucket"))
                .groupBy("j", "bucket")
                .agg(F.count(F.lit(1)).alias("c"))
            )

        sa = row_sketch(li, "l_orderkey")
        sb = row_sketch(orders, "o_orderkey")
        expected_est = (
            sa.join(
                F.broadcast(
                    sb.select("j", "bucket", F.col("c").alias("cb"))
                ),
                ["j", "bucket"],
            )
            .groupBy("j")
            .agg(F.sum(F.col("c") * F.col("cb")).alias("row_est"))
            .agg(F.min("row_est").alias("e"))
            .collect()[0]["e"]
        )
        got = join_size_estimate(
            li, orders, "l_orderkey", "o_orderkey"
        ).collect()[0]
        assert got["est_join_size"] == expected_est
        assert got["n_left"] == li.count()
        assert got["n_right"] == orders.count()
