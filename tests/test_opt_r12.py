"""Round-12 OPTIMIZATION-round parity pins.

Each test pins an optimization that changed an operator's internals
(OPTIMIZATION_r12.md): the optimized default path must be
value-identical (bit-identical where the contract says so) to the
legacy path / an independent re-derivation.
"""

import struct

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from flink_elasticsearch_ingestion_spark.operators.quality import (
    _grid_percentile_bounds,
    mad_outliers,
    winsorized_stats,
)
from flink_elasticsearch_ingestion_spark.operators.relational import (
    join_size_estimate,
)
from flink_elasticsearch_ingestion_spark.operators.similarity import (
    _lsh_scored_pairs,
    margin_best_match,
    mutual_best_match,
)


def _rows(df):
    return sorted(
        tuple(r) for r in df.collect()
    )


def _bits(v):
    """Bit-exact representation of a float (None passes through)."""
    if v is None:
        return None
    return struct.pack("<d", float(v))


# -- grid-rank exact percentiles (winsorized_stats / mad_outliers) ----------


class TestGridPercentileBitParity:
    """_grid_percentile_bounds must reproduce Spark's `percentile`
    aggregate ULP-for-ULP at FULL double precision (the clip bounds are
    consumed unrounded), across interpolated, whole-position, duplicate
    -heavy, negative, tiny/huge, null-bearing and NaN-bearing inputs."""

    QS = (0.01, 0.25, 0.5, 0.75, 0.99)

    def _compare(self, spark, rows, edges):
        df = spark.createDataFrame(rows, "g string, v double")
        got = {
            r["g"]: [r[f"p{i}"] for i in range(len(self.QS))]
            for r in _grid_percentile_bounds(
                df, "v", "g", self.QS, edges,
                tuple(f"p{i}" for i in range(len(self.QS))),
            ).collect()
        }
        # groups with only nulls: percentile() emits the group with a
        # null array; the grid emits no row (callers LEFT-join) — strip
        want = {
            r["g"]: list(r["ps"])
            for r in df.groupBy("g")
            .agg(F.percentile("v", F.array(*[F.lit(q) for q in self.QS])).alias("ps"))
            .collect()
            if r["ps"] is not None
        }
        assert set(got) == set(want)
        for g in want:
            got_b = [_bits(x) for x in got[g]]
            want_b = [_bits(x) for x in want[g]]
            assert got_b == want_b, (g, got[g], want[g])

    def test_random_mixed(self, spark):
        import random

        rng = random.Random(0xC0FFEE)
        rows = []
        for g in range(12):
            n = rng.choice([1, 2, 3, 7, 40, 101, 400])
            for _ in range(n):
                kind = rng.random()
                if kind < 0.2:
                    v = float(rng.randint(-5, 5))  # heavy duplicates
                elif kind < 0.4:
                    v = rng.uniform(-1e9, 1e9)
                elif kind < 0.6:
                    v = rng.uniform(0, 1e-6)
                else:
                    v = rng.gauss(50_000, 30_000)
                rows.append((f"g{g}", v))
        # nulls sprinkled into some groups, one all-null group
        rows += [("g0", None), ("g1", None), ("gnull", None), ("gnull", None)]
        self._compare(spark, rows, edges=(0.0, 100.0, 10_000.0))

    def test_single_value_and_two_value_groups(self, spark):
        rows = [("a", 3.5), ("b", 1.0), ("b", 2.0), ("c", -0.25), ("c", -0.25)]
        self._compare(spark, rows, edges=(0.0,))

    def test_whole_positions_no_interpolation(self, spark):
        # n = 101 -> q*(n-1) is whole for q in {0.25, 0.5, 0.75}
        rows = [("w", float(i)) for i in range(101)]
        self._compare(spark, rows, edges=(10.0, 50.0, 90.0))

    def test_nan_sorts_last(self, spark):
        rows = [("n", 1.0), ("n", 2.0), ("n", float("nan")), ("n", 3.0)]
        self._compare(spark, rows, edges=(1.5,))

    def test_edges_missing_the_data_degrade_gracefully(self, spark):
        rows = [("e", float(i) % 13) for i in range(57)]
        # every edge above the data: one coarse range per group
        self._compare(spark, rows, edges=(1e12,))


class TestWinsorizedMadLegacyParity:
    """Full-result parity of the r12 grid-rank operators against the
    legacy `percentile`-aggregate forms, on the real fixture tables."""

    def test_winsorized_stats_fixture(self, spark, sf_dir):
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        new = _rows(winsorized_stats(orders, "o_totalprice", "o_orderpriority"))
        bounds = orders.groupBy("o_orderpriority").agg(
            F.percentile("o_totalprice", F.lit(0.01)).alias("__lo"),
            F.percentile("o_totalprice", F.lit(0.99)).alias("__hi"),
        )
        clipped = orders.join(F.broadcast(bounds), "o_orderpriority").select(
            F.col("o_orderpriority"),
            F.col("o_totalprice").alias("__v"),
            F.greatest(
                F.least(F.col("o_totalprice"), F.col("__hi")), F.col("__lo")
            ).alias("__w"),
            F.col("__lo"),
            F.col("__hi"),
        )
        old = _rows(
            clipped.groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.count(F.when(F.col("__v") < F.col("__lo"), 1)).alias(
                    "n_clipped_lo"
                ),
                F.count(F.when(F.col("__v") > F.col("__hi"), 1)).alias(
                    "n_clipped_hi"
                ),
                F.round(F.min("__lo") + 1e-9, 4).alias("lo_bound"),
                F.round(F.max("__hi") + 1e-9, 4).alias("hi_bound"),
                F.round(
                    F.round(F.sum("__w"), 2) / F.count(F.lit(1)) + 1e-9, 4
                ).alias("winsorized_mean"),
            )
            .orderBy("o_orderpriority")
        )
        assert new == old

    def test_mad_outliers_fixture(self, spark, sf_dir):
        events = spark.read.parquet(f"{sf_dir}/events.parquet")
        new = _rows(mad_outliers(events, "value", "event_type"))
        med = events.groupBy("event_type").agg(
            F.percentile("value", F.lit(0.5)).alias("__med")
        )
        dev = events.join(F.broadcast(med), "event_type").select(
            F.col("event_type"),
            F.col("value").alias("__v"),
            F.col("__med"),
            F.abs(F.col("value") - F.col("__med")).alias("__ad"),
        )
        mad = dev.groupBy("event_type").agg(
            F.percentile("__ad", F.lit(0.5)).alias("__mad")
        )
        cut = F.lit(3.0) * F.lit(1.4826) * F.col("__mad")
        old = _rows(
            dev.join(F.broadcast(mad), "event_type")
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.min("__med") + 1e-9, 6).alias("median"),
                F.round(F.min("__mad") + 1e-9, 6).alias("mad"),
                F.count(F.when(F.col("__ad") > cut, 1)).alias("n_outliers"),
                F.round(
                    F.max(
                        F.when(
                            F.col("__mad") > 0,
                            F.col("__ad") / (F.lit(1.4826) * F.col("__mad")),
                        )
                    )
                    + 1e-9,
                    4,
                ).alias("max_robust_z"),
            )
            .orderBy("event_type")
        )
        assert new == old

    def test_all_null_group_keeps_legacy_null_bounds(self, spark):
        df = spark.createDataFrame(
            [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", None), ("b", None)],
            "g string, v double",
        )
        w = {r["g"]: r for r in winsorized_stats(df, "v", "g").collect()}
        assert set(w) == {"a", "b"}
        assert w["b"]["n"] == 2
        assert w["b"]["lo_bound"] is None and w["b"]["hi_bound"] is None
        m = {r["g"]: r for r in mad_outliers(df, "v", "g").collect()}
        assert set(m) == {"a", "b"}
        assert m["b"]["median"] is None and m["b"]["n_outliers"] == 0


# -- bitext single-pass reductions -------------------------------------------


def _halves(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return (
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
    )


def _legacy_mutual(scored):
    best_l = (
        scored.groupBy("query_id")
        .agg(
            F.min(
                F.struct(
                    (-F.col("cosine")).alias("nc"),
                    F.col("neighbor_id").alias("partner"),
                )
            ).alias("m")
        )
        .select(
            "query_id",
            F.col("m.partner").alias("neighbor_id"),
            (-F.col("m.nc")).alias("cosine"),
        )
    )
    best_r = (
        scored.groupBy("neighbor_id")
        .agg(
            F.min(
                F.struct(
                    (-F.col("cosine")).alias("nc"),
                    F.col("query_id").alias("partner"),
                )
            ).alias("m")
        )
        .select(F.col("neighbor_id"), F.col("m.partner").alias("query_id"))
    )
    return (
        best_l.join(best_r, ["query_id", "neighbor_id"])
        .select(
            F.col("query_id").alias("vec_a"),
            F.col("neighbor_id").alias("vec_b"),
            (F.col("cosine") + F.lit(0.0)).alias("cosine"),
        )
        .orderBy("vec_a")
    )


def _legacy_margin(scored, k_neighborhood=4, margin_threshold=1.0):
    wl = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    wr = Window.partitionBy("neighbor_id").orderBy(
        F.col("cosine").desc(), F.col("query_id")
    )
    ranked = scored.withColumn("rl", F.row_number().over(wl)).withColumn(
        "rr", F.row_number().over(wr)
    )
    avg_l = (
        ranked.filter(F.col("rl") <= k_neighborhood)
        .groupBy("query_id")
        .agg((F.sum("cosine") / F.count(F.lit(1))).alias("avg_a"))
    )
    avg_r = (
        ranked.filter(F.col("rr") <= k_neighborhood)
        .groupBy("neighbor_id")
        .agg((F.sum("cosine") / F.count(F.lit(1))).alias("avg_b"))
    )
    margin = F.round(
        F.col("cosine") / ((F.col("avg_a") + F.col("avg_b")) / 2.0)
        + F.lit(1e-9),
        4,
    )
    wm = Window.partitionBy("query_id").orderBy(
        F.col("margin").desc(), F.col("neighbor_id")
    )
    return (
        scored.join(avg_l, "query_id")
        .join(avg_r, "neighbor_id")
        .withColumn("margin", margin)
        .withColumn("rm", F.row_number().over(wm))
        .filter((F.col("rm") == 1) & (F.col("margin") >= margin_threshold))
        .select(
            F.col("query_id").alias("vec_a"),
            F.col("neighbor_id").alias("vec_b"),
            "cosine",
            "margin",
        )
        .orderBy("vec_a")
    )


class TestBitextSinglePass:
    """The r12 single-pass (explode-reshape) reductions must match the
    r11 two-aggregate / three-consumer forms row-for-row."""

    KW = dict(bits=4, tables=8)

    def test_mutual_parity(self, spark, sf_dir):
        left, right = _halves(spark, sf_dir)
        new = _rows(mutual_best_match(left, right, **self.KW))
        scored = _lsh_scored_pairs(
            left, right, seed=42, query_id="vec_id", corpus_id="vec_id",
            vec_col="embedding", **self.KW,
        )
        old = _rows(_legacy_mutual(scored))
        assert new == old
        assert len(new) > 0

    def test_margin_parity(self, spark, sf_dir):
        left, right = _halves(spark, sf_dir)
        new = _rows(margin_best_match(left, right, **self.KW))
        scored = _lsh_scored_pairs(
            left, right, seed=42, query_id="vec_id", corpus_id="vec_id",
            vec_col="embedding", **self.KW,
        )
        old = _rows(_legacy_margin(scored))
        assert new == old
        assert len(new) > 0

    def test_no_persisted_rdd_leaks(self, spark, sf_dir):
        """VERDICT r11 #5: the r11 persists leaked for the session
        lifetime.  The single-pass default path holds NO cache at all."""
        left, right = _halves(spark, sf_dir)
        jsc = spark.sparkContext._jsc.sc()
        before = jsc.getPersistentRDDs().size()
        mutual_best_match(left, right, **self.KW).collect()
        margin_best_match(left, right, **self.KW).collect()
        assert jsc.getPersistentRDDs().size() == before

    def test_mismatched_id_types_take_legacy_arm_and_agree(self, spark, sf_dir):
        """int-vs-long ids route to the legacy two-aggregate arm; the
        pairs must agree with the single-pass result on the same data,
        and the arm's persist must be RELEASED (only the GC-managed
        result checkpoint may remain)."""
        left, right = _halves(spark, sf_dir)
        left_int = left.withColumn("vec_id", F.col("vec_id").cast("int"))
        jsc = spark.sparkContext._jsc.sc()
        before = jsc.getPersistentRDDs().size()
        got = _rows(mutual_best_match(left_int, right, **self.KW))
        want = _rows(mutual_best_match(left, right, **self.KW))
        assert [(int(a), int(b), c) for a, b, c in got] == [
            (int(a), int(b), c) for a, b, c in want
        ]
        # scored-frame persist released; at most the result-sized
        # localCheckpoint block remains (GC-managed)
        assert jsc.getPersistentRDDs().size() <= before + 1


# -- containment_pairs posting-intersection verify ----------------------------


class TestContainmentPostingVerify:
    """The r12 posting-intersection verify must match the r11
    array_intersect pair-attach verify row-for-row."""

    def test_fixture_parity(self, spark, sf_dir):
        from flink_elasticsearch_ingestion_spark.operators.dedup import (
            containment_pairs,
            minhash_signature_table,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        threshold = 0.6
        new = _rows(containment_pairs(docs, threshold=threshold))

        # legacy verify, re-derived: same signature table, same
        # prefix-filter blocking, array_intersect on the attached sets
        sigs = minhash_signature_table(
            docs, arrow=True
        ).select(F.col("doc_id").alias("doc"), F.col("shingles").alias("sh"))
        plen = (
            F.floor((F.lit(1.0) - F.lit(threshold)) * F.size("sh")) + 1
        ).cast("int")
        ex = sigs.select("doc", F.explode("sh").alias("s"))
        ex_p = sigs.select("doc", plen.alias("plen"), F.explode("sh").alias("s"))
        dfc = ex.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
        ranked = (
            ex_p.join(dfc, "s")
            .withColumn(
                "rn",
                F.row_number().over(Window.partitionBy("doc").orderBy("df", "s")),
            )
            .filter(F.col("rn") <= F.col("plen"))
            .select("doc", "s")
        )
        cand = (
            ranked.alias("a")
            .join(ex.alias("b"), F.col("a.s") == F.col("b.s"))
            .filter(F.col("a.doc") != F.col("b.doc"))
            .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
            .distinct()
        )
        ha = sigs.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"))
        hb = sigs.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"))
        cont = F.size(F.array_intersect("sh_a", "sh_b")) / F.greatest(
            F.size("sh_a"), F.lit(1)
        )
        old = _rows(
            cand.join(ha, "doc_a")
            .join(hb, "doc_b")
            .withColumn("containment", F.round(cont + 1e-9, 6))
            .filter(F.col("containment") >= threshold)
            .select(
                F.col("doc_a").alias("contained_id"),
                F.col("doc_b").alias("container_id"),
                "containment",
            )
        )
        assert new == old

    def test_duplicate_docs_verify_at_full_containment(self, spark):
        rows = [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),
            (3, "totally different words nothing shared here at all"),
        ]
        from flink_elasticsearch_ingestion_spark.operators.dedup import (
            containment_pairs,
        )

        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        got = {(r[0], r[1]): r[2] for r in containment_pairs(df).collect()}
        assert got[(1, 2)] == pytest.approx(1.0)
        assert got[(2, 1)] == pytest.approx(1.0)
        assert (1, 3) not in got and (3, 1) not in got


# -- join_size_estimate native-key exact arm ----------------------------------


class TestJoinSizeNativeKeys:
    """ADVICE r11: the exact arm must join NATIVE keys again — values
    equal under numeric coercion (int 1 vs double 1.0) count as joined,
    exactly as before r11's string-cast regression."""

    def test_numeric_coercion_matches(self, spark):
        left = spark.createDataFrame([(1,), (1,), (2,)], "k int")
        right = spark.createDataFrame([(1.0,), (2.0,), (3.0,)], "kd double")
        row = join_size_estimate(left, right, "k", "kd").collect()[0]
        assert row["n_left"] == 3 and row["n_right"] == 3
        # int 1 == double 1.0 under native coercion: 2*1 + 1*1 = 3
        assert row["true_join_size"] == 3
        # the sketch hashes both key types in one canonical form, so
        # coerced-equal keys share buckets and it never underestimates
        assert row["est_join_size"] >= row["true_join_size"]
        assert row["overestimate"] >= 0

    def test_fixture_values_unchanged(self, spark, sf_dir):
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        od = spark.read.parquet(f"{sf_dir}/orders.parquet")
        row = join_size_estimate(li, od, "l_orderkey", "o_orderkey").collect()[0]
        # every lineitem matches exactly one order
        assert row["true_join_size"] == row["n_left"]
        assert row["est_join_size"] >= row["true_join_size"]
