"""Pure-SQL-expression reference of the sign-LSH vector-match stages.

``operators.similarity`` bands vectors with one numpy kernel
(``_arrow_banded``: a BLAS matmul per Arrow batch) and scores the
candidate pairs of ``_lsh_scored_pairs`` bucket-locally
(``_bucket_matmul_scores``). This module builds the same stages as
SQL expressions (the posexplode of ``lsh_bucket_expr``, the ids-only
collision join and the ``cosine`` fold, the arithmetic the DuckDB
oracle inlines) so the parity tests can pin the kernels to them bit
for bit. ``reference_stages()`` swaps both stages into the operators
while a plan is built, so a public operator can be compared end to
end with its expression form.
"""

from unittest import mock

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_elasticsearch_ingestion_spark.operators import similarity as S


def lsh_bucket(vec_col: F.Column, planes: list[list[float]]) -> F.Column:
    """Random-hyperplane signature -> integer bucket id (sign bits),
    built Column by Column: the readable twin of ``lsh_bucket_expr``."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(x) for x in plane])
        bit = F.when(
            S.dot(vec_col, p) >= 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
        bucket = bucket.bitwiseOR(bit)
    return bucket


def reference_banded(
    df: DataFrame,
    id_col: str,
    out_id: str,
    *,
    dim: int,
    bits: int,
    tables: int,
    seed: int,
    vec_col: str,
    bucket_shift: "float | None" = None,
) -> DataFrame:
    """``_arrow_banded``'s (id, table_idx, bucket) triples, with its
    arguments, as the posexplode of one ``lsh_bucket_expr`` per table."""
    df = df.filter(F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dim))
    lsh_vec = vec_col
    if bucket_shift is not None:
        df = df.withColumn(
            "__vec_lsh",
            F.expr(
                f"transform({vec_col}, x -> CAST(x AS DOUBLE)"
                f" - {float(bucket_shift)!r}D)"
            ),
        )
        lsh_vec = "__vec_lsh"
    buckets = [
        S.lsh_bucket_expr(lsh_vec, S._hyperplanes(dim, bits, seed + t)).alias(f"b{t}")
        for t in range(tables)
    ]
    return df.select(F.col(id_col).alias(out_id), *buckets).select(
        out_id,
        F.posexplode(F.array(*[F.col(f"b{t}") for t in range(tables)])).alias(
            "table_idx", "bucket"
        ),
    )


def reference_scored_pairs(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    bits: int,
    tables: int,
    seed: int,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    bucket_shift: "float | None" = None,
    center_check: "bool | str" = True,
) -> DataFrame:
    """``_lsh_scored_pairs``, with its arguments: the ids-only
    (table, bucket) collision join and pair dedup, then both vectors
    re-attach to each distinct pair and the ``cosine`` fold scores it.
    The dimension probe and the centering preflight are the operator's."""
    head = [
        r[0] for r in queries.select(vec_col).limit(64).collect()
        if r[0] is not None
    ]
    dim = len(head[0])
    if center_check and bucket_shift is None:
        S._warn_if_off_center(head, strict=(center_check == "strict"))
    band = dict(
        dim=dim, bits=bits, tables=tables, seed=seed, vec_col=vec_col,
        bucket_shift=bucket_shift,
    )
    bq = reference_banded(queries, query_id, "query_id", **band)
    bc = reference_banded(corpus, corpus_id, "neighbor_id", **band)
    cand_ids = (
        bq.join(
            bc,
            (bq["table_idx"] == bc["table_idx"]) & (bq["bucket"] == bc["bucket"]),
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    q_vecs = queries.select(
        F.col(query_id).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c_vecs = corpus.select(
        F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    pairs = cand_ids.join(q_vecs, "query_id").join(c_vecs, "neighbor_id")
    return pairs.select(
        "query_id",
        "neighbor_id",
        F.round(S.cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cosine"),
    )


def reference_stages():
    """Context manager: inside it, ``operators.similarity`` bands with
    ``reference_banded`` and scores LSH candidates with
    ``reference_scored_pairs``. An operator called inside it returns a
    plan built on the reference stages."""
    return mock.patch.multiple(
        S,
        _arrow_banded=reference_banded,
        _lsh_scored_pairs=reference_scored_pairs,
    )
