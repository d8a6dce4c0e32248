"""Pure-SQL-expression reference build of the MinHash signature table.

``operators.dedup.minhash_signature_table`` is one vectorized kernel
(numpy over Arrow batches). This module keeps the expression form it
replaced (the md5-31 token hashes, the polynomial shingle combine and
the affine permutations, all as Spark built-ins, the same arithmetic
the DuckDB oracle inlines) so the parity tests can pin the kernel to
it bit for bit: doc_id, shingle set (values and order) and every
signature slot.
"""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_elasticsearch_ingestion_spark.operators.dedup import (
    MERSENNE31,
    MINHASH_COEFFS,
    portable_hash31,
    shingle_table,
)
from flink_elasticsearch_ingestion_spark.operators.util import (
    bind_once,
    ensure_parallelism,
)


def char_shingles(col: str = "text", k: int = 5) -> F.Column:
    """Distinct k-char shingles of the normalized text, as an array.
    The normalize runs once per row (``bind_once``), not once per
    shingle position."""
    normalized = F.regexp_replace(F.lower(F.trim(F.col(col))), "\\s+", " ")

    def build(s: F.Column) -> F.Column:
        n = F.greatest(F.length(s) - F.lit(k - 1), F.lit(1))
        return F.array_distinct(
            F.transform(F.sequence(F.lit(1), n), lambda i: s.substr(i, F.lit(k)))
        )

    return bind_once(normalized, build)


def portable_minhash_signature(hashes: F.Column, num_hashes: int = 16) -> F.Column:
    """MinHash signature over 31-bit shingle hashes with the affine
    family h_j(x) = (a_j*x + b_j) mod (2^31-1) and the module-constant
    ``MINHASH_COEFFS``: every product stays below 2^62, so plain BIGINT
    arithmetic is exact (ANSI-safe)."""
    A = F.array(*[F.lit(a) for a, _ in MINHASH_COEFFS[:num_hashes]])
    B = F.array(*[F.lit(b) for _, b in MINHASH_COEFFS[:num_hashes]])
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda j: F.array_min(
            F.transform(
                hashes,
                lambda h: (F.element_at(A, j + 1) * h + F.element_at(B, j + 1))
                % F.lit(MERSENNE31),
            )
        ),
    )


def reference_signature_table(
    documents: DataFrame,
    *,
    word_k: int | None = 3,
    shingle_k: int = 5,
    num_hashes: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, shingles, sig) with ``minhash_signature_table``'s
    arguments, built from SQL expressions only."""
    if word_k:
        shingled = shingle_table(
            documents, word_k=word_k, id_col=id_col, text_col=text_col
        )
    else:
        char_expr = F.array_distinct(
            F.transform(
                char_shingles(text_col, shingle_k), lambda s: portable_hash31(s)
            )
        )
        shingled = ensure_parallelism(documents).select(
            F.col(id_col).alias("doc_id"), char_expr.alias("shingles")
        )
    return shingled.select(
        "doc_id",
        "shingles",
        portable_minhash_signature(F.col("shingles"), num_hashes).alias("sig"),
    )
