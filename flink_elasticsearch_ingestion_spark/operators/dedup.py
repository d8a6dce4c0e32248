"""Deduplication operators (north-star ext): exact, content-hash,
MinHash+LSH, SimHash, n-gram Jaccard.

Scale design: exact dedup is one hash-shuffle on the dedup key. The
near-dup path never goes O(n^2): shingle -> MinHash signature (map-side,
per row) -> LSH band keys -> self-join on band key only (candidates
sharing a band) -> exact Jaccard verify on the candidate pairs. At
100 TB the band join is the only shuffle and its key cardinality is
tunable via (bands, rows-per-band).

Everything below is built-in expressions (hash/xxhash64/transform/
aggregate), except the MinHash signature kernel: one vectorized
``mapInPandas`` stage. No MLlib, no row-at-a-time Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flink_elasticsearch_ingestion_spark.operators.util import (
    bind_once,
    ensure_parallelism,
)


# ---------------------------------------------------------------------------
# The MinHash/SimHash hash family
#
# Every shingle, signature and band key below is built on ONE md5-based
# family: md5 is bit-identical across Spark, DuckDB, Postgres, Trino...,
# so a MinHash/SimHash/split built on it can be value-hash-verified
# end-to-end by an independent SQL engine.  DuckDB twin of portable_hash31:
#     ('0x' || substr(md5(s), 1, 8))::BIGINT % 2147483647
# Feature hashes are 31-bit, so SimHash signatures carry at most 31 bits.
# Cost: one md5 per token, dearer than the JVM's xxhash64; the one
# signature kernel (``minhash_signature_table``, vectorized numpy over
# Arrow batches, md5 memoized per batch) recovers part of that.  Its bit
# parity with a pure-SQL build is pinned against
# ``tests/minhash_reference.py``.  A faster engine-specific family would
# give results no other engine can check, so there is no second family.
# ---------------------------------------------------------------------------

MERSENNE31 = 2147483647  # 2^31 - 1, prime; modulus of the affine perms

#: signal bits of a SimHash over md5-31 feature hashes
SIMHASH_MAX_BITS = 31

#: fixed affine coefficients (a_j, b_j) for the portable MinHash perms —
#: deterministic so the DuckDB oracle can inline the same literals
import random as _random

_rng = _random.Random(0x5EED)
MINHASH_COEFFS: list[tuple[int, int]] = [
    (_rng.randrange(1, MERSENNE31), _rng.randrange(0, MERSENNE31))
    for _ in range(64)
]
del _rng


def portable_hash31(col: F.Column) -> F.Column:
    """31-bit engine-portable string hash: first 8 hex digits of md5,
    reduced mod 2^31-1. Identical in DuckDB (see module comment)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint") % F.lit(
        MERSENNE31
    )


#: multiplier of the polynomial shingle combine — prime, < 2^31 so every
#: intermediate of ((acc*POLY_C) % p + h) % p stays below 2^62 (exact in
#: BIGINT on any engine)
POLY_C = 1000003


def dedup_exact(df: DataFrame, key: str = "doc_id") -> DataFrame:
    """Exact dedup by key — one shuffle; deterministic representative
    (min of all other columns per key) so tests and re-runs agree."""
    others = [c for c in df.columns if c != key]
    return df.groupBy(key).agg(*[F.min(c).alias(c) for c in others])


def dedup_by_content(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Content-hash dedup: sha256 of normalized text; keeps the smallest
    doc_id per distinct content (deterministic)."""
    normalized = F.regexp_replace(F.lower(F.trim(F.col(text_col))), "\\s+", " ")
    hashed = documents.withColumn("content_hash", F.sha2(normalized, 256))
    return (
        hashed.groupBy("content_hash")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


#: see operators.util.bind_once — the HOF once-per-row binding trick
_bind_once = bind_once


def word_shingles(col: str = "text", k: int = 3) -> F.Column:
    """Distinct k-word shingles (n-grams) as an array of strings. The
    tokenization runs once per row (``_bind_once``), not once per
    shingle position."""
    toks = F.split(F.regexp_replace(F.lower(F.trim(F.col(col))), "\\s+", " "), " ")

    def build(t: F.Column) -> F.Column:
        n = F.greatest(F.size(t) - F.lit(k - 1), F.lit(1))
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n),
                lambda i: F.concat_ws(" ", F.slice(t, i, k)),
            )
        )

    return _bind_once(toks, build)


def _hashed_tokens(col: str) -> F.Column:
    """Per-token md5-31 hash array (``array<bigint>``): ONE regex pass +
    ONE string-hash pass over the text."""
    toks = F.split(F.regexp_replace(F.lower(F.trim(F.col(col))), "\\s+", " "), " ")
    return F.transform(toks, lambda t: portable_hash31(t))


def _shingles_from_tokens(ht: F.Column, k: int) -> F.Column:
    """Distinct k-shingle hashes from an ALREADY-MATERIALIZED
    token-hash column (fixed-width integer work only): a left-fold
    polynomial combine over each k-token slice. DuckDB twin:
    ``list_reduce(list_prepend(0, ht[i:i+k-1]),
    (a, x) -> ((a*1000003) % p + x) % p)``."""
    n = F.greatest(F.size(ht) - F.lit(k - 1), F.lit(1))
    p = F.lit(MERSENNE31)

    def comb(i: F.Column) -> F.Column:
        return F.aggregate(
            F.slice(ht, i, k),
            F.lit(0).cast("bigint"),
            lambda acc, h: ((acc * F.lit(POLY_C)) % p + h) % p,
        )

    return F.array_distinct(F.transform(F.sequence(F.lit(1), n), comb))


def shingle_table(
    documents: DataFrame,
    *,
    word_k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, shingles): the word-shingle build as TWO chained
    projections — token hashes materialized in their own projection,
    shingle combines referencing the named column.

    Why two steps: a single Column expression inlines the token-hash
    ``transform`` into the per-shingle lambda, and higher-order lambdas
    re-evaluate their whole body per element — the full token string
    hash pass ran once PER GRAM POSITION (~word count squared string
    hashes per doc; measured 4-10x slower at sf0.1). With the token
    hashes behind a column boundary they run once per row and the
    per-gram work is a k-element integer slice."""
    doc = ensure_parallelism(documents)
    ht_df = doc.select(
        F.col(id_col).alias("doc_id"),
        _hashed_tokens(text_col).alias("__ht"),
    )
    return ht_df.select(
        "doc_id",
        _shingles_from_tokens(F.col("__ht"), word_k).alias("shingles"),
    )


def simhash64(hashed_col: str, bits: int = 64) -> F.Column:
    """SimHash signature over a named ``array<bigint>`` hashed-shingle
    column, as ONE compact nested-higher-order expression.

    Classic SimHash: per bit b, vote +1/-1 by bit b of each shingle
    hash; signature bit b is set iff the vote sum is positive. The
    per-bit loop lives INSIDE the expression (SQL ``transform`` over
    ``sequence(0, bits-1)`` — SQL shiftright accepts a lambda-var shift
    count, unlike the Python wrapper), so the expression tree is O(1)
    in ``bits``. The unrolled 64-branch form this replaces took ~27 s
    at sf0.1, nearly all Janino compile + per-row branch soup; this
    form runs the same math in well under a second.
    """
    votes = (
        f"aggregate({hashed_col}, "
        f"  array_repeat(0L, {bits}), "
        f"  (acc, h) -> zip_with(acc, "
        f"    transform(sequence(0, {bits - 1}), "
        f"      b -> IF((shiftright(h, b) & 1) = 1, 1L, -1L)), "
        f"    (a, v) -> a + v))"
    )
    sig = (
        f"aggregate(zip_with({votes}, sequence(0, {bits - 1}), "
        f"    (v, b) -> IF(v > 0, shiftleft(1L, b), 0L)), "
        f"  0L, (acc, x) -> acc | x)"
    )
    return F.expr(sig)


def minhash_signature_table(
    documents: DataFrame,
    *,
    word_k: int | None = 3,
    shingle_k: int = 5,
    num_hashes: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, shingles, sig): the materializable signature table —
    hashed shingle sets (``array<bigint>``, ~1% of corpus size on
    prose) plus the MinHash signature. At 100 TB, write THIS to parquet
    once and run every near-dup pass against it
    (``write_signature_table`` / ``near_duplicates_from_signatures``)
    instead of re-shingling the corpus per run.

    Shingles are ``word_k`` word n-grams, or ``shingle_k`` char n-grams
    when ``word_k`` is None. Hashes are the md5-31 family (module
    comment above), so an independent SQL engine can re-derive the
    identical signatures: the pure-SQL build lives in
    ``tests/minhash_reference.py``, and the parity tests pin this
    kernel to it bit for bit.

    One map stage over Arrow batches, numpy inside — the measured
    100 TB-wall constant of the MinHash family (the 16-perm map stage
    under ``minhash_band_stats`` ran exactly linear but at 124 s/sf10
    as a SQL expression; see SCALE.md):

    - normalize/tokenize replicated operator-for-operator from the SQL
      form: ``trim`` strips ASCII space only, ``\\s`` is the Java
      ASCII class, and the split keeps empty tokens — each matching the
      Spark expression, not the Python defaults;
    - md5-31 token hashes memoized per batch (Zipf: the unique-token
      count is a small fraction of occurrences);
    - the poly shingle combine runs as k vectorized int64 passes over
      a sliding window view; every intermediate stays < 2^62 exactly
      as in the SQL fold;
    - all ``num_hashes`` affine perms run as ONE (H x N) vectorized
      modmul over the batch-concatenated shingle array with a
      segment-min (``np.minimum.reduceat``) per doc.

    Null text degrades as the SQL fold does: ``shingles = [null]`` (the
    HOF fold over a null input collapses to a single null element, not
    a null array) and sig = array of ``num_hashes`` nulls."""
    import numpy as np
    import pandas as pd

    id_type = documents.schema[id_col].dataType.simpleString()
    A = np.array([a for a, _ in MINHASH_COEFFS[:num_hashes]], dtype=np.int64)
    B = np.array([b for _, b in MINHASH_COEFFS[:num_hashes]], dtype=np.int64)
    P = MERSENNE31

    def build(batches):
        import hashlib
        import re

        # Java \s (no UNICODE_CHARACTER_CLASS) = ASCII whitespace only;
        # Python's \s would also eat \xa0 etc. and drift from the
        # expression form on unicode whitespace
        ws = re.compile("[ \t\n\x0b\f\r]+")
        cache: dict[str, int] = {}

        def h31(s: str) -> int:
            v = cache.get(s)
            if v is None:
                v = int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16) % P
                cache[s] = v
            return v

        for pdf in batches:
            ids, sh_lists = [], []
            for did, txt in zip(pdf["doc_id"], pdf["__text"]):
                if txt is None:
                    ids.append(did)
                    sh_lists.append(None)
                    continue
                # F.regexp_replace(F.lower(F.trim(col)), "\\s+", " "):
                # trim strips ASCII 0x20 only, then lowercase, then the
                # ASCII-\s collapse — same operator order
                norm = ws.sub(" ", str(txt).strip(" ").lower())
                if word_k:
                    # F.split(norm, " ") keeps empty tokens ("" -> [""])
                    toks = norm.split(" ")
                    ht = np.fromiter(
                        (h31(t) for t in toks), dtype=np.int64, count=len(toks)
                    )
                    if len(ht) >= word_k:
                        W = np.lib.stride_tricks.sliding_window_view(ht, word_k)
                        acc = np.zeros(len(W), dtype=np.int64)
                        for j in range(word_k):
                            acc = (acc * POLY_C % P + W[:, j]) % P
                    else:
                        # slice(ht, 1, k) on a short array folds what's
                        # there — one shingle from all tokens
                        a = np.int64(0)
                        for h in ht:
                            a = (a * POLY_C % P + h) % P
                        acc = np.array([a], dtype=np.int64)
                    sh = pd.unique(acc)  # array_distinct: first-occurrence order
                else:
                    n = max(len(norm) - (shingle_k - 1), 1)
                    grams = dict.fromkeys(
                        norm[i : i + shingle_k] for i in range(n)
                    )  # inner array_distinct on the shingle strings
                    hs = np.fromiter(
                        (h31(g) for g in grams), dtype=np.int64, count=len(grams)
                    )
                    sh = pd.unique(hs)  # outer array_distinct on the hashes
                ids.append(did)
                sh_lists.append(sh)
            live = [s for s in sh_lists if s is not None]
            if live:
                lens = np.array([len(s) for s in live])
                starts = np.zeros(len(live), dtype=np.int64)
                np.cumsum(lens[:-1], out=starts[1:])
                allv = np.concatenate(live)
                # one (H x N) vectorized affine pass; products < 2^62
                vals = (A[:, None] * allv[None, :] + B[:, None]) % P
                mins = np.stack(
                    [np.minimum.reduceat(vals[j], starts) for j in range(num_hashes)],
                    axis=1,
                )  # n_live x num_hashes
            sigs, li = [], 0
            for s in sh_lists:
                if s is None:
                    sigs.append([None] * num_hashes)
                else:
                    sigs.append(mins[li].tolist())
                    li += 1
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    # null text: the expression fold yields a single
                    # null ELEMENT ([null]), not a null array
                    "shingles": [
                        [None] if s is None else s.tolist() for s in sh_lists
                    ],
                    "sig": sigs,
                }
            )

    narrow = ensure_parallelism(documents).select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")
    )
    return narrow.mapInPandas(
        build,
        schema=f"doc_id {id_type}, shingles array<bigint>, sig array<bigint>",
    )


def write_signature_table(documents: DataFrame, path: str, **kwargs) -> None:
    """Materialize the MinHash signature table to parquet — the scale
    analog of the in-memory persist barrier the direct operator uses."""
    minhash_signature_table(documents, **kwargs).write.mode("overwrite").parquet(path)


def _banded(signatures: DataFrame, *, num_hashes: int, bands: int) -> DataFrame:
    """Explode a (doc_id, sig) table into (doc_id, band_idx, band_hash)
    rows — THE band-key definition, shared by the batch self-join and
    the incremental batch-vs-corpus join so corpus and batch signatures
    can never drift onto incompatible keys. A band key is the literal
    signature slice rendered as a CSV string: slightly wider shuffle
    keys than a hash of the slice, but an independent SQL engine
    derives the identical key (no engine-specific hash in the join)."""
    rows_per_band = num_hashes // bands
    band_key = lambda b: F.concat_ws(  # noqa: E731
        ",",
        F.transform(
            F.slice(F.col("sig"), b * rows_per_band + F.lit(1), rows_per_band),
            lambda x: x.cast("string"),
        ),
    )
    return signatures.select(
        "doc_id",
        F.posexplode(
            F.transform(F.sequence(F.lit(0), F.lit(bands - 1)), band_key)
        ).alias("band_idx", "band_hash"),
    )


def near_duplicates_from_signatures(
    signatures: DataFrame,
    *,
    num_hashes: int = 16,
    bands: int = 8,
    jaccard_threshold: float = 0.6,
    band_cap: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs from an existing (doc_id, shingles, sig) table
    (see ``minhash_signature_table``): band explode -> ids-only band
    self-join -> exact Jaccard verify. ``num_hashes``/``bands`` must
    match the values the table was built with.

    ``band_cap`` bounds the per-(band, hash) bucket the same way
    ``simhash_buckets`` bounds its reducer state: a degenerate corpus
    (say 10^6 byte-identical documents) would otherwise make ONE band
    bucket quadratic — 10^12 candidate pairs out of a single join key.
    Each bucket keeps its first ``band_cap`` doc_ids (deterministic:
    ordered by doc_id), so a pathological bucket emits at most
    cap*(cap-1)/2 pairs per band.  Exact duplicates beyond the cap are
    the EXACT-dedup operator's job (run content-hash dedup first — it
    collapses identical texts to one representative before LSH ever
    sees them); genuinely-near (not identical) clusters bigger than
    ``band_cap`` still pair up through their other ``bands-1`` bands.
    ``band_cap=None`` disables the guard."""
    banded = _banded(signatures, num_hashes=num_hashes, bands=bands)
    if band_cap is not None:
        # same shuffle keys as the band join below, so AQE/exchange
        # reuse keeps this from adding an extra wide stage in practice
        w = Window.partitionBy("band_idx", "band_hash").orderBy("doc_id")
        banded = (
            banded.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= band_cap)
            .drop("_rn")
        )
    left = banded.alias("l")
    right = banded.alias("r")
    candidates = (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sh_a = signatures.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sh_b = signatures.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        candidates.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .withColumn("jaccard", F.round(inter / F.greatest(union, F.lit(1)), 6))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


def minhash_near_duplicates(
    documents: DataFrame,
    *,
    word_k: int | None = 3,
    shingle_k: int = 5,
    num_hashes: int = 16,
    bands: int = 8,
    jaccard_threshold: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
    band_cap: int | None = 1000,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding + exact verify.

    Shingling is word-level by default (``word_k`` w-shingles — an
    order of magnitude fewer set elements than char shingles on prose,
    so 32 minhash passes stay cheap); pass ``word_k=None`` to use
    ``shingle_k`` char shingles.

    Plan shape (the 100 TB path):
      1. map: shingle set + MinHash signature per doc (no shuffle)
      2. explode signature into ``bands`` band-hash keys (ids only)
      3. self-equi-join on (band_index, band_hash)  <- the ONLY wide shuffle
      4. distinct candidate pairs -> re-attach shingles -> exact Jaccard
      5. filter >= threshold

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.

    The signature table is persisted before the band join: the
    self-join + verify step would otherwise recompute the shingle
    subtree up to 4x (and Catalyst's projection collapse can inline it
    per-output-row — measured 15x worse without the barrier). At
    100 TB the same role is played by ``write_signature_table`` +
    ``near_duplicates_from_signatures`` against parquet, not by
    executor cache.
    """
    sig_table = minhash_signature_table(
        documents,
        word_k=word_k,
        shingle_k=shingle_k,
        num_hashes=num_hashes,
        id_col=id_col,
        text_col=text_col,
    ).persist()
    # Fill the cache EAGERLY: persist() alone is lazy, and the first
    # action schedules the band join's four consumers (left/right band
    # explode, both shingle re-attaches) as concurrent stages that race
    # the cold cache and each recompute the shingle+minhash subtree
    # (measured 4-15x worse under that race). One cheap count() turns
    # every consumer into a cache hit.
    sig_table.count()
    return near_duplicates_from_signatures(
        sig_table,
        num_hashes=num_hashes,
        bands=bands,
        jaccard_threshold=jaccard_threshold,
        band_cap=band_cap,
    )


def near_duplicates_incremental(
    corpus_sigs: DataFrame,
    new_sigs: DataFrame,
    *,
    num_hashes: int = 16,
    bands: int = 8,
    jaccard_threshold: float = 0.6,
    band_cap: int | None = 1000,
) -> DataFrame:
    """Near-duplicates of a NEW batch against an existing corpus — the
    daily-increment shape of the dedup pipeline.

    At 100 TB the full self-join is the wrong tool for ingesting a
    daily crawl: the corpus signature table is materialized ONCE
    (``write_signature_table``), and each increment only asks "which
    new documents duplicate anything already accepted (or each
    other)?". The band join here is new-batch-sized on one side —
    corpus-vs-corpus candidate pairs are never generated, so the wide
    work scales with the increment, not the corpus. When the batch is
    small the banded batch side broadcasts and the corpus band scan is
    the only fact-sized read.

    Both inputs are (doc_id, shingles, sig) tables built by
    ``minhash_signature_table`` with the SAME (num_hashes, bands).
    ``band_cap`` bounds each corpus band bucket exactly like the batch
    pipeline (degenerate-corpus guard).

    Returns (new_id, dup_id, jaccard): every new document paired with
    the corpus documents and earlier-id new documents it near-
    duplicates; ``dup_id < new_id`` when both are new. Equivalent to
    running the full self-join over corpus+batch and keeping pairs
    whose larger id is in the batch — which is exactly how the DuckDB
    oracle verifies it."""
    corpus_bands = _banded(corpus_sigs, num_hashes=num_hashes, bands=bands)
    if band_cap is not None:
        w = Window.partitionBy("band_idx", "band_hash").orderBy("doc_id")
        corpus_bands = (
            corpus_bands.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= band_cap)
            .drop("_rn")
        )
    new_bands = _banded(new_sigs, num_hashes=num_hashes, bands=bands)
    # new-vs-corpus: plain equi-join, no id ordering (disjoint id sets)
    vs_corpus = (
        new_bands.alias("n")
        .join(
            corpus_bands.alias("c"),
            (F.col("n.band_idx") == F.col("c.band_idx"))
            & (F.col("n.band_hash") == F.col("c.band_hash")),
        )
        .select(F.col("n.doc_id").alias("new_id"), F.col("c.doc_id").alias("dup_id"))
    )
    # new-vs-new: standard self-join with id ordering
    vs_new = (
        new_bands.alias("a")
        .join(
            new_bands.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("b.doc_id") < F.col("a.doc_id")),
        )
        .select(F.col("a.doc_id").alias("new_id"), F.col("b.doc_id").alias("dup_id"))
    )
    candidates = vs_corpus.unionByName(vs_new).dropDuplicates(["new_id", "dup_id"])
    # new_id is ALWAYS a batch document, so its shingle side is
    # batch-sized; only the dup_id side needs corpus ∪ batch — this
    # keeps every per-increment input increment-sized except the one
    # unavoidable corpus read
    sh_n = new_sigs.select(
        F.col("doc_id").alias("new_id"), F.col("shingles").alias("sh_n")
    )
    sh_d = (
        corpus_sigs.select("doc_id", "shingles")
        .unionByName(new_sigs.select("doc_id", "shingles"))
        .select(F.col("doc_id").alias("dup_id"), F.col("shingles").alias("sh_d"))
    )
    inter = F.size(F.array_intersect("sh_n", "sh_d"))
    union = F.size(F.array_union("sh_n", "sh_d"))
    return (
        candidates.join(sh_n, "new_id")
        .join(sh_d, "dup_id")
        .withColumn("jaccard", F.round(inter / F.greatest(union, F.lit(1)), 6))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("new_id", "dup_id", "jaccard")
        .orderBy("new_id", "dup_id")
    )


def ngram_jaccard_pairs(
    documents: DataFrame,
    *,
    word_k: int = 3,
    threshold: float = 0.1,
    max_docs: int | None = None,
    df_cap: int | None = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs that share at
    least one n-gram (inverted-index join — never all-pairs).

    Shuffle profile: explode n-grams -> join on the n-gram (candidate
    generation) -> exact verify on the pair. Sharing one rare n-gram is
    a far tighter candidate set than a cross join at scale; the shared-
    ngram count from the join itself IS the intersection size, so the
    verify step needs no second pass over the texts.

    ``df_cap`` is the stop-shingle guard that makes this survive a real
    corpus: a gram whose posting list has ``p`` docs contributes
    O(p^2) candidate rows to the self-join, so one stop-gram shared by
    10^6 docs would hand a single reducer a 10^12-pair blowup. Grams
    with document frequency > ``df_cap`` are dropped BEFORE the join
    (one cheap group-by on the gram). Dropped grams shrink the measured
    intersection, so reported Jaccard is a lower bound for pairs that
    share hot grams — which can only lose pairs whose similarity rides
    on ubiquitous shingles, exactly the pairs near-dup mining wants to
    ignore; pairs connected by any rare gram are unaffected. Pass
    ``df_cap=None`` for the exact (unguarded) semantics on bounded
    corpora.
    """
    docs = documents.select(F.col(id_col).alias("doc_id"), word_shingles(text_col, word_k).alias("grams"))
    if max_docs is not None:
        docs = docs.filter(F.col("doc_id") < max_docs)
    sizes = docs.select("doc_id", F.size("grams").alias("n_grams"))
    exploded = docs.select("doc_id", F.explode("grams").alias("gram"))
    if df_cap is not None:
        # posting-list length per gram; rare grams survive. The join of
        # the exploded table against the (small) hot-gram list is a
        # broadcastable anti join — no extra wide shuffle.
        hot_grams = (
            exploded.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > df_cap)
            .select("gram")
        )
        exploded = exploded.join(F.broadcast(hot_grams), "gram", "left_anti")
    pairs = (
        exploded.alias("a")
        .join(exploded.alias("b"), (F.col("a.gram") == F.col("b.gram")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        pairs.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_grams", "grams_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_grams", "grams_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_shared") / (F.col("grams_a") + F.col("grams_b") - F.col("n_shared")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_shared", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


def _make_tracked_checkpoint(sc):
    """localCheckpoint + handles to the cache blocks it created, so
    superseded iterates can be unpersisted NOW rather than whenever the
    async ContextCleaner notices (measured: ~3 stranded RDD caches per
    call otherwise, unbounded growth on a shared session)."""

    def _tracked_checkpoint(df):
        jmap = sc._jsc.getPersistentRDDs()
        before = {int(k) for k in jmap.keySet().toArray()}
        out = df.localCheckpoint(eager=True)
        jmap = sc._jsc.getPersistentRDDs()
        blocks = [
            jmap.get(k) for k in jmap.keySet().toArray() if int(k) not in before
        ]
        return out, blocks

    return _tracked_checkpoint


#: below this many deduped edges, resolve components with a driver-side
#: union-find instead of the iterative distributed loop. Ids-only edges
#: at 2^16 rows is ~1 MB on the driver — the same bounded-collect
#: precedent as IVF's 2048-row training sample — and replaces
#: O(iterations) Spark jobs (seconds of scheduler overhead) with
#: milliseconds of in-memory pointer chasing. Near-dup graphs are tiny
#: relative to the corpus (the duplicate SUBGRAPH, not the corpus,
#: drives this bound); a 100 TB corpus whose dup graph exceeds it gets
#: the distributed loop automatically.
DRIVER_EDGE_BOUND = 1 << 16


def _driver_union_find(edge_rows) -> dict:
    """Path-compressing union-find over (u, v) tuples; min id becomes
    the representative by construction (union by smaller root)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    for u, v in edge_rows:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    return {n: find(n) for n in parent}


def connected_components(
    pairs: DataFrame,
    *,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iterations: int = 20,
    driver_edge_bound: int = DRIVER_EDGE_BOUND,
) -> DataFrame:
    """Resolve near-duplicate PAIRS into CLUSTERS: connected components
    by iterative min-label propagation over DataFrames.

    Each iteration joins the label table to the edge list and takes the
    min label per node — one shuffle on the node id per step, and the
    loop converges in O(graph diameter) iterations. That is the right
    trade for near-dup graphs, which are unions of small cliques
    (diameter 1-2, so 2-3 iterations); for adversarial long-path graphs
    the O(log n) alternating large-star/small-star scheme (Kiveris et
    al., SoCC'14) is the documented upgrade path. The loop runs on the
    driver but every step is a distributed DataFrame op — no collect.
    A fixed-point check (one short-circuit count per iteration) stops
    early; ``max_iterations`` bounds the worst case.

    Returns (node, component) where component = min doc_id reachable —
    the canonical cluster representative.
    """
    # undirected edge list, deduped; self-loops dropped
    edges = (
        pairs.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .dropDuplicates(["u", "v"])
    )
    # label table: every endpoint starts as its own component.
    # Each iteration references the label table THREE times (both join
    # directions + the union), so without truncation the logical plan
    # grows ~3x per iteration and Catalyst analysis goes exponential —
    # localCheckpoint materializes the iterate and cuts the lineage
    # (on a real cluster, a reliable checkpoint dir plays this role).
    edges = edges.persist()
    # tiny-graph fast path: one count (materializes the persist we need
    # anyway) decides between a bounded driver union-find and the
    # distributed loop — see DRIVER_EDGE_BOUND for the scale contract
    if driver_edge_bound and edges.count() <= driver_edge_bound:
        comp = _driver_union_find(
            (r["u"], r["v"]) for r in edges.collect()
        )
        spark = pairs.sparkSession
        edges.unpersist()
        return spark.createDataFrame(
            sorted(comp.items()), "node long, component long"
        )
    sc = pairs.sparkSession.sparkContext
    _tracked_checkpoint = _make_tracked_checkpoint(sc)

    labels, labels_blocks = _tracked_checkpoint(
        edges.select(F.col("u").alias("node"))
        .union(edges.select(F.col("v").alias("node")))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    for _ in range(max_iterations):
        # propagate: each node adopts the min component among itself
        # and its neighbors (one join per direction + one group-by)
        lu = labels.select(F.col("node").alias("u"), F.col("component").alias("cu"))
        lv = labels.select(F.col("node").alias("v"), F.col("component").alias("cv"))
        via_edges = (
            edges.join(lu, "u")
            .join(lv, "v")
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("u").alias("node"), F.col("cv").alias("component")),
                        F.struct(F.col("v").alias("node"), F.col("cu").alias("component")),
                    )
                ).alias("e")
            )
            .select("e.node", "e.component")
        )
        new_labels, new_blocks = _tracked_checkpoint(
            labels.union(via_edges)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        # the old iterate is fully consumed (new_labels is materialized,
        # `changed` is computed) — free its blocks immediately
        for h in labels_blocks:
            h.unpersist(False)
        labels, labels_blocks = new_labels, new_blocks
        if changed == 0:
            break
    edges.unpersist()
    # the FINAL iterate's blocks stay persisted — the returned DataFrame
    # reads them (lineage is truncated); the ContextCleaner frees them
    # when the caller drops the result.
    return labels.select(F.col("node"), F.col("component"))


def connected_components_star(
    pairs: DataFrame,
    *,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iterations: int = 30,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — the O(log n)-round upgrade path over
    :func:`connected_components`'s min-label propagation, whose round
    count is the graph DIAMETER. Near-dup graphs are unions of small
    cliques (diameter 1-2) where min-label wins on constant factors;
    this variant is for adversarial long-path graphs (chains of
    borderline-similar docs), where diameter-many rounds at 100 TB is
    the difference between 8 shuffles and 800.

    Edges are kept canonical big→small (``u > v``). Each round:
    large-star hangs every larger neighbor of a center onto the
    center's minimum; small-star re-hangs the smaller neighbors. Both
    are one groupBy(min) + one join — no collect_list, neighborhoods
    never materialize as arrays, so a 10^8-degree hub node costs a
    shuffle, not an executor OOM. Convergence = edge-set fingerprint
    (count + hash-sum) stable; at the fixed point every node points
    directly at its component's minimum id.

    Returns (node, component), same contract as
    :func:`connected_components` (differential-tested in
    tests/test_properties.py).
    """
    edges = (
        pairs.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        .dropDuplicates(["u", "v"])
    )
    sc = pairs.sparkSession.sparkContext
    _tracked_checkpoint = _make_tracked_checkpoint(sc)

    def fingerprint(e: DataFrame):
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.xxhash64(F.col("u"), F.col("v")).cast("decimal(38,0)")),
                F.lit(0),
            ).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    edges, blocks = _tracked_checkpoint(edges)
    fp = fingerprint(edges)
    for _ in range(max_iterations):
        # large-star: center c, neighbors n over the symmetric view;
        # every neighbor LARGER than the center hangs onto the center's
        # minimum m = min(neighborhood ∪ {c})
        sym = edges.select(F.col("u").alias("c"), F.col("v").alias("n")).union(
            edges.select(F.col("v").alias("c"), F.col("u").alias("n"))
        )
        mins = (
            sym.groupBy("c")
            .agg(F.min("n").alias("mn"))
            .select("c", F.least(F.col("mn"), F.col("c")).alias("m"))
        )
        large = (
            sym.join(mins, "c")
            .filter(F.col("n") > F.col("c"))
            .select(F.col("n").alias("u"), F.col("m").alias("v"))
            .dropDuplicates(["u", "v"])
        )
        # small-star: per big end u (all its neighbors are smaller),
        # re-hang every smaller neighbor (and u itself) onto the min
        smins = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(smins, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(smins.select(F.col("u"), F.col("m").alias("v")))
            .dropDuplicates(["u", "v"])
        )
        new_edges, new_blocks = _tracked_checkpoint(small)
        new_fp = fingerprint(new_edges)
        for h in blocks:
            h.unpersist(False)
        edges, blocks = new_edges, new_blocks
        if new_fp == fp:
            break
        fp = new_fp
    # fixed point: every edge is (node, component-root); roots appear
    # only on the v side and map to themselves
    labels = (
        edges.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .union(
            edges.select(F.col("v").alias("node"), F.col("v").alias("component"))
        )
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )
    return labels


def near_dup_clusters(
    documents: DataFrame,
    *,
    jaccard_threshold: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
    band_cap: int | None = 1000,
) -> DataFrame:
    """The dedup capstone: MinHash near-dup pairs -> connected
    components -> one row per cluster with its size and kept
    representative (min doc_id). Documents with no near-duplicate are
    singletons and simply keep themselves — they never enter the
    component computation, so the iterative step runs only on the
    (tiny) duplicate subgraph."""
    pairs = minhash_near_duplicates(
        documents,
        jaccard_threshold=jaccard_threshold,
        id_col=id_col,
        text_col=text_col,
        band_cap=band_cap,
    )
    comp = connected_components(pairs)
    return (
        comp.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.min("node").alias("keep_doc_id"),
        )
        .orderBy("component")
    )


def dedup_near(documents: DataFrame, *, jaccard_threshold: float = 0.6, id_col: str = "doc_id") -> DataFrame:
    """Corpus minus near-duplicates: every document except non-
    representative members of a near-dup cluster (keeps min doc_id per
    cluster). One anti join against the (small) drop list."""
    pairs = minhash_near_duplicates(documents, jaccard_threshold=jaccard_threshold, id_col=id_col)
    comp = connected_components(pairs)
    drop = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return documents.join(drop, id_col, "left_anti")


def cross_corpus_contamination(
    corpus: DataFrame,
    probe: DataFrame,
    *,
    word_k: int = 3,
    min_shared: int = 1,
    df_cap: int | None = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Eval-set decontamination: (corpus_id, probe_id, n_shared) for
    every corpus document sharing >= ``min_shared`` distinct word
    ``word_k``-grams with a probe (eval/benchmark) document.

    Plan shape for 100 TB: the probe (eval) side is small by
    definition, so its distinct gram set is BROADCAST and the corpus
    gram stream is filtered against it in the same map stage as the
    shingling — the full corpus is scanned exactly once and no
    corpus-wide gram aggregation ever happens. Only the (tiny) matched
    remainder is materialized; the ``df_cap`` stop-shingle guard (a
    probe gram that is ubiquitous in the corpus would still fan out)
    and the pair count both run on that remainder. Since each doc's
    gram set is distinct, the join's row count per pair IS the
    shared-gram count.
    """
    # shingling is the CPU-heavy map stage; spread a narrow local scan
    # to full parallelism first (no-op at real scale where the scan
    # already has thousands of splits)
    sc = corpus.sparkSession.sparkContext
    if corpus.rdd.getNumPartitions() < sc.defaultParallelism:
        corpus = corpus.repartition(sc.defaultParallelism)
    c = corpus.select(
        F.col(id_col).alias("corpus_id"), F.explode(word_shingles(text_col, word_k)).alias("gram")
    )
    p = probe.select(
        F.col(id_col).alias("probe_id"), F.explode(word_shingles(text_col, word_k)).alias("gram")
    )
    probe_grams = p.select("gram").distinct()
    # one corpus pass: shingle -> broadcast-hash semi join on the probe
    # gram set; persist the small matched stream so the cap and the
    # pair join don't rescan the corpus
    # (persist stays owned by Spark's LRU: an eager unpersist here would
    # undercut the still-lazy returned plan)
    matched = c.join(F.broadcast(probe_grams), "gram", "semi").persist()
    # eager fill: the df-cap group-by, its anti join, and the pair join
    # are scheduled concurrently by the first action and would race the
    # cold cache, each re-scanning the corpus (see minhash_near_duplicates)
    matched.count()
    if df_cap is not None:
        hot = (
            matched.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > df_cap)
            .select("gram")
        )
        matched = matched.join(F.broadcast(hot), "gram", "left_anti")
    return (
        matched.join(F.broadcast(p), "gram")
        .groupBy("corpus_id", "probe_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .orderBy("corpus_id", "probe_id")
    )


def simhash_signature(
    documents: DataFrame,
    *,
    word_k: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_MAX_BITS,
) -> DataFrame:
    """(doc_id, simhash) over word ``word_k``-gram features.

    Feature choice is the cost lever: higher-order-function lambdas
    evaluate interpreted (not codegen'd), so SimHash costs
    O(features x 64) interpreted evals per doc. Word bigrams (~n_words
    features) give the standard SimHash fingerprint at ~6x less work
    than char-5 shingles on prose; an Arrow/numpy ``unpackbits`` UDF
    was measured SLOWER than the expression form (Arrow array transfer
    + per-row python dominates), so the expression path is the fast
    path, not just the pure one. Map-only; spread to full parallelism
    when the scan has too few splits.

    Feature hashes are md5-31 (module comment), so bit 31 and up would
    never get a positive vote: ``bits > 31`` raises ``ValueError``."""
    if bits > SIMHASH_MAX_BITS:
        raise ValueError(
            f"bits={bits}: SimHash over 31-bit feature hashes carries at "
            f"most {SIMHASH_MAX_BITS} signal bits"
        )
    # Two-step shingle build (see shingle_table): token hashes run once
    # per row instead of once per gram.
    shingled = shingle_table(
        documents,
        word_k=word_k,
        id_col=id_col,
        text_col=text_col,
    )
    return shingled.withColumnRenamed("shingles", "hs").select(
        "doc_id", simhash64("hs", bits).alias("simhash")
    )


def simhash_buckets(
    documents: DataFrame,
    *,
    word_k: int = 2,
    prefix_bits: int = 16,
    max_ids: int = 100,
    bits: int = SIMHASH_MAX_BITS,
) -> DataFrame:
    """SimHash each doc and bucket by the top ``prefix_bits`` bits —
    near-dup candidates share a bucket. Map-side except the final
    group-by.

    Aggregation state is bounded: ids are ranked inside their bucket
    first (``row_number`` over (bucket, doc_id) — one shuffle, whose
    partitioning the group-by then reuses with no second exchange) and
    only the ``max_ids`` smallest ids enter ``collect_list``, so a
    degenerate corpus that collapses into one bucket can't blow up a
    reducer's buffer — a plain ``slice(collect_list(...))`` would still
    buffer the whole bucket before slicing. The exact membership count
    is always carried in ``n_docs``. Downstream pair generation should
    consume the bucket key, not the sample list."""
    from pyspark.sql import Window

    sig = simhash_signature(documents, word_k=word_k, bits=bits)
    w = Window.partitionBy("bucket").orderBy("doc_id")
    # Derive bucket and DROP the signature column in one projection:
    # keeping both would make CollapseProject inline the expensive
    # simhash HOF expression into each of them — two full evaluations
    # per row (measured ~2x on the map stage). Only the bucket key is
    # needed downstream.
    return (
        sig.select(
            "doc_id",
            F.shiftrightunsigned("simhash", bits - prefix_bits).alias("bucket"),
        )
        .withColumn("__rn", F.row_number().over(w))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sort_array(
                F.collect_list(F.when(F.col("__rn") <= max_ids, F.col("doc_id")))
            ).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def simhash_hamming_pairs(
    documents: DataFrame,
    *,
    word_k: int = 2,
    bits: int = 24,
    max_hamming: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash near-duplicate PAIRS, end to end — the verify stage
    ``simhash_buckets`` leaves to its consumers (that operator emits
    bucket membership; this one emits the actual (doc_a, doc_b,
    hamming) pairs within ``max_hamming`` signature bits).

    Blocking is Manku et al.'s (WWW'07) pigeonhole split, NOT the
    single-prefix bucket: the signature is cut into ``max_hamming + 1``
    disjoint bit-bands, and any pair within hamming <= max_hamming must
    agree EXACTLY on at least one band (at most ``max_hamming`` bits
    differ, so they cannot touch every one of the ``max_hamming + 1``
    bands).  Candidates are therefore equi-join collisions on
    (band_index, band_bits) with GUARANTEED total recall — this is an
    exact algorithm, unlike MinHash banding's probabilistic S-curve.

    Plan shape (the 100 TB path), same discipline as the MinHash and
    sign-LSH families:
      1. map: one SimHash signature per doc (persisted once)
      2. explode into ``max_hamming + 1`` ids-only band keys
      3. self-equi-join on (band_index, band_bits)  <- only wide shuffle
      4. distinct candidate pairs -> re-attach signatures (narrow)
      5. verify: ``bit_count(sig_a ^ sig_b) <= max_hamming``

    The md5-31 feature hashes (``bits <= 31``) keep every signature bit
    DuckDB-replayable, so the oracle re-derives the exact pair set.
    Returns (doc_a, doc_b, hamming) with doc_a < doc_b."""
    n_bands = max_hamming + 1
    width = bits // n_bands
    sig = simhash_signature(
        documents, word_k=word_k, id_col=id_col, text_col=text_col, bits=bits
    ).persist()
    sig.count()  # eager: the band join has 2 consumers + 2 re-attaches

    def band_val(b: int) -> F.Column:
        lo = b * width
        w = width if b < n_bands - 1 else bits - lo  # last takes the rest
        return F.shiftrightunsigned(F.col("simhash"), lo).bitwiseAND(
            F.lit((1 << w) - 1)
        )

    banded = sig.select(
        F.col("doc_id"),
        F.posexplode(F.array(*[band_val(b) for b in range(n_bands)])).alias(
            "band_idx", "band_bits"
        ),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_bits") == F.col("b.band_bits"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("__sa"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("__sb"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "hamming",
            F.expr("bit_count(__sa ^ __sb)").cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


def substring_contamination(
    corpus: DataFrame,
    probe: DataFrame,
    *,
    needle_words: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
    engine: str = "auto",
    max_broadcast_needles: int = 512,
    max_needles: int = 1_000_000,
) -> DataFrame:
    """Exact-substring decontamination: (corpus_id, probe_id) for every
    corpus document containing a probe document's leading
    ``needle_words``-word phrase as a CONTIGUOUS substring.

    Complements ``cross_corpus_contamination`` (set-of-n-grams overlap,
    order-insensitive): substring matching is the stricter "the eval
    prompt literally appears in the training text" test used for
    benchmark leakage audits.

    Plan shape for 100 TB: the probe side is benchmark-sized (10^3..10^5
    needles), so the normalized needle table is BROADCAST and the match
    runs as a broadcast nested-loop ``contains`` scan over the corpus —
    the corpus is read exactly once, map-side, nothing shuffles. Both
    sides are whitespace-normalized in the same expression so the match
    is layout-insensitive. For needle sets too large to broadcast-scan
    (contains is O(needles) per doc), the operator self-routes onto a
    single multi-pattern pass — one Aho-Corasick automaton shared per
    executor via ``mapInPandas`` (``engine='aho'``) — behind the
    identical (corpus_id, probe_id) contract; the two engines are
    differential-tested equal (tests/test_round3_ops.py).

    ``engine``: ``'auto'`` (default) counts the needle table and picks
    ``'broadcast'`` (the contains BNLJ) at or below
    ``max_broadcast_needles``, ``'aho'`` above — so the broadcast
    nested-loop never sees a needle table it would melt on. The
    512 default is measured, not guessed (sf1, 50k docs, round 7):
    the vectorized AC beats the contains scan 1.5x at 500 needles,
    3.4x at 2k, 2.8x at 10k (5.5s vs 15.2s), and the gap widens
    linearly with needle count because contains pays O(needles) per
    document while AC pays O(1).

    ``max_needles``: structural ceiling on the probe side. BOTH engines
    materialize the needles on the driver (broadcast literally, aho to
    build the automaton), so a fact-sized table pointed at the probe
    argument must raise, not OOM the driver — the check is a
    limit-bounded probe that costs O(max_needles) rows, never a full
    scan of the mistake.
    """
    if engine not in ("auto", "broadcast", "aho"):
        raise ValueError(f"unknown engine: {engine!r}")
    norm = lambda c: F.regexp_replace(F.lower(F.trim(c)), "\\s+", " ")  # noqa: E731
    needles = probe.select(
        F.col(id_col).alias("probe_id"),
        F.array_join(
            F.slice(F.split(norm(F.col(text_col)), " "), 1, needle_words), " "
        ).alias("needle"),
    ).filter(F.size(F.split(F.col("needle"), " ")) >= needle_words)
    # limit-bounded probe (same guard class as knn_join's query cap,
    # similarity.py): scans until max_needles+1 rows exist, never the
    # whole probe side
    n_needles = needles.limit(max_needles + 1).count()
    if n_needles > max_needles:
        raise ValueError(
            f"substring_contamination materializes the probe side on "
            f"the driver (got >{max_needles} needles); decontamination "
            f"probes are benchmark-sized — for corpus-vs-corpus overlap "
            f"use cross_corpus_contamination / shared_span_mining"
        )
    if engine == "auto":
        engine = (
            "broadcast" if n_needles <= max_broadcast_needles else "aho"
        )
    # the match scan is the CPU-heavy stage: spread a narrow local scan
    # to full parallelism (no-op at real scale where the scan already
    # has many splits)
    hay = ensure_parallelism(corpus).select(
        F.col(id_col).alias("corpus_id"), norm(F.col(text_col)).alias("hay")
    )
    if engine == "aho":
        return _aho_corasick_scan(hay, needles)
    return (
        hay.join(
            F.broadcast(needles),
            F.col("hay").contains(F.col("needle"))
            & (F.col("corpus_id") != F.col("probe_id")),
        )
        .select("corpus_id", "probe_id")
        .orderBy("corpus_id", "probe_id")
    )


def _build_aho_corasick(patterns: "list[tuple[str, list]]"):
    """Classic Aho-Corasick automaton as flat lists (pickle-light for
    the task broadcast): goto tries, BFS failure links, and output sets
    merged along failure chains. ``patterns`` maps each needle string
    to the probe ids that share it (duplicate needles collapse into one
    trie path — the dedup a per-needle contains scan never gets)."""
    goto: list[dict] = [{}]
    out: list[list] = [[]]
    for needle, ids in patterns:
        node = 0
        for ch in needle:
            nxt = goto[node].get(ch)
            if nxt is None:
                goto.append({})
                out.append([])
                nxt = len(goto) - 1
                goto[node][ch] = nxt
            node = nxt
        out[node].extend(ids)
    from collections import deque

    fail = [0] * len(goto)
    q = deque(goto[0].values())
    while q:
        node = q.popleft()
        for ch, nxt in goto[node].items():
            q.append(nxt)
            f = fail[node]
            while f and ch not in goto[f]:
                f = fail[f]
            fail[nxt] = goto[f].get(ch, 0) if goto[f].get(ch, 0) != nxt else 0
            out[nxt].extend(out[fail[nxt]])
    return goto, fail, out


#: dense-DFA cell budget per executor: states x alphabet int32 cells.
#: 64M cells = 256 MB — above this the vectorized path would cost more
#: memory than it saves time, so the scan falls back to the sparse
#: per-char walk. Needle sets that big should also question the
#: substring-decontamination framing (see max_needles).
_AC_DENSE_CELL_BUDGET = 64_000_000

#: per-step matrix budget for the lockstep scan (cells = docs x chars
#: buffered at once); bounds executor memory independent of Arrow batch
#: size. 16M uint32 cells = 64 MB.
_AC_CHUNK_CELL_BUDGET = 16_000_000


def _ac_dense_tables(goto, fail, out):
    """Determinize the sparse automaton into numpy lookup tables:
    ``delta[state, char_idx]`` (full transition function, failure links
    folded in), ``has_out[state]``, and the sorted codepoint array that
    maps document chars to ``char_idx`` (0 = any char outside the
    needle alphabet, which always transitions to the root). Built once
    per executor from the broadcast; None when over the cell budget."""
    import numpy as np

    cps = sorted({ord(ch) for g in goto for ch in g})
    n, a = len(goto), len(cps) + 1
    if n * a > _AC_DENSE_CELL_BUDGET:
        return None
    cmap = {cp: i + 1 for i, cp in enumerate(cps)}
    delta = np.zeros((n, a), dtype=np.int32)
    # BFS order guarantees delta[fail[s]] is complete before s copies it
    from collections import deque

    q = deque([0])
    seen = [False] * n
    seen[0] = True
    while q:
        s = q.popleft()
        if s:
            delta[s] = delta[fail[s]]
        for ch, nxt in goto[s].items():
            delta[s, cmap[ord(ch)]] = nxt
            if not seen[nxt]:
                seen[nxt] = True
                q.append(nxt)
    has_out = np.array([bool(o) for o in out], dtype=bool)
    return np.asarray(cps, dtype=np.uint32), delta, has_out


def _ac_scan_block(texts, cps, delta, has_out):
    """Lockstep-vectorized automaton walk over a block of documents:
    one state vector for the whole block, each step a single fancy-
    index ``delta[states, chars]`` — the per-char Python interpreter
    loop becomes ~L numpy steps over the block. Documents are consumed
    longest-first so the active set is always a prefix slice. Returns
    {row_index: set(hit_states)}."""
    import numpy as np

    if len(cps) == 0:
        # Empty needle alphabet (zero usable needles with engine='aho'
        # forced): nothing can match, and the searchsorted remap below
        # would index cps[-1] on an empty array. The sparse walk
        # handles this shape gracefully; so must the dense one.
        return {}
    order = sorted(range(len(texts)), key=lambda i: -len(texts[i]))
    lengths = np.array([len(texts[i]) for i in order], dtype=np.int64)
    maxlen = int(lengths[0]) if len(lengths) else 0
    # char -> column index, vectorized via utf-32 codepoints +
    # searchsorted over the needle alphabet (OOV -> 0 -> root)
    mat = np.zeros((len(order), maxlen), dtype=np.uint32)
    for r, i in enumerate(order):
        t = texts[i]
        if not t:
            continue
        codes = np.frombuffer(t.encode("utf-32-le"), dtype="<u4")
        pos = np.searchsorted(cps, codes)
        pos_c = np.minimum(pos, len(cps) - 1)
        mat[r, : len(codes)] = np.where(cps[pos_c] == codes, pos_c + 1, 0)
    states = np.zeros(len(order), dtype=np.int32)
    doc_states: dict[int, set] = {}
    for t in range(maxlen):
        k = int(np.searchsorted(-lengths, -t, side="right"))  # active prefix
        if k == 0:
            break
        states[:k] = delta[states[:k], mat[:k, t]]
        hot = np.nonzero(has_out[states[:k]])[0]
        for r in hot:
            doc_states.setdefault(order[int(r)], set()).add(int(states[r]))
    return doc_states


def _aho_corasick_scan(hay: DataFrame, needles: DataFrame) -> DataFrame:
    """One corpus pass, all needles at once: build the automaton on the
    driver from the (bounded) needle table, ship it ONCE per executor
    as a Spark broadcast, and stream hay rows through it in
    Arrow-batched ``mapInPandas``. Per-doc cost is O(len(doc)) plus
    matches — independent of needle count, unlike the contains scan's
    O(needles) substring searches. No join, no shuffle: the output is a
    map-side flatMap of the corpus scan.

    The hot loop is numpy-lockstep over dense transition tables
    (``_ac_dense_tables``): measured ~16 MB/s/core at a 5k-needle /
    180k-state shape vs ~3 MB/s for the per-char Python walk it
    replaced (5.2x; the sparse walk remains as the over-budget
    fallback). SCALE.md records the measurement and the remaining
    headroom (pyahocorasick / JVM codegen)."""
    import pandas as pd

    grouped: dict[str, list] = {}
    for r in needles.collect():  # bounded: max_needles-guarded upstream
        grouped.setdefault(r["needle"], []).append(r["probe_id"])
    automaton = _build_aho_corasick(sorted(grouped.items()))
    bc = hay.sparkSession.sparkContext.broadcast(automaton)
    dense_cache: list = []  # per-executor memo (rebuilt per worker)

    def scan(batches):
        goto, fail, out = bc.value
        if not dense_cache:
            dense_cache.append(_ac_dense_tables(goto, fail, out))
        dense = dense_cache[0]
        for pdf in batches:
            texts = ["" if t is None else t for t in pdf["hay"]]
            cids = list(pdf["corpus_id"])
            doc_hits: dict[int, set] = {}
            if dense is not None:
                cps, delta, has_out = dense
                # chunk so the lockstep matrix stays within budget
                i = 0
                while i < len(texts):
                    j, cells = i, 0
                    width = max(
                        (len(t) for t in texts[i : i + 1]), default=1
                    )
                    while j < len(texts) and cells <= _AC_CHUNK_CELL_BUDGET:
                        width = max(width, len(texts[j]) or 1)
                        j += 1
                        cells = (j - i) * width
                    for row, sts in _ac_scan_block(
                        texts[i:j], cps, delta, has_out
                    ).items():
                        hits = doc_hits.setdefault(i + row, set())
                        for st in sts:
                            hits.update(out[st])
                    i = j
            else:  # sparse fallback: automaton too wide for dense tables
                for r_i, text in enumerate(texts):
                    node = 0
                    hits = set()
                    for ch in text:
                        while node and ch not in goto[node]:
                            node = fail[node]
                        node = goto[node].get(ch, 0)
                        if out[node]:
                            hits.update(out[node])
                    if hits:
                        doc_hits[r_i] = hits
            pairs_c, pairs_p = [], []
            for r_i in sorted(doc_hits):
                hits = doc_hits[r_i]
                hits.discard(cids[r_i])
                for pid in sorted(hits):
                    pairs_c.append(cids[r_i])
                    pairs_p.append(pid)
            yield pd.DataFrame({"corpus_id": pairs_c, "probe_id": pairs_p})

    id_type = dict(hay.dtypes)["corpus_id"]
    probe_type = dict(needles.dtypes)["probe_id"]
    return hay.mapInPandas(
        scan, f"corpus_id {id_type}, probe_id {probe_type}"
    ).orderBy("corpus_id", "probe_id")


def token_set_similarity_join(
    documents: DataFrame,
    *,
    threshold: float = 0.7,
    gram_k: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact set-similarity self-join with PREFIX FILTERING (AllPairs /
    PPJoin family, Bayardo et al. 2007): every document pair whose
    distinct word-``gram_k``-gram sets have Jaccard >= ``threshold``,
    with NO false negatives — unlike MinHash banding this is exact, so
    its driver oracle is the full all-pairs SQL join.

    The prefix principle: order every set by GLOBAL element frequency
    ascending (rarest first, ties by element); two sets with Jaccard
    >= t MUST share an element within each other's first
    n - ceil(t*n) + 1 elements. Joining only on those prefix elements
    bounds candidate generation by the frequency of the RAREST
    elements — the frequent grams that make a naive inverted-index
    self-join quadratic never enter the join key space.

    Plan shape for 100 TB: one shuffle to count global element
    frequencies (vocabulary-sized output), one per-doc window to rank
    elements (partitioned by doc — bounded state), an IDS-ONLY
    self-join on prefix elements, then the exact Jaccard verify
    re-attaches full sets by key. The fact-width data never rides the
    wide join, same discipline as the MinHash band join.

    Hash acceleration with an EXACTNESS CERTIFICATE: the pipeline
    normally runs entirely on 64-bit gram hashes (tokenize + one
    token-hash pass are the only string work; sets, candidate keys,
    and the Jaccard verify are all fixed-width integers — far less
    interpreted HOF churn than string sets). Before trusting them, a
    one-pass audit counts distinct gram STRINGS vs distinct gram
    HASHES corpus-wide; equality certifies the gram->hash mapping is
    a bijection on this corpus, so hashed-set Jaccard is IDENTICAL
    (not probabilistically close) to string-set Jaccard. On the
    cosmically-unlikely mismatch the operator falls back to string
    sets — the result contract never weakens.
    """
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), "\\s+", " ")
    # words + token hashes materialized behind a column boundary (HOF
    # lambda bodies re-evaluate per element; see shingle_table)
    wc, htc = F.col("__w"), F.col("__ht")
    toks_df = (
        ensure_parallelism(documents)
        .select(F.col(id_col).alias("doc_id"), F.split(norm, " ").alias("__w"))
        .filter(F.size(wc) >= gram_k)
        .select(
            "doc_id",
            "__w",
            F.transform(wc, lambda t: F.xxhash64(t)).alias("__ht"),
        )
    )
    n_grams = F.greatest(F.size(wc) - F.lit(gram_k - 1), F.lit(1))
    gram_str = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: F.array_join(F.slice(wc, i, gram_k), " "),
    )
    gram_hash = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: F.xxhash64(F.slice(htc, i, gram_k)),
    )
    # the certificate: one integer+string aggregate pass; no persist
    a = (
        toks_df.select(F.explode(F.arrays_zip(gram_str.alias("s"), gram_hash.alias("h"))).alias("z"))
        .agg(
            F.count_distinct(F.col("z.s")).alias("ns"),
            F.count_distinct(F.col("z.h")).alias("nh"),
        )
        .collect()[0]
    )
    gram_expr = gram_hash if a["ns"] == a["nh"] else gram_str
    # documents shorter than one full gram are setless: excluded, same
    # as the oracle's len(words) >= gram_k guard.  The gram sets feed
    # FIVE consumers (element stream, size table, both verify sides) —
    # persist so they build once (eager fill below: the returned plan
    # consumes this cache from concurrently-scheduled stages of ONE
    # job; racing the fill re-ran the whole chain, measured 1.6-12s
    # nondeterministic swings). NO filter on the computed els column: a
    # post-projection filter on a derived array evaluates it twice
    # (measured 6x), and size(__w) >= gram_k already guarantees
    # non-empty sets.
    sets = toks_df.select(
        "doc_id", F.array_distinct(gram_expr).alias("els")
    ).persist()
    sets.count()
    # candidate keys are 64-bit hashes either way: on the certified
    # path els already ARE hashes; on the string fallback the keys are
    # hashed here (a key collision only ADDS a candidate pair — the
    # exact verify removes it)
    hashed_els = (
        F.col("els")
        if a["ns"] == a["nh"]
        else F.transform("els", lambda e: F.xxhash64(e))
    )
    els = sets.select("doc_id", F.explode(hashed_els).alias("el"))
    dfreq = els.groupBy("el").agg(F.count(F.lit(1)).alias("df"))
    # rank each doc's elements rare-first; keep only the prefix.
    # Persisted because the candidate self-join consumes it TWICE —
    # without it both sides replay the df shuffle and the rank window.
    # r11 optimization round (guide §2.4): the set size rides the
    # element explode as a per-row int — the old form joined the ranked
    # element stream back to the sets table by doc_id just to fetch
    # size(els), shuffling the stream one extra time.  Values identical.
    els_n = sets.select(
        "doc_id", F.size("els").alias("n"), F.explode(hashed_els).alias("el")
    )
    ranked = (
        els_n.join(dfreq, "el")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("el"))
            ),
        )
        .filter(
            F.col("rn")
            <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + F.lit(1)
        )
        .select("el", "doc_id", "n")
        .persist()
    )
    ranked.count()  # eager fill: both candidate-join sides consume it
    # length filter rides the same join: Jaccard >= t needs
    # t*|a| <= |b| (and symmetrically), so size-incompatible pairs
    # never become candidates
    cand = (
        ranked.alias("a")
        .join(ranked.alias("b"), "el")
        .filter(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.n") >= F.ceil(F.lit(threshold) * F.col("a.n")))
            & (F.col("a.n") >= F.ceil(F.lit(threshold) * F.col("b.n")))
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("els").alias("els_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("els").alias("els_b"))
    inter = F.size(F.array_intersect("els_a", "els_b"))
    union = F.size("els_a") + F.size("els_b") - inter
    jac = inter / F.greatest(union, F.lit(1))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= F.lit(threshold))
        .select(
            "doc_a", "doc_b", F.round(jac + F.lit(1e-9), 6).alias("jaccard")
        )
        .orderBy("doc_a", "doc_b")
    )


def near_dup_threshold_sweep(
    documents: DataFrame,
    *,
    thresholds: tuple = (0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9),
    num_hashes: int = 16,
    bands: int = 8,
    word_k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dedup tuning curve: for each candidate Jaccard threshold, how
    many near-dup PAIRS survive and how many DOCUMENTS are touched by
    at least one such pair.  This is the query a corpus engineer runs
    BEFORE near-dup dedup — the threshold is a yield/quality dial, and
    picking it blind (or re-running the full pipeline once per
    candidate value) is the usual failure mode.  One pass produces the
    whole curve.

    Scale shape: the MinHash pair generation (the only fact-sized
    work) runs ONCE at the loosest threshold; everything after is two
    tiny histogram aggregates — pairs bucketed by floor(jaccard*10),
    per-doc max-jaccard likewise — and a literal threshold grid joined
    against those <= 10-row frames (a bounded nested-loop by
    construction, exempted by name in the plan audit).  Adding a
    threshold to the grid costs nothing.
    """
    lo = min(thresholds)
    pairs = minhash_near_duplicates(
        documents,
        word_k=word_k,
        num_hashes=num_hashes,
        bands=bands,
        jaccard_threshold=lo,
        id_col=id_col,
        text_col=text_col,
        band_cap=None,
    ).select("doc_a", "doc_b", "jaccard")
    spark = documents.sparkSession
    pair_hist = pairs.groupBy(
        F.floor(F.col("jaccard") * 10).cast("int").alias("bin")
    ).agg(F.count(F.lit(1)).alias("n_pairs"))
    doc_hist = (
        pairs.select(
            F.explode(F.array("doc_a", "doc_b")).alias("doc"), "jaccard"
        )
        .groupBy("doc")
        .agg(F.max("jaccard").alias("mx"))
        .groupBy(F.floor(F.col("mx") * 10).cast("int").alias("bin"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    grid = spark.createDataFrame(
        [(float(round(t, 1)),) for t in thresholds], "threshold double"
    )
    gbin = F.round(F.col("threshold") * 10).cast("int")
    pairs_ge = (
        grid.join(pair_hist, pair_hist["bin"] >= gbin, "left")
        .groupBy("threshold")
        .agg(F.coalesce(F.sum("n_pairs"), F.lit(0)).alias("n_pairs"))
    )
    docs_ge = (
        grid.join(doc_hist, doc_hist["bin"] >= gbin, "left")
        .groupBy("threshold")
        .agg(F.coalesce(F.sum("n_docs"), F.lit(0)).alias("n_docs_affected"))
    )
    return pairs_ge.join(docs_ge, "threshold").orderBy("threshold")


def shared_span_mining(
    documents: DataFrame,
    *,
    window_k: int = 8,
    min_span: int = 12,
    df_cap: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MAXIMAL shared token spans across document pairs — the
    exact-substring dedup primitive (cf. Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): two
    documents sharing any run of >= ``min_span`` tokens are reported
    with the run's start positions and its full (maximal) length, not
    just fixed-window hits.

    Suffix arrays are the sequential formulation; the distributed
    one: hash every ``window_k``-token window, equi-join windows
    across documents (ids + 31-bit hashes only — the shuffle never
    carries text), then collapse each match DIAGONAL with
    gaps-and-islands: for a pair (a, b), matches of one contiguous
    shared span all satisfy ``pos_a - pos_b = const`` at consecutive
    ``pos_a``, so ``pos_a - row_number()`` over (pair, diagonal) is
    constant exactly within one maximal run, and one aggregate emits
    (start_a, start_b, span_tokens = run + window_k - 1).

    Guards for 100 TB: windows appearing in more than ``df_cap``
    documents are dropped before the join (boilerplate is
    ``scrub_boilerplate``'s job; keeping it here would make one hash
    key quadratic — the same stop-gram rule as ``ngram_jaccard``).
    Window hashes use the engine-portable md5-31 family, so the DuckDB
    oracle re-derives every match; at 31 bits a false collision is
    ~2^-31 per candidate and production can add ``token_set_join``'s
    injectivity certificate to prove the hash join exact per-corpus.
    """
    arr = F.split(F.trim(F.col(text_col)), "\\s+")
    base = documents.select(F.col(id_col).alias("doc"), arr.alias("toks"))
    n_win = F.size("toks") - F.lit(window_k)
    win_hash = lambda i: portable_hash31(  # noqa: E731
        F.concat_ws(" ", F.slice(F.col("toks"), i + F.lit(1), window_k))
    )
    windows = base.select(
        "doc",
        F.posexplode(
            F.when(
                F.size("toks") >= window_k,
                F.transform(F.sequence(F.lit(0), n_win), win_hash),
            ).otherwise(F.expr("CAST(array() AS ARRAY<BIGINT>)"))
        ).alias("pos", "wh"),
    )
    # the window table feeds the df-cap aggregate AND both sides of
    # the match self-join — an un-cached diamond would re-run the
    # tokenize+hash explode up to four times (the important_part_value
    # lesson). Locally persist + eager fill; at 100 TB write it to
    # parquet once (it is token-stream-sized) and read it back.
    windows = windows.persist()
    windows.count()
    keep = (
        windows.groupBy("wh")
        .agg(F.count_distinct("doc").alias("ndocs"))
        .filter(F.col("ndocs") <= df_cap)
        .select("wh")
    )
    windows = windows.join(keep, "wh")
    a = windows.select(
        F.col("doc").alias("doc_a"), F.col("pos").alias("pa"), "wh"
    )
    b = windows.select(
        F.col("doc").alias("doc_b"), F.col("pos").alias("pb"), "wh"
    )
    matches = a.join(b, "wh").filter(F.col("doc_a") < F.col("doc_b"))
    w = Window.partitionBy(
        "doc_a", "doc_b", F.col("pa") - F.col("pb")
    ).orderBy("pa")
    islands = matches.withColumn(
        "grp", F.col("pa") - F.row_number().over(w)
    )
    return (
        islands.groupBy(
            "doc_a", "doc_b", (F.col("pa") - F.col("pb")).alias("_diag"), "grp"
        )
        .agg(
            F.min("pa").alias("start_a"),
            F.min("pb").alias("start_b"),
            (F.count(F.lit(1)) + F.lit(window_k - 1)).alias("span_tokens"),
        )
        .filter(F.col("span_tokens") >= min_span)
        .select("doc_a", "doc_b", "start_a", "start_b", "span_tokens")
        .orderBy("doc_a", "doc_b", "start_a", "start_b")
    )


def contrastive_triples(
    documents: DataFrame,
    *,
    k_neg: int = 3,
    pool_margin: int = 8,
    jaccard_threshold: float = 0.4,
    salt: str = "neg-v1",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(anchor, positive, negative) training triples for contrastive
    embedding models: positives are portable-MinHash near-dup pairs
    (documents that SHOULD embed close), negatives come from a SHARED
    deterministic pool — the distributed analog of in-batch negatives,
    which is how production contrastive pipelines actually sample
    (per-anchor uniform sampling over the full corpus would need a
    quadratic candidate space; a small shared pool is both standard
    practice and embarrassingly broadcastable).

    The pool is the first ``k_neg + pool_margin`` documents in
    ``md5(salt || ':' || id)`` order (engine-portable, re-rankable by
    any engine); per (anchor, positive) pair the negatives are the
    first ``k_neg`` pool members that are not the anchor, not the
    positive, and not a near-dup partner of the anchor (a pool member
    that is itself similar to the anchor would be a FALSE negative —
    the classic contrastive-data bug this exclusion guards).

    Scale shape: the near-dup pair join is the only fact-sized work;
    the pool is a TakeOrdered ``k_neg + pool_margin``-row broadcast,
    the false-negative screen is one keyed anti join on
    (anchor, candidate), and the final rank windows over <= pool-sized
    frames per pair.
    """
    from flink_elasticsearch_ingestion_spark.operators.sampling import (
        portable_uniform,
    )

    pairs = minhash_near_duplicates(
        documents,
        jaccard_threshold=jaccard_threshold,
        id_col=id_col,
        text_col=text_col,
        band_cap=None,
    ).select(
        F.col("doc_a").alias("anchor"),
        F.col("doc_b").alias("positive"),
        "jaccard",
    )
    pool = (
        documents.select(
            F.col(id_col).alias("cand"),
            portable_uniform(id_col, salt).alias("u"),
        )
        .orderBy("u", "cand")
        .limit(k_neg + pool_margin)
    )
    # symmetric near-dup adjacency: a pool member similar to the
    # anchor in EITHER pair direction is a false negative
    adj = pairs.select(
        F.col("anchor").alias("a"), F.col("positive").alias("b")
    ).union(
        pairs.select(
            F.col("positive").alias("a"), F.col("anchor").alias("b")
        )
    ).distinct()
    cand = (
        pairs.crossJoin(F.broadcast(pool))
        .filter(
            (F.col("cand") != F.col("anchor"))
            & (F.col("cand") != F.col("positive"))
        )
        .join(
            adj.select(
                F.col("a").alias("anchor"), F.col("b").alias("cand")
            ),
            ["anchor", "cand"],
            "left_anti",
        )
    )
    w = Window.partitionBy("anchor", "positive").orderBy("u", "cand")
    return (
        cand.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= k_neg)
        .select("anchor", "positive", "jaccard", "neg_rank", F.col("cand").alias("negative"))
        .orderBy("anchor", "positive", "neg_rank")
    )


def quality_dedup_survivors(
    documents: DataFrame,
    *,
    jaccard_threshold: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
    band_cap: int | None = 1000,
) -> DataFrame:
    """Quality-aware canonical selection per near-dup cluster: where
    ``near_dup_clusters`` keeps the MIN doc id (a tie-break, not a
    judgment), production corpus dedup keeps the BEST member — here
    the highest token-entropy document (ties broken by id), so a
    boilerplate-damaged copy never survives over the clean original.

    Plan: the same pairs -> connected-components subgraph as
    ``near_dup_clusters`` (iterative star contraction on the duplicate
    subgraph only), then one join against the per-doc entropy table
    and a per-COMPONENT window argmax — partitions are cluster-sized,
    so the window is bounded by the largest duplicate cluster, never
    by the corpus.  Entropy is pre-rounded to 4dp (the
    ``token_entropy`` contract), making the argmax engine-portable."""
    from flink_elasticsearch_ingestion_spark.operators.text import token_entropy

    pairs = minhash_near_duplicates(
        documents,
        jaccard_threshold=jaccard_threshold,
        id_col=id_col,
        text_col=text_col,
        band_cap=band_cap,
    )
    comp = connected_components(pairs)
    ent = token_entropy(documents, id_col=id_col, text_col=text_col).select(
        F.col("doc_id").alias("node"), "entropy"
    )
    w = Window.partitionBy("component").orderBy(
        F.col("entropy").desc(), F.col("node").asc()
    )
    ranked = comp.join(ent, "node").withColumn(
        "rk", F.row_number().over(w)
    )
    return (
        ranked.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.max(F.when(F.col("rk") == 1, F.col("node"))).alias(
                "keep_doc_id"
            ),
            F.max(F.when(F.col("rk") == 1, F.col("entropy"))).alias(
                "keep_entropy"
            ),
        )
        .orderBy("component")
    )


def scrub_shared_spans(
    documents: DataFrame,
    *,
    window_k: int = 8,
    min_span: int = 12,
    df_cap: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring dedup, removal half (Lee et al. 2022 §4.2): for
    every maximal shared span mined by ``shared_span_mining``, keep the
    occurrence in the LOWER doc id and excise the tokens from the
    higher one — the policy that leaves exactly one copy of every
    duplicated passage in the corpus.

    Stages, all relational:
      1. mine maximal spans (window-hash equi-join, df-capped);
      2. per victim doc, union overlapping/adjacent removal intervals
         with gaps-and-islands (running max end over a doc-partitioned
         window — interval counts are span-list-sized, never
         token-stream-sized);
      3. rebuild each document with ONE array expression: positions
         falling inside any merged interval drop out (nested
         higher-order filter/exists — JVM-side, no UDF), untouched
         documents pass through the left join unchanged.

    Returns per document: token counts before/after, merged spans
    removed, and the cleaned text — the corpus the training pipeline
    actually feeds downstream.
    """
    spans = shared_span_mining(
        documents,
        window_k=window_k,
        min_span=min_span,
        df_cap=df_cap,
        id_col=id_col,
        text_col=text_col,
    )
    iv = spans.select(
        F.col("doc_b").alias("doc"),
        F.col("start_b").cast("bigint").alias("s"),
        (F.col("start_b") + F.col("span_tokens")).cast("bigint").alias("e"),
    )
    w = Window.partitionBy("doc").orderBy("s", "e")
    marked = iv.withColumn(
        "pm", F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    )
    gid = F.sum(
        F.when(F.col("pm").isNull() | (F.col("s") > F.col("pm")), 1).otherwise(0)
    ).over(w.rowsBetween(Window.unboundedPreceding, 0))
    merged = (
        marked.withColumn("gid", gid)
        .groupBy("doc", "gid")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
    )
    ivs = merged.groupBy("doc").agg(
        F.array_sort(F.collect_list(F.struct("s", "e"))).alias("ivl")
    )
    toks = F.split(F.trim(F.col(text_col)), "\\s+")
    base = documents.select(F.col(id_col).alias("doc_id"), toks.alias("toks"))
    joined = base.join(ivs, base["doc_id"] == ivs["doc"], "left")
    indexed = F.transform(
        "toks", lambda t, i: F.struct(t.alias("t"), i.cast("bigint").alias("i"))
    )
    kept_structs = F.filter(
        indexed,
        lambda st: ~F.exists(
            "ivl", lambda r: (st["i"] >= r["s"]) & (st["i"] < r["e"])
        ),
    )
    kept = F.when(F.col("ivl").isNull(), F.col("toks")).otherwise(
        F.transform(kept_structs, lambda st: st["t"])
    )
    return joined.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens_before"),
        F.size(kept).cast("bigint").alias("n_tokens_after"),
        F.coalesce(F.size("ivl"), F.lit(0)).cast("bigint").alias("n_spans_removed"),
        F.concat_ws(" ", kept).alias("clean_text"),
    ).orderBy("doc_id")


def window_novelty(
    documents: DataFrame,
    *,
    window_k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document DUPLICATION PROFILE: what fraction of a document's
    ``window_k``-token windows also occur in at least one OTHER
    document — the memorization-risk / novelty scalar the dedup papers
    report per corpus slice (a doc whose windows are mostly shared is
    boilerplate or a near-copy even when no single span crosses the
    span-mining threshold).

    Same window-hash table as ``shared_span_mining`` (portable md5-31,
    map-side explode), ONE document-frequency aggregate on the window
    key, one membership join back — no pair expansion at all, so this
    is the cheap first-pass triage before pairwise span mining.

    Returns per doc: window counts, shared-window count, and
    ``novelty`` = 1 - shared/windows (1.0 = fully novel; docs shorter
    than ``window_k`` tokens have no windows and report novelty 1.0).
    """
    arr = F.split(F.trim(F.col(text_col)), "\\s+")
    base = documents.select(F.col(id_col).alias("doc"), arr.alias("toks"))
    n_win = F.size("toks") - F.lit(window_k)
    win_hash = lambda i: portable_hash31(  # noqa: E731
        F.concat_ws(" ", F.slice(F.col("toks"), i + F.lit(1), window_k))
    )
    windows = base.select(
        "doc",
        F.posexplode(
            F.when(
                F.size("toks") >= window_k,
                F.transform(F.sequence(F.lit(0), n_win), win_hash),
            ).otherwise(F.expr("CAST(array() AS ARRAY<BIGINT>)"))
        ).alias("pos", "wh"),
    )
    shared = (
        windows.groupBy("wh")
        .agg(F.count_distinct("doc").alias("ndocs"))
        .filter(F.col("ndocs") > 1)
        .select("wh", F.lit(True).alias("is_shared"))
    )
    flagged = windows.join(shared, "wh", "left")
    per_doc = flagged.groupBy("doc").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_windows"),
        F.count(F.when(F.col("is_shared"), 1)).cast("bigint").alias("n_shared"),
    )
    return (
        base.select("doc")
        .join(per_doc, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce(F.col("n_windows"), F.lit(0)).cast("bigint").alias("n_windows"),
            F.coalesce(F.col("n_shared"), F.lit(0)).cast("bigint").alias("n_shared"),
            F.round(
                F.lit(1.0)
                - F.coalesce(F.col("n_shared"), F.lit(0))
                / F.greatest(F.coalesce(F.col("n_windows"), F.lit(0)), F.lit(1))
                + 1e-9,
                6,
            ).alias("novelty"),
        )
        .orderBy(id_col)
    )


def containment_pairs(
    documents: DataFrame,
    *,
    threshold: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ASYMMETRIC near-dup detection — Broder containment
    ``|S(A) ∩ S(B)| / |S(A)|``: document A is (mostly) QUOTED INSIDE B
    even when their symmetric Jaccard is low because B is much longer.
    This is the subset/quotation case every symmetric near-dup pass
    misses: a tweet embedded in a news roundup, a license header inside
    a source file, an abstract inside the full paper.

    Blocking is the prefix-filter adapted to containment: if A shares
    NONE of its ``floor((1-t)*|S(A)|)+1`` globally-RAREST shingles with
    B, more than ``(1-t)*|S(A)|`` of A's shingles are missing and
    containment < t — so only A's rare prefix joins the corpus shingle
    postings (never all-pairs). Exact verification on the full hashed
    shingle sets. Same portable shingle family as MinHash, so the
    DuckDB oracle re-derives every pair.

    Returns (contained_id, container_id, containment), containment
    rounded to 6 dp.
    """
    sigs = minhash_signature_table(
        documents, id_col=id_col, text_col=text_col
    ).select(
        F.col(id_col).alias("doc"), F.col("shingles").alias("sh")
    ).persist()
    sigs.count()  # eager fill (see minhash_near_duplicates)
    # r11 optimization round (guide §2.4): the prefix length is a pure
    # function of the set SIZE, so it rides the element explode as a
    # per-row int instead of joining the element stream back to the
    # sets table by doc (that join shuffled the whole element stream a
    # second time just to fetch size(sh)).  Values identical.
    plen = (F.floor((F.lit(1.0) - F.lit(threshold)) * F.size("sh")) + 1).cast("int")
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
    # r12 optimization round (guide §2.3, VERDICT r11 #4): verify via a
    # POSTING-LIST intersection count instead of attaching both full
    # shingle arrays to every candidate pair.  |S(A) ∩ S(B)| is exact
    # integer set arithmetic (the shingle sets are array_distinct by
    # construction), so counting the (doc_a, doc_b, s) co-occurrences
    # of A's elements inside B's postings is hash-safe by construction
    # — no float-order hazard, unlike the cosine family.  The pair
    # grain now carries only thin (id, id, bigint) rows; the shingle
    # payload never shuffles onto pairs.  |S(A)| is a pure per-doc int
    # that rides A's element explode (the r11 prefix-length trick).
    # Every candidate shares >= 1 shingle (it joined on one), so the
    # inner posting join can never drop a pair.
    ex_a = sigs.select(
        F.col("doc").alias("doc_a"),
        F.size("sh").alias("sz_a"),
        F.explode("sh").alias("s"),
    )
    ex_b = sigs.select(F.col("doc").alias("doc_b"), F.explode("sh").alias("s"))
    counts = (
        cand.join(ex_a, "doc_a")
        .join(ex_b, ["doc_b", "s"])
        .groupBy("doc_a", "doc_b", "sz_a")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    # size(array_intersect)/greatest(size, 1) divided int/int; the
    # posting count is bigint/int — both promote to double division on
    # identical integer values, so the quotient is bit-identical
    cont = F.col("n_common") / F.greatest(F.col("sz_a"), F.lit(1))
    return (
        counts.withColumn("containment", F.round(cont + 1e-9, 6))
        .filter(F.col("containment") >= threshold)
        .select(
            F.col("doc_a").alias("contained_id"),
            F.col("doc_b").alias("container_id"),
            "containment",
        )
        .orderBy("contained_id", "container_id")
    )


def sorted_neighborhood_pairs(
    documents: DataFrame,
    *,
    window: int = 5,
    key_len: int = 32,
    threshold: float = 0.4,
    coarse_edges: tuple[str, ...] = ("d", "h", "l", "p", "t"),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sorted-neighborhood near-dup mining (Hernandez & Stolfo's
    merge/purge blocking): sort the corpus by a normalized text-prefix
    key and compare each record only to its ``window`` successors in
    that order — the THIRD blocking family next to LSH (probabilistic
    buckets) and the inverted index (shared-token candidates). It
    shines exactly where those are weak: near-identical records with a
    common head (boilerplate templates, versioned re-crawls) pair up
    regardless of how many hot shingles they share, at a guaranteed
    O(n x window) candidate budget — no skew, no df_cap tuning.

    The global sort rank uses the two-phase discipline of
    ``equi_depth_buckets`` — literal string ``coarse_edges`` range-split
    the key domain (the coarse bucket is a PREFIX of the sort key, so
    coarse order == global order), ``row_number`` ranks inside each
    range in parallel, broadcast prefix-sum offsets lift to exact
    global ranks. Edge choice balances work, never results.

    Candidates then join on rank-adjacency WITHOUT a fact-wide window:
    rank div window blocks, each left row probes its own and the next
    block (a 2-way explode of narrow int keys), and 1 <= rb - ra <=
    window filters exactly. Token arrays re-attach AFTER candidate
    generation (ids-only wide join, the minhash discipline); the exact
    token-Jaccard verify runs once per candidate pair.
    """
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    base = documents.select(
        F.col(id_col).alias("doc_id"),
        F.substring(norm, 1, key_len).alias("__key"),
        F.array_distinct(F.split(norm, " ")).alias("__toks"),
    )
    coarse = F.lit(len(coarse_edges))
    for i, e in reversed(list(enumerate(coarse_edges))):
        coarse = F.when(F.col("__key") < F.lit(e), F.lit(i)).otherwise(coarse)
    keyed = base.withColumn("__coarse", coarse)
    within = F.row_number().over(
        Window.partitionBy("__coarse").orderBy("__key", "doc_id")
    )
    counts = keyed.groupBy("__coarse").agg(F.count(F.lit(1)).alias("__n"))
    offsets = counts.select(
        "__coarse",
        F.coalesce(
            F.sum("__n").over(
                Window.orderBy("__coarse").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("__offset"),
    )
    ranked = (
        keyed.withColumn("__within", within)
        .join(F.broadcast(offsets), "__coarse")
        .select(
            "doc_id",
            (F.col("__offset") + F.col("__within")).alias("__rank"),
        )
    )
    blk = F.floor((F.col("__rank") - 1) / F.lit(window))
    left = ranked.select(
        F.col("doc_id").alias("doc_a"),
        F.col("__rank").alias("ra"),
        F.explode(F.array(blk, blk + 1)).alias("__blk"),
    )
    right = ranked.select(
        F.col("doc_id").alias("doc_b"),
        F.col("__rank").alias("rb"),
        blk.alias("__blk"),
    )
    cand = (
        left.join(right, "__blk")
        .filter(
            (F.col("rb") > F.col("ra")) & (F.col("rb") <= F.col("ra") + window)
        )
        # no dedup needed: b's block is fixed, so each qualifying pair
        # matches exactly one of a's two probe blocks
        .select("doc_a", "doc_b")
    )
    ta = base.select(F.col("doc_id").alias("doc_a"), F.col("__toks").alias("ta"))
    tb = base.select(F.col("doc_id").alias("doc_b"), F.col("__toks").alias("tb"))
    inter = F.size(F.array_intersect("ta", "tb"))
    jac = inter / (F.size("ta") + F.size("tb") - inter)
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


def planted_dup_recall(
    documents: DataFrame,
    *,
    keep_share_num: int = 4,
    keep_share_den: int = 5,
    jaccard_threshold: float = 0.4,
    id_offset: int = 1_000_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """END-TO-END dedup recall on PLANTED near-duplicates: every
    document gets a deterministic truncation twin (its first
    ``keep_share_num/keep_share_den`` of tokens — integer arithmetic,
    no float boundary), the twins are unioned into the corpus, the
    full production pipeline (portable MinHash -> banding -> exact
    verify) runs over the combined corpus, and the output is ONE row:
    how many planted (doc, twin) pairs the pipeline recovered.  This
    is ``ann_recall_eval``'s analog for text dedup — the banding
    S-curve's theoretical recall at the twins' Jaccard, measured
    instead of assumed.

    Scale shape: the corpus doubles (map-side twin construction, one
    union), then exactly ``minhash_near_duplicates``' plan; the recall
    account adds one ids-only join against the planted pair list and
    a global aggregate."""
    spark = documents.sparkSession
    toks = F.split(F.trim(F.col(text_col)), "\\s+")
    keep = (F.size(toks) * keep_share_num + F.lit(keep_share_den - 1)).cast(
        "bigint"
    ) / F.lit(keep_share_den)
    keep = F.floor(keep).cast("int")  # ceil(num*n/den) via int math
    base = documents.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    twins = documents.select(
        (F.col(id_col) + id_offset).alias("doc_id"),
        F.array_join(F.slice(toks, 1, keep), " ").alias("text"),
    )
    combined = base.unionByName(twins)
    pairs = minhash_near_duplicates(
        combined,
        jaccard_threshold=jaccard_threshold,
        band_cap=None,
    )
    planted = base.select(
        F.col("doc_id").alias("doc_a"),
        (F.col("doc_id") + id_offset).alias("doc_b"),
    )
    found = planted.join(pairs, ["doc_a", "doc_b"])
    n_planted = documents.count()
    row = found.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_found"),
        F.round(
            F.round(F.sum("jaccard"), 2) / F.count(F.lit(1)) + 1e-9, 4
        ).alias("mean_found_jaccard"),
    ).first()
    return spark.createDataFrame(
        [
            (
                n_planted,
                row["n_found"],
                round(row["n_found"] / n_planted + 1e-9, 6),
                row["mean_found_jaccard"],
            )
        ],
        "n_planted bigint, n_found bigint, recall double,"
        " mean_found_jaccard double",
    )


def minhash_estimate_error(
    documents: DataFrame,
    *,
    num_hashes: int = 16,
    bands: int = 8,
    band_cap: int | None = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash ESTIMATOR calibration as one measured row: over the
    band-collision candidate pairs, compare the signature-slot match
    rate (the MinHash Jaccard estimate, matches/num_hashes) against
    the exact shingle-set Jaccard, and report the estimator's mean
    absolute error, worst error, and signed bias.  This is the number
    that justifies ``num_hashes``: the dedup S-curve math assumes the
    16-perm estimate tracks true Jaccard, and this query makes that
    assumption a measured quantity on YOUR corpus (too few perms ->
    fat error -> band thresholds drift from the theory).

    Scale shape: identical to ``minhash_near_duplicates`` — one
    signature map stage, one banded ids-only self-join
    (``band_cap``-bounded), one verify join carrying both signatures
    and shingle sets, one global aggregate.  Portable hash family, so
    the DuckDB oracle re-derives estimate AND exact value per pair."""
    spark = documents.sparkSession
    sigs = minhash_signature_table(
        documents,
        num_hashes=num_hashes,
        id_col=id_col,
        text_col=text_col,
    ).persist()
    sigs.count()  # eager fill (see minhash_near_duplicates)
    banded = _banded(sigs.select("doc_id", "sig"), num_hashes=num_hashes, bands=bands)
    if band_cap is not None:
        w = Window.partitionBy("band_idx", "band_hash").orderBy("doc_id")
        banded = (
            banded.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= band_cap)
            .drop("_rn")
        )
    left, right = banded.alias("l"), banded.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingles").alias("sh_a"),
        F.col("sig").alias("sig_a"),
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingles").alias("sh_b"),
        F.col("sig").alias("sig_b"),
    )
    matches = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m
        )
    )
    est = matches / F.lit(float(num_hashes))  # exact binary multiples
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    exact = F.round(inter / F.greatest(union, F.lit(1)), 6)
    scored = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            (est - exact).alias("diff"),
            F.round(F.abs(est - exact), 6).alias("abs_err"),
        )
    )
    n = F.count(F.lit(1))
    # one global aggregate row: materialize eagerly and release the
    # signature cache (the bucket_cap_recall_account discipline — a
    # lazy return would leak the persist for the session lifetime)
    try:
        row = scored.agg(
            n.cast("bigint").alias("n_pairs"),
            F.round(F.round(F.sum(F.abs(F.col("diff"))), 2) / n + 1e-9, 4).alias(
                "mean_abs_err"
            ),
            F.round(F.max("abs_err"), 6).alias("max_abs_err"),
            F.round(F.round(F.sum("diff"), 2) / n + 1e-9, 4).alias("bias"),
        ).first()
    finally:
        sigs.unpersist()
    return spark.createDataFrame(
        [tuple(row)],
        "n_pairs bigint, mean_abs_err double, max_abs_err double, bias double",
    )


def dedup_saturation(
    documents: DataFrame,
    *,
    batch_size: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dedup saturation curve: ingest the corpus in ``id``-ordered
    batches and report, per batch, how many documents were NEW content
    (first occurrence of their normalized content hash) plus the
    cumulative unique share — the curve a crawl operator watches to
    decide when a source is mined out (new-content yield decays as a
    source saturates).

    Scale shape: one content-hash aggregate (``min(id)`` per hash — the
    same normalized-sha256 family as ``dedup_by_content``), a map-side
    first-occurrence flag, one batch-axis aggregate, then TWO-PHASE
    running sums over the batch axis (ADVICE r9: the batch axis is
    corpus-proportional — corpus/batch_size rows — so a single
    unpartitioned prefix window was a one-task straggler at scale):
    within-coarse-range running sums in parallel (the coarse key
    ``batch div 4096`` is a prefix of the order key, the
    ``global_distribution_ranks`` discipline), plus broadcast
    per-range mass offsets from the 4096x-smaller range histogram."""
    normalized = F.regexp_replace(F.lower(F.trim(F.col(text_col))), "\\s+", " ")
    hashed = documents.select(
        F.col(id_col).alias("doc"), F.sha2(normalized, 256).alias("h")
    )
    first = hashed.groupBy("h").agg(F.min("doc").alias("first_doc"))
    flagged = hashed.join(first, "h").select(
        (F.col("doc") / batch_size).cast("int").alias("batch"),
        F.when(F.col("doc") == F.col("first_doc"), 1).otherwise(0).alias("is_new"),
    )
    per = flagged.groupBy("batch").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("is_new").cast("bigint").alias("n_new"),
    ).withColumn("__coarse", (F.col("batch") / 4096).cast("int"))
    w_in = (
        Window.partitionBy("__coarse")
        .orderBy("batch")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    hist = per.groupBy("__coarse").agg(
        F.sum("n_docs").alias("__docs"), F.sum("n_new").alias("__new")
    )
    w_hist = Window.orderBy("__coarse").rowsBetween(Window.unboundedPreceding, -1)
    offsets = hist.select(
        "__coarse",
        F.coalesce(F.sum("__docs").over(w_hist), F.lit(0)).alias("__docs_off"),
        F.coalesce(F.sum("__new").over(w_hist), F.lit(0)).alias("__new_off"),
    )
    return (
        per.withColumn("__run_docs", F.sum("n_docs").over(w_in))
        .withColumn("__run_new", F.sum("n_new").over(w_in))
        .join(F.broadcast(offsets), "__coarse")
        .select(
            "batch",
            "n_docs",
            "n_new",
            F.round(F.col("n_new") / F.col("n_docs") + 1e-9, 6).alias("new_rate"),
            F.round(
                (F.col("__new_off") + F.col("__run_new"))
                / (F.col("__docs_off") + F.col("__run_docs"))
                + 1e-9,
                6,
            ).alias("cum_unique_share"),
        )
        .orderBy("batch")
    )


def ngram_novelty(
    documents: DataFrame,
    *,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """First-occurrence n-gram novelty per document: the share of a
    doc's distinct word ``n``-grams that appear in NO earlier document
    (by ``id`` order) — the marginal-novelty curve of a growing corpus,
    and the ordered complement of ``window_novelty`` (which asks
    "shared with ANYONE", not "seen BEFORE").

    Scale shape: explode distinct n-grams (map-side), ONE hash
    aggregate keyed by n-gram computing ``min(doc_id)`` (the n-gram
    dictionary with first-owner attribution), re-join to the exploded
    frame on the same key (exchange reuse), one per-doc aggregate."""
    w = F.split(
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), "\\s+", " "), " "
    )
    docs = documents.select(F.col(id_col).alias("doc"), w.alias("w"))
    grams = docs.select(
        "doc",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(
                        F.lit(1),
                        F.greatest(F.size("w") - (n - 1), F.lit(1)),
                    ),
                    lambda i: F.concat_ws(" ", F.slice("w", i, n)),
                )
            )
        ).alias("gram"),
    )
    owner = grams.groupBy("gram").agg(F.min("doc").alias("first_doc"))
    return (
        grams.join(owner, "gram")
        .groupBy(F.col("doc").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("doc") == F.col("first_doc"), 1).otherwise(0)
            ).cast("bigint").alias("n_novel"),
        )
        .withColumn(
            "novelty",
            F.round(F.col("n_novel") / F.col("n_grams") + 1e-9, 6),
        )
        .orderBy(id_col)
    )


def minhash_band_stats(
    documents: DataFrame,
    *,
    word_k: int | None = 3,
    shingle_k: int = 5,
    num_hashes: int = 16,
    bands: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """LSH band-bucket occupancy histogram — the observability number
    behind every MinHash dedup run: per band, how many buckets hold
    exactly ``occupancy`` docs and how many candidate pairs
    (occ*(occ-1)/2 each) they emit. Reading it tells you whether
    band_cap will truncate, whether a band's hash family degenerated,
    and what the candidate-pair budget of the real dedup join will be
    BEFORE paying for it — same signatures, same ``_banded`` keys, no
    pair join.

    Scale shape: signature map stage, band explode, one (band, key)
    aggregate, one bounded (band, occupancy) aggregate."""
    sigs = minhash_signature_table(
        documents,
        word_k=word_k,
        shingle_k=shingle_k,
        num_hashes=num_hashes,
        id_col=id_col,
        text_col=text_col,
    ).select("doc_id", "sig")
    banded = _banded(sigs, num_hashes=num_hashes, bands=bands)
    buckets = banded.groupBy("band_idx", "band_hash").agg(
        F.count(F.lit(1)).alias("occupancy")
    )
    return (
        buckets.groupBy("band_idx", "occupancy")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(
                F.col("occupancy") * (F.col("occupancy") - 1) / 2
            ).cast("bigint").alias("candidate_pairs"),
        )
        .orderBy("band_idx", "occupancy")
    )
