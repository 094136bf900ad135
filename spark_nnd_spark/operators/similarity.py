"""Similarity search over embedding columns (ARRAY<FLOAT/DOUBLE>).

Extension layer for training-data pipelines. Two tiers:

- ``ann_brute_topk`` — exact cosine top-k: queries × corpus scored with
  JVM-side ``zip_with``/``aggregate`` expressions, per-query top-k via
  window. The query side is broadcast (queries ≪ corpus), so the
  corpus never shuffles: at 100 TB this is one scan + a tiny
  final top-k shuffle keyed by query id. The baseline and the oracle.
- ``ann_lsh_topk`` — random-hyperplane LSH: corpus and queries bucket
  by sign-bit signature of dot products with ``n_planes`` deterministic
  hyperplanes; candidates = bucket collisions (multi-probe: exact
  bucket plus 1-bit flips), then exact re-rank within candidates. The
  scale path: candidate volume per query is bounded by bucket sizes,
  not corpus size. Recall < 1 by design; tested against the brute
  baseline.

Hyperplanes are generated driver-side from a seeded numpy RNG —
deterministic everywhere. Signatures have two equal renderings (tested):
a pure-SQL expression (``lsh_signature_expr``) and an Arrow-batched
matmul kernel (``lsh_signatures_udf``) that sidesteps the huge codegen
unit the expression form expands into at multi-table sizes.

Near-duplicate detection by embedding cosine (``embedding_neardup``)
composes the same pieces: LSH buckets → exact verify ≥ threshold.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_nnd_spark.functions.vector import cosine_similarity_expr, dot_expr


# Hard cap on rows a query_pred self-search may collect to the driver
# (the broadcast-small contract, enforced rather than assumed).
MAX_QUERY_ROWS = 4096


def _as_double(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def ann_brute_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """Exact cosine top-k: for each query row, the k most-similar corpus
    rows (self-matches excluded when ids collide).

    Returns (query_id, nb_id, rank, cosine).
    """
    query_id_col = query_id_col or id_col
    q = queries.select(
        F.col(query_id_col).alias("query_id"), _as_double(vec_col).alias("q_vec")
    )
    c = corpus.select(F.col(id_col).alias("nb_id"), _as_double(vec_col).alias("c_vec"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("nb_id"))
        .withColumn("cosine", cosine_similarity_expr("q_vec", "c_vec"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nb_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nb_id", "rank", "cosine")
    )


def quantize_embeddings(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max|v|/127``,
    ``q_i = floor(v_i/scale + 0.5) ∈ [-127, 127]``.

    The 100 TB motivation: a quantized corpus ships 1 byte per
    dimension instead of 8 (float64 on the wire), so every downstream
    shuffle/broadcast of embedding payloads shrinks 8×, and similarity
    becomes integer arithmetic — exactly reproducible across engines
    (no float-summation-order concerns), which is also what makes the
    quantized tier fully oracle-checkable. Entirely JVM array
    expressions; zero shuffle.

    Returns (id, scale DOUBLE, qvec ARRAY<LONG>, qnorm2 LONG)."""
    v = _as_double(vec_col)
    scale = F.greatest(
        F.array_max(F.transform(v, F.abs)) / F.lit(127.0), F.lit(1e-12)
    )
    qvec = F.transform(v, lambda x: F.floor(x / scale + F.lit(0.5)).cast("long"))
    return df.select(
        F.col(id_col).alias("id"),
        scale.alias("scale"),
        qvec.alias("qvec"),
        F.aggregate(
            qvec, F.lit(0).cast("long"), lambda a, x: a + x * x
        ).alias("qnorm2"),
    )


def quantized_brute_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """Approximate cosine top-k over int8-quantized vectors — the
    ann_brute_topk plan shape (corpus streams, quantized query side
    broadcast, per-query window top-k) with an integer dot product:
    ``qcos = Σ qa_i·qb_i / sqrt(qnorm2_a · qnorm2_b)``. The integer
    sums are exact, so ranking is deterministic bit-for-bit.

    Returns (query_id, nb_id, rank, qcosine)."""
    query_id_col = query_id_col or id_col
    qz = quantize_embeddings(queries, query_id_col, vec_col).select(
        F.col("id").alias("query_id"),
        F.col("qvec").alias("q_q"),
        F.col("qnorm2").alias("q_n"),
    )
    cz = quantize_embeddings(corpus, id_col, vec_col).select(
        F.col("id").alias("nb_id"),
        F.col("qvec").alias("c_q"),
        F.col("qnorm2").alias("c_n"),
    )
    dot = F.aggregate(
        F.zip_with("q_q", "c_q", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    scored = (
        cz.crossJoin(F.broadcast(qz))
        .filter(F.col("query_id") != F.col("nb_id"))
        .withColumn(
            "qcosine",
            dot / F.sqrt(F.greatest(F.col("c_n") * F.col("q_n"), F.lit(1)).cast("double")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("qcosine"), F.asc("nb_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nb_id", "rank", "qcosine")
    )


# ---------------------------------------------- binary (1-bit) tier

BQ_WORD_BITS = 32  # bits packed per BIGINT word — words stay positive,
# so XOR/popcount arithmetic has no sign-bit edge and replays
# identically in DuckDB (the same portability discipline as KMV/CMS).


def binarize_embeddings(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """1-bit sign quantization: bit j of word w is set iff
    ``v[w·32+j] > 0``, packed 32 bits per BIGINT word.

    The 100 TB motivation: 1 bit per dimension is a 64× wire/memory
    cut vs float64 — the shortlist scan touches dim/8 bytes per
    vector and distance is integer XOR+popcount inside whole-stage
    codegen (the "binary quantization" retrieval tier of modern
    vector stores: hamming distance between sign patterns tracks
    angular distance for zero-centered embeddings). Entirely JVM
    array expressions; zero shuffle.

    Returns (id, bits ARRAY<BIGINT>), ceil(dim/32) words per row."""
    v = _as_double(vec_col)
    n_words = F.floor(
        (F.size(v) + F.lit(BQ_WORD_BITS - 1)) / F.lit(BQ_WORD_BITS)
    ).cast("long")
    words = F.transform(
        F.sequence(F.lit(0).cast("long"), n_words - 1),
        lambda w: F.aggregate(
            F.sequence(F.lit(0), F.lit(BQ_WORD_BITS - 1)),
            F.lit(0).cast("long"),
            lambda acc, j: acc
            + F.when(
                (w * BQ_WORD_BITS + j.cast("long") < F.size(v).cast("long"))
                & (F.element_at(v, (w * BQ_WORD_BITS + j + 1).cast("int")) > 0),
                F.call_function("shiftleft", F.lit(1).cast("long"), j),
            ).otherwise(F.lit(0).cast("long")),
        ),
    )
    return df.select(F.col(id_col).alias("id"), words.alias("bits"))


def binary_hamming_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """Binary-quantized retrieval with exact rerank — the two-stage
    cascade every 1-bit vector store runs: (1) hamming shortlist over
    the packed sign bits (dim/8 bytes per row ON THE WIRE; this
    inline tier still SCANS full vectors to pack them — the persisted
    bits sidecar in build_binary_index is what turns the 64× cut into
    scan I/O; query bits broadcast, XOR+popcount in codegen,
    deterministic (hamming, nb_id) cut), then (2) exact cosine over ONLY the
    O(queries·shortlist) surviving full vectors (shortlist broadcast
    back against the corpus, so full vectors never shuffle either).
    Integer hamming makes the shortlist hash-replayable, unlike a
    float coarse score — same argument as the int8 tier (q76).

    Returns (query_id, nb_id, rank, hamming, cosine)."""
    query_id_col = query_id_col or id_col
    qb = binarize_embeddings(queries, query_id_col, vec_col).select(
        F.col("id").alias("query_id"), F.col("bits").alias("q_bits")
    )
    cb = binarize_embeddings(corpus, id_col, vec_col).select(
        F.col("id").alias("nb_id"), F.col("bits").alias("c_bits")
    )
    ham = F.aggregate(
        F.zip_with(
            "q_bits", "c_bits", lambda a, b: F.bit_count(a.bitwiseXOR(b)).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w1 = Window.partitionBy("query_id").orderBy(F.asc("hamming"), F.asc("nb_id"))
    short = (
        cb.crossJoin(F.broadcast(qb))
        .filter(F.col("query_id") != F.col("nb_id"))
        .withColumn("hamming", ham)
        .withColumn("hrank", F.row_number().over(w1))
        .filter(F.col("hrank") <= shortlist)
        .select("query_id", "nb_id", "hamming")
    )
    cfull = corpus.select(
        F.col(id_col).alias("nb_id"), _as_double(vec_col).alias("c_vec")
    )
    qfull = queries.select(
        F.col(query_id_col).alias("query_id"), _as_double(vec_col).alias("q_vec")
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nb_id"))
    return (
        cfull.join(F.broadcast(short), "nb_id")
        .join(F.broadcast(qfull), "query_id")
        .withColumn("cosine", cosine_similarity_expr("q_vec", "c_vec"))
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "nb_id", "rank", "hamming", "cosine")
    )


BINARY_TABLES = [("bits", "nb_id", None), ("full", "nb_id", None)]


def build_binary_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the binary tier: ``<path>/bits`` holds (id, packed sign
    words — dim/8 BYTES per vector) and ``<path>/full`` the rerank
    store. This is where the 64× cut becomes REAL I/O: the inline
    binary_hamming_topk computes bits from a full float64 scan every
    query, but the indexed coarse stage scans ONLY the bits sidecar —
    the MRL-sidecar argument (columnar parquet prunes columns, not
    array elements or bit widths, so the narrow representation must
    be materialized). One narrow pass, no shuffle."""
    cb = binarize_embeddings(corpus, id_col, vec_col).select(
        F.col("id").alias("nb_id"), "bits"
    )
    cb.write.mode("overwrite").parquet(f"{path}/bits")
    corpus.select(
        F.col(id_col).alias("nb_id"), _as_double(vec_col).alias("c_vec")
    ).write.mode("overwrite").parquet(f"{path}/full")


def extend_binary_index(
    spark: SparkSession,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Admit new vectors: pack and append (packing has no tunable
    parameters, so there is no meta to pin). Re-admission of
    tombstoned ids is an upsert via the shared lifecycle kernel."""
    from spark_nnd_spark.operators import index_lifecycle as IL

    IL.settle_upsert(spark, path, new_vectors.select(id_col), BINARY_TABLES)
    binarize_embeddings(new_vectors, id_col, vec_col).select(
        F.col("id").alias("nb_id"), "bits"
    ).write.mode("append").parquet(f"{path}/bits")
    new_vectors.select(
        F.col(id_col).alias("nb_id"), _as_double(vec_col).alias("c_vec")
    ).write.mode("append").parquet(f"{path}/full")


def retract_from_binary_index(spark: SparkSession, path: str, ids: DataFrame) -> None:
    from spark_nnd_spark.operators import index_lifecycle as IL

    IL.append_tombstones(spark, path, ids)


def compact_binary_index(spark: SparkSession, path: str) -> None:
    from spark_nnd_spark.operators import index_lifecycle as IL

    IL.compact(spark, path, BINARY_TABLES)


def binary_query_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """Serve the binary cascade from the persisted index: hamming
    shortlist over the STORED sign words (the scan reads dim/8 bytes
    per vector — the claim build_binary_index exists to make true),
    exact cosine rerank over the shortlist-gated full store.
    Row-identical to the inline ``binary_hamming_topk`` over the same
    corpus (asserted index==inline in tests); tombstones are filtered
    at the bits scan, the full store is shortlist-gated."""
    from spark_nnd_spark.operators import index_lifecycle as IL

    query_id_col = query_id_col or id_col
    qb = binarize_embeddings(queries, query_id_col, vec_col).select(
        F.col("id").alias("query_id"), F.col("bits").alias("q_bits")
    )
    cb = IL.anti_tombstones(
        spark.read.parquet(f"{path}/bits"), IL.read_tombstones(spark, path), "nb_id"
    ).select("nb_id", F.col("bits").alias("c_bits"))
    ham = F.aggregate(
        F.zip_with(
            "q_bits", "c_bits", lambda a, b: F.bit_count(a.bitwiseXOR(b)).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w1 = Window.partitionBy("query_id").orderBy(F.asc("hamming"), F.asc("nb_id"))
    short = (
        cb.crossJoin(F.broadcast(qb))
        .filter(F.col("query_id") != F.col("nb_id"))
        .withColumn("hamming", ham)
        .withColumn("hrank", F.row_number().over(w1))
        .filter(F.col("hrank") <= shortlist)
        .select("query_id", "nb_id", "hamming")
    )
    qfull = queries.select(
        F.col(query_id_col).alias("query_id"), _as_double(vec_col).alias("q_vec")
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nb_id"))
    return (
        spark.read.parquet(f"{path}/full")
        .join(F.broadcast(short), "nb_id")
        .join(F.broadcast(qfull), "query_id")
        .withColumn("cosine", cosine_similarity_expr("q_vec", "c_vec"))
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "nb_id", "rank", "hamming", "cosine")
    )


def pq_codebooks(
    dim: int, m: int = 8, n_codes: int = 16, seed: int = 42
) -> np.ndarray:
    """Deterministic product-quantization codebooks: ``m`` subvector
    spaces × ``n_codes`` centroids × ``dim/m`` dims, seeded normal
    scaled by 1/sqrt(dim) — the per-dimension magnitude of ANY
    unit-normalized embedding space (a unit vector spreads unit energy
    over dim coordinates), so the codes land in the data's range
    without seeing the data. Data-independent (like fixed_centroids),
    so an oracle can replay them as literals. Real deployments
    k-means-train these; the geometry of encode/ADC is identical
    either way."""
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m} subvectors")
    rng = np.random.default_rng([seed, dim, m, n_codes, 11])
    return rng.standard_normal((m, n_codes, dim // m)) / np.sqrt(dim)


def _pq_space_lit(space: np.ndarray):
    """One subspace's codebook as an array<array<double>> literal.
    Catalyst constant-folds the nested CreateArray of foldable
    literals into a single Literal — the codes become DATA in the
    plan, not code, keeping the generated method tiny (the unrolled
    per-term expression form compiled a >1000-node codegen unit whose
    janino compile dominated the whole query on small inputs)."""
    return F.array(
        *[F.array(*[F.lit(float(x)) for x in code]) for code in space]
    )


def _pq_dists_expr(vec, j: int, sub: int, space_lit):
    """Array of K squared distances between subvector j of ``vec`` and
    each code: zip_with products folded left-to-right (0.0 + t1 + …,
    exact identity to the oracle's list_sum order — terms are squares,
    so the leading 0.0 changes nothing)."""
    subv = F.slice(vec, j * sub + 1, sub)
    return F.transform(
        space_lit,
        lambda code: F.aggregate(
            F.zip_with(subv, code, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: list[str] | None = None,
) -> DataFrame:
    """PQ encoding: per subvector, the argmin-L2 code index (ties →
    smaller code, via struct-ordered array_min). Returns (id,
    codes ARRAY<INT>, *keep) — m bytes of index per vector instead of
    8·dim bytes of floats, the ~64× memory/wire shrink that lets a
    billion-vector index live in RAM. Pure JVM expressions. ``keep``
    carries extra columns through (e.g. the IVF cell id, so the
    composed IVF-PQ build encodes and assigns in ONE narrow pass)."""
    codes_udf = _pq_encode_udf(codebooks)
    return df.select(
        F.col(id_col).alias("id"),
        codes_udf(_as_double(vec_col)).alias("codes"),
        *[F.col(c) for c in (keep or [])],
    )


def _pq_encode_udf(codebooks: np.ndarray):
    """argmin-L2 code per subvector for a whole Arrow batch in one
    numpy broadcast — the _cell_dots_udf tradeoff (guide §4.2): the
    expression form ran m·n_codes interpreted zip_with/aggregate HOFs
    per row (the unrolled variant was a >1000-node janino unit — see
    _pq_space_lit). Numerics are IDENTICAL to the old fold: each
    distance is a sequential left-to-right sum of ``sub`` squared
    differences in float64, accumulated one term at a time (numpy's
    ``sum`` over 8 or more terms adds them pairwise, a different
    order; the fold's leading 0.0 is exact), and ``argmin`` returns
    the FIRST minimum — the array_min struct tie-break (smaller code).
    Asserted equal to the expression form in tests/test_r16_fixes.py."""
    m, n_codes, sub = codebooks.shape
    cb = codebooks.astype(np.float64).copy()

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def codes_udf(v: pd.Series) -> pd.Series:
        x = np.stack(v.to_numpy()).astype(np.float64)
        xs = x[:, : m * sub].reshape(len(x), m, 1, sub)
        d = np.zeros((len(x), m, n_codes))
        for t in range(sub):
            diff = xs[..., t] - cb[None, :, :, t]
            d += diff * diff
        return pd.Series(list(d.argmin(axis=2).astype(np.int32)))

    return codes_udf


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    seed: int = 42,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    codebooks: np.ndarray | None = None,
    rerank: int | None = None,
) -> DataFrame:
    """Asymmetric-distance PQ top-k — the classic billion-scale ANN
    shape: the corpus is reduced to m-byte code arrays ONCE (encode is
    a narrow map; at scale the codes are the persisted index), each
    query precomputes its m×n_codes lookup table of exact
    subvector-to-centroid distances ONCE (a few hundred doubles,
    broadcast with the query), and the per-pair cost collapses to m
    table lookups + adds — compare brute's O(dim) multiplies per pair,
    on 64× more bytes. Approximate L2; ranking is deterministic
    (identical double sums both engines, ties → nb_id).

    With ``rerank=R`` the ADC pass becomes a shortlist: the top-R
    candidates per query are re-scored with EXACT cosine (features
    fetched for only R rows per query via an id equi-join against the
    corpus) and the final top-k ranks by true similarity — the
    production PQ shape (IVFADC+rerank), which buys back the recall
    the coarse codes lose while still never scanning features for the
    other N−R candidates. Rerank output: (query_id, nb_id, rank,
    cosine).

    Returns (query_id, nb_id, rank, pq_dist)."""
    query_id_col = query_id_col or id_col
    cb = codebooks if codebooks is not None else pq_codebooks(dim, m, n_codes, seed)
    m, n_codes, sub = cb.shape
    enc = pq_encode(corpus, cb, id_col, vec_col).withColumnRenamed("id", "nb_id")
    qv = _as_double(vec_col)
    lut = F.array(
        *[_pq_dists_expr(qv, j, sub, _pq_space_lit(cb[j])) for j in range(m)]
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"), lut.alias("lut")
    )
    dist = None
    for j in range(m):
        # element_at is 1-based (subvector slot); [] is 0-based (code)
        term = F.expr(f"element_at(lut, {j + 1})[element_at(codes, {j + 1})]")
        dist = term if dist is None else dist + term
    scored = (
        enc.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("nb_id"))
        .withColumn("pq_dist", dist)
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("pq_dist"), F.asc("nb_id"))
    ranked = scored.withColumn("rank", F.row_number().over(w))
    if rerank is None:
        return ranked.filter(F.col("rank") <= k).select(
            "query_id", "nb_id", "rank", "pq_dist"
        )
    shortlist = ranked.filter(F.col("rank") <= rerank).select("query_id", "nb_id")
    c_feats = corpus.select(
        F.col(id_col).alias("nb_id"), _as_double(vec_col).alias("c_vec")
    )
    q_feats = queries.select(
        F.col(query_id_col).alias("query_id"), _as_double(vec_col).alias("q_vec")
    )
    exact = (
        shortlist.join(c_feats, "nb_id")
        .join(F.broadcast(q_feats), "query_id")
        .withColumn("cosine", cosine_similarity_expr("q_vec", "c_vec"))
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nb_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "nb_id", "rank", "cosine")
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    """Deterministic random hyperplanes for sign-LSH."""
    rng = np.random.default_rng([seed, dim, n_planes])
    return rng.standard_normal((n_planes, dim))


def fixed_centroids(dim: int, n_centroids: int, seed: int = 42) -> np.ndarray:
    """Deterministic random unit centroids for a data-independent IVF
    index (reproducible anywhere from (dim, n, seed) — usable as
    literals in an oracle SQL, unlike sample-trained k-means)."""
    rng = np.random.default_rng([seed, dim, n_centroids, 7])
    c = rng.standard_normal((n_centroids, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def lsh_signature_expr(vec: str | Column, planes: np.ndarray) -> Column:
    """Sign-bit bucket id: bit_j = 1 iff <vec, plane_j> >= 0."""
    v = _as_double(vec)
    bits = [
        F.when(dot_expr(v, F.array(*[F.lit(float(x)) for x in p])) >= 0, 1 << j).otherwise(0)
        for j, p in enumerate(planes)
    ]
    total = bits[0]
    for b in bits[1:]:
        total = total + b
    return total.cast("long")


def lsh_signatures_udf(planes: np.ndarray, n_tables: int):
    """Arrow-batched signature kernel: all ``n_tables`` sign-LSH
    signatures in one BLAS matmul against the stacked (n_tables ·
    n_planes, dim) hyperplane matrix. Equal to ``lsh_signature_expr``
    per table (tested), but avoids the O(n_tables·n_planes·dim)-node
    codegen unit the expression form expands into."""
    n_planes = len(planes) // n_tables
    powers = 2 ** np.arange(n_planes, dtype=np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sigs(v: pd.Series) -> pd.Series:
        x = np.stack(v.to_numpy()).astype(np.float64)
        bits = (x @ planes.T) >= 0
        sig = bits.reshape(len(x), n_tables, -1) @ powers
        return pd.Series(list(sig))

    return sigs


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame | None,
    k: int = 5,
    n_planes: int = 6,
    n_tables: int = 6,
    seed: int = 42,
    multiprobe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_pred: Column | None = None,
    dim: int | None = None,
    max_query_rows: int = MAX_QUERY_ROWS,
) -> DataFrame:
    """Approximate cosine top-k via multi-table random-hyperplane LSH
    (``n_tables`` independent ``n_planes``-bit signatures, optional
    1-bit multi-probe), exact re-rank within the candidate union.

    Multiple tables are the standard recall lever when neighbors are
    angularly far (collision prob per table ≈ (1-θ/π)^n_planes; union
    over tables compounds it). Index cost is n_tables postings per
    corpus row — the classic space/recall tradeoff, tunable per corpus.

    ``query_pred`` (exclusive with ``queries``) selects the query rows
    out of the corpus itself (self-search). Query signatures and probe
    buckets are then computed driver-side from the collected query rows
    — legitimate because queries are broadcast-small by contract (the
    default path broadcasts them anyway) — so the plan holds exactly
    one Arrow signature stage (over the corpus) instead of two, and the
    corpus parquet is scanned once wide + once with the predicate
    pushed down.

    ``dim`` skips the one-row driver job otherwise used to infer the
    embedding width. ``max_query_rows`` bounds how many rows a
    ``query_pred`` self-search may collect to the driver (default
    MAX_QUERY_ROWS); raise it only for query sets you know are still
    broadcast-safe.

    Returns (query_id, nb_id, rank, cosine) — ≤ k rows per query
    (fewer if the probed buckets hold < k candidates).
    """
    if (queries is None) == (query_pred is None):
        raise ValueError("pass exactly one of queries / query_pred")
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    planes = np.vstack(
        [hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)]
    )
    sig_array = lsh_signatures_udf(planes, n_tables)

    # No repartition barriers needed: the signature UDF is extracted into
    # its own ArrowEvalPython node, so downstream probe/explode projections
    # reference its one materialized result instead of recomputing it.
    c = corpus.select(
        F.col(id_col).alias("nb_id"),
        _as_double(vec_col).alias("c_vec"),
        sig_array(_as_double(vec_col)).alias("sigs"),
    ).select(
        "nb_id",
        "c_vec",
        F.posexplode("sigs").alias("t", "bucket"),
    )

    if query_pred is not None:
        spark = corpus.sparkSession
        # Queries are broadcast-small by contract; enforce it instead of
        # letting a broad predicate silently OOM the driver. limit(N+1)
        # bounds what can ever reach the driver before the check fires.
        qrows = (
            corpus.filter(query_pred)
            .select(F.col(id_col).alias("query_id"), _as_double(vec_col).alias("q_vec"))
            .limit(max_query_rows + 1)
            .collect()
        )
        if len(qrows) > max_query_rows:
            raise ValueError(
                f"query_pred matched more than {max_query_rows} rows; "
                "self-search queries must be broadcast-small — pass a "
                "narrower predicate or use the `queries` DataFrame path"
            )
        if not qrows:
            return spark.createDataFrame(
                [], "query_id long, nb_id long, rank int, cosine double"
            )
        x = np.stack([r["q_vec"] for r in qrows]).astype(np.float64)
        powers = 2 ** np.arange(n_planes, dtype=np.int64)
        sigs = ((x @ planes.T) >= 0).reshape(len(x), n_tables, n_planes) @ powers
        probe_rows = []
        for r, row in zip(qrows, sigs):
            for t, sig in enumerate(row):
                probe_rows.append((r["query_id"], t, int(sig)))
                if multiprobe:
                    probe_rows.extend(
                        (r["query_id"], t, int(sig) ^ (1 << j)) for j in range(n_planes)
                    )
        probe_df = spark.createDataFrame(probe_rows, "query_id long, t int, bucket long")
        qvec_df = spark.createDataFrame(
            [(r["query_id"], list(r["q_vec"])) for r in qrows],
            "query_id long, q_vec array<double>",
        )
        cand = (
            c.join(F.broadcast(probe_df), ["t", "bucket"])
            .filter(F.col("query_id") != F.col("nb_id"))
            .select("query_id", "nb_id", "c_vec")
            .dropDuplicates(["query_id", "nb_id"])
            .join(F.broadcast(qvec_df), "query_id")
        )
    else:
        q = queries.select(
            F.col(id_col).alias("query_id"),
            _as_double(vec_col).alias("q_vec"),
            sig_array(_as_double(vec_col)).alias("sigs"),
        )
        if multiprobe:
            probes = F.flatten(
                F.transform(
                    F.col("sigs"),
                    lambda sig, t: F.array(
                        F.struct(t.alias("t"), sig.alias("bucket")),
                        *[
                            F.struct(
                                t.alias("t"),
                                sig.bitwiseXOR(F.lit(1 << j).cast("long")).alias("bucket"),
                            )
                            for j in range(n_planes)
                        ],
                    ),
                )
            )
        else:
            probes = F.transform(
                F.col("sigs"), lambda sig, t: F.struct(t.alias("t"), sig.alias("bucket"))
            )
        q = q.select(
            "query_id", "q_vec", F.explode(probes).alias("p")
        ).select("query_id", "q_vec", F.col("p.t").alias("t"), F.col("p.bucket").alias("bucket"))

        cand = (
            c.join(F.broadcast(q), ["t", "bucket"])
            .filter(F.col("query_id") != F.col("nb_id"))
            .select("query_id", "q_vec", "nb_id", "c_vec")
            .dropDuplicates(["query_id", "nb_id"])
        )
    scored = cand.withColumn("cosine", cosine_similarity_expr("q_vec", "c_vec"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nb_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nb_id", "rank", "cosine")
    )


def _normalize_centroids(centroids: np.ndarray) -> np.ndarray:
    cents = np.asarray(centroids, dtype=np.float64)
    return cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)


# Footer-sampling cap for _estimate_rows: above this many input files
# the estimate extrapolates from a prefix instead of opening every
# footer (the estimate only sizes a sampling rate with 4x headroom, and
# under-selection is caught by the escalation loop in the trainer).
_EST_MAX_FOOTERS = 64


def _estimate_rows(df: DataFrame) -> int | None:
    """Row-count estimate from parquet footers — metadata-only, no
    Spark job, no data scan. Returns None when the plan has no
    file-backed inputs (caller falls back to the keep-everything
    rate). Upstream filters make this an overestimate, which only
    shrinks the sample — corrected by the caller's escalation loop."""
    try:
        files = [f for f in df.inputFiles() if ".parquet" in f]
    except Exception:  # noqa: BLE001 - non-file plans (e.g. createDataFrame)
        return None
    if not files:
        return None
    import pyarrow.parquet as pq  # noqa: PLC0415

    def _path(uri: str) -> str:
        return uri[7:] if uri.startswith("file://") else uri.removeprefix("file:")

    try:
        head = files[:_EST_MAX_FOOTERS]
        total = sum(pq.ParquetFile(_path(f)).metadata.num_rows for f in head)
        if len(files) > len(head):
            total = int(total * len(files) / len(head))
        return total
    except Exception:  # noqa: BLE001 - unreadable footer → let caller fall back
        return None


def _collect_training_sample(
    corpus: DataFrame,
    train_sample: int,
    seed: int,
    id_col: str,
    vec_col: str,
    n_rows: int | None,
) -> np.ndarray:
    """The shared deterministic-sample collector of the index trainers
    (IVF centroids, PQ codebooks): md5-threshold pre-filter sized from
    metadata, seeded xxhash64 order over the surviving subset, ×4 rate
    escalation on under-selection. Returns an (n, dim) float64 array
    (raw, un-normalized — callers normalize as their metric needs)."""
    from spark_nnd_spark.operators.sampling import (  # noqa: PLC0415
        sample_key_expr,
        threshold_hex,
    )

    n_est = n_rows if n_rows is not None else _estimate_rows(corpus)
    rate = 1.0 if n_est is None else min(1.0, (4.0 * train_sample) / max(n_est, 1))
    while True:
        sample = (
            corpus.filter(sample_key_expr(F.col(id_col)) < threshold_hex(rate))
            .select(
                _as_double(vec_col).alias("v"),
                F.xxhash64(id_col, F.lit(seed)).alias("h"),
            )
            .orderBy("h")
            .limit(train_sample)
            .collect()
        )
        if len(sample) >= train_sample or rate >= 1.0:
            break
        rate = min(1.0, rate * 4.0)
    return np.array([r["v"] for r in sample], dtype=np.float64)


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    train_sample: int = 4096,
    kmeans_iters: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_rows: int | None = None,
) -> np.ndarray:
    """Data-trained PQ codebooks: per-subspace Lloyd k-means on the
    deterministic training sample (driver-side numpy on O(train_sample)
    rows, the standard practice — same shape as train_ivf_centroids).
    Trained codebooks lift PQ recall far above the seeded
    data-independent ones (q79 keeps the seeded variant because a
    static oracle can replay it; production indexes pass these in via
    ``pq_adc_topk(codebooks=...)``)."""
    x = _collect_training_sample(corpus, train_sample, seed, id_col, vec_col, n_rows)
    if len(x) < n_codes:
        raise ValueError(
            f"PQ training needs >= n_codes={n_codes} vectors; got {len(x)}"
        )
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m} subvectors")
    sub = dim // m
    rng = np.random.default_rng([seed, m, n_codes, 23])
    books = np.empty((m, n_codes, sub))
    for j in range(m):
        xs = x[:, j * sub : (j + 1) * sub]
        c = xs[rng.choice(len(xs), size=n_codes, replace=False)].copy()
        for _ in range(kmeans_iters):
            d = ((xs[:, None, :] - c[None, :, :]) ** 2).sum(-1)
            assign = d.argmin(1)
            for kk in range(n_codes):
                members = xs[assign == kk]
                if len(members):
                    c[kk] = members.mean(0)
        books[j] = c
    return books


def train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    train_sample: int = 4096,
    kmeans_iters: int = 5,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_rows: int | None = None,
) -> np.ndarray:
    """Spherical k-means on a deterministic hash-thresholded sample,
    trained driver-side (the standard IVF practice — the sample collect
    is O(train_sample)).

    Sampling is a two-step: (1) a deterministic md5-prefix threshold
    filter (sampling.py idiom) keeps ~4×train_sample expected rows — a
    plain filter the scan can stream through, with no ordering over the
    corpus; (2) an xxhash64 orderBy+limit over just that small subset
    pins the exact seeded sample. The previous global
    ``orderBy(h).limit(n)`` compiled to TakeOrdered, which heap-sorts
    every corpus row — a full-corpus ordering for a 4,096-row sample,
    wrong shape at 100 TB.

    The filter rate is sized from ``n_rows`` when the caller knows it,
    else from parquet footer metadata (no job, no scan — the old
    ``corpus.count()`` here was a whole extra corpus pass per index
    build). Because the threshold draw is Bernoulli, an unlucky draw
    (or a stale estimate) can under-select; the loop then rewidens the
    rate ×4 up to keep-everything, so the sample can silently shrink
    below ``train_sample`` only when the corpus itself is smaller."""
    x = _collect_training_sample(corpus, train_sample, seed, id_col, vec_col, n_rows)
    if len(x) < n_centroids:
        raise ValueError(
            f"IVF training needs >= n_centroids={n_centroids} vectors; "
            f"corpus yielded only {len(x)}"
        )
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng([seed, len(x)])
    cents = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)]
    for _ in range(kmeans_iters):
        assign = np.argmax(x @ cents.T, axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                m = members.sum(axis=0)
                cents[c] = m / max(np.linalg.norm(m), 1e-12)
    return cents


def _cell_dots_udf(cents: np.ndarray):
    """cosine(vec, centroid_c) for every cell in one Arrow-batched
    matmul (centroids are unit vectors, so dot/||vec|| is the cosine);
    the equivalent JVM array expression is an O(n_centroids·dim)-node
    codegen unit — same tradeoff as lsh_signatures_udf."""
    cents_m = cents.copy()

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def dots_udf(v: pd.Series) -> pd.Series:
        x = np.stack(v.to_numpy()).astype(np.float64)
        norms = np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        return pd.Series(list((x / norms) @ cents_m.T))

    return dots_udf


def _ivf_assign(
    corpus: DataFrame, cents: np.ndarray, id_col: str, vec_col: str
) -> DataFrame:
    """(nb_id, c_vec, cell): nearest-centroid cell per corpus vector —
    a narrow map over the corpus scan, no shuffle."""
    dots_udf = _cell_dots_udf(cents)
    return (
        corpus.select(F.col(id_col).alias("nb_id"), _as_double(vec_col).alias("__v"))
        .withColumn("__d", dots_udf("__v"))
        .withColumn("cell", F.expr("array_position(__d, array_max(__d)) - 1"))
        .select("nb_id", F.col("__v").alias("c_vec"), "cell")
    )


def _probe_cells_expr(n_cents: int, n_probe: int) -> Column:
    """Top-``n_probe`` cell ids from a ``__d`` centroid-dots column,
    descending by dot (ties → higher cell id, the reversed ascending
    (d, i) struct sort — pinned so every consumer and every oracle
    ranks probe cells identically)."""
    return F.slice(
        F.transform(
            F.reverse(
                F.array_sort(
                    F.zip_with(
                        F.col("__d"),
                        F.sequence(F.lit(0), F.lit(n_cents - 1)),
                        lambda d, i: F.struct(d.alias("d"), i.alias("i")),
                    )
                )
            ),
            lambda s: s["i"],
        ),
        1,
        min(n_probe, n_cents),
    )


def _ivf_probe_topk(
    c_assigned: DataFrame,
    queries: DataFrame,
    cents: np.ndarray,
    k: int,
    n_probe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Probe the n_probe nearest cells per query and exact-re-rank the
    members — the shuffle is sized by cell occupancy, not corpus."""
    dots_udf = _cell_dots_udf(cents)
    probe_cells = _probe_cells_expr(len(cents), n_probe)
    q_probed = (
        queries.select(F.col(id_col).alias("query_id"), _as_double(vec_col).alias("__v"))
        .withColumn("__d", dots_udf("__v"))
        .select(
            "query_id",
            F.col("__v").alias("q_vec"),
            F.explode(probe_cells).alias("cell"),
        )
    )

    cand = (
        c_assigned.join(F.broadcast(q_probed), "cell")
        .filter(F.col("query_id") != F.col("nb_id"))
        .select("query_id", "q_vec", "nb_id", "c_vec")
    )
    scored = cand.withColumn("cosine", cosine_similarity_expr("q_vec", "c_vec"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nb_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nb_id", "rank", "cosine")
    )


def ann_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    train_sample: int = 4096,
    kmeans_iters: int = 5,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Approximate cosine top-k via an IVF (inverted-file) index:
    spherical k-means centroids partition the corpus into cells; each
    query probes its ``n_probe`` nearest cells and exact-re-ranks only
    those members.

    Scale shape: centroids are trained driver-side on a deterministic
    sample (the standard IVF practice — training never scans the full
    corpus) and inlined as literals, so cell assignment is one JVM-side
    argmax over ``n_centroids`` dot products — a narrow map over the
    corpus scan, no shuffle. The only shuffle is the (cell ⋈ probe)
    candidate join, sized by cell occupancy, not corpus size. Recall is
    governed by n_probe/n_centroids; tested against the brute oracle.

    Returns (query_id, nb_id, rank, cosine) — ≤ k rows per query.
    """
    if centroids is not None:
        # pre-supplied (e.g. fixed_centroids for a cross-engine-
        # reproducible index — the data-trained k-means below cannot be
        # re-derived inside a static oracle SQL string)
        cents = _normalize_centroids(centroids)
    else:
        cents = train_ivf_centroids(
            corpus, n_centroids, train_sample, kmeans_iters, seed, id_col, vec_col
        )
    c_assigned = _ivf_assign(corpus, cents, id_col, vec_col)
    return _ivf_probe_topk(c_assigned, queries, cents, k, n_probe, id_col, vec_col)


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    train_sample: int = 4096,
    kmeans_iters: int = 5,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
) -> np.ndarray:
    """Persist an IVF index: ``<path>/centroids`` (cell → unit vector,
    k·dim doubles) and ``<path>/assignments`` (nb_id, c_vec, cell),
    hive-partitioned BY CELL so a query that probes p cells scans only
    p/n_centroids of the corpus (partition pruning does the inverted-
    file part at the storage layer). Build cost: one training sample
    collect + one narrow assignment pass + one write."""
    spark = corpus.sparkSession
    if centroids is not None:
        cents = _normalize_centroids(centroids)
    else:
        cents = train_ivf_centroids(
            corpus, n_centroids, train_sample, kmeans_iters, seed, id_col, vec_col
        )
    spark.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in enumerate(cents)],
        "cell int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    _ivf_assign(corpus, cents, id_col, vec_col).write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(f"{path}/assignments")
    return cents


def ann_ivf_query_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve cosine top-k from a PERSISTED IVF index (build_ivf_index):
    centroids are a tiny driver read; the assignment scan is pruned to
    the probed cells' partitions. Same result as the inline ann_ivf_topk
    over the same centroids (asserted in tests)."""
    from spark_nnd_spark.operators import index_lifecycle as IL

    crows = spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    cents = np.array([r["centroid"] for r in crows], dtype=np.float64)
    c_assigned = IL.anti_tombstones(
        spark.read.parquet(f"{path}/assignments"),
        IL.read_tombstones(spark, path),
        "nb_id",
    )
    return _ivf_probe_topk(c_assigned, queries, cents, k, n_probe, id_col, vec_col)


IVF_TABLES = [("assignments", "nb_id", "cell")]


def retract_from_ivf_index(spark: SparkSession, path: str, ids: DataFrame) -> None:
    """Tombstone-retract vectors from the IVF index (shared lifecycle
    kernel, operators/index_lifecycle.py). Centroids are untouched —
    they are the quantizer, not membership; retraction only removes
    rows from the probed cells."""
    from spark_nnd_spark.operators import index_lifecycle as IL

    IL.append_tombstones(spark, path, ids)


def compact_ivf_index(spark: SparkSession, path: str) -> None:
    from spark_nnd_spark.operators import index_lifecycle as IL

    IL.compact(spark, path, IVF_TABLES)


def extend_ivf_index(
    spark: SparkSession,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Admit new vectors into an existing IVF index: assign them to
    cells using the STORED centroids (never retrained — an extension
    assigned against different centroids would corrupt every probe)
    and append to the cell-partitioned assignments table. The
    extend_neardup_index twin for the vector side; one narrow pass,
    plain partitioned parquet appends, no shuffle.

    Centroid drift is the deliberate trade: a growing corpus slowly
    de-optimizes cell balance, and the remedy is a periodic REBUILD
    (re-train + reassign), not per-batch retraining — the standard
    IVF operating practice."""
    from spark_nnd_spark.operators import index_lifecycle as IL

    crows = spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    cents = np.array([r["centroid"] for r in crows], dtype=np.float64)
    IL.settle_upsert(spark, path, new_vectors.select(id_col), IVF_TABLES)
    _ivf_assign(new_vectors, cents, id_col, vec_col).write.mode(
        "append"
    ).partitionBy("cell").parquet(f"{path}/assignments")


# ------------------------------------------------- composed IVF-PQ tier


def _adc_lut_expr(vec: Column, cb: np.ndarray) -> Column:
    """Per-query ADC lookup table: m×n_codes exact subvector-to-code
    squared distances (a few hundred doubles computed once per query,
    broadcast with it) — the pq_adc_topk table, factored for reuse."""
    m, n_codes, sub = cb.shape
    return F.array(
        *[_pq_dists_expr(vec, j, sub, _pq_space_lit(cb[j])) for j in range(m)]
    )


def _adc_dist_expr(m: int) -> Column:
    """Sum of m table lookups: ADC distance of a ``codes`` row against
    a ``lut`` column (element_at is 1-based for the subvector slot,
    [] is 0-based for the code — matching pq_adc_topk exactly)."""
    dist = None
    for j in range(m):
        term = F.expr(f"element_at(lut, {j + 1})[element_at(codes, {j + 1})]")
        dist = term if dist is None else dist + term
    return dist


def _ivfpq_probe(
    enc: DataFrame,
    queries: DataFrame,
    cents: np.ndarray,
    cb: np.ndarray,
    c_feats: DataFrame,
    k: int,
    n_probe: int,
    shortlist: int,
    id_col: str,
    vec_col: str,
    query_id_col: str | None,
) -> DataFrame:
    """Shared IVF-PQ probe: ADC over the probed cells' code rows →
    top-``shortlist`` per query → exact cosine rerank to top-``k``.
    ``enc`` is (nb_id, codes, cell); ``c_feats`` is (nb_id, c_vec),
    touched only for the bounded shortlist."""
    query_id_col = query_id_col or id_col
    m = cb.shape[0]
    dots_udf = _cell_dots_udf(cents)
    qd = queries.select(
        F.col(query_id_col).alias("query_id"), _as_double(vec_col).alias("__v")
    ).withColumn("__d", dots_udf("__v"))
    q_probed = qd.select(
        "query_id",
        F.col("__v").alias("q_vec"),
        _adc_lut_expr(F.col("__v"), cb).alias("lut"),
        F.explode(_probe_cells_expr(len(cents), n_probe)).alias("cell"),
    )
    cand = (
        enc.join(F.broadcast(q_probed), "cell")
        .filter(F.col("query_id") != F.col("nb_id"))
        .withColumn("pq_dist", _adc_dist_expr(m))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("pq_dist"), F.asc("nb_id"))
    short = (
        cand.withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= shortlist)
        .select("query_id", "q_vec", "nb_id")
    )
    # shortlist broadcast into the feature scan: O(queries·shortlist)
    # rows stream past the corpus features, never the reverse
    rerank = c_feats.join(F.broadcast(short), "nb_id")
    exact = rerank.withColumn("cosine", cosine_similarity_expr("q_vec", "c_vec"))
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nb_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "nb_id", "rank", "cosine")
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    shortlist: int = 20,
    n_centroids: int = 16,
    m: int = 8,
    n_codes: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    centroids: np.ndarray | None = None,
    codebooks: np.ndarray | None = None,
) -> DataFrame:
    """Composed IVF-PQ retrieval — the actual billion-vector layout
    (IVFADC, Jégou et al. 2011): IVF cells bound WHICH vectors each
    query considers (n_probe/n_centroids of the corpus), PQ codes bound
    WHAT is read per considered vector (m small ints, not dim doubles),
    ADC ranks a shortlist, and an exact cosine rerank of only
    ``shortlist`` rows per query buys the recall back. Both stages are
    the existing operators composed (ann_ivf_topk's cell machinery +
    pq_adc_topk's lookup tables); assignment and encoding happen in ONE
    narrow pass over the corpus scan. Deterministic end-to-end for
    fixed centroids/codebooks (total tie-breaks), so the cascade is
    oracle-checkable row-for-row — the q33/q67/q79 convention."""
    cents = (
        _normalize_centroids(centroids)
        if centroids is not None
        else train_ivf_centroids(
            corpus, n_centroids, seed=seed, id_col=id_col, vec_col=vec_col
        )
    )
    if codebooks is None:
        dim = len(corpus.select(vec_col).first()[0])
        codebooks = pq_codebooks(dim, m, n_codes, seed)
    cb = codebooks
    assigned = _ivf_assign(corpus, cents, id_col, vec_col)
    enc = pq_encode(
        assigned, cb, id_col="nb_id", vec_col="c_vec", keep=["cell"]
    ).withColumnRenamed("id", "nb_id")
    c_feats = corpus.select(
        F.col(id_col).alias("nb_id"), _as_double(vec_col).alias("c_vec")
    )
    return _ivfpq_probe(
        enc, queries, cents, cb, c_feats, k, n_probe, shortlist,
        id_col, vec_col, query_id_col,
    )


def build_ivfpq_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    m: int = 8,
    n_codes: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
    codebooks: np.ndarray | None = None,
) -> None:
    """Persist the composed IVF-PQ index:

    - ``centroids``  — cell → unit centroid (the IVF coarse tier).
    - ``codebooks``  — (j, code, center): the PQ codebooks, stored so
      probes can never encode with different codes than the build.
    - ``codes``      — (nb_id, codes ARRAY<INT>), hive-partitioned BY
      CELL: a probe scans n_probe/n_centroids of the corpus (partition
      pruning) and reads m ints per row instead of dim doubles
      (column layout) — the two multiplicative I/O cuts composed.
    - ``full``       — (nb_id, c_vec): the rerank store, touched only
      for each query's bounded shortlist.

    One training-sample collect + ONE narrow assign+encode pass over
    the corpus + writes; no shuffle anywhere in the build."""
    spark = corpus.sparkSession
    cents = (
        _normalize_centroids(centroids)
        if centroids is not None
        else train_ivf_centroids(
            corpus, n_centroids, seed=seed, id_col=id_col, vec_col=vec_col
        )
    )
    if codebooks is None:
        dim = len(corpus.select(vec_col).first()[0])
        codebooks = pq_codebooks(dim, m, n_codes, seed)
    spark.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in enumerate(cents)],
        "cell int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    spark.createDataFrame(
        [
            (int(j), int(c), [float(x) for x in codebooks[j, c]])
            for j in range(codebooks.shape[0])
            for c in range(codebooks.shape[1])
        ],
        "j int, code int, center array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")
    assigned = _ivf_assign(corpus, cents, id_col, vec_col)
    pq_encode(
        assigned, codebooks, id_col="nb_id", vec_col="c_vec", keep=["cell"]
    ).withColumnRenamed("id", "nb_id").write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(f"{path}/codes")
    corpus.select(
        F.col(id_col).alias("nb_id"), _as_double(vec_col).alias("c_vec")
    ).write.mode("overwrite").parquet(f"{path}/full")


def _read_codebooks(spark: SparkSession, path: str) -> np.ndarray:
    brows = spark.read.parquet(f"{path}/codebooks").orderBy("j", "code").collect()
    m = max(r["j"] for r in brows) + 1
    n_codes = max(r["code"] for r in brows) + 1
    sub = len(brows[0]["center"])
    cb = np.zeros((m, n_codes, sub))
    for r in brows:
        cb[r["j"], r["code"]] = r["center"]
    return cb


IVFPQ_TABLES = [("codes", "nb_id", "cell"), ("full", "nb_id", None)]


def retract_from_ivfpq_index(spark: SparkSession, path: str, ids: DataFrame) -> None:
    """Tombstone-retract vectors from the IVF-PQ index (shared
    lifecycle kernel). Centroids/codebooks are the quantizer, not
    membership — untouched."""
    from spark_nnd_spark.operators import index_lifecycle as IL

    IL.append_tombstones(spark, path, ids)


def compact_ivfpq_index(spark: SparkSession, path: str) -> None:
    from spark_nnd_spark.operators import index_lifecycle as IL

    IL.compact(spark, path, IVFPQ_TABLES)


def extend_ivfpq_index(
    spark: SparkSession,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Admit new vectors into an existing IVF-PQ index: assign cells
    with the STORED centroids and encode with the STORED codebooks
    (both read from the index, never recomputed — the meta-pinning
    convention; differently-trained parameters would corrupt every
    probe), then append to the cell-partitioned codes table and the
    rerank store. One narrow assign+encode pass, plain parquet
    appends, no shuffle; periodic full rebuilds handle centroid/
    codebook drift, as with extend_ivf_index."""
    from spark_nnd_spark.operators import index_lifecycle as IL

    crows = spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    cents = np.array([r["centroid"] for r in crows], dtype=np.float64)
    cb = _read_codebooks(spark, path)
    IL.settle_upsert(spark, path, new_vectors.select(id_col), IVFPQ_TABLES)
    assigned = _ivf_assign(new_vectors, cents, id_col, vec_col)
    pq_encode(
        assigned, cb, id_col="nb_id", vec_col="c_vec", keep=["cell"]
    ).withColumnRenamed("id", "nb_id").write.mode("append").partitionBy(
        "cell"
    ).parquet(f"{path}/codes")
    new_vectors.select(
        F.col(id_col).alias("nb_id"), _as_double(vec_col).alias("c_vec")
    ).write.mode("append").parquet(f"{path}/full")


def ivfpq_query_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    shortlist: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """Serve IVF-PQ top-k from a persisted index (build_ivfpq_index):
    centroids and codebooks are tiny driver reads; the code scan is
    pruned to the probed cells' partitions and reads m ints per
    member; full vectors are fetched only for the bounded shortlist.
    Row-identical to the inline ``ivfpq_topk`` over the same
    centroids/codebooks (asserted in tests)."""
    crows = spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    cents = np.array([r["centroid"] for r in crows], dtype=np.float64)
    from spark_nnd_spark.operators import index_lifecycle as IL

    cb = _read_codebooks(spark, path)
    # tombstones are filtered at the CODE scan; the full-vector rerank
    # store is shortlist-gated, so a retracted id can never reach it
    enc = IL.anti_tombstones(
        spark.read.parquet(f"{path}/codes"), IL.read_tombstones(spark, path), "nb_id"
    )
    c_feats = spark.read.parquet(f"{path}/full")
    return _ivfpq_probe(
        enc, queries, cents, cb, c_feats, k, n_probe, shortlist,
        id_col, vec_col, query_id_col,
    )


def embedding_neardup(
    df: DataFrame,
    threshold: float = 0.98,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold.

    LSH-blocked across ``n_tables`` independent sign-LSH tables: only
    pairs colliding in some table's bucket are scored, then exact
    verify. At true near-dup thresholds (≥ 0.95, tiny angles) one table
    already catches nearly everything; extra tables buy recall when the
    threshold is looser. Returns (id_a, id_b, cosine), id_a < id_b.
    """
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    planes = np.vstack(
        [hyperplanes(dim, n_planes, seed + 1000 * ti) for ti in range(n_tables)]
    )
    sig_array = lsh_signatures_udf(planes, n_tables)
    t = df.select(
        F.col(id_col).alias("id"),
        _as_double(vec_col).alias("vec"),
        sig_array(_as_double(vec_col)).alias("sigs"),
    ).select("id", "vec", F.posexplode("sigs").alias("t", "bucket"))
    a = t.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a"), "t", "bucket")
    b = t.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b"), "t", "bucket")
    return (
        a.join(b, ["t", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "vec_a", "vec_b")
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("cosine", cosine_similarity_expr("vec_a", "vec_b"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_neardup_exact(
    df: DataFrame,
    threshold: float = 0.98,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All-pairs exact variant (oracle for the LSH-blocked one; only for
    modest N — O(N²) pairs)."""
    t = df.select(F.col(id_col).alias("id"), _as_double(vec_col).alias("vec"))
    a = t.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a"))
    b = t.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cosine_similarity_expr("vec_a", "vec_b"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def label_centroids(
    df: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label per-dimension mean of an embedding column — the
    centroid/prototype aggregation behind IVF training, cluster
    profiling and drift monitoring, expressed as posexplode → groupBy.

    Scale shape: the explode inflates the stream ×dim, but hash
    aggregation applies map-side partial aggregation, so each task
    collapses to (labels × dim) partial sums before the exchange —
    shuffle volume is O(tasks · labels · dim), independent of row
    count. All JVM, whole-stage codegen; no vector UDF needed.
    Returns (label, i, centroid, n) with i 0-based.
    """
    return (
        df.select(F.col(label_col).alias("label"), F.posexplode(vec_col).alias("i", "x"))
        .groupBy("label", "i")
        .agg(
            F.avg(F.col("x").cast("double")).alias("centroid"),
            F.count("*").alias("n"),
        )
    )


def embedding_outliers(
    df: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    z_threshold: float = 2.0,
) -> DataFrame:
    """Mislabel/noise detection: each vector's cosine to its OWN
    label's centroid, z-scored within the label — vectors far from
    their prototype are the curation candidates (wrong label, junk
    embedding, outlier content). The SemDeDup-adjacent audit every
    labeled embedding store runs.

    Plan shape: centroids come from the posexplode partial aggregate
    (O(labels·dim) result, broadcast back); the per-vector cosine is
    the same posexplode stream joined to that broadcast and collapsed
    map-side to (id, 3 sums) — ONE exchange carrying three doubles
    per vector; the per-label mean/std table is O(labels) and
    broadcasts back. The corpus text/vectors are never wide-shuffled.
    A label whose cosines are all identical (sigma 0) z-scores 0 by
    definition. Returns (id, label, cosine, z, outlier)."""
    cents = label_centroids(df, label_col, vec_col)
    ex = df.select(
        F.col(id_col).alias("id"),
        F.col(label_col).alias("label"),
        F.posexplode(_as_double(vec_col)).alias("i", "x"),
    )
    per = (
        ex.join(F.broadcast(cents.select("label", "i", "centroid")), ["label", "i"])
        .groupBy("id", "label")
        .agg(
            F.sum(F.col("x") * F.col("centroid")).alias("dot"),
            F.sum(F.col("x") * F.col("x")).alias("xx"),
            F.sum(F.col("centroid") * F.col("centroid")).alias("cc"),
        )
    )
    # materialized once: the per-label stats AND the final z join both
    # read the scored stream (without the barrier the whole
    # posexplode→join→agg pipeline executes twice — two corpus passes)
    scored = per.select(
        "id", "label", (F.col("dot") / F.sqrt(F.col("xx") * F.col("cc"))).alias("cosine")
    ).localCheckpoint(eager=True)
    stats = scored.groupBy("label").agg(
        F.avg("cosine").alias("mu"), F.stddev_samp("cosine").alias("sigma")
    )
    z = F.when(
        F.col("sigma") > 0, (F.col("cosine") - F.col("mu")) / F.col("sigma")
    ).otherwise(F.lit(0.0))
    return (
        scored.join(F.broadcast(stats), "label")
        .withColumn("z", z)
        .withColumn("outlier", F.abs(F.col("z")) > F.lit(float(z_threshold)))
        .select("id", "label", "cosine", "z", "outlier")
    )


def mrl_two_stage_topk(
    corpus: DataFrame,
    queries: DataFrame,
    prefix_dims: int = 16,
    coarse_k: int = 20,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """Matryoshka-style two-stage retrieval: coarse top-``coarse_k`` by
    cosine over the first ``prefix_dims`` dimensions, then exact
    full-dimension rerank of only those candidates to top-``k``.
    Deterministic end-to-end (both stages are exact arithmetic with
    total tie-breaks), so unlike LSH/IVF the whole cascade is
    oracle-checkable row-for-row.

    Scale shape vs ann_brute_topk: the wide part (corpus × queries
    scored rows into the per-query window) ships only
    (query_id, nb_id, pre_cosine) — the full vectors are DROPPED
    before the coarse shuffle — and the full-dim work happens on a
    candidate set bounded by queries·coarse_k, re-fetched with a
    broadcast semi-probe against the corpus scan. With an
    MRL-trained index the prefix slice would live in its own sidecar
    column (the build_ivf_index pattern) so the coarse scan reads
    prefix_dims/dims of the vector bytes; over raw parquet both scans
    read the same column and the win is the narrow shuffle alone.
    """
    query_id_col = query_id_col or id_col
    q = queries.select(
        F.col(query_id_col).alias("query_id"), _as_double(vec_col).alias("q_vec")
    )
    c = corpus.select(F.col(id_col).alias("nb_id"), _as_double(vec_col).alias("c_vec"))

    qp = q.select(
        "query_id", F.slice("q_vec", 1, prefix_dims).alias("q_pre")
    )
    coarse = (
        c.select("nb_id", F.slice("c_vec", 1, prefix_dims).alias("c_pre"))
        .crossJoin(F.broadcast(qp))
        .filter(F.col("query_id") != F.col("nb_id"))
        .select(
            "query_id",
            "nb_id",
            cosine_similarity_expr("q_pre", "c_pre").alias("pre_cosine"),
        )
    )
    wc = Window.partitionBy("query_id").orderBy(F.desc("pre_cosine"), F.asc("nb_id"))
    cand = (
        coarse.withColumn("crank", F.row_number().over(wc))
        .filter(F.col("crank") <= coarse_k)
        .select("query_id", "nb_id")
    )
    rerank = (
        c.join(F.broadcast(cand), "nb_id")
        .join(F.broadcast(q), "query_id")
        .withColumn("cosine", cosine_similarity_expr("q_vec", "c_vec"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nb_id"))
    return (
        rerank.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nb_id", "rank", "cosine")
    )


def build_mrl_index(
    corpus: DataFrame,
    path: str,
    prefix_dims: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist a Matryoshka two-stage retrieval index: ``<path>/prefix``
    holds (id, the first ``prefix_dims`` dims) and ``<path>/full`` the
    complete vectors. The coarse stage of ``mrl_query_index`` then
    scans prefix_dims/dims of the vector BYTES instead of slicing full
    vectors it already paid to read — the I/O asymmetry that makes
    prefix-dim scoring an actual win at 100 TB, not just a narrower
    shuffle. Columnar parquet can prune columns but not array
    elements, hence the materialized slice. One narrow pass, no
    shuffle, same family as build_ivf_index / build_neardup_index."""
    c = corpus.select(F.col(id_col).alias("nb_id"), _as_double(vec_col).alias("c_vec"))
    c.select(
        "nb_id", F.slice("c_vec", 1, prefix_dims).alias("c_pre")
    ).write.mode("overwrite").parquet(f"{path}/prefix")
    c.write.mode("overwrite").parquet(f"{path}/full")


def extend_mrl_index(
    spark: SparkSession,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Admit new vectors into an existing MRL index: slice their
    prefixes at the INDEX's prefix_dims and append to both sidecars —
    the write half of the continuous-ingest loop (the
    extend_neardup_index / extend_text_index twin). Without this a
    continuously-ingesting embedding store re-materializes the whole
    prefix sidecar per batch.

    prefix_dims is read from the stored prefix rows, never taken from
    the caller, so an extension can never be sliced differently from
    the base build (the meta-pinning convention; here the data IS the
    meta). Appends are plain parquet appends — new files only, one
    narrow pass, no shuffle."""
    from spark_nnd_spark.operators import index_lifecycle as IL

    prefix_dims = len(
        spark.read.parquet(f"{path}/prefix").select("c_pre").first()["c_pre"]
    )
    IL.settle_upsert(spark, path, new_vectors.select(id_col), MRL_TABLES)
    c = new_vectors.select(
        F.col(id_col).alias("nb_id"), _as_double(vec_col).alias("c_vec")
    )
    c.select(
        "nb_id", F.slice("c_vec", 1, prefix_dims).alias("c_pre")
    ).write.mode("append").parquet(f"{path}/prefix")
    c.write.mode("append").parquet(f"{path}/full")


MRL_TABLES = [("prefix", "nb_id", None), ("full", "nb_id", None)]


def retract_from_mrl_index(spark: SparkSession, path: str, ids: DataFrame) -> None:
    """Tombstone-retract vectors from the MRL index — the delete half
    of the lifecycle (operators/index_lifecycle.py): O(retracted)
    append, the coarse scan anti-joins the log, re-admission via
    extend_mrl_index is an upsert, compact folds the log in."""
    from spark_nnd_spark.operators import index_lifecycle as IL

    IL.append_tombstones(spark, path, ids)


def compact_mrl_index(spark: SparkSession, path: str) -> None:
    """Fold the tombstone log into prefix/full (idempotent anti-join
    rewrites; no derived stats in this family)."""
    from spark_nnd_spark.operators import index_lifecycle as IL

    IL.compact(spark, path, MRL_TABLES)


def mrl_query_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    coarse_k: int = 20,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """Serve Matryoshka two-stage top-k from a persisted index
    (build_mrl_index): coarse scoring reads ONLY the prefix sidecar
    (prefix_dims/dims of the corpus vector bytes), the rerank re-fetches
    full vectors for the bounded candidate set via a broadcast probe.
    Row-identical to the inline ``mrl_two_stage_topk`` over the same
    corpus when the sidecar's prefix_dims match (asserted in tests)."""
    from spark_nnd_spark.operators import index_lifecycle as IL

    query_id_col = query_id_col or id_col
    pre = IL.anti_tombstones(
        spark.read.parquet(f"{path}/prefix"), IL.read_tombstones(spark, path), "nb_id"
    )
    prefix_dims = len(pre.select("c_pre").first()["c_pre"])
    q = queries.select(
        F.col(query_id_col).alias("query_id"), _as_double(vec_col).alias("q_vec")
    )
    qp = q.select("query_id", F.slice("q_vec", 1, prefix_dims).alias("q_pre"))
    coarse = (
        pre.crossJoin(F.broadcast(qp))
        .filter(F.col("query_id") != F.col("nb_id"))
        .select(
            "query_id",
            "nb_id",
            cosine_similarity_expr("q_pre", "c_pre").alias("pre_cosine"),
        )
    )
    wc = Window.partitionBy("query_id").orderBy(F.desc("pre_cosine"), F.asc("nb_id"))
    cand = (
        coarse.withColumn("crank", F.row_number().over(wc))
        .filter(F.col("crank") <= coarse_k)
        .select("query_id", "nb_id")
    )
    full = spark.read.parquet(f"{path}/full")
    rerank = (
        full.join(F.broadcast(cand), "nb_id")
        .join(F.broadcast(q), "query_id")
        .withColumn("cosine", cosine_similarity_expr("q_vec", "c_vec"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nb_id"))
    return (
        rerank.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nb_id", "rank", "cosine")
    )


# ---------------------------------------------------- semantic dedup

def semantic_dedup(
    corpus: DataFrame,
    cents: np.ndarray,
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hot_cell_salt: int | None = None,
    hot_cell_threshold: int = 50_000,
) -> DataFrame:
    """SemDeDup-style embedding-space deduplication (Abbas et al.
    2023): assign every vector to its nearest-centroid cell, compare
    pairs WITHIN a cell only, and drop a vector when some same-cell
    neighbor with a smaller id has cosine >= ``tau``. Returns
    (id, cell, keep) for every corpus vector. Extension operator (no
    reference analog — the reference builds a kNN graph, NND.scala:66,
    but has no dedup verdict layer).

    The keep rule is the greedy-by-id preference (q10/q61's
    dedup-with-preference convention), deliberately NOT transitive
    closure: it is SQL-replayable as a NOT EXISTS and, unlike CC, its
    verdicts are stable under cell-local retries.

    Scale (100 TB): the cell assignment is a narrow map (Arrow-batched
    dots against literal centroids — no shuffle); the quadratic stage
    is blocked per cell, the same fan-out bound the IVF index already
    enforces for search. Hot (skewed) cells are the AQE skew-join case
    — WITH A MEASURED CAVEAT (BENCH_SEMDEDUP_SKEW.json, 90% of 20k
    vectors in one cell): AQE detects skew by map-output PARTITION
    bytes, and a hot cell's input is tiny even when its pair OUTPUT
    explodes, so at DEFAULT thresholds the sort-merge plan ran the hot
    cell in one 730 s task; with the thresholds sized to input bytes
    (skewedPartitionThresholdInBytes/advisoryPartitionSizeInBytes ≈
    64k at this scale, factor 2) AQE split it into ~1000 tasks and the
    stage ran 23× faster (31 s, max/median 1.6). While one side still
    fits the broadcast threshold, Spark's broadcast plan parallelizes
    the explosion for free (32 even tasks, spread 1.1). The drop set
    is typically a small fraction of the corpus, so the verdict attach
    is a small-table join back.

    ``hot_cell_salt`` is that caveat's operator-level fix (the r9
    stretch): cells whose occupancy exceeds ``hot_cell_threshold`` run
    through a pair-preserving salted self-join — side A keyed by
    pmod(id, S), side B replicated S ways — so the hot cell's pair
    enumeration splits across S reducers with EXACTLY the same output
    pairs (asserted in tests), no session-global AQE conf required.
    The census it needs is one map-side-combined O(cells) aggregate.
    Cold cells keep the plain equi-join; default None is the unchanged
    plan (q138/q148 outputs and plans are byte-identical).
    """
    assigned = _ivf_assign(corpus, cents, id_col=id_col, vec_col=vec_col)
    # both self-join sides read the assignment; don't run the UDF twice
    assigned = assigned.localCheckpoint(eager=True)
    a = assigned.select(
        F.col("cell"), F.col("nb_id").alias("id_a"), F.col("c_vec").alias("v_a")
    )
    b = assigned.select(
        F.col("cell"), F.col("nb_id").alias("id_b"), F.col("c_vec").alias("v_b")
    )
    if hot_cell_salt is not None and hot_cell_salt > 1:
        s = int(hot_cell_salt)
        hot = (
            assigned.groupBy("cell")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") > hot_cell_threshold)
            .select("cell")
        )
        a_hot = a.join(F.broadcast(hot), "cell", "left_semi").withColumn(
            "salt", F.pmod(F.col("id_a"), F.lit(s)).cast("int")
        )
        b_hot = b.join(F.broadcast(hot), "cell", "left_semi").withColumn(
            "salt", F.explode(F.array(*[F.lit(i) for i in range(s)]))
        )
        pairs = (
            a.join(F.broadcast(hot), "cell", "left_anti")
            .join(b.join(F.broadcast(hot), "cell", "left_anti"), "cell")
            .select("id_a", "v_a", "id_b", "v_b")
            .unionByName(
                a_hot.join(b_hot, ["cell", "salt"]).select(
                    "id_a", "v_a", "id_b", "v_b"
                )
            )
        )
    else:
        pairs = a.join(b, "cell").select("id_a", "v_a", "id_b", "v_b")
    drops = (
        pairs
        .filter(F.col("id_b") < F.col("id_a"))
        .withColumn("cosine", cosine_similarity_expr("v_a", "v_b"))
        .filter(F.col("cosine") >= tau)
        .select(F.col("id_a").alias("nb_id"))
        .distinct()
        .withColumn("dropped", F.lit(True))
    )
    return (
        assigned.join(drops, "nb_id", "left")
        .select(
            F.col("nb_id").alias(id_col),
            F.col("cell").cast("long").alias("cell"),
            F.coalesce(~F.col("dropped"), F.lit(True)).alias("keep"),
        )
    )


def cross_decontaminate(
    train: DataFrame,
    eval_set: DataFrame,
    cents: np.ndarray,
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eval_id_col: str | None = None,
) -> DataFrame:
    """Embedding-space decontamination across TWO tables — the
    paraphrase-leakage guard shingle-overlap decontamination cannot
    provide: a train vector is contaminated when some EVAL vector in
    the same nearest-centroid cell has cosine >= ``tau``. The
    semantic_dedup kernel (Abbas et al. 2023) composed eval × train
    instead of corpus × corpus. Returns, for every train vector,
    (id, cell, n_eval_hits, first_eval_id, contaminated) — first_eval_id
    is the smallest matching eval id, -1 when clean (sentinel, not
    NULL: deterministic and sort-safe).

    Scale (100 TB): the train corpus is touched by ONE narrow
    assign pass (Arrow-batched dots against literal centroids, no
    shuffle) plus one broadcast-hash join — the eval side is
    O(benchmark suites) rows, always broadcastable, so no pair ever
    crosses a cell and the corpus never shuffles. Cell blocking bounds
    the comparisons exactly as IVF bounds probe cost.
    """
    t = _ivf_assign(train, cents, id_col=id_col, vec_col=vec_col)
    e = _ivf_assign(eval_set, cents, id_col=eval_id_col or id_col, vec_col=vec_col)
    hits = (
        t.join(
            F.broadcast(
                e.select(
                    F.col("cell"),
                    F.col("nb_id").alias("eval_id"),
                    F.col("c_vec").alias("e_vec"),
                )
            ),
            "cell",
        )
        .withColumn("cosine", cosine_similarity_expr("c_vec", "e_vec"))
        .filter(F.col("cosine") >= tau)
        .groupBy("nb_id")
        .agg(
            F.count("*").alias("n_eval_hits"),
            F.min("eval_id").alias("first_eval_id"),
        )
    )
    return t.join(hits, "nb_id", "left").select(
        F.col("nb_id").alias(id_col),
        F.col("cell").cast("long").alias("cell"),
        F.coalesce("n_eval_hits", F.lit(0)).cast("long").alias("n_eval_hits"),
        F.coalesce("first_eval_id", F.lit(-1)).cast("long").alias("first_eval_id"),
        F.col("n_eval_hits").isNotNull().alias("contaminated"),
    )


def decontaminate_query_index(
    spark: SparkSession,
    path: str,
    candidates: DataFrame,
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``cross_decontaminate`` served from a PERSISTED IVF index of the
    EVAL set (build_ivf_index over the eval embeddings): candidate
    vectors are assigned to cells against the stored centroids, then
    compared only against same-cell eval assignments. Row-identical to
    the inline operator over the same eval corpus and centroids
    (asserted in tests) — the ingest-time twin of q148.

    Scale: the candidate batch broadcasts; the eval ``assignments``
    scan is hive-partitioned by cell, so a batch touching p cells reads
    p/n_centroids of the index (dynamic partition pruning). The probe
    never mutates the index — verdicts are a pure function of
    (candidates, index), which is what makes the streaming gate
    replay-safe."""
    import numpy as np  # noqa: PLC0415

    from spark_nnd_spark.operators import index_lifecycle as IL  # noqa: PLC0415

    crows = spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    cents = np.array([r["centroid"] for r in crows])
    t = _ivf_assign(candidates, cents, id_col=id_col, vec_col=vec_col)
    # tombstone-aware like every other index read path: a RETRACTED
    # eval item (a benchmark dropped from the suite) must stop causing
    # rejections immediately, before any compaction
    ev = IL.anti_tombstones(
        spark.read.parquet(f"{path}/assignments"),
        IL.read_tombstones(spark, path),
        "nb_id",
    ).select(
        F.col("cell"),
        F.col("nb_id").alias("eval_id"),
        F.col("c_vec").alias("e_vec"),
    )
    hits = (
        ev.join(
            F.broadcast(
                t.select("cell", F.col("nb_id"), F.col("c_vec"))
            ),
            "cell",
        )
        .withColumn("cosine", cosine_similarity_expr("c_vec", "e_vec"))
        .filter(F.col("cosine") >= tau)
        .groupBy("nb_id")
        .agg(
            F.count("*").alias("n_eval_hits"),
            F.min("eval_id").alias("first_eval_id"),
        )
    )
    return t.join(hits, "nb_id", "left").select(
        F.col("nb_id").alias(id_col),
        F.col("cell").cast("long").alias("cell"),
        F.coalesce("n_eval_hits", F.lit(0)).cast("long").alias("n_eval_hits"),
        F.coalesce("first_eval_id", F.lit(-1)).cast("long").alias("first_eval_id"),
        F.col("n_eval_hits").isNotNull().alias("contaminated"),
    )
