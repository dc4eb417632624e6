"""MLlib-native LSH variants [EXT] (SURVEY.md §2.10 blueprint names
``MinHashLSH`` and ``BucketedRandomProjectionLSH`` as the framework
paths): the same dedup / ANN semantics as the custom operators in
:mod:`.dedup` and :mod:`.simsearch`, expressed through ``pyspark.ml``.

Why both exist: the custom operators are faster (native banding over
64-bit hashes, no vector UDT materialization) and oracle-checkable; the
MLlib variants come with the framework's model persistence
(``LSHModel.save/load``) and ``approxNearestNeighbors``, and serve as an
independent implementation to cross-check recall against.  Both
exact-verify their candidates, so every emitted pair/score is exact —
the approximation affects recall only.

Scale notes: ``approxSimilarityJoin`` explodes per hash table and
equi-joins on (table, hash) — the same narrow shuffle shape as
``plans/blocking.py``; the verification distance is computed only for
colliding pairs.  ``CountVectorizer`` builds a vocabulary on the driver
(bounded by ``vocabSize``), the standard broadcast-build analog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import split_words

__all__ = ["minhash_lsh_pairs_ml", "brp_cosine_topk_ml", "brp_cosine_neighbors_ml"]


def _unit_features(df: DataFrame, alias: str, id_col: str, vec_col: str) -> DataFrame:
    """L2-normalize ``vec_col`` into an MLlib vector column ``features``
    (euclidean on unit vectors is monotone in cosine: d² = 2 − 2·cos)."""
    from pyspark.ml.functions import array_to_vector

    v = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))
    unit = F.transform(v, lambda x: x / norm)
    return df.select(F.col(id_col).alias(alias), array_to_vector(unit).alias("features"))


def minhash_lsh_pairs_ml(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hash_tables: int = 8,
    vocab_size: int = 1 << 18,
    seed: int = 7,
) -> DataFrame:
    """Word-set Jaccard near-dup pairs via MLlib ``MinHashLSH``.

    Note the granularity difference from :func:`..operators.dedup.
    minhash_lsh_pairs`, which shingles into word n-grams; to compare the
    two, run the custom operator with ``shingle_n=1``.  Returns
    ``(doc_a, doc_b, jaccard)`` with ``jaccard`` exact (MLlib verifies
    candidate pairs with the true key distance).
    """
    from pyspark.ml.feature import CountVectorizer, MinHashLSH

    words = docs.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(split_words(F.col(text_col))).alias("tokens"),
    ).filter(F.size("tokens") > 0)
    cv = CountVectorizer(
        inputCol="tokens", outputCol="features", binary=True, vocabSize=vocab_size
    ).fit(words)
    feats = cv.transform(words).select("doc_id", "features")
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=seed
    ).fit(feats)
    # approxSimilarityJoin uses STRICT dist < radius, and the double for
    # 1 - J can land on either side of the radius when J sits exactly on
    # the threshold (J = 4/5 is common with small sets) — widen the
    # radius by an epsilon and filter inclusively ourselves.  Rational
    # Jaccards with corpus-sized denominators can't fall within 1e-9 of
    # the threshold without equaling it, so this changes nothing else.
    joined = model.approxSimilarityJoin(
        feats, feats, min(1.0, 1.0 - threshold + 1e-9), distCol="jd"
    )
    return (
        joined.select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            (1.0 - F.col("jd")).alias("jaccard"),
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(F.col("jaccard") >= threshold - 1e-9)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def brp_cosine_topk_ml(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    bucket_length: float = 0.5,
    num_hash_tables: int = 8,
    max_euclidean: float = 1.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """Approximate cosine top-k via MLlib ``BucketedRandomProjectionLSH``.

    Vectors are L2-normalized first, so euclidean distance is monotone in
    cosine (``d² = 2 − 2·cos``) and the euclidean-bucketed join ranks
    identically to a cosine ranking.  ``max_euclidean`` bounds the
    candidate search radius (1.2 ≈ cos ≥ 0.28); returns
    ``(query_id, neighbor_id, cosine, rank)`` like the custom ANN
    operators — cosine is exact for every emitted pair.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH

    c = _unit_features(corpus, "neighbor_id", id_col, vec_col)
    q = _unit_features(queries, "query_id", id_col, vec_col)
    model = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    ).fit(c)
    joined = model.approxSimilarityJoin(q, c, max_euclidean, distCol="dist")
    cos = 1.0 - F.col("dist") * F.col("dist") / 2.0
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        joined.select(
            F.col("datasetA.query_id").alias("query_id"),
            F.col("datasetB.neighbor_id").alias("neighbor_id"),
            F.round(cos, 6).alias("cosine"),
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def brp_cosine_neighbors_ml(
    corpus: DataFrame,
    query_vec: list[float],
    *,
    k: int = 5,
    bucket_length: float = 0.5,
    num_hash_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """Single-query ANN probe via ``LSHModel.approxNearestNeighbors`` —
    the framework's point-lookup API, complementing the batched
    :func:`brp_cosine_topk_ml` join path (which serves query SETS).

    The probe hashes the key on the driver and scans only the rows
    colliding with it in at least one hash table (MLlib's single-probe
    bucket lookup) — the interactive "more like this one" shape, where
    building a one-row DataFrame for the join API would pay a full
    shuffle for nothing.  Returns ``(neighbor_id, cosine, rank)``;
    cosine is exact for every emitted row (euclidean on unit vectors,
    converted back), so only recall is approximate.
    """
    import math

    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.linalg import Vectors

    c = _unit_features(corpus, "neighbor_id", id_col, vec_col)
    model = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    ).fit(c)
    norm = math.sqrt(sum(float(x) * float(x) for x in query_vec)) or 1.0
    key = Vectors.dense([float(x) / norm for x in query_vec])
    res = model.approxNearestNeighbors(c, key, k, distCol="dist")
    cos = 1.0 - F.col("dist") * F.col("dist") / 2.0
    w = Window.orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        res.select("neighbor_id", F.round(cos, 6).alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
    )
