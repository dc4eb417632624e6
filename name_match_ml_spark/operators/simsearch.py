"""Similarity search over embedding columns [EXT] (SURVEY.md §2.10).

* :func:`cosine_topk_exact` — brute-force cosine top-k: the correctness
  baseline, computed as one numpy GEMM per Arrow batch of the corpus
  against a broadcast query matrix (no pair stream ever materializes);
  per-batch partial top-k then a tiny global window top-k.
* :func:`lsh_cosine_topk` — random-hyperplane LSH: each vector gets an
  ``nbits``-bit signature from the signs of dot products with
  deterministic pseudo-random hyperplanes (seeded ``xxhash64``, no RNG
  state to ship); candidates share a signature bucket in ≥ 1 of
  ``n_tables`` tables; exact re-rank inside buckets.  The scale path: at
  100 TB the bucket join shuffles each side once by (table, signature)
  instead of broadcasting the whole corpus.

Both return ``(query_id, neighbor_id, cosine, rank)`` with deterministic
tiebreaks, cosine rounded to 6 dp for oracle-hash stability.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from .dedup import dot_expr, norm_expr

__all__ = [
    "cosine_topk_exact",
    "mmr_topk",
    "kcenter_select",
    "bitext_margin_mine",
    "lsh_cosine_topk",
    "quantize_embeddings",
    "quantized_cosine_topk",
    "fixed_point_centroids",
    "semantic_dedup",
    "projection_signs",
    "random_projection",
    "random_projection_sql",
]

_TOPK_CAND_SCHEMA = StructType(
    [
        StructField("query_id", LongType()),
        StructField("neighbor_id", LongType()),
        StructField("cosine", DoubleType()),
    ]
)


def _batch_topk_frame(
    cids: np.ndarray, S: np.ndarray, b_qids: np.ndarray, take: int
) -> pd.DataFrame:
    """Per-batch top-``take`` selection shared by the exact and
    quantized GEMM scorers: round scores to the final tie grid, mask
    self-matches, take a stable per-query top slice ordered by
    (rounded score desc, id asc) — ``cids`` MUST already be id-sorted
    so the stable argsort yields that total order — and emit the RAW
    scores (the final window re-rounds)."""
    R = np.round(S, 6)
    R[np.equal.outer(cids, b_qids)] = -np.inf  # self-matches out
    top = np.argsort(-R, axis=0, kind="stable")[: min(take, len(cids))]
    n_top, m = top.shape
    rows = top.ravel(order="F")
    cols = np.repeat(np.arange(m), n_top)
    keep = np.isfinite(R[rows, cols])
    return pd.DataFrame(
        {
            "query_id": b_qids[cols[keep]],
            "neighbor_id": cids[rows[keep]],
            "cosine": S[rows[keep], cols[keep]],
        }
    )


def _prep(df: DataFrame, id_col: str, vec_col: str, id_alias: str, vec_alias: str) -> DataFrame:
    # Norms are per-vector: compute them per side here, never per pair
    # (see norm_expr).
    v = F.col(vec_col).cast("array<double>")
    return df.select(
        F.col(id_col).alias(id_alias),
        v.alias(vec_alias),
        norm_expr(v).alias(f"n_{vec_alias}"),
    )


def cosine_topk_exact(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_slack: int = 32,
    max_queries: int = 100_000,
) -> DataFrame:
    """Exact cosine top-k neighbors of each query vector (self-matches
    excluded).

    Scale design: the query side is small by contract (it is a top-k
    *query set*), so it is collected once here (an eager job at plan
    construction, like a broadcast-hash build side) and broadcast as a
    row-normalized numpy matrix.  The contract is ENFORCED, not
    documentation: the collect is LIMIT-bounded and a query set larger
    than ``max_queries`` raises instead of OOMing the driver — route
    corpus-sized query workloads through the pruned paths
    (``pq_topk``/``grid_ivf_topk``, which auto-select a shuffle join
    for big query sides).  The corpus then streams through one
    Arrow ``mapInPandas`` doing a single GEMM per batch — all dot
    products stay inside BLAS instead of an interpreted per-pair
    higher-order function, and no query×corpus pair stream ever hits a
    shuffle.  Each batch emits only its local top-``(k + batch_slack)``
    rows per query, ordered by the same (rounded cosine desc, id asc)
    key the final window uses, so the global top-k — a window over
    ``O(batches · queries · k)`` rows — is exact.  ``batch_slack``
    absorbs rounding-order ties at the batch cutoff; a failure would
    need ``k + batch_slack`` candidates within 1e-6 cosine of the
    cutoff inside one batch.

    Memory bound per task: ``O(arrow_batch_rows × n_queries)`` doubles
    for the score block (10k × 10k ≈ 800 MB worst case — cap
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` or the query count
    accordingly)."""
    spark = corpus.sparkSession
    qrows = (
        queries.select(F.col(id_col).cast("long"), F.col(vec_col).cast("array<double>"))
        .limit(max_queries + 1)
        .collect()
    )
    if len(qrows) > max_queries:
        raise ValueError(
            f"cosine_topk_exact: query set exceeds max_queries={max_queries} — "
            "the exact path collects and broadcasts the query matrix; use "
            "pq_topk/grid_ivf_topk for corpus-sized query workloads"
        )
    if not qrows:
        empty = spark.createDataFrame([], _TOPK_CAND_SCHEMA)
        return empty.withColumn("rank", F.lit(1)).limit(0)
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    Q = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((qids, Qn))
    take = k + batch_slack

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_qids, b_Qn = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            cids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            # Pre-sort rows by id so a stable sort on score yields the
            # (cosine desc, neighbor_id asc) total order per column.
            order = np.argsort(cids, kind="stable")
            cids = cids[order]
            C = np.stack(pdf["v"].to_numpy()[order]).astype(np.float64)
            Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
            S = Cn @ b_Qn.T  # (batch, n_queries) — the GEMM
            yield _batch_topk_frame(cids, S, b_qids, take)

    cand = corpus.select(
        F.col(id_col).cast("long").alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).mapInPandas(score, _TOPK_CAND_SCHEMA)
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("cosine", F.round("cosine", 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def quantize_expr(vec: Column) -> tuple[Column, Column]:
    """``(scale, q)`` for symmetric int8 scalar quantization of a double
    array: ``scale = max(|x_i|)`` (floored at 1e-30 so zero vectors stay
    defined) and ``q_i = floor(x_i / scale * 127 + 0.5)`` in
    ``[-127, 127]``.

    ``floor(x + 0.5)`` — round-half-toward-+inf — instead of ``round()``
    on purpose: engines disagree on round()'s tie rule (half-even vs
    half-away), while floor over IEEE doubles is bit-identical
    everywhere, so the DuckDB oracle reproduces every code exactly."""
    scale = F.greatest(F.array_max(F.transform(vec, F.abs)), F.lit(1e-30))
    q = F.transform(vec, lambda x: F.floor(x / scale * 127.0 + 0.5).cast("int"))
    return scale, q


def quantize_embeddings(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 scalar quantization of an embedding column —
    ``(vec_id, scale, q)`` with ``q_i = floor(x_i/scale*127 + 0.5)``.

    The storage/shuffle face of quantized similarity search: int8 codes
    are 4× smaller than float32 (8× vs float64), so at 100 TB the
    embedding shuffle, the ANN candidate stream, and the in-memory
    scoring blocks all shrink 4× while cosine ordering is preserved to
    ~1e-2 (recall asserted against the exact operator in tests).  Pure
    per-row codegen — no shuffle, no UDF; partitioning inherits the
    scan."""
    v = F.col(vec_col).cast("array<double>")
    scale, q = quantize_expr(v)
    return df.select(F.col(id_col).alias("vec_id"), scale.alias("scale"), q.alias("q"))


def quantized_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_slack: int = 32,
    max_queries: int = 100_000,
) -> DataFrame:
    """Cosine top-k over int8-quantized vectors (self-matches excluded):
    the memory-bandwidth-efficient variant of :func:`cosine_topk_exact`
    for 100 TB corpora — the corpus streams as int8 codes (4× less I/O
    and cache traffic than float32) and every dot product is EXACT
    integer arithmetic, so unlike the float GEMM the result is
    bit-reproducible regardless of summation order (|q_i| ≤ 127 ⇒ a
    64-dim dot is ≤ ~10^6, exact in int32 and in any engine's double).

    ``qcos = dot(qa, qb) / (‖qa‖·‖qb‖)`` — per-vector scales cancel in
    the cosine, so no dequantization happens at score time.  Same
    scale shape as the exact operator: queries collect + broadcast (a
    top-k query set is small by contract), corpus streams through one
    Arrow ``mapInPandas`` GEMM per batch emitting per-batch
    top-``(k+batch_slack)``, tiny global window finishes.  Fully
    oracle-checkable (integer dots + one double division)."""
    spark = corpus.sparkSession
    # LIMIT-bounded collect with an actionable error, mirroring
    # cosine_topk_exact's enforced contract (VERDICT r8 #1).
    qrows = (
        quantize_embeddings(queries, id_col=id_col, vec_col=vec_col)
        .select("vec_id", "q")
        .limit(max_queries + 1)
        .collect()
    )
    if len(qrows) > max_queries:
        raise ValueError(
            f"quantized_cosine_topk: query set exceeds max_queries={max_queries} — "
            "the quantized-GEMM path broadcasts the query matrix; use "
            "pq_topk/opq_topk for corpus-sized query workloads"
        )
    if not qrows:
        empty = spark.createDataFrame([], _TOPK_CAND_SCHEMA)
        # same output schema as the non-empty path (qcos, not cosine)
        return (
            empty.withColumn("rank", F.lit(1))
            .select("query_id", "neighbor_id", F.col("cosine").alias("qcos"), "rank")
            .limit(0)
        )
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    Q = np.stack([np.asarray(r[1], dtype=np.int32) for r in qrows])
    Qn = np.sqrt((Q.astype(np.int64) ** 2).sum(axis=1).astype(np.float64))
    bc = spark.sparkContext.broadcast((qids, Q, Qn))
    take = k + batch_slack

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_qids, b_Q, b_Qn = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            cids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            order = np.argsort(cids, kind="stable")
            cids = cids[order]
            C = np.stack(pdf["q"].to_numpy()[order]).astype(np.int32)
            Cn = np.sqrt((C.astype(np.int64) ** 2).sum(axis=1).astype(np.float64))
            D = (C @ b_Q.T).astype(np.float64)  # exact integer dots
            S = D / np.maximum(np.outer(Cn, b_Qn), 1e-30)
            yield _batch_topk_frame(cids, S, b_qids, take)

    cand = quantize_embeddings(corpus, id_col=id_col, vec_col=vec_col).select(
        F.col("vec_id").alias("neighbor_id"), "q"
    ).mapInPandas(score, _TOPK_CAND_SCHEMA)
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("cosine", F.round("cosine", 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("cosine").alias("qcos"), "rank")
    )


def lsh_plane(table: int, bit: int, d: int) -> float:
    """Deterministic hyperplane component in [-1, 1) for the ``md5_60``
    plane family: derived from md5 so an external engine (the DuckDB
    oracle) regenerates bit-identical constants.  Single source of truth
    — the Spark plan embeds these as literals and the oracle SQL embeds
    their ``repr`` (shortest round-trip, parses back to the same
    double)."""
    import hashlib

    h = int(hashlib.md5(f"{table}:{bit}:{d}".encode()).hexdigest()[:15], 16)
    return h % 10000 / 5000.0 - 1.0


def _lsh_signature(
    vec: Column, dim: int, nbits: int, table: int, hash_fn: str = "xxhash64"
) -> Column:
    """``nbits``-bit random-hyperplane signature.

    Hyperplane components are deterministic pseudo-randoms in [-1, 1):
    ``pmod(xxhash64(table, bit, dim_index), 10000)/5000 - 1`` (default),
    or the :func:`lsh_plane` md5 family (``hash_fn="md5_60"``) whose
    constants an external SQL engine can regenerate — that variant makes
    the whole operator oracle-checkable, because the dot products are
    folded in the same left-to-right order on both sides and therefore
    produce bit-identical doubles (the ``> 0`` sign test can never
    disagree).  Reproducible across executors and runs with no RNG state
    or broadcast of planes either way."""
    if hash_fn == "md5_60":
        raise ValueError("md5_60 signatures are built by lsh_signature_sql")
    elif hash_fn == "xxhash64":
        def bit_expr(b: int) -> Column:
            return F.aggregate(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                F.lit(0.0),
                lambda acc, d_idx: acc + F.get(vec, d_idx) * (
                    F.pmod(F.xxhash64(F.lit(table), F.lit(b), d_idx), F.lit(10000)).cast("double")
                    / 5000.0
                    - 1.0
                ),
            )
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")

    bits = [
        F.when(bit_expr(b) > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        for b in range(nbits)
    ]
    sig = bits[0]
    for x in bits[1:]:
        sig = sig.bitwiseOR(x)
    return sig


def lsh_signature_sql(vec_col: str, dim: int, nbits: int, table: int) -> str:
    """The ``md5_60`` signature as ONE generated SQL string, value-shared
    with the DuckDB oracle (``suite._lsh_oracle_sql``): plane constants
    are :func:`lsh_plane` literals and every dot product folds
    left-to-right, so both engines compute bit-identical doubles and
    the ``> 0`` sign test can never disagree.  Built as a string because
    a literal tree this size costs ~18k py4j round trips via the Column
    API.

    Each per-bit dot is ``aggregate(zip_with(vec, array(<planes>),
    (x, p) -> x * p), 0.0D, (acc, x) -> acc + x)`` — the plane array
    constant-folds to DATA, so the expression TREE stays ~10 nodes per
    bit.  The first cut expanded the sum as ``e₁·p₁ + … + e₆₄·p₆₄``
    inline: Catalyst's CollapseProject merges the per-table projections
    (each ``_s{t}`` alias is referenced once, so collapsing is legal),
    and whole-stage codegen then tries to COMPILE the merged
    multi-megabyte method before janino rejects it — 20-40 s of compile
    storm per query and a driver-heap OOM risk at default memory, all
    to end on the interpreted path anyway.  The HOF fold is
    CodegenFallback by construction: no compile attempt, same values
    (left fold from 0.0 ≡ left-assoc sum in IEEE — ``0.0 + x`` is exact,
    and a ``-0.0`` result still fails ``> 0`` identically).  Measured
    22-45 s → ~3 s for the 12-table signature stage at sf0.1."""
    def dot(b: int) -> str:
        planes = ", ".join(f"{lsh_plane(table, b, d)!r}D" for d in range(dim))
        return (
            f"aggregate(zip_with({vec_col}, array({planes}), (x, p) -> x * p), "
            f"0.0D, (acc, x) -> acc + x)"
        )

    bits = " + ".join(
        f"(CASE WHEN ({dot(b)}) > 0.0D THEN {1 << b}L ELSE 0L END)" for b in range(nbits)
    )
    return f"CAST(({bits}) AS BIGINT)"


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    dim: int = 64,
    nbits: int | None = None,
    n_tables: int = 12,
    target_bucket_rows: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH buckets.

    Collision probability per table is (1 - θ/π)^nbits — near neighbors
    (small angle θ) collide in at least one of ``n_tables`` tables with
    high probability; exact cosine re-ranks within buckets.  Recall vs
    :func:`cosine_topk_exact` is asserted in tests/test_dedup_simsearch.py.

    ``nbits=None`` (default) sizes buckets from the corpus: ``nbits =
    clamp(log2(N / target_bucket_rows), 4, 24)`` via one eager
    ``count()`` at plan construction — a fixed bit width would leave
    buckets holding ``N / 2^nbits`` rows, degenerating toward all-pairs
    as the corpus grows.  Each doubling of N adds one bit, holding both
    expected bucket size and per-table recall-at-distance constant.
    Raising ``nbits`` (more, smaller buckets) trades recall for cost;
    raise ``n_tables`` to win recall back — the S-curve steepens with
    angular separation, so clustered near-dup corpora (cos ≥ 0.8) keep
    high recall even at large ``nbits``.
    """
    if nbits is None:
        n = corpus.count()
        nbits = max(4, min(24, int(np.ceil(np.log2(max(n, 1) / target_bucket_rows)))))
    c = _prep(corpus, id_col, vec_col, "neighbor_id", "v_c")
    q = _prep(queries, id_col, vec_col, "query_id", "v_q")

    def with_sigs(df: DataFrame, vcol: str) -> DataFrame:
        cols = df.columns
        if hash_fn == "md5_60":
            # one generated-SQL projection per table keeps each codegen
            # unit small (the monolithic literal tree blows janino's
            # 64 KB method limit and falls back to interpreted eval)
            for t in range(n_tables):
                df = df.withColumn(f"_s{t}", F.expr(lsh_signature_sql(vcol, dim, nbits, t)))
            sig_for = lambda t: F.col(f"_s{t}")  # noqa: E731
        else:
            sig_for = lambda t: _lsh_signature(F.col(vcol), dim, nbits, t, hash_fn)  # noqa: E731
        return df.select(
            *cols,
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(t).alias("tbl"), sig_for(t).alias("sig"))
                        for t in range(n_tables)
                    ]
                )
            ).alias("ts"),
        ).select(*cols, "ts.tbl", "ts.sig")

    cq = with_sigs(q, "v_q")
    cc = with_sigs(c, "v_c")
    cos = dot_expr(F.col("v_q"), F.col("v_c")) / (F.col("n_v_q") * F.col("n_v_c"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        cq.join(cc, ["tbl", "sig"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("cosine", F.round(cos, 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def fixed_point_centroids(
    df: DataFrame,
    *,
    label_col: str = "label",
    vec_col: str = "embedding",
    grid_bits: int = 20,
) -> DataFrame:
    """Per-label embedding centroids on an integer fixed-point grid —
    ``(label, dim, centroid)`` — the class-mean primitive behind
    nearest-class-mean classification, k-means initialization, and
    per-source embedding drift checks.

    A float centroid (``sum(x)/n``) is order-dependent across partitions
    and can never hash-match another engine; here each component is
    snapped to a ``2^grid_bits`` grid first (``round(x · 2^20)`` — the
    :func:`..operators.graph.pagerank` idiom), summed EXACTLY in int64,
    and divided once at the end — bit-reproducible anywhere.  Grid error
    is ≤ 2^-21 per component, far below float32 input precision.

    Scale shape: posexplode to ``(label, dim, int64)`` — three longs —
    then ONE partial-combining aggregate; shuffle volume is
    n_labels × dims rows, independent of corpus size.  Output stays in
    long (label, dim, value) form rather than re-assembled arrays so
    downstream joins stay narrow (assemble with ``collect_list`` over a
    sorted struct only at the consumer edge when needed).
    """
    grid = float(1 << grid_bits)
    fp = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(vec_col).alias("dim", "_x"),
    ).select(
        "label",
        "dim",
        F.round(F.col("_x").cast("double") * F.lit(grid)).cast("long").alias("_fx"),
    )
    return fp.groupBy("label", "dim").agg(
        F.round(
            F.sum("_fx").cast("double") / (F.count(F.lit(1)) * F.lit(grid)),
            6,
        ).alias("centroid")
    )


def semantic_dedup(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    nbits: int | None = None,
    target_cell_rows: int = 256,
    threshold_pct: int = 80,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): partition the corpus into embedding-space cells,
    flag every vector that has a LOWER-id cell-mate with cosine
    similarity ≥ ``threshold_pct``/100, and keep the rest.

    Returns one row per input vector: ``(vec_id, cell, kept, dup_of)``
    where ``dup_of`` is the smallest flagging neighbor id (NULL when
    kept) — the deterministic keep-the-first rule that replaces the
    paper's arbitrary per-cluster choice.

    Determinism/oracle contract: cells are ONE random-hyperplane
    signature (:func:`lsh_signature_sql`'s md5 plane family when
    ``hash_fn="md5_60"`` — bit-identical sign tests in any IEEE
    engine); similarity is tested on int8-quantized codes
    (:func:`quantize_expr`) with the PURE-INTEGER predicate::

        dot > 0  AND  dot² · 10⁴ ≥ pct² · ‖qa‖² · ‖qb‖²

    which is ``qcos ≥ pct/100`` without ever taking a square root —
    int64-exact for dims ≤ ~512 (dot ≤ 127²·512 ≈ 8.3e6 ⇒ every term
    ≤ ~7e17), so the full flagged set replays bit-for-bit in DuckDB.

    Scale shape: the k-means of the paper is replaced by LSH cells —
    assignment is a per-row codegen expression (no training pass, no
    centroid broadcast); ``nbits=None`` sizes cells from the corpus
    exactly like :func:`lsh_cosine_topk` (each doubling of N adds one
    bit, holding expected cell size constant), so the within-cell
    self-join stays O(N · cell_rows), never all-pairs.  The join
    shuffles int8 codes (4× smaller than float32) on the cell key;
    AQE splits skewed cells.  Recall vs the exact near-dup operator is
    a pytest gate, not a contract — a vector pair split across a cell
    boundary is missed, the paper's own trade.
    """
    if nbits is None:
        n = df.count()
        nbits = max(2, min(24, int(np.ceil(np.log2(max(n, 1) / target_cell_rows)))))

    v = F.col(vec_col).cast("array<double>")
    scale, q = quantize_expr(v)
    if hash_fn == "md5_60":
        base = df.select(F.col(id_col).alias("vec_id"), v.alias("_v"), q.alias("q"))
        base = base.withColumn("cell", F.expr(lsh_signature_sql("_v", dim, nbits, 0)))
    else:
        base = df.select(
            F.col(id_col).alias("vec_id"),
            _lsh_signature(v, dim, nbits, 0, hash_fn).alias("cell"),
            q.alias("q"),
        )
    int_dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    base = base.select("vec_id", "cell", "q", int_dot(F.col("q"), F.col("q")).alias("n2"))

    a = base.select(
        F.col("vec_id").alias("id_a"),
        "cell",
        F.col("q").alias("qa"),
        F.col("n2").alias("na"),
    )
    b = base.select(
        F.col("vec_id").alias("id_b"),
        "cell",
        F.col("q").alias("qb"),
        F.col("n2").alias("nb"),
    )
    pct = F.lit(int(threshold_pct)).cast("long")
    dot = int_dot(F.col("qa"), F.col("qb"))
    dup_map = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("_dot", dot)
        .filter(
            (F.col("_dot") > 0)
            & (F.col("_dot") * F.col("_dot") * F.lit(10000).cast("long")
               >= pct * pct * F.col("na") * F.col("nb"))
        )
        .groupBy("id_b")
        .agg(F.min("id_a").alias("dup_of"))
    )
    return (
        base.select("vec_id", "cell")
        .join(dup_map, base.vec_id == dup_map.id_b, "left")
        .select(
            "vec_id",
            "cell",
            F.col("dup_of").isNull().alias("kept"),
            "dup_of",
        )
    )


def projection_signs(n_planes: int, dim: int, *, seed: str = "rp") -> list[list[int]]:
    """Deterministic ±1 sign matrix for sparse random projection:
    ``sign[j][i] = ±1`` from the md5 of ``"{seed}:{j}:{i}"`` — computed
    ONCE in Python and baked into both the Spark plan and the oracle
    SQL as literals (the ``functions/layout.py::zorder_sql`` device:
    one source renders both sides, so the projection is definitionally
    identical in any engine)."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest(), 16) % 2
            else -1
            for i in range(dim)
        ]
        for j in range(n_planes)
    ]


def random_projection(
    emb: DataFrame,
    *,
    n_planes: int = 8,
    dim: int = 64,
    grid: int = 1_000_000,
    seed: str = "rp",
    vec_col: str = "embedding",
) -> DataFrame:
    """Achlioptas-style ±1 random projection to ``n_planes`` integer
    components — the dimensionality-reduction step ahead of clustering
    or coarse ANN, 8× smaller than the input vector here.

    Each component quantizes to ``floor(x * grid)`` int64 first, so the
    ±1 dot products are pure integer sums — ORDER-FREE and bit-exact in
    any engine (a float projection could never be hash-checked; the
    ``pagerank``/``label_centroids`` fixed-point idiom).  Everything is
    per-row codegen over literal sign arrays: zero shuffles, zero
    Python, and the plan carries ``n_planes × dim`` int literals
    (4 KiB at 8×64).

    Returns the input's non-vector columns plus ``proj_0..proj_{n-1}``.
    """
    signs = projection_signs(n_planes, dim, seed=seed)
    q = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(float(grid))).cast("long"),
    )
    out_cols = [F.col(c) for c in emb.columns if c != vec_col]
    qcol = "_q"
    tmp = emb.withColumn(qcol, q)
    for j, row in enumerate(signs):
        sarr = F.array(*[F.lit(s) for s in row])
        proj = F.aggregate(
            F.zip_with(F.col(qcol), sarr, lambda x, s: x * s.cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        tmp = tmp.withColumn(f"proj_{j}", proj)
    return tmp.select(*[c for c in emb.columns if c != vec_col],
                      *[f"proj_{j}" for j in range(n_planes)])


def random_projection_sql(
    *,
    n_planes: int = 8,
    dim: int = 64,
    grid: int = 1_000_000,
    seed: str = "rp",
    vec_col: str = "embedding",
) -> list[str]:
    """The SAME projection rendered as portable SQL expressions (one
    per plane) — the oracle is generated from this, so the declared
    query hash-checks the exact integer projection."""
    signs = projection_signs(n_planes, dim, seed=seed)
    exprs = []
    for row in signs:
        lits = "[" + ", ".join(str(s) for s in row) + "]"
        exprs.append(
            f"list_sum(list_transform(range(1, {dim} + 1), i -> "
            f"({lits})[i] * CAST(floor(CAST({vec_col}[i] AS DOUBLE) * "
            f"{float(grid)}) AS BIGINT)))"
        )
    return exprs


def mmr_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    pool: int = 20,
    lam_permille: int = 700,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998)
    diversified top-k: greedily pick ``k`` results from each query's
    exact top-``pool`` candidates, each round maximizing

        mmr(d) = lam * cos(q, d) - (1 - lam) * max_{s in S} cos(d, s)

    — relevance minus redundancy against the already-selected set S.
    The retrieval-diversification pass of a RAG / dedup-aware search
    stack: plain top-k returns near-duplicate clusters; MMR spends the
    same k slots on distinct regions of the embedding space.

    Determinism: the 6dp-rounded cosines are EXACT decimals, so MMR
    arithmetic happens on the integer grid — ``mmr_grid =
    lam_permille * cos_i - (1000 - lam_permille) * pen_i`` with
    ``cos_i = round(cos * 1e6)`` int64 — pure int64, no double round()
    anywhere in the selection (a double-round spelling was measured to
    diverge between engines exactly at a repr half-grid point:
    Spark's round() rounds the shortest decimal repr, DuckDB the
    binary value).  Ties break by ``neighbor_id``.

    Scale design: the candidate pool is top-k-bounded per query (one
    :func:`cosine_topk_exact` pass — GEMM-batched, shuffle-free), so
    everything after is O(queries x pool^2) — independent of corpus
    size.  The k selection rounds run over the bounded pool with eager
    ``localCheckpoint`` per round (the iterative-operator convention).

    Returns ``(query_id, neighbor_id, cosine, mmr_grid, pick)`` with
    pick = 1..k in selection order.
    """
    if k < 1 or pool < k:
        raise ValueError("need pool >= k >= 1")
    if not 0 <= lam_permille <= 1000:
        raise ValueError("lam_permille in [0, 1000]")
    from .dedup import cosine_expr

    mu = 1000 - lam_permille
    ci = F.round(F.col("cosine") * 1_000_000, 0).cast("long")
    cand = (
        cosine_topk_exact(corpus, queries, k=pool, id_col=id_col, vec_col=vec_col)
        .withColumn("_ci", ci)
        .localCheckpoint()
    )
    vecs = corpus.select(
        F.col(id_col).cast("long").alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    cv = cand.join(vecs, "neighbor_id").select("query_id", "neighbor_id", "_v")
    a = cv.select(
        "query_id", F.col("neighbor_id").alias("a"), F.col("_v").alias("_va")
    )
    b = cv.select(
        "query_id", F.col("neighbor_id").alias("b"), F.col("_v").alias("_vb")
    )
    sims = (
        a.join(b, "query_id")
        .filter(F.col("a") != F.col("b"))
        .select(
            "query_id",
            "a",
            "b",
            F.round(cosine_expr(F.col("_va"), F.col("_vb")) * 1_000_000, 0)
            .cast("long")
            .alias("s"),
        )
        .localCheckpoint()
    )
    selected = (
        cand.filter(F.col("rank") == 1)
        .select(
            "query_id",
            "neighbor_id",
            "cosine",
            (F.lit(lam_permille) * F.col("_ci")).cast("long").alias("mmr_grid"),
            F.lit(1).alias("pick"),
        )
        .localCheckpoint()
    )
    for r in range(2, k + 1):
        pen = (
            sims.join(
                selected.select("query_id", F.col("neighbor_id").alias("b")),
                ["query_id", "b"],
            )
            .groupBy("query_id", F.col("a").alias("neighbor_id"))
            .agg(F.max("s").alias("_pen"))
        )
        remaining = cand.join(
            selected.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_anti",
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("mmr_grid").desc(), "neighbor_id"
        )
        winner = (
            remaining.join(pen, ["query_id", "neighbor_id"])
            .select(
                "query_id",
                "neighbor_id",
                "cosine",
                (
                    F.lit(lam_permille) * F.col("_ci")
                    - F.lit(mu) * F.col("_pen")
                )
                .cast("long")
                .alias("mmr_grid"),
            )
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                "query_id",
                "neighbor_id",
                "cosine",
                "mmr_grid",
                F.lit(r).alias("pick"),
            )
        )
        selected = selected.unionByName(winner).localCheckpoint()
    return selected


def kcenter_select(
    corpus: DataFrame,
    *,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """k-center greedy (Gonzalez farthest-point) coreset selection over
    an embedding column — the diversity-maximizing data-selection pass
    (coreset construction for active learning / data pruning, cf.
    Sener & Savarese 2018): pick ``k`` centers, each round taking the
    vector FARTHEST from the already-selected set.

    Distances live on the integer cosine-distance grid
    ``d = 1e6 - round(cos * 1e6)`` (int64 in [0, 2e6]) with ``vec_id``
    tiebreaks — fully deterministic and engine-replayable (the
    :func:`mmr_topk` lesson: no double round() in the selection).  The
    first center is the minimum ``vec_id`` (the conventional arbitrary
    seed, made deterministic).

    Scale shape (tightened in the round-10 optimization pass — the
    ``operators/clustering.py`` Gonzalez device, hybridized): the new
    center enters each round's plan as a LITERAL double array (the
    1-row-center crossJoin broadcast is gone) and the argmax is one
    partial-combining ``max(struct(dmin, ~vec_id, _v))`` aggregate (the
    TakeOrdered sort and its extra materialization are gone) — two jobs
    per round: the incremental ``least(dmin, dist-to-new-center)``
    state checkpoint (kept: recomputing all chosen-center distances per
    round measured SLOWER than the incremental column at sf0.1 — the
    interpreted zip_with fold costs more than the checkpoint it would
    save) and the argmax.  Distance arithmetic stays IN the engine (the
    same ``cosine_expr`` double fold, against a literal array —
    bit-identical values), so results are unchanged.  No pairwise N^2
    stage anywhere.

    Returns ``(vec_id, pick, dist_grid)`` for the k centers: pick =
    1..k in selection order, dist_grid = the center's min cosine
    distance to the previously selected set at selection time
    (2_000_000 sentinel for the seed — farther than any real vector).
    If ``k`` exceeds the corpus size the loop stops early and returns
    every vector as a center (ADVICE r6 #3: previously a mid-loop
    ``NoneType`` crash once the remaining-state table emptied).
    """
    if k < 1:
        raise ValueError("k >= 1")
    from ..plans.staging import stage
    from .dedup import cosine_expr

    # stage: a 1-split scan would cap every per-round argmax below at
    # 1 task (guide §6 parallelism floor)
    base = stage(
        corpus.select(
            F.col(id_col).cast("long").alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
    )
    first = base.orderBy("vec_id").limit(1).collect()
    if not first:
        raise ValueError("kcenter_select: empty corpus")

    def _vec_lit(vs: list[float]) -> Column:
        # one parsed SQL literal (the operators/pq.py lesson: per-node
        # F.lit/F.array construction pays a py4j round-trip per element);
        # repr() is the shortest round-tripping decimal, and Spark's SQL
        # double parser is correctly rounded, so the literal re-parses to
        # the identical IEEE double.
        return F.expr("array(" + ",".join(f"CAST({v!r} AS DOUBLE)" for v in vs) + ")")

    dist_to = lambda vc: (  # noqa: E731 — int cosine distance to a center
        F.lit(1_000_000) - F.round(cosine_expr(F.col("_v"), vc) * 1_000_000, 0)
    ).cast("long")

    # (vec_id, dist_grid-at-selection) — driver-side model state; the
    # running min-distance column stays distributed and incremental
    first_id = int(first[0]["vec_id"])
    chosen: list[tuple[int, int]] = [(first_id, 2_000_000)]
    state = (
        base.filter(F.col("vec_id") != first_id)
        .select(
            "vec_id",
            "_v",
            dist_to(_vec_lit([float(x) for x in first[0]["_v"]])).alias("dmin"),
        )
        .localCheckpoint()
    )
    for r in range(2, k + 1):
        row = (
            state.select(
                F.max(
                    F.struct(
                        F.col("dmin"),
                        F.bitwise_not("vec_id").alias("nv"),
                        F.col("_v").alias("v"),
                    )
                ).alias("b")
            ).collect()[0]["b"]
        )
        if row is None:
            break  # k exceeds corpus size: every vector already selected
        # bitwise_not on a long is two's-complement ~v = -v-1; Python ~
        # inverts it back exactly (the pq.py Gonzalez device)
        nxt_id = ~int(row["nv"])
        chosen.append((nxt_id, int(row["dmin"])))
        if r == k:
            break
        state = (
            state.filter(F.col("vec_id") != nxt_id)
            .select(
                "vec_id",
                "_v",
                F.least(
                    F.col("dmin"),
                    dist_to(_vec_lit([float(x) for x in row["v"]])),
                ).alias("dmin"),
            )
            .localCheckpoint()
        )
    return base.sparkSession.createDataFrame(
        [(vid, i + 1, d) for i, (vid, d) in enumerate(chosen)],
        "vec_id BIGINT, pick INT, dist_grid BIGINT",
    )


def bitext_margin_mine(
    side_a: DataFrame,
    side_b: DataFrame,
    *,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019, the LASER /
    CCMatrix recipe): mine aligned pairs across two embedding sets by
    the RATIO margin

        margin(x, y) = cos(x, y) / ( mean_k cos(x, NN_B(x)) / 2
                                   + mean_k cos(y, NN_A(y)) / 2 )

    keeping MUTUAL best pairs (x's best y is also y's best x) — raw
    cosine over-selects hub sentences; the margin normalizes by each
    side's local density.

    Arithmetic is pure int64: cosines on the 1e6 grid, per-vector
    denominators are exact integer sums of the k neighbor grid-cosines,
    and ``margin_grid = (c * 2k * 1e6) div (dx + dy)`` — one integer
    floor division, engine-replayable (both operands positive by the
    ``dx + dy > 0`` guard).  Ties break by partner id.

    Scale: two :func:`cosine_topk_exact` passes (GEMM-batched,
    shuffle-free) bound all candidate pairs to k per vector; the rest
    is joins over top-k-sized tables.

    Returns ``(src_id, tgt_id, cos_grid, margin_grid)`` — the mutual
    pairs, src from ``side_a``, tgt from ``side_b``.
    """
    fwd = cosine_topk_exact(side_b, side_a, k=k, id_col=id_col, vec_col=vec_col)
    bwd = cosine_topk_exact(side_a, side_b, k=k, id_col=id_col, vec_col=vec_col)
    ci = lambda c: F.round(c * 1_000_000, 0).cast("long")  # noqa: E731
    fwd = fwd.select(
        F.col("query_id").alias("x"), F.col("neighbor_id").alias("y"), ci(F.col("cosine")).alias("c")
    ).localCheckpoint()
    bwd = bwd.select(
        F.col("query_id").alias("y"), F.col("neighbor_id").alias("x"), ci(F.col("cosine")).alias("c")
    ).localCheckpoint()
    dx = fwd.groupBy("x").agg(F.sum("c").alias("dx"))
    dy = bwd.groupBy("y").agg(F.sum("c").alias("dy"))

    def margins(pairs: DataFrame) -> DataFrame:
        return (
            pairs.join(dx, "x")
            .join(dy, "y")
            # c > 0: anti-aligned pairs are never bitext, and a negative
            # numerator would split Spark's truncating `div` from
            # DuckDB's flooring `//`
            .filter((F.col("c") > 0) & (F.col("dx") + F.col("dy") > 0))
            .select(
                "x",
                "y",
                "c",
                F.expr(f"(c * {2 * k} * 1000000) div (dx + dy)").alias(
                    "margin_grid"
                ),
            )
        )

    wf = Window.partitionBy("x").orderBy(F.desc("margin_grid"), "y")
    best_fwd = (
        margins(fwd)
        .withColumn("_rn", F.row_number().over(wf))
        .filter(F.col("_rn") == 1)
        .select("x", "y", "c", "margin_grid")
    )
    wb = Window.partitionBy("y").orderBy(F.desc("margin_grid"), "x")
    best_bwd = (
        margins(bwd)
        .withColumn("_rn", F.row_number().over(wb))
        .filter(F.col("_rn") == 1)
        .select(F.col("x").alias("bx"), F.col("y").alias("by"))
    )
    return (
        best_fwd.join(
            best_bwd,
            (F.col("x") == F.col("bx")) & (F.col("y") == F.col("by")),
        )
        .select(
            F.col("x").alias("src_id"),
            F.col("y").alias("tgt_id"),
            F.col("c").alias("cos_grid"),
            "margin_grid",
        )
    )
