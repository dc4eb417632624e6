"""Rotated product quantization [EXT] — a structured orthogonal
pre-rotation in front of the :mod:`.pq` ADC scan, the OPQ idea
(Ge et al. 2013, "Optimized Product Quantization"; FAISS ``OPQMatrix``)
restated with a rotation both engines replay bit-exactly.

Why rotate before PQ: product quantization splits the vector into ``m``
contiguous sub-vectors and quantizes each independently, so it is
blind to correlations ACROSS subspaces — energy concentrated in a few
correlated dimensions lands in one subspace's codebook while others
starve.  An orthogonal rotation decorrelates and balances variance
across subspaces before the split, which is worth 5–15 recall points at
the same code budget in the published evaluations.

Full OPQ learns the rotation by alternating Procrustes/SVD — float,
summation-order dependent, not oracle-replayable.  This module uses the
STRUCTURED rotation family instead (public: Ailon & Chazelle's FJLT;
"structured spinners"; cross-polytope LSH, Andoni et al. 2015 — all use
``H·D``): a deterministic ±1 sign diagonal ``D`` followed by an
unnormalized Walsh–Hadamard transform ``H``:

* ``D``: per-dimension sign from the md5 parity of ``"opq:<j>"`` —
  computed once in PYTHON and inlined as literals in both the Spark
  expression and the generated DuckDB oracle (no cross-engine hash
  drift possible);
* ``H``: the ``log2(d)`` butterfly — each pass pairs position ``i``
  with ``i XOR b`` (``y[i] = r[i] + r[i|b]`` when bit ``b`` of ``i`` is
  0, else ``y[i] = r[i XOR b] − r[i]``).  Every output element is a
  FIXED binary expression tree of input elements, so IEEE double
  evaluation is bit-identical in any engine (no reduction, no
  summation-order freedom).

Unnormalized ``H`` scales every distance by exactly ``d`` (``‖HDx −
HDy‖² = d·‖x−y‖²``), so neighbor RANKINGS in the rotated space equal
the original rankings exactly — recall is measured against the same
ground truth, and the downstream :func:`.pq.pq_topk` machinery (global
int8 scale, Gonzalez seeding, exact int64 ADC) is reused unchanged.

Scale shape: the rotation is one whole-stage-codegen projection pass
(``O(d·log d)`` per row, no shuffle, no UDF); everything after is
:func:`.pq.pq_topk`'s shape — corpus-sized work is the code scan, the
probe side auto-selects broadcast vs shuffle from plan statistics.

Reference note: the reference repo (main.py, 227-LoC pandas Flask app)
has no vector surface; this extends the SURVEY §2.10 ANN family.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["hd_signs", "hd_rotate", "opq_topk"]


def hd_signs(d: int, *, seed: str = "opq") -> list[int]:
    """Deterministic ±1 sign per dimension: md5 parity of
    ``"<seed>:<j>"`` — computed in Python and inlined as literals on
    BOTH engines (the oracle generator calls this same function)."""
    return [
        1 if int(hashlib.md5(f"{seed}:{j}".encode()).hexdigest(), 16) % 2 == 0 else -1
        for j in range(d)
    ]


def _butterfly(col: Column, b: int, d: int) -> Column:
    """One Walsh–Hadamard butterfly pass at stride ``b`` (1-based
    ``element_at``; ``i`` ranges over 0..d-1)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(d - 1)),
        lambda i: F.when(
            i.bitwiseAND(F.lit(b)) == 0,
            F.element_at(col, (i + 1).cast("int"))
            + F.element_at(col, (i.bitwiseOR(F.lit(b)) + 1).cast("int")),
        ).otherwise(
            F.element_at(col, (i.bitwiseXOR(F.lit(b)) + 1).cast("int"))
            - F.element_at(col, (i + 1).cast("int"))
        ),
    )


def hd_rotate(
    embeddings: DataFrame,
    *,
    dim: int,
    seed: str = "opq",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Apply the deterministic HD rotation; returns ``(vec_id,
    embedding)`` with the rotated double array under the same column
    names so the result drops into any downstream vector operator.
    ``dim`` must be a power of two and match EVERY row of the data
    (one map-side min/max aggregate guards the latter)."""
    if dim < 2 or dim & (dim - 1):
        raise ValueError(f"hd_rotate: dim must be a power of two (got {dim})")
    # Validate EVERY row's width, not one arbitrary sample — mixed-width
    # data would silently produce garbage rotations (ADVICE r8).  One
    # map-side min/max aggregate.
    ext = embeddings.select(
        F.min(F.size(F.col(vec_col))).alias("lo"),
        F.max(F.size(F.col(vec_col))).alias("hi"),
    ).first()
    if ext["hi"] is not None and (ext["lo"] != dim or ext["hi"] != dim):
        raise ValueError(
            f"hd_rotate: dim={dim} does not match the data "
            f"(observed sizes {ext['lo']}..{ext['hi']})"
        )
    signs = hd_signs(dim, seed=seed)
    sarr = F.array(*[F.lit(float(s)) for s in signs])
    cur = embeddings.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.zip_with(F.col(vec_col).cast("array<double>"), sarr, lambda x, s: x * s)
        .alias("_r"),
    )
    b = 1
    while b < dim:
        cur = cur.select("vec_id", _butterfly(F.col("_r"), b, dim).alias("_r"))
        b <<= 1
    return cur.select("vec_id", F.col("_r").alias(vec_col))


def opq_topk(
    corpus: DataFrame,
    queries: DataFrame | None = None,
    *,
    dim: int = 64,
    m: int = 16,
    k_codes: int = 16,
    k: int = 5,
    rerank: int = 100,
    query_mod: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-``k`` neighbors per query under HD-rotated product
    quantization: :func:`hd_rotate` then :func:`.pq.pq_topk` unchanged
    (same ADC + exact-refine pipeline, same explicit-queries contract —
    an external query set is rotated with the same signs before
    encoding).  Because the rotation is orthogonal (times ``√d``),
    ``dist_grid`` rankings are against the SAME ground truth as
    ``pq_topk``'s — recall gains/losses are directly comparable.

    Returns ``(query_id, neighbor_id, pq_dist, dist_grid, rank)``.
    """
    from .pq import pq_topk

    rc = hd_rotate(corpus, dim=dim, id_col=id_col, vec_col=vec_col)
    rq = (
        hd_rotate(queries, dim=dim, id_col=id_col, vec_col=vec_col)
        if queries is not None
        else None
    )
    return pq_topk(
        rc,
        rq,
        m=m,
        k_codes=k_codes,
        k=k,
        rerank=rerank,
        query_mod=query_mod,
        id_col="vec_id",
        vec_col=vec_col,
    )
