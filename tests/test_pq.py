"""Product-quantization ANN tests (operators/pq.py, operators/opq.py):
PQ and OPQ recall vs the exact same-grid top-k, codebook shape, the
Hadamard rotation, and the IVFADC composition (``ivfpq_topk``) — recall
gate vs the same-grid brute force, explicit-queries equivalence, the
query-side join-strategy contract, and parameter validation."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from name_match_ml_spark.operators.clustering import _sq_dist
from name_match_ml_spark.operators.pq import _global_codes, ivfpq_topk


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _exact_pairs(spark, sf_dir, k=5):
    """Brute-force top-k under the SAME global-scale grid metric."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qz = _global_codes(emb, id_col="vec_id", vec_col="embedding").localCheckpoint()
    qs = qz.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq")
    )
    bf = (
        qz.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _sq_dist(F.col("q"), F.col("qq")).alias("d"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("d", "neighbor_id")
    return {
        (r["query_id"], r["neighbor_id"])
        for r in bf.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= k)
        .collect()
    }


@pytest.mark.slow
def test_pq_topk_recall_vs_exact(spark):
    """ADC + exact refine must recover >=0.9 of the true top-5 (by exact
    int64 distance over the same global-scale codes); measured 0.96 at
    the shipped m=16/k_codes=16/rerank=100 config."""
    from name_match_ml_spark.operators.pq import pq_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = pq_topk(emb).collect()
    pq_pairs = {(r["query_id"], r["neighbor_id"]) for r in got}

    cf = _global_codes(emb, id_col="vec_id", vec_col="embedding")
    q = cf.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq")
    )
    pairs = (
        cf.crossJoin(q)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _sq_dist(F.col("q"), F.col("qq")).alias("d"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("d", "neighbor_id")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in pairs.withColumn("rn", F.row_number().over(w))
        .filter("rn <= 5")
        .collect()
    }
    assert len(pq_pairs) == len(exact) > 0
    assert len(pq_pairs & exact) / len(exact) >= 0.9

    # refine invariant: the exact distance of rank r is <= rank r+1
    by_q: dict[int, list] = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for rs in by_q.values():
        rs.sort(key=lambda r: r["rank"])
        dists = [r["dist_grid"] for r in rs]
        assert dists == sorted(dists)
        assert all(r["pq_dist"] >= 0 and r["dist_grid"] >= 0 for r in rs)
        assert all(r["neighbor_id"] != r["query_id"] for r in rs)


def test_pq_codebooks_shape(spark):
    """Codebooks: m*k_codes entries, each sub-vector dim/m wide, codes
    assigned in 1..k_codes."""
    from name_match_ml_spark.operators.pq import _encode_cid_expr, _pq_fit

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    _codes_full, subq, books = _pq_fit(emb, m=4, k_codes=8, rounds=1)
    crows = [(s, cid, cv) for s, book in enumerate(books) for cid, cv in book]
    assert len(crows) == 4 * 8
    assert {s for s, _cid, _cv in crows} == {0, 1, 2, 3}
    assert all(len(cv) == 16 for _s, _cid, cv in crows)  # 64 dims / m=4
    assign = subq.select(_encode_cid_expr(books, "s", "sq").alias("cid"))
    cids = [r["cid"] for r in assign.distinct().collect()]
    assert set(cids) <= set(range(1, 9))


def test_hd_rotate_preserves_distances_times_d(spark):
    """Unnormalized HD rotation is orthogonal x sqrt(d): pairwise squared
    distances scale by exactly d, so neighbor rankings are unchanged."""
    import numpy as np

    from name_match_ml_spark.operators.opq import hd_rotate

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(20)
    orig = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb.collect()}
    rot = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
           for r in hd_rotate(emb, dim=64).collect()}
    ids = sorted(orig)
    for a in ids[:5]:
        for b in ids[5:10]:
            d0 = float(((orig[a] - orig[b]) ** 2).sum())
            d1 = float(((rot[a] - rot[b]) ** 2).sum())
            assert abs(d1 - 64.0 * d0) < 1e-6 * max(d1, 1.0)


def test_hd_rotate_validates_dim(spark):
    from name_match_ml_spark.operators.opq import hd_rotate

    emb = spark.createDataFrame([(0, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="power of two"):
        hd_rotate(emb, dim=3)
    with pytest.raises(ValueError, match="does not match"):
        hd_rotate(emb, dim=4)


@pytest.mark.slow
def test_opq_topk_recall_vs_exact(spark):
    """OPQ recall@5 vs the exact top-5 (original space; rankings are
    rotation-invariant) must hold the pq_topk bar."""
    from name_match_ml_spark.operators.opq import opq_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = opq_topk(emb).collect()
    opq_pairs = {(r["query_id"], r["neighbor_id"]) for r in got}

    cf = _global_codes(emb, id_col="vec_id", vec_col="embedding")
    q = cf.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq")
    )
    pairs = (
        cf.crossJoin(q)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _sq_dist(F.col("q"), F.col("qq")).alias("d"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("d", "neighbor_id")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in pairs.withColumn("rn", F.row_number().over(w)).filter("rn <= 5").collect()
    }
    assert len(opq_pairs) == len(exact) > 0
    recall = len(opq_pairs & exact) / len(exact)
    assert recall >= 0.85, f"OPQ recall {recall:.3f}"


@pytest.mark.parametrize(
    "sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
@pytest.mark.slow
def test_ivfpq_recall_vs_same_grid_brute_force(spark, sf_dir):
    """Both pruning axes together (4-of-8-cell probe + 16-code residual
    PQ + rerank 100) must hold recall@5 >= 0.6 against brute force
    under the same grid metric (measured 0.73 at sf0.01; deterministic,
    the margin guards param drift, not host noise).  Returned rows'
    dist_grid must equal the exact grid distance — refine is exact."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = _exact_pairs(spark, sf_dir)
    rows = ivfpq_topk(emb).collect()
    got = {(r["query_id"], r["neighbor_id"]) for r in rows}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.6, f"IVFADC recall {recall:.3f} at {sf_dir}"
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
    for q, rs in per_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1)), q
        dists = [r.dist_grid for r in rs]
        assert dists == sorted(dists), q
        assert all(r.neighbor_id != q for r in rs)


@pytest.mark.slow
def test_ivfpq_explicit_queries_match_convention(spark):
    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    conv = ivfpq_topk(emb).collect()
    qdf = emb.filter(F.col("vec_id") % 10 == 0)
    expl = ivfpq_topk(emb, qdf).collect()
    assert sorted(map(tuple, expl)) == sorted(map(tuple, conv))
    # forced-shuffle regime answers identically (saturation rule: both
    # query-scaled joins flip together)
    shuf = ivfpq_topk(emb, qdf, probe_row_budget=0).collect()
    assert sorted(map(tuple, shuf)) == sorted(map(tuple, conv))


def test_ivfpq_small_queries_broadcast(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(ivfpq_topk(emb))
    assert "BroadcastHashJoin" in plan, "small dtab side must broadcast"
    assert "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ivfpq_big_queries_shuffle(spark):
    """budget=0 saturates the LIMIT-bounded query count: BOTH the ADC
    distance-table join and the rerank join must go shuffle-hash (the
    pq_topk saturation rule, ADVICE r8)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(ivfpq_topk(emb, probe_row_budget=0))
    assert plan.count("ShuffledHashJoin") >= 2, plan[:2000]
    assert "CartesianProduct" not in plan


def test_ivfpq_param_validation(spark):
    emb = spark.createDataFrame(
        [(0, [1.0] * 8)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError):
        ivfpq_topk(emb, n_probe=0)
    with pytest.raises(ValueError):
        ivfpq_topk(emb, k=6, rerank=5)
