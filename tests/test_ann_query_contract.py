"""ANN query-side contract (VERDICT r7 #4): the probe/distance-table
side scales with the QUERY SET, so its join strategy must be chosen
from plan statistics — broadcast for a small query set, shuffle-hash
(never a driver-OOM broadcast) for a corpus-proportional one — and an
explicit ``queries`` DataFrame must produce the same answers as the
in-repo ``vec_id % 10`` convention when it selects the same vectors."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from name_match_ml_spark.plans import probe

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_grid_ivf_small_queries_broadcast(spark):
    from name_match_ml_spark.operators.clustering import grid_ivf_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _plan(grid_ivf_topk(emb, k_cells=10, n_probe=4, k=5))
    assert "BroadcastHashJoin" in plan, "small probe side must broadcast"
    assert "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan


def test_grid_ivf_big_queries_no_broadcast(spark, monkeypatch):
    """Force the corpus-proportional regime via a zero row budget: the
    inverted-list join must become a shuffle-hash join (plans stats say
    the probe side is too big to broadcast), never a broadcast."""
    from name_match_ml_spark.operators.clustering import grid_ivf_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    monkeypatch.setattr(probe, "PROBE_BROADCAST_ROW_BUDGET", 0)
    out = grid_ivf_topk(emb, k_cells=10, n_probe=4, k=5)
    plan = _plan(out)
    assert "ShuffledHashJoin" in plan, "big probe side must shuffle, not broadcast"
    assert "CartesianProduct" not in plan


@pytest.mark.slow
def test_grid_ivf_explicit_queries_match_convention(spark, monkeypatch):
    from name_match_ml_spark.operators.clustering import grid_ivf_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    conv = grid_ivf_topk(emb, k_cells=10, n_probe=4, k=5).collect()
    qdf = emb.filter(F.col("vec_id") % 10 == 0)
    expl = grid_ivf_topk(emb, qdf, k_cells=10, n_probe=4, k=5).collect()
    assert sorted(map(tuple, expl)) == sorted(map(tuple, conv))
    # and the strategy is identical under the shuffle regime too
    monkeypatch.setattr(probe, "PROBE_BROADCAST_ROW_BUDGET", 0)
    shuf = grid_ivf_topk(emb, qdf, k_cells=10, n_probe=4, k=5).collect()
    assert sorted(map(tuple, shuf)) == sorted(map(tuple, conv))


def test_pq_small_queries_broadcast(spark):
    from name_match_ml_spark.operators.pq import pq_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _plan(pq_topk(emb, m=4, k_codes=8, rerank=20))
    assert "BroadcastHashJoin" in plan
    assert "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.slow
def test_pq_big_queries_no_broadcast_same_answer(spark, monkeypatch):
    from name_match_ml_spark.operators.pq import pq_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    conv = pq_topk(emb, m=4, k_codes=8, rerank=20).collect()
    monkeypatch.setattr(probe, "PROBE_BROADCAST_ROW_BUDGET", 0)
    out = pq_topk(emb, m=4, k_codes=8, rerank=20)
    assert "ShuffledHashJoin" in _plan(out)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, conv))


@pytest.mark.slow
def test_pq_explicit_queries_match_convention(spark):
    """External query DataFrame encoded on the corpus grid must
    reproduce the convention answers for the same vectors."""
    from name_match_ml_spark.operators.pq import pq_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    conv = pq_topk(emb, m=4, k_codes=8, rerank=20).collect()
    qdf = emb.filter(F.col("vec_id") % 10 == 0)
    expl = pq_topk(emb, qdf, m=4, k_codes=8, rerank=20).collect()
    assert sorted(map(tuple, expl)) == sorted(map(tuple, conv))


def test_cosine_topk_exact_enforces_query_cap(spark):
    from name_match_ml_spark.operators.simsearch import cosine_topk_exact

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    with pytest.raises(ValueError, match="max_queries"):
        cosine_topk_exact(emb, emb, k=3, max_queries=10)


def test_quantized_cosine_topk_enforces_query_cap(spark):
    from name_match_ml_spark.operators.simsearch import quantized_cosine_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    with pytest.raises(ValueError, match="max_queries"):
        quantized_cosine_topk(emb, emb, k=3, max_queries=10)


@pytest.mark.slow
def test_pq_saturated_query_count_shuffles_rerank_join(spark, monkeypatch):
    """ADVICE r8 (medium): when the LIMIT-bounded query count saturates
    (n_q == q_cap + 1), |Q| is unknown — the rerank join must treat the
    query side as corpus-sized and shuffle, not broadcast the saturated
    (always-under-budget) count.  budget=320 with m=4/k_codes=8 gives
    q_cap=10 < |Q|=50, so the count saturates; both the ADC distance
    table AND the full-width query-code rerank side must then carry the
    shuffle_hash hint (two ShuffledHashJoins; pre-fix the rerank side
    broadcast and the plan had only one)."""
    from name_match_ml_spark.operators.pq import pq_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    conv = pq_topk(emb, m=4, k_codes=8, rerank=20).collect()
    monkeypatch.setattr(probe, "PROBE_BROADCAST_ROW_BUDGET", 320)
    out = pq_topk(emb, m=4, k_codes=8, rerank=20)
    plan = _plan(out)
    assert plan.count("ShuffledHashJoin") >= 2, plan
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, conv))
