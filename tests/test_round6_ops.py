"""Round-6 hardening: k-core oracle-depth tie, deterministic capped
shingle arrays, lift headroom (the bitmap vocabulary guard's test lives
in tests/test_containment.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_k_core_rounds_within_oracle_depth_on_real_corpus(spark):
    """ADVICE r5: the k_core oracle unrolls K_CORE_ORACLE_ROUNDS peel
    rounds; prove the real sf corpus converges well inside that bound
    (q_k_core now passes max_iter=K_CORE_ORACLE_ROUNDS, so a deeper
    chain raises a loud RuntimeError rather than hash-mismatching)."""
    from name_match_ml_spark.operators import graph
    from name_match_ml_spark.operators.dedup import ngram_jaccard_pairs
    from name_match_ml_spark.suite import table

    d = table(spark, SF_DIR, "documents")
    pairs = ngram_jaccard_pairs(d, threshold=0.5, shingle_n=2).select("doc_a", "doc_b")
    out = graph.k_core(pairs, k=2, max_iter=graph.K_CORE_ORACLE_ROUNDS)
    out.collect()
    assert 1 <= graph.last_rounds <= graph.K_CORE_ORACLE_ROUNDS


def test_k_core_deep_chain_fails_loudly(spark):
    """A peel chain deeper than max_iter must raise with a round-count
    message, never silently return an under-peeled graph."""
    from name_match_ml_spark.operators.graph import k_core

    # Path graph 0-1-2-...-9: peels one leaf pair per round from each
    # end; with max_iter=2 the 10-node path cannot finish.
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge in 2 rounds"):
        k_core(edges, k=2, max_iter=2)


def test_capped_shingle_array_is_sorted(spark):
    """_cap_shingle_df now pins element order (sort_array over the
    nondeterministic collect_list) so the capped `sh` column is
    bit-replayable if ever hashed or persisted (ADVICE r5)."""
    from name_match_ml_spark.operators.dedup import (
        _cap_shingle_df,
        _staged_shingle_hashes,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b x y z w q r")],
        "doc_id long, text string",
    )
    base = _staged_shingle_hashes(docs, "text", "doc_id", 2)
    capped = _cap_shingle_df(base, max_shingle_df=10)
    for row in capped.collect():
        assert list(row["sh"]) == sorted(row["sh"])


def test_copurchase_lift_decimal_headroom_matches_int_path(spark):
    """The decimal(38,0) lift grid must equal the plain int64 result in
    the non-overflow regime (ADVICE r5: headroom change, same values)."""
    df = spark.createDataFrame(
        [(40, 2_000_000, 100, 200)],
        "support long, n_orders long, supp_a long, supp_b long",
    )
    out = df.select(
        F.expr(
            "CAST((CAST(support AS DECIMAL(38,0)) * n_orders * 1000000)"
            " DIV (CAST(supp_a AS DECIMAL(38,0)) * supp_b) AS BIGINT)"
        ).alias("dec_grid"),
        F.expr("(support * n_orders * 1000000) DIV (supp_a * supp_b)").alias(
            "int_grid"
        ),
    ).first()
    assert out["dec_grid"] == out["int_grid"] == 4_000_000_000
    # And a case that WOULD overflow int64 in the numerator still yields
    # the mathematically exact grid on the decimal path.
    big = spark.createDataFrame(
        [(1000, 200_000_000, 10_000, 10_000)],
        "support long, n_orders long, supp_a long, supp_b long",
    )
    val = big.select(
        F.expr(
            "CAST((CAST(support AS DECIMAL(38,0)) * n_orders * 1000000)"
            " DIV (CAST(supp_a AS DECIMAL(38,0)) * supp_b) AS BIGINT)"
        ).alias("g")
    ).first()["g"]
    assert val == (1000 * 200_000_000 * 1_000_000) // (10_000 * 10_000)


def test_model_quality_filter_plan_is_pure_codegen(spark):
    """The frozen-model quality gate must be one per-row fold: no
    Python eval, no shuffle, no join in the plan (VERDICT r5 #5)."""
    from name_match_ml_spark.functions.quality_model import model_quality_scores

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = model_quality_scores(docs)._jdf.queryExecution().executedPlan().toString()
    for bad in ("BatchEvalPython", "ArrowEvalPython", "Exchange", "Join"):
        assert bad not in plan, f"{bad} in plan"


def test_model_quality_agrees_with_gopher_gate(spark):
    """The model was distilled from the gopher gate; pin >=85% label
    agreement on the held-out sf0.001 corpus so weight/featurization
    drift fails loudly."""
    from name_match_ml_spark.functions.quality_model import model_quality_scores
    from name_match_ml_spark.functions.text import gopher_quality

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    m = model_quality_scores(docs).select("doc_id", "keep")
    g = gopher_quality(docs, min_words=40, min_stopword_hits=1).select(
        "doc_id", F.col("passes").alias("label")
    )
    j = m.join(g, "doc_id")
    total = j.count()
    agree = j.filter(F.col("keep") == F.col("label")).count()
    assert total > 0 and agree / total >= 0.85
    # and the gate is non-trivial on this corpus (both classes present)
    kept = j.filter("keep").count()
    assert 0 < kept < total


def test_model_quality_score_matches_hand_computation(spark):
    """Frozen golden: score of a tiny doc equals the Python-side sum of
    the same md5-bucket weights plus bias."""
    import hashlib

    from name_match_ml_spark.functions.quality_model import (
        N_BUCKETS,
        QUALITY_BIAS_GRID,
        QUALITY_WEIGHTS_GRID,
        model_quality_scores,
    )

    text = "the hash join row the scan"
    expected = QUALITY_BIAS_GRID + sum(
        QUALITY_WEIGHTS_GRID[
            int(hashlib.md5(w.encode()).hexdigest()[:15], 16) % N_BUCKETS
        ]
        for w in text.lower().split()
    )
    docs = spark.createDataFrame([(1, text), (2, "")], "doc_id long, text string")
    rows = {r["doc_id"]: r for r in model_quality_scores(docs).collect()}
    assert rows[1]["score_grid"] == expected
    assert rows[1]["keep"] == (expected >= 0)
    assert rows[2]["score_grid"] == QUALITY_BIAS_GRID and not rows[2]["keep"]
