"""Round-8 regression tests for the VERDICT r7 / ADVICE r7 items:
pca_residual driver-contract serialization, the grid_pca int64-envelope
dimension guard, and pack_attention_spans zero-token spans."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_grid_pca_rejects_dim_over_64(spark):
    """ADVICE r7 (medium): for d > 64 the power-iteration matvec can
    exceed int64 and Spark silently wraps while DuckDB raises — the
    guard must fail fast instead of returning wrong directions."""
    from name_match_ml_spark.operators.pca import grid_pca

    wide = spark.createDataFrame(
        [(1, [0.1] * 65), (2, [0.2] * 65)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="dimension <= 64"):
        grid_pca(wide)


def test_grid_pca_accepts_dim_64(spark):
    from name_match_ml_spark.operators.pca import grid_pca

    ok = spark.createDataFrame(
        [(i, [float(i + j) for j in range(64)]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    assert grid_pca(ok).count() == 6


def test_pack_attention_spans_drops_zero_token_docs(spark):
    """ADVICE r7 (low): a zero-token doc (empty/null text) would emit the
    degenerate range (start, start-1); it must be absent from the span
    output while neighbors' offsets stay exactly as if it packed with 0
    tokens (it does — the filter runs AFTER the running-sum window)."""
    from name_match_ml_spark.operators.packing import pack_attention_spans

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, ""), (3, None), (4, "delta epsilon")],
        "doc_id long, text string",
    )
    rows = pack_attention_spans(docs, budget=100, n_buckets=1).collect()
    by_id = {r["doc_id"]: r for r in rows}
    assert set(by_id) == {1, 4}, "zero-token docs must emit no span"
    for r in rows:
        assert r["end_tok"] >= r["start_tok"], "every span a valid inclusive range"
    # doc 1 (3 tokens) then doc 4 (2 tokens) in doc_id pack-fill order;
    # docs 2/3 contribute 0 tokens so offsets are unshifted.
    assert (by_id[1]["start_tok"], by_id[1]["end_tok"]) == (0, 2)
    assert (by_id[4]["start_tok"], by_id[4]["end_tok"]) == (3, 4)


@pytest.mark.slow
def test_pca_residual_query_emits_csv_not_array(spark):
    """VERDICT r7 #1: the driver canonicalizer cannot sort nested values;
    the declared query must serialize resid to CSV (embedding_quantize
    convention) and the CSV must reconstruct the library's exact arrays."""
    from name_match_ml_spark.operators.pca import pca_residual
    from name_match_ml_spark.suite import q_pca_residual

    sf = "/root/testdata/sf0.001"
    out = q_pca_residual(spark, sf)
    kinds = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert kinds == {"vec_id": "bigint", "resid_csv": "string"}

    lib = {
        r["vec_id"]: r["resid"]
        for r in pca_residual(
            spark.read.parquet(f"{sf}/embeddings.parquet")
        ).collect()
    }
    got = {r["vec_id"]: r["resid_csv"] for r in out.collect()}
    assert set(got) == set(lib)
    for vid, csv in got.items():
        assert [int(x) for x in csv.split(",")] == lib[vid]


def test_exact_substring_spans_semantics(spark):
    """Hand-built corpus: a cross-doc duplicated sentence is found as one
    maximal island in both docs (even though it straddles span_dedup's
    fixed windows), a self-repeat within one doc is found, and unique
    text emits nothing."""
    from name_match_ml_spark.operators.cleaning import exact_substring_spans

    dup = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    docs = spark.createDataFrame(
        [
            (1, "unique one two three " + dup + " tail xx yy zz"),
            (2, dup + " completely different ending here now ok fine"),
            (3, "self repeat " + "ra pa " * 12 + "done"),
            (4, "totally unique text with no repeats at all whatsoever indeed"),
        ],
        "doc_id long, text string",
    )
    rows = exact_substring_spans(docs, gram_words=5, min_count=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 4 not in by_doc, "unique doc must emit no spans"
    # doc 1: dup occupies words 4..13 -> one island covering exactly that
    (s1,) = by_doc[1]
    assert (s1["span_start"], s1["span_end"]) == (4, 13)
    # doc 2: same phrase at words 0..9
    (s2,) = by_doc[2]
    assert (s2["span_start"], s2["span_end"]) == (0, 9)
    # doc 3: "ra pa"*12 self-repeats -> a single merged island
    assert len(by_doc[3]) == 1
    # islands are valid inclusive ranges, 1-indexed in position order
    for rs in by_doc.values():
        for r in rs:
            assert r["span_end"] >= r["span_start"]
            assert r["n_grams"] >= 1


def _cluster_map(rows):
    return {r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["is_keeper"]) for r in rows}


@pytest.mark.slow
def test_incremental_near_dup_equals_full_recompute(spark):
    """Delta update == full recompute on the unified corpus, including
    removals (removed doc's edges must disappear)."""
    from name_match_ml_spark.operators.graph import (
        connected_components,
        incremental_near_dup,
        near_dup_graph,
    )
    from pyspark.sql import Window

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    delta = d.filter(F.col("doc_id") % 5 == 0)
    base = d.filter(F.col("doc_id") % 5 != 0)
    removed = base.select("doc_id").orderBy("doc_id").limit(3)
    cached = near_dup_graph(base, materialize=False)

    got = _cluster_map(
        incremental_near_dup(base, delta, base_pairs=cached, removed=removed).collect()
    )

    removed_ids = {r["doc_id"] for r in removed.collect()}
    snapshot = d.filter(~F.col("doc_id").isin(removed_ids))
    comp = connected_components(near_dup_graph(snapshot, materialize=False))
    w = Window.partitionBy("cluster_id")
    full = _cluster_map(
        comp.select(
            F.col("id").alias("doc_id"),
            "cluster_id",
            F.count(F.lit(1)).over(w).alias("cluster_size"),
            (F.col("id") == F.col("cluster_id")).alias("is_keeper"),
        ).collect()
    )
    assert got == full and got, "incremental must equal full recompute"


@pytest.mark.slow
def test_incremental_near_dup_actually_uses_cache(spark):
    """Behavioral proof of incrementality: a POISONED cached edge between
    two unchanged docs must flow into the output (the operator trusts
    the cache and never re-scores unchanged x unchanged), while a cached
    edge touching a delta doc must be dropped and re-derived."""
    from name_match_ml_spark.operators.graph import incremental_near_dup

    base = spark.createDataFrame(
        [
            (1, "aa bb cc dd ee"),
            (2, "zz yy xx ww vv"),
            (3, "totally different text here"),
        ],
        "doc_id long, text string",
    )
    delta = spark.createDataFrame(
        [(4, "brand new unrelated content words")], "doc_id long, text string"
    )
    # poisoned: claims 1~2 are near-dups (they are not)
    poisoned = spark.createDataFrame(
        [(1, 2, 0.99)], "doc_a long, doc_b long, jaccard double"
    )
    got = _cluster_map(incremental_near_dup(base, delta, base_pairs=poisoned).collect())
    assert got.get(1) == (1, 2, True) and got.get(2) == (1, 2, False), (
        "cached unchanged-pair edges must be reused verbatim, not re-scored"
    )
    # a stale cached edge touching the REPLACED doc id must be dropped
    delta2 = spark.createDataFrame(
        [(2, "completely changed now different")], "doc_id long, text string"
    )
    got2 = _cluster_map(incremental_near_dup(base, delta2, base_pairs=poisoned).collect())
    assert 1 not in got2 and 2 not in got2, "edges with a dead endpoint must drop"


def test_incremental_near_dup_scores_delta_pairs(spark):
    """A delta doc duplicating an unchanged doc must be discovered fresh
    (no cache entry exists for it) — both the delta x unchanged and the
    delta x delta directions."""
    from name_match_ml_spark.operators.graph import incremental_near_dup

    base = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"), (2, "other text")],
        "doc_id long, text string",
    )
    empty = spark.createDataFrame([], "doc_a long, doc_b long, jaccard double")
    delta = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog"),
            (11, "the quick brown fox jumps over the lazy dog"),
        ],
        "doc_id long, text string",
    )
    got = _cluster_map(incremental_near_dup(base, delta, base_pairs=empty).collect())
    assert got.get(1) == (1, 3, True)
    assert got.get(10) == (1, 3, False) and got.get(11) == (1, 3, False)
