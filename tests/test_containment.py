"""Shingle-containment pair tests (``operators/dedup.py``): the exact
``ngram_containment_pairs`` — both of its plans and the cost-model pick
between them — and the KMV sketch ``minhash_containment_pairs``.
DuckDB hash-parity for each is covered by the declared-query harness
(tools/verify_queries.py)."""

from __future__ import annotations

import pytest

from name_match_ml_spark.operators import dedup
from name_match_ml_spark.operators.dedup import (
    minhash_containment_pairs,
    ngram_containment_pairs,
    ngram_jaccard_pairs,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ------------------------------------------------------- containment pairs


def test_containment_catches_subset_jaccard_misses(spark):
    long = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15"
    quote = "w0 w1 w2 w3"  # fully contained prefix
    df = spark.createDataFrame([(0, long), (1, quote)], ["doc_id", "text"])
    cont = ngram_containment_pairs(df, threshold=0.9, shingle_n=2).collect()
    assert len(cont) == 1
    assert (cont[0].doc_a, cont[0].doc_b, cont[0].containment) == (0, 1, 1.0)
    jac = ngram_jaccard_pairs(df, threshold=0.9, shingle_n=2).collect()
    assert jac == []  # Jaccard of a 20% subset is ~0.2 — invisible at 0.9


def test_containment_symmetric_output_contract(spark):
    df = spark.createDataFrame(
        [(5, "a b c d"), (2, "a b c d"), (9, "q r s t")], ["doc_id", "text"]
    )
    out = ngram_containment_pairs(df, threshold=0.5, shingle_n=2).collect()
    assert len(out) == 1
    r = out[0]
    assert r.doc_a < r.doc_b and (r.doc_a, r.doc_b) == (2, 5) and r.containment == 1.0


def test_containment_strategies_bit_identical(spark, monkeypatch):
    """countjoin and bitmap produce the SAME rounded scores on a corpus
    with subset quotes, disjoint docs, and partial overlaps — the bitmap
    GEMM is exact integer arithmetic (counts ≤ 2^24 in float32), so the
    6-dp boundary filter must agree bit for bit.  Each plan is forced
    through the cost model's flops-per-row weight: 0 prices the GEMM out,
    a huge weight prices the countjoin out."""
    rows = [
        (i, " ".join(f"w{j}" for j in range(i, i + 12))) for i in range(0, 40, 3)
    ] + [(100 + i, " ".join(f"w{j}" for j in range(i, i + 4))) for i in range(0, 40, 6)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {}
    for strat, flops_per_row in (("countjoin", 0), ("bitmap", 10**12), ("auto", None)):
        with monkeypatch.context() as m:
            if flops_per_row is not None:
                m.setattr(dedup, "_BITMAP_FLOPS_PER_ROW", flops_per_row)
            out = ngram_containment_pairs(df, threshold=0.4, shingle_n=2)
        if flops_per_row is not None:
            assert ("FlatMapGroupsInPandas" in _plan(out)) == (strat == "bitmap")
        got[strat] = sorted(map(tuple, out.collect()))
    assert got["countjoin"] == got["bitmap"] == got["auto"]
    assert len(got["countjoin"]) > 0  # the quotes must actually collide


def test_containment_wide_vocab_takes_countjoin(spark, monkeypatch):
    """A vocabulary above ``_BITMAP_MAX_VOCAB`` never reaches the bitmap
    plan, whose vocabulary collect is driver-side (VERDICT r5 #2), even
    when the cost model favours the GEMM: the pick takes countjoin and
    ``_bitmap_set_pairs`` is never called.  The cap is monkeypatched
    tiny so the fixture stays small."""

    def no_bitmap(*_args, **_kwargs):
        raise AssertionError("bitmap plan called above the vocabulary cap")

    monkeypatch.setattr(dedup, "_BITMAP_MAX_VOCAB", 4)
    monkeypatch.setattr(dedup, "_BITMAP_FLOPS_PER_ROW", 10**12)
    monkeypatch.setattr(dedup, "_bitmap_set_pairs", no_bitmap)
    docs = spark.createDataFrame(
        [(i, f"alpha{i} beta{i} gamma{i} delta{i}") for i in range(8)]
        + [(8, "alpha0 beta0 gamma0")],
        "doc_id long, text string",
    )
    out = ngram_containment_pairs(docs, threshold=0.5, shingle_n=2)
    assert "FlatMapGroupsInPandas" not in _plan(out)
    assert [tuple(r) for r in out.collect()] == [(0, 8, 1.0)]


@pytest.mark.slow
def test_max_shingle_df_drops_boilerplate_pairs(spark):
    """The stop-shingle cap (the 100 TB pair-bomb knob): docs that match
    only through ubiquitous boilerplate stop matching once shingles with
    df > cap are dropped; genuine duplicates still match; an
    all-boilerplate doc drops out of the universe entirely."""
    boiler = "this document is provided under standard terms of service"
    rows = [
        (0, f"alpha beta gamma {boiler}"),
        (1, f"alpha beta gamma {boiler}"),  # true duplicate of 0
        (2, f"zeta eta theta {boiler}"),
        (3, boiler),  # boilerplate-only
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    uncapped = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(df, threshold=0.5, shingle_n=2).collect()
    }
    assert (0, 2) in uncapped and (0, 3) in uncapped  # boilerplate smear
    capped = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(
            df, threshold=0.5, shingle_n=2, max_shingle_df=3
        ).collect()
    }
    assert capped == {(0, 1)}  # only the true duplicate survives

    cont_capped = {
        (r.doc_a, r.doc_b)
        for r in ngram_containment_pairs(
            df, threshold=0.5, shingle_n=2, max_shingle_df=3
        ).collect()
    }
    assert cont_capped == {(0, 1)}


# --------------------------------------------- KMV containment sketch


def test_containment_sketch_exact_when_k_covers_all_shingles(spark):
    """With sketch_k >= every doc's distinct-shingle count the KMV
    estimator degenerates to the EXACT containment (M = the full union,
    y = the full intersection, and y*(n_a+n_b)/((m+y)*min) reduces to
    I/min since m+y = n_a+n_b) — so the sketch operator must equal the
    exact baseline pair-for-pair and value-for-value."""
    rows = [
        (0, "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15"),
        (1, "w0 w1 w2 w3"),
        (2, "a b c d e f g h"),
        (3, "e f g h i j"),
        (4, "totally different words here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    exact = {
        (r.doc_a, r.doc_b): r.containment
        for r in ngram_containment_pairs(df, threshold=0.3, shingle_n=2).collect()
    }
    sk = {
        (r.doc_a, r.doc_b): r.containment_est
        for r in minhash_containment_pairs(
            df, threshold=0.3, shingle_n=2, sketch_k=1000
        ).collect()
    }
    assert sk == exact and len(exact) >= 2


def test_containment_sketch_identical_docs_estimate_one(spark):
    df = spark.createDataFrame(
        [(7, "x y z w v u t s r q p o n m"), (3, "x y z w v u t s r q p o n m")],
        ["doc_id", "text"],
    )
    out = minhash_containment_pairs(df, threshold=0.9, shingle_n=2, sketch_k=4).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.doc_a, r.doc_b, r.containment_est) == (3, 7, 1.0)


def test_containment_sketch_disjoint_docs_no_candidates(spark):
    df = spark.createDataFrame(
        [(0, "a b c d"), (1, "e f g h"), (2, "i j k l")], ["doc_id", "text"]
    )
    assert minhash_containment_pairs(df, threshold=0.01, shingle_n=2).collect() == []


def test_containment_sketch_hot_element_cap(spark):
    """max_element_df drops sketch elements above the df cap BEFORE the
    self-join; a pair whose only shared sketch element is hot disappears
    (the documented approximation), while pairs sharing cold elements
    survive."""
    # "hot hot" 2-gram shared by all four docs; docs 0/1 additionally
    # share a cold run.
    rows = [
        (0, "hot hot cold0 cold1 cold2 cold3"),
        (1, "hot hot cold0 cold1 cold2 cold3"),
        (2, "hot hot only2 more2"),
        (3, "hot hot only3 more3"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = {
        (r.doc_a, r.doc_b)
        for r in minhash_containment_pairs(df, threshold=0.2, shingle_n=2).collect()
    }
    assert (2, 3) in uncapped and (0, 1) in uncapped
    capped = {
        (r.doc_a, r.doc_b)
        for r in minhash_containment_pairs(
            df, threshold=0.2, shingle_n=2, max_element_df=3
        ).collect()
    }
    assert (0, 1) in capped  # cold shared elements keep the real pair
    assert (2, 3) not in capped  # only-hot pair lost by design
