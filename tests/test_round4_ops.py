"""Round-4 operator tests: C4-style span dedup, epoch upsampling,
Gopher quality rules, exact-substring pairs, and int8 embedding
quantization.  Small synthetic corpora with driver-side oracles; DuckDB
hash-parity for each is covered by the declared-query harness
(tools/verify_queries.py)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from name_match_ml_spark.operators.cleaning import epoch_upsample, span_dedup
from name_match_ml_spark.operators.dedup import shared_substring_pairs
from name_match_ml_spark.operators.simsearch import (
    cosine_topk_exact,
    quantize_embeddings,
    quantized_cosine_topk,
)
from name_match_ml_spark.functions.text import gopher_quality


# ---------------------------------------------------------------- span dedup


@pytest.fixture(scope="module")
def span_docs(spark):
    shared = " ".join(f"w{i}" for i in range(10))  # one exact 10-word span
    rows = [
        (0, shared + " alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (1, shared + " one two three four five six seven eight nine ten"),
        (2, "totally different words in this document here right now ok fine"),
        (3, ""),  # zero words
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_span_dedup_first_occurrence_wins(span_docs):
    out = {r.doc_id: r for r in span_dedup(span_docs, span_words=10).collect()}
    assert len(out) == 4
    # doc 0 keeps both spans (it is the first occurrence of the shared one)
    assert out[0].n_spans == 2 and out[0].n_kept == 2
    # doc 1 loses the shared span, keeps its tail
    assert out[1].n_spans == 2 and out[1].n_kept == 1
    assert out[1].text == "one two three four five six seven eight nine ten"
    assert out[2].n_kept == out[2].n_spans == 2  # 12 words -> 2 spans (10+2)
    assert out[3].n_spans == 0 and out[3].n_kept == 0 and out[3].text == ""


def test_span_dedup_idempotent(span_docs):
    once = span_dedup(span_docs, span_words=10)
    twice = span_dedup(once.select("doc_id", "text"), span_words=10)
    a = {r.doc_id: r.text for r in once.collect()}
    b = {r.doc_id: r.text for r in twice.collect()}
    assert a == b  # no span survives in two places, so a second pass is a no-op


def test_span_dedup_plan_has_mapside_winner_combine(span_docs):
    """The winner-per-span aggregate must show a partial_min: a
    boilerplate span repeated a billion times then shuffles one row per
    task, not a billion (the reason it is an aggregate, not a window)."""
    plan = span_dedup(span_docs)._jdf.queryExecution().executedPlan().toString()
    assert "partial_min" in plan
    assert "row_number" not in plan.lower()  # winner is an aggregate, not a window


def test_span_dedup_survives_hot_span(spark):
    """Skew: one span duplicated across 20k docs — the partial aggregate
    collapses it map-side and exactly one copy survives."""
    boiler = " ".join(f"b{i}" for i in range(10))
    docs = spark.range(20000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(boiler + " "), F.lit("tail doc "), F.col("id").cast("string")).alias("text"),
    )
    out = span_dedup(docs, span_words=10)
    # only doc 0 keeps the boilerplate span; every doc keeps its unique tail
    agg = out.agg(
        F.sum("n_kept").alias("kept"), F.sum("n_spans").alias("total")
    ).collect()[0]
    assert agg.total == 40000  # 2 spans per doc
    assert agg.kept == 20001  # 20000 unique tails + 1 boilerplate winner
    winner = out.filter(F.col("text").startswith(boiler)).collect()
    assert len(winner) == 1 and winner[0].doc_id == 0


def test_span_dedup_hash_fns_agree(span_docs):
    a = sorted(map(tuple, span_dedup(span_docs, hash_fn="xxhash64").collect()))
    b = sorted(map(tuple, span_dedup(span_docs, hash_fn="md5_60").collect()))
    assert a == b


# ------------------------------------------------------------ epoch upsample


def test_epoch_upsample_integer_and_zero_paths(spark):
    docs = spark.createDataFrame(
        [(i, "s%d" % (i % 3)) for i in range(30)], ["doc_id", "source"]
    )
    out = epoch_upsample(docs, {"s0": 3.0, "s1": 0.0}, stratum_col="source").collect()
    by_doc: dict[int, list[int]] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r.copy)
    for i in range(30):
        if i % 3 == 0:
            assert sorted(by_doc[i]) == [1, 2, 3]
        elif i % 3 == 1:
            assert i not in by_doc  # dropped stratum
        else:
            assert by_doc[i] == [1]  # default 1 epoch


def test_epoch_upsample_fractional_deterministic(spark):
    docs = spark.createDataFrame([(i, "a") for i in range(400)], ["doc_id", "source"])
    out1 = epoch_upsample(docs, {"a": 1.5}, stratum_col="source")
    n1 = out1.count()
    n2 = epoch_upsample(docs, {"a": 1.5}, stratum_col="source").count()
    assert n1 == n2  # seeded hash, no RNG state
    assert 400 * 1.3 < n1 < 400 * 1.7  # ~600 expected
    # changing the seed draws an independent (generally different) sample
    n3 = epoch_upsample(docs, {"a": 1.5}, stratum_col="source", seed="other").count()
    assert 400 * 1.3 < n3 < 400 * 1.7


def test_epoch_upsample_rejects_absurd_rates(spark):
    docs = spark.createDataFrame([(1, "a")], ["doc_id", "source"])
    with pytest.raises(ValueError):
        epoch_upsample(docs, {"a": 1e6}, stratum_col="source")


# ------------------------------------------------------------ gopher quality


def test_gopher_rules_fire_individually(spark):
    good = "the cat and dog ran to the old barn and sat for a while today " * 5
    rows = [
        (0, good),  # passes everything (70 words, stopwords, alpha)
        (1, "word " * 10),  # too few words
        (2, "#### " * 60),  # symbols + no alpha + no stopwords
        (3, ("the supercalifragilistic extraordinarily " * 30)),  # long words
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in gopher_quality(docs, min_words=50).collect()}
    assert out[0].passes
    assert not out[1].ok_word_count and not out[1].passes
    assert not out[2].ok_symbols and not out[2].ok_alpha and not out[2].passes
    assert not out[3].ok_word_len and not out[3].passes


def test_gopher_metrics_exact(spark):
    docs = spark.createDataFrame([(0, "the cat ... ran #fast")], ["doc_id", "text"])
    r = gopher_quality(docs, min_words=1).collect()[0]
    assert r.n_words == 5
    # words: the(3) cat(3) ...(3) ran(3) #fast(5) -> mean 17/5
    assert r.mean_word_len == round(17 / 5, 6)
    # one '#' + one '...' over 5 words
    assert r.symbol_ratio == round(2 / 5, 6)
    assert r.alpha_word_ratio == round(4 / 5, 6)
    assert r.stopword_hits == 1  # 'the'


# --------------------------------------------------------- shared substrings


def test_shared_substring_exact_run_length(spark):
    run = " ".join(f"r{i}" for i in range(12))  # 12-word verbatim run
    rows = [
        (0, "aa bb cc " + run + " dd ee ff"),
        (1, "xx yy " + run + " zz"),
        (2, "nothing in common with anything else at all here today friend"),
        # short overlap (6 words) stays below min_words=10
        (3, "aa bb cc " + " ".join(f"r{i}" for i in range(6)) + " qq ww"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {(r.doc_a, r.doc_b): r.max_shared_words for r in
           shared_substring_pairs(docs, seed_n=5, min_words=10).collect()}
    assert out == {(0, 1): 12}


def test_shared_substring_hot_seed_cap(spark):
    # the same 5-word phrase in every doc: with a tiny df cap the seed is
    # dropped as boilerplate and no pair is emitted
    boiler = "all rights reserved by corp"
    docs = spark.createDataFrame(
        [(i, f"doc {i} unique words here {boiler}") for i in range(20)],
        ["doc_id", "text"],
    )
    out = shared_substring_pairs(docs, seed_n=5, min_words=5, max_seed_df=10).collect()
    assert out == []


def test_shared_substring_winnow_bounds(spark):
    """Winnowed estimates are lower bounds within 2*(w-1) of the exact
    run length, and long runs are always detected."""
    runs = {0: 30, 1: 18, 2: 12}
    rows = []
    for doc, n in runs.items():
        body = " ".join(f"s{doc}w{i}" for i in range(6))
        shared = " ".join(f"r{i}" for i in range(n))
        rows += [(doc * 2, body + " " + shared), (doc * 2 + 1, shared + " " + body)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    W = 4
    exact = {(r.doc_a, r.doc_b): r.max_shared_words for r in
             shared_substring_pairs(docs, seed_n=5, min_words=8).collect()}
    win = {(r.doc_a, r.doc_b): r.max_shared_words for r in
           shared_substring_pairs(docs, seed_n=5, min_words=8, winnow_window=W).collect()}
    for pair, true_len in exact.items():
        assert pair in win  # all runs >= seed_n + W - 1 detected
        assert true_len - 2 * (W - 1) <= win[pair] <= true_len


def test_shared_substring_winnow_shrinks_seed_stream(spark):
    """The point of winnowing: far fewer exploded seeds join."""
    from name_match_ml_spark.operators.cleaning import _gram_hash

    docs = spark.createDataFrame(
        [(i, " ".join(f"d{i}w{j}" for j in range(80))) for i in range(10)],
        ["doc_id", "text"],
    )

    def seed_count(**kw):
        # count rows flowing into the self-join by reproducing the seeds
        # stage (the operator's first exchange input)
        from name_match_ml_spark.functions.text import split_words

        w = split_words(F.col("text"))
        hashed = (
            docs.select(F.col("doc_id"), w.alias("_w"))
            .filter(F.size("_w") >= 5)
            .select(
                "doc_id",
                F.transform(
                    F.sequence(F.lit(0), F.size("_w") - 5),
                    lambda i: _gram_hash(F.concat_ws(" ", F.slice(F.col("_w"), i + 1, 5)), "xxhash64"),
                ).alias("_h"),
            )
        )
        ww = kw.get("winnow_window")
        if ww is None:
            return hashed.select(F.posexplode("_h")).count()
        sel = F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size("_h") - ww, F.lit(0))),
                lambda j: (j + F.array_position(
                    F.slice(F.col("_h"), j + 1, ww),
                    F.array_min(F.slice(F.col("_h"), j + 1, ww)),
                ) - 1).cast("int"),
            )
        )
        return hashed.select(F.explode(sel)).count()

    full = seed_count()
    winnowed = seed_count(winnow_window=4)
    assert winnowed < full / 2  # ~w/2x fewer in expectation (2/(w+1) density)


def test_shared_substring_hash_fns_agree(spark):
    run = " ".join(f"t{i}" for i in range(15))
    docs = spark.createDataFrame(
        [(0, "lead in " + run), (1, run + " trail out"), (2, "different")],
        ["doc_id", "text"],
    )
    a = sorted(map(tuple, shared_substring_pairs(docs, hash_fn="xxhash64").collect()))
    b = sorted(map(tuple, shared_substring_pairs(docs, hash_fn="md5_60").collect()))
    assert a == b == [(0, 1, 15)]


# --------------------------------------------------------------- quantization


@pytest.fixture(scope="module")
def qemb(spark):
    rng = np.random.default_rng(11)
    rows = [(i, rng.normal(size=16).astype(np.float32).tolist()) for i in range(120)]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_quantize_codes_bounded_and_exact(qemb):
    out = quantize_embeddings(qemb).collect()
    assert len(out) == 120
    for r in out:
        assert r.scale > 0
        assert max(abs(c) for c in r.q) == 127  # max-abs component maps to ±127
        assert all(-127 <= c <= 127 for c in r.q)


def test_quantize_matches_numpy(qemb):
    rows = qemb.collect()
    got = {r.vec_id: (r.scale, r.q) for r in quantize_embeddings(qemb).collect()}
    for r in rows:
        v = np.asarray(r.embedding, dtype=np.float64)
        scale = max(np.abs(v).max(), 1e-30)
        q = np.floor(v / scale * 127.0 + 0.5).astype(int)
        assert got[r.vec_id][0] == pytest.approx(scale)
        assert list(got[r.vec_id][1]) == q.tolist()


def test_quantized_topk_recall_vs_exact(qemb):
    queries = qemb.filter(F.col("vec_id") % 10 == 0)
    exact = cosine_topk_exact(qemb, queries, k=5)
    quant = quantized_cosine_topk(qemb, queries, k=5)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    q = {(r.query_id, r.neighbor_id) for r in quant.collect()}
    assert len(q) == len(e)
    # int8 keeps cosine ordering to ~1e-2: demand 80%+ top-5 agreement
    assert len(e & q) / len(e) >= 0.8


# ------------------------------------------------------------- ordered_index


def test_ordered_index_is_exact_global_rank(spark):
    from name_match_ml_spark.operators.ordering import ordered_index

    rows = [(i, (i * 37) % 11 / 10.0) for i in range(500)]
    df = spark.createDataFrame(rows, ["id", "score"])
    out = ordered_index(
        df, [F.col("score").desc()], tiebreak="id", num_partitions=8
    ).collect()
    expected = sorted(rows, key=lambda r: (-r[1], r[0]))
    got = {r.id: r.global_index for r in out}
    for rank, (i, _) in enumerate(expected):
        assert got[i] == rank
    assert sorted(got.values()) == list(range(500))  # a permutation: total order


def test_ordered_index_survives_constant_key(spark):
    # heavy ties: every row has the same score — the unique tiebreak must
    # still split them across range partitions and yield 0..n-1
    from name_match_ml_spark.operators.ordering import ordered_index

    df = spark.range(1000).select(F.col("id"), F.lit(1.0).alias("score"))
    out = ordered_index(df, ["score"], tiebreak="id", num_partitions=8)
    got = [r.global_index for r in out.orderBy("id").collect()]
    assert got == list(range(1000))  # ties resolve by id


def test_ordered_index_plan_single_range_shuffle(spark):
    from name_match_ml_spark.operators.ordering import ordered_index

    df = spark.range(10000).select(
        F.col("id"), (F.col("id") % 7).cast("double").alias("score")
    )
    plan = ordered_index(df, ["score"], tiebreak="id")._jdf.queryExecution().toString()
    # The range shuffle runs once inside the eager checkpoint job (the
    # tagged table MUST materialize: its ids and sampled range boundaries
    # are not stable across recomputation over a shuffled upstream), so
    # the final plan reads the materialized RDD — no re-shuffle of the
    # data, offsets come back via broadcast.
    assert "Scan ExistingRDD" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    # the only empty-partition window runs over the n_partitions-row
    # offsets aggregate, not the data: no SortMergeJoin anywhere
    assert "SortMergeJoin" not in plan


# --------------------------------------------------------- sorted layout sink


def test_save_sorted_layout_prunes_and_sorts(spark, tmp_path):
    import os

    from name_match_ml_spark.sources.sinks import save_sorted_layout

    df = spark.createDataFrame(
        [(i, "en" if i % 3 else "fr", (i * 53) % 997) for i in range(3000)],
        ["doc_id", "lang", "quality"],
    )
    out = str(tmp_path / "layout")
    save_sorted_layout(
        df, out, partition_by=("lang",), sort_by=("quality",), max_records_per_file=800
    )
    # hive-style partition directories exist -> readers prune on lang
    assert sorted(d for d in os.listdir(out) if d.startswith("lang=")) == [
        "lang=en",
        "lang=fr",
    ]
    # file sizes bounded
    back = spark.read.parquet(out)
    assert back.count() == 3000
    for sub in ("lang=en", "lang=fr"):
        files = [f for f in os.listdir(os.path.join(out, sub)) if f.endswith(".parquet")]
        for f in files:
            pf = spark.read.parquet(os.path.join(out, sub, f))
            vals = [r.quality for r in pf.collect()]
            assert len(vals) <= 800
            assert vals == sorted(vals)  # zone-map-friendly: sorted within file
    # partition filter reaches the scan as partition pruning
    plan = back.filter(F.col("lang") == "fr")._jdf.queryExecution().executedPlan().toString()
    assert "lang=fr" in plan or "isnotnull(lang" in plan


def test_quantized_topk_no_self_matches(qemb):
    queries = qemb.filter(F.col("vec_id") % 10 == 0)
    out = quantized_cosine_topk(qemb, queries, k=3)
    assert out.filter(F.col("query_id") == F.col("neighbor_id")).count() == 0
    per_q = out.groupBy("query_id").count().collect()
    assert all(r["count"] == 3 for r in per_q)


# ------------------------------------------------------------ weighted sample


def test_weighted_sample_matches_bruteforce(spark):
    import math

    from name_match_ml_spark.operators.cleaning import weighted_sample

    rows = [(i, (i % 13) + 1) for i in range(300)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    out = weighted_sample(df, 40, weight_col="w", seed="t").collect()
    assert len(out) == 40

    def md5_60(s: str) -> int:
        import hashlib

        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def pr(i: int, w: int) -> float:
        u = (md5_60(f"t:{i}") + 1.0) / float((1 << 60) + 1)
        return round(math.log(u) / w, 6)

    expect = sorted(rows, key=lambda r: (-pr(*r), r[0]))[:40]
    assert sorted(r.doc_id for r in out) == sorted(i for i, _ in expect)
    # deterministic: same seed -> same sample; new seed -> (almost surely) different
    again = weighted_sample(df, 40, weight_col="w", seed="t").collect()
    assert sorted(r.doc_id for r in again) == sorted(r.doc_id for r in out)


def test_weighted_sample_prefers_heavy_weights(spark):
    from name_match_ml_spark.operators.cleaning import weighted_sample

    # half the docs weigh 100x more: they should dominate the sample
    df = spark.createDataFrame(
        [(i, 100 if i < 100 else 1) for i in range(200)], ["doc_id", "w"]
    )
    out = weighted_sample(df, 50, weight_col="w", seed="h").collect()
    heavy = sum(1 for r in out if r.doc_id < 100)
    assert heavy >= 45  # P(light doc beats heavy) ~ (u)^(1/100) tail


def test_weighted_sample_excludes_nonpositive_weights(spark):
    from name_match_ml_spark.operators.cleaning import weighted_sample

    df = spark.createDataFrame(
        [(0, -5), (1, 0), (2, 3), (3, 7), (4, 1)], ["doc_id", "w"]
    )
    out = weighted_sample(df, 10, weight_col="w", seed="np").collect()
    # zero/negative weights never sampled, even when k exceeds the rest
    assert sorted(r.doc_id for r in out) == [2, 3, 4]


def test_quantized_topk_empty_queries_schema(spark, qemb):
    from name_match_ml_spark.operators.simsearch import quantized_cosine_topk

    out = quantized_cosine_topk(qemb, qemb.filter(F.col("vec_id") < 0), k=3)
    assert out.columns == ["query_id", "neighbor_id", "qcos", "rank"]
    assert out.count() == 0


def test_weighted_sample_plan_is_topk_not_global_sort(spark):
    from name_match_ml_spark.operators.cleaning import weighted_sample

    df = spark.range(10000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7 + 1).alias("w")
    )
    plan = weighted_sample(df, 10, weight_col="w")._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # per-task heap, not a sort shuffle


# ----------------------------------------------------- novelty / corpus diff


def test_novelty_stats_exact(spark):
    from name_match_ml_spark.operators.cleaning import novelty_stats

    rows = [
        (0, "a b c d e"),            # grams: abc bcd cde
        (1, "a b c x y"),            # grams: abc bcx cxy -> shares abc with 0
        (2, "totally fresh words"),  # one gram, unique
        (3, "xy"),                   # < 3 words -> no grams
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in novelty_stats(docs, n=3).collect()}
    assert (out[0].n_grams, out[0].n_novel) == (3, 2)  # 'a b c' shared
    assert out[0].novelty == round(2 / 3, 6)
    assert (out[1].n_grams, out[1].n_novel) == (3, 2)
    assert (out[2].n_grams, out[2].n_novel, out[2].novelty) == (1, 1, 1.0)
    assert (out[3].n_grams, out[3].n_novel, out[3].novelty) == (0, 0, None)


def test_novelty_hash_fns_agree(spark):
    from name_match_ml_spark.operators.cleaning import novelty_stats

    docs = spark.createDataFrame(
        [(i, f"shared prefix words here tail{i} more{i}") for i in range(6)],
        ["doc_id", "text"],
    )
    a = sorted(map(tuple, novelty_stats(docs, hash_fn="xxhash64").collect()))
    b = sorted(map(tuple, novelty_stats(docs, hash_fn="md5_60").collect()))
    assert a == b


def test_corpus_diff_statuses(spark):
    from name_match_ml_spark.operators.cleaning import corpus_diff

    old = spark.createDataFrame(
        [(1, "same"), (2, "before"), (3, "gone")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [(1, "same"), (2, "after"), (4, "fresh")], ["doc_id", "text"]
    )
    out = {r.doc_id: r.status for r in corpus_diff(old, new).collect()}
    assert out == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


# ------------------------------------------------------------------ pagerank


def test_pagerank_matches_float_power_iteration(spark):
    """Fixed-point ranks track a float power iteration to ~1e-6 of
    total mass, and ordering agrees."""
    from name_match_ml_spark.operators.graph import pagerank

    edges = [(i, (i * 3 + 1) % 20) for i in range(20)] + [(i, 0) for i in range(1, 20, 2)]
    edges = [(a, b) for a, b in edges if a != b]
    e = spark.createDataFrame(edges, ["src", "dst"])
    got = dict(
        (r.id, r.rank) for r in pagerank(e, iterations=8, scale=10**12).collect()
    )

    import numpy as np

    nodes = sorted({x for p in edges for x in p})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    dedup = sorted(set(edges))
    out = {a: sum(1 for x, _ in dedup if x == a) for a, _ in dedup}
    r = np.full(n, 1.0 / n)
    for _ in range(8):
        nxt = np.full(n, 0.15 / n)
        for a, b in dedup:
            nxt[idx[b]] += 0.85 * r[idx[a]] / out[a]
        r = nxt
    for v in nodes:
        assert abs(got[v] / 10**12 - r[idx[v]]) < 1e-5
    order_fx = sorted(nodes, key=lambda v: (-got[v], v))
    order_fl = sorted(nodes, key=lambda v: (-r[idx[v]], v))
    assert order_fx == order_fl


def test_pagerank_deterministic_and_long_typed(spark):
    from name_match_ml_spark.operators.graph import pagerank

    e = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], ["src", "dst"])
    a = sorted(map(tuple, pagerank(e, iterations=4).collect()))
    b = sorted(map(tuple, pagerank(e, iterations=4).collect()))
    assert a == b  # integer arithmetic: no reduction-order wobble
    assert all(isinstance(rank, int) for _, rank in a)


# ------------------------------------------------------------------ totality


def test_round4_ops_total_on_null_and_empty_text(spark):
    """Null/empty text must flow through every round-4 text operator (a
    real corpus has both)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from name_match_ml_spark.operators.cleaning import novelty_stats

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    docs = spark.createDataFrame(
        [(0, None), (1, "a b c d e f g h i j k l"), (2, "")], schema
    )

    sd = {r.doc_id: r for r in span_dedup(docs, span_words=10).collect()}
    assert sd[0].n_spans == 0 and sd[0].text == ""
    assert sd[2].n_spans == 0 and sd[2].text == ""
    assert sd[1].n_spans == 2 and sd[1].n_kept == 2

    nv = {r.doc_id: r for r in novelty_stats(docs, n=3).collect()}
    assert (nv[0].n_grams, nv[0].novelty) == (0, None)
    assert (nv[2].n_grams, nv[2].novelty) == (0, None)
    assert nv[1].novelty == 1.0

    gq = {r.doc_id: r for r in gopher_quality(docs, min_words=1).collect()}
    assert len(gq) == 3 and not gq[0].passes and not gq[2].passes

    ss = shared_substring_pairs(docs, seed_n=5, min_words=5).collect()
    assert ss == []  # no shared runs; nulls don't crash the seed explode


# ------------------------------------------------- round-4 pipeline chaining


def test_round4_ops_chain_on_corpus(spark):
    """The round-4 operators compose with the existing hygiene flow on
    the sf0.01 corpus: rule gate -> span dedup -> upsample -> curriculum
    order, with the cross-stage invariants that make each safe."""
    from name_match_ml_spark.functions.text import gopher_quality
    from name_match_ml_spark.operators.ordering import ordered_index
    from name_match_ml_spark.sources.parquet import table

    docs = table(spark, "/root/testdata/sf0.01", "documents")
    n_docs = docs.count()

    # 1. rule gate (cheap, map-side) runs FIRST so later stages see less
    # (min_stopword_hits=1: the synthetic vocabulary has one stopword)
    gate = gopher_quality(docs, min_words=20, min_stopword_hits=1)
    stage1 = docs.join(gate.filter("passes").select("doc_id"), "doc_id")
    n1 = stage1.count()
    assert 0 < n1 <= n_docs

    # 2. global span dedup: total kept spans across the corpus must equal
    #    the number of DISTINCT spans the corpus contains (the operator's
    #    core contract), and no document gains spans
    sd = span_dedup(stage1, span_words=10)
    rows = stage1.select("doc_id", "text").collect()
    all_spans = []
    for r in rows:
        ws = [w for w in r.text.lower().split() if w]
        all_spans += [" ".join(ws[i : i + 10]) for i in range(0, len(ws), 10)]
    sd_rows = sd.collect()
    assert sum(r.n_kept for r in sd_rows) == len(set(all_spans))
    assert all(r.n_kept <= r.n_spans for r in sd_rows)

    # 3. epoch upsampling over the deduped corpus: every src0 doc appears
    #    2 or 3 times (2.5 epochs), everything else exactly once
    survivors = stage1.join(
        sd.filter("n_kept > 0").select("doc_id"), "doc_id"
    ).select("doc_id", "source", "n_chars")
    up = epoch_upsample(survivors, {"src0": 2.5}, stratum_col="source")
    per_doc = {r.doc_id: r.cnt for r in up.groupBy("doc_id").agg(F.count("*").alias("cnt")).collect()}
    src = {r.doc_id: r.source for r in survivors.collect()}
    for doc_id, cnt in per_doc.items():
        assert cnt in (2, 3) if src[doc_id] == "src0" else cnt == 1

    # 4. curriculum ordering by length: exact global permutation
    ordered = ordered_index(
        survivors, [F.col("n_chars").desc()], tiebreak="doc_id", num_partitions=4
    ).collect()
    expected = sorted(((r.n_chars, r.doc_id) for r in survivors.collect()),
                      key=lambda t: (-t[0], t[1]))
    got = {r.doc_id: r.global_index for r in ordered}
    assert [got[doc_id] for _, doc_id in expected] == list(range(len(expected)))
