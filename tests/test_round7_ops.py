"""Round-7 operator tests: blocklist gate, CCNet perplexity buckets,
and (added later this round) integer perceptron training.  The PQ ANN
tests live in test_pq.py."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def test_blocklist_severe_zero_tolerance(spark):
    """One severe-term hit blocks the doc regardless of density."""
    from name_match_ml_spark.functions.text import blocklist_filter

    docs = spark.createDataFrame(
        [
            (1, "clean text " * 50 + "dup"),      # 1 severe hit in 101 words
            (2, "clean text " * 50),               # no hits
            (3, "slow slow slow fast"),            # soft 3/4 = 750000 ppm
            (4, "slow " + "fast " * 99),           # soft 1/100 = 10000 ppm
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in blocklist_filter(docs).collect()}
    assert not got[1]["keep"] and not got[1]["ok_severe"] and got[1]["ok_soft"]
    assert got[2]["keep"] and got[2]["soft_hits"] == 0
    assert not got[3]["keep"] and got[3]["soft_ppm"] == 750000
    assert got[4]["keep"] and got[4]["soft_ppm"] == 10000


def test_blocklist_whole_token_not_substring(spark):
    """'duplicate' must NOT match severe term 'dup' (word-boundary rule)."""
    from name_match_ml_spark.functions.text import blocklist_filter

    docs = spark.createDataFrame(
        [(1, "duplicate rows are slowest bigger theory")],
        "doc_id long, text string",
    )
    r = blocklist_filter(docs).collect()[0]
    assert r["severe_hits"] == 0 and r["soft_hits"] == 0 and r["keep"]


def test_perplexity_buckets_match_plain_ntile(spark):
    """The one-shuffle ordered_index + closed-form NTILE arithmetic must
    equal the textbook ntile-window spelling row for row (including the
    n < k languages where some buckets are empty)."""
    from name_match_ml_spark.functions.text import (
        perplexity_buckets,
        unigram_logprob_scores,
    )
    from pyspark.sql import Window

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        # Force an n < k group: keep exactly 2 docs of one language.
        .filter(
            (F.col("lang") != "zh")
            | (F.col("doc_id").isin([r[0] for r in
                spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
                .filter(F.col("lang") == "zh").select("doc_id")
                .orderBy("doc_id").limit(2).collect()]))
        )
    )
    got = perplexity_buckets(docs).orderBy("doc_id").collect()

    scores = unigram_logprob_scores(docs)
    w = Window.partitionBy("lang").orderBy(F.desc("avg_logprob"), "doc_id")
    ref = (
        docs.select("doc_id", "lang")
        .join(scores, "doc_id")
        .withColumn("bucket", F.ntile(3).over(w))
        .orderBy("doc_id")
        .collect()
    )
    assert len(got) == len(ref) > 0
    for g, r in zip(got, ref):
        assert (g["doc_id"], g["bucket"]) == (r["doc_id"], r["bucket"])


def test_perplexity_buckets_sizes_and_order(spark):
    """Per language: bucket sizes differ by <=1, larger buckets first,
    and every head score >= every tail score."""
    from name_match_ml_spark.functions.text import perplexity_buckets

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = perplexity_buckets(docs).collect()
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    assert len(by_lang) >= 2
    for lang, rs in by_lang.items():
        sizes = {}
        for r in rs:
            sizes[r["bucket"]] = sizes.get(r["bucket"], 0) + 1
        counts = [sizes.get(b, 0) for b in sorted(sizes)]
        assert max(counts) - min(counts) <= 1
        assert counts == sorted(counts, reverse=True)  # larger buckets first
        heads = [r["avg_logprob"] for r in rs if r["bucket_label"] == "head"]
        tails = [r["avg_logprob"] for r in rs if r["bucket_label"] == "tail"]
        if heads and tails:
            assert min(heads) >= max(tails)


def test_boilerplate_spans_removes_all_occurrences(spark):
    """A span in > max_docs distinct docs vanishes from EVERY doc —
    including the first occurrence, unlike span_dedup's keep-first."""
    from name_match_ml_spark.operators.cleaning import boilerplate_spans, span_dedup

    chrome = "home about contact login"          # 4-word boilerplate span
    docs = spark.createDataFrame(
        [
            (1, chrome + " alpha beta gamma delta"),
            (2, chrome + " epsilon zeta eta theta"),
            (3, chrome + " iota kappa lambda mu"),
            (4, "nu xi omicron pi"),
            (5, ""),                               # zero-word doc
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in boilerplate_spans(docs, span_words=4, max_docs=2).collect()
    }
    assert len(got) == 5
    for d in (1, 2, 3):
        assert got[d]["n_boiler"] == 1
        assert chrome not in got[d]["text"]
    assert got[1]["text"] == "alpha beta gamma delta"
    assert got[4]["n_boiler"] == 0 and got[4]["text"] == "nu xi omicron pi"
    assert got[5]["n_spans"] == 0 and got[5]["text"] == ""
    # contrast: span_dedup KEEPS the first occurrence of the same span
    sd = {r["doc_id"]: r for r in span_dedup(docs, span_words=4).collect()}
    assert chrome in sd[1]["text"] and chrome not in sd[2]["text"]


def test_boilerplate_spans_threshold_boundary(spark):
    """Exactly max_docs distinct docs is NOT boilerplate (strict >);
    repeats inside one doc don't count toward the doc threshold."""
    from name_match_ml_spark.operators.cleaning import boilerplate_spans

    s = "aa bb"
    docs = spark.createDataFrame(
        [(1, s + " " + s + " " + s), (2, s), (3, "cc dd")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in boilerplate_spans(docs, span_words=2, max_docs=2).collect()
    }
    # span s occurs in only 2 distinct docs (3 times in doc 1) -> kept
    assert got[1]["n_boiler"] == 0 and got[1]["n_spans"] == 3
    assert got[2]["n_boiler"] == 0


def test_cluster_balanced_sample_budgets(spark):
    """Per-cluster budget respected; selection = the n_per closest to
    the centroid; output is a subset of grid_kmeans assignments."""
    from name_match_ml_spark.operators.clustering import (
        cluster_balanced_sample,
        grid_kmeans,
    )

    # 3 tight clusters of 5/4/3 vectors around distinct corners
    base = {0: [100.0, 0.0, 0.0], 1: [0.0, 100.0, 0.0], 2: [0.0, 0.0, 100.0]}
    rows = []
    vid = 0
    for c, n in [(0, 5), (1, 4), (2, 3)]:
        for i in range(n):
            v = list(base[c])
            v[c] += i  # increasing distance from the cluster core
            rows.append((vid, v))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    sel = cluster_balanced_sample(emb, k=3, n_per=2).collect()
    by_cluster: dict[int, list] = {}
    for r in sel:
        by_cluster.setdefault(r["cluster"], []).append(r)
    assert all(len(v) == 2 for v in by_cluster.values()) and len(by_cluster) == 3
    for members in by_cluster.values():
        assert sorted(m["sel_rank"] for m in members) == [1, 2]
        assert all(m["dist_grid"] >= 0 for m in members)
    asg = {(r["vec_id"], r["cluster"]) for r in grid_kmeans(emb, k=3).collect()}
    assert {(r["vec_id"], r["cluster"]) for r in sel} <= asg


def test_cluster_balanced_sample_n_per_validation(spark):
    from name_match_ml_spark.operators.clustering import cluster_balanced_sample
    import pytest

    emb = spark.createDataFrame([(0, [1.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError):
        cluster_balanced_sample(emb, k=1, n_per=0)
