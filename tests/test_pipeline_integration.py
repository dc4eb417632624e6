"""End-to-end training-data pipeline composition (SURVEY.md §2.10):
the cleaning operators are designed to CHAIN — this test runs the whole
pre-training hygiene flow on the sf0.01 corpus and asserts the global
invariants that make the pipeline safe, not just each stage in
isolation."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from name_match_ml_spark.operators import graph
from name_match_ml_spark.operators.cleaning import (
    decontaminate_ngrams,
    leak_safe_split,
    mixture_sample,
    repetition_stats,
    select_keepers,
)
from name_match_ml_spark.operators.dedup import ngram_jaccard_pairs
from name_match_ml_spark.operators.packing import pack_documents
from name_match_ml_spark.plans.staging import stage
from name_match_ml_spark.sources.parquet import table

SF = "/root/testdata/sf0.01"


@pytest.mark.slow
def test_training_data_pipeline_end_to_end(spark, monkeypatch):
    docs = table(spark, SF, "documents")
    n_docs = docs.count()

    # the cluster map must be resolved ONCE for the whole pipeline —
    # count every connected-components run to prove no consumer
    # re-derives it (the r3-verdict duplicated-CC cost)
    cc_calls = []
    real_cc = graph.connected_components

    def counted_cc(*args, **kwargs):
        cc_calls.append(1)
        return real_cc(*args, **kwargs)

    monkeypatch.setattr(graph, "connected_components", counted_cc)

    # 1. drop pathologically repetitive documents
    rep = repetition_stats(docs, n=2, max_ratio=0.1)
    kept_ids = rep.filter("keep").select("doc_id")
    stage1 = docs.join(kept_ids, "doc_id")

    # 2. remove benchmark leakage (synthetic eval slice: doc_id % 97 == 0)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = stage1.filter(F.col("doc_id") % 97 != 0)
    flags = decontaminate_ngrams(corpus, bench, n=4)
    stage2 = corpus.join(flags.filter("NOT contaminated").select("doc_id"), "doc_id")

    # 3. resolve near-dup clusters once, stage the map, share it between
    #    keeper selection and the leak-safe split
    pairs = ngram_jaccard_pairs(stage2, threshold=0.5, shingle_n=2)
    clusters = stage(graph.connected_components(pairs))
    keepers = select_keepers(stage2, clusters=clusters, quality_col="n_chars")
    split = leak_safe_split(stage2, clusters=clusters)
    train_ids = split.filter("split = 'train'").select("doc_id")
    stage3 = stage2.join(train_ids, "doc_id")

    # 4. rebalance the language mixture, then pack into training sequences
    stage4 = mixture_sample(stage3, {"en": 0.5}, seed="e2e")
    packed = pack_documents(stage4, budget=256, n_buckets=16)

    # ---- invariants ----
    n1, n2, n3, n4 = stage1.count(), stage2.count(), stage3.count(), stage4.count()
    assert n_docs >= n1 >= n2 >= n3 >= n4 > 0  # monotone filtering, nothing invented

    # no contaminated document survives stage 2
    leaked = stage2.join(
        flags.filter("contaminated").select("doc_id"), "doc_id"
    ).count()
    assert leaked == 0

    # the staged cluster map was resolved exactly once for both consumers
    assert cc_calls == [1]

    # keeper selection agrees with the shared cluster map: one keeper
    # per cluster, and it is the max-quality (min-id tiebreak) member
    krows = keepers.collect()
    by_cluster: dict[int, list] = {}
    for r in krows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for members in by_cluster.values():
        ks = [r for r in members if r.is_keeper]
        assert len(ks) == 1
        best = min(members, key=lambda r: (-r.quality, r.doc_id))
        assert ks[0].doc_id == best.doc_id

    # no near-dup pair straddles two splits (the whole point of the split)
    s = split.select(F.col("doc_id").alias("k"), "split")
    straddle = (
        pairs.join(s.withColumnRenamed("k", "doc_a").withColumnRenamed("split", "sa"), "doc_a")
        .join(s.withColumnRenamed("k", "doc_b").withColumnRenamed("split", "sb"), "doc_b")
        .filter("sa <> sb")
        .count()
    )
    assert straddle == 0

    # packing covers exactly the sampled training docs, within budget
    packed_rows = packed.collect()
    assert {r.doc_id for r in packed_rows} == {r.doc_id for r in stage4.select("doc_id").collect()}
    fills: dict[tuple, int] = {}
    singletons: dict[tuple, int] = {}
    for r in packed_rows:
        key = (r.bucket, r.pack_seq)
        fills[key] = fills.get(key, 0) + r.n_tokens
        singletons[key] = singletons.get(key, 0) + 1
    for key, total in fills.items():
        assert total <= 256 or singletons[key] == 1


@pytest.mark.slow
def test_near_dup_graph_staged_across_graph_consumers(spark, monkeypatch):
    """VERDICT r5 #1: the graph-quality family must be able to share ONE
    pair derivation.  near_dup_graph(docs) stages the pair job; every
    consumer's physical plan must then be a scan of the stored rows
    (Scan ExistingRDD) with NO re-derivation (no documents parquet scan,
    no shingle join below it), and the derivation itself must have been
    invoked exactly once."""
    from name_match_ml_spark.operators import dedup
    from name_match_ml_spark.operators.graph import (
        bfs_hops,
        k_core,
        near_dup_graph,
        triangles,
    )

    derivations = []
    real_pairs = dedup.ngram_jaccard_pairs

    def counted_pairs(*args, **kwargs):
        derivations.append(1)
        return real_pairs(*args, **kwargs)

    monkeypatch.setattr(dedup, "ngram_jaccard_pairs", counted_pairs)

    docs = table(spark, "/root/testdata/sf0.001", "documents")
    pairs, clusters = near_dup_graph(docs, with_components=True)

    tri = triangles(pairs)
    core = k_core(pairs, k=2)
    seeds = docs.filter(F.col("doc_id") % 100 == 0).select(F.col("doc_id").alias("id"))
    reach = bfs_hops(pairs, seeds, max_hops=3, src_col="doc_a", dst_col="doc_b", seed_col="id")
    deg = (
        pairs.select(F.col("doc_a").alias("id"))
        .unionAll(pairs.select(F.col("doc_b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )

    # one pair job across four graph consumers + the component map
    assert derivations == [1]

    # structural proof of single derivation: each consumer reads the
    # checkpointed pair rows, never the corpus
    for df in (tri, reach, deg, clusters):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Scan ExistingRDD" in plan
        assert "documents" not in plan

    # and the consumers still produce sane, consistent answers
    n_pairs = pairs.count()
    assert n_pairs > 0
    assert deg.agg(F.sum("deg")).first()[0] == 2 * n_pairs
    core_rows = core.collect()
    for r in core_rows:
        assert r["core_deg"] >= 2
    assert reach.filter("hops = 0").count() == seeds.count()
    assert clusters.count() == pairs.select(
        F.explode(F.array("doc_a", "doc_b")).alias("id")
    ).distinct().count()


def test_pipeline_pack_corpus_composition(spark):
    """Cross-stage invariants of the round-7 composed pipeline: packed
    docs are a subset of gate survivors minus the eval slice; no span
    exceeds the budget unless its doc is alone in the pack; fully
    emptied docs never reach the packer."""
    from pyspark.sql import functions as F

    from name_match_ml_spark.suite import SPARK_QUERIES, table

    sf = "/root/testdata/sf0.001"
    spans = SPARK_QUERIES["pipeline_pack_corpus"](spark, sf).cache()
    rows = spans.collect()
    assert rows
    d = table(spark, sf, "documents")
    packed_ids = {r["doc_id"] for r in rows}
    assert all(i % 97 != 0 for i in packed_ids)
    # every packed doc passed the gopher gate
    from name_match_ml_spark.functions.text import gopher_quality

    gate = {
        r["doc_id"]
        for r in gopher_quality(d, min_words=40, min_stopword_hits=1)
        .filter("passes")
        .select("doc_id")
        .collect()
    }
    assert packed_ids <= gate
    # spans tile their packs within the budget
    packs: dict[tuple, list] = {}
    for r in rows:
        packs.setdefault((r["bucket"], r["pack_seq"]), []).append(r)
    for members in packs.values():
        members.sort(key=lambda r: r["start_tok"])
        assert members[0]["start_tok"] == 0
        for a, b in zip(members, members[1:]):
            assert b["start_tok"] == a["end_tok"] + 1
        assert members[-1]["end_tok"] < 256 or len(members) == 1
        # no empty docs packed
        assert all(m["end_tok"] >= m["start_tok"] for m in members)
