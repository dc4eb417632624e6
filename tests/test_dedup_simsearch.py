"""Dedup + similarity-search operator tests (SURVEY.md §2.10 [EXT]):
brute-force oracles on small data, recall gates for the approximate paths."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from name_match_ml_spark.operators.dedup import (
    embedding_near_dup,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from name_match_ml_spark.operators.simsearch import cosine_topk_exact, lsh_cosine_topk

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    base = ["spark sql window join group sort merge " + " ".join(f"w{i}" for i in range(k, k + 8)) for k in range(12)]
    rows = [(i, t) for i, t in enumerate(base)]
    # exact duplicates
    rows += [(100 + i, base[i]) for i in range(3)]
    # near duplicates: one word changed
    rows += [(200 + i, base[i].replace("sql", "hive")) for i in range(3)]
    # unrelated
    rows += [(300, "completely different content about cats and dogs only")]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _word_jaccard(a: str, b: str) -> float:
    sa, sb = set(a.lower().split()), set(b.lower().split())
    return len(sa & sb) / len(sa | sb)


def test_exact_dedup_groups(docs):
    out = {r.content_hash: r for r in exact_dedup(docs).collect()}
    copies = sorted(r.copies for r in out.values())
    assert copies.count(2) == 3  # three duplicated texts
    total = sum(r.copies for r in out.values())
    assert total == docs.count()
    # keeper is the min doc_id of each group
    for r in out.values():
        if r.copies == 2:
            assert r.keeper_doc_id < 100


def _shingle_set(t: str, n: int) -> set[str]:
    w = t.lower().split()
    if len(w) < n:
        return set(w)
    return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}


def _shingle_jaccard(a: str, b: str, n: int) -> float:
    sa, sb = _shingle_set(a, n), _shingle_set(b, n)
    return len(sa & sb) / len(sa | sb)


@pytest.fixture(scope="module")
def dense_docs(spark):
    """Five-word vocabulary, so the mean bigram df is far over 16 (the sf
    corpora read 28-276).  Holds pairs at Jaccard exactly 0.5: bigrams
    {ab, bc, cd} vs {ab, bc, ce}, and {ab, bc} inside {ab, bc, cd, de},
    where the length prefilter ``min ≥ t·max`` holds with equality."""
    rng = np.random.default_rng(7)
    texts = ["a b c d", "a b c e", "a b c", "a b c d e"]
    texts += [" ".join(rng.choice(list("abcde"), size=rng.integers(3, 10))) for _ in range(120)]
    return spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])


@pytest.mark.parametrize(
    "corpus,n,threshold",
    [
        pytest.param("docs", 1, 0.6, id="1-0.6"),
        pytest.param("docs", 2, 0.5, id="2-0.5"),
        pytest.param("dense_docs", 2, 0.5, id="dense-2-0.5"),
    ],
)
def test_ngram_jaccard_matches_bruteforce(request, corpus, n, threshold):
    docs = request.getfixturevalue(corpus)
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=threshold, shingle_n=n).collect()
    }
    rows = {r.doc_id: r.text for r in docs.collect()}
    want = {}
    for a in rows:
        for b in rows:
            if a < b:
                j = _shingle_jaccard(rows[a], rows[b], n)
                if j >= threshold:
                    want[(a, b)] = j
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-12)
    if corpus == "dense_docs":
        assert want[(0, 1)] == want[(2, 3)] == threshold
        df = Counter(g for t in rows.values() for g in _shingle_set(t, n))
        assert sum(df.values()) / len(df) >= 16


def test_minhash_lsh_finds_high_jaccard_pairs(docs):
    got = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(docs, threshold=0.5).collect()}
    # every exact-duplicate pair must collide (identical signatures)
    for i in range(3):
        assert (i, 100 + i) in got
    # near-dup (1 word of ~15 changed → J ≈ 0.87) should be caught too
    caught_near = sum((i, 200 + i) in got for i in range(3))
    assert caught_near >= 2
    # verification step: every reported pair really clears the threshold
    rows = {r.doc_id: r.text for r in docs.collect()}
    for a, b in got:
        assert _word_jaccard(rows[a], rows[b]) >= 0.3  # shingle-J ≤ word-J slack


def test_simhash_identical_and_near(docs):
    got = {(r.doc_a, r.doc_b): r.hamming for r in simhash_pairs(docs, max_hamming=16).collect()}
    for i in range(3):
        assert got.get((i, 100 + i)) == 0  # identical text → identical fingerprint
    assert (0, 300) not in got  # unrelated text far away


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_cosine_topk_matches_numpy(emb):
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    got = {}
    for r in cosine_topk_exact(emb, queries, k=3).collect():
        got.setdefault(r.query_id, []).append((r.rank, r.neighbor_id, r.cosine))
    for qid in [v for v in vecs if v % 50 == 0]:
        q = vecs[qid]
        sims = []
        for nid, v in vecs.items():
            if nid == qid:
                continue
            c = float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v)))
            sims.append((round(c, 6), nid))
        sims.sort(key=lambda t: (-t[0], t[1]))
        want = [(i + 1, nid, c) for i, (c, nid) in enumerate(sims[:3])]
        assert sorted(got[qid]) == want, qid


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"])
@pytest.mark.slow
def test_lsh_topk_recall(spark, sf_dir):
    # Adaptive nbits must hold the recall gate as the corpus grows
    # (random weakly-separated embeddings are the worst case for
    # hyperplane LSH — clustered corpora only do better).
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    exact = cosine_topk_exact(emb, queries, k=5)
    approx = lsh_cosine_topk(emb, queries, k=5)
    exact_pairs = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx_pairs = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.5, f"LSH recall {recall:.2f} too low at {sf_dir}"


def _near_dup_bruteforce(sub, threshold):
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in sub.collect()}
    want = {}
    for a in vecs:
        for b in vecs:
            if a < b:
                c = round(float(vecs[a] @ vecs[b] / (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[b]))), 6)
                if c >= threshold:
                    want[(a, b)] = c
    return want


@pytest.mark.parametrize("n_chunks", [None, 1, 4, 7])
def test_embedding_near_dup_symmetric_bruteforce(emb, n_chunks):
    sub = emb.filter(F.col("vec_id") < 120)
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dup(sub, threshold=0.3, n_chunks=n_chunks).collect()
    }
    want = _near_dup_bruteforce(sub, 0.3)
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=2e-6)


def test_embedding_near_dup_plan_has_no_cartesian(emb):
    df = embedding_near_dup(emb, threshold=0.5, n_chunks=8)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapGroupsInPandas" in plan  # blocked GEMM path is in the plan


def test_cosine_topk_plan_has_no_cartesian(emb):
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    df = cosine_topk_exact(emb, queries, k=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" in plan  # GEMM scorer path


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_ivf_topk_recall(spark, sf_dir):
    # IVF cells adapt to corpus density; with nprobe cells per query the
    # gate must hold even on weakly-clustered random embeddings.  Also
    # pin the contract shape: k rows per query, rank 1..k, cosine desc.
    from name_match_ml_spark.operators.simsearch import ivf_cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    exact = cosine_topk_exact(emb, queries, k=5)
    approx = ivf_cosine_topk(emb, queries, k=5, nprobe=6)
    exact_pairs = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    rows = approx.collect()
    approx_pairs = {(r.query_id, r.neighbor_id) for r in rows}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.5, f"IVF recall {recall:.2f} too low at {sf_dir}"
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
    for q, rs in per_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1)), q
        cosines = [r.cosine for r in rs]
        assert cosines == sorted(cosines, reverse=True), q
        assert all(r.neighbor_id != q for r in rs)


def test_connected_components_topologies(spark):
    # chain 1-2-3-4 (diameter > 1 forces multi-round propagation),
    # triangle 10-11-12, isolated pair (20, 21)
    from name_match_ml_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        ["doc_a", "doc_b"],
    )
    got = {r.id: r.cluster_id for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_empty(spark):
    from name_match_ml_spark.operators.graph import connected_components

    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components(empty).count() == 0


def test_simhash_md5_matches_python_oracle(docs):
    """The md5_60 variant (the oracle-checkable declared query) must give
    exactly the Hamming distances a pure-Python simhash computes — full
    differential over fingerprinting, banding and verification."""
    import hashlib
    import re

    def fingerprint(text: str) -> int:
        words = []
        for w in re.split(r"\s+", text.lower()):
            if w and w not in words:
                words.append(w)
        hs = [int(hashlib.md5(w.encode()).hexdigest()[:15], 16) for w in words]
        fp = 0
        for b in range(60):
            if sum((h >> b) & 1 for h in hs) * 2 > len(hs):
                fp |= 1 << b
        return fp

    rows = {r.doc_id: r.text for r in docs.collect()}
    fps = {i: fingerprint(t) for i, t in rows.items()}
    # max_hamming=16 -> every pair within 16 agrees on one of 17 bands
    # of floor(60/17)=3 bits ... pigeonhole still holds; use 3 so band
    # geometry matches the declared query
    want = {
        (a, b): bin(fps[a] ^ fps[b]).count("1")
        for a in rows
        for b in rows
        if a < b and bin(fps[a] ^ fps[b]).count("1") <= 3
    }
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_pairs(docs, max_hamming=3, hash_fn="md5_60").collect()
    }
    assert got == want


@pytest.mark.parametrize("algorithm", ["label", "star", "auto"])
def test_connected_components_self_loop_nodes(spark, algorithm):
    """A node appearing ONLY in self-loop pairs must get an (id, id) row
    under every algorithm — the star phases drop a==b edges, so the node
    set must be joined back (ADVICE r3)."""
    from name_match_ml_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [(5, 5), (1, 2), (7, 7), (2, 2)], ["doc_a", "doc_b"]
    )
    got = {
        r.id: r.cluster_id
        for r in connected_components(pairs, algorithm=algorithm).collect()
    }
    assert got == {1: 1, 2: 1, 5: 5, 7: 7}
