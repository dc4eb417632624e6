"""Deduplication operators for large-scale training-data pipelines [EXT].

Not present in the reference (SURVEY.md §2.10) — these generalize its one
similarity-join archetype (``main.py:163-170``) to corpus-level dedup, per
the north-star scope in ``BASELINE.json``.  All candidate generation is
blocked/bucketed so no operator materializes the O(N²) pair space:

* :func:`exact_dedup`          — content-hash groupBy (one shuffle).
* :func:`ngram_jaccard_pairs`  — exact shingle-Jaccard ≥ t via a fused
  count-join (one shuffle aggregation, no per-pair array work).
* :func:`minhash_lsh_pairs`    — MinHash signatures + LSH band buckets,
  verified with exact Jaccard (the classic shingle→minhash→band→bucket-join
  pipeline, all native expressions; only pairs sharing a band collide).
* :func:`simhash_pairs`        — 64-bit SimHash fingerprints, Hamming ≤ r
  via band buckets + native ``bit_count(xor)`` verification.
* :func:`embedding_near_dup`   — cosine ≥ t pairs over an embedding column
  via a chunk-pair equi-join + one numpy GEMM per chunk pair (exact, no
  cartesian-product node, work split into balanced block tasks).

Scale notes: every operator shuffles by a bucketing key (hash prefix, band
signature, length band) sized so buckets stay small under skew; AQE
skew-join handles hot buckets.  Verification cost is O(candidates), not
O(N²).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from ..functions.text import md5_60, split_words
from ..plans.staging import stage

__all__ = [
    "exact_dedup",
    "ngram_jaccard_pairs",
    "ngram_containment_pairs",
    "minhash_containment_pairs",
    "minhash_lsh_pairs",
    "minhash_estimate_audit",
    "simhash_pairs",
    "shared_substring_pairs",
    "embedding_near_dup",
]


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by content hash; keeper = min id.

    One hash-partitioned aggregate — at 100 TB this is the cheapest dedup
    pass and the standard first stage before any near-dup method."""
    return docs.groupBy(F.md5(F.col(text_col)).alias("content_hash")).agg(
        F.min(id_col).alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("copies"),
    )


def _word_set(text_col: str) -> Column:
    return F.array_distinct(split_words(F.col(text_col)))


def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    shingle_n: int = 2,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """ALL pairs with word-``shingle_n``-gram-shingle Jaccard ≥ ``threshold``
    — exact and lossless (requires ``threshold > 0``), via one fused
    count-join: explode distinct shingle hashes, narrow self-equi-join on
    the hash, and ``groupBy(pair).count()`` *is* |A∩B| (map-side partial
    aggregation collapses the join output before the wire).  Before the
    aggregate, the PPJoin length filter ``min(n_a,n_b) ≥ t·max(n_a,n_b)``
    drops pairs that cannot reach ``t`` (|A∩B| ≤ min ⇒ J ≤ min/max).  The
    score is integer arithmetic, ``inter / (n_a + n_b − inter)``.  Work is
    Σ_s df(s)² join rows, every row three longs through whole-stage
    codegen; the call builds the plan and stages the shingle table, and
    runs no other job.

    Prefix filtering (AllPairs/PPJoin) pays only where rare shingles
    prune; the sf0.001-sf0.1 documents corpora have dense vocabularies
    (mean shingle df 28-276) where it does not, so there is one plan.

    The shingle table is staged once (:func:`..plans.staging.stage`) —
    it feeds both join sides, and re-deriving it per consumer re-runs
    the higher-order shingling per pass (measured ~10× on sf0.1; see
    staging.py).

    Scale properties (100 TB): shuffles carry only longs —
    ``(doc_id, n, hash)`` streams and id pairs; hot shingles are split
    by AQE skew-join; 64-bit ``xxhash64`` shingle hashing makes
    cross-doc collisions ~2⁻⁶⁴ per pair.  At extreme scale the standard
    *approximate* knob is ``max_shingle_df``: shingles whose document
    frequency exceeds the cap (boilerplate n-grams — the Σdf² pair
    bombs) are dropped from every doc's shingle SET before the join,
    and sizes are recomputed over the surviving shingles, so the
    result is exact Jaccard over the capped universe (the same move
    :mod:`..plans.blocking` makes on hot join keys).  Default ``None``
    keeps this operator the oracle-exact baseline
    (``minhash_lsh_pairs`` is the sketch-based path).
    """
    base = _staged_shingle_hashes(docs, text_col, id_col, shingle_n)
    base = stage(_cap_shingle_df(base, max_shingle_df))
    tok = base.select("doc_id", F.size("sh").alias("n"), F.explode("sh").alias("h"))
    a = tok.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"), "h")
    b = tok.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"), "h")
    return (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(
            F.least(F.col("n_a"), F.col("n_b"))
            >= threshold * F.greatest(F.col("n_a"), F.col("n_b"))
        )
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("inter"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


_BITMAP_MAX_VOCAB = 16384  # vocabulary cap of the containment bitmap plan
_BITMAP_CHUNK_ROWS = 1024  # best of {512, 1024, 2048, 4096} on local[32]
# One shuffled+aggregated countjoin row buys ~this many indicator-GEMM
# flops (measured, see ngram_containment_pairs auto): used to compare
# O(N²·V) bitmap flops against O(Σdf²) countjoin rows.
_BITMAP_FLOPS_PER_ROW = 500


def _chunk_pair_blocks(base: DataFrame, id_col: str, c: int) -> DataFrame:
    """Rows of ``base`` replicated to the blocks of the chunk-pair table.

    ``id_col`` hashes each row into one of ``c`` chunks; every chunk pair
    ``ca <= cb`` is one block, numbered ``pid = ca * c + cb``.  A row
    reaches each block of its chunk as side ``"a"`` (via ``ca``) and each
    off-diagonal block as side ``"b"`` (via ``cb``), through broadcast
    equi-joins against the pair table (no cartesian-product node).  The
    result carries ``pid``, the columns of ``base`` and ``side``; diagonal
    blocks hold side ``"a"`` only."""
    chunked = base.withColumn("chunk", F.pmod(F.xxhash64(id_col), F.lit(c)).cast("int"))
    pairs = base.sparkSession.createDataFrame(
        [(a, b, a * c + b) for a in range(c) for b in range(a, c)],
        "ca int, cb int, pid int",
    )
    side_a = chunked.join(F.broadcast(pairs), chunked["chunk"] == pairs["ca"]).select(
        "pid", *base.columns, F.lit("a").alias("side")
    )
    side_b = chunked.join(
        F.broadcast(pairs), (chunked["chunk"] == pairs["cb"]) & (pairs["ca"] != pairs["cb"])
    ).select("pid", *base.columns, F.lit("b").alias("side"))
    return side_a.unionByName(side_b)


def _bitmap_set_pairs(base: DataFrame, threshold: float, n_docs: int | None = None) -> DataFrame:
    """Exact max-directional-containment ``|A∩B| / min(|A|,|B|)`` pairs
    ≥ t via blocked indicator-matrix products (the ``"bitmap"`` strategy
    of :func:`ngram_containment_pairs`; the chunk-pair blocks of
    :func:`_chunk_pair_blocks`, like :func:`embedding_near_dup`).
    Containment's countjoin alternative has NO sound length prune (a tiny
    doc may be fully contained in a huge one), so it pays the full
    Σdf(s)² join fan-out; on a small dense vocabulary one GEMM per block
    is cheaper.

    Eager at plan build: one bounded collect of the distinct shingles (V
    ≤ ``_BITMAP_MAX_VOCAB`` longs — broadcast like a hash-join build
    side), and a count for chunk sizing unless the caller passes
    ``n_docs``.  Each block task reconstructs its rows' indicator matrices
    with one vectorized ``searchsorted`` against the broadcast vocabulary
    and computes |A∩B| for every pair in the block with one float32 GEMM;
    the score is then exact integer arithmetic in float64 — bit-identical
    to the countjoin plan's ``inter/least(n_a,n_b)``.

    The in-kernel prefilter keeps a 1e-6 slack under ``threshold`` so the
    caller, which rounds to 6 dp before filtering, makes the boundary call
    on the rounded value, identically to its countjoin plan."""
    distinct_h = base.select(F.explode("sh").alias("h")).distinct()
    # Bounded: a caller forcing strategy="bitmap" on a wide-vocab corpus
    # gets this error, not a driver OOM from an unbounded collect+broadcast.
    found = distinct_h.limit(_BITMAP_MAX_VOCAB + 1).collect()
    if len(found) > _BITMAP_MAX_VOCAB:
        raise ValueError(
            f"bitmap strategy requires a distinct-shingle vocabulary of at most "
            f"{_BITMAP_MAX_VOCAB} (got more): the vocabulary is collected "
            f"to the driver and broadcast. Use strategy='auto' (picks a shuffle "
            f"plan for wide vocabularies) or raise max_shingle_df pruning."
        )
    vocab = np.sort(np.array([r[0] for r in found], dtype=np.int64))
    bc_vocab = base.sparkSession.sparkContext.broadcast(vocab)
    if n_docs is None:
        n_docs = base.count()
    c = max(1, -(-n_docs // _BITMAP_CHUNK_ROWS))

    def indicator(rows: pd.Series, voc: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        lens = np.array([len(x) for x in rows], dtype=np.int64)
        flat = np.concatenate([np.asarray(x, dtype=np.int64) for x in rows]) if len(rows) else np.empty(0, np.int64)
        m = np.zeros((len(rows), len(voc)), dtype=np.float32)
        m[np.repeat(np.arange(len(rows)), lens), np.searchsorted(voc, flat)] = 1.0
        return m, lens

    def score_block(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        voc = bc_vocab.value
        pid = int(key[0])
        diagonal = (pid // c) == (pid % c)
        a = pdf[pdf["side"] == "a"]
        b = a if diagonal else pdf[pdf["side"] == "b"]
        if not len(a) or not len(b):
            return pd.DataFrame({"doc_a": [], "doc_b": [], "containment": []}).astype(
                {"doc_a": "int64", "doc_b": "int64", "containment": "float64"}
            )
        ida = a["doc_id"].to_numpy(dtype=np.int64)
        idb = b["doc_id"].to_numpy(dtype=np.int64)
        A, na = indicator(a["sh"], voc)
        B, nb = (A, na) if diagonal else indicator(b["sh"], voc)
        inter = A @ B.T  # exact set-intersection counts in float32
        denom = np.minimum(na[:, None], nb[None, :]).astype(np.float32)
        with np.errstate(invalid="ignore", divide="ignore"):
            J = inter.astype(np.float64) / denom
        i, j = np.nonzero(J >= threshold - 1e-6)
        keep = ida[i] < idb[j] if diagonal else ida[i] != idb[j]
        i, j = i[keep], j[keep]
        lo = np.minimum(ida[i], idb[j])
        hi = np.maximum(ida[i], idb[j])
        return pd.DataFrame({"doc_a": lo, "doc_b": hi, "containment": J[i, j]})

    out_schema = StructType(
        [
            StructField("doc_a", LongType()),
            StructField("doc_b", LongType()),
            StructField("containment", DoubleType()),
        ]
    )
    blocks = _chunk_pair_blocks(base, "doc_id", c)
    return blocks.groupBy("pid").applyInPandas(score_block, out_schema)


def _shingles(words: Column, n: int = 2) -> Column:
    """Word n-gram shingles (falls back to single words for short docs).

    ``words`` MUST be a materialized column (attribute), not an inline
    expression: higher-order functions run outside whole-stage codegen and
    re-evaluate inline argument subtrees once per array element — an
    inline ``split()`` here turns O(len) shingling into O(len²) work
    (measured 20× on the driver corpus).  Use
    :func:`_staged_shingle_hashes`, which stages each step as its own
    projection."""
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", *[F.get(words, i + j) for j in range(n)]),
    )
    return F.array_distinct(F.when(F.size(words) >= n, grams).otherwise(words))


def _staged_shingle_hashes(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """``(doc_id, sh: array<long>)`` — distinct 64-bit shingle hashes per
    doc, with words → shingles → hashes each materialized as its own
    projection so no higher-order function receives an inline subtree
    (see :func:`_shingles`).  Hashing to longs up front keeps every
    downstream shuffle/compare narrow.  ``hash_fn`` follows the
    convention of :func:`simhash_pairs`: ``"xxhash64"`` (default, fast
    JVM hash) or ``"md5_60"`` (oracle-replayable in any engine with md5)."""
    from .cleaning import _gram_hash

    # The empty-doc filter runs against the cheap words stage, NOT the
    # final shingle column (equivalent: shingles are empty iff words are):
    # a filter on `sh` would be predicate-pushed below the projections,
    # substituting the whole shingle expression tree into the condition —
    # whose HOF lambdas then re-evaluate their inline input per element
    # (measured 25× on this stage).
    return (
        docs.select(F.col(id_col).alias("doc_id"), split_words(F.col(text_col)).alias("_w"))
        .filter(F.size("_w") > 0)
        .select("doc_id", _shingles(F.col("_w"), shingle_n).alias("_sh"))
        .select("doc_id", F.transform("_sh", lambda s: _gram_hash(s, hash_fn)).alias("sh"))
    )


def _cap_shingle_df(base: DataFrame, max_shingle_df: int | None) -> DataFrame:
    """Drop stop-shingles with document frequency above ``max_shingle_df``
    from every doc's shingle set (``None`` = no-op).  A shingle with df=d
    feeds d² rows into every pair-counting join — boilerplate n-grams
    ("terms of service", markup fragments) are the pair bombs at corpus
    scale, and capping them is the standard approximate knob (the
    set-universe restriction; sizes are recomputed so downstream scores
    are exact over the capped universe).  Docs whose shingles are ALL
    stop-shingles drop out entirely — they carry no discriminative
    content.  The df table is NOT broadcast (it grows with the corpus);
    the left-semi join on the 64-bit hash is narrow and AQE broadcasts
    it when genuinely small."""
    if max_shingle_df is None:
        return base
    tok = base.select("doc_id", F.explode("sh").alias("h"))
    keep = (
        tok.groupBy("h")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= max_shingle_df)
        .select("h")
    )
    return (
        tok.join(keep, "h", "left_semi")
        .groupBy("doc_id")
        # sort_array: collect_list order is nondeterministic; every current
        # consumer (size/explode/searchsorted) is order-insensitive, but the
        # module convention is bit-replayable columns, so pin the order.
        .agg(F.sort_array(F.collect_list("h")).alias("sh"))
    )


def band_signatures(base: DataFrame, *, num_perm: int, bands: int) -> DataFrame:
    """``(doc_id, band, band_sig)`` MinHash LSH band signatures of a
    staged shingle table (``(doc_id, sh)``): ``num_perm`` MinHash values
    (``array_min`` over seeded ``xxhash64``), grouped into ``bands``
    band hashes.  Band signatures consume each permutation's min exactly
    once, so the plan never materializes (or worse, re-evaluates) a
    num_perm-wide signature array.  Shared by within-corpus pair mining
    (:func:`minhash_lsh_pairs`) and cross-corpus probes
    (:func:`..cleaning.fuzzy_decontaminate` — same seeds on both sides
    make signatures comparable across tables)."""
    if num_perm % bands:
        raise ValueError("num_perm must be divisible by bands")
    rows_per_band = num_perm // bands

    def _minhash(p: int):
        return F.array_min(F.transform(F.col("sh"), lambda s: F.xxhash64(F.lit(p), s)))

    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[_minhash(b * rows_per_band + r) for r in range(rows_per_band)]
                ).alias("band_sig"),
            )
            for b in range(bands)
        ]
    )
    return base.select("doc_id", F.explode(band_structs).alias("bs")).select(
        "doc_id", "bs.band", "bs.band_sig"
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    shingle_n: int = 2,
) -> DataFrame:
    """MinHash + LSH near-dup pairs, verified with exact shingle Jaccard.

    Pipeline (all native Catalyst expressions, no Python):
    shingle hashes (staged projections, see :func:`_staged_shingle_hashes`)
    → ``num_perm`` MinHash values (``array_min`` over seeded ``xxhash64``,
    each permutation's expression appearing exactly once in the plan) →
    ``bands`` band signatures → explode → **narrow** self-join per
    (band, signature) bucket carrying only ids → pair dedup → re-attach
    the shingle arrays to the surviving candidates for exact-Jaccard
    verification.  With r = num_perm/bands rows per band, collision
    probability is 1-(1-J^r)^bands — the standard S-curve; pairs far
    below ``threshold`` almost never collide, so verification work tracks
    the true duplicate count, not N².

    Scale notes: the band join shuffles three longs per (doc, band) — no
    text, no arrays; the verification joins move arrays only for the
    (few) deduped candidates, and AQE broadcasts the candidate side when
    it is small.
    """
    # The shingle table feeds banding + both verification sides — stage
    # it once (see plans/staging.py).
    base = stage(_staged_shingle_hashes(docs, text_col, id_col, shingle_n))

    banded = band_signatures(base, num_perm=num_perm, bands=bands)

    a = banded.select("band", "band_sig", F.col("doc_id").alias("doc_a"))
    b = banded.select("band", "band_sig", F.col("doc_id").alias("doc_b"))
    cand = (
        a.join(b, ["band", "band_sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )

    sh_a = base.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sh_b = base.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    return (
        cand.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).alias("inter"),
            (F.size(F.col("sh_a")) + F.size(F.col("sh_b"))).alias("sz"),
        )
        .select(
            "doc_a",
            "doc_b",
            (F.col("inter").cast("double") / (F.col("sz") - F.col("inter"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_pairs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance ≤ ``max_hamming``.

    Candidate generation: split the fingerprint into ``max_hamming + 1``
    equal bands — any pair within Hamming r must agree exactly on ≥ 1 band
    (pigeonhole), so a per-band equi-join finds all of them; verification
    is native ``bit_count(a XOR b)``.

    ``hash_fn``: word-hash function feeding the bit-majority vote.
    ``"xxhash64"`` (default) is the scale choice — one codegen'd
    non-cryptographic hash, 64 fingerprint bits.  ``"md5_60"`` takes the
    top 15 hex chars of ``md5(word)`` as a 60-bit hash — slower per word,
    but DuckDB computes the identical value, which makes the whole
    operator (majority bits → banding → pigeonhole join → Hamming verify)
    hash-checkable against a SQL oracle with no staged intermediate.
    Same algebra either way; only the word hash differs.
    """
    if hash_fn == "xxhash64":
        total_bits = 64
        word_hash = F.xxhash64("_t")
    elif hash_fn == "md5_60":
        total_bits = 60
        # 15 hex chars = 60 bits < 63, so the ANSI cast can't overflow
        word_hash = md5_60(F.col("_t"))
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    n_bands = max_hamming + 1
    band_bits = total_bits // n_bands
    # Fingerprint via explode + one hash aggregate (one conditional bit
    # sum per fingerprint bit per doc) instead of interpreted HOF array
    # passes: the sums run inside whole-stage codegen, and map-side partial
    # aggregation collapses each doc to one row of bit sums before the
    # shuffle, so the exchange carries ~one narrow row per doc.
    wh = docs.select(F.col(id_col).alias("doc_id"), F.explode(_word_set(text_col)).alias("_t")).select(
        "doc_id", word_hash.alias("h")
    )
    bit_sums = [
        F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))).alias(f"_b{b}")
        for b in range(total_bits)
    ]
    agg = wh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_nw"), *bit_sums)
    fp = F.lit(0).cast("long")
    for b in range(total_bits):
        # bit 63 is the long's sign bit
        bit_val = (1 << b) if b < 63 else -(1 << 63)
        fp = fp.bitwiseOR(
            F.when(F.col(f"_b{b}") * 2 > F.col("_nw"), F.lit(bit_val).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    # The fingerprint table feeds both join sides — stage it once (see
    # plans/staging.py).
    base = stage(agg.select("doc_id", fp.alias("fp")))
    banded = base.select(
        "doc_id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("fp"), b * band_bits)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                        .alias("band_val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bv"),
    ).select("doc_id", "fp", "bv.band", "bv.band_val")

    a = banded.select("band", "band_val", F.col("doc_id").alias("doc_a"), F.col("fp").alias("fp_a"))
    b = banded.select("band", "band_val", F.col("doc_id").alias("doc_b"), F.col("fp").alias("fp_b"))
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    # Hamming verify + narrow projection run BEFORE the pair dedup
    # (optimization round 10, guide §2.3 "project before the exchange"):
    # the dedup exchange then carries only the passing pairs as three
    # columns (map-side combined) instead of every band collision with
    # both 8-byte fingerprints.  A band-identical duplicate family of
    # size d collides in all n_bands bands — d²(max_hamming+1)/2 rows —
    # so filtering first shrinks that exchange ~4× in rows and ~2× per
    # row.  `hamming` is a pure function of the pair, so filter and
    # distinct commute (results identical; pinned by the oracle).
    return (
        a.join(b, ["band", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def shared_substring_pairs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed_n: int = 5,
    min_words: int = 10,
    max_seed_df: int = 1000,
    hash_fn: str = "xxhash64",
    winnow_window: int | None = None,
) -> DataFrame:
    """Exact-substring duplicate detection: all document pairs sharing a
    verbatim run of at least ``min_words`` words, with the length of
    their longest shared run — the distributed stand-in for the
    suffix-array substring dedup of Lee et al. 2021 ("Deduplicating
    Training Data Makes Language Models Better"), which removes verbatim
    cross-document copies that set-similarity (Jaccard) misses when the
    copied span is small relative to the documents.

    Seed-and-chain instead of a global suffix array: every position
    contributes a ``seed_n``-word seed gram; positions in two documents
    matching on a seed lie on a diagonal ``d = pos_a - pos_b``, and a
    verbatim run of L words (L ≥ seed_n) appears as exactly
    ``L - seed_n + 1`` CONSECUTIVE seed matches on one diagonal — so the
    longest shared run is recovered exactly (for runs ≥ seed_n) by a
    gaps-and-islands pass per ``(pair, diagonal)``.  Returns
    ``(doc_a, doc_b, max_shared_words)`` with ``doc_a < doc_b``.

    100 TB shape: the corpus explodes to ``(doc_id, pos, seed_hash)`` —
    three longs; the self-join matches on the 64-bit hash only.  Seeds
    with document frequency > ``max_seed_df`` (boilerplate: headers,
    license blocks) are dropped by an in-plan aggregate BEFORE the join,
    bounding every key's fan-out to ≤ df² pairs — same df-cap rationale
    as ``plans/blocking.py`` (AQE can spread a quadratic key, not shrink
    it); a run seeded only by capped grams is missed, which is the
    documented approximation (boilerplate is exactly what substring
    dedup wants to ignore).  Islands use one window per
    ``(doc_a, doc_b, diagonal)`` — group sizes are run-length-bounded,
    so no skew; the final per-pair max is a partial-agg ``groupBy``.
    ``md5_60`` hashing (as in :func:`simhash_pairs`) makes the operator
    oracle-replayable end to end.

    ``winnow_window=w`` switches seed SELECTION to MOSS-style winnowing
    — the 100 TB knob: instead of one seed per position, each length-w
    window of seed hashes contributes only its (leftmost) minimum, so
    the exploded seed stream and the self-join input shrink ~w× while
    staying CONTENT-DEFINED: two documents sharing a run pick the same
    relative positions inside it (a fixed-stride sample could not — the
    two docs' grids misalign).  Guarantees: every shared run of at
    least ``seed_n + w - 1`` words yields ≥ 1 diagonal match, interior
    selections sit ≤ w apart (so gap-≤-w chaining reconstructs the
    run), and the reported length ``max(pos)-min(pos)+seed_n`` is a
    LOWER BOUND within ``2(w-1)`` of the true run.  Because
    ``min_words`` filters on that lower bound, winnow mode can drop a
    pair whose TRUE longest run lies in ``[min_words, min_words +
    2(w-1))`` — callers needing guaranteed recall for runs ≥ L should
    pass ``min_words = max(seed_n, L - 2*(w-1))``.  Selection is a
    pure function of content — equally oracle-replayable."""
    from ..operators.cleaning import _gram_hash

    if min_words < seed_n:
        raise ValueError("min_words must be >= seed_n (shorter runs have no seed)")
    w = split_words(F.col(text_col))
    if winnow_window is None:
        # Exact mode hashes AFTER the positional explode — one md5 per
        # output row.  Hashing inside a transform() array that a
        # Generate then consumes re-evaluates the whole array per
        # generated row (measured 6× on the sf0.1 corpus), so the
        # array-of-hashes shape is reserved for winnow mode, which
        # explodes the (much smaller) selected-position array instead.
        # The transform carries a when-guard (total expression, not
        # just the row filter): sequence(0, negative) descends into
        # slice(start=0), a runtime error — same idiom as
        # _ngram_hashes/_shingles.
        grams = F.when(
            F.size("_w") >= seed_n,
            F.transform(
                F.sequence(F.lit(0), F.size("_w") - seed_n),
                lambda i: F.concat_ws(" ", F.slice(F.col("_w"), i + 1, seed_n)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        seeds = (
            docs.select(F.col(id_col).alias("doc_id"), w.alias("_w"))
            .filter(F.size("_w") >= seed_n)
            .select("doc_id", F.posexplode(grams).alias("pos", "seed"))
            .select("doc_id", "pos", _gram_hash(F.col("seed"), hash_fn).alias("h"))
        )
    else:
        gram_hashes = F.when(
            F.size("_w") >= seed_n,
            F.transform(
                F.sequence(F.lit(0), F.size("_w") - seed_n),
                lambda i: _gram_hash(
                    F.concat_ws(" ", F.slice(F.col("_w"), i + 1, seed_n)), hash_fn
                ),
            ),
        ).otherwise(F.array().cast("array<long>"))
        hashed = (
            docs.select(F.col(id_col).alias("doc_id"), w.alias("_w"))
            .filter(F.size("_w") >= seed_n)
            .select("doc_id", gram_hashes.alias("_h"))
        )
        ww = int(winnow_window)
        if ww < 1:
            raise ValueError("winnow_window must be >= 1")

        def argmin_abs(j: Column) -> Column:
            win = F.slice(F.col("_h"), j + 1, ww)
            return (j + F.array_position(win, F.array_min(win)) - 1).cast("int")

        sel = F.array_distinct(
            F.when(
                F.size("_h") >= 1,
                F.transform(
                    F.sequence(F.lit(0), F.greatest(F.size("_h") - ww, F.lit(0))),
                    argmin_abs,
                ),
            ).otherwise(F.array().cast("array<int>"))
        )
        seeds = hashed.select("doc_id", "_h", F.explode(sel).alias("pos")).select(
            "doc_id", "pos", F.get(F.col("_h"), F.col("pos")).alias("h")
        )
    # boilerplate cap: one partial-agg pass over (h), anti-joined away
    # pre-join.  The hot set is UNHINTED: it is bounded only by
    # seeds/cap — a boilerplate-heavy 100 TB corpus can exceed executor
    # memory — so the shuffle anti-join on the 64-bit hash is the safe
    # plan and AQE still broadcasts it when it measures small (the same
    # rule as the vocabulary joins in functions/text.py; contrast
    # plans/blocking.py, whose hot set is bounded by the name-token
    # universe and may keep its hint).
    hot = seeds.groupBy("h").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") > max_seed_df
    )
    pruned = seeds.join(hot.select("h"), "h", "left_anti")
    a = pruned.select(
        F.col("doc_id").alias("doc_a"), F.col("pos").alias("pos_a"), "h"
    )
    b = pruned.select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b"), "h"
    )
    matches = a.join(b, "h").filter(F.col("doc_a") < F.col("doc_b")).select(
        "doc_a", "doc_b", "pos_a", (F.col("pos_a") - F.col("pos_b")).alias("diag")
    )
    isl = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    if winnow_window is None:
        runs = (
            matches.withColumn("grp", F.col("pos_a") - F.row_number().over(isl))
            .groupBy("doc_a", "doc_b", "diag", "grp")
            .agg((F.count(F.lit(1)) + seed_n - 1).alias("run_words"))
        )
    else:
        # winnowed selections inside a run sit <= w apart: chain matches
        # whose diagonal gap is <= w, report max-min+seed_n (lower bound);
        # lag and its running sum live in separate projections (window
        # functions cannot nest)
        gap = F.col("pos_a") - F.lag("pos_a").over(isl)
        flagged = matches.withColumn(
            "_new_run", F.when(gap.isNull() | (gap > ww), 1).otherwise(0)
        )
        runs = (
            flagged.withColumn(
                "grp",
                F.sum("_new_run").over(isl.rowsBetween(Window.unboundedPreceding, 0)),
            )
            .groupBy("doc_a", "doc_b", "diag", "grp")
            .agg((F.max("pos_a") - F.min("pos_a") + seed_n).alias("run_words"))
        )
    return (
        runs.groupBy("doc_a", "doc_b")
        .agg(F.max("run_words").cast("long").alias("max_shared_words"))
        .filter(F.col("max_shared_words") >= min_words)
    )


def dot_expr(a: Column, b: Column) -> Column:
    """Dot product of two double-array columns — one sequential
    ``aggregate`` so the accumulation order is deterministic
    (oracle-hash-stable)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def norm_expr(a: Column) -> Column:
    """L2 norm of a double-array column (same deterministic accumulation).

    Attach this per *side* before a similarity join — the norm is a
    per-vector quantity, and computing it inside a per-pair cosine wastes
    2/3 of the (interpreted) higher-order-function work on the pair
    stream (see :func:`cosine_expr`)."""
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))


def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine similarity of two double-array columns.  Convenience form
    for one-shot use; hot paths precompute :func:`norm_expr` per side and
    divide :func:`dot_expr` by the norm product instead."""
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


_NEAR_DUP_PAIR_SCHEMA = StructType(
    [
        StructField("id_a", LongType()),
        StructField("id_b", LongType()),
        StructField("cosine", DoubleType()),
    ]
)

# Target rows per chunk for the blocked all-pairs GEMM: a 2048×2048
# score block is 32 MB of doubles — far under executor memory while
# keeping per-task GEMMs large enough to amortize Arrow transfer.
_NEAR_DUP_CHUNK_ROWS = 2048


def embedding_near_dup(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
    n_chunks: int | None = None,
) -> DataFrame:
    """EXACT cosine ≥ ``threshold`` pairs (``id_a < id_b``) over an
    embedding column, computed as a blocked matrix product.

    Exact all-pairs semantics is inherently O(N²) dot products — no
    candidate filter can be both exact and sublinear for arbitrary
    thresholds (at ``threshold`` 0.5 random-hyperplane collision odds
    are ~2/3 per bit, so LSH recall can't reach 1 without all-pairs
    candidate volume).  What CAN scale is the constant factor and the
    distribution: vectors are hashed into ``n_chunks`` chunks, a tiny
    chunk-pair table (ca ≤ cb) replicates each row to its ``n_chunks``
    block tasks via a broadcast equi-join (no CartesianProduct node in
    the plan), and each block scores with ONE numpy GEMM inside
    ``applyInPandas`` — BLAS throughput instead of an interpreted
    per-pair expression, balanced tasks, shuffle volume O(N·n_chunks).

    ``n_chunks=None`` sizes chunks to ~2048 rows with an eager
    ``count()`` at plan construction (like a broadcast build side).
    For recall-tolerant near-dup at much larger N, use the sublinear
    :func:`~name_match_ml_spark.operators.simsearch.lsh_cosine_topk`
    bucketing instead."""
    base = embeddings.select(
        F.col(id_col).cast("long").alias("vid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    if n_chunks is None:
        n_chunks = max(1, -(-base.count() // _NEAR_DUP_CHUNK_ROWS))
    c = int(n_chunks)
    margin = threshold - 1e-6  # UDF prefilter; exact rounded filter below

    def score_block(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pid = int(key[0])
        diagonal = (pid // c) == (pid % c)  # within-chunk block: pair rows i < j
        a = pdf[pdf["side"] == "a"]
        b = a if diagonal else pdf[pdf["side"] == "b"]
        if not len(a) or not len(b):
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        ida = a["vid"].to_numpy(dtype=np.int64)
        idb = b["vid"].to_numpy(dtype=np.int64)
        A = np.stack(a["v"].to_numpy()).astype(np.float64)
        B = A if diagonal else np.stack(b["v"].to_numpy()).astype(np.float64)
        An = A / np.linalg.norm(A, axis=1, keepdims=True)
        Bn = B if diagonal else B / np.linalg.norm(B, axis=1, keepdims=True)
        S = An @ Bn.T
        i, j = np.nonzero(S >= margin)
        keep = ida[i] != idb[j] if not diagonal else ida[i] < idb[j]
        i, j = i[keep], j[keep]
        lo = np.minimum(ida[i], idb[j])
        hi = np.maximum(ida[i], idb[j])
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": S[i, j]})

    return (
        _chunk_pair_blocks(base, "vid", c)
        .groupBy("pid")
        .applyInPandas(score_block, _NEAR_DUP_PAIR_SCHEMA)
        .withColumn("cosine", F.round("cosine", 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def ngram_containment_pairs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    shingle_n: int = 3,
    strategy: str = "auto",
    max_shingle_df: int | None = None,
) -> DataFrame:
    """ALL pairs whose max directional shingle CONTAINMENT
    ``|A∩B| / min(|A|, |B|)`` meets ``threshold`` — the asymmetric
    companion to :func:`ngram_jaccard_pairs`.

    Jaccard misses subset duplicates: a paragraph quoted whole inside a
    10× longer page has J ≈ 0.1 but containment 1.0.  Containment is the
    signal corpus pipelines use for quote/boilerplate-inclusion detection
    (and is what the MinHash variant in Broder's original resemblance
    paper sketches alongside resemblance).

    Strategies (both exact; ``"auto"`` picks from one stats aggregate
    over the staged shingle table via an explicit cost model —
    ``N²·V`` GEMM flops vs ``Σdf²`` countjoin rows at
    ``_BITMAP_FLOPS_PER_ROW`` flops/row, measurement-calibrated at
    sf0.1 AND 10×, because the two costs scale on different corpus
    axes and a density bar alone mispredicts):

    * ``"countjoin"`` — explode distinct shingle hashes, narrow
      self-equi-join on the hash, ``groupBy(pair).count()`` is the
      intersection (map-side partial agg collapses before the wire), one
      integer division at the end.  Unlike Jaccard there is NO sound
      length-ratio prune for containment (a tiny doc may be fully
      contained in a huge one), so the join carries EVERY co-occurring
      pair — the full Σ_s df(s)² fan-out that Jaccard's ``min ≥ t·max``
      prefilter cuts away.  Right on sparse web-scale vocabularies where
      df(s) ≈ 1.
    * ``"bitmap"`` — the chunk-pair indicator-GEMM of
      :func:`_bitmap_set_pairs`: on dense small vocabularies with a
      bounded doc count the missing prune makes this the winner —
      |A∩B| for a whole block of pairs is one BLAS call instead of
      Σdf² shuffled join rows (measured 8.7 s → ~3 s on the sf0.1
      documents corpus, where a Jaccard bitmap plan only tied Jaccard's
      length-pruned countjoin).  But the GEMM pays O(N²·V)
      regardless of how sparse the overlap is, so at 10× the docs the
      SAME vocabulary-eligible corpus flips decisively back to
      countjoin — which is why auto compares the two costs explicitly
      instead of thresholding density.

    With default ``max_shingle_df=None`` this operator is the
    oracle-exact baseline; at 100 TB the sketch path is
    :func:`minhash_containment_pairs`, and ``max_shingle_df`` drops
    stop-shingles above a df cap the way :mod:`..plans.blocking` caps
    hot keys (see :func:`_cap_shingle_df` — containment especially
    needs it, since boilerplate fragments both blow up the join AND
    create spurious full-containment of tiny boilerplate-only docs).

    Returns ``(doc_a, doc_b, containment)`` with ``doc_a < doc_b`` and
    containment rounded to 6 dp (a single integer-operand division —
    bit-stable across engines; both strategies produce bit-identical
    scores, so the rounded boundary filter agrees).
    """
    base = _staged_shingle_hashes(docs, text_col, id_col, shingle_n)
    base = stage(_cap_shingle_df(base, max_shingle_df))
    tok = base.select("doc_id", F.size("sh").alias("n"), F.explode("sh").alias("h"))

    n = None  # doc count: the auto pick's, reused by the bitmap plan
    if strategy == "auto":
        row = (
            tok.groupBy("h")
            .count()
            .select(
                F.count(F.lit(1)).alias("v"),
                F.sum(F.col("count") * F.col("count")).alias("sd2"),
            )
            .first()
        )
        v, sd2 = (row["v"] or 0), (row["sd2"] or 0)
        n = base.count()
        # Explicit cost-model pick (a density bar alone mispredicts: the
        # GEMM is O(N²·V) while the pruneless countjoin is O(Σdf²), and
        # the two scale on DIFFERENT corpus axes).  A shuffled+aggregated
        # countjoin row costs ~_BITMAP_FLOPS_PER_ROW indicator-GEMM
        # flops on this implementation — calibrated by measurement:
        # sf0.1 (N²V=2.3e10, Σdf²=7.3e7) bitmap wins 8.7s→3.4s; sf1.0
        # (N²V=2.3e13, Σdf²=7.3e8) bitmap loses badly (>10× — killed at
        # 2 min vs countjoin's 122 s).  500 picks correctly at both.
        strategy = (
            "bitmap"
            if v and v <= _BITMAP_MAX_VOCAB and n * n * v < _BITMAP_FLOPS_PER_ROW * sd2
            else "countjoin"
        )

    if strategy == "bitmap":
        return (
            _bitmap_set_pairs(base, threshold, n)
            .withColumn("containment", F.round("containment", 6))
            .filter(F.col("containment") >= threshold)
        )
    if strategy != "countjoin":
        raise ValueError(f"unknown strategy {strategy!r}")

    a = tok.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"), "h")
    b = tok.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"), "h")
    return (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("inter"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter").cast("double") / F.least(F.col("n_a"), F.col("n_b")),
                6,
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def minhash_containment_pairs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_n: int = 3,
    sketch_k: int = 64,
    hash_fn: str = "xxhash64",
    max_element_df: int | None = None,
) -> DataFrame:
    """Sketch-based directional-containment pairs — the 100 TB path that
    :func:`ngram_containment_pairs`'s docstring names (the exact
    containment join admits no sound prune, so its cost is the full
    sum-of-df² of the shingle vocabulary; this operator bounds per-doc
    state at ``sketch_k`` longs regardless of document length).

    Sketch: the KMV (k-minimum-values) bottom-k sketch — the ``sketch_k``
    smallest distinct shingle hashes per document, plus the exact distinct
    count ``n`` (one long, free to carry).  For a candidate pair, with
    ``M`` = the k smallest hashes of ``S_A ∪ S_B``,
    ``y = |M ∩ S_A ∩ S_B|`` and ``m = |M|``:

        Ĵ = y/m                             (the classic KMV estimator)
        Î = Ĵ·|A∪B| = y·(n_a+n_b)/(m+y)     (since |A∪B| = (n_a+n_b)/(1+J))
        containment ≈ Î / min(n_a, n_b)

    computed as ONE division of two exact int64 products
    (``y·(n_a+n_b) / ((m+y)·min(n_a,n_b))``) — bit-stable across engines,
    so with ``hash_fn="md5_60"`` the whole operator (candidates, estimate,
    threshold) is replayable in DuckDB and hash-checkable, false-sharing
    included.

    Candidate generation is the sketch itself: explode the ≤k sketch
    elements and self-equi-join on the 64-bit hash.  A pair with y = 0
    has estimate 0, so for threshold > 0 the blocking is EXACT with
    respect to the estimator — no candidate that could pass is lost.
    The join shuffles (doc_id, hash) longs only; per-doc fan-out is ≤ k
    rows however long the document is.

    ``max_element_df`` is the boilerplate-bomb guard (same rationale as
    the hot-key cap in :mod:`..plans.blocking` and ``max_seed_df`` in
    :func:`shared_substring_pairs`): a shingle that both hashes small and
    appears in d documents lands in d sketches and fans out d² candidate
    pairs.  With the cap, sketch elements with document frequency > cap
    are dropped BEFORE the join (an in-plan aggregate, no collect); a
    pair is lost only if ALL its shared sketch elements are hot —
    documented approximation, off by default so the declared query stays
    estimator-exact.

    Returns ``(doc_a, doc_b, containment_est)`` with ``doc_a < doc_b``,
    rounded to 6 dp."""
    if sketch_k < 1:
        raise ValueError("sketch_k must be >= 1")
    k = int(sketch_k)

    base = stage(
        _staged_shingle_hashes(docs, text_col, id_col, shingle_n, hash_fn=hash_fn)
    )
    sized = base.select(
        "doc_id",
        F.size("sh").alias("n"),
        F.slice(F.array_sort("sh"), 1, k).alias("sk"),
    )

    tok = sized.select("doc_id", F.explode("sk").alias("h"))
    if max_element_df is not None:
        hot = (
            tok.groupBy("h")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > int(max_element_df))
            .select("h")
        )
        # Hot-element table is bounded by (rows/cap), tiny in practice,
        # but NOT provably executor-memory-safe — leave the join strategy
        # to AQE rather than forcing a broadcast (the shared_substring
        # lesson, commit 73ef652).
        tok = tok.join(hot, "h", "left_anti")

    a = tok.select(F.col("doc_id").alias("doc_a"), "h")
    b = tok.select(F.col("doc_id").alias("doc_b"), "h")
    cand = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )

    sk_a = sized.select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"), F.col("sk").alias("sk_a")
    )
    sk_b = sized.select(
        F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"), F.col("sk").alias("sk_b")
    )
    merged = F.slice(F.array_sort(F.array_union("sk_a", "sk_b")), 1, k)
    return (
        cand.join(sk_a, "doc_a")
        .join(sk_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_a",
            "n_b",
            F.size(merged).alias("m"),
            F.size(
                F.array_intersect(merged, F.array_intersect("sk_a", "sk_b"))
            ).alias("y"),
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                (F.col("y") * (F.col("n_a") + F.col("n_b"))).cast("double")
                / ((F.col("m") + F.col("y")) * F.least("n_a", "n_b")),
                6,
            ).alias("containment_est"),
        )
        .filter(F.col("containment_est") >= threshold)
    )


def minhash_estimate_audit(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    threshold: float = 0.3,
    shingle_n: int = 2,
) -> DataFrame:
    """Sketch-accuracy audit: for every true near-dup pair, the MinHash
    Jaccard ESTIMATE (matching-signature fraction) next to the EXACT
    shingle Jaccard — the measure-don't-guess step that tells you
    whether ``num_perm`` signatures are enough BEFORE a 100 TB dedup
    run trusts them (estimator stderr ≈ sqrt(J(1-J)/num_perm); this
    query is that formula checked against ground truth on real data).

    Signatures use the md5_60 word hash (``simhash_pairs`` convention):
    permutation ``j``'s value is ``min over shingles of
    md5_60('mh<j>:' || shingle)``, so any engine with md5 computes the
    IDENTICAL signature and the audit — match counts included —
    hash-checks bit-for-bit.  Both grids are integer floor divisions on
    a 1e-9 grid (exact int64 arithmetic end to end).

    Pair source: :func:`ngram_jaccard_pairs` (the exact, blocked,
    guardrail-clean operator) — its ``J ≥ t`` output IS the audit's
    ground-truth pair set (the classic length prefilter is implied by
    ``J ≥ t``, so no separate length join is needed and no
    nested-loop/cartesian node ever appears).  At 100 TB swap in the
    banded LSH candidates — the audit is a sampled QA pass by nature,
    so any bounded pair source works.

    Scale notes: signatures are ``num_perm`` longs per doc computed in
    one codegen projection; they and the shingle arrays re-attach to
    the surviving pairs via two narrow id equi-joins — the
    ``minhash_lsh_pairs`` discipline.
    """
    pairs = ngram_jaccard_pairs(
        docs,
        text_col=text_col,
        id_col=id_col,
        threshold=threshold,
        shingle_n=shingle_n,
    ).select("doc_a", "doc_b")
    base = (
        docs.select(F.col(id_col).alias("doc_id"), split_words(F.col(text_col)).alias("_w"))
        .filter(F.size("_w") > 0)
        .select("doc_id", _shingles(F.col("_w"), shingle_n).alias("sh"))
    )

    def _mh(j: int) -> Column:
        # NB: the per-permutation salt is captured as a PLAIN STRING and
        # the lambda stays UNARY — a two-parameter lambda (e.g. the
        # `lambda s, j=j` closure idiom) is treated by PySpark as an
        # (element, index) lambda, binding the second name to the index
        # lambda-variable Column and silently corrupting anything
        # formatted from it.
        salt = f"mh{j}:"
        return F.array_min(
            F.transform(
                F.col("sh"),
                lambda s: md5_60(F.concat(F.lit(salt), s)),
            )
        )

    sized = base.select(
        "doc_id",
        "sh",
        F.size("sh").cast("long").alias("n"),
        F.array(*[_mh(j) for j in range(num_perm)]).alias("sig"),
    )
    a = sized.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh").alias("sh_a"),
        F.col("n").alias("n_a"),
        F.col("sig").alias("sig_a"),
    )
    b = sized.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("sh_b"),
        F.col("n").alias("n_b"),
        F.col("sig").alias("sig_b"),
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("long")
    paired = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            inter.alias("inter"),
            (F.col("n_a") + F.col("n_b") - inter).alias("uni"),
            F.size(
                F.filter(
                    F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
                    lambda v: v,
                )
            )
            .cast("long")
            .alias("n_match"),
        )
    )
    return paired.select(
        "doc_a",
        "doc_b",
        "inter",
        "uni",
        "n_match",
        F.expr(f"(n_match * 1000000000) DIV {num_perm}").alias("est_grid"),
        F.expr("(inter * 1000000000) DIV uni").alias("exact_grid"),
        F.abs(
            F.expr(f"(n_match * 1000000000) DIV {num_perm}")
            - F.expr("(inter * 1000000000) DIV uni")
        ).alias("err_grid"),
    )
