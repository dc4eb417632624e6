"""Incremental MinHash-LSH index maintenance (CDC over band signatures).

``fuzzy_decontaminate`` / ``minhash_lsh_pairs`` both consume a band-
signature table ``(doc_id, band, band_sig)``.  At warehouse scale that
table is a MATERIALIZED index over the whole corpus — rebuilding it
from scratch for every ingestion batch re-shingles 100 TB to absorb a
GB of changes.  This module maintains it incrementally, extending the
``incremental_near_dup`` CDC pattern (``operators/graph.py``) from the
pair graph to the signature index itself:

* signatures of UNCHANGED documents are reused verbatim from the cached
  index (two anti-joins on the retired-id sets — no text is touched);
* only DELTA documents (inserts + updates) are shingled and signed;
* deletes (and the old versions of updates) drop by anti-join.

The result is row-identical to a full rebuild on the unified corpus —
that equivalence IS the declared query's oracle — while the shingling
cost is delta-proportional, not corpus-proportional.

Signatures here use the replayable ``md5_60`` convention
(``minhash_estimate_audit``'s permutation hash): permutation ``j`` of a
document is ``min over shingles of md5_60('mh<j>:' || shingle)``, and a
band's signature is ``md5_60('band<b>:' || m_j || ',' || ... )`` over
its row mins — every value a pure function of the text, so any engine
with md5 computes the identical index and incremental maintenance is
hash-checked end to end.  (The xxhash64 family in
``dedup.band_signatures`` remains the scale default; this index uses
md5_60 so correctness of the MAINTENANCE algebra is provable.)

Scale notes: the anti-joins ship only (doc_id) keys against the cached
index; the fresh-signature side touches delta text only; the union is
partition-preserving.  No shuffle is corpus-proportional except the
unavoidable anti-join hash partition of the cached index — and that is
an index-row-count shuffle of three longs, not text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import md5_60, split_words
from .dedup import _shingles

__all__ = ["minhash_band_index", "incremental_band_index"]


def minhash_band_index(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 2,
) -> DataFrame:
    """Replayable LSH index rows ``(doc_id, band, band_sig)``.

    One codegen projection computes all ``num_perm`` permutation mins
    (each consumed exactly once, the ``dedup.band_signatures``
    discipline); a band signature is the md5_60 of its rows' mins
    joined with ','.  Empty documents produce no index rows."""
    if num_perm % bands:
        raise ValueError("num_perm must be divisible by bands")
    rows_per_band = num_perm // bands
    base = (
        docs.select(F.col(id_col).alias("doc_id"), split_words(F.col(text_col)).alias("_w"))
        .filter(F.size("_w") > 0)
        .select("doc_id", _shingles(F.col("_w"), shingle_n).alias("sh"))
    )

    def _mh(j: int) -> Column:
        salt = f"mh{j}:"
        return F.array_min(
            F.transform(
                F.col("sh"), lambda s: md5_60(F.concat(F.lit(salt), s))
            )
        )

    def _band_sig(b: int) -> Column:
        mins = [_mh(b * rows_per_band + r) for r in range(rows_per_band)]
        payload = F.concat_ws(",", *[m.cast("string") for m in mins])
        return md5_60(F.concat(F.lit(f"band{b}:"), payload))

    band_structs = F.array(
        *[
            F.struct(F.lit(b).cast("int").alias("band"), _band_sig(b).alias("band_sig"))
            for b in range(bands)
        ]
    )
    return base.select("doc_id", F.explode(band_structs).alias("bs")).select(
        "doc_id", "bs.band", "bs.band_sig"
    )


def incremental_band_index(
    cached: DataFrame,
    delta_docs: DataFrame,
    dead_ids: DataFrame | None = None,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 2,
) -> DataFrame:
    """Maintain a cached ``(doc_id, band, band_sig)`` index under a CDC
    batch: ``delta_docs`` are inserts/updates (their old index rows, if
    any, retire), ``dead_ids`` (optional, one ``doc_id`` column) are
    deletes.  Returns the updated index — row-identical to
    :func:`minhash_band_index` over the unified corpus, with shingling
    work proportional to the DELTA only (pytest proves this
    behaviorally: a poisoned cached signature for an unchanged doc
    flows through verbatim).

    CDC batch contract (ADVICE r9): ``delta_docs`` must carry at most
    ONE row per ``doc_id`` — two versions of the same doc in one batch
    is an upstream compaction bug and raises here (the check is one
    delta-proportional aggregate, the same eager-guard discipline as
    the capped collects elsewhere).  A ``doc_id`` present in BOTH
    ``delta_docs`` and ``dead_ids`` is treated as deleted — within one
    batch the delete is the final state, so delete wins."""
    dup = (
        delta_docs.groupBy(F.col(id_col).alias("doc_id"))
        .count()
        .filter(F.col("count") > 1)
        .limit(5)
        .collect()
    )
    if dup:
        raise ValueError(
            "incremental_band_index: delta_docs carries multiple versions of "
            f"doc_id(s) {[r['doc_id'] for r in dup]} — compact the CDC batch to "
            "one row per doc_id (latest version) before indexing"
        )
    retire = delta_docs.select(F.col(id_col).alias("doc_id")).distinct()
    if dead_ids is not None:
        dead = dead_ids.select(F.col(dead_ids.columns[0]).alias("doc_id")).distinct()
        retire = retire.unionByName(dead).distinct()
        # delete wins: a doc both updated and deleted in one batch must
        # not re-enter the index via the fresh path
        delta_docs = delta_docs.join(
            dead, delta_docs[id_col] == dead["doc_id"], "left_anti"
        )
    # No broadcast hint: the retire set is delta-proportional but not
    # bounded by contract (a backfill delta can be corpus-sized) — let
    # AQE pick broadcast from runtime stats when it IS small.
    survivors = cached.join(retire, "doc_id", "left_anti")
    fresh = minhash_band_index(
        delta_docs,
        text_col=text_col,
        id_col=id_col,
        num_perm=num_perm,
        bands=bands,
        shingle_n=shingle_n,
    )
    return survivors.unionByName(fresh)
