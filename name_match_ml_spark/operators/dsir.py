"""DSIR data selection [EXT]: importance resampling over hashed n-gram
features — the published data-selection pass of an LLM pipeline (Xie et
al. 2023, "Data Selection for Language Models via Importance
Resampling"), expressed as Catalyst plans.

The reference has no data-selection machinery; this implements the DSIR
recipe against the synthetic corpus: a TARGET slice (the distribution
you want more of — wiki-quality pages, a domain, a language) and the
RAW pool are both featurized as hashed word uni+bigrams into
``n_buckets`` buckets, two smoothed bag-of-words models are fit on the
bucket counts, and every raw document scores its importance weight

    log w(x) = sum_f  [ ln p_target(bucket(f)) - ln p_raw(bucket(f)) ]

(one term per feature OCCURRENCE, add-1 smoothing, both logs on the
1e6 fixed-point grid — the repo's standard engine-replayable device for
``ln``, shared with :mod:`.unigram_lm` and
:mod:`..functions.quality_model`).  Selection keeps the top
``select_frac`` of the raw pool by (weight desc, doc_id asc) — the
paper's Gumbel-top-k with the noise term dropped, which makes the
selection deterministic and bit-replayable.

100 TB design:

- featurization is embarrassingly parallel (explode + md5, no UDF);
- both LMs live in ONE ``n_buckets``-row table (two conditional sums
  over the same exploded scan — the target pass and the raw pass share
  a single Exchange), broadcast to score documents;
- scoring is a broadcast hash join + partial-combining aggregate;
- ranking uses :func:`.ordering.ordered_index` — ONE range shuffle,
  no single-partition window;
- the selection threshold ``ceil(select_frac * N_raw)`` joins as a
  1-row broadcast (the allowlisted corpus-count shape).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import md5_60, split_words
from .ordering import ordered_index

__all__ = ["dsir_select"]

_GRID = 1_000_000


def _feat_buckets(text: Column, n_buckets: int) -> Column:
    """Hashed uni+bigram feature buckets of a text column: md5_60 of
    each lowercase word and each adjacent word pair, mod ``n_buckets``
    (md5_60 is nonnegative, so ``%`` equals ``pmod``)."""
    ws = split_words(text)
    bigrams = F.when(
        F.size(ws) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - 1),
            lambda i: F.concat(
                F.element_at(ws, i), F.lit(" "), F.element_at(ws, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    feats = F.concat(ws, bigrams)
    return F.transform(
        feats,
        lambda f: md5_60(f) % n_buckets,
    )


def dsir_select(
    docs: DataFrame,
    target: Column,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
    select_frac: float = 0.25,
) -> DataFrame:
    """``(doc_id, n_feats, dsir_score, dsir_rank, selected)`` for every
    document in the RAW pool (``NOT target``): the integer-grid DSIR
    importance weight, its global rank (0 = most target-like), and the
    top-``select_frac`` keep flag.

    ``target`` is a boolean Column over ``docs`` marking the target
    distribution; target rows train ``p_target`` and are excluded from
    the scored pool (the paper's held-out-target formulation).
    """
    feats = docs.select(
        F.col(id_col).alias("doc_id"),
        target.alias("_is_t"),
        F.explode(_feat_buckets(F.col(text_col), n_buckets)).alias("bucket"),
    )
    bc = feats.groupBy("bucket").agg(
        F.sum(F.when(F.col("_is_t"), 1).otherwise(0)).alias("tc"),
        F.sum(F.when(F.col("_is_t"), 0).otherwise(1)).alias("rc"),
    )
    # Totals via an unpartitioned window over the BUCKET table — bounded
    # at n_buckets rows by construction, so the single-partition window
    # is over a few hundred rows at any corpus size.
    from pyspark.sql import Window

    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    lam = bc.select(
        "bucket",
        (
            F.floor(
                F.log(
                    (F.col("tc") + 1).cast("double")
                    / (F.sum("tc").over(wall) + n_buckets)
                )
                * _GRID
            )
            - F.floor(
                F.log(
                    (F.col("rc") + 1).cast("double")
                    / (F.sum("rc").over(wall) + n_buckets)
                )
                * _GRID
            )
        )
        .cast("long")
        .alias("lam"),
    )
    doc_feats = feats.filter(~F.col("_is_t")).groupBy("doc_id", "bucket").agg(
        F.count(F.lit(1)).alias("c")
    )
    raw = docs.filter(~target).select(F.col(id_col).alias("doc_id"))
    scored = (
        raw.join(
            doc_feats.join(F.broadcast(lam), "bucket")
            .groupBy("doc_id")
            .agg(
                F.sum("c").alias("_nf"),
                F.sum(F.col("c") * F.col("lam")).alias("_sc"),
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce("_nf", F.lit(0)).cast("long").alias("n_feats"),
            F.coalesce("_sc", F.lit(0)).cast("long").alias("dsir_score"),
        )
    )
    ranked = ordered_index(
        scored,
        [F.col("dsir_score").desc()],
        tiebreak="doc_id",
        index_col="dsir_rank",
    )
    n_raw = ranked.groupBy().agg(F.count(F.lit(1)).alias("_n"))
    return ranked.crossJoin(F.broadcast(n_raw)).select(
        "doc_id",
        "n_feats",
        "dsir_score",
        "dsir_rank",
        (F.col("dsir_rank") < F.ceil(F.lit(select_frac) * F.col("_n"))).alias(
            "selected"
        ),
    )
