"""Model-based document quality scoring as PURE codegen [EXT] — the
fasttext-class linear quality filter (the CCNet / LLaMA-style
model-based cleaning signal), with the model FROZEN into integer
literals so inference is one int64 fold per document: no UDF, no
shuffle, no model file (VERDICT r5 #5).

The classifier is a logistic regression over hashed word-unigram
counts (64 md5_60 buckets + bias), distilled offline from the
rule-based gopher gate by ``tools/train_quality_model.py`` (91% label
agreement on the training corpus; pinned ≥85% in pytest).  Weights
live on a 1e6 fixed-point grid — the same integer-literal device as
``fs_linkage``'s log-odds — so the score is

    score_grid = bias + Σ_words weights[md5_60(word) % 64]

entirely int64, engine-replayable bit-for-bit (md5 is the only hash),
and the keep gate is ``score_grid >= 0`` (the logit's sign).  At
100 TB this is the ideal cleaning operator shape: embarrassingly
parallel per document, zero exchanges, and the weight table rides in
the plan as a constant-folded array — HOF fold over a constant array,
never a multi-MB codegen method (the CollapseProject lesson).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import md5_60, split_words

__all__ = ["model_quality_scores", "QUALITY_WEIGHTS_GRID", "QUALITY_BIAS_GRID"]

N_BUCKETS = 64

# Frozen by tools/train_quality_model.py on sf0.01 (train agreement
# with the gopher gate: 91.2% float == 91.2% on the integer grid).
QUALITY_BIAS_GRID = -4518911
QUALITY_WEIGHTS_GRID = [
    73820, 0, 0, 0, 140636, 0, 0, 81185,
    0, 134645, -42342, 0, 0, 0, 0, 0,
    0, 75012, 234892, 0, 0, 0, 0, 119312,
    23827, 102553, 0, 0, 0, -91243, -441410, 0,
    0, 249302, -15486, 0, 58385, 0, 0, 0,
    0, 147504, -10190, 0, 69530, 968147, -26416, 0,
    0, 0, 0, 109964, 70540, 0, 0, 0,
    0, 0, 197285, 0, 0, 0, 0, 135502,
]


def model_quality_scores(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``(doc_id, n_words, score_grid, keep)`` — frozen-model quality
    logit per document and its sign gate, as one per-row int64 fold."""
    assert len(QUALITY_WEIGHTS_GRID) == N_BUCKETS
    words = split_words(F.col(text_col))
    wgt = F.array(*[F.lit(int(v)).cast("long") for v in QUALITY_WEIGHTS_GRID])
    bucket = lambda w: md5_60(w) % N_BUCKETS  # noqa: E731 — nonneg, so % == pmod
    score = F.aggregate(
        words,
        F.lit(QUALITY_BIAS_GRID).cast("long"),
        lambda acc, w: acc + F.element_at(wgt, (bucket(w) + 1).cast("int")),
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(words).cast("long").alias("n_words"),
        score.alias("score_grid"),
        (score >= 0).alias("keep"),
    )
