"""Sequence packing for LLM pre-training batches [EXT] (SURVEY.md §2.10).

Training pipelines concatenate documents into fixed-token-budget
sequences ("packing") so no batch slot is wasted on padding.  Greedy
packing is inherently sequential — pack state (the running token count)
carries row to row — which is exactly the shape Spark distributes by
*bucketing first*: hash documents into ``n_buckets`` independent
streams, run the sequential greedy fill per bucket, and every bucket
packs in parallel with zero coordination.

Scale notes (100 TB): one shuffle (the groupBy on bucket); the greedy
fill is an Arrow ``applyInPandas`` — per-GROUP vectorized state, not a
per-row Python UDF; bucket count is the parallelism knob and each
bucket's state is one integer, so executor memory per task is the
bucket's rows only.  Determinism: bucket = md5-hash of doc_id (stable
under retries, reproducible cross-engine), fill order = doc_id within
bucket, so the pack assignment is a pure function of the corpus — and
therefore oracle-checkable (DuckDB replays the greedy fill with a
recursive CTE).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import md5_60, split_words
from ..plans.probe import estimated_rows

__all__ = ["pack_documents", "pack_attention_spans"]


def pack_documents(
    docs: DataFrame,
    *,
    budget: int = 256,
    n_buckets: int | None = None,
    target_docs_per_bucket: int = 250_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign each document to a fixed-budget pack: ``(doc_id, bucket,
    pack_seq, n_tokens)``.

    Within a bucket (md5-hash of id, mod ``n_buckets``) documents are
    taken in ``doc_id`` order; a pack closes when adding the next
    document would exceed ``budget`` tokens (whitespace tokens here —
    swap in a real tokenizer count upstream if available).  A document
    longer than the budget gets a pack of its own.  ``pack_seq`` numbers
    packs within the bucket, so ``(bucket, pack_seq)`` is the global
    pack key.

    ``n_buckets=None`` (default) derives the bucket count from the
    corpus's Catalyst plan statistics — ``max(32, ceil(est_rows /
    target_docs_per_bucket))`` — because one bucket is one
    ``applyInPandas`` group that must fit in a single task: a static
    count makes per-task memory O(corpus / n_buckets), unbounded at
    100 TB.  The estimator (``plans/probe.estimated_rows``) uses
    exact file-size stats and a 32-bytes/row divisor, which for wide
    text rows OVERestimates the row count — the error direction that
    produces more, smaller buckets, never an oversized task; an
    unknown-stats corpus falls back to 4096 buckets rather than risking
    corpus/32 per task.  Each packed group is 3 narrow columns
    (~24 B/row), so ``target_docs_per_bucket=250k`` keeps a group under
    ~10 MB of Arrow batch.  Pass an explicit ``n_buckets`` for a
    reproducible, parameter-pinned assignment (the declared oracle
    query does).
    """
    if n_buckets is None:
        import math

        est = estimated_rows(docs)
        n_buckets = (
            4096 if not math.isfinite(est)
            else max(32, math.ceil(est / target_docs_per_bucket))
        )
    words = split_words(F.col(text_col))
    bucket = md5_60(F.col(id_col).cast("string")) % n_buckets
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        bucket.cast("int").alias("bucket"),
        # null text -> null size -> NaN in the Arrow batch; a null doc
        # packs as zero tokens
        F.coalesce(F.size(words), F.lit(0)).cast("long").alias("n_tokens"),
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        seqs = []
        seq, cum, first = 0, 0, True
        for n in pdf["n_tokens"]:
            n = int(n)
            # every non-first row sees a non-empty pack (`cum > 0` is NOT
            # a valid emptiness proxy: zero-token docs keep cum at 0), so
            # the close condition is simply "this doc would overflow"
            if not first and cum + n > budget:
                seq += 1
                cum = 0
            cum += n
            first = False
            seqs.append(seq)
        pdf["pack_seq"] = pd.Series(seqs, dtype="int64")
        return pdf

    return base.groupBy("bucket").applyInPandas(
        _pack, "doc_id long, bucket int, n_tokens long, pack_seq long"
    )


def pack_attention_spans(
    docs: DataFrame,
    *,
    budget: int = 256,
    n_buckets: int | None = None,
    target_docs_per_bucket: int = 250_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document TOKEN SPANS inside each pack — the metadata a
    trainer needs to mask cross-document attention in packed sequences
    (every packed-pretraining recipe: block-diagonal attention over doc
    boundaries; without the spans, packing silently lets documents
    attend to each other).

    For each document in its :func:`pack_documents` pack (taken in
    ``doc_id`` order, the pack-fill order), emits the 0-based inclusive
    token range it occupies: ``(bucket, pack_seq, doc_id, start_tok,
    end_tok)`` with ``start_tok = cumsum(n_tokens) − n_tokens`` and
    ``end_tok = cumsum(n_tokens) − 1``.  Zero-token documents
    (null/empty text packs as 0 tokens) occupy no positions and would
    otherwise emit the degenerate range ``(start, start−1)`` — they are
    filtered out of the span output so every emitted range is a valid
    inclusive interval for a mask builder iterating ``start..end``.

    Scale shape: inherits the pack assignment (bucketed
    ``applyInPandas`` groups bounded by ``target_docs_per_bucket``);
    the span pass is ONE running-sum window partitioned by
    ``(bucket, pack_seq)`` — pack-sized partitions (a few docs each),
    never a global or bucket-wide sort.
    """
    from pyspark.sql import Window

    p = pack_documents(
        docs,
        budget=budget,
        n_buckets=n_buckets,
        target_docs_per_bucket=target_docs_per_bucket,
        text_col=text_col,
        id_col=id_col,
    )
    w = (
        Window.partitionBy("bucket", "pack_seq")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return (
        p.select(
            "bucket",
            "pack_seq",
            "doc_id",
            "n_tokens",
            (cum - F.col("n_tokens")).cast("long").alias("start_tok"),
            (cum - 1).cast("long").alias("end_tok"),
        )
        # zero-token docs occupy no positions: drop the (start, start-1)
        # degenerate range (filter AFTER the window so cum is unchanged).
        .filter(F.col("n_tokens") > 0)
        .drop("n_tokens")
    )
