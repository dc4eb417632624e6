"""Streaming document ingestion [EXT] (SURVEY.md §2.9 ∩ §2.10): the
cleaning pipeline run INCREMENTALLY over a landing zone.

New parquet files under a directory become micro-batches; each batch is
quality-filtered with the same native expressions the batch pipeline
uses, and exact duplicates are dropped on a content hash so re-delivered
or duplicated documents never reach the corpus twice.  The same builder
works on a static DataFrame (stream ≡ batch, pinned in
tests/test_streaming_docs.py) — the Structured Streaming property the
rest of :mod:`.windows` relies on.

Scale notes: the quality filter is stateless per-row codegen; the dedup
state is one row per distinct content hash.  The documents corpus has no
event time, so the demo keys state on the hash alone (unbounded but
hash-sized); a production landing zone attaches an arrival timestamp and
uses ``dropDuplicatesWithinWatermark`` (see
:func:`.windows.dedup_within_watermark`) to bound it — the plan shape is
otherwise identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..functions.text import split_words

__all__ = ["DOCS_SCHEMA", "stream_documents", "clean_documents"]

DOCS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def stream_documents(spark: SparkSession, docs_dir: str) -> DataFrame:
    """File-source stream over a landing directory of documents parquet."""
    return spark.readStream.schema(DOCS_SCHEMA).parquet(docs_dir)


def clean_documents(
    docs: DataFrame,
    *,
    min_words: int = 5,
    max_rep_ratio: float = 0.2,
    rep_n: int = 2,
) -> DataFrame:
    """Quality gate + exact dedup, streaming- and batch-applicable.

    Keeps documents with ≥ ``min_words`` whitespace words and a
    duplicated-``rep_n``-gram ratio ≤ ``max_rep_ratio`` (the same
    statistics as :func:`..operators.cleaning.repetition_stats`), then
    drops exact duplicates on ``md5(text)`` — first arrival wins.
    Returns ``(doc_id, content_hash, lang, source, n_words)``.
    """
    w = split_words(F.col("text"))
    grams = F.when(
        F.size(w) >= rep_n,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - rep_n),
            lambda i: F.concat_ws(" ", F.slice(w, i + 1, rep_n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    total = F.size(grams)
    ratio = F.when(
        total > 0, 1.0 - F.size(F.array_distinct(grams)).cast("double") / total
    ).otherwise(F.lit(0.0))
    return (
        docs.select(
            "doc_id",
            F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("content_hash"),
            "lang",
            "source",
            F.coalesce(F.size(w), F.lit(0)).cast("long").alias("n_words"),
            ratio.alias("_rep"),
        )
        .filter((F.col("n_words") >= min_words) & (F.col("_rep") <= max_rep_ratio))
        .drop("_rep")
        .dropDuplicates(["content_hash"])
    )
