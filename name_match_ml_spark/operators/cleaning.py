"""Corpus-cleaning operators for LLM training-data pipelines [EXT]
(SURVEY.md §2.10): benchmark decontamination, intra-document repetition
statistics, and deterministic mixture sampling.

These are the standard pre-training hygiene passes (C4/GPT-style):
remove documents that leak evaluation data, drop pathologically
repetitive documents, and rebalance the language/source mixture — each
expressed as native Catalyst plans.

Scale notes (100 TB):

* Decontamination joins the corpus's n-grams against the benchmark's.
  The benchmark side is an eval set — thousands of documents, not
  billions — so its distinct-gram table broadcasts; the corpus side
  streams map-side through the broadcast hash join with no shuffle of
  corpus grams.  Grams are joined as 60/64-bit hashes, never strings.
* Repetition stats are per-row expressions only (no shuffle, no UDF):
  whole-stage codegen over the words array.
* Mixture sampling is a per-row deterministic hash threshold — no
  shuffle, no RNG state, reproducible across retries/executors by
  construction (same reason :mod:`..plans.skew` salts with hashes, not
  ``rand()``).

Hash choice mirrors :func:`..operators.dedup.simhash_pairs`:
``xxhash64`` is the codegen'd scale default; ``md5_60`` (top 15 hex
chars of md5 → 60-bit int) is bit-reproducible in DuckDB, which lets the
declared queries hash-check the FULL pipeline against a SQL oracle.
"""

from __future__ import annotations

from typing import Mapping

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import md5_60, split_words

__all__ = [
    "decontaminate_ngrams",
    "decontaminate_spans",
    "eval_contamination_report",
    "repetition_stats",
    "mixture_sample",
    "temperature_mixture",
    "unimax_mixture",
    "split_thresholds",
    "leak_safe_split",
    "select_keepers",
    "span_dedup",
    "boilerplate_spans",
    "epoch_upsample",
    "weighted_sample",
    "novelty_stats",
    "corpus_diff",
    "bloom_decontaminate",
    "fuzzy_decontaminate",
    "stratified_sample",
]


def _gram_hash(gram: Column, hash_fn: str) -> Column:
    if hash_fn == "xxhash64":
        return F.xxhash64(gram)
    if hash_fn == "md5_60":
        return md5_60(gram)
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def _ngram_strings(text_col: str, n: int) -> Column:
    """Distinct word n-gram strings of ``text_col`` (empty array for docs
    shorter than ``n`` words)."""
    w = split_words(F.col(text_col))
    grams = F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - n),
            lambda i: F.concat_ws(" ", F.slice(w, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def _ngram_hashes(text_col: str, n: int, hash_fn: str) -> Column:
    """Distinct hashed word n-grams of ``text_col`` (empty array for docs
    shorter than ``n`` words)."""
    return F.transform(_ngram_strings(text_col, n), lambda g: _gram_hash(g, hash_fn))


def decontaminate_ngrams(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_hits: int = 1,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing word
    ``n``-grams with an evaluation set.

    Returns one row per corpus document: ``(doc_id, n_hits,
    contaminated)`` where ``n_hits`` counts DISTINCT shared n-grams and
    ``contaminated = n_hits >= min_hits`` — callers anti-filter on the
    flag.  This is the GPT-3/C4-style leak filter (they used 13-gram
    overlap; ``n`` is a knob because synthetic corpora have denser
    vocabularies).

    Plan: both sides explode to distinct hashed grams; the benchmark side
    (an eval set — small by nature) aggregates to a distinct-gram table
    and broadcasts; one broadcast hash join + one count-distinct per doc;
    clean docs re-enter with ``n_hits = 0`` via a left join.
    """
    c_grams = corpus.select(
        F.col(id_col).alias("doc_id"), F.explode(_ngram_hashes(text_col, n, hash_fn)).alias("g")
    )
    b_grams = F.broadcast(
        benchmark.select(F.explode(_ngram_hashes(text_col, n, hash_fn)).alias("g")).distinct()
    )
    hits = (
        c_grams.join(b_grams, "g")
        .groupBy("doc_id")
        .agg(F.count_distinct("g").alias("n_hits"))
    )
    return (
        corpus.select(F.col(id_col).alias("doc_id"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) >= min_hits).alias("contaminated"),
        )
    )


def repetition_stats(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_ratio: float = 0.2,
) -> DataFrame:
    """Intra-document repetition: fraction of duplicated word ``n``-grams.

    ``rep_ratio = 1 - distinct_grams / total_grams`` (0.0 for docs
    shorter than ``n`` words); ``keep = rep_ratio <= max_ratio`` is the
    C4-style repetitive-document filter.  Pure per-row expressions —
    no shuffle, no Python; whole-stage codegen end to end.
    """
    w = split_words(F.col(text_col))
    grams = F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - n),
            lambda i: F.concat_ws(" ", F.slice(w, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    total = F.size(grams)
    distinct = F.size(F.array_distinct(grams))
    ratio = F.when(total > 0, 1.0 - distinct.cast("double") / total).otherwise(F.lit(0.0))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        total.cast("long").alias("total_ngrams"),
        distinct.cast("long").alias("distinct_ngrams"),
        F.round(ratio, 6).alias("rep_ratio"),
        (F.round(ratio, 6) <= max_ratio).alias("keep"),
    )


def mixture_sample(
    docs: DataFrame,
    rates: Mapping[str, float],
    *,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    seed: str = "mix",
    default_rate: float = 1.0,
) -> DataFrame:
    """Deterministic stratified sampling to a target mixture.

    Keeps each document iff ``hash(seed, doc_id) / 2^60 < rate`` for its
    stratum — the standard way to down-weight an over-represented
    language/source in a pre-training mix.  The decision is a pure
    function of ``(seed, doc_id)``: re-running the pipeline, retrying a
    task, or adding columns never changes the sample (no ``rand()``), and
    changing ``seed`` draws an independent sample.  Uses the md5-based
    60-bit hash so the oracle reproduces decisions bit-exactly.
    """
    # thresholds as exact integer literals (computed driver-side, not via
    # a float cast in the plan) so Spark's truncating and DuckDB's
    # rounding double->long casts can't disagree at the boundary
    threshold = F.lit(int(float(default_rate) * (1 << 60)))
    for k, v in sorted(rates.items()):
        threshold = F.when(
            F.col(stratum_col) == k, F.lit(int(float(v) * (1 << 60)))
        ).otherwise(threshold)
    u = _gram_hash(
        F.concat(F.lit(seed), F.lit(":"), F.col(id_col).cast("string")), "md5_60"
    )
    return docs.filter(u < threshold)


def _doc_spans(
    docs: DataFrame,
    *,
    text_col: str,
    id_col: str,
    span_words: int,
    hash_fn: str,
) -> DataFrame:
    """``(doc_id, span_idx, span, h)``: each document split into
    contiguous ``span_words``-word windows (the C4/CCNet "line" unit for
    a corpus with no sentence boundaries), with the span's join hash.
    Shared by :func:`span_dedup` and :func:`boilerplate_spans`."""
    w = split_words(F.col(text_col))
    n_spans = F.ceil(F.size(w) / F.lit(float(span_words))).cast("int")
    return (
        docs.select(F.col(id_col).alias("doc_id"), w.alias("_w"), n_spans.alias("_n"))
        .select(
            "doc_id",
            F.posexplode(
                # sequence(1, 0) yields DESCENDING [1, 0], not [] — guard
                # zero-word docs explicitly (they re-enter via the final
                # left join with text = '').
                F.when(
                    F.col("_n") >= 1,
                    F.transform(
                        F.sequence(F.lit(1), F.col("_n")),
                        lambda i: F.concat_ws(
                            " ", F.slice(F.col("_w"), (i - 1) * span_words + 1, span_words)
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("span_idx", "span"),
        )
        .select("doc_id", "span_idx", "span", _gram_hash(F.col("span"), hash_fn).alias("h"))
    )


def boilerplate_spans(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_words: int = 10,
    max_docs: int = 2,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """CCNet/RefinedWeb-style boilerplate removal: a span occurring in
    MORE THAN ``max_docs`` distinct documents is boilerplate (headers,
    footers, navigation chrome, license blurbs) and is removed from
    EVERY document — including its first occurrence, which is what
    distinguishes this from :func:`span_dedup` (C4-style "keep exactly
    one copy").  Both passes run in real pretraining pipelines: line
    frequency kills chrome, span dedup kills copied content.

    Returns one row per input document: ``(doc_id, n_spans, n_boiler,
    text)`` — ``n_boiler`` the number of this document's spans that were
    boilerplate, ``text`` the surviving spans re-joined in order (''
    when everything was chrome).

    Plan / 100 TB notes: the frequency table is
    ``groupBy(h).agg(count_distinct(doc_id))`` — Spark's two-phase
    distinct aggregate partially dedups ``(h, doc_id)`` map-side, so a
    boilerplate span repeated once per page of a billion-page site
    shuffles one row per (task, span), not per page.  The boilerplate
    hash set joins back LEFT ANTI on the 64-bit hash (no strings cross
    the exchange) and AQE picks broadcast when the set is small — it is
    corpus-dependent, so it is NOT collected driver-side.  Reassembly is
    the same bounded ``collect_list`` per doc as :func:`span_dedup`.
    """
    spans = _doc_spans(
        docs, text_col=text_col, id_col=id_col, span_words=span_words, hash_fn=hash_fn
    )
    boiler = (
        spans.groupBy("h")
        .agg(F.count_distinct(F.col("doc_id")).alias("_nd"))
        .filter(F.col("_nd") > max_docs)
        .select("h")
    )
    kept = (
        spans.join(boiler, "h", "left_anti")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("span_idx", "span"))),
                    lambda s: s["span"],
                ),
                " ",
            ).alias("text"),
        )
    )
    totals = spans.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_spans"))
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(totals, "doc_id", "left")
        .join(kept, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
            (
                F.coalesce(F.col("n_spans"), F.lit(0))
                - F.coalesce(F.col("n_kept"), F.lit(0))
            ).cast("long").alias("n_boiler"),
            F.coalesce(F.col("text"), F.lit("")).alias("text"),
        )
    )


def span_dedup(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_words: int = 10,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """C4-style global span deduplication: the corpus keeps exactly ONE
    occurrence of every distinct ``span_words``-word span, and documents
    are rebuilt from their surviving spans.

    C4 dedups at the "three-sentence span" level; here the unit is a
    fixed word window (the synthetic corpus has no sentence boundaries),
    which is the same operator shape.  The keeper of a duplicated span is
    its FIRST occurrence — minimum ``(doc_id, span_idx)`` — so output is
    deterministic and idempotent.  Returns one row per input document:
    ``(doc_id, n_spans, n_kept, text)`` where ``text`` is the surviving
    spans re-joined in order ('' when every span was a duplicate).

    Plan / 100 TB notes: spans explode to ``(doc_id, span_idx, hash)``
    and the keeper per hash is a ``min(struct(doc_id, span_idx))``
    aggregate — partial map-side combine collapses each task's
    duplicates BEFORE the exchange, so a boilerplate span repeated a
    billion times shuffles one row per task, not a billion (this is why
    it is an aggregate and not a ``row_number`` window, which would
    shuffle every occurrence to one partition).  The winners table (one
    row per distinct span) joins back on the hash: hot hashes have a
    1-row build side, so the join fans out nothing.  Reassembly is one
    ``collect_list`` aggregate keyed by doc — group size ≤ spans/doc.
    Spans join as 64-bit hashes, never strings (``md5_60`` makes the
    whole operator oracle-replayable, as in :func:`mixture_sample`).
    """
    spans = _doc_spans(
        docs, text_col=text_col, id_col=id_col, span_words=span_words, hash_fn=hash_fn
    )
    winners = spans.groupBy("h").agg(
        F.min(F.struct("doc_id", "span_idx")).alias("first")
    ).select("h", F.col("first.doc_id").alias("w_doc"), F.col("first.span_idx").alias("w_idx"))
    kept = (
        spans.join(winners, "h")
        .filter((F.col("doc_id") == F.col("w_doc")) & (F.col("span_idx") == F.col("w_idx")))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("span_idx", "span"))),
                    lambda s: s["span"],
                ),
                " ",
            ).alias("text"),
        )
    )
    totals = spans.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_spans"))
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(totals, "doc_id", "left")
        .join(kept, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce(F.col("text"), F.lit("")).alias("text"),
        )
    )


def exact_substring_spans(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_words: int = 8,
    min_count: int = 2,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Maximal exact-repeated substrings at span granularity — the
    distributed restatement of suffix-array ExactSubstr dedup (Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): every maximal word range that occurs (as an exact
    substring) at least ``min_count`` times anywhere in the corpus,
    including self-repeats within one document.

    Where :func:`span_dedup` hashes NON-overlapping fixed windows (it
    can miss a duplicate straddling a window boundary), this operator
    slides a ``gram_words`` gram at stride 1 — the same
    sorted-suffix-equivalence a suffix array provides: a substring of
    length ≥ ``gram_words`` is repeated iff every one of its grams is
    repeated, so the union of repeated-gram positions, merged into
    islands, is exactly the set of maximal repeated spans (at gram
    resolution).  Returns ``(doc_id, span_idx, span_start, span_end,
    n_grams)`` — 0-based inclusive WORD ranges per document, islands
    numbered 1.. in position order; a downstream pass can cut or drop
    these ranges surgically (the ``decontaminate_spans`` pattern).

    Plan / 100 TB notes: one explode to ``(doc_id, pos, gram_hash)``
    (codegen, stride-1 slice), ONE map-side-combined ``groupBy(h)``
    count (a billion-time boilerplate gram shuffles one row per task),
    an equi-join back on the 64-bit hash (never strings), and the
    island merge — two windows partitioned by ``doc_id`` over the
    REPEATED positions only (a few rows per doc), not the corpus.
    No all-pairs anywhere; suffix arrays' O(total-corpus) global sort
    is replaced by the gram-hash shuffle, which partitions freely.
    """
    from pyspark.sql import Window

    if gram_words < 1 or min_count < 2:
        raise ValueError("gram_words >= 1 and min_count >= 2")
    w = split_words(F.col(text_col))
    grams = (
        docs.select(F.col(id_col).alias("doc_id"), w.alias("_w"), F.size(w).alias("_n"))
        .filter(F.col("_n") >= gram_words)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.col("_n") - gram_words),
                    lambda i: F.concat_ws(
                        " ", F.slice(F.col("_w"), i + 1, gram_words)
                    ),
                )
            ).alias("pos", "gram"),
        )
        .select("doc_id", "pos", _gram_hash(F.col("gram"), hash_fn).alias("h"))
    )
    dup = (
        grams.groupBy("h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("h")
    )
    pos = grams.join(dup, "h").select("doc_id", "pos")
    wd = Window.partitionBy("doc_id").orderBy("pos")
    isl = (
        pos.withColumn(
            "_new",
            F.when(
                F.col("pos") - F.lag("pos").over(wd) <= gram_words, F.lit(0)
            ).otherwise(F.lit(1)),
        )
        .withColumn(
            "island",
            F.sum("_new").over(wd.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return isl.groupBy("doc_id", "island").agg(
        F.min("pos").cast("long").alias("span_start"),
        (F.max("pos") + gram_words - 1).cast("long").alias("span_end"),
        F.count(F.lit(1)).alias("n_grams"),
    ).select(
        "doc_id",
        F.col("island").cast("long").alias("span_idx"),
        "span_start",
        "span_end",
        "n_grams",
    )


def epoch_upsample(
    docs: DataFrame,
    epochs: Mapping[str, float],
    *,
    stratum_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "epoch",
    default_epochs: float = 1.0,
    max_epochs: int = 64,
) -> DataFrame:
    """Deterministic mixture UPsampling: repeat each document
    ``epochs[stratum]`` times — the Llama-style recipe where
    high-quality sources (books, wiki) see >1 epoch in the training mix
    while bulk web text sees ≤1.

    Fractional epochs are exact in expectation and deterministic per
    document: ``copies = floor(e) + (hash(seed, doc_id)/2^60 <
    frac(e))``, the same seeded md5_60 threshold device as
    :func:`mixture_sample` (a rate of 0 drops the stratum; rates < 1
    behave exactly like downsampling).  Returns one row per COPY:
    ``(doc_id, stratum, copy)`` with ``copy`` in ``1..copies`` —
    downstream shuffles (e.g. :func:`..operators.packing.pack_documents`
    keyed on (doc_id, copy)) spread copies across tasks, so upsampling
    never concentrates a hot document.

    Per-row codegen only — the copy count is a pure function of
    ``(seed, doc_id, stratum)`` and the fan-out is one ``explode`` of a
    ``sequence`` bounded by ``max_epochs`` (guards a typo'd rate from
    exploding the corpus 10^6×); no shuffle, no RNG state.
    """
    if not 0 <= float(default_epochs) <= max_epochs:
        raise ValueError(
            f"default_epochs must be in [0, {max_epochs}]: {default_epochs}"
        )
    int_part = F.lit(int(default_epochs))
    frac_threshold = F.lit(int((float(default_epochs) % 1.0) * (1 << 60)))
    for k, v in sorted(epochs.items()):
        e = float(v)
        if not 0 <= e <= max_epochs:
            raise ValueError(f"epochs for {k!r} must be in [0, {max_epochs}]: {e}")
        int_part = F.when(F.col(stratum_col) == k, F.lit(int(e))).otherwise(int_part)
        frac_threshold = F.when(
            F.col(stratum_col) == k, F.lit(int((e % 1.0) * (1 << 60)))
        ).otherwise(frac_threshold)
    u = _gram_hash(
        F.concat(F.lit(seed), F.lit(":"), F.col(id_col).cast("string")), "md5_60"
    )
    copies = int_part + F.when(u < frac_threshold, 1).otherwise(0)
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.col(stratum_col).alias("stratum"),
            copies.alias("_copies"),
        )
        .filter(F.col("_copies") > 0)
        .select(
            "doc_id",
            "stratum",
            F.explode(F.sequence(F.lit(1), F.col("_copies"))).alias("copy"),
        )
    )


def novelty_stats(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    distinct word ``n``-grams that appear NOWHERE else in the corpus —
    the duplication-fraction quality signal (RefinedWeb-style): low
    novelty means the document is mostly boilerplate shared with other
    documents, even when no single pair crosses a dedup threshold.

    Returns ``(doc_id, n_grams, n_novel, novelty)`` with ``novelty =
    round(n_novel / n_grams, 6)`` (null for docs shorter than ``n``
    words).

    Scale shape: one explode to distinct hashed grams, one gram
    document-frequency aggregate (map-side combine), one UNHINTED join
    back on the 64-bit hash — gram vocabularies grow with the corpus,
    so no forced broadcast (the r3-verdict rule) — then a per-doc
    aggregate.  Every shuffled row is longs."""
    g = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(_ngram_hashes(text_col, n, hash_fn)).alias("g")
    )
    dfreq = g.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    per_doc = (
        g.join(dfreq, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("n_novel"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("long").alias("n_novel"),
            F.when(
                F.col("n_grams").isNotNull(),
                F.round(F.col("n_novel").cast("double") / F.col("n_grams"), 6),
            ).alias("novelty"),
        )
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental corpus diff: classify every document id as ``added``
    (new only), ``removed`` (old only), ``changed`` (both, different
    content hash), or ``unchanged`` — the primitive an incremental
    pipeline runs FIRST so downstream stages (dedup, scoring, packing)
    touch only the delta instead of recomputing 100 TB.

    Returns ``(doc_id, status, old_hash, new_hash)``; content equality
    is md5 of the text (hashes compare, text never shuffles twice).

    Scale shape: one full-outer shuffle join on the id.  For recurring
    diffs, write both snapshots with
    :func:`..sources.sinks.save_bucketed` on ``doc_id`` — bucketed
    tables full-outer-join with ZERO exchanges, making the diff a
    local merge per bucket."""
    o = old.select(
        F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("old_hash")
    )
    nw = new.select(
        F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("new_hash")
    )
    return o.join(nw, "doc_id", "full_outer").select(
        "doc_id",
        F.when(F.col("old_hash").isNull(), F.lit("added"))
        .when(F.col("new_hash").isNull(), F.lit("removed"))
        .when(F.col("old_hash") == F.col("new_hash"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("status"),
        "old_hash",
        "new_hash",
    )


def weighted_sample(
    docs: DataFrame,
    k: int,
    *,
    weight_col: str,
    id_col: str = "doc_id",
    seed: str = "ws",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement: the
    ``k`` documents with the highest Efraimidis–Spirakis priorities
    ``ln(u) / w`` (``u`` a seeded per-doc uniform, ``w`` the weight) —
    the exact distributed analog of "sample k docs proportional to
    quality", used to carve a high-quality subset out of a bulk corpus.

    A-ES reduces weighted sampling to a TOP-K: every row gets an
    independent priority and the sample is the k largest — no sequential
    reservoir state, so it parallelizes perfectly.  ``u`` comes from the
    seeded md5_60 hash ((h+1) / (2^60+1) ∈ (0,1]), making the draw a
    pure function of ``(seed, doc_id)``: re-runs, task retries, and
    column changes never change the sample, and the DuckDB oracle
    replays it exactly.  Priorities are rounded to 6 dp BEFORE ranking
    (ties then break on id) so a last-ulp ``ln`` difference between
    engines can never flip the selection.

    Scale shape: ``orderBy(...).limit(k)`` compiles to
    ``TakeOrderedAndProject`` — each task keeps a k-row heap and only
    those heaps move — NOT a global sort shuffle; the 100 TB cost is one
    scan plus k rows per task over the wire.  Rows with weight ≤ 0 are
    EXCLUDED before ranking (A-ES is defined for positive weights;
    ``ln(u)/w`` would otherwise rank a negative weight above every
    positive one, and ``w = 0`` divides by zero), so the sample may
    hold fewer than ``k`` rows when positive-weight rows run out."""
    h = _gram_hash(
        F.concat(F.lit(seed), F.lit(":"), F.col(id_col).cast("string")), "md5_60"
    )
    u = (h.cast("double") + F.lit(1.0)) / F.lit(float((1 << 60) + 1))
    pr = F.round(F.log(u) / F.col(weight_col).cast("double"), 6)
    return (
        docs.filter(F.col(weight_col) > 0)
        .withColumn("priority", pr)
        .orderBy(F.col("priority").desc(), F.col(id_col))
        .limit(k)
    )


def split_thresholds(
    ratios: tuple[tuple[str, float], ...],
) -> tuple[tuple[str, int], ...]:
    """Cumulative integer split thresholds on the 2^60 hash scale — the
    SINGLE source of truth shared by :func:`leak_safe_split` and the
    declared DuckDB oracle SQL.

    Accumulation is exact rational arithmetic (``Fraction(str(r))``),
    never floating point: ``0.9 + 0.05`` in doubles is
    ``0.9500000000000001``, and an operator and an oracle that each
    recompute ``int(cum * 2^60)`` independently land 128 hash values
    apart — documents in that window get different splits.  One entry
    per non-final ratio; the final split is the CASE/otherwise arm.
    """
    from fractions import Fraction

    cum = Fraction(0)
    out: list[tuple[str, int]] = []
    for name, r in ratios[:-1]:
        cum += Fraction(str(r))
        out.append((name, int(cum * (1 << 60))))
    return tuple(out)


def leak_safe_split(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    *,
    clusters: DataFrame | None = None,
    ratios: tuple[tuple[str, float], ...] = (("train", 0.9), ("val", 0.05), ("test", 0.05)),
    seed: str = "split",
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Train/val/test split that can't leak near-duplicates across splits.

    A doc-level random split puts one copy of a duplicated document in
    train and another in test — silent eval contamination.  This assigns
    whole near-dup CLUSTERS: resolve ``pairs`` with
    :func:`..operators.graph.connected_components`, group each document
    under its cluster root (itself if unpaired), and place the *group*
    by the seeded hash threshold.  Every member of a cluster lands in
    the same split by construction.

    ``clusters`` — a pre-resolved ``(id, cluster_id)`` DataFrame —
    short-circuits the internal connected-components run.  Composed
    pipelines that also call :func:`select_keepers` should resolve the
    cluster map ONCE, :func:`..plans.staging.stage` it, and pass it to
    both consumers; otherwise each consumer re-derives pairs and
    re-iterates CC from raw text (the pipeline's dominant cost).

    Returns ``(doc_id, group_id, split)``.  Ratios are an ordered tuple
    so cumulative thresholds are deterministic; thresholds come from
    :func:`split_thresholds` (exact integer literals — no double
    accumulation; the oracle SQL reads the same values).
    """
    cc = _resolve_clusters(pairs, clusters, src=src, dst=dst)
    base = docs.select(F.col(id_col).alias("doc_id")).join(
        cc.select(F.col("id").alias("doc_id"), "cluster_id"), "doc_id", "left"
    )
    group = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    u = _gram_hash(F.concat(F.lit(seed), F.lit(":"), group.cast("string")), "md5_60")

    split: Column | None = None
    for name, t in split_thresholds(ratios):
        cond = u < t
        split = F.when(cond, name) if split is None else split.when(cond, name)
    split = (F.lit(ratios[-1][0]) if split is None else split.otherwise(ratios[-1][0]))
    return base.select("doc_id", group.alias("group_id"), split.alias("split"))


def _resolve_clusters(
    pairs: DataFrame | None, clusters: DataFrame | None, *, src: str, dst: str
) -> DataFrame:
    """``clusters`` verbatim when supplied, else connected components over
    ``pairs`` — exactly one of the two must be given."""
    if clusters is not None:
        return clusters
    if pairs is None:
        raise ValueError("pass either pairs or a pre-resolved clusters DataFrame")
    from .graph import connected_components

    return connected_components(pairs, src=src, dst=dst)


def select_keepers(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    *,
    clusters: DataFrame | None = None,
    quality_col: str = "n_chars",
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Quality-aware keeper selection — the step AFTER clustering: each
    near-dup cluster keeps its best document and drops the rest.

    ``dedup_clusters``'s min-id keeper is the arbitrary baseline; real
    pipelines keep the highest-quality copy (here: max ``quality_col``,
    ties broken by min id — "keep the longest" when the column is a
    length).  Returns one row per document: ``(doc_id, cluster_id,
    quality, is_keeper)`` with singletons forming their own cluster and
    keeping themselves.

    ``clusters`` — a pre-resolved ``(id, cluster_id)`` DataFrame —
    short-circuits the internal connected-components run; composed
    pipelines resolve the cluster map once, stage it, and share it with
    :func:`leak_safe_split` (see that docstring).

    Plan: connected components over the pair stream (shuffles only
    longs), one narrow join to attach quality, one per-cluster window.
    At scale the window re-keys on cluster_id only; cluster sizes are
    near-dup-group sized, so no partition skew.
    """
    from pyspark.sql import Window

    cc = _resolve_clusters(pairs, clusters, src=src, dst=dst)
    base = docs.select(
        F.col(id_col).alias("doc_id"), F.col(quality_col).cast("long").alias("quality")
    ).join(cc.withColumnRenamed("id", "doc_id"), "doc_id", "left")
    clustered = base.select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        "quality",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    return clustered.select(
        "doc_id",
        "cluster_id",
        "quality",
        (F.row_number().over(w) == 1).alias("is_keeper"),
    )


def _bloom_bit_positions(gram: Column, *, m_bits: int, k: int, hash_fn: str) -> Column:
    """The ``k`` Bloom bit positions of one gram string: hash of
    ``gram + '#' + j`` mod ``m_bits`` for j in 0..k-1.  Salting the gram
    string (not re-mixing one hash) keeps every position independently
    replayable in any engine that has the same string hash."""
    return F.array(
        *[
            F.pmod(_gram_hash(F.concat(gram, F.lit(f"#{j}")), hash_fn), F.lit(m_bits))
            for j in range(k)
        ]
    )


def bloom_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
    m_bits: int = 1 << 16,
    k: int = 3,
    hash_fn: str = "md5_60",
) -> DataFrame:
    """Bloom-filter benchmark decontamination: the fixed-memory scale
    variant of :func:`decontaminate_ngrams`.

    Where ``decontaminate_ngrams`` broadcasts the benchmark's distinct
    gram *table* (size grows with the eval set), this builds an
    ``m_bits``-bit Bloom filter of the benchmark's word ``n``-grams —
    **constant size regardless of eval-set cardinality** (an 8 GiB eval
    suite still compresses to ``m_bits/8`` bytes) — and streams the
    corpus through it map-side: no join, no shuffle, one Arrow-batched
    membership probe per document.  This is how decontamination actually
    runs at 100 TB: the filter rides the task closure; corpus grams
    never leave their executor.

    Bloom semantics: no false negatives — every truly shared gram is
    flagged; false positives at rate ~``(1-e^(-kN/m))^k`` flag extra
    grams (conservative for decontamination: may drop a clean doc, never
    keeps a leaked one).  With deterministic ``md5_60`` bit positions the
    *exact* flagged set — false positives included — is bit-reproducible
    in any engine, so the declared query hash-checks against a DuckDB
    replay of the same filter.

    Returns ``(doc_id, n_flagged, contaminated)`` — ``n_flagged`` counts
    the corpus doc's distinct grams whose ``k`` bits are all set.

    NOTE: building the filter runs an EAGER benchmark-side job at
    DataFrame-construction time (explode → distinct bits → collect) —
    the bitset must exist on the driver before it can ride the task
    closure.  This is the same documented pattern as the plan-stats
    probes in ``operators/matching.py``: an eager job bounded by the
    SMALL side's size (here ≤ ``m_bits`` longs), never by the corpus.
    Callers composing many plans before executing any should construct
    this one last or pass a pre-filtered benchmark.
    """
    bit_rows = (
        benchmark.select(F.explode(_ngram_strings(text_col, n)).alias("g"))
        .select(
            F.explode(
                _bloom_bit_positions(F.col("g"), m_bits=m_bits, k=k, hash_fn=hash_fn)
            ).alias("bit")
        )
        .distinct()
        .collect()
    )
    bitset = np.zeros(m_bits, dtype=bool)
    bitset[[r["bit"] for r in bit_rows]] = True
    packed = corpus.sparkSession.sparkContext.broadcast(np.packbits(bitset))

    @F.pandas_udf("long")
    def _n_flagged(flat_bits: pd.Series) -> pd.Series:
        buf = packed.value
        out = np.zeros(len(flat_bits), dtype=np.int64)
        for i, arr in enumerate(flat_bits):
            a = np.asarray(arr, dtype=np.int64)
            if a.size == 0:
                continue
            a = a.reshape(-1, k)
            # np.packbits is MSB-first: bit p lives at byte p>>3, mask 1<<(7-(p&7))
            hit = (buf[a >> 3] >> (7 - (a & 7))) & 1
            out[i] = int(hit.all(axis=1).sum())
        return pd.Series(out)

    flat = F.flatten(
        F.transform(
            _ngram_strings(text_col, n),
            lambda g: _bloom_bit_positions(g, m_bits=m_bits, k=k, hash_fn=hash_fn),
        )
    )
    return corpus.select(
        F.col(id_col).alias("doc_id"), _n_flagged(flat).alias("n_flagged")
    ).select("doc_id", "n_flagged", (F.col("n_flagged") > 0).alias("contaminated"))


def stratified_sample(
    df: DataFrame,
    *,
    strata_col: str,
    id_col: str = "doc_id",
    n_per_stratum: int,
    seed: str = "s1",
) -> DataFrame:
    """Deterministic exact-``n``-per-stratum sampling: every stratum
    contributes exactly ``min(n, |stratum|)`` rows, chosen by ranking a
    seeded hash of the row id — the fixed-quota companion to
    :func:`mixture_sample` (rate-based) and :func:`weighted_sample`
    (global weighted top-k).

    Returns ``(id, stratum, sample_rank)`` for the selected rows, rank
    1-based within the stratum.  Determinism: the order key is
    ``md5_60(seed + '#' + id)`` with the id itself as tiebreak — no RNG
    state, identical under retries and across engines.

    Scale: one shuffle on the stratum key; the rank-≤-n filter gets
    Spark's ``WindowGroupLimit`` pushdown (partial per-partition top-n
    before the shuffle), so a billion-row stratum moves only ~n rows per
    map task, not the stratum.
    """
    from pyspark.sql import Window

    order = _gram_hash(
        F.concat(F.lit(f"{seed}#"), F.col(id_col).cast("string")), "md5_60"
    )
    w = Window.partitionBy(strata_col).orderBy(order.asc(), F.col(id_col).asc())
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.col(strata_col).alias("stratum"),
            F.row_number().over(w).alias("sample_rank"),
        )
        .filter(F.col("sample_rank") <= n_per_stratum)
    )


def fuzzy_decontaminate(
    corpus: DataFrame,
    bench: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    shingle_n: int = 2,
) -> DataFrame:
    """FUZZY benchmark decontamination: flag corpus documents that are
    NEAR-duplicates of any benchmark document (shingle Jaccard ≥
    ``threshold``), not just exact n-gram sharers — the contamination
    that survives :func:`decontaminate_ngrams`'s exact-overlap test
    when eval data was lightly paraphrased or re-wrapped.

    Same MinHash-LSH machinery as
    :func:`..operators.dedup.minhash_lsh_pairs`, but CROSS-corpus: both
    sides are shingled and banded with identical permutation seeds
    (:func:`..operators.dedup.band_signatures`), candidates are corpus×
    bench band collisions only (never corpus×corpus), and every
    candidate is exact-Jaccard verified.  Returns one row per corpus
    document: ``(doc_id, n_matches, best_jaccard_grid, contaminated)``
    with ``best_jaccard_grid = (|∩| * 1_000_000) div |∪|`` — the
    threshold test and the reported similarity both live on the exact
    int64 millionths grid (ADVICE r6 #4: ``round()`` on a raw double
    quotient is the known Spark-vs-DuckDB divergence class; the
    mmr/kcenter convention applies here too).

    100 TB notes: the band join ships three longs per (doc, band); the
    bench side is eval-set sized, so its banded table broadcasts and
    the corpus never shuffles.  Verification joins move shingle arrays
    only for band-colliding candidates — work tracks true contamination
    volume, not |corpus|×|bench|.
    """
    from fractions import Fraction

    from .dedup import _staged_shingle_hashes, band_signatures
    from ..plans.staging import stage

    _thr_frac = Fraction(threshold).limit_denominator(1_000_000)
    base_c = stage(_staged_shingle_hashes(corpus, text_col, id_col, shingle_n))
    base_b = stage(_staged_shingle_hashes(bench, text_col, id_col, shingle_n))
    banded_c = band_signatures(base_c, num_perm=num_perm, bands=bands).select(
        F.col("doc_id"), "band", "band_sig"
    )
    banded_b = band_signatures(base_b, num_perm=num_perm, bands=bands).select(
        F.col("doc_id").alias("bench_id"), "band", "band_sig"
    )
    cand = (
        banded_c.join(F.broadcast(banded_b), ["band", "band_sig"])
        .select("doc_id", "bench_id")
        .dropDuplicates(["doc_id", "bench_id"])
    )
    sh_c = base_c.select("doc_id", F.col("sh").alias("sh_c"))
    sh_b = base_b.select(F.col("doc_id").alias("bench_id"), F.col("sh").alias("sh_b"))
    verified = (
        cand.join(sh_c, "doc_id")
        .join(F.broadcast(sh_b), "bench_id")
        .select(
            "doc_id",
            F.size(F.array_intersect(F.col("sh_c"), F.col("sh_b"))).alias("_i"),
            (F.size(F.col("sh_c")) + F.size(F.col("sh_b"))).alias("_sz"),
        )
        .select(
            "doc_id",
            F.col("_i").cast("long").alias("_in"),
            (F.col("_sz") - F.col("_i")).cast("long").alias("_un"),
        )
        # exact rational test: |∩|/|∪| >= threshold, on integers
        # (Fraction recovers the intended rational from the float arg:
        # 0.3 -> 3/10, 2/3 -> 2/3 — no half-grid-point boundary loss)
        .filter(
            F.col("_in") * F.lit(_thr_frac.denominator)
            >= F.lit(_thr_frac.numerator) * F.col("_un")
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.max(
                F.expr("_in * 1000000 DIV _un").cast("long")
            ).alias("best_jaccard_grid"),
        )
    )
    return (
        corpus.select(F.col(id_col).alias("doc_id"))
        .join(verified, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_matches", F.lit(0)).cast("long").alias("n_matches"),
            F.coalesce("best_jaccard_grid", F.lit(0))
            .cast("long")
            .alias("best_jaccard_grid"),
            (F.coalesce("n_matches", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def eval_contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """The REVERSE view of :func:`decontaminate_ngrams`: which EVAL
    items are burned, and how badly.  Decontamination cleans the
    training side; the eval owner needs this report to drop or re-draw
    compromised benchmark items (the direction GPT-3's appendix C and
    every leakage audit actually publish).

    Returns one row per benchmark document: ``(doc_id, n_corpus_docs,
    n_shared_grams, burned)`` — the number of corpus documents sharing
    at least one ``n``-gram, the number of this item's distinct grams
    seen anywhere in the corpus, and ``burned = n_corpus_docs >= 1``.

    Plan / 100 TB notes: the BENCHMARK gram table (eval-sized)
    broadcasts with its doc ids attached; the corpus gram stream joins
    it map-side, so only actual HITS (bounded by contamination volume,
    tiny by nature) reach the exchange for the per-eval-item
    count-distinct.  The corpus is never shuffled.
    """
    b_grams = F.broadcast(
        benchmark.select(
            F.col(id_col).alias("doc_id"),
            F.explode(_ngram_hashes(text_col, n, hash_fn)).alias("g"),
        )
    )
    c_grams = corpus.select(
        F.col(id_col).alias("_cid"),
        F.explode(_ngram_hashes(text_col, n, hash_fn)).alias("g"),
    )
    hits = (
        c_grams.join(b_grams, "g")
        .groupBy("doc_id")
        .agg(
            F.count_distinct("_cid").alias("n_corpus_docs"),
            F.count_distinct("g").alias("n_shared_grams"),
        )
    )
    return (
        benchmark.select(F.col(id_col).alias("doc_id"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_corpus_docs", F.lit(0)).cast("long").alias("n_corpus_docs"),
            F.coalesce("n_shared_grams", F.lit(0)).cast("long").alias("n_shared_grams"),
            (F.coalesce("n_corpus_docs", F.lit(0)) >= 1).alias("burned"),
        )
    )


def decontaminate_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SURGICAL benchmark decontamination: instead of dropping whole
    documents that share an ``n``-gram with the eval set
    (:func:`decontaminate_ngrams`), cut ONLY the overlapping spans and
    keep the rest — the StarCoder/The-Stack-style treatment that
    preserves training tokens when contamination is a quoted snippet
    inside an otherwise-clean document.

    Every POSITIONAL ``n``-gram of a corpus doc is tested against the
    benchmark's distinct gram set; a hit poisons its ``n`` word
    positions; the union of poisoned positions is removed and the
    document rebuilt from the surviving words in order (lowercased
    normalization, the span_dedup family convention).  Returns one row
    per corpus document: ``(doc_id, n_words, n_removed, text)``.

    Plan / 100 TB notes: the benchmark side is an eval set — its
    distinct-gram table broadcasts (the decontaminate_ngrams contract);
    corpus grams stream map-side through the broadcast hash join as
    64-bit hashes.  Poisoned positions explode n rows per HIT (hits are
    rare by nature), the removal is a left-anti join on ``(doc, widx)``
    co-partitioned with the word table, and reassembly is one bounded
    ``collect_list`` per doc.
    """
    w = split_words(F.col(text_col))
    base = corpus.select(
        F.col(id_col).alias("doc_id"), w.alias("_w"), F.size(w).alias("_nw")
    )
    grams = base.filter(F.col("_nw") >= n).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.col("_nw") - n),
                lambda i: F.concat_ws(" ", F.slice(F.col("_w"), i + 1, n)),
            )
        ).alias("i", "_g"),
    ).select("doc_id", "i", _gram_hash(F.col("_g"), hash_fn).alias("g"))
    bset = F.broadcast(
        benchmark.select(
            F.explode(_ngram_hashes(text_col, n, hash_fn)).alias("g")
        ).distinct()
    )
    hits = grams.join(bset, "g").select("doc_id", "i")
    bad = hits.select(
        "doc_id", F.explode(F.sequence(F.col("i") + 1, F.col("i") + n)).alias("widx")
    ).distinct()
    words = base.select(
        "doc_id", F.posexplode("_w").alias("_p", "word")
    ).select("doc_id", (F.col("_p") + 1).alias("widx"), "word")
    kept = (
        words.join(bad, ["doc_id", "widx"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("widx", "word"))),
                    lambda s: s["word"],
                ),
                " ",
            ).alias("text"),
        )
    )
    return (
        base.select("doc_id", "_nw")
        .join(kept, "doc_id", "left")
        .select(
            "doc_id",
            F.col("_nw").cast("long").alias("n_words"),
            (F.col("_nw") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
            F.coalesce(F.col("text"), F.lit("")).alias("text"),
        )
    )


def unimax_mixture(
    docs: DataFrame,
    *,
    strata_col: str = "lang",
    text_col: str = "text",
    epoch_cap: int = 2,
    budget_permille: int = 1500,
) -> DataFrame:
    """UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer and
    More Effective Language Sampling for Large-Scale Multilingual
    Pretraining"): distribute a total training-token budget across
    strata by WATER-FILLING subject to a per-stratum repetition cap —
    every stratum gets as close to an equal share as possible, but never
    more than ``epoch_cap`` epochs of its own data.  This is the
    principled successor to temperature sampling (no tuned exponent, no
    over-repetition of tiny languages).

    Budget ``B = budget_permille/1000 × total corpus tokens``; caps
    ``c_i = epoch_cap × n_tokens_i``.  The water level solves
    ``Σ min(c_i, L) = B`` and has a closed form over the caps sorted
    ascending: stratum j is fully funded iff
    ``prefix(c_1..c_{j-1}) + (n−j+1)·c_j ≤ B`` (the level clears its
    cap), and the remaining strata share the leftover equally,
    ``L = (B − prefix(funded caps)) DIV n_rest`` — all exact int64, no
    iteration, ONE window pass over the per-stratum aggregate.

    Returns one row per stratum: ``(stratum, n_tokens, cap_tokens,
    alloc_tokens, epochs_grid)`` with ``epochs_grid = alloc·1e6 DIV
    n_tokens`` (millionths of an epoch).  ``Σ alloc ≤ B`` with deficit
    < n_rest from the floor division (documented, deterministic).

    Scale shape: one map-side-combined corpus aggregate (tokens per
    stratum), then pure window/broadcast arithmetic on an n_strata-row
    table — nothing else touches the corpus.
    """
    if epoch_cap < 1 or budget_permille < 0:
        raise ValueError("epoch_cap >= 1 and budget_permille >= 0")
    from pyspark.sql import Window

    sizes = (
        docs.select(
            F.col(strata_col).alias("stratum"), F.size(split_words(F.col(text_col))).alias("_t")
        )
        .groupBy("stratum")
        .agg(F.sum("_t").cast("long").alias("n_tokens"))
    )
    budget = sizes.agg(
        F.expr(f"sum(n_tokens) * {int(budget_permille)} DIV 1000").alias("b")
    )
    w = Window.orderBy("cap_tokens", "stratum")
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    capped = (
        sizes.select(
            "stratum",
            "n_tokens",
            (F.col("n_tokens") * epoch_cap).cast("long").alias("cap_tokens"),
        )
        .crossJoin(F.broadcast(budget))
        .select(
            "*",
            F.sum("cap_tokens").over(w).alias("_cum"),
            F.row_number().over(w).alias("_idx"),
            F.count(F.lit(1)).over(wall).alias("_n"),
        )
        # funded ⇔ the water level clears this stratum's cap:
        # prefix_{j-1} + (n-j+1)·c_j ≤ B
        .withColumn(
            "_funded",
            (F.col("_cum") - F.col("cap_tokens"))
            + (F.col("_n") - F.col("_idx") + 1) * F.col("cap_tokens")
            <= F.col("b"),
        )
    )
    level = capped.agg(
        F.coalesce(F.max(F.when(F.col("_funded"), F.col("_idx"))), F.lit(0)).alias(
            "_j"
        ),
        F.coalesce(
            F.max(F.when(F.col("_funded"), F.col("_cum"))), F.lit(0).cast("long")
        ).alias("_prefix"),
        F.max("_n").alias("_nn"),
        F.max("b").alias("_b"),
    ).select(
        F.when(
            F.col("_nn") > F.col("_j"),
            F.expr("(_b - _prefix) DIV (_nn - _j)"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("_level")
    )
    return (
        capped.crossJoin(F.broadcast(level))
        .select(
            "stratum",
            "n_tokens",
            "cap_tokens",
            F.when(F.col("_funded"), F.col("cap_tokens"))
            .otherwise(F.least(F.col("_level"), F.col("cap_tokens")))
            .cast("long")
            .alias("alloc_tokens"),
        )
        .withColumn(
            "epochs_grid",
            F.expr("alloc_tokens * 1000000 DIV greatest(n_tokens, 1)").cast("long"),
        )
    )


def temperature_mixture(
    docs: DataFrame,
    *,
    stratum_col: str = "source",
    alpha: float = 0.5,
    seed: str = "temp",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-scaled mixture sampling: rebalance strata so the
    post-sample share of stratum i is proportional to ``q_i^alpha``
    (q_i = its corpus share) — the multilingual/multi-source
    pre-training recipe (mBERT/XLM-R exponent sampling; alpha = 0.5 is
    temperature 2).  Down-sample-only: the keep rate is

        r_i = (n_min / n_i)^(1 - alpha)

    (the rarest stratum keeps everything; over-represented strata
    shrink toward the tempered share).  Unlike :func:`mixture_sample`,
    the rates are DERIVED FROM THE CORPUS — no hand-written rate map.

    Determinism across engines: ``1 - alpha`` must be a dyadic quarter
    (0.25 / 0.5 / 0.75) so the power is a composition of IEEE ``sqrt``
    — correctly rounded BY THE STANDARD in both engines, unlike
    ``pow``, whose last-ulp differences would shift the 2^60 keep
    threshold.  The per-stratum threshold is ``floor(r_i * 2^60)`` and
    the keep test is the :func:`mixture_sample` seeded md5_60 device.

    Scale: one stratum-count aggregate; the threshold table is
    #strata rows, broadcast; the keep test is a per-row hash compare.
    """
    if alpha not in (0.25, 0.5, 0.75):
        raise ValueError("alpha must be 0.25, 0.5 or 0.75 (sqrt-composable)")

    def _qpow(x: Column) -> Column:
        p = 1.0 - alpha
        if p == 0.5:
            return F.sqrt(x)
        if p == 0.25:
            return F.sqrt(F.sqrt(x))
        return F.sqrt(x) * F.sqrt(F.sqrt(x))  # p == 0.75

    from pyspark.sql import Window

    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cnt = docs.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("_n"))
    thr = cnt.select(
        stratum_col,
        F.floor(
            _qpow(F.min("_n").over(wall).cast("double") / F.col("_n"))
            * F.lit(1 << 60).cast("double")
        )
        .cast("long")
        .alias("_thr"),
    )
    u = _gram_hash(
        F.concat(F.lit(seed), F.lit(":"), F.col(id_col).cast("string")), "md5_60"
    )
    return (
        docs.join(F.broadcast(thr), stratum_col)
        .filter(u < F.col("_thr"))
        .drop("_thr")
    )
