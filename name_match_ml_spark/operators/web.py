"""URL/domain-level curation operators [EXT] — the web-corpus signals
(CCNet / RefinedWeb / Gopher-style pipelines) that act on a document's
URL rather than its text: URL-normalized exact dedup and per-domain
quality priors.

The driver corpus carries no URL column, so the declared queries derive
a deterministic synthetic URL from ``(source, doc_id)`` (documented in
the query docstrings and replayed verbatim in the oracle SQL); the
operators themselves take any string URL column and are the production
surface.

Reference note: the reference repo (main.py, 227 LoC) has no web-corpus
machinery; this extends the LLM-pipeline operator family (SURVEY §2.10).

Normalization contract (shared with the oracle, RE2-safe regexes only):
lowercase → strip ``http(s)://`` scheme → strip one leading ``www.`` →
strip ``#fragment`` then ``?query`` → strip trailing ``/``.  ``domain``
is the part before the first ``/`` of the normalized URL;
``registrable_domain`` its last two dot-labels (the public-suffix
heuristic that needs no suffix list).

Scale shape: pure per-row codegen for normalization (no UDF, no
shuffle); dedup is one groupBy on the normalized URL with min-doc_id
keeper selection; priors are one groupBy on the registrable domain with
map-side combine — all exactly-once passes over the corpus, no
driver-side state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import split_words

__all__ = ["normalized_url_cols", "url_dedup", "domain_quality_priors"]


def normalized_url_cols(url: Column) -> tuple[Column, Column, Column]:
    """``(norm_url, domain, registrable_domain)`` column expressions for
    a raw URL column, under the module's normalization contract."""
    u = F.lower(url)
    u = F.regexp_replace(u, r"^https?://", "")
    u = F.regexp_replace(u, r"^www\.", "")
    u = F.regexp_replace(u, r"#.*$", "")
    u = F.regexp_replace(u, r"\?.*$", "")
    norm = F.regexp_replace(u, r"/$", "")
    domain = F.split(norm, "/").getItem(0)
    labels = F.split(domain, r"\.")
    n = F.size(labels)
    registrable = F.when(n >= 2, F.concat_ws(
        ".", F.element_at(labels, -2), F.element_at(labels, -1)
    )).otherwise(domain)
    return norm, domain, registrable


def url_dedup(
    docs: DataFrame,
    *,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """URL-normalized exact deduplication: one row per distinct
    normalized URL — ``(norm_url, keeper_id, n_dups)`` with keeper =
    min ``doc_id`` (the deterministic keeper rule shared with
    ``dedup_exact``) and ``n_dups`` the number of documents collapsed.

    The cheapest dedup pass of a web pipeline: re-crawls and tracking-
    parameter variants collapse before any text is shingled.
    """
    norm, _, _ = normalized_url_cols(F.col(url_col))
    return (
        docs.select(norm.alias("norm_url"), F.col(id_col).alias("doc_id"))
        .groupBy("norm_url")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).cast("long").alias("n_dups"),
        )
    )


def domain_quality_priors(
    docs: DataFrame,
    *,
    url_col: str = "url",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-domain quality priors — the curation signal applied to every
    page of a domain before any per-document model runs (the
    common-crawl practice of boosting or demoting whole hosts):

    * ``n_docs`` — pages on the registrable domain;
    * ``uniq_grid = (distinct texts * 1e6) div n_docs`` — within-domain
      duplication prior (mirror-heavy domains score low);
    * ``words_grid = (total words * 1e6) div n_docs`` — mean document
      length prior (boilerplate farms score low);
    * ``prior_grid = (uniq_grid + min(words_grid, 100e6) div 100) div 2``
      — the combined int64 prior: equal-weight mix of uniqueness and
      length (length saturates at 100 words/doc so link farms can't buy
      prior with a single long page).

    All arithmetic on the exact int64 millionths grid (the repo's
    round()-free convention).
    """
    _, _, registrable = normalized_url_cols(F.col(url_col))
    words = F.size(split_words(F.col(text_col))).cast("long")
    per_dom = (
        docs.select(
            registrable.alias("domain"),
            F.col(id_col).alias("doc_id"),
            F.col(text_col).alias("_t"),
            words.alias("_w"),
        )
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("_t").cast("long").alias("_uniq"),
            F.sum("_w").alias("_words"),
        )
    )
    return per_dom.select(
        "domain",
        "n_docs",
        F.expr("_uniq * 1000000 DIV n_docs").cast("long").alias("uniq_grid"),
        F.expr("_words * 1000000 DIV n_docs").cast("long").alias("words_grid"),
        F.expr(
            "((_uniq * 1000000 DIV n_docs)"
            " + (least(_words * 1000000 DIV n_docs, 100000000) DIV 100)) DIV 2"
        )
        .cast("long")
        .alias("prior_grid"),
    )
