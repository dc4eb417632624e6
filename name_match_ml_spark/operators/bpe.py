"""Distributed BPE merge training [EXT]: learn byte-pair-encoding
merges over a corpus — the tokenizer-training pass of an LLM data
pipeline, expressed as Catalyst plans.

The reference has no tokenizer machinery at all; this follows the
original BPE recipe (Sennrich et al. 2016, "Neural Machine Translation
of Rare Words with Subword Units"): train on the WORD LEXICON with
frequencies, not the raw corpus — the corpus is scanned exactly once to
build ``(word, freq)``, and every merge round works on the
vocabulary-bounded symbol table (sum of distinct-word lengths rows, a
quantity that grows with the vocabulary, not with corpus bytes).  That
is precisely why BPE training scales to 100 TB: the heavy aggregation
happens once, and the iterative part never touches corpus-sized data.

Per round (all deterministic, no RNG):

1. pair counts: ``lead(sym)`` over each word's position order (one
   window over the standing ``word`` partitioning) → ``(a, b,
   Σ freq)`` partial-combining aggregate;
2. winner: max count, ties broken by ``(a, b)`` lexicographically —
   a 1-row ``orderBy().limit(1)`` broadcast (allowlisted nested-loop
   shape, like the corpus-count joins in :mod:`..functions.text`);
3. merge: left-to-right non-overlapping occurrences.  Within each
   maximal run of consecutive matching positions, occurrences at even
   offset from the run start merge (classic greedy semantics — for
   pair (a,a) on "aaaa" this merges positions 0&1 and 2&3); the
   follower row drops, positions renumber.

Rounds are unrolled in the driver with ``localCheckpoint`` per round
(the :mod:`.graph` convention — it cuts the exponentially-nesting
lineage of plan-in-loop construction).  Every step is integer/string
arithmetic, so the full merge table AND the final segmentation replay
bit-exactly in DuckDB as generated unrolled CTEs
(``suite._bpe_oracle_sql``).

Exhaustion semantics: once no adjacent pair remains, the winner set is
empty and — because the winner joins back with an INNER 1-row join —
the symbol table empties and later rounds contribute nothing; the merge
table simply stops growing.  Both engines share this behavior by
construction.  (Real corpora never exhaust at the round counts used
here.)
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import split_words

__all__ = [
    "bpe_lexicon",
    "bpe_train",
    "bpe_tokenize_docs",
    "replay_merges_over_docs",
]

# Driver-side training runs only when the lexicon is explicitly bounded
# (max_words) at or below this cap — the same bounded-model-state rule as
# the k-means centroid / PQ codebook collects (operators/clustering.py)
# and the unigram-LM cost-map collect (MAX_COST_ROWS).
_MAX_DRIVER_LEXICON = 65536


def _chars(word: Column) -> Column:
    # sequence(0, len-1) DESCENDS for the empty string (len-1 = -1);
    # guard to a typed empty array (the round-4 notes gotcha).
    return F.when(
        F.length(word) > 0,
        F.transform(
            F.sequence(F.lit(0), F.length(word) - 1),
            lambda i: word.substr(i + 1, F.lit(1)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def bpe_lexicon(
    docs: DataFrame,
    *,
    text_col: str = "text",
    max_words: int | None = None,
) -> DataFrame:
    """``(wid, freq, pos, sym)`` initial symbol table: lowercase
    whitespace words with corpus frequencies, exploded to one row per
    character position.  ``max_words`` keeps only the top-``max_words``
    words by (freq desc, word asc) — the LIMIT-bounded state cap that
    makes the training set size explicit at 100 TB (rare-tail words
    contribute negligible pair mass; the cut is deterministic)."""
    words = docs.select(
        F.explode(split_words(F.col(text_col))).alias("wid")
    )
    lex = words.groupBy("wid").agg(F.count(F.lit(1)).alias("freq"))
    if max_words is not None:
        lex = lex.orderBy(F.desc("freq"), "wid").limit(max_words)
    return lex.select(
        "wid", "freq", F.posexplode(_chars(F.col("wid"))).alias("pos", "sym")
    )


def _collect_lexicon(
    docs: DataFrame, text_col: str, max_words: int
) -> list[tuple[str, int]]:
    """Driver-side ``(word, freq)`` lexicon, (freq desc, word asc)-capped
    at ``max_words`` — the ONE corpus-sized aggregate of tokenizer
    training, after which everything is bounded model state (Sennrich's
    lexicon formulation).  The collect is bounded by the LIMIT."""
    words = docs.select(
        F.explode(split_words(F.col(text_col))).alias("wid")
    )
    lex = (
        words.groupBy("wid")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "wid")
        .limit(max_words)
    )
    return [(r["wid"], r["freq"]) for r in lex.collect()]


def _py_greedy_merge(syms: list[str], a: str, b: str) -> list[str]:
    """Left-to-right non-overlapping merge of adjacent ``(a, b)`` — the
    exact run-parity rule of :func:`_apply_winner` (greedy left-to-right
    ≡ merge at even offsets within each maximal run)."""
    out: list[str] = []
    i, n, ab = 0, len(syms), a + b
    while i < n:
        if syms[i] == a and i + 1 < n and syms[i + 1] == b:
            out.append(ab)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _py_merge_train(
    lex: list[tuple[str, int]], n_merges: int, scorer
) -> tuple[list[tuple], list[tuple[str, int, list[str]]]]:
    """Shared driver-side merge-training loop over a BOUNDED lexicon —
    the model-state twin of the distributed round loop (same pair
    counts, same winner rules, same exhaustion semantics: an empty
    candidate set empties the symbol table and stops the merge table).

    ``scorer(pair_counts, sym_counts) -> (sym_a, sym_b, *extras)``
    picks the round winner; pair/symbol counts are exact ints (Σ freq
    over adjacent positions / all positions).  Returns ``(merge_rows,
    segments)`` with ``merge_rows[r] = (r, sym_a, sym_b, *extras)`` and
    ``segments = [(wid, freq, syms)]`` the final symbol table."""
    seqs: list[list[str]] = [list(w) for w, _ in lex]
    freqs = [f for _, f in lex]
    merge_rows: list[tuple] = []
    for r in range(n_merges):
        pair_counts: dict[tuple[str, str], int] = {}
        sym_counts: dict[str, int] = {}
        for syms, f in zip(seqs, freqs):
            for s in syms:
                sym_counts[s] = sym_counts.get(s, 0) + f
            for x, y in zip(syms, syms[1:]):
                pair_counts[(x, y)] = pair_counts.get((x, y), 0) + f
        if not pair_counts:
            # exhaustion: the distributed rounds' INNER 1-row join with
            # an empty winner empties the table — replicate exactly
            seqs = [[] for _ in seqs]
            break
        winner = scorer(pair_counts, sym_counts)
        merge_rows.append((r, *winner))
        seqs = [_py_greedy_merge(s, winner[0], winner[1]) for s in seqs]
    segments = [(w, f, s) for (w, f), s in zip(lex, seqs)]
    return merge_rows, segments


def _bpe_winner(pair_counts: dict, _sym_counts: dict) -> tuple[str, str, int]:
    """Most frequent pair, ties (sym_a, sym_b) lexicographic ascending —
    Python str comparison is code-point order, identical to Spark's
    binary UTF8 string ordering."""
    (a, b) = min(pair_counts, key=lambda p: (-pair_counts[p], p[0], p[1]))
    return a, b, pair_counts[(a, b)]


def _segments_df(
    spark, segments: list[tuple[str, int, list[str]]]
) -> DataFrame:
    rows = [
        (wid, freq, pos, sym)
        for wid, freq, syms in segments
        for pos, sym in enumerate(syms)
    ]
    return spark.createDataFrame(
        rows, "wid STRING, freq BIGINT, pos INT, sym STRING"
    )


def _apply_winner(seqs: DataFrame, winner: DataFrame) -> DataFrame:
    """Apply one merge pair (a 0/1-row ``(sym_a, sym_b, ...)`` DataFrame)
    to the symbol table with the left-to-right run-parity rule.  An
    empty winner empties the table (INNER 1-row join) — the shared
    exhaustion semantics of training and application."""
    w = Window.partitionBy("wid").orderBy("pos")
    paired = seqs.select(
        "wid", "freq", "pos", "sym", F.lead("sym").over(w).alias("_nxt")
    )
    tagged = paired.crossJoin(
        F.broadcast(winner.select("sym_a", "sym_b"))
    ).withColumn(
        "_match",
        (F.col("sym") == F.col("sym_a")) & (F.col("_nxt") == F.col("sym_b")),
    )
    run_start = F.last(
        F.when(
            F.col("_match") & ~F.coalesce(F.lag("_match").over(w), F.lit(False)),
            F.col("pos"),
        ),
        ignorenulls=True,
    ).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    flagged = tagged.withColumn(
        "_merge",
        F.col("_match") & ((F.col("pos") - run_start) % 2 == 0),
    ).withColumn("_drop", F.coalesce(F.lag("_merge").over(w), F.lit(False)))
    kept = flagged.filter(~F.col("_drop")).select(
        "wid",
        "freq",
        F.when(F.col("_merge"), F.concat("sym", "_nxt")).otherwise(F.col("sym")).alias(
            "sym"
        ),
        (F.row_number().over(w) - 1).alias("pos"),
    )
    return kept.select("wid", "freq", "pos", "sym")


def _merge_round(seqs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One BPE round: returns ``(merged_seqs, winner)`` where winner is
    a 0/1-row DataFrame ``(sym_a, sym_b, pair_count)``."""
    w = Window.partitionBy("wid").orderBy("pos")
    paired = seqs.select(
        "wid", "freq", "pos", "sym", F.lead("sym").over(w).alias("_nxt")
    )
    counts = (
        paired.filter(F.col("_nxt").isNotNull())
        .groupBy(F.col("sym").alias("sym_a"), F.col("_nxt").alias("sym_b"))
        .agg(F.sum("freq").alias("pair_count"))
    )
    winner = counts.orderBy(F.desc("pair_count"), "sym_a", "sym_b").limit(1)
    return _apply_winner(seqs, winner), winner


def bpe_train(
    docs: DataFrame,
    *,
    text_col: str = "text",
    n_merges: int = 8,
    max_words: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Learn ``n_merges`` BPE merges; returns ``(merges, segments)``.

    ``merges``: ``(round, sym_a, sym_b, pair_count)`` — the ordered
    merge table (THE tokenizer artifact).  ``segments``: the final
    ``(wid, freq, pos, sym)`` symbol table — each word's segmentation
    under the learned merges (applying BPE to any text is replaying
    ``merges`` over its words with the same left-to-right rule).
    """
    spark = docs.sparkSession
    if max_words is not None and max_words <= _MAX_DRIVER_LEXICON:
        # Bounded lexicon → driver-side model-state training: ONE
        # corpus aggregate (the capped lexicon collect), the 8-round
        # loop in exact Python integer arithmetic, results inlined as
        # literal DataFrames — no per-round window/checkpoint jobs
        # (guide §1.2 "the distributed algorithm"; the clustering.py
        # centroid pattern).  Winner rules and run-parity application
        # are identical to the distributed rounds (pinned by the
        # engine-equivalence pytest).
        lex = _collect_lexicon(docs, text_col, max_words)
        merge_rows, segments = _py_merge_train(lex, n_merges, _bpe_winner)
        merges = spark.createDataFrame(
            merge_rows, "round INT, sym_a STRING, sym_b STRING, pair_count BIGINT"
        )
        return merges, _segments_df(spark, segments)
    seqs = bpe_lexicon(docs, text_col=text_col, max_words=max_words).localCheckpoint()
    merge_rows = []
    for r in range(n_merges):
        seqs, winner = _merge_round(seqs)
        seqs = seqs.localCheckpoint()
        merge_rows.append(winner.select(F.lit(r).alias("round"), "*"))
    merges = merge_rows[0]
    for m in merge_rows[1:]:
        merges = merges.unionByName(m)
    return merges, seqs


def bpe_tokenize_docs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = 8,
    max_words: int | None = 1000,
) -> DataFrame:
    """Apply the trained BPE merges to the CORPUS: one row per emitted
    token, ``(doc_id, wpos, pos, sym)`` with ``wpos`` the word's 0-based
    position in the document and ``pos`` the token's index inside the
    word — the BPE APPLY path (the docstring promise of :func:`bpe_train`
    made executable).

    The DISTINCT corpus word table is segmented once by replaying the
    ``n_merges`` learned pairs in order with the identical left-to-right
    run-parity rule — including words outside the capped training
    lexicon, which start as characters and absorb whatever learned
    merges apply.  Documents then join their exploded word positions
    against the per-word segmentation: corpus-sized work is one explode
    + one hash join; the replay itself is bounded by distinct-word
    volume, the same scale property as training.  If training exhausted
    before ``n_merges`` (empty winner), application mirrors the
    training semantics: the symbol table empties.
    """
    merges, _segs = bpe_train(
        docs, text_col=text_col, n_merges=n_merges, max_words=max_words
    )
    return replay_merges_over_docs(
        docs, merges, n_rounds=n_merges, text_col=text_col, id_col=id_col
    )


def replay_merges_over_docs(
    docs: DataFrame,
    merges: DataFrame,
    *,
    n_rounds: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Replay a trained merge table (``(round, sym_a, sym_b, ...)``)
    over the corpus — the shared apply path of every merge-list
    tokenizer family (BPE, WordPiece).  Returns ``(doc_id, wpos, pos,
    sym)``; see :func:`bpe_tokenize_docs` for the scale argument."""
    # the merge table IS the bounded tokenizer artifact (n_rounds rows)
    learned = {r["round"]: (r["sym_a"], r["sym_b"]) for r in merges.collect()}
    dw = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(split_words(F.col(text_col))).alias("wpos", "wid"),
    )
    allw = dw.select("wid").distinct()
    # Replay the merge list as ONE chained-fold projection over the
    # distinct-word table (guide §2.4: the per-round window + lineage
    # checkpoint jobs collapse into a single pass; each fold is the
    # greedy left-to-right rule — a merged symbol a||b can never equal
    # sym_a, so "last element == sym_a" is true only for an unconsumed
    # original symbol, which IS the run-parity semantics).
    syms = _chars(F.col("wid"))
    exhausted = False
    for r in range(n_rounds):
        if r not in learned:
            # training exhausted before n_rounds: application mirrors
            # the INNER-join-with-empty-winner semantics (empty table)
            exhausted = True
            break
        syms = _merge_fold(syms, *learned[r])
    segs = allw.select("wid", F.posexplode(syms).alias("pos", "sym"))
    if exhausted:
        segs = segs.limit(0)
    return dw.join(segs, "wid").select(
        "doc_id", F.col("wpos").cast("int").alias("wpos"), "pos", "sym"
    )


def _merge_fold(arr: Column, a: str, b: str) -> Column:
    """One merge round as a single array fold: append each symbol,
    merging it with the accumulator's last element when that element is
    ``a`` and the symbol is ``b`` (≡ greedy left-to-right non-overlap —
    see :func:`replay_merges_over_docs`).  ``try_element_at`` keeps the
    empty-accumulator probe NULL-safe under ANSI mode."""
    merged = F.lit(a + b)
    return F.aggregate(
        arr,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.try_element_at(acc, F.lit(-1)) == F.lit(a)) & (s == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(s))),
    )
