"""Unigram-LM (SentencePiece-style) tokenizer training [EXT] — the
second of the two tokenizer families in production use, beside
:mod:`.bpe` (VERDICT r5 #4).

Follows the unigram language model of Kudo 2018 ("Subword
Regularization"), restated so every step is deterministic,
integer-dominant, and bit-replayable in a DuckDB oracle:

* **Lexicon formulation** (same scale device as BPE): the corpus is
  scanned ONCE for ``(word, freq)``; everything after works on the
  vocabulary-bounded lexicon, so training cost is independent of corpus
  bytes — the property that makes tokenizer training feasible at
  100 TB.
* **Seed vocabulary**: all substrings up to ``max_token_len`` chars,
  counted by occurrence mass (Σ word freq per occurrence); the top
  ``vocab_size`` multi-char candidates by (count desc, token asc) plus
  ALL single characters (the coverage guarantee — every word stays
  segmentable).
* **Fixed-point costs**: ``cost(t) = floor(-ln(cnt/total)·1e6)`` on an
  int64 grid, computed SPARK-side (the ln is the one IEEE double op —
  same device as ``unigram_logprob``/``tfidf_top_terms``; keeping it in
  the engine preserves the bit-agreement story with DuckDB's ln);
  everything downstream — the DP, the comparisons, the counts — is
  exact int64.
* **Hard-EM with lattice counts**: each round re-estimates a token's
  count as the freq-mass of its occurrences lying on SOME minimum-cost
  segmentation (``forward + edge + backward == total``) — the
  deterministic, tie-free analog of Viterbi counts (no argmin path
  tie-breaking needed).  Multi-char tokens that fall off every optimal
  lattice are pruned; survivors get add-one smoothing.
* **Per-word fold DP over a collected cost map** (round 7; replaced the
  min-plus-closure joins): the cost table is vocabulary-bounded BY
  CONSTRUCTION — ≤ lexicon alphabet + ``vocab_size`` rows at ANY corpus
  scale — so it is collected (hard-capped, loud error) and baked into a
  literal map, and each word's forward/backward minimum-cost arrays are
  ONE ``aggregate`` fold over its ≤ ``MAX_WORD_LEN`` positions: pure
  whole-stage codegen, embarrassingly parallel over words, no shuffle
  and no scheduled job per DP round.  This is the same bounded-artifact
  pattern as the BPE merge-table collect and the k-means centroid
  broadcast.  Measured at sf0.1: 12.5s → ~6s for training, with the
  per-round job count dropping from ~8 to 2.
* **Final segmentation**: from each position, among suffix-optimal
  edges (``cost + bwd(j) == bwd(i)``) the SHORTEST token (min j) is
  chosen — a total, deterministic rule — recovered by a bounded
  walk fold over the same backward array.

Reference corpus note: the reference repo (main.py) has no tokenizer
machinery; this extends the LLM-pipeline operator family.  The oracle
(``suite._unigram_oracle_sql``) replays every round as generated
unrolled min-plus-closure CTEs with pinned depth ``DOUBLING_ROUNDS``
(the values are identical — both compute the same integer shortest-path
costs); words longer than ``2^D`` chars raise loudly on the Spark side
so the fold can never out-converge the fixed-depth oracle (the k-core
lesson).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import split_words

__all__ = [
    "unigram_lm_train",
    "unigram_tokenize_docs",
    "DOUBLING_ROUNDS",
    "MAX_WORD_LEN",
]

# Pinned and shared with the oracle generator: the oracle's min-plus
# closure covers paths of up to 2^DOUBLING_ROUNDS single-char edges,
# i.e. words of up to MAX_WORD_LEN characters.  Longer words raise.
DOUBLING_ROUNDS = 4
MAX_WORD_LEN = 1 << DOUBLING_ROUNDS

# The collected cost table is ≤ |lexicon alphabet| + vocab_size rows by
# construction; this cap only trips on a pathological corpus (the bitmap
# -vocabulary convention: loud error, never a silent driver OOM).
MAX_COST_ROWS = 65536

# Larger than any reachable path cost (16 chars × ~2e7 max token cost
# ≈ 3e8) yet safe under triple addition (3e15 ≪ 2^63).
_INF = 10**15


def _lexicon(docs: DataFrame, text_col: str, max_words: int) -> DataFrame:
    """``(wid, freq, n)`` — lowercase whitespace word lexicon with corpus
    frequency and char length, capped at the top ``max_words`` by
    (freq desc, word asc)."""
    words = docs.select(
        F.explode(split_words(F.col(text_col))).alias("wid")
    )
    lex = words.groupBy("wid").agg(F.count(F.lit(1)).alias("freq"))
    lex = lex.orderBy(F.desc("freq"), "wid").limit(max_words)
    return lex.select("wid", "freq", F.length("wid").cast("long").alias("n"))


def _occurrences(lex: DataFrame, max_token_len: int) -> DataFrame:
    """``(wid, freq, n, i, j, tok)`` — every substring occurrence of
    length 1..``max_token_len``: tok spans char positions [i, j)."""
    pos = lex.select(
        "wid", "freq", "n",
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("n") - 1)).alias("i"),
    )
    spans = pos.select(
        "wid", "freq", "n", "i",
        F.explode(
            F.sequence(
                F.lit(1).cast("long"),
                F.least(F.lit(max_token_len).cast("long"), F.col("n") - F.col("i")),
            )
        ).alias("len"),
    )
    return spans.select(
        "wid", "freq", "n", "i",
        (F.col("i") + F.col("len")).alias("j"),
        F.expr("substr(wid, CAST(i + 1 AS INT), CAST(len AS INT))").alias("tok"),
    )


def _costed(vocab: DataFrame) -> DataFrame:
    """``(tok, cnt, cost)`` — int64 grid costs floor(-ln(cnt/total)·1e6).
    The 1-row total is an allowlisted broadcast (like every corpus-count
    join in functions/text.py)."""
    tot = vocab.agg(F.sum("cnt").alias("tot"))
    return vocab.crossJoin(F.broadcast(tot)).select(
        "tok",
        "cnt",
        F.floor(
            (-F.log(F.col("cnt").cast("double") / F.col("tot").cast("double")))
            * F.lit(1000000.0)
        ).cast("long").alias("cost"),
    )


def _collect_costs(costed: DataFrame, who: str) -> dict[str, int]:
    """Driver-side ``{tok: cost}`` — bounded by construction (alphabet +
    vocab_size); hard-capped with a loud error, never a silent OOM."""
    rows = costed.select("tok", "cost").limit(MAX_COST_ROWS + 1).collect()
    if len(rows) > MAX_COST_ROWS:
        raise ValueError(
            f"{who}: cost table exceeds MAX_COST_ROWS={MAX_COST_ROWS} — "
            f"the vocabulary bound assumption is violated; raise the cap "
            f"deliberately rather than collecting unbounded state."
        )
    return {r["tok"]: r["cost"] for r in rows}


def _cost_map_lit(costs: dict[str, int]) -> Column:
    """Literal map column (token → int64 cost), sorted for determinism.
    ≤ MAX_COST_ROWS entries — constant-folded data, never a codegen
    blowup (the CollapseProject lesson applies to huge arithmetic
    expressions, not to map literals used as data)."""
    pairs: list[Column] = []
    for tok in sorted(costs):
        pairs.append(F.lit(tok))
        pairs.append(F.lit(costs[tok]).cast("long"))
    return F.create_map(*pairs)


def _edge_cost(m: Column, wid: Column, start: Column, length: int) -> Column:
    """Cost of the token spanning [start, start+length) of ``wid`` under
    cost map ``m`` (INF when absent) — 0-based ``start``."""
    tok = wid.substr((start + 1).cast("int"), F.lit(length))
    return F.coalesce(F.element_at(m, tok), F.lit(_INF).cast("long"))


def _bwd_expr(m: Column, max_token_len: int) -> Column:
    """``bwd`` array for a word row (columns ``wid``/``n``): 1-based
    ``element_at(bwd, i+1) = `` min cost of segmenting the suffix
    starting at 0-based position ``i``; ``element_at(bwd, n+1) = 0``.
    One aggregate fold, descending positions — the sequential Viterbi
    DP done per word in pure codegen."""
    wid, n = F.col("wid"), F.col("n")

    def step(acc: Column, i: Column) -> Column:
        # acc holds [bwd[i+1], ..., bwd[n]]; element_at(acc, L) = bwd[i+L]
        cands = [
            F.when(
                i + F.lit(L) <= n,
                _edge_cost(m, wid, i, L) + F.element_at(acc, F.lit(L)),
            ).otherwise(F.lit(_INF).cast("long"))
            for L in range(1, max_token_len + 1)
        ]
        return F.concat(F.array(F.least(*cands)), acc)

    return F.aggregate(
        F.sequence(n - 1, F.lit(0).cast("long"), F.lit(-1).cast("long")),
        F.array(F.lit(0).cast("long")),
        step,
    )


def _fwd_expr(m: Column, max_token_len: int) -> Column:
    """``fwd`` array: ``element_at(fwd, j+1) =`` min cost of segmenting
    the prefix ending at 0-based position ``j``; ``element_at(fwd,1)=0``.
    Ascending fold, mirror of :func:`_bwd_expr`."""
    wid, n = F.col("wid"), F.col("n")

    def step(acc: Column, j: Column) -> Column:
        # acc holds [fwd[0], ..., fwd[j-1]]; element_at(acc, j-L+1) = fwd[j-L]
        cands = [
            F.when(
                j - F.lit(L) >= 0,
                F.element_at(acc, (j - F.lit(L) + 1).cast("int"))
                + _edge_cost(m, wid, j - F.lit(L), L),
            ).otherwise(F.lit(_INF).cast("long"))
            for L in range(1, max_token_len + 1)
        ]
        return F.concat(acc, F.array(F.least(*cands)))

    return F.aggregate(
        F.sequence(F.lit(1).cast("long"), n),
        F.array(F.lit(0).cast("long")),
        step,
    )


def _walk_expr(m: Column, max_token_len: int) -> Column:
    """Chosen segmentation as ``array<struct<pos int, sym string>>`` for
    a word row carrying ``bwd``: from each position take the SHORTEST
    token among suffix-optimal edges (``cost + bwd[pos+L] == bwd[pos]``)
    — the module's total deterministic rule — via a bounded walk fold
    (≤ MAX_WORD_LEN steps, each advancing ≥ 1 char)."""
    wid, n, bwd = F.col("wid"), F.col("n"), F.col("bwd")
    empty = F.array().cast("array<struct<pos:int,sym:string>>")

    def step(acc: Column, _i: Column) -> Column:
        pos = acc.getField("pos")
        # first (= shortest) suffix-optimal L; guaranteed to exist while
        # pos < n because bwd[pos] was computed from exactly these edges
        choice = None
        for L in range(max_token_len, 0, -1):
            ok = (pos + F.lit(L) <= n) & (
                _edge_cost(m, wid, pos, L)
                + F.element_at(bwd, (pos + F.lit(L) + 1).cast("int"))
                == F.element_at(bwd, (pos + 1).cast("int"))
            )
            branch = F.lit(L).cast("long")
            choice = branch if choice is None else F.when(ok, branch).otherwise(choice)
        # the loop nests L=1 outermost so the SHORTEST optimal L wins
        chosen_l = choice
        tok = wid.substr((pos + 1).cast("int"), chosen_l.cast("int"))
        advanced = F.struct(
            (pos + chosen_l).alias("pos"),
            F.concat(
                acc.getField("toks"),
                F.array(F.struct(pos.cast("int").alias("pos"), tok.alias("sym"))),
            ).alias("toks"),
        )
        return F.when(pos < n, advanced).otherwise(acc)

    folded = F.aggregate(
        F.sequence(F.lit(1).cast("long"), F.greatest(n, F.lit(1).cast("long"))),
        F.struct(F.lit(0).cast("long").alias("pos"), empty.alias("toks")),
        step,
    )
    return folded.getField("toks")


def _assert_word_len(words_df: DataFrame, who: str) -> None:
    longest = words_df.agg(F.max("n")).first()[0] or 0
    if longest > MAX_WORD_LEN:
        raise ValueError(
            f"{who}: longest word has {longest} chars but the "
            f"pinned closure depth DOUBLING_ROUNDS={DOUBLING_ROUNDS} only covers "
            f"words up to {MAX_WORD_LEN}; raise DOUBLING_ROUNDS (and regenerate "
            f"the oracle) rather than silently under-converging."
        )


def _segment(
    words_df: DataFrame, costs: dict[str, int], max_token_len: int
) -> DataFrame:
    """Chosen minimum-cost segmentation ``(wid, freq, pos, sym)`` of each
    ``(wid, freq, n)`` word under the collected cost map: one backward
    fold + one walk fold per word, zero shuffles."""
    m = _cost_map_lit(costs)
    with_bwd = words_df.withColumn("bwd", _bwd_expr(m, max_token_len))
    toks = with_bwd.select(
        "wid", "freq", F.explode(_walk_expr(m, max_token_len)).alias("t")
    )
    return toks.select(
        "wid", "freq", F.col("t.pos").alias("pos"), F.col("t.sym").alias("sym")
    )


def unigram_lm_train(
    docs: DataFrame,
    *,
    text_col: str = "text",
    max_words: int = 1000,
    vocab_size: int = 64,
    max_token_len: int = 4,
    em_rounds: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """Train a unigram-LM tokenizer; returns ``(vocab, segments)``.

    ``vocab``: ``(token, freq, cost_grid)`` — the final smoothed token
    counts and the int64 costs they induce (THE tokenizer artifact:
    applying the tokenizer to any text is the same fold DP under these
    costs).  ``segments``: ``(wid, freq, pos, sym)`` — each lexicon
    word's chosen minimum-cost segmentation under the final costs
    (shortest-token-first among suffix-optimal edges).  ``segments`` is
    LAZY — callers that only need the vocabulary never pay for it.
    """
    lex, final_cost, final_map = _train_costs(
        docs,
        text_col=text_col,
        max_words=max_words,
        vocab_size=vocab_size,
        max_token_len=max_token_len,
        em_rounds=em_rounds,
    )
    segments = _segment(lex, final_map, max_token_len)
    vocab_out = final_cost.select(
        F.col("tok").alias("token"),
        F.col("cnt").alias("freq"),
        F.col("cost").alias("cost_grid"),
    )
    return vocab_out, segments


# Driver-side training runs only when the lexicon is explicitly bounded
# (max_words) at or below this cap — the same bounded-model-state rule as
# the BPE/WordPiece lexicon collect (operators/bpe.py::_MAX_DRIVER_LEXICON)
# and the k-means centroid / PQ codebook collects.
_MAX_DRIVER_LEXICON = 65536


def _py_costs(vocab: dict[str, int]) -> dict[str, int]:
    """``{tok: cost}`` on the int64 grid — ``floor(-ln(cnt/tot)·1e6)``
    with libm ``log`` on an IEEE-double quotient, mirroring
    :func:`_costed` operation for operation (``cnt``/``tot`` each cast
    to double first; the same accepted ln device as WordPiece's
    ``_wp_winner`` — DuckDB's oracle evaluates the identical libm ln)."""
    tot = float(sum(vocab.values()))
    return {
        t: math.floor((-math.log(float(c) / tot)) * 1000000.0)
        for t, c in vocab.items()
    }


def _py_bwd(wid: str, costs: dict[str, int], max_token_len: int) -> list[int]:
    """``bwd[i]`` = min cost of segmenting the suffix from 0-based ``i``
    (``bwd[n] = 0``) — the exact-Python twin of :func:`_bwd_expr`."""
    n = len(wid)
    bwd = [0] * (n + 1)
    for i in range(n - 1, -1, -1):
        best = _INF
        for ln in range(1, min(max_token_len, n - i) + 1):
            c = costs.get(wid[i : i + ln], _INF) + bwd[i + ln]
            if c < best:
                best = c
        bwd[i] = best
    return bwd


def _py_fwd(wid: str, costs: dict[str, int], max_token_len: int) -> list[int]:
    """``fwd[j]`` = min cost of segmenting the prefix ending at ``j``
    (``fwd[0] = 0``) — the exact-Python twin of :func:`_fwd_expr`."""
    n = len(wid)
    fwd = [0] * (n + 1)
    for j in range(1, n + 1):
        best = _INF
        for ln in range(1, min(max_token_len, j) + 1):
            c = fwd[j - ln] + costs.get(wid[j - ln : j], _INF)
            if c < best:
                best = c
        fwd[j] = best
    return fwd


def _py_train_costs(
    spark,
    lex_py: list[tuple[str, int]],
    *,
    vocab_size: int,
    max_token_len: int,
    em_rounds: int,
) -> tuple[DataFrame, DataFrame, dict[str, int]]:
    """Driver-side model-state training over the BOUNDED collected
    lexicon — the unigram twin of ``bpe._py_merge_train`` (guide §1.2
    "the distributed algorithm"): seed vocabulary, hard-EM lattice
    counts and pruning all run in exact Python int64 arithmetic with the
    identical tie rules (count desc, token code-point asc ≡ Spark UTF8
    binary order), and the results re-enter the plan as literal
    DataFrames.  Bit-identical to the distributed rounds (pinned by
    tests/test_unigram_driver_path.py)."""
    longest = max((len(w) for w, _ in lex_py), default=0)
    if longest > MAX_WORD_LEN:
        raise ValueError(
            f"unigram_lm_train: longest word has {longest} chars but the "
            f"pinned closure depth DOUBLING_ROUNDS={DOUBLING_ROUNDS} only covers "
            f"words up to {MAX_WORD_LEN}; raise DOUBLING_ROUNDS (and regenerate "
            f"the oracle) rather than silently under-converging."
        )

    # seed vocabulary: occurrence-mass counts of every substring up to
    # max_token_len; all single chars + top vocab_size multi-char
    cand: dict[str, int] = {}
    for wid, freq in lex_py:
        n = len(wid)
        for i in range(n):
            for ln in range(1, min(max_token_len, n - i) + 1):
                tok = wid[i : i + ln]
                cand[tok] = cand.get(tok, 0) + freq
    vocab: dict[str, int] = {t: c for t, c in cand.items() if len(t) == 1}
    multi = sorted(
        ((t, c) for t, c in cand.items() if len(t) > 1),
        key=lambda tc: (-tc[1], tc[0]),
    )[:vocab_size]
    vocab.update(dict(multi))

    for _ in range(em_rounds):
        if len(vocab) > MAX_COST_ROWS:
            raise ValueError(
                f"unigram_lm_train: cost table exceeds MAX_COST_ROWS="
                f"{MAX_COST_ROWS} — the vocabulary bound assumption is "
                f"violated; raise the cap deliberately rather than "
                f"collecting unbounded state."
            )
        costs = _py_costs(vocab)
        ncnt: dict[str, int] = {}
        for wid, freq in lex_py:
            n = len(wid)
            bwd = _py_bwd(wid, costs, max_token_len)
            fwd = _py_fwd(wid, costs, max_token_len)
            total = bwd[0]
            # occurrence (i, j) lies on SOME optimal path iff
            # fwd[i] + cost + bwd[j] == total — per OCCURRENCE, exactly
            # the onp explode of the distributed formulation
            for i in range(n):
                for ln in range(1, min(max_token_len, n - i) + 1):
                    tok = wid[i : i + ln]
                    if fwd[i] + costs.get(tok, _INF) + bwd[i + ln] == total:
                        ncnt[tok] = ncnt.get(tok, 0) + freq
        vocab = {
            t: ncnt.get(t, 0) + 1
            for t in vocab
            if len(t) == 1 or ncnt.get(t, 0) > 0
        }

    final_costs = _py_costs(vocab)
    final_cost = spark.createDataFrame(
        [(t, vocab[t], final_costs[t]) for t in sorted(vocab)],
        "tok STRING, cnt BIGINT, cost BIGINT",
    )
    lex_df = spark.createDataFrame(
        [(w, f, len(w)) for w, f in lex_py],
        "wid STRING, freq BIGINT, n BIGINT",
    )
    return lex_df, final_cost, final_costs


def _train_costs(
    docs: DataFrame,
    *,
    text_col: str,
    max_words: int,
    vocab_size: int,
    max_token_len: int,
    em_rounds: int,
) -> tuple[DataFrame, DataFrame, dict[str, int]]:
    """The EM training chain; returns ``(lex, final_cost_df, final_map)``
    with ``final_cost_df = (tok, cnt, cost)`` checkpointed and
    ``final_map`` its collected ``{tok: cost}`` (vocabulary-bounded)."""
    if max_words is not None and max_words <= _MAX_DRIVER_LEXICON:
        # Bounded lexicon → driver-side model-state training: ONE corpus
        # aggregate (the capped lexicon collect — the identical quantity
        # the distributed path reduces anyway), seed + EM loop in exact
        # Python integer arithmetic, results inlined as literal
        # DataFrames (the bpe.bpe_train device; guide §1.2).
        lex_rows = (
            _lexicon(docs, text_col, max_words).select("wid", "freq").collect()
        )
        return _py_train_costs(
            docs.sparkSession,
            [(r["wid"], r["freq"]) for r in lex_rows],
            vocab_size=vocab_size,
            max_token_len=max_token_len,
            em_rounds=em_rounds,
        )
    lex = _lexicon(docs, text_col, max_words).localCheckpoint()
    _assert_word_len(lex, "unigram_lm_train")

    occ = _occurrences(lex, max_token_len)
    cand = occ.groupBy("tok").agg(F.sum("freq").alias("cnt"))
    chars = cand.filter(F.length("tok") == 1)
    multi = (
        cand.filter(F.length("tok") > 1)
        .orderBy(F.desc("cnt"), "tok")
        .limit(vocab_size)
    )
    vocab = chars.unionByName(multi).localCheckpoint()

    for _ in range(em_rounds):
        cost_map = _collect_costs(_costed(vocab), "unigram_lm_train")
        m = _cost_map_lit(cost_map)
        lat = lex.withColumn("bwd", _bwd_expr(m, max_token_len)).withColumn(
            "fwd", _fwd_expr(m, max_token_len)
        )
        # occurrence (i, j) lies on SOME optimal path iff
        # fwd[i] + cost + bwd[j] == total (= bwd[0])
        grid = lat.select(
            "wid", "freq", "n", "fwd", "bwd",
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("n") - 1)).alias("i"),
        ).select(
            "wid", "freq", "n", "fwd", "bwd", "i",
            F.explode(
                F.sequence(
                    F.lit(1).cast("long"),
                    F.least(
                        F.lit(max_token_len).cast("long"), F.col("n") - F.col("i")
                    ),
                )
            ).alias("len"),
        )
        onp = grid.select(
            "wid", "freq",
            F.expr("substr(wid, CAST(i + 1 AS INT), CAST(len AS INT))").alias("tok"),
            (
                F.element_at("fwd", (F.col("i") + 1).cast("int"))
                + F.coalesce(
                    F.element_at(
                        m,
                        F.expr("substr(wid, CAST(i + 1 AS INT), CAST(len AS INT))"),
                    ),
                    F.lit(_INF).cast("long"),
                )
                + F.element_at("bwd", (F.col("i") + F.col("len") + 1).cast("int"))
            ).alias("_path"),
            F.element_at("bwd", F.lit(1)).alias("_total"),
        ).filter(F.col("_path") == F.col("_total"))
        ncnt = onp.groupBy("tok").agg(F.sum("freq").alias("ncnt"))
        vocab = (
            vocab.join(ncnt, "tok", "left")
            .filter((F.length("tok") == 1) | (F.coalesce("ncnt", F.lit(0)) > 0))
            .select("tok", (F.coalesce("ncnt", F.lit(0)) + F.lit(1)).alias("cnt"))
            .localCheckpoint()
        )

    final_cost = _costed(vocab).localCheckpoint()
    final_map = _collect_costs(final_cost, "unigram_lm_train")
    return lex, final_cost, final_map


def unigram_tokenize_docs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_words: int = 1000,
    vocab_size: int = 64,
    max_token_len: int = 4,
    em_rounds: int = 2,
) -> DataFrame:
    """Apply the trained unigram-LM tokenizer to the CORPUS: one row per
    emitted token, ``(doc_id, wpos, pos, sym)`` with ``wpos`` the word's
    0-based position in the document and ``pos`` the token's char offset
    inside the word.

    The apply path that makes the tokenizer usable downstream of
    training (the unigram twin of "replaying BPE merges"): the DISTINCT
    corpus word table is segmented ONCE under the final learned costs —
    including words outside the capped training lexicon — and documents
    join their words against that per-word segmentation.  Single-char
    coverage at apply time is TOTAL: corpus characters absent from the
    trained vocabulary (possible when a char occurs only in words ranked
    below the ``max_words`` training-lexicon cap) are unioned into the
    cost map as UNK single-char tokens at a pinned cost of
    ``max(trained cost) + 1_000_000`` — strictly worse than any trained
    token, so trained segmentations are unchanged, but no word is ever
    silently dropped by the segmentation join (ADVICE r6 #2).
    At 100 TB the per-word table is the vocabulary-bounded artifact you
    materialize; the corpus-sized work is one explode + one hash join.
    """
    _lex, _final_cost, final_map = _train_costs(
        docs,
        text_col=text_col,
        max_words=max_words,
        vocab_size=vocab_size,
        max_token_len=max_token_len,
        em_rounds=em_rounds,
    )
    dw = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(split_words(F.col(text_col))).alias("wpos", "wid"),
    )
    allw = (
        dw.select("wid")
        .distinct()
        .select(
            "wid",
            F.lit(1).cast("long").alias("freq"),
            F.length("wid").cast("long").alias("n"),
        )
        .localCheckpoint()
    )
    _assert_word_len(allw, "unigram_tokenize_docs")
    # UNK coverage: apply-time single chars missing from the trained
    # vocabulary, at a pinned cost above every trained token.  The char
    # set is alphabet-bounded; the same hard cap guards the collect.
    chars_rows = (
        allw.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.col("n").cast("int")),
                    lambda i: F.col("wid").substr(i, F.lit(1)),
                )
            ).alias("tok")
        )
        .distinct()
        .limit(MAX_COST_ROWS + 1)
        .collect()
    )
    if len(chars_rows) > MAX_COST_ROWS:
        raise ValueError(
            f"unigram_tokenize_docs: corpus alphabet exceeds "
            f"MAX_COST_ROWS={MAX_COST_ROWS}; raise the cap deliberately."
        )
    unk_cost = max(final_map.values()) + 1_000_000
    apply_map = dict(final_map)
    for r in chars_rows:
        apply_map.setdefault(r["tok"], unk_cost)
    segs = _segment(allw, apply_map, max_token_len)
    return dw.join(segs.select("wid", "pos", "sym"), "wid").select(
        "doc_id", F.col("wpos").cast("int").alias("wpos"), "pos", "sym"
    )
