"""Flagship operator: fuzzy/phonetic similarity join with per-key top-k.

Reference semantics (``main.py:136-221``): for every username, score every
employee with ``compute_match_score`` (``main.py:25-90``), keep the top 4 by
score (``main.py:169``), drop scores < 50 (``main.py:170``), assign
dense-rank confidence labels where ties share a label (``main.py:181-198``),
and emit a ``USER NOT FOUND`` sentinel when nothing clears the threshold
(``main.py:172-179``).

Spark-first plan (vs the reference's O(U×E) row-at-a-time Python loop):

1. **Per-side preparation** — normalization and username splitting are
   native expressions computed *before* the join, and each side is reduced
   to its distinct texts.
2. **Candidate generation** — ``crossJoin(broadcast(employees))`` (a
   BroadcastNestedLoopJoin: every executor streams its username partition
   against the broadcast roster — no shuffle) or, for rosters too large to
   broadcast, a *blocked* union of equi-joins (``plans/blocking.py``).
3. **Scoring** — pattern short-circuit, split/initial bonuses, the
   weighted composite and the 100-cap are native Catalyst expressions; the
   five per-pair ratios and the phonetic term (Soundex/Metaphone codes
   memoized per text in the worker) run in one Arrow pandas UDF, the
   plan's only Python stage.
4. **Top-k** — one window (`row_number <= k`) per username partition; in
   Spark ≥3.5 the rank filter is pushed into the shuffle via
   WindowGroupLimit, so each partition keeps ≤ k rows per key.
5. **Labels + NOT-FOUND** — ``dense_rank`` + a ``when`` chain; usernames
   with no surviving match re-enter via left-anti join + sentinel union.

Tie handling: the reference's pandas sort is unstable, so top-4 membership
under ties is unspecified there; this engine defines the deterministic
tiebreak ``(score DESC, emp_id ASC)`` and documents the divergence
(SURVEY.md §7 "What's hard" #3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scoring import (
    SCORE_THRESHOLD,
    TOTAL_MATCHES_TO_DISPLAY,
    pair_ratios_udf,
    phonetic_codes_udf,
)
from ..plans.probe import EST_BYTES_PER_ROW, broadcast_threshold, estimated_rows
from ..plans.staging import stage

__all__ = [
    "prepare_employees",
    "prepare_usernames",
    "score_candidates",
    "match_usernames",
    "format_output",
]

_SPLIT_PATTERN = r"[\._\-\s]"  # main.py:32

# blocking=None auto-select: exact cross-scoring is allowed only when the
# estimated (usernames × roster) pair count stays under this budget AND the
# roster fits the session's broadcast threshold; anything bigger gets
# blocked candidates.  ~4M Arrow-scored pairs is seconds of work on one
# executor core-set; beyond that the cross product is the 100 TB
# scale-killer VERDICT r2 flagged.
_CROSS_PAIR_BUDGET = 4_000_000


def _norm(c: Column) -> Column:
    return F.trim(F.lower(F.coalesce(c.cast("string"), F.lit(""))))


def prepare_employees(employees: DataFrame, *, codes: bool = True) -> DataFrame:
    """Normalize the roster for scoring.

    Adds: ``e_name/e_first/e_last`` (lowercased+trimmed scorer inputs,
    ``main.py:27-29``), and with ``codes=True`` also ``f_sdx/f_mp/l_sdx/
    l_mp`` (soundex/metaphone of first/last, ``main.py:63-66``) from a
    Python UDF.  The codes are informational: :func:`score_candidates`
    computes the phonetic term inside its own pair UDF, so
    ``match_usernames`` prepares with ``codes=False`` and runs no
    per-side Python stage.
    """
    df = employees.select(
        "*",
        _norm(F.col("employee_name")).alias("e_name"),
        _norm(F.col("first_name")).alias("e_first"),
        _norm(F.col("last_name")).alias("e_last"),
    )
    if not codes:
        return df
    f_codes = phonetic_codes_udf(F.col("e_first"))
    l_codes = phonetic_codes_udf(F.col("e_last"))
    return df.select(
        "*",
        f_codes.getField("sdx").alias("f_sdx"),
        f_codes.getField("mp").alias("f_mp"),
        l_codes.getField("sdx").alias("l_sdx"),
        l_codes.getField("mp").alias("l_mp"),
    )


def prepare_usernames(usernames: DataFrame, *, codes: bool = True) -> DataFrame:
    """Normalize usernames and attach split parts + phonetic codes.

    Adds: ``u_norm`` (``main.py:26``), ``u_part1/u_part2`` (regex split on
    ``[._-\\s]``, ``main.py:32-34``), and with ``codes=True`` also
    ``u_sdx/u_mp`` (``main.py:63-66``; see :func:`prepare_employees` for
    the ``codes=False`` contract).
    """
    df = usernames.withColumn("u_norm", _norm(F.col("username")))
    parts = F.split(F.col("u_norm"), _SPLIT_PATTERN)
    df = df.select(
        "*",
        F.coalesce(F.get(parts, 0), F.lit("")).alias("u_part1"),
        F.coalesce(F.get(parts, 1), F.lit("")).alias("u_part2"),
    )
    if not codes:
        return df
    u_codes = phonetic_codes_udf(F.col("u_norm"))
    return df.select(
        "*",
        u_codes.getField("sdx").alias("u_sdx"),
        u_codes.getField("mp").alias("u_mp"),
    )


def _pattern_hit() -> Column:
    """The 8 exact username patterns that short-circuit to 100
    (``main.py:36-47``)."""
    f, l = F.col("e_first"), F.col("e_last")
    u = F.col("u_norm")
    hit = F.lit(False)
    for sep in (".", "_", "", " "):
        hit = hit | (u == F.concat(f, F.lit(sep), l)) | (u == F.concat(l, F.lit(sep), f))
    return hit


def _initial_bonus() -> Column:
    """+5 first-initial match, +5 second-dot-segment initial match
    (``main.py:68-74``), guarded where the reference raises IndexError on
    empty/trailing-dot usernames (``main.py:69,73``)."""
    u, f = F.col("u_norm"), F.col("e_first")
    first_char = F.substring(u, 1, 1)
    f_char = F.substring(f, 1, 1)
    b1 = F.when((u != "") & (f != "") & (first_char == f_char), F.lit(5)).otherwise(F.lit(0))
    second = F.coalesce(F.get(F.split(u, r"\."), 1), F.lit(""))
    b2 = F.when(
        u.contains(".") & (second != "") & (f != "") & (F.substring(second, 1, 1) == f_char),
        F.lit(5),
    ).otherwise(F.lit(0))
    return b1 + b2


def score_candidates(pairs: DataFrame) -> DataFrame:
    """Attach the composite ``score`` column to prepared (username ×
    employee) candidate pairs — ``compute_match_score`` (``main.py:25-90``)
    re-expressed as one Arrow UDF (ratios and phonetic term) + native
    expressions (everything else).  Needs only the ``u_norm/u_part1/
    u_part2`` and ``e_name/e_first/e_last`` columns."""
    ratios = pair_ratios_udf(
        F.col("u_norm"), F.col("e_name"), F.col("e_first"), F.col("e_last")
    )
    df = pairs.withColumn("_r", ratios)

    split_bonus = F.when(
        ((F.col("u_part1") == F.col("e_first")) & (F.col("u_part2") == F.col("e_last")))
        | ((F.col("u_part2") == F.col("e_first")) & (F.col("u_part1") == F.col("e_last"))),
        F.lit(10),
    ).otherwise(F.lit(0))  # main.py:49-52

    # main.py:54 is dead code (always 0) — replicated as a literal for
    # score parity; documented in SURVEY.md §2.6 F9.
    number_match_bonus = F.lit(0)

    composite = (
        F.col("_r.lev_full") * 0.2
        + F.col("_r.partial_full") * 0.2
        + F.col("_r.token_set_full") * 0.2
        + F.col("_r.token_set_last") * 0.3
        + F.col("_r.token_set_first") * 0.2
        + F.col("_r.phonetic")  # main.py:63-66,82-85
        + split_bonus
        + _initial_bonus()
        + number_match_bonus
    )  # main.py:76-89

    score = F.when(_pattern_hit(), F.lit(100.0)).otherwise(
        F.least(composite, F.lit(100.0))
    )  # main.py:46-47, 90
    return df.withColumn("score", score.cast("double")).drop("_r")


_E_TEXT = ["e_name", "e_first", "e_last"]


def match_usernames(
    usernames: DataFrame,
    employees: DataFrame,
    *,
    top_k: int = TOTAL_MATCHES_TO_DISPLAY,
    threshold: float = float(SCORE_THRESHOLD),
    include_not_found: bool = True,
    blocking: bool | None = None,
) -> DataFrame:
    """End-to-end flagship pipeline.

    ``usernames`` needs a ``username`` column (plus optional ``input_id``
    carried through); ``employees`` needs the canonical four columns
    (``sources/csv.py``).  Returns one row per surviving match with
    ``username, emp_id, emp_name, score, match_rank, match_type``.

    Options: ``top_k`` matches kept per username (``main.py:169``),
    ``threshold`` the minimum score (``main.py:170``),
    ``include_not_found`` emits the ``USER NOT FOUND`` sentinel for
    usernames with no match (``main.py:172-179``), and ``blocking``
    forces the candidate path (``None`` auto-selects, below).

    Scale design — the expensive Python scoring runs once per **distinct
    text pair**, never per (username × employee) row:

    1. Both sides are normalized and checkpointed once per row
       (``plans/staging.stage``), then reduced to distinct text rows
       (``u_norm`` / ``(e_name, e_first, e_last)``): real corpora repeat
       names heavily, and the score is a pure function of the normalized
       texts.
    2. Candidates come from a cross join against the broadcast distinct
       roster texts or via blocked equi-joins (``plans/blocking.py``),
       trading bounded recall loss for O(U·B̄) work.  ``blocking=None``
       auto-selects from plan-time estimates (``plans/probe.py``): exact
       cross-scoring when the estimated pair product is
       ≤ ``_CROSS_PAIR_BUDGET`` and the roster fits the session's
       broadcast threshold, blocked candidates otherwise — a default
       caller can never hit an unbounded cross join.  Pass
       ``True``/``False`` to force a path.
    3. Top-k pruning happens *before* re-expansion: ``rank() <= k`` over
       texts (rank keeps score ties — a text with k rows strictly ahead
       can never reach the final top-k since every text carries ≥1
       employee), and per employee-text only the k first employees by the
       final tiebreak (``emp_id`` asc) can survive, so the expanded
       candidate set is O(distinct_usernames · k²), not O(U·E).
    4. The per-``u_norm`` result fans back out to the original username
       rows with one narrow join.
    """
    if blocking is None:
        # Auto-select from plan statistics (no job): exact cross-scoring
        # only when the pair product is affordable AND the roster side is
        # broadcastable; default callers on an unbounded roster get the
        # blocked path instead of an O(U·E) cross join (VERDICT r2 #3).
        e_rows = estimated_rows(employees)
        u_rows = estimated_rows(usernames)
        # threshold <= 0 disables broadcast → auto falls back to blocking
        bcast_bytes = max(broadcast_threshold(usernames.sparkSession), 0)
        e_broadcastable = e_rows * EST_BYTES_PER_ROW <= bcast_bytes
        blocking = not (e_broadcastable and u_rows * e_rows <= _CROSS_PAIR_BUDGET)

    # The per-row prepared sides are checkpointed: each feeds two
    # consumers (the distinct-text derivation and the final fan-out /
    # employee re-attach join), and without the cut the scan + normalize
    # lineage re-executes per consumer (same-session A/B: unstaged 8.6 s
    # vs staged 6.5 s).  The distinct-text frames are NOT staged: they are
    # vocabulary-sized, so re-deriving them per consumer costs less than a
    # checkpoint's exchange and scheduled job (A/B: 6.77 s staged vs
    # 6.49 s not).
    u = stage(prepare_usernames(usernames, codes=False), "u_norm")
    e = stage(prepare_employees(employees, codes=False), "e_name")
    u_texts = u.select("u_norm", "u_part1", "u_part2").dropDuplicates(["u_norm"])
    e_texts = e.select(*_E_TEXT).dropDuplicates(_E_TEXT)

    if blocking:
        from ..plans.blocking import blocked_candidates

        pairs = blocked_candidates(u_texts, e_texts, broadcast_employees=True)
    else:
        pairs = u_texts.crossJoin(F.broadcast(e_texts))

    scored = score_candidates(pairs).select("u_norm", *_E_TEXT, "score")

    # Texts that can still reach the final top-k: rank() (not row_number)
    # keeps score ties, so every text whose score could compete under the
    # emp_id tiebreak survives pruning.
    w_text = Window.partitionBy("u_norm").orderBy(F.col("score").desc())
    top_texts = (
        scored.withColumn("_tr", F.rank().over(w_text)).filter(F.col("_tr") <= top_k).drop("_tr")
    )

    # Within one employee text all employees score equally, so only the k
    # first by the final tiebreak (emp_id asc, string order as the
    # reference casts ids to str at main.py:124) can appear in any top-k.
    w_emp = Window.partitionBy(*_E_TEXT).orderBy(F.col("emp_id").asc())
    e_short = (
        e.withColumn("_er", F.row_number().over(w_emp))
        .filter(F.col("_er") <= top_k)
        .select(*_E_TEXT, "emp_id", "employee_name")
    )

    slim = top_texts.join(e_short, _E_TEXT).select(
        "u_norm", "emp_id", F.col("employee_name").alias("emp_name"), "score"
    )

    if include_not_found:
        # One dummy candidate per distinct username text (score -1, sorts
        # last).  It wins rank 1 only when a username has no real candidate
        # at all (possible under blocking), which funnels every username
        # through the single window pass below — no anti-join, no second
        # evaluation of the scored lineage (main.py:172-179 semantics).
        dummy = u_texts.select(
            "u_norm",
            F.lit("").alias("emp_id"),
            F.lit("").alias("emp_name"),
            F.lit(-1.0).alias("score"),
        )
        slim = slim.unionByName(dummy)

    key = ["input_id", "username"] if "input_id" in u.columns else ["username"]
    w_top = Window.partitionBy("u_norm").orderBy(F.col("score").desc(), F.col("emp_id").asc())
    w_rank = Window.partitionBy("u_norm").orderBy(F.col("score").desc())
    w_all = Window.partitionBy("u_norm")

    top = (
        slim.withColumn("_rn", F.row_number().over(w_top))
        .filter(F.col("_rn") <= top_k)  # main.py:169 head(k)
        .withColumn("_dr", F.dense_rank().over(w_rank))
        .withColumn("_max_score", F.max("score").over(w_all))
    )

    labels = (
        F.when(F.col("_dr") == 1, "HIGH CONFIDENCE")
        .when(F.col("_dr") == 2, "2nd HIGH CONFIDENCE")
        .when(F.col("_dr") == 3, "3rd HIGH CONFIDENCE")
        .when(F.col("_dr") == 4, "NOT SURE")
        .otherwise("")
    )  # main.py:181-186; ties share a label via dense_rank (main.py:188-198)

    if not include_not_found:
        per_text = top.filter(F.col("score") >= threshold).select(  # main.py:170
            "u_norm",
            "emp_id",
            "emp_name",
            "score",
            F.col("_dr").alias("match_rank"),
            labels.alias("match_type"),
        )
    else:
        # A username "has matches" iff its best (non-dummy) score clears
        # the threshold; otherwise its rank-1 row morphs into the
        # NOT-FOUND sentinel (main.py:172-179).  Dense ranks are
        # unaffected by dropping the sub-threshold tail, since that tail
        # always ranks below the kept rows.
        is_not_found = F.col("_max_score") < threshold
        per_text = top.filter(
            (F.col("score") >= threshold) | (is_not_found & (F.col("_rn") == 1))
        ).select(
            "u_norm",
            F.when(is_not_found, F.lit("N/A")).otherwise(F.col("emp_id")).alias("emp_id"),
            F.when(is_not_found, F.lit("USER NOT FOUND"))
            .otherwise(F.col("emp_name"))
            .alias("emp_name"),
            F.when(is_not_found, F.lit(0.0)).otherwise(F.col("score")).alias("score"),
            F.when(is_not_found, F.lit(None).cast("int"))
            .otherwise(F.col("_dr"))
            .alias("match_rank"),
            F.when(is_not_found, F.lit("USER NOT FOUND"))
            .otherwise(labels)
            .alias("match_type"),
        )

    # Fan the per-distinct-text result back out to every original username
    # row (≤ k rows per u_norm on the right side; AQE broadcasts when
    # small).
    return u.select(*key, "u_norm").join(per_text, "u_norm").drop("u_norm")


def format_output(matches: DataFrame) -> DataFrame:
    """Presentation projection mirroring the reference's download CSV
    (``main.py:200-207``): percent-formatted score, input order preserved
    when ``input_id`` is present.  (The reference's blank separator rows,
    ``main.py:209``, are a sink concern and intentionally not emitted.)"""
    order = (
        ["input_id", F.col("match_rank").asc_nulls_last()]
        if "input_id" in matches.columns
        else ["username", F.col("match_rank").asc_nulls_last()]
    )
    return matches.orderBy(*order).select(
        "username",
        "emp_id",
        "emp_name",
        F.format_string("%.2f%%", F.col("score")).alias("confidence_score"),
        "match_type",
    )
