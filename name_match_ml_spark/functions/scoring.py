"""The match-score expression, decomposed Spark-first.

Reference semantics: ``compute_match_score`` at ``main.py:25-90`` — a
weighted composite of Levenshtein-family ratios, token-set ratios, phonetic
(Soundex/Metaphone) equality on first/last name, plus pattern/split/initial
bonuses, capped at 100.

Spark decomposition (see ``operators/matching.py`` for assembly):

* Pattern short-circuit (``main.py:36-47``), split bonus (``:49-52``),
  initial bonus (``:68-74``), the weighted sum and the ``min(·,100)`` cap
  (``:76-90``) are **native column expressions** — whole-stage codegen,
  no Python.
* Everything that needs Python runs in **one** per-pair pass,
  :func:`pair_ratios_udf` — an Arrow-vectorised pandas UDF returning a
  struct of the five ratio components plus the phonetic term (Soundex/
  Metaphone equality on first/last name, ``main.py:63-66,82-85``), so
  the flagship plan keeps a single Python stage.
* :func:`phonetic_codes_udf` computes the codes per row for callers that
  want them as columns (``prepare_usernames``/``prepare_employees`` with
  ``codes=True``); the flagship pipeline does not use it.

Memo: one dict per :func:`pair_ratios_udf` call (one Arrow batch) maps
each distinct text of the batch to its match masks, token view and
phonetic codes (:func:`_prepare`); a username or roster name that sits in
many candidate pairs is prepared once.  Nothing outlives the call, as in
the flagship, which keeps nothing across requests (``operators/
matching.py``).  There is no memo of whole pairs: both candidate paths
hand the UDF distinct text pairs (Spark deduplicates them), so a pair
memo never hits within a call — instrumented workers counted 0 hits over
6 ``match_corpus`` ops × 2 workers — and across calls it held up to
about 1M entries of four strings and six ints per Python worker for a
hit share on real traffic that nobody has measured.

The pure-Python :func:`compute_match_score` mirrors the reference
row-function exactly (including the dead ``number_match_bonus`` at
``main.py:54``) and is the test oracle for the distributed pipeline; the
only intentional divergences are the guarded edges where the reference
raises IndexError (``main.py:69`` empty username, ``main.py:73`` trailing
dot) — this engine scores them instead of crashing.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .similarity import (
    _match_masks,
    _partial_ratio,
    _ratio,
    _token_set_ratio,
    _token_view,
    metaphone,
    partial_ratio,
    ratio,
    soundex,
    token_set_ratio,
)

__all__ = [
    "SCORE_THRESHOLD",
    "TOTAL_MATCHES_TO_DISPLAY",
    "COMPOSITE_WEIGHTS",
    "compute_match_score",
    "pair_ratios_udf",
    "phonetic_codes_udf",
]

# Constants from ``main.py:19-22``.
NUM_TOP_GROUP_MATCHES = 2
NUM_ADDITIONAL_POSSIBLE_MATCHES = 2
TOTAL_MATCHES_TO_DISPLAY = NUM_TOP_GROUP_MATCHES + NUM_ADDITIONAL_POSSIBLE_MATCHES
SCORE_THRESHOLD = 50

# Weights from ``main.py:76-88``.
COMPOSITE_WEIGHTS = {
    "lev_full": 0.2,
    "partial_full": 0.2,
    "token_set_full": 0.2,
    "token_set_last": 0.3,
    "token_set_first": 0.2,
    "soundex_last": 6,
    "metaphone_last": 7,
    "soundex_first": 3,
    "metaphone_first": 3,
}

_USERNAME_SPLIT_RE = re.compile(r"[\._\-\s]")


def compute_match_score(
    username: str,
    employee_name: str,
    first_name: str,
    last_name: str,
    emp_id: str,
) -> float:
    """Pure-Python mirror of ``main.py:25-90`` (the test oracle).

    Total where the reference crashes: the initial-bonus lookups at
    ``main.py:69,73`` are guarded for empty strings.
    """
    u = str(username).lower().strip()
    ename = str(employee_name).lower().strip()
    first = str(first_name).lower().strip()
    last = str(last_name).lower().strip()
    emp_id_str = str(emp_id).lower().strip()

    parts = _USERNAME_SPLIT_RE.split(u)
    part1 = parts[0] if len(parts) > 0 else ""
    part2 = parts[1] if len(parts) > 1 else ""

    patterns = [
        f"{first}.{last}",
        f"{last}.{first}",
        f"{first}_{last}",
        f"{last}_{first}",
        f"{first}{last}",
        f"{last}{first}",
        f"{first} {last}",
        f"{last} {first}",
    ]
    if u in patterns:
        return 100.0

    split_bonus = 0
    if (part1 == first and part2 == last) or (part2 == first and part1 == last):
        split_bonus += 10

    # Dead code replicated verbatim from ``main.py:54`` — always 0.
    number_match_bonus = 0 if emp_id_str in u else 0

    lev_full = ratio(u, ename)
    partial_full = partial_ratio(u, ename)
    token_set_full = token_set_ratio(u, ename)
    token_set_first = token_set_ratio(u, first)
    token_set_last = token_set_ratio(u, last)

    soundex_last = int(soundex(u) == soundex(last))
    metaphone_last = int(metaphone(u) == metaphone(last))
    soundex_first = int(soundex(u) == soundex(first))
    metaphone_first = int(metaphone(u) == metaphone(first))

    initial_bonus = 0
    # Guarded vs ``main.py:69`` (IndexError on empty username/first name).
    if u and first and u[0] == first[0]:
        initial_bonus += 5
    if "." in u:
        dot_parts = u.split(".")
        # Guarded vs ``main.py:73`` (IndexError on "john.").
        if len(dot_parts) > 1 and dot_parts[1] and first and dot_parts[1][0] == first[0]:
            initial_bonus += 5

    composite = (
        lev_full * 0.2
        + partial_full * 0.2
        + token_set_full * 0.2
        + token_set_last * 0.3
        + token_set_first * 0.2
        + soundex_last * 6
        + metaphone_last * 7
        + soundex_first * 3
        + metaphone_first * 3
        + split_bonus
        + initial_bonus
        + number_match_bonus
    )
    return float(min(composite, 100))


# --------------------------------------------------------------------------
# Arrow-vectorised UDFs
# --------------------------------------------------------------------------

PAIR_RATIOS_SCHEMA = StructType(
    [
        StructField("lev_full", IntegerType()),
        StructField("partial_full", IntegerType()),
        StructField("token_set_full", IntegerType()),
        StructField("token_set_first", IntegerType()),
        StructField("token_set_last", IntegerType()),
        StructField("phonetic", IntegerType()),
    ]
)


def _prepare(s: str) -> tuple:
    """Everything the pair kernel reads of one text: its match masks, its
    token view (``full_process`` token set, sorted token string and that
    string's match masks) and its (Soundex, Metaphone) codes."""
    return _match_masks(s), _token_view(s), soundex(s), metaphone(s)


def _pair_components(
    u: str, e: str, f: str, l: str, prepared
) -> tuple[int, int, int, int, int, int]:
    """The five ratios of ``main.py:56-61`` and the phonetic points of
    ``main.py:63-66,82-85`` (Soundex/Metaphone equality of the username
    with the last name, 6/7, and with the first name, 3/3) for one pair.
    ``prepared(text)`` returns :func:`_prepare` of a text."""
    u_pm, u_view, u_sdx, u_mp = prepared(u)
    e_pm, e_view, _, _ = prepared(e)
    _, f_view, f_sdx, f_mp = prepared(f)
    _, l_view, l_sdx, l_mp = prepared(l)
    return (
        _ratio(u, u_pm, e),
        _partial_ratio(u, u_pm, e, e_pm),
        _token_set_ratio(u_view, e_view),
        _token_set_ratio(u_view, f_view),
        _token_set_ratio(u_view, l_view),
        6 * (u_sdx == l_sdx)
        + 7 * (u_mp == l_mp)
        + 3 * (u_sdx == f_sdx)
        + 3 * (u_mp == f_mp),
    )


@pandas_udf(PAIR_RATIOS_SCHEMA)
def pair_ratios_udf(
    username: pd.Series,
    employee_name: pd.Series,
    first_name: pd.Series,
    last_name: pd.Series,
) -> pd.DataFrame:
    """Per-pair ratio components (``main.py:56-61``) and phonetic term
    (``main.py:63-66``), one Arrow batch at a time.  Inputs are
    pre-lowercased/trimmed columns; this is the only Python stage in the
    flagship plan.  Each distinct text of the batch is prepared once
    (:func:`_prepare`); the memo is dropped when the batch is done."""
    memo: dict[str, tuple] = {}

    def prepared(s: str) -> tuple:
        p = memo.get(s)
        if p is None:
            p = memo[s] = _prepare(s)
        return p

    rows = [
        _pair_components(u, e, f, l, prepared)
        for u, e, f, l in zip(
            username.fillna(""),
            employee_name.fillna(""),
            first_name.fillna(""),
            last_name.fillna(""),
        )
    ]
    return pd.DataFrame(rows, columns=PAIR_RATIOS_SCHEMA.fieldNames())


PHONETIC_SCHEMA = StructType(
    [
        StructField("sdx", StringType()),
        StructField("mp", StringType()),
    ]
)


@pandas_udf(PHONETIC_SCHEMA)
def phonetic_codes_udf(s: pd.Series) -> pd.DataFrame:
    """Soundex + Metaphone codes of one column, one row at a time — for
    callers that want the codes as columns; scoring computes them inside
    :func:`pair_ratios_udf`."""
    return pd.DataFrame(
        [(soundex(v), metaphone(v)) for v in s.fillna("")], columns=["sdx", "mp"]
    )
