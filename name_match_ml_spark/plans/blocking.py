"""Blocked candidate generation for the similarity join at scale.

The reference's similarity join is a full cross product (``main.py:163-167``)
— O(U×E). That is fine when one side broadcasts, but at 100 TB neither side
may fit. Standard record-linkage blocking (see the distributed similarity-
join entries in ``PAPERS.md``) replaces the cross product with one equi-join
on exploded *blocking keys* chosen so that any pair the scorer could rate
highly shares at least one key:

* ``tok:<token>``  — exact alphabetic tokens of the username vs first/last
  name (covers ``first.last``-style patterns, ``main.py:36-52``)
* ``g3:<gram>``    — 3-char edge grams (prefix/suffix) of each token (covers
  concatenations like ``iamkulkarni`` and truncations like ``ravi_trip``)
* ``sdx:<code>``   — Soundex of each token and of the stripped username vs
  Soundex of first/last name (covers typos, ``main.py:63-66``)

Soundex here is Spark's **builtin** (JVM, codegen) — blocking only needs
both sides bucketed by the same function, so jellyfish parity is not
required (scoring still uses the parity UDF).

Blocking operates on **distinct text rows** (see ``operators/matching.py``:
one row per distinct normalized username, one per distinct employee name
text), so the join and the pair dedup shuffle only narrow text columns.
The join shuffles both sides by key (or broadcasts the employee texts),
AQE skew-join splits hot buckets (common surnames), and candidates are
deduped on the text pair before scoring. The dedup's exchange hashes on
the whole text pair with an explicit partition count (the session's
default parallelism), so AQE cannot coalesce it by bytes: a few MB of text
pairs would otherwise collapse to one partition, and the per-row Python
scorer downstream would run on one core. One exchange serves both the
dedup and the scorer's spread. It hashes the pair, not ``u_norm`` alone:
the username side arrives hash-partitioned on ``u_norm`` already, and when
the default parallelism equals the shuffle partition count the planner
drops a repartition that repeats its child's partitioning, which leaves
the scorer on AQE's coalesced partitions. Recall loss is bounded to pairs
sharing no token edge-gram and no phonetic code — pairs the composite would
score near the threshold anyway (verified ≥65-score recall on the committed
and the reference fixtures in ``tests/test_matching.py``).

Hot keys are capped per side: each side drops the keys whose document
frequency *on that side* exceeds the cap, before the inner key join. A key
missing from either side of an inner join yields no pair, so this gives
exactly the pairs of the rule "drop a key from both sides when it is hot
on either", and needs no aggregate over both sides' keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["blocked_candidates"]


def _token_keys(tokens: str) -> str:
    """SQL for the tok/g3/sdx keys of every non-empty token in ``tokens``.

    The two edge 3-grams share one ``g3:`` namespace so a *suffix* of one
    token can block against a *prefix* of another — catches truncated
    mashups like ``hashkul`` ↔ "Harsh **Kul**karni"."""
    return (
        f"flatten(transform(filter({tokens}, t -> t != ''), t -> array("
        "concat('tok:', t), concat('g3:', substring(t, 1, 3)),"
        " concat('g3:', substring(t, -3, 3)), concat('sdx:', soundex(t)))))"
    )


# The key arrays are SQL text, parsed in one call each (built from Column
# functions and lambdas they cost a few hundred py4j round trips).
_U_TOKENS = _token_keys("split(u_norm, '[^a-z]+')")
_U_STRIPPED = "regexp_replace(u_norm, '[^a-z]', '')"
_USERNAME_KEYS = (
    f"array_distinct(concat({_U_TOKENS},"
    f" IF({_U_STRIPPED} != '', array(concat('sdx:', soundex({_U_STRIPPED})),"
    f" concat('g3:', substring({_U_STRIPPED}, 1, 3)),"
    f" concat('g3:', substring({_U_STRIPPED}, -3, 3))), CAST(array() AS array<string>))))"
)
_EMPLOYEE_KEYS = f"array_distinct({_token_keys('array(e_first, e_last)')})"


def _username_keys(u_texts: DataFrame) -> DataFrame:
    """One row per (username text, blocking key), the key in ``_bkey``."""
    return u_texts.selectExpr("*", f"explode({_USERNAME_KEYS}) AS _bkey")


def _employee_keys(e_texts: DataFrame) -> DataFrame:
    """One row per (employee text, blocking key), the key in ``_bkey``."""
    return e_texts.selectExpr("*", f"explode({_EMPLOYEE_KEYS}) AS _bkey")


def _drop_hot(keys: DataFrame, hot_key_cap: int | None) -> DataFrame:
    """Keep the keys whose document frequency on this side is at most the
    cap.  Each text carries a key once and the texts are distinct, so the
    rows per key are its document frequency."""
    if hot_key_cap is None:
        return keys
    return (
        keys.selectExpr("*", "count(1) OVER (PARTITION BY _bkey) AS _df")
        .filter(f"_df <= {hot_key_cap}")
        .drop("_df")
    )


def blocked_candidates(
    u_texts: DataFrame,
    e_texts: DataFrame,
    *,
    broadcast_employees: bool = False,
    hot_key_cap: int | None = 1000,
) -> DataFrame:
    """Candidate text pairs from prepared distinct-text sides (see
    ``operators/matching.py``) via one blocking-key equi-join instead of a
    cross product.  Expects ``u_norm`` distinct on the username side and
    ``(e_name, e_first, e_last)`` distinct on the employee side; returns
    one row per candidate (u_norm × employee-text) pair.

    ``hot_key_cap``: drop blocking keys whose document frequency exceeds
    the cap on EITHER side (``None`` disables).  A key covering f_u
    usernames and f_e roster names contributes f_u × f_e candidate pairs —
    one surname held by 30% of each side at 100 TB is a quadratic pair
    bomb that no amount of AQE skew-splitting fixes (AQE spreads the
    pairs over tasks; it cannot make there be fewer pairs).  Capping both
    sides bounds every key's contribution to ≤ cap² pairs.  Each side
    drops its own hot keys; a key dropped from either side meets nothing
    in the inner join, so this yields exactly the pairs of dropping it
    from both.  Recall note: a true match is lost only when *every* key
    the pair shares is hot — for name-shaped data a pair sharing only an
    ultra-common surname token scores mostly on the uncommon parts
    anyway, and the reference-fixture recall test
    (``tests/test_matching.py``) pins that nothing real is lost at the
    default cap."""
    u_keys = _drop_hot(_username_keys(u_texts), hot_key_cap)
    e_keys = _drop_hot(_employee_keys(e_texts), hot_key_cap)
    if broadcast_employees:
        e_keys = F.broadcast(e_keys)

    pair_key = ["u_norm", "e_name", "e_first", "e_last"]
    n = u_texts.sparkSession.sparkContext.defaultParallelism
    return (
        u_keys.join(e_keys, "_bkey")
        .drop("_bkey")
        .repartition(n, *pair_key)
        .dropDuplicates(pair_key)
    )
