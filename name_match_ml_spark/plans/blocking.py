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
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["blocked_candidates"]


def _token_keys(tokens: Column) -> Column:
    """tok/g3/sdx keys for every non-empty token in ``tokens``.

    The two edge 3-grams share one ``g3:`` namespace so a *suffix* of one
    token can block against a *prefix* of another — catches truncated
    mashups like ``hashkul`` ↔ "Harsh **Kul**karni"."""
    return F.flatten(
        F.transform(
            F.filter(tokens, lambda t: t != ""),
            lambda t: F.array(
                F.concat(F.lit("tok:"), t),
                F.concat(F.lit("g3:"), F.substring(t, 1, 3)),
                F.concat(F.lit("g3:"), F.substring(t, -3, 3)),
                F.concat(F.lit("sdx:"), F.soundex(t)),
            ),
        )
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
    sides bounds every key's contribution to ≤ cap² pairs.  Recall note:
    a true match is lost only when *every* key the pair shares is hot —
    for name-shaped data a pair sharing only an ultra-common surname
    token scores mostly on the uncommon parts anyway, and the reference-
    fixture recall test (``tests/test_matching.py``) pins that nothing
    real is lost at the default cap.  The hot-key set itself is tiny
    (≤ N/cap keys), so the subtraction is a broadcast anti-join, and the
    one df aggregate over both sides shuffles only (key, counts) rows."""
    u_tokens = F.split(F.col("u_norm"), r"[^a-z]+")
    u_stripped = F.regexp_replace(F.col("u_norm"), r"[^a-z]", "")
    u_keys = u_texts.withColumn(
        "_bkey",
        F.explode(
            F.array_distinct(
                F.concat(
                    _token_keys(u_tokens),
                    F.when(
                        u_stripped != "",
                        F.array(
                            F.concat(F.lit("sdx:"), F.soundex(u_stripped)),
                            F.concat(F.lit("g3:"), F.substring(u_stripped, 1, 3)),
                            F.concat(F.lit("g3:"), F.substring(u_stripped, -3, 3)),
                        ),
                    ).otherwise(F.array().cast("array<string>")),
                )
            )
        ),
    )

    e_keys = e_texts.withColumn(
        "_bkey",
        F.explode(
            F.array_distinct(
                _token_keys(F.array(F.col("e_first"), F.col("e_last")))
            )
        ),
    )

    if hot_key_cap is not None:
        # One aggregate over both sides' keys, tagged by side: a key is
        # hot when its df exceeds the cap on either side.  The hot set is
        # small by construction, so Catalyst broadcasts it into both
        # anti-joins.  The aggregate re-derives the exploded keys from
        # the text sides: one narrow recompute, no driver action.
        tagged = u_keys.select("_bkey", F.lit(True).alias("_u")).unionByName(
            e_keys.select("_bkey", F.lit(False).alias("_u"))
        )
        hot = F.broadcast(
            tagged.groupBy("_bkey")
            .agg(
                F.count_if(F.col("_u")).alias("_u_df"),
                F.count_if(~F.col("_u")).alias("_e_df"),
            )
            .filter((F.col("_u_df") > hot_key_cap) | (F.col("_e_df") > hot_key_cap))
            .select("_bkey")
        )
        u_keys = u_keys.join(hot, "_bkey", "left_anti")
        e_keys = e_keys.join(hot, "_bkey", "left_anti")

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
