"""Correctness oracles for the benchmark's ops.

Each check runs outside the timed window and returns a list of problems
(empty when the op's output is correct).  The oracles are independent of
the Spark plans they check:

* flagship ops are re-scored with the pure-Python ``compute_match_score``
  on sampled rows, and every username's rows are held to the reference's
  top-4 / threshold-50 / dense-rank label / NOT-FOUND rules
  (``main.py:163-209``);
* n-gram dedup ops are compared with an exact bigram-set Jaccard computed
  here with one integer matrix product, which is itself checked against
  DuckDB running ``oracle_sql()["ngram_jaccard_dedup"]``.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re

import numpy as np

from name_match_ml_spark.functions.scoring import (
    SCORE_THRESHOLD,
    TOTAL_MATCHES_TO_DISPLAY,
    compute_match_score,
)

LABELS = {1: "HIGH CONFIDENCE", 2: "2nd HIGH CONFIDENCE", 3: "3rd HIGH CONFIDENCE", 4: "NOT SURE"}
NOT_FOUND = "USER NOT FOUND"


def employee_name(first: str, last: str) -> str:
    """``employee_name`` as ``load_employees`` derives it (trimmed
    ``first + ' ' + last``)."""
    return f"{first} {last}".strip()


def check_corpus(
    usernames: list[str],
    roster: list[tuple[str, str, str]],
    rows: list[dict],
    sample: int,
    seed: int,
) -> list[str]:
    """``rows`` are ``match_usernames`` rows read back from the parquet
    sink.  Every input row must appear with one NOT-FOUND row or 1-4 rows
    whose ranks and labels are the dense rank of their scores; ``sample``
    sampled rows must carry ``compute_match_score`` of their pair."""
    problems: list[str] = []
    per_input: dict[int, list[dict]] = {}
    for r in rows:
        per_input.setdefault(r["input_id"], []).append(r)
    if len(per_input) != len(usernames):
        problems.append(f"{len(per_input)} input rows in output, {len(usernames)} in input")
    over = [k for k, found in per_input.items() if len(found) > TOTAL_MATCHES_TO_DISPLAY]
    if over:
        problems.append(f"{len(over)} usernames with more than {TOTAL_MATCHES_TO_DISPLAY} rows")
    bad_ranks = [k for k, found in per_input.items() if not _ranked(found)]
    if bad_ranks:
        problems.append(f"{len(bad_ranks)} usernames whose ranks or labels break the dense-rank rule")
    by_id = {emp_id: (first, last) for emp_id, first, last in roster}
    ordered = sorted(rows, key=lambda r: (r["input_id"], r["emp_id"]))
    for r in random.Random(seed).sample(ordered, min(sample, len(ordered))):
        if r["emp_id"] == "N/A":
            ok = r["emp_name"] == NOT_FOUND and r["score"] == 0.0
        elif r["emp_id"] not in by_id:
            ok = False
        else:
            first, last = by_id[r["emp_id"]]
            name = employee_name(first, last)
            want = compute_match_score(r["username"], name, first, last, r["emp_id"])
            ok = r["emp_name"] == name and abs(r["score"] - want) < 1e-9 and want >= SCORE_THRESHOLD
        if not ok:
            problems.append(f"row {r} does not match its pair's score")
    return problems


def _ranked(found: list[dict]) -> bool:
    """One username's rows: a lone NOT-FOUND row, or ranks that are the
    dense rank of the scores (descending) with the rank's label."""
    if any(r["emp_id"] == "N/A" for r in found):
        r = found[0]
        return len(found) == 1 and r["match_rank"] is None and r["match_type"] == NOT_FOUND
    dense = {s: k for k, s in enumerate(sorted({r["score"] for r in found}, reverse=True), 1)}
    return all(r["match_rank"] == dense[r["score"]] and r["match_type"] == LABELS[dense[r["score"]]] for r in found)


def digest(rows: list[dict]) -> str:
    """Order-free digest of match rows (``input_id`` left out: it numbers
    scan partitions, not the rows' content)."""
    keys = sorted(
        (r["username"], r["emp_id"], r["emp_name"], repr(r["score"]), str(r["match_rank"]), r["match_type"])
        for r in rows
    )
    return hashlib.sha256(json.dumps(keys).encode()).hexdigest()


def check_digests(store: str, digests: dict[int, str]) -> list[str]:
    """Compare op digests with those an earlier run of the same workload
    and seed stored at ``store``.  Digests missing there are added; a
    stored digest is never replaced, so a changed output keeps failing."""
    old: dict[str, str] = {}
    if os.path.exists(store):
        with open(store) as f:
            old = json.load(f)
    problems = [
        f"op {i}: output digest differs from an earlier run of this seed"
        for i, d in digests.items()
        if str(i) in old and old[str(i)] != d
    ]
    for i, d in digests.items():
        old.setdefault(str(i), d)
    os.makedirs(os.path.dirname(store), exist_ok=True)
    with open(store, "w") as f:
        json.dump(old, f, sort_keys=True)
    return problems


_WS = re.compile(r"\s+")


def _shingles(text: str) -> set[str]:
    """Word-bigram shingle set, as ``oracle_sql()["ngram_jaccard_dedup"]``
    builds it (a one-word document is its own shingle)."""
    words = [w for w in _WS.split(text.lower()) if w]
    if len(words) < 2:
        return set(words)
    return {f"{a} {b}" for a, b in zip(words, words[1:])}


def jaccard_pairs(docs: list[tuple[int, str]], threshold: float) -> dict[tuple[int, int], float]:
    """Exact ``{(doc_a, doc_b): jaccard}`` for ``doc_a < doc_b`` with
    bigram Jaccard >= ``threshold``: one 0/1 document x shingle matrix,
    intersections from its Gram matrix (exact in float64)."""
    sets = [(doc_id, _shingles(text)) for doc_id, text in docs]
    sets = [(d, s) for d, s in sets if s]
    vocab = {sh: i for i, sh in enumerate(sorted(set().union(*(s for _, s in sets))))}
    m = np.zeros((len(sets), len(vocab)))
    for row, (_, s) in enumerate(sets):
        m[row, [vocab[sh] for sh in s]] = 1.0
    inter = m @ m.T
    sizes = m.sum(axis=1)
    union = sizes[:, None] + sizes[None, :] - inter
    jac = inter / union
    ids = np.array([d for d, _ in sets])
    a, b = np.nonzero(np.triu(jac >= threshold, k=1))
    out = {}
    for i, j in zip(a, b):
        lo, hi = sorted((int(ids[i]), int(ids[j])))
        out[(lo, hi)] = float(jac[i, j])
    return out


def duckdb_pairs(parquet_path: str) -> dict[tuple[int, int], float]:
    """DuckDB running the repo's own oracle SQL over a documents file."""
    import duckdb

    from __spark_entry__ import oracle_sql

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{parquet_path}')")
        return {(a, b): j for a, b, j in con.execute(oracle_sql()["ngram_jaccard_dedup"]).fetchall()}
    finally:
        con.close()


def same_pairs(got: dict[tuple[int, int], float], want: dict[tuple[int, int], float]) -> list[str]:
    problems = []
    if set(got) != set(want):
        missing, extra = set(want) - set(got), set(got) - set(want)
        problems.append(f"pair sets differ: {len(missing)} missing, {len(extra)} extra")
    bad = [k for k in set(got) & set(want) if abs(got[k] - want[k]) > 1e-9]
    if bad:
        problems.append(f"{len(bad)} pairs with a different jaccard")
    return problems
