"""End-to-end flagship pipeline tests: Spark plan vs pure-Python oracle.

The oracle is ``compute_match_score`` + an exact reimplementation of the
reference's top-k/threshold/label loop (``main.py:163-209``).  The exactness
pins run on the committed reference-shaped fixture in ``tests/data``
(FIXTURES.md §A/§B patterns plus the ``""``/``"."``/``"john."`` edges) and,
when the reference's own CSVs are present, on those too.
"""

from __future__ import annotations

import csv
import os
import re

import pytest

from name_match_ml_spark.functions.scoring import (
    SCORE_THRESHOLD,
    TOTAL_MATCHES_TO_DISPLAY,
    compute_match_score,
)
from name_match_ml_spark.operators.matching import (
    format_output,
    match_usernames,
    prepare_employees,
    prepare_usernames,
    score_candidates,
)
from name_match_ml_spark.sources.csv import employees_from_df, load_employees, load_usernames

REF_EMPLOYEES = "/root/reference/employee.csv"
REF_USERNAMES = "/root/reference/usernames.csv"

_DATA = os.path.join(os.path.dirname(__file__), "data")
FIXTURE_EMPLOYEES = os.path.join(_DATA, "employee.csv")
FIXTURE_USERNAMES = os.path.join(_DATA, "usernames.csv")

_SOURCES = {
    "fixture": (FIXTURE_EMPLOYEES, FIXTURE_USERNAMES),
    "reference": (REF_EMPLOYEES, REF_USERNAMES),
}


def _paths(source: str) -> tuple[str, str]:
    paths = _SOURCES[source]
    if not all(os.path.exists(p) for p in paths):
        pytest.skip(f"{source} CSVs not present")
    return paths


def _ref_rows(source: str):
    emp_path, user_path = _paths(source)
    with open(emp_path) as f:
        emps = [
            (r["EMP_ID"], r["First_Name"], r["Last_Name"]) for r in csv.DictReader(f)
        ]
    with open(user_path) as f:
        unames = [r["username"] for r in csv.DictReader(f)]
    return emps, unames


def _oracle_matches(emps, unames):
    """Pure-Python mirror of main.py:163-209 with the engine's deterministic
    tiebreak (score desc, emp_id asc as string)."""
    out = {}
    for uname in unames:
        scored = []
        for emp_id, first, last in emps:
            ename = f"{first} {last}"
            s = compute_match_score(uname, ename, first, last, emp_id)
            scored.append((emp_id, ename, s))
        scored.sort(key=lambda t: (-t[2], t[0]))
        top = [t for t in scored[:TOTAL_MATCHES_TO_DISPLAY] if t[2] >= SCORE_THRESHOLD]
        rows = []
        rank, prev = 1, None
        labels = {1: "HIGH CONFIDENCE", 2: "2nd HIGH CONFIDENCE",
                  3: "3rd HIGH CONFIDENCE", 4: "NOT SURE"}
        for emp_id, ename, s in top:
            if prev is not None and s < prev:
                rank += 1
            # The engine trims the derived display name ("Kiran " for an
            # empty last name is emitted as "Kiran").
            rows.append((emp_id, ename.strip(), round(s, 6), labels.get(rank, "")))
            prev = s
        out[uname] = rows
    return out


@pytest.fixture(scope="module", params=sorted(_SOURCES))
def source(request):
    return request.param


@pytest.fixture(scope="module")
def ref_dfs(spark, source):
    emp_path, user_path = _paths(source)
    return load_employees(spark, emp_path), load_usernames(spark, user_path)


def test_employee_ingestion_canonicalizes(spark):
    employees = load_employees(spark, _paths("reference")[0])
    assert employees.columns == ["emp_id", "first_name", "last_name", "employee_name"]
    rows = employees.collect()
    assert len(rows) == 154  # 155 lines incl. header, no trailing newline
    by_id = {r.emp_id: r for r in rows}
    assert by_id["7"].employee_name == "Swati Patel"
    assert by_id["7"].first_name == "Swati"


def test_alias_normalization(spark):
    df = spark.createDataFrame(
        [("1", "Swati", "Patel"), ("2", "Neha", "Tripathi")],
        ["Employee ID", "fname", "surname"],
    )
    out = employees_from_df(df)
    assert out.columns == ["emp_id", "first_name", "last_name", "employee_name"]
    rows = {r.emp_id: r for r in out.collect()}
    assert rows["1"].employee_name == "Swati Patel"


def test_fullname_split_derivation(spark):
    df = spark.createDataFrame([("1", "Swati Patel"), ("2", "Neha")], ["id", "Name"])
    out = employees_from_df(df).collect()
    by_id = {r.emp_id: r for r in out}
    assert (by_id["1"].first_name, by_id["1"].last_name) == ("Swati", "Patel")
    # single-token name: last_name degrades to '' (main.py:118-120 semantics)
    assert (by_id["2"].first_name, by_id["2"].last_name) == ("Neha", "")


def test_ingest_error_modes(spark):
    """Default fails loudly; on_error='empty' reproduces the reference's
    degrade-to-empty semantics (main.py:131-133) with the canonical
    schema."""
    import pytest as _pytest

    bad = spark.createDataFrame([("x",)], ["unrelated"])
    with _pytest.raises(ValueError, match="missing columns"):
        employees_from_df(bad)
    out = employees_from_df(bad, on_error="empty")
    assert out.columns == ["emp_id", "first_name", "last_name", "employee_name"]
    assert out.count() == 0
    with _pytest.raises(ValueError, match="on_error"):
        employees_from_df(bad, on_error="bogus")


def test_flagship_matches_oracle(spark, source, ref_dfs):
    employees, usernames = ref_dfs
    emps, unames = _ref_rows(source)
    oracle = _oracle_matches(emps, unames)

    result = match_usernames(usernames, employees)
    got = {}
    for r in result.collect():
        got.setdefault(r.username, []).append(
            (r.emp_id, r.emp_name, round(r.score, 6), r.match_type, r.match_rank)
        )

    assert set(got) == set(unames)
    for uname in unames:
        want = oracle[uname]
        rows = sorted(got[uname], key=lambda t: (-t[2], t[0]))
        if not want:
            assert rows == [("N/A", "USER NOT FOUND", 0.0, "USER NOT FOUND", None)], uname
        else:
            assert [(e, n, s, t) for e, n, s, t, _ in rows] == want, uname


def test_golden_output_rows(spark, ref_dfs):
    """assets/example.png rows through the full distributed pipeline.

    (The pictured usernames are not in usernames.csv — the screenshot was
    made from a different upload — so feed them directly.)"""
    employees, _ = ref_dfs
    usernames = spark.createDataFrame(
        [("swati.patel",), ("harshm37",), ("n.tripathi25",)], ["username"]
    )
    out = format_output(match_usernames(usernames, employees))
    rows = {(r.username, r.emp_id): r for r in out.collect()}
    golden = [
        ("swati.patel", "7", "100.00%", "HIGH CONFIDENCE"),
        ("swati.patel", "60", "79.80%", "2nd HIGH CONFIDENCE"),
        ("harshm37", "103", "76.90%", "HIGH CONFIDENCE"),
        ("harshm37", "9", "76.90%", "HIGH CONFIDENCE"),
        ("harshm37", "14", "66.30%", "2nd HIGH CONFIDENCE"),
        ("n.tripathi25", "25", "80.40%", "HIGH CONFIDENCE"),
    ]
    for uname, emp_id, score, label in golden:
        r = rows[(uname, emp_id)]
        assert r.confidence_score == score, (uname, emp_id)
        assert r.match_type == label, (uname, emp_id)


_SENTINEL = ("N/A", "USER NOT FOUND", 0.0, None, "USER NOT FOUND")


@pytest.mark.parametrize("include_not_found", [True, False])
@pytest.mark.parametrize("blocking", [False, True])
def test_not_found_sentinel_per_input_row(spark, blocking, include_not_found):
    """Every input row whose username keeps no match gets exactly one
    sentinel row with ``include_not_found`` and none without it, on the
    cross path and on the blocked path (where a username can have no
    candidate at all); a matched username keeps its golden rows."""
    emps, _ = _ref_rows("fixture")
    no_match = ["", ".", "12345", "qzxv", "qzxv"]  # "qzxv" on two input rows
    assert not any(_oracle_matches(emps, no_match[:4]).values())
    usernames = spark.createDataFrame(
        list(enumerate(no_match + ["swati.patel"])), "input_id long, username string"
    )
    employees = load_employees(spark, FIXTURE_EMPLOYEES)
    got = {}
    for r in match_usernames(
        usernames, employees, blocking=blocking, include_not_found=include_not_found
    ).collect():
        got.setdefault(r.input_id, []).append(
            (r.emp_id, r.emp_name, round(r.score, 6), r.match_rank, r.match_type)
        )

    want_nf = [_SENTINEL] if include_not_found else None
    assert [got.get(i) for i in range(len(no_match))] == [want_nf] * len(no_match)
    swati = got[len(no_match)]
    assert ("7", "Swati Patel", 100.0, 1, "HIGH CONFIDENCE") in swati
    assert ("60", "Tanvi Patel", 79.8, 2, "2nd HIGH CONFIDENCE") in swati
    assert _SENTINEL not in swati


def test_blocked_candidates_recall_on_matches(spark, source, ref_dfs):
    """Blocking must retain every pair the cross product scores ≥ threshold
    on the reference fixtures (the blocking keys subsume the scorer's own
    signals for real name-shaped usernames), including the edge texts."""
    employees, usernames = ref_dfs
    full = match_usernames(usernames, employees, include_not_found=False, blocking=False)
    blocked = match_usernames(
        usernames, employees, include_not_found=False, blocking=True
    )
    full_pairs = {(r.username, r.emp_id, r.score) for r in full.collect()}
    blocked_pairs = {(r.username, r.emp_id, r.score) for r in blocked.collect()}
    missing = {p for p in full_pairs if p[2] >= 65.0} - blocked_pairs
    assert not missing, f"blocking lost high-score pairs: {sorted(missing)[:5]}"
    # bounded loss below 65: blocking keeps most pairs overall.  The
    # fixture's small roster and its initial-only and edge usernames put
    # a larger share of its pairs in the 50-65 band, sharing no blocking
    # key (measured: 119 of 151 kept).
    floor = {"reference": 0.9, "fixture": 0.75}[source]
    assert len(blocked_pairs) >= floor * len(full_pairs)


def test_score_candidates_matches_python_scorer(spark, ref_dfs):
    """Distributed decomposed scorer ≡ pure-Python compute_match_score on
    every (username × employee) pair, edge texts included."""
    employees, usernames = ref_dfs
    pairs = prepare_usernames(usernames).crossJoin(
        prepare_employees(employees)
    )
    scored = score_candidates(pairs).select(
        "username", "emp_id", "employee_name", "first_name", "last_name", "score"
    )
    for r in scored.collect():
        want = compute_match_score(
            r.username, r.employee_name, r.first_name, r.last_name, r.emp_id
        )
        assert r.score == pytest.approx(want, abs=1e-9), (r.username, r.emp_id)


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_blocked_plan_has_one_python_stage(spark):
    """The blocked flagship plan runs Python once: the pair UDF scores the
    phonetic term itself (no per-side ``phonetic_codes_udf`` stages).  Hot
    blocking keys are capped per side: each side drops its own hot keys
    with one window over ``_bkey`` (no aggregate over both sides' keys,
    no anti-join).  One explicit hash exchange on the text pair serves the
    candidate dedup and the scorer's spread (AQE cannot coalesce it; no
    round-robin re-spread).  The default test session's parallelism
    equals its shuffle partition count: the case where the planner drops
    a repartition that repeats its child's partitioning."""
    employees = load_employees(spark, FIXTURE_EMPLOYEES)
    usernames = load_usernames(spark, FIXTURE_USERNAMES)
    # Before execution the adaptive plan prints its initial plan only.
    plan = _executed_plan(match_usernames(usernames, employees, blocking=True))
    assert plan.count("ArrowEvalPython") == 1
    assert "phonetic_codes_udf" not in plan
    assert "LeftAnti" not in plan
    assert "Union" not in plan  # NOT-FOUND rows come from the fan-out left join
    assert not re.search(r"Aggregate\(keys?=\[_bkey#\d+\]", plan)
    assert plan.count("Exchange hashpartitioning(_bkey") == 2  # one window per side
    assert re.search(
        r"Exchange hashpartitioning\(u_norm#\d+, e_name#\d+, e_first#\d+, e_last#\d+, \d+\), "
        r"REPARTITION_BY_NUM",
        plan,
    )
    assert "RoundRobinPartitioning" not in plan


def test_blocking_auto_select(spark, ref_dfs):
    """``blocking=None`` (default) picks the exact broadcast-cross path at
    reference scale and blocked candidates when the estimated pair product
    explodes — a default caller never gets an unbounded cross join
    (VERDICT r2 next-round #4)."""
    from pyspark.sql import functions as F

    employees, usernames = ref_dfs

    # ~150 employees × ~400 usernames ≈ 60k pairs → exact cross, with the
    # roster broadcast (bounded build side — allowed here, rejected by the
    # guardrail test only for unbounded declared plans).
    small_plan = _executed_plan(
        match_usernames(usernames, employees, include_not_found=False)
    )
    assert "BroadcastNestedLoopJoin" in small_plan
    assert "_bkey" not in small_plan

    # Broadcast disabled: the roster no longer fits the threshold, so the
    # same small inputs must take the blocked path.
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        no_bcast_plan = _executed_plan(
            match_usernames(usernames, employees, include_not_found=False)
        )
    finally:
        spark.conf.set(key, old)
    assert "_bkey" in no_bcast_plan

    # 30k × 30k ≈ 9e8 estimated pairs → auto must choose blocking: the
    # candidate join is a broadcast/shuffle HASH join on _bkey and no
    # cross-product node appears anywhere.
    big_emp = spark.range(30_000).select(
        F.col("id").cast("string").alias("emp_id"),
        F.concat(F.lit("fn"), F.col("id") % 997, F.lit(" ln"), F.col("id") % 991).alias(
            "employee_name"
        ),
        F.concat(F.lit("fn"), F.col("id") % 997).alias("first_name"),
        F.concat(F.lit("ln"), F.col("id") % 991).alias("last_name"),
    )
    big_usr = spark.range(30_000).select(
        F.concat(F.lit("fn"), F.col("id") % 997, F.lit("."), F.lit("ln"), F.col("id") % 991)
        .alias("username")
    )
    big_plan = _executed_plan(
        match_usernames(big_usr, big_emp, include_not_found=False)
    )
    assert "_bkey" in big_plan
    assert "BroadcastNestedLoopJoin" not in big_plan
    assert "CartesianProduct" not in big_plan


def test_hot_key_cap_bounds_skewed_blocking(spark):
    """One surname covering 30% of both sides is a quadratic pair bomb
    (f_u x f_e candidates through one blocking key); the df cap must drop
    the hot keys so no key contributes more than cap^2 pairs, while pairs
    that share any non-hot key (the real matches) survive
    (VERDICT r2 next-round #5).  Each side drops the keys hot on that
    side; with surnames hot on one side only, the candidates must equal
    those of dropping a key from both sides when it is hot on either."""
    from collections import defaultdict

    from name_match_ml_spark.operators.matching import _E_TEXT
    from name_match_ml_spark.plans.blocking import (
        _employee_keys,
        _username_keys,
        blocked_candidates,
    )

    # pure-letter names (digits are token separators in the username
    # normalizer) over soundex-diverse consonants so only the shared
    # surname is hot
    def _fn(i: int, letters: str = "bcdlmr") -> str:
        return "".join(letters[(i // 6**k) % 6] for k in range(4))

    n, hot = 1296, 400  # ~30% share surname "patel"
    emp_rows = [
        (str(i), _fn(i), "Patel" if i < hot else f"x{_fn(i)}") for i in range(n)
    ]
    usr_rows = [
        (f"{_fn(i)}.patel" if i < hot else f"{_fn(i)}.x{_fn(i)}",) for i in range(n)
    ]
    # "kumar" is hot among usernames only, "singh" among employees only
    one_side = 350
    usr_rows += [(f"{_fn(i, 'fgjkst')}.kumar",) for i in range(one_side)]
    emp_rows += [(f"k{i}", _fn(i, "fgjkst"), "Kumar") for i in range(5)]
    emp_rows += [(f"s{i}", _fn(i, "fgjkst"), "Singh") for i in range(one_side)]
    usr_rows += [(f"{_fn(i, 'fgjkst')}_singh",) for i in range(5)]
    employees = spark.createDataFrame(
        emp_rows, ["emp_id", "first_name", "last_name"]
    ).selectExpr("*", "concat(first_name, ' ', last_name) as employee_name")
    usernames = spark.createDataFrame(usr_rows, ["username"])

    u_texts = (
        prepare_usernames(usernames, codes=False)
        .select("u_norm", "u_part1", "u_part2")
        .dropDuplicates(["u_norm"])
    )
    e_texts = prepare_employees(employees, codes=False).select(*_E_TEXT).dropDuplicates(_E_TEXT)

    uncapped = blocked_candidates(u_texts, e_texts, hot_key_cap=None).count()
    assert uncapped >= hot * hot  # the bomb is real: >=360k pairs via tok:patel

    capped_df = blocked_candidates(u_texts, e_texts, hot_key_cap=300)
    capped = capped_df.count()
    # the hot surname's f_u*f_e block is gone (every key that survives
    # has df <= cap on both sides, so per-key work is <= cap^2 by
    # construction); a few hot pairs legitimately survive through a
    # shared non-hot key, hence the 0.9 factor.  What remains comes from
    # per-name keys, linear in n.
    assert uncapped - capped >= 0.9 * hot * hot
    assert capped <= 60 * n
    # recall through non-hot keys: a true pair still blocks via its
    # unique first-name token even with every surname key dropped
    fn7 = _fn(7)
    survivors = {
        (r.u_norm, r.e_name)
        for r in capped_df.filter(f"u_norm = '{fn7}.patel'").collect()
    }
    assert (f"{fn7}.patel", f"{fn7} patel") in survivors

    # Oracle: the rule before per-side capping, one document-frequency
    # table over both sides' uncapped keys.
    u_by, e_by = defaultdict(set), defaultdict(set)
    for r in _username_keys(u_texts).select("u_norm", "_bkey").collect():
        u_by[r._bkey].add(r.u_norm)
    for r in _employee_keys(e_texts).select(*_E_TEXT, "_bkey").collect():
        e_by[r._bkey].add((r.e_name, r.e_first, r.e_last))
    shared = set(u_by) & set(e_by)
    hot_keys = {k for k in shared if max(len(u_by[k]), len(e_by[k])) > 300}
    assert {len(u_by["tok:kumar"]), len(e_by["tok:singh"])} == {one_side}
    assert {"tok:kumar", "tok:singh"} <= hot_keys
    assert len(e_by["tok:kumar"]) == len(u_by["tok:singh"]) == 5
    want = {(u, *e) for k in shared - hot_keys for u in u_by[k] for e in e_by[k]}
    got = {
        (r.u_norm, r.e_name, r.e_first, r.e_last)
        for r in capped_df.select("u_norm", *_E_TEXT).collect()
    }
    assert got == want
    assert capped == len(got)
