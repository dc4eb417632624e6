"""Differential + property tests for the pure-Python similarity primitives.

Vectors derived from the published algorithm semantics (thefuzz/rapidfuzz
indel ratios, jellyfish soundex/metaphone) and from the reference's golden
output (``assets/example.png``, rows tabulated in ``FIXTURES.md §E``).
"""

from __future__ import annotations

import csv
import os
import re

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from name_match_ml_spark.functions.scoring import compute_match_score, pair_ratios_udf
from name_match_ml_spark.functions.similarity import (
    full_process,
    metaphone,
    partial_ratio,
    ratio,
    soundex,
    token_set_ratio,
)

REF_EMPLOYEES = "/root/reference/employee.csv"
REF_USERNAMES = "/root/reference/usernames.csv"

_DATA = os.path.join(os.path.dirname(__file__), "data")
FIXTURE_EMPLOYEES = os.path.join(_DATA, "employee.csv")
FIXTURE_USERNAMES = os.path.join(_DATA, "usernames.csv")
# The committed fixture carries the golden rows' employees under their
# reference ids (FIXTURES.md §E).
_EMPLOYEE_CSVS = {"fixture": FIXTURE_EMPLOYEES, "reference": REF_EMPLOYEES}


# -- ratio -----------------------------------------------------------------


@pytest.mark.parametrize(
    "s1,s2,expected",
    [
        ("", "", 100),
        ("abc", "", 0),
        ("", "abc", 0),
        ("abc", "abc", 100),
        # indel semantics: dist("kitten","sitting") with sub-cost 2 = 5
        # → (13-5)/13 = 0.6153... → 62
        ("kitten", "sitting", 62),
        # 2*LCS/(len1+len2): LCS("swati.patel","tanvi patel")=7 → 14/22 → 64
        ("swati.patel", "tanvi patel", 64),
        ("new york mets", "new york meats", 96),
        ("harshm37", "harsh sharma", 60),
    ],
)
def test_ratio(s1, s2, expected):
    assert ratio(s1, s2) == expected


@given(st.text(max_size=20), st.text(max_size=20))
@settings(max_examples=200, deadline=None)
def test_ratio_properties(s1, s2):
    r = ratio(s1, s2)
    assert 0 <= r <= 100
    assert r == ratio(s2, s1)  # symmetric
    assert ratio(s1, s1) == 100


# -- partial_ratio ---------------------------------------------------------


@pytest.mark.parametrize(
    "s1,s2,expected",
    [
        ("abc", "abc", 100),
        ("abc", "xxabcxx", 100),  # exact substring
        # equal-length both-direction case (example.png: swati.patel vs
        # Tanvi Patel needs partial=74 via substring "ti.patel")
        ("swati.patel", "tanvi patel", 74),
        ("harshm37", "harsh sharma", 77),  # substring "harsh"
        ("harshm37", "harsh nadar", 77),
        ("n.tripathi25", "neha tripathi", 80),  # substring "tripathi"
        ("", "", 100),
        ("a", "", 0),
    ],
)
def test_partial_ratio(s1, s2, expected):
    assert partial_ratio(s1, s2) == expected


@given(st.text(max_size=16), st.text(max_size=16))
@settings(max_examples=200, deadline=None)
def test_partial_ratio_properties(s1, s2):
    p = partial_ratio(s1, s2)
    assert 0 <= p <= 100
    assert p >= ratio(s1, s2) or (len(s1) != len(s2))
    # containment ⇒ 100
    if s1 and s1 in s2:
        assert p == 100


# -- token_set_ratio -------------------------------------------------------


@pytest.mark.parametrize(
    "s1,s2,expected",
    [
        # full_process turns '.' into space → identical token sets
        ("swati.patel", "swati patel", 100),
        # subset token set ⇒ 100 (sect vs sect+diff, sect==one side)
        ("swati.patel", "patel", 100),
        ("swati.patel", "tanvi patel", 73),
        ("harshm37", "harsh", 77),
        ("harshm37", "sharma", 57),
        # underscore is \w → kept inside a single token
        ("john_smith", "john smith", 90),
        ("", "x", 0),
        ("x", "", 0),
    ],
)
def test_token_set_ratio(s1, s2, expected):
    assert token_set_ratio(s1, s2) == expected


def test_full_process():
    assert full_process("Swati.Patel!") == "swati patel"
    assert full_process("john_smith") == "john_smith"
    assert full_process("  A  B  ") == "a  b"


# -- soundex ---------------------------------------------------------------


@pytest.mark.parametrize(
    "s,expected",
    [
        ("Robert", "R163"),
        ("Rupert", "R163"),
        ("Ashcraft", "A261"),  # H transparent: s,c adjacent same code
        ("Ashcroft", "A261"),
        ("Tymczak", "T522"),
        ("Pfister", "P236"),  # first letter's own code suppresses repeats (pf)
        ("Honeyman", "H555"),
        ("harsh", "H620"),
        ("harshm37", "H625"),  # digits reset the last-code state
        ("", ""),
        ("a", "A000"),
    ],
)
def test_soundex(s, expected):
    assert soundex(s) == expected


# -- metaphone -------------------------------------------------------------


@pytest.mark.parametrize(
    "s,expected",
    [
        ("Thompson", "0MPSN"),  # th → 0 (theta)
        ("metaphone", "MTFN"),
        ("Knight", "NT"),  # kn- drops k; -gh- silent before t
        ("harsh", "HRX"),
        ("sharma", "XRM"),
        ("harshm37", "HRXM"),  # digits ignored
        ("swati.patel", "SWTPTL"),
        ("neha", "NH"),
        ("tripathi", "TRP0"),
        ("", ""),
        ("xavier", "SFR"),  # initial x → s
        ("wright", "RT"),  # wr- drops w
    ],
)
def test_metaphone(s, expected):
    assert metaphone(s) == expected


# -- composite score: golden rows from assets/example.png ------------------


def _employees(source: str):
    path = _EMPLOYEE_CSVS[source]
    if not os.path.exists(path):
        pytest.skip(f"{source} employee CSV not present")
    with open(path) as f:
        return {r["EMP_ID"]: (r["First_Name"], r["Last_Name"]) for r in csv.DictReader(f)}


GOLDEN = [
    ("swati.patel", "7", 100.00),
    ("swati.patel", "60", 79.80),
    ("harshm37", "103", 76.90),
    ("harshm37", "9", 76.90),
    ("harshm37", "14", 66.30),
    ("n.tripathi25", "25", 80.40),
]


@pytest.mark.parametrize("source", sorted(_EMPLOYEE_CSVS))
@pytest.mark.parametrize("username,emp_id,expected", GOLDEN)
def test_golden_scores(username, emp_id, expected, source):
    emps = _employees(source)
    first, last = emps[emp_id]
    got = compute_match_score(username, f"{first} {last}", first, last, emp_id)
    assert got == pytest.approx(expected, abs=0.005)


@pytest.mark.parametrize("source", sorted(_EMPLOYEE_CSVS))
def test_score_total_on_reference_crash_edges(source):
    """Reference raises IndexError on these (main.py:69,73); we don't."""
    emps = _employees(source)
    first, last = emps["7"]
    for u in ["", "john.", ".", "..", "   "]:
        s = compute_match_score(u, f"{first} {last}", first, last, "7")
        assert 0.0 <= s <= 100.0


@given(
    st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789._- ", max_size=24),
)
@settings(max_examples=100, deadline=None)
def test_score_bounds_property(u):
    s = compute_match_score(u, "swati patel", "swati", "patel", "7")
    assert 0.0 <= s <= 100.0


def test_exact_pattern_short_circuits_to_100():
    for u in [
        "swati.patel", "patel.swati", "swati_patel", "patel_swati",
        "swatipatel", "patelswati", "swati patel", "patel swati",
    ]:
        assert compute_match_score(u, "Swati Patel", "Swati", "Patel", "7") == 100.0


# -- the pair UDF's phonetic term ------------------------------------------

# (username, other name) pairs whose Soundex codes agree while their
# Metaphone codes differ.
_SOUNDEX_ONLY = [("guptha", "gupta"), ("sah", "shah"), ("sarma", "sharma"), ("rajes", "rajesh")]


def _oracle_phonetic(u: str, first: str, last: str) -> int:
    """The phonetic part of ``compute_match_score`` (``main.py:63-66,
    82-85``), on the same lowercased/stripped inputs."""
    u, first, last = (x.lower().strip() for x in (u, first, last))
    return (
        int(soundex(u) == soundex(last)) * 6
        + int(metaphone(u) == metaphone(last)) * 7
        + int(soundex(u) == soundex(first)) * 3
        + int(metaphone(u) == metaphone(first)) * 3
    )


def test_pair_udf_phonetic_term_matches_oracle():
    """The pair UDF's ``phonetic`` field equals the phonetic part of
    ``compute_match_score`` on the fixture's usernames × roster (edge
    texts and digit-leading usernames included) and on pairs where only
    Soundex agrees, on the last name and on the first name."""
    with open(FIXTURE_EMPLOYEES) as f:
        emps = [(r["First_Name"], r["Last_Name"]) for r in csv.DictReader(f)]
    with open(FIXTURE_USERNAMES) as f:
        unames = [r["username"] for r in csv.DictReader(f)]
    assert {"", ".", "john.", "9lives", "007bond", "123"} <= set(unames)
    for a, b in _SOUNDEX_ONLY:
        assert soundex(a) == soundex(b) and metaphone(a) != metaphone(b), (a, b)
    triples = [(u, f, l) for u in unames for f, l in emps]
    for a, b in _SOUNDEX_ONLY:
        triples += [(a, "neha", b), (a, b, "kumar")]
    norm = [tuple(x.lower().strip() for x in t) for t in triples]
    out = pair_ratios_udf.func(
        pd.Series([u for u, _, _ in norm]),
        pd.Series([f"{f} {l}".strip() for _, f, l in norm]),
        pd.Series([f for _, f, _ in norm]),
        pd.Series([l for _, _, l in norm]),
    )
    got = out["phonetic"].tolist()
    want = [_oracle_phonetic(*t) for t in triples]
    assert got == want
    # Soundex-only pairs score the Soundex points and not the Metaphone ones.
    soundex_only = got[-2 * len(_SOUNDEX_ONLY):]
    assert soundex_only == [6, 3] * len(_SOUNDEX_ONLY), soundex_only


# -- the pair kernel against a frozen copy of its first implementation -----
#
# The kernel in ``functions/similarity.py`` skips dead window starts,
# reads LCS lengths of token-set strings off their common prefixes and
# takes its inputs prepared once per text.  Every integer it returns must
# equal what the straightforward implementation below returns; that
# implementation is kept here verbatim as the oracle.


def _old_match_masks(s):
    pm = {}
    for i, c in enumerate(s):
        pm[c] = pm.get(c, 0) | (1 << i)
    return pm


def _old_lcs_len(s1, s2):
    if not s1 or not s2:
        return 0
    m = len(s1)
    full = (1 << m) - 1
    pm = _old_match_masks(s1)
    v = full
    for c in s2:
        mask = pm.get(c, 0)
        u = v & mask
        v = ((v + u) | (v & ~mask)) & full
    return m - bin(v).count("1")


def _old_ratio_float(s1, s2):
    lensum = len(s1) + len(s2)
    if lensum == 0:
        return 1.0
    return (2.0 * _old_lcs_len(s1, s2)) / lensum


def _old_ratio(s1, s2):
    s1, s2 = str(s1), str(s2)
    if not s1 and not s2:
        return 100
    return int(round(100 * _old_ratio_float(s1, s2)))


def _old_partial_ratio_float(needle, haystack):
    m, n = len(needle), len(haystack)
    full = (1 << m) - 1
    pm = _old_match_masks(needle)
    best = 0.0
    for start in range(n):
        remaining = n - start
        bound_w = m if remaining >= m else remaining
        if (2.0 * min(m, remaining)) / (m + bound_w) <= best:
            break
        v = full
        for w in range(1, remaining + 1):
            mask = pm.get(haystack[start + w - 1], 0)
            u = v & mask
            v = ((v + u) | (v & ~mask)) & full
            lcs = m - bin(v).count("1")
            r = (2.0 * lcs) / (m + w)
            if r > best:
                best = r
        if best == 1.0:
            break
    return best


def _old_partial_ratio(s1, s2):
    s1, s2 = str(s1), str(s2)
    if not s1 and not s2:
        return 100
    if not s1 or not s2:
        return 0
    shorter, longer = (s1, s2) if len(s1) <= len(s2) else (s2, s1)
    best = _old_partial_ratio_float(shorter, longer)
    if best < 1.0 and len(s1) == len(s2):
        best = max(best, _old_partial_ratio_float(longer, shorter))
    return int(round(100 * best))


def _old_full_process(s):
    return re.sub(r"(?u)\W", " ", str(s)).lower().strip()


def _old_token_set_ratio(s1, s2):
    p1, p2 = _old_full_process(s1), _old_full_process(s2)
    if not p1 or not p2:
        return 0
    tokens1, tokens2 = set(p1.split()), set(p2.split())
    intersection = tokens1 & tokens2
    sorted_sect = " ".join(sorted(intersection))
    sorted_1to2 = " ".join(sorted(tokens1 - tokens2))
    sorted_2to1 = " ".join(sorted(tokens2 - tokens1))
    combined_1to2 = (sorted_sect + " " + sorted_1to2).strip()
    combined_2to1 = (sorted_sect + " " + sorted_2to1).strip()
    return max(
        _old_ratio(sorted_sect, combined_1to2),
        _old_ratio(sorted_sect, combined_2to1),
        _old_ratio(combined_1to2, combined_2to1),
    )


def _old_phonetic_term(u, f, l):
    u_sdx, u_mp = soundex(u), metaphone(u)
    f_sdx, f_mp = soundex(f), metaphone(f)
    l_sdx, l_mp = soundex(l), metaphone(l)
    return (
        6 * (u_sdx == l_sdx)
        + 7 * (u_mp == l_mp)
        + 3 * (u_sdx == f_sdx)
        + 3 * (u_mp == f_mp)
    )


def _old_pair_components(u, e, f, l):
    return (
        _old_ratio(u, e),
        _old_partial_ratio(u, e),
        _old_token_set_ratio(u, e),
        _old_token_set_ratio(u, f),
        _old_token_set_ratio(u, l),
        _old_phonetic_term(u, f, l),
    )


def _pair_udf_rows(quads):
    out = pair_ratios_udf.func(*(pd.Series([q[i] for q in quads], dtype=object) for i in range(4)))
    return [tuple(int(x) for x in row) for row in out.itertuples(index=False)]


# Separators, digits, letters the names share, and text that is not
# ASCII: accented and title-case letters, a non-ASCII digit and a
# no-break space (both \w / \W edge cases for full_process), and a
# capital whose lowercase form is two characters long.
_ALPHABET = "abcdeij._- 09" + "éüßǅ٣ İ"
_short = st.text(alphabet=_ALPHABET, max_size=14)


@st.composite
def _equal_length_pair(draw):
    n = draw(st.integers(min_value=0, max_value=12))
    s = st.text(alphabet=_ALPHABET, min_size=n, max_size=n)
    return draw(s), draw(s)


@given(st.one_of(st.tuples(_short, _short), _equal_length_pair()))
@settings(max_examples=400, deadline=None)
def test_ratios_match_frozen_kernel(pair):
    s1, s2 = pair
    assert ratio(s1, s2) == _old_ratio(s1, s2)
    assert partial_ratio(s1, s2) == _old_partial_ratio(s1, s2)
    assert token_set_ratio(s1, s2) == _old_token_set_ratio(s1, s2)


@given(st.lists(st.tuples(_short, _short, _short, _short), min_size=1, max_size=12))
@settings(max_examples=150, deadline=None)
def test_pair_udf_matches_frozen_kernel(quads):
    # Texts repeat across the batch's pairs, as in a candidate batch, so
    # the per-batch preparation is read back for later pairs.
    quads = quads + [(u, f, e, l) for u, e, f, l in quads]
    assert _pair_udf_rows(quads) == [_old_pair_components(*q) for q in quads]


def test_pair_udf_matches_frozen_kernel_on_fixture():
    """Every (username, employee) text pair of the committed fixture's
    cross product, normalized as the flagship normalizes them."""
    with open(FIXTURE_EMPLOYEES) as f:
        emps = [(r["First_Name"], r["Last_Name"]) for r in csv.DictReader(f)]
    with open(FIXTURE_USERNAMES) as f:
        unames = [r["username"] for r in csv.DictReader(f)]
    quads = [
        tuple(x.lower().strip() for x in (u, f"{first} {last}", first, last))
        for u in unames
        for first, last in emps
    ]
    assert len(quads) == len(unames) * len(emps) > 3000
    assert _pair_udf_rows(quads) == [_old_pair_components(*q) for q in quads]


@pytest.mark.parametrize(
    "a,b", [(123, "123"), (12.5, "12 5"), (None, "none"), ("john", 7), (0, 0)]
)
def test_public_ratios_coerce_with_str(a, b):
    sa, sb = str(a), str(b)
    assert ratio(a, b) == ratio(sa, sb) == _old_ratio(sa, sb)
    assert partial_ratio(a, b) == partial_ratio(sa, sb) == _old_partial_ratio(sa, sb)
    assert token_set_ratio(a, b) == token_set_ratio(sa, sb) == _old_token_set_ratio(sa, sb)
