"""Pure-Python string-similarity primitives with reference parity.

The reference (midhunprahash-ui/Name_match_ml) scores name pairs with
``thefuzz`` (python-Levenshtein backend, ``requirements.txt:3,5``) and
``jellyfish`` (``main.py:56-66``, ``MODEL_TRAINING/train_model.py:19-23``).
Neither library is available in the build environment, so the algorithms are
re-implemented here from their published semantics:

* ``ratio``            — thefuzz ``fuzz.ratio``: indel-cost Levenshtein
                         similarity, integer in [0, 100].
* ``partial_ratio``    — thefuzz ``fuzz.partial_ratio``: best ratio of the
                         shorter string against same-length windows of the
                         longer one.
* ``token_set_ratio``  — thefuzz ``fuzz.token_set_ratio``: set-algebra over
                         sorted tokens, max of three pairwise ratios.
* ``soundex``          — jellyfish American Soundex (4-char code).
* ``metaphone``        — jellyfish Metaphone (Lawrence Philips' 1990 rules).

These run inside Arrow-vectorised pandas UDFs (see ``functions/scoring.py``)
— never as row-at-a-time Python UDFs — and are unit-tested against golden
rows from the reference's ``assets/example.png`` and against a frozen copy
of their first, straightforward implementation (see
``tests/test_similarity.py``).

The flagship calls them once per candidate pair, so the ratios are built
to spend as little as possible per pair while returning the same
integers:

* Each public function has a private twin that takes the per-text parts
  ready-made — the match masks (``_ratio``, ``_partial_ratio``) or the
  token view (``_token_set_ratio``: the ``full_process`` token set and
  the sorted token string with its masks).  The pair UDF builds them once
  per distinct text of an Arrow batch and reuses them for every pair the
  text is in.
* ``partial_ratio`` sweeps only windows that start and end on a
  character of the shorter string: no other window beats the one
  trimmed of its dead edge character, which has the same LCS and is
  shorter.
* The LCS sweep skips characters that do not occur in the other string
  (their mask is 0 and the bit row would not change), and counts bits
  with ``int.bit_count``.
* ``token_set_ratio`` reads its LCS lengths off the common prefix of the
  strings it compares: with no common token it is the ratio of the two
  sorted token strings (ready-made per text), with one token set inside
  the other it is 100, and otherwise one sweep covers only the two
  differing tails.

All functions are total: they return defined values for empty strings and
strings with digits/punctuation, where the reference can crash
(``main.py:69,73`` IndexError on ``""`` / ``"john."``).
"""

from __future__ import annotations

import re

__all__ = [
    "ratio",
    "partial_ratio",
    "token_set_ratio",
    "soundex",
    "metaphone",
    "full_process",
]

# --------------------------------------------------------------------------
# Levenshtein-family ratios (thefuzz parity)
# --------------------------------------------------------------------------


def _match_masks(s: str) -> dict[str, int]:
    """Per-character position bitmasks of ``s`` (bit i set ⇔ s[i] == c)."""
    pm: dict[str, int] = {}
    for i, c in enumerate(s):
        pm[c] = pm.get(c, 0) | (1 << i)
    return pm


def _lcs_len(s1: str, pm: dict[str, int], s2: str) -> int:
    """Longest-common-subsequence length of ``s1`` (match masks ``pm``)
    and ``s2`` via the Allison–Dix (1986) bit-parallel row update — O(len2)
    big-int ops instead of an O(len1·len2) cell DP.  Python's
    arbitrary-precision ints act as the bit register, so no 64-char limit.
    A character of ``s2`` absent from ``s1`` has mask 0, which leaves the
    row unchanged, so it is skipped."""
    m = len(s1)
    full = (1 << m) - 1
    v = full
    for c in s2:
        mask = pm.get(c)
        if mask:
            v = ((v + (v & mask)) | (v & ~mask)) & full
    return m - v.bit_count()


def _indel_ratio(lcs: int, len1: int, len2: int) -> int:
    """python-Levenshtein ``ratio`` as thefuzz rounds it, from the LCS
    length: (lensum - indel_dist) / lensum with substitutions costing 2,
    i.e. ``2*LCS / lensum``; 100 for two empty strings."""
    lensum = len1 + len2
    if lensum == 0:
        return 100
    return int(round(100 * ((2.0 * lcs) / lensum)))


def _ratio(s1: str, pm1: dict[str, int], s2: str) -> int:
    """:func:`ratio` of ``s1`` (match masks ``pm1``) and ``s2``."""
    return _indel_ratio(_lcs_len(s1, pm1, s2), len(s1), len(s2))


def ratio(s1: str, s2: str) -> int:
    """thefuzz ``fuzz.ratio`` parity (``main.py:56``): int(round(100*r))."""
    s1, s2 = str(s1), str(s2)
    return _ratio(s1, _match_masks(s1), s2)


def partial_ratio(s1: str, s2: str) -> int:
    """thefuzz ``fuzz.partial_ratio`` parity (``main.py:57``).

    Optimal local alignment of the shorter string against the longer one:
    the maximum indel ratio of the shorter string vs *any substring* of the
    longer (deletions at both ends of the longer string are free).  Verified
    bit-exact against all scores in the reference's ``assets/example.png``
    (e.g. ``partial_ratio("swati.patel", "tanvi patel") == 74`` via the
    substring ``"ti patel"``).

    Only windows that start and end on a character of the shorter string
    are swept (see :func:`_partial_ratio_float`): a window whose first or
    last character does not occur in the shorter string never beats the
    window without that character, which is shorter and has the same LCS.
    """
    s1, s2 = str(s1), str(s2)
    return _partial_ratio(s1, _match_masks(s1), s2, _match_masks(s2))


def _partial_ratio(s1: str, pm1: dict[str, int], s2: str, pm2: dict[str, int]) -> int:
    """:func:`partial_ratio` on texts whose match masks are already built."""
    if not s1 and not s2:
        return 100
    if not s1 or not s2:
        return 0
    if len(s1) <= len(s2):
        best = _partial_ratio_float(s1, pm1, s2)
    else:
        best = _partial_ratio_float(s2, pm2, s1)
    # rapidfuzz equal-length special case: try both directions.
    if best < 1.0 and len(s1) == len(s2):
        best = max(best, _partial_ratio_float(s2, pm2, s1))
    return int(round(100 * best))


def _partial_ratio_float(needle: str, pm: dict[str, int], haystack: str) -> float:
    """Max indel ratio of ``needle`` (match masks ``pm``) vs any substring
    of ``haystack``.

    One Allison–Dix bit-parallel sweep per substring start gives
    LCS(needle, haystack[start:j]) for every end j — O(n²) big-int ops
    total instead of an O(m·n²) cell DP.  Both ends of a window are
    restricted to the haystack's *live* positions, those whose character
    occurs in the needle.  Exact: a dead first character adds 1 to the
    window length and 0 to the LCS, so the window one start later scores
    at least as high; a dead last character leaves the bit row, hence the
    LCS, unchanged while the length grows, so the ratio can only fall.
    """
    m, n = len(needle), len(haystack)
    full = (1 << m) - 1
    live = [(j, pm[c]) for j, c in enumerate(haystack) if c in pm]
    best = 0.0
    for a, (start, _) in enumerate(live):
        # Even a full-LCS match from here can't beat `best` once the
        # window is forced long (needle must embed entirely): bound is
        # 2m/(m+w_min) with w_min = m when remaining ≥ m, else worse.
        remaining = n - start
        bound_w = m if remaining >= m else remaining
        if (2.0 * min(m, remaining)) / (m + bound_w) <= best:
            break
        v = full
        # m + (window length) for the window ending at live position j.
        offset = m + 1 - start
        for j, mask in live[a:]:
            v = ((v + (v & mask)) | (v & ~mask)) & full
            r = (2.0 * (m - v.bit_count())) / (offset + j)
            if r > best:
                best = r
        if best == 1.0:
            break
    return best


_NON_WORD_RE = re.compile(r"(?u)\W")


def full_process(s: str) -> str:
    """thefuzz ``utils.full_process``: non-alphanumeric (except ``_``) →
    space, lowercase, strip."""
    return _NON_WORD_RE.sub(" ", str(s)).lower().strip()


def _token_view(s: str) -> tuple[frozenset[str], str, dict[str, int]]:
    """What :func:`token_set_ratio` reads of one text: the token set of
    the ``full_process``-ed text (empty exactly when that text is), the
    sorted tokens joined by single spaces, and that string's match
    masks."""
    tokens = frozenset(full_process(s).split())
    joined = " ".join(sorted(tokens))
    return tokens, joined, _match_masks(joined)


def token_set_ratio(s1: str, s2: str) -> int:
    """thefuzz ``fuzz.token_set_ratio`` parity (``main.py:58-61``).

    Tokenise both processed strings, then take the max plain ``ratio`` over
    {sorted-intersection vs intersection+diff1, intersection vs
    intersection+diff2, the two combined strings}.
    """
    return _token_set_ratio(_token_view(s1), _token_view(s2))


def _token_set_ratio(
    view1: tuple[frozenset[str], str, dict[str, int]],
    view2: tuple[frozenset[str], str, dict[str, int]],
) -> int:
    """:func:`token_set_ratio` on two :func:`_token_view` results.

    thefuzz compares ``sect`` (the sorted intersection) with
    ``combined_i = (sect + " " + diff_i).strip()`` for i = 1, 2, and the
    two combined strings with each other.  ``sect`` is a prefix of both
    combined strings, so its LCS with either is ``len(sect)``, and two
    strings with a common prefix have the prefix length plus the LCS of
    their rests.  That leaves three cases:

    * no common token: both ``sect`` ratios are 0 and the combined
      strings are the two joined token strings;
    * one token set inside the other: one combined string is ``sect``
      itself, a ratio of 100;
    * otherwise the LCS of the two diff strings, one sweep.
    """
    tokens1, joined1, pm1 = view1
    tokens2, joined2, _ = view2
    if not tokens1 or not tokens2:
        return 0
    intersection = tokens1 & tokens2
    if not intersection:
        return _ratio(joined1, pm1, joined2)
    if intersection == tokens1 or intersection == tokens2:
        return 100
    sect = " ".join(sorted(intersection))
    diff1 = " ".join(sorted(tokens1 - tokens2))
    diff2 = " ".join(sorted(tokens2 - tokens1))
    n = len(sect)
    len1 = n + 1 + len(diff1)
    len2 = n + 1 + len(diff2)
    return max(
        _indel_ratio(n, n, len1),
        _indel_ratio(n, n, len2),
        _indel_ratio(n + 1 + _lcs_len(diff1, _match_masks(diff1), diff2), len1, len2),
    )


# --------------------------------------------------------------------------
# Phonetic codes (jellyfish parity)
# --------------------------------------------------------------------------

_SOUNDEX_GROUPS = (
    ("BFPV", "1"),
    ("CGJKQSXZ", "2"),
    ("DT", "3"),
    ("L", "4"),
    ("MN", "5"),
    ("R", "6"),
)


def _soundex_code(ch: str) -> str | None:
    for letters, digit in _SOUNDEX_GROUPS:
        if ch in letters:
            return digit
    return None


def soundex(s: str) -> str:
    """jellyfish-compatible American Soundex (``main.py:63,65``).

    The first character is kept verbatim (even a digit — jellyfish does not
    require alphabetic input); H and W are transparent (do not reset the
    previous code); vowels and other characters reset it.
    """
    s = str(s).upper()
    if not s:
        return ""
    result = [s[0]]
    last = _soundex_code(s[0])
    count = 1
    for ch in s[1:]:
        if count == 4:
            break
        code = _soundex_code(ch)
        if code is not None:
            if code != last:
                result.append(code)
                count += 1
            last = code
        elif ch not in ("H", "W"):
            last = None
    result.append("0" * (4 - count))
    return "".join(result)


_VOWELS = "aeiou"


def metaphone(s: str) -> str:
    """jellyfish-compatible Metaphone (``main.py:64,66``).

    Lawrence Philips' original 1990 rule set; non-letters (digits, dots,
    underscores) produce no output.  Word-initial transformations: kn/gn/pn/
    wr/ae drop the first letter, x→s, wh→w.
    """
    s = str(s).lower().strip()
    result: list[str] = []

    # Word-initial transformations.
    if s.startswith(("kn", "gn", "pn", "wr", "ae")):
        s = s[1:]
    elif s.startswith("x"):
        s = "s" + s[1:]
    elif s.startswith("wh"):
        s = "w" + s[1:]

    i = 0
    n = len(s)
    while i < n:
        c = s[i]
        nxt = s[i + 1] if i + 1 < n else "*"
        nxtnxt = s[i + 2] if i + 2 < n else "*"

        # Skip doubled letters except 'c'.
        if c == nxt and c != "c":
            i += 1
            continue

        if c in _VOWELS:
            if i == 0 or s[i - 1] == " ":
                result.append(c)
        elif c == "b":
            # Silent terminal b after m ("dumb", "thumb").
            if not (i == n - 1 and i > 0 and s[i - 1] == "m"):
                result.append("b")
        elif c == "c":
            if nxt == "i" and nxtnxt == "a":  # -cia-
                result.append("x")
            elif nxt == "h":  # -ch-
                result.append("x")
                i += 1
            elif nxt in "iey":  # -ci-, -ce-, -cy-
                result.append("s")
            else:
                result.append("k")
        elif c == "d":
            if nxt == "g" and nxtnxt in "iey":  # -dge-, -dgy-, -dgi-
                result.append("j")
                i += 2
            else:
                result.append("t")
        elif c in "flmnr":
            result.append(c)
        elif c == "g":
            if nxt == "h":
                if nxtnxt not in _VOWELS and nxtnxt != "*":
                    pass  # silent gh before consonant
                elif nxtnxt == "*":
                    pass  # terminal -gh silent
                else:
                    result.append("k")
                    i += 1
            elif nxt == "n":
                pass  # silent g before n
            elif nxt in "iey":
                result.append("j")
            else:
                result.append("k")
        elif c == "h":
            if i == 0 or nxt in _VOWELS or (i > 0 and s[i - 1] in _VOWELS):
                if nxt in _VOWELS or i == 0:
                    result.append("h")
        elif c == "j":
            result.append("j")
        elif c == "k":
            if i == 0 or s[i - 1] != "c":
                result.append("k")
        elif c == "p":
            if nxt == "h":
                result.append("f")
                i += 1
            else:
                result.append("p")
        elif c == "q":
            result.append("k")
        elif c == "s":
            if nxt == "h":
                result.append("x")
                i += 1
            elif nxt == "i" and nxtnxt in "oa":  # -sio-, -sia-
                result.append("x")
            else:
                result.append("s")
        elif c == "t":
            if nxt == "i" and nxtnxt in "oa":  # -tio-, -tia-
                result.append("x")
            elif nxt == "h":  # -th-
                result.append("0")
                i += 1
            elif not (nxt == "c" and nxtnxt == "h"):  # t silent in -tch-
                result.append("t")
        elif c == "v":
            result.append("f")
        elif c == "w":
            if nxt in _VOWELS:
                result.append("w")
        elif c == "x":
            result.append("ks")
        elif c == "y":
            if nxt in _VOWELS:
                result.append("y")
        elif c == "z":
            result.append("s")
        # Everything else (digits, punctuation, space) → no output.
        i += 1

    return "".join(result).upper()
