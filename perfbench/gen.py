"""Seeded input generators for the benchmark.

Everything here is pure Python (``random.Random`` seeded per call), so the
same seed gives byte-identical files.  The shapes:

* FIXTURES.md §A roster: ``EMP_ID,First_Name,Last_Name`` with Indian given/family
  names, shared surnames and a few duplicate full names;
* FIXTURES.md §B usernames: ``first.last``, ``last_first``, initial+name, name+digits,
  prefix decorations, truncations, typos, unmatched noise, and the edge
  texts ``""``, ``"."``-style separator-only strings and ``"john."``-style
  trailing separators;
* documents: the shape measured on the synthetic sf0.1 ``documents``
  table (5,000 rows): texts of 10-100 words (uniform) drawn uniformly from
  a 30-word vocabulary; 5 % of the documents are another document's text
  with the word ``dup`` appended, which puts 9.5 % of the documents in a
  bigram-Jaccard >= 0.5 pair; ``lang`` is ``en`` for 41 % and ``zh``,
  ``es``, ``fr``, ``de`` for about 15 % each; ``source`` is
  ``src<doc_id mod 20>``.

Username texts never repeat across the ops of one run (see
:class:`UsernameStream`).
"""

from __future__ import annotations

import csv
import itertools
import random

FIRST_NAMES = """
aarav aditi aditya ajay akash akshay alok amit amita amol anand anil anita
anjali ankit ankita anup anupama arjun arun aruna asha ashish ashok atul
ayesha bharat bhavna chandan chetan deepa deepak deepika dev devika dhruv
dinesh divya farhan gaurav geeta girish gopal govind harish harsh hema
hitesh indira isha jatin jaya jyoti kabir kamal kapil karan kavita kavya
kiran kishore komal krishna kunal lakshmi lalit lata madhu mahesh manish
manoj maya meena megha mohan mohit mukesh nandini naveen neha nikhil
nisha nitin pallavi pankaj pooja pradeep prakash pranav prashant preeti
priya rahul raj rajesh rakesh ramesh rani ravi reena rekha ritu rohan
rohit sachin sagar sandeep sanjay sapna sarita seema shalini shanti
sharad shilpa shivani shreya shweta sneha sonia sudha sumit sunil
sunita suresh swati tanvi tarun tushar uma varun vijay vikas vikram
vinay vineeta vinod vishal yamini yash yogesh zoya
""".split()

LAST_NAMES = """
agarwal ahuja arora bajaj banerjee bansal bhat bhatia bose chandra
chatterjee chauhan chopra das dasgupta desai deshmukh dixit dubey dutta
gandhi ganguly garg ghosh gill goel goswami gupta iyer jain joshi kapoor
kaur khan khanna kohli kulkarni kumar malhotra mehta menon mishra mittal
modi mukherjee nadar naidu nair narayan pandey patel patil pillai prasad
rao rathore reddy saxena sen sethi shah sharma shetty shukla singh sinha
soni srivastava subramanian tandon thakur tiwari trivedi tripathi varma
verma yadav ahmed ansari bhardwaj chawla dhillon grewal hegde jaiswal
kamath kashyap krishnan lal luthra mahajan mathur nagpal ojha pathak
purohit rajput rana sahni sarkar sehgal talwar upadhyay vohra wadhwa
""".split()

# Unmatched noise, decorations and separators seen in the reference's
# username fixture (FIXTURES.md §B).
NOISE = ["testme", "admin", "guest", "qwerty", "user", "hello", "demo", "xyz"]
PREFIXES = ["iam_", "the_real_", "ghost_", "its_", "mr_", "real."]
SEPARATORS = [".", "_", "-"]

ROSTER_HEADER = ["EMP_ID", "First_Name", "Last_Name"]


def roster_rows(seed: int, n: int, distinct: int) -> list[tuple[str, str, str]]:
    """``n`` employees ``(emp_id, First, Last)``, ids ``1..n``, every row
    one of ``distinct`` full names, so full names repeat heavily.

    Surnames come from a pool of ``distinct // 4`` so families of
    employees share one.  One row has an empty last name (FIXTURES.md §A:
    names may be '')."""
    rng = random.Random(f"roster:{seed}:{n}:{distinct}")
    surnames = rng.sample(LAST_NAMES, min(len(LAST_NAMES), max(8, distinct // 4)))
    picked: set[tuple[str, str]] = set()
    while len(picked) < distinct:
        picked.add((rng.choice(FIRST_NAMES).capitalize(), rng.choice(surnames).capitalize()))
    names = sorted(picked)
    rows = [(str(i), *rng.choice(names)) for i in range(1, n + 1)]
    if n >= 2:
        _, first, _ = rows[n // 2]
        rows[n // 2] = (str(n // 2 + 1), first, "")
    return rows


def write_roster_csv(path: str, rows: list[tuple[str, str, str]]) -> None:
    # CRLF line ends, as in the reference's upload fixtures.
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\r\n")
        w.writerow(ROSTER_HEADER)
        w.writerows(rows)


def write_usernames_csv(path: str, names: list[str]) -> None:
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\r\n")
        w.writerow(["username"])
        w.writerows([n] for n in names)


def _typo(rng: random.Random, s: str) -> str:
    if len(s) < 3:
        return s + s[-1:]
    i = rng.randrange(1, len(s) - 1)
    op = rng.randrange(3)
    if op == 0:  # drop a letter
        return s[:i] + s[i + 1:]
    if op == 1:  # double a letter
        return s[:i] + s[i] + s[i:]
    return s[:i] + s[i + 1] + s[i] + s[i + 2:]  # swap neighbours


def _pattern(rng: random.Random, first: str, last: str) -> str:
    """One username in a FIXTURES.md §B pattern for ``first last``."""
    sep = rng.choice(SEPARATORS)
    k = rng.randrange(12)
    if k == 0:
        return f"{first}{sep}{last}"
    if k == 1:
        return f"{last}{sep}{first}"
    if k == 2:
        return f"{first[:1]}{sep}{last}"
    if k == 3:
        return f"{last[:1]}_{first}"
    if k == 4:
        return f"{first}{rng.randrange(1, 1000)}"
    if k == 5:
        return f"{rng.choice(PREFIXES)}{first}"
    if k == 6:
        return f"{first[:4]}_{last[:4]}"
    if k == 7:
        return f"{last[:3]}_{first}"
    if k == 8:
        return f"{_typo(rng, first)}_{last}"
    if k == 9:
        return f"{first}{last}{rng.randrange(10, 100)}"
    if k == 10:
        return f"{first[:1]}{last}{rng.randrange(1, 100)}"
    return f"{first}.{last[:1]}"


def _separator_only(i: int) -> str:
    """The ``i``-th separator-only text (``"."``, ``"_"``, ``"-"``,
    ``".."``, ...): each scores below threshold, like ``"."``."""
    length = 1
    while i >= len(SEPARATORS) ** length:
        i -= len(SEPARATORS) ** length
        length += 1
    out = []
    for _ in range(length):
        i, r = divmod(i, len(SEPARATORS))
        out.append(SEPARATORS[r])
    return "".join(out)


class UsernameStream:
    """Seeded username batches whose normalized texts never repeat within
    one stream.

    Why unique: the Python scoring workers memoize the per-pair ratio
    bundle on the normalized (username, name) texts
    (``functions/scoring._pair_components``).  A username text that came
    back in a later op would be scored from the memo, so every repeat
    would make later ops cheaper and the op time would drift down over a
    run.  With every text new, each op pays the same scoring work.

    ``names`` are the ``(first, last)`` pairs usernames are drawn from;
    about 10 % of a batch is drawn from the full vocabulary instead
    (people missing from the roster) or is pure noise.  Batch 0 carries
    the exact edge texts ``""``, ``"."`` and ``"john."``; every batch
    carries a fresh separator-only text and a fresh trailing-separator
    text.
    """

    def __init__(self, seed: int, names: list[tuple[str, str]]):
        self._rng = random.Random(f"usernames:{seed}")
        self._names = [(f.lower(), l.lower()) for f, l in names if f and l]
        self._seen: set[str] = set()
        self._batch = 0
        self._sep_only = itertools.count(1)  # 0 is "." (batch 0)

    def _take(self, text: str) -> bool:
        key = text.lower().strip()
        if key in self._seen:
            return False
        self._seen.add(key)
        return True

    def _one(self) -> str:
        rng = self._rng
        while True:
            r = rng.random()
            if r < 0.04:
                text = f"{rng.choice(NOISE)}{rng.randrange(10_000)}"
            elif r < 0.10:
                text = _pattern(rng, rng.choice(FIRST_NAMES), rng.choice(LAST_NAMES))
            else:
                text = _pattern(rng, *rng.choice(self._names))
            if rng.random() < 0.05:
                text = text.capitalize()
            if self._take(text):
                return text

    def batch(self, n: int) -> list[str]:
        out: list[str] = []
        if self._batch == 0:
            for edge in ("", ".", "john."):
                self._take(edge)
                out.append(edge)
        while True:
            sep_only = _separator_only(next(self._sep_only))
            if self._take(sep_only):
                out.append(sep_only)
                break
        while True:
            first, _ = self._rng.choice(self._names)
            trailing = f"{first}{self._rng.randrange(100_000)}."
            if self._take(trailing):
                out.append(trailing)
                break
        while len(out) < n:
            out.append(self._one())
        self._rng.shuffle(out)
        self._batch += 1
        return out[:n]


# The measured sf0.1 vocabulary (its 31st word, "dup", marks near-duplicates).
DOC_VOCAB = """
a agg batch big column customer data fast filter group hash join key line
merge order part query row scan slow small sort spark stream table the
value vector window
""".split()
DUP_SHARE = 0.05
LANGS = [("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14)]


def documents(seed: int, n: int) -> list[tuple[int, str, str, str, int]]:
    """``n`` documents ``(doc_id, text, lang, source, n_chars)`` shaped like
    the sf0.1 ``documents`` table (module docstring): ``DUP_SHARE`` of
    them, at seeded positions, are another document's text plus ``" dup"``.
    Ids are ``0..n-1``."""
    rng = random.Random(f"documents:{seed}:{n}")
    texts = [" ".join(rng.choices(DOC_VOCAB, k=rng.randint(10, 100))) for _ in range(n)]
    dups = set(rng.sample(range(n), round(DUP_SHARE * n)))
    bases = [i for i in range(n) if i not in dups]
    for i in sorted(dups):
        texts[i] = texts[rng.choice(bases)] + " dup"
    langs, weights = zip(*LANGS)
    return [
        (i, text, lang, f"src{i % 20}", len(text))
        for i, (text, lang) in enumerate(zip(texts, rng.choices(langs, weights, k=n)))
    ]
