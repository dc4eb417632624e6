"""The benchmark's workloads.

A workload makes its inputs from the seed (``inputs(i)`` for op ``i``,
outside any timing), runs one op through the library's public functions
(``op``), checks an op's output (``check``), and, for the traced run, runs
one op layer by layer (``traced_op``).
"""

from __future__ import annotations

import itertools
import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import checks
import gen
from name_match_ml_spark.operators.dedup import ngram_jaccard_pairs
from name_match_ml_spark.operators.matching import (
    match_usernames,
    prepare_employees,
    prepare_usernames,
    score_candidates,
)
from name_match_ml_spark.plans.blocking import blocked_candidates
from name_match_ml_spark.sources.csv import load_employees, load_usernames
from name_match_ml_spark.sources.parquet import table
from name_match_ml_spark.sources.sinks import save_parquet

# Layer groups of the traced flagship op, in pipeline order.
SOURCES, PREPARE, BLOCKING, SCORING, TOTAL, SINKS = (
    "sources.csv", "matching.prepare", "blocking", "scoring", "matching.total", "sinks",
)
DEDUP = "dedup"
COUNT = "trace.count"  # row counts taken for the trace, outside every layer


@dataclass
class OpInput:
    index: int
    path: str  # the op's input directory
    usernames: list[str] | None = None
    id_map: dict[int, int] | None = None  # dedup: op doc_id -> base doc_id


def _checkpoint(df):
    """Materialize ``df`` at a layer boundary (one job, lineage cut)."""
    return df.localCheckpoint(eager=True)


def _count(tr, df) -> int:
    with tr.span(COUNT):
        return df.count()


class MatchCorpus:
    """A batch at corpus scale, CSV uploads matched with
    ``match_usernames`` after ``load_usernames``/``load_employees``;
    auto-selection takes the blocked path.  Results go to parquet through
    ``save_parquet``.

    The repetition ratios are those of the flagship query at sf0.1 (the
    comment in ``match_usernames``: 30k roster rows reduce to ~400 distinct
    texts, 15k username rows to ~1.7k): a 30,000-row roster of 400
    distinct full names, and per op 300 fresh username texts, each 9 times.
    """

    name = "match_corpus"
    roster_size = 30_000
    roster_distinct = 400
    distinct_per_op = 300
    repeats = 9
    rows_per_op = distinct_per_op * repeats
    warmup_ops = 1
    check_sample = 40  # output rows re-scored per op
    recall_sample = 40  # usernames in the blocked-vs-exact recall probe

    def __init__(self, seed: int, out_dir: str, digest_store: str):
        self.seed = seed
        self.out_dir = out_dir
        self.roster = gen.roster_rows(seed, self.roster_size, self.roster_distinct)
        self.stream = gen.UsernameStream(seed, sorted({(f, l) for _, f, l in self.roster}))
        self.batches: list[list[str]] = []
        self.roster_csv = os.path.join(out_dir, "employees.csv")
        gen.write_roster_csv(self.roster_csv, self.roster)
        self.sinks = itertools.count()
        self.digest_store = digest_store
        self.digests: dict[int, str] = {}

    def inputs(self, i: int) -> OpInput:
        while len(self.batches) <= i:
            self.batches.append(self.stream.batch(self.distinct_per_op))
        names = self.batches[i] * self.repeats
        random.Random(f"{self.seed}:{i}").shuffle(names)
        path = os.path.join(self.out_dir, f"op{i}")
        os.makedirs(path, exist_ok=True)
        gen.write_usernames_csv(os.path.join(path, "usernames.csv"), names)
        return OpInput(i, path, usernames=names)

    def _load(self, spark, inp: OpInput):
        return (
            load_usernames(spark, os.path.join(inp.path, "usernames.csv")),
            load_employees(spark, self.roster_csv),
        )

    def _sink(self, inp: OpInput, matches):
        # One file per op run: a replayed input must not overwrite the
        # output it is compared with.
        path = os.path.join(inp.path, f"matches-{next(self.sinks)}.parquet")
        save_parquet(matches, path)
        return path

    def op(self, spark, inp: OpInput):
        u, e = self._load(spark, inp)
        return self._sink(inp, match_usernames(u, e))

    def traced_op(self, spark, inp: OpInput, tr) -> object:
        """The op recomposed from the matching layers, each materialized at
        its boundary, then ``match_usernames`` timed as a whole."""
        with tr.span(SOURCES):
            u_src, e_src = self._load(spark, inp)
            u, e = _checkpoint(u_src), _checkpoint(e_src)
        with tr.span(PREPARE):
            u_rows = prepare_usernames(u, codes=False)
            u_texts = _checkpoint(
                prepare_usernames(
                    u_rows.select(F.col("u_norm").alias("username")).dropDuplicates(["username"])
                ).select("u_norm", "u_part1", "u_part2", "u_sdx", "u_mp")
            )
            e_rows = prepare_employees(e, codes=False).select(
                F.col("e_name").alias("employee_name"),
                F.col("e_first").alias("first_name"),
                F.col("e_last").alias("last_name"),
            )
            e_texts = _checkpoint(
                prepare_employees(e_rows.dropDuplicates())
                .select("e_name", "e_first", "e_last", "f_sdx", "f_mp", "l_sdx", "l_mp")
                .dropDuplicates(["e_name", "e_first", "e_last"])
            )
        tr.counts["matching.prepare.u_texts"] = _count(tr, u_texts)
        tr.counts["matching.prepare.e_texts"] = _count(tr, e_texts)
        with tr.span(BLOCKING):
            pairs = _checkpoint(blocked_candidates(u_texts, e_texts, broadcast_employees=True))
        tr.counts["blocking.candidate_pairs"] = _count(tr, pairs)
        with tr.span(SCORING):
            scored = _checkpoint(score_candidates(pairs))
        tr.counts["scoring.pairs_scored"] = _count(tr, scored)
        with tr.span(TOTAL):
            matches = _checkpoint(match_usernames(u_src, e_src))
        tr.counts["matching.output_rows"] = _count(tr, matches)
        tr.counts["matching.not_found"] = _count(tr, matches.filter(F.col("emp_id") == "N/A"))
        with tr.span(SINKS):
            return self._sink(inp, matches)

    def check(self, inp: OpInput, out) -> list[str]:
        rows = pq.read_table(out).to_pylist()
        problems = checks.check_corpus(inp.usernames, self.roster, rows, self.check_sample, self.seed + inp.index)
        d = checks.digest(rows)
        if self.digests.setdefault(inp.index, d) != d:
            problems.append("output differs from an earlier run of the same input in this run")
        return problems

    def finish(self) -> list[str]:
        """Print every op's output digest and compare it with the digest an
        earlier run of this seed left in the checkout, if any."""
        print("output digests: " + " ".join(f"op{i}={d[:16]}" for i, d in sorted(self.digests.items())))
        return checks.check_digests(self.digest_store, self.digests)

    def recall(self, spark, inp: OpInput, tr) -> float:
        """Blocked top-k vs exact cross-join top-k on seeded sampled
        usernames: the share of exact result rows the blocked path keeps."""
        picked = random.Random(f"recall:{self.seed}").sample(
            sorted(set(inp.usernames)), self.recall_sample
        )
        u = spark.createDataFrame([(p,) for p in picked], "username string")
        e = load_employees(spark, self.roster_csv)
        with tr.span("trace.recall"):
            exact, blocked = (
                {
                    (r.username, r.emp_id)
                    for r in match_usernames(u, e, blocking=b, include_not_found=False).collect()
                }
                for b in (False, True)
            )
        return len(exact & blocked) / len(exact) if exact else 1.0


class DedupDocs:
    """Exact bigram-shingle Jaccard >= 0.5 pairs over 1,000 documents
    shaped like the sf0.1 ``documents`` table (``gen.documents``); every op
    gets a fresh seeded permutation of the ids and row order, so all ops do
    the same work and share one expected pair set."""

    name = "dedup_docs"
    n_docs = 1_000
    # Op times keep falling over the first ~5 ops while the JIT compiles
    # the countjoin's hot paths; time only after that.
    warmup_ops = 4
    oracle_docs = 250  # documents in the DuckDB cross-check of the exact oracle

    rows_per_op = n_docs

    def __init__(self, seed: int, out_dir: str):
        self.seed = seed
        self.out_dir = out_dir
        self.base = gen.documents(seed, self.n_docs)
        self.expected: dict | None = None

    def inputs(self, i: int) -> OpInput:
        rng = random.Random(f"permute:{self.seed}:{i}")
        new_ids = list(range(self.n_docs))
        rng.shuffle(new_ids)
        rows = [(new_ids[d], t, lang, src, n) for d, t, lang, src, n in self.base]
        rng.shuffle(rows)
        path = os.path.join(self.out_dir, f"op{i}")
        os.makedirs(path, exist_ok=True)
        _write_documents(os.path.join(path, "documents.parquet"), rows)
        return OpInput(i, path, id_map={new_ids[d]: d for d, *_ in self.base})

    def op(self, spark, inp: OpInput):
        docs = table(spark, inp.path, "documents")
        return [tuple(r) for r in ngram_jaccard_pairs(docs, threshold=0.5, shingle_n=2).collect()]

    def traced_op(self, spark, inp: OpInput, tr):
        with tr.span(DEDUP):
            out = self.op(spark, inp)
        tr.counts["dedup.output_pairs"] = len(out)
        return out

    def _expected(self) -> dict:
        if self.expected is None:
            self.expected = checks.jaccard_pairs([(d, t) for d, t, *_ in self.base], 0.5)
        return self.expected

    def check(self, inp: OpInput, out) -> list[str]:
        got = {}
        for a, b, j in out:
            lo, hi = sorted((inp.id_map[a], inp.id_map[b]))
            got[(lo, hi)] = j
        return checks.same_pairs(got, self._expected())

    def finish(self) -> list[str]:
        """Cross-check the exact oracle against DuckDB's oracle SQL on
        ``oracle_docs`` seeded documents: every document of a sampled set
        of expected pairs, filled up with other documents (DuckDB's
        all-pairs join is quadratic, so the whole corpus would cost more
        than the timed window)."""
        rng = random.Random(f"oracle:{self.seed}")
        keep: set[int] = set()
        for a, b in rng.sample(sorted(self._expected()), min(len(self._expected()), self.oracle_docs // 4)):
            keep |= {a, b}
        rest = [d for d, *_ in self.base if d not in keep]
        keep |= set(rng.sample(rest, self.oracle_docs - len(keep)))
        subset = [row for row in self.base if row[0] in keep]
        path = os.path.join(self.out_dir, "oracle_subset.parquet")
        _write_documents(path, subset)
        want = {k: v for k, v in self._expected().items() if k[0] in keep and k[1] in keep}
        return [f"exact oracle vs DuckDB: {p}" for p in checks.same_pairs(want, checks.duckdb_pairs(path))]


def _write_documents(path: str, rows) -> None:
    cols = list(zip(*rows))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(cols[0], pa.int64()),
                "text": pa.array(cols[1], pa.string()),
                "lang": pa.array(cols[2], pa.string()),
                "source": pa.array(cols[3], pa.string()),
                "n_chars": pa.array(cols[4], pa.int64()),
            }
        ),
        path,
    )


def make(name: str, seed: int, out_dir: str):
    """The workload ``name`` with its inputs under ``out_dir``; output
    digests persist next to it, across runs."""
    if name == MatchCorpus.name:
        store = os.path.join(os.path.dirname(out_dir), "digests", f"{name}-{seed}.json")
        return MatchCorpus(seed, out_dir, store)
    if name == DedupDocs.name:
        return DedupDocs(seed, out_dir)
    raise KeyError(name)


NAMES = (MatchCorpus.name, DedupDocs.name)
