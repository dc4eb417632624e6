"""Tests of the benchmark itself (not of the library).

    python -m pytest perfbench/test_perfbench.py -q

The last three tests run ``BENCHMARK.json``'s command (two of them start
Spark; about two minutes in all).
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _files(path: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, n), path) for d, _, names in os.walk(path) for n in names
    )


@pytest.mark.parametrize("name", workloads.NAMES)
def test_same_seed_gives_identical_inputs(tmp_path, name):
    dirs = []
    for copy in ("a", "b"):
        out = tmp_path / copy
        out.mkdir()
        wl = workloads.make(name, 7, str(out))
        for i in range(3):
            wl.inputs(i)
        dirs.append(str(out))
    assert _files(dirs[0]) == _files(dirs[1])
    for rel in _files(dirs[0]):
        assert filecmp.cmp(os.path.join(dirs[0], rel), os.path.join(dirs[1], rel), shallow=False), rel
    other = tmp_path / "other"
    other.mkdir()
    wl = workloads.make(name, 8, str(other))
    wl.inputs(0)
    first = "usernames.csv" if name == "match_corpus" else "documents.parquet"
    assert not filecmp.cmp(
        os.path.join(dirs[0], "op0", first), os.path.join(str(other), "op0", first), shallow=False
    )


def test_no_username_text_repeats_across_ops(tmp_path):
    wl = workloads.make("match_corpus", 3, str(tmp_path))
    seen: set[str] = set()
    for i in range(40):
        texts = {u.lower().strip() for u in wl.inputs(i).usernames}
        assert len(texts) == wl.distinct_per_op
        assert not texts & seen, f"op {i} repeats {sorted(texts & seen)[:5]}"
        seen |= texts
    first = set(wl.inputs(0).usernames)
    assert {"", ".", "john."} <= first  # FIXTURES.md §B edge texts


def test_documents_have_the_measured_shape():
    docs = gen.documents(11, 2_000)
    words = [t.split() for _, t, *_ in docs]
    assert all(10 <= len(w) - (w[-1] == "dup") <= 100 for w in words)
    assert {x for w in words for x in w} == set(gen.DOC_VOCAB) | {"dup"}
    assert sum(w[-1] == "dup" for w in words) == 100
    texts = {t for _, t, *_ in docs}
    assert all(t[: -len(" dup")] in texts for t in texts if t.endswith(" dup"))
    assert all(src == f"src{d % 20}" and n == len(t) for d, t, _, src, n in docs)


def _expected_matches(username, roster):
    """The reference's rows ``(emp_id, emp_name, score, rank)`` for one
    username over the whole roster: top 4 by score (ties on ``emp_id``),
    threshold 50, dense ranks, one NOT-FOUND row when none pass."""
    scored = []
    for emp_id, first, last in roster:
        name = checks.employee_name(first, last)
        scored.append((emp_id, name, checks.compute_match_score(username, name, first, last, emp_id)))
    scored.sort(key=lambda t: (-t[2], t[0]))
    top = [t for t in scored[:4] if t[2] >= checks.SCORE_THRESHOLD]
    if not top:
        return [("N/A", checks.NOT_FOUND, 0.0, None)]
    ranks = {s: k for k, s in enumerate(sorted({s for *_, s in top}, reverse=True), 1)}
    return [(e, n, s, ranks[s]) for e, n, s in top]


def _corpus_rows(usernames, roster):
    rows = []
    for input_id, u in enumerate(usernames):
        for e, n, s, rank in _expected_matches(u, roster):
            rows.append(
                {"input_id": input_id, "username": u, "emp_id": e, "emp_name": n, "score": s,
                 "match_rank": None if e == "N/A" else rank,
                 "match_type": checks.NOT_FOUND if e == "N/A" else checks.LABELS[rank]}
            )
    return rows


def test_corpus_check_rejects_corrupted_output(tmp_path):
    roster = gen.roster_rows(5, 60, 20)
    names = gen.UsernameStream(5, sorted({(f, l) for _, f, l in roster})).batch(15)
    rows = _corpus_rows(names, roster)
    assert checks.check_corpus(names, roster, rows, len(rows), 0) == []
    found = next(r for r in rows if r["emp_id"] != "N/A")
    wrong_score = [dict(r, score=r["score"] + 0.5) if r is found else r for r in rows]
    assert checks.check_corpus(names, roster, wrong_score, len(rows), 0)
    too_many = rows + [dict(found, emp_id=str(k)) for k in range(1, 5)]
    assert checks.check_corpus(names, roster, too_many, 0, 0)
    assert checks.check_corpus(names, roster, [r for r in rows if r["input_id"] != 0], 0, 0)
    wrong_rank = [dict(r, match_rank=r["match_rank"] + 1) if r is found else r for r in rows]
    assert checks.check_corpus(names, roster, wrong_rank, 0, 0)
    other = checks.LABELS[found["match_rank"] % 4 + 1]
    wrong_label = [dict(r, match_type=other) if r is found else r for r in rows]
    assert checks.check_corpus(names, roster, wrong_label, 0, 0)

    store = str(tmp_path / "digests" / "x.json")
    assert checks.check_digests(store, {0: checks.digest(rows)}) == []
    assert checks.check_digests(store, {0: checks.digest(rows)}) == []
    # A changed output fails, and keeps failing: the stored digest stays.
    assert checks.check_digests(store, {0: checks.digest(wrong_score)})
    assert checks.check_digests(store, {0: checks.digest(wrong_score)})


def test_corpus_check_rejects_a_replay_with_another_output(tmp_path):
    (tmp_path / "run").mkdir()
    wl = workloads.make("match_corpus", 6, str(tmp_path / "run"))
    wl.roster = gen.roster_rows(6, 60, 20)
    inp = wl.inputs(0)
    inp.usernames = inp.usernames[:12]
    rows = _corpus_rows(inp.usernames, wl.roster)
    outs = []
    for k, table_rows in enumerate([rows, rows, rows[1:] + [dict(rows[0], emp_name="x")]]):
        outs.append(str(tmp_path / f"out{k}.parquet"))
        pq.write_table(pa.Table.from_pylist(table_rows), outs[-1])
    assert wl.check(inp, outs[0]) == []
    assert wl.check(inp, outs[1]) == []
    assert "output differs" in " ".join(wl.check(inp, outs[2]))


def test_dedup_oracle_matches_duckdb_and_rejects_corrupted_output(tmp_path):
    wl = workloads.DedupDocs(4, str(tmp_path))
    docs = wl.base[:300]
    path = str(tmp_path / "docs.parquet")
    workloads._write_documents(path, docs)
    want = checks.jaccard_pairs([(d, t) for d, t, *_ in docs], 0.5)
    assert want and checks.duckdb_pairs(path) == pytest.approx(want)

    inp = wl.inputs(0)
    to_op = {base: new for new, base in inp.id_map.items()}
    out = [(to_op[a], to_op[b], j) for (a, b), j in wl._expected().items()]
    assert wl.check(inp, out) == []
    assert wl.check(inp, out[1:])
    a, b, j = out[0]
    assert wl.check(inp, [(a, b, j + 0.01), *out[1:]])
    extra = next((a, b) for a in range(10) for b in range(a + 1, 10) if (a, b) not in wl._expected())
    assert wl.check(inp, out + [(to_op[extra[0]], to_op[extra[1]], 0.5)])


def test_metric_names_match_benchmark_json():
    e2e = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.PER_LAYER
    assert {w["name"] for w in BENCH["workloads"]} <= set(workloads.NAMES)


def _bench(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, *BENCH["command"][1:], *args], cwd=cwd, capture_output=True, text=True, timeout=600
    )


@pytest.mark.parametrize("trace", ["0", "1"])
def test_run_prints_every_metric_of_its_mode(trace):
    p = _bench(ROOT, "--workload", "dedup_docs", "--seed", "2", "--seconds", "1", "--trace", trace)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = BENCH["per_layer"] if trace == "1" else BENCH["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in want}


def test_run_fails_without_the_library(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _bench(str(tmp_path), "--workload", "dedup_docs", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert "correct" not in p.stdout
