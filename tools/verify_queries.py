#!/usr/bin/env python
"""Local mirror of the driver's full correctness gate.

Runs EVERY declared query (``__spark_entry__.queries()``) at sf0.01 and,
where an oracle exists (``oracle_sql()``), runs the DuckDB oracle
side-by-side and compares row count, column-name set, and exact values
(column-name-sorted, row-order-insensitive).  Queries without an oracle
get a rows-only check (``spark_rows > 0``).  Results are written as one
JSON object per query to ``CORRECTNESS_LOCAL_r{N}.json`` so no driver
sampling can hide a red cell (VERDICT r2 "What's wrong" #1).

Usage: python tools/verify_queries.py [--round 3] [--sf-dir /root/testdata/sf0.01]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time
import traceback

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
# The Python workers import the flagship's Arrow UDF by module name, so
# they need the repo root too; they inherit PYTHONPATH from the session,
# which must therefore be set before it starts.
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (_ROOT, os.environ.get("PYTHONPATH")) if p
)

from tools.audit_types import canon_duck, canon_spark  # noqa: E402


def _canon(value):
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        return repr(value)
    if isinstance(value, (bytes, bytearray)):
        return value.hex()
    return value


def _rows_canonical(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_canon(r[i]) for i in order) for r in rows),
        key=lambda t: tuple((v is not None, str(type(v)), v) for v in t),
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, default=3)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", nargs="*", help="subset of query names")
    ap.add_argument(
        "--resume",
        action="store_true",
        help="skip queries already recorded in this round's .partial.json",
    )
    args = ap.parse_args()

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry_mod
    from name_match_ml_spark.sources.parquet import TABLES

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("verify-queries")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    duck = duckdb.connect()
    for t in TABLES:
        duck.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf_dir}/{t}.parquet')"
        )

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    names = args.only or sorted(queries)

    def _classify(rec: dict) -> str:
        if rec.get("hash_match"):
            return "hash"
        if rec.get("err") == "no_oracle" and rec.get("spark_rows"):
            return "rows_only"
        return "err"

    results: dict[str, dict] = {}
    part = f"CORRECTNESS_LOCAL_r{args.round:02d}.partial.json"
    if args.resume:
        # Resume a killed/timed-out sweep: carry completed rows from the
        # partial (same-invocation write-through) file and skip them.
        # A multi-hour sf0.1 sweep (recursive-CTE oracles) survives any
        # interruption this way — round-9 lesson.  The partial records
        # its sf_dir; resuming against a DIFFERENT sf_dir would silently
        # mix scale factors into one matrix, so refuse (ADVICE r9).
        if os.path.exists(part):
            with open(part) as f:
                prior = json.load(f)
            meta = prior.pop("_meta", {})
            prior_sf = meta.get("sf_dir")
            if prior_sf is not None and prior_sf != args.sf_dir:
                print(
                    f"refusing --resume: partial file was run at sf_dir={prior_sf}, "
                    f"this invocation asks for {args.sf_dir}; delete {part} or match"
                )
                return 2
            results.update(prior)
            skipped = [n for n in names if n in prior]
            names = [n for n in names if n not in prior]
            print(f"resume: {len(skipped)} done rows carried, {len(names)} to run")
    # seed summary counters from carried rows so the end-of-run totals
    # describe the whole matrix, not just the newly-run slice (ADVICE r9)
    n_hash = sum(1 for r in results.values() if _classify(r) == "hash")
    n_rows_only = sum(1 for r in results.values() if _classify(r) == "rows_only")
    n_err = sum(1 for r in results.values() if _classify(r) == "err")
    for name in names:
        t0 = time.perf_counter()
        rec: dict = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        try:
            sdf = queries[name](spark, args.sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
            rec["spark_rows"] = len(srows)
            if name in oracles:
                rel2 = duck.sql(oracles[name])
                dtypes = {c: canon_duck(str(t)) for c, t in zip(rel2.columns, rel2.types)}
                stypes = {c: canon_spark(t) for c, t in sdf.dtypes}
                rel = duck.execute(oracles[name])
                dcols = [d[0] for d in rel.description]
                drows = rel.fetchall()
                rec["oracle_rows"] = len(drows)
                rec["rows_match"] = len(srows) == len(drows)
                # Driver lesson (CORRECTNESS_r04): its value-hash is
                # dtype-sensitive — a DuckDB HUGEINT vs Spark bigint
                # mismatches even with identical values.  Schema match is
                # therefore names AND canonical column types.
                rec["schema_match"] = sorted(scols) == sorted(dcols) and stypes == dtypes
                if rec["rows_match"] and rec["schema_match"]:
                    rec["hash_match"] = _rows_canonical(scols, srows) == _rows_canonical(
                        dcols, drows
                    )
                else:
                    rec["hash_match"] = False
                if rec["hash_match"]:
                    n_hash += 1
                else:
                    n_err += 1
            else:
                rec["err"] = "no_oracle"
                if len(srows) > 0:
                    n_rows_only += 1
                else:
                    n_err += 1
        except Exception:
            rec["err"] = traceback.format_exc(limit=3).strip().splitlines()[-1][:300]
            n_err += 1
        rec["sec"] = round(time.perf_counter() - t0, 2)
        results[name] = rec
        # write-through after every query so a timeout/kill loses nothing;
        # _meta pins the sf_dir the partial belongs to (resume guard)
        with open(part, "w") as f:
            json.dump({"_meta": {"sf_dir": args.sf_dir}, **results}, f, indent=2)
        status = (
            "HASH-PASS"
            if rec["hash_match"]
            else ("rows-only" if rec["err"] == "no_oracle" and rec["spark_rows"] else "FAIL")
        )
        print(f"{name:32s} {status:10s} rows={rec['spark_rows']} ({rec['sec']}s)", flush=True)

    out = f"CORRECTNESS_LOCAL_r{args.round:02d}.json"
    if args.only and os.path.exists(out):
        # partial re-check: merge into the existing full matrix instead of
        # clobbering it
        with open(out) as f:
            merged = json.load(f)
        merged.update(results)
        results = merged
    results.pop("_meta", None)
    with open(out, "w") as f:
        json.dump(results, f, indent=2)
    # totals recomputed over the FULL written matrix (carried + run +
    # any --only merge), so the summary always describes the file
    n_hash = sum(1 for r in results.values() if _classify(r) == "hash")
    n_rows_only = sum(1 for r in results.values() if _classify(r) == "rows_only")
    n_err = sum(1 for r in results.values() if _classify(r) == "err")
    print(
        f"\n{len(results)} queries ({len(names)} run this invocation): "
        f"{n_hash} hash-pass, {n_rows_only} rows-only, {n_err} failing -> {out}"
    )
    spark.stop()
    return 1 if n_err else 0


if __name__ == "__main__":
    sys.exit(main())
