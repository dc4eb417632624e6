"""Plan staging (plans/staging.py): the one staging helper is eager, its
consumers read the stored rows, and the n-gram join plans never reach
back to the source files."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from name_match_ml_spark.operators.dedup import (
    _staged_shingle_hashes,
    ngram_containment_pairs,
    ngram_jaccard_pairs,
)
from name_match_ml_spark.plans import staging
from name_match_ml_spark.plans.staging import stage


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_staging_exposes_one_function():
    assert staging.__all__ == ["stage"]


def test_stage_runs_during_the_call_and_cuts_the_source(spark, tmp_path):
    """``stage`` starts its job(s) while it is called, returns a scan of
    the stored rows, and two consumers' actions never read the source
    file again — they still answer after the file is deleted."""
    sc = spark.sparkContext
    path = str(tmp_path / "src.parquet")
    spark.range(300).withColumn("g", F.col("id") % 7).write.parquet(path)
    src = spark.read.parquet(path)

    group = "stage-eager-test"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        staged = stage(src.select("id", "g"))
        assert sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert "Scan ExistingRDD" in _plan(staged)

    by_group = staged.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    evens = staged.filter(F.col("id") % 2 == 0)
    for consumer in (by_group, evens):
        plan = _plan(consumer)
        assert "Scan ExistingRDD" in plan
        assert "FileScan" not in plan and "src.parquet" not in plan

    shutil.rmtree(path)
    assert sum(r["n"] for r in by_group.collect()) == 300
    assert evens.count() == 150


def _near_dup_docs(spark, path: str):
    base = ["spark sql window join group sort " + " ".join(f"w{i}" for i in range(k, k + 6)) for k in range(10)]
    rows = [(i, t) for i, t in enumerate(base)] + [(100 + i, base[i]) for i in range(3)]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(path)
    return spark.read.parquet(path)


def test_ngram_jaccard_plan_reads_staged_shingles(spark, tmp_path):
    """Every consumer of the shingle table reads the staged rows: the
    returned plan has no ``FileScan`` of the ``documents`` parquet."""
    docs = _near_dup_docs(spark, str(tmp_path / "documents.parquet"))

    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    plan = _plan(pairs)
    assert "Scan ExistingRDD" in plan
    assert "FileScan" not in plan
    assert {(0, 100), (1, 101), (2, 102)} <= {(r.doc_a, r.doc_b) for r in pairs.collect()}


def _jobs_of(spark, build, group: str) -> int:
    """The number of Spark jobs ``build()`` starts."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        build()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_ngram_jaccard_call_starts_only_the_staging_jobs(spark, tmp_path):
    """Building the Jaccard plan starts exactly the jobs that staging its
    shingle table starts alone — no plan-time stats or count job."""
    docs = _near_dup_docs(spark, str(tmp_path / "documents.parquet"))

    staged = _jobs_of(
        spark,
        lambda: stage(_staged_shingle_hashes(docs, "text", "doc_id", 2)),
        "jaccard-stage-only",
    )
    called = _jobs_of(
        spark, lambda: ngram_jaccard_pairs(docs, threshold=0.5, shingle_n=2), "jaccard-call"
    )
    assert staged > 0
    assert called == staged


def test_containment_bitmap_call_counts_each_thing_once(spark, tmp_path):
    """On the bitmap path, building the containment plan starts the
    staging jobs, the pick's stats aggregate and doc count, and one
    vocabulary collect — the bitmap plan reuses the pick's doc count and
    does not count its vocabulary before collecting it."""
    docs = _near_dup_docs(spark, str(tmp_path / "documents.parquet"))
    base = stage(_staged_shingle_hashes(docs, "text", "doc_id", 2))
    tok = base.select("doc_id", F.size("sh").alias("n"), F.explode("sh").alias("h"))

    def pick():
        sq = F.col("count") * F.col("count")
        tok.groupBy("h").count().select(F.count(F.lit(1)), F.sum(sq)).first()
        base.count()

    staged = _jobs_of(
        spark, lambda: stage(_staged_shingle_hashes(docs, "text", "doc_id", 2)), "cont-stage"
    )
    picked = _jobs_of(spark, pick, "cont-pick")
    vocab = _jobs_of(
        spark,
        lambda: base.select(F.explode("sh")).distinct().collect(),
        "cont-vocab",
    )
    out = []
    called = _jobs_of(
        spark,
        lambda: out.append(ngram_containment_pairs(docs, threshold=0.5, shingle_n=2)),
        "cont-call",
    )
    assert "FlatMapGroupsInPandas" in _plan(out[0])  # the pick took the bitmap plan
    assert called == staged + picked + vocab
    assert {(0, 100), (1, 101), (2, 102)} <= {(r.doc_a, r.doc_b) for r in out[0].collect()}
