"""ML pipeline tests (SURVEY.md §2.8): feature parity, training accuracy
vs the reference's ~90% filename baseline, model persistence."""

from __future__ import annotations

import os

import pytest
from pyspark.ml import PipelineModel
from pyspark.ml.evaluation import MulticlassClassificationEvaluator
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType

from name_match_ml_spark.functions.similarity import (
    metaphone,
    partial_ratio,
    ratio,
    soundex,
    token_set_ratio,
)
from name_match_ml_spark.ml.pipeline import (
    FEATURE_COLS,
    evaluation_report,
    labeled_pairs_from_corpus,
    pair_features,
    train_match_classifier,
)

TRAIN_4K = "/root/reference/TRAINING_DATA/training_data_(4k).csv"

PAIRS_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("username", StringType()),
        StructField("employee_name", StringType()),
        StructField("label", IntegerType()),
    ]
)


@pytest.fixture(scope="module")
def train_pairs(spark):
    if not os.path.exists(TRAIN_4K):
        pytest.skip("reference training CSV not present")
    return spark.read.option("header", True).schema(PAIRS_SCHEMA).csv(TRAIN_4K)


def test_pair_features_match_python(spark, train_pairs):
    sample = train_pairs.limit(40)
    rows = pair_features(sample).collect()
    assert rows
    for r in rows:
        u, e = r.username or "", r.employee_name or ""
        assert r.levenshtein == ratio(u, e)
        assert r.partial_ratio == partial_ratio(u, e)
        assert r.token_set_ratio == token_set_ratio(u, e)
        assert r.soundex_match == int(soundex(u) == soundex(e))
        assert r.metaphone_match == int(metaphone(u) == metaphone(e))


def test_train_accuracy_parity(spark, train_pairs):
    """Soft parity gate with TRAINED_MODELS/model_40000(Accu~90).pkl —
    the 4k set should train to >=0.85 accuracy (SURVEY.md §7 Phase 3)."""
    model, predictions = train_match_classifier(train_pairs)
    acc = MulticlassClassificationEvaluator(
        labelCol="label", predictionCol="prediction", metricName="accuracy"
    ).evaluate(predictions)
    assert acc >= 0.85, f"accuracy {acc:.3f} below parity gate"

    report = {r.class_label: r for r in evaluation_report(predictions).collect()}
    assert set(report) == {0.0, 1.0}
    for cls in (0.0, 1.0):
        assert report[cls].f1 >= 0.8, (cls, report[cls])
        assert report[cls].support > 0


def test_model_save_load_roundtrip(spark, train_pairs, tmp_path):
    model, predictions = train_match_classifier(
        train_pairs.limit(600), num_trees=10
    )
    path = str(tmp_path / "rf_model")
    model.write().overwrite().save(path)
    loaded = PipelineModel.load(path)
    featured = pair_features(train_pairs.limit(50)).withColumn(
        "label", F.col("label").cast("double")
    )
    a = model.transform(featured).select("id", "prediction").collect()
    b = loaded.transform(featured).select("id", "prediction").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_corpus_labeled_pairs(spark):
    pairs = labeled_pairs_from_corpus(spark, "/root/testdata/sf0.001")
    counts = dict(
        pairs.groupBy("label").count().rdd.map(lambda r: (r["label"], r["count"])).collect()
    )
    assert counts.get(1, 0) > 0 and counts.get(0, 0) > 0
    # negatives never pair a username with its own employee name
    bad = pairs.filter(
        (F.col("label") == 0)
        & (
            F.lower(F.regexp_replace("username", r"[^a-z]", ""))
            == F.lower(F.regexp_replace("employee_name", r"[^a-zA-Z]", ""))
        )
    ).count()
    assert bad == 0


@pytest.mark.slow
def test_cv_tuning_beats_floor(spark, train_pairs):
    """[EXT] CrossValidator grid search must run reproducibly and reach
    a sane AUC on a subsample (small grid keeps this test fast)."""
    from name_match_ml_spark.ml.pipeline import tune_match_classifier

    sample = train_pairs.limit(800)
    model, params, auc = tune_match_classifier(
        sample, num_trees_grid=(10, 30), max_depth_grid=(4,), n_folds=2
    )
    assert params["numTrees"] in (10.0, 30.0) and params["maxDepth"] == 4.0
    assert auc >= 0.85, auc
    scored = model.transform(
        pair_features(sample).withColumn("label", F.col("label").cast("double"))
    )
    assert "prediction" in scored.columns
