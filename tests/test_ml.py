"""ML layer: threshold-style tests (never exact-match; SURVEY.md §5.2).

Seeded separable fixture → RF must clear an accuracy bound; model
persistence roundtrips through Spark's native format; max_probability
produces (Read, MaxProb, Prediction) with MaxProb in [0.5, 1].
"""

from __future__ import annotations

import tempfile

import pytest

from mitoscape_spark.pipeline import fixtures
from mitoscape_spark.pipeline.ml import (
    evaluate_accuracy,
    load_pipeline_model,
    max_probability,
    train_rf,
)


@pytest.fixture(scope="module")
def labeled(spark):
    return fixtures.to_spark(spark, fixtures.labeled_features_pdf(1200)).cache()


@pytest.fixture(scope="module")
def model(labeled):
    train, _ = labeled.randomSplit([0.8, 0.2], seed=7)
    return train_rf(train)


def test_rf_accuracy_threshold(labeled, model):
    _, test = labeled.randomSplit([0.8, 0.2], seed=7)
    acc = evaluate_accuracy(model, test)
    assert acc >= 0.9, f"accuracy {acc} below bound on separable fixture"


def test_max_probability_shape(labeled, model):
    preds = model.transform(labeled.limit(50))
    rows = max_probability(preds).collect()
    assert {r.Prediction for r in rows} <= {0.0, 1.0}
    assert all(0.5 <= r.MaxProb <= 1.0 for r in rows)


def test_model_persistence_roundtrip(labeled, model, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("model") / "rf")
    model.write().overwrite().save(path)
    reloaded = load_pipeline_model(path)
    a = model.transform(labeled.limit(20)).select("Read", "prediction").collect()
    b = reloaded.transform(labeled.limit(20)).select("Read", "prediction").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def _predictions(model, df):
    return sorted(
        map(tuple, model.transform(df).select("Read", "prediction", "probability").collect())
    )


def test_load_pipeline_model_memo_returns_loaded_model(model, tmp_path):
    path = str(tmp_path / "rf")
    model.write().save(path)
    first = load_pipeline_model(path)
    assert load_pipeline_model(path) is first
    assert load_pipeline_model(str(tmp_path / "." / "rf")) is first


def test_load_pipeline_model_memo_reloads_an_overwritten_model(
    labeled, model, tmp_path
):
    """Saving another model over the directory changes its stamp: the
    next call returns that model, not the memoized one."""
    from pyspark.ml import Pipeline, PipelineModel
    from pyspark.ml.classification import RandomForestClassifier
    from pyspark.ml.feature import RFormula

    from mitoscape_spark.pipeline.ml import FORMULA

    path = str(tmp_path / "rf")
    model.write().save(path)
    first = load_pipeline_model(path)
    small = Pipeline(
        stages=[
            RFormula(formula=FORMULA, featuresCol="features", labelCol="label"),
            RandomForestClassifier(numTrees=3, maxDepth=2, seed=3),
        ]
    ).fit(labeled)
    small.write().overwrite().save(path)
    second = load_pipeline_model(path)
    assert second is not first
    assert second.stages[-1].getNumTrees == 3
    sample = labeled.limit(30)
    assert _predictions(second, sample) == _predictions(PipelineModel.load(path), sample)
    assert load_pipeline_model(path) is second


def test_load_pipeline_model_missing_path_raises_and_stores_nothing(tmp_path):
    from mitoscape_spark.pipeline import ml

    before = dict(ml._MODELS)
    with pytest.raises(Exception, match="no_such_model"):
        load_pipeline_model(str(tmp_path / "no_such_model"))
    assert ml._MODELS == before


def test_load_pipeline_model_memo_is_per_application(spark, model, tmp_path, monkeypatch):
    """A new Spark application (a restarted session) loads the model
    again, and the entries of the application before it are dropped."""
    from pyspark import SparkContext

    from mitoscape_spark.pipeline import ml

    path = str(tmp_path / "rf")
    model.write().save(path)
    first = load_pipeline_model(path)
    app = spark.sparkContext.applicationId
    monkeypatch.setattr(SparkContext, "applicationId", property(lambda sc: "other-app"))
    other = load_pipeline_model(path)
    assert other is not first
    assert {a for a, _ in ml._MODELS} == {"other-app"}
    monkeypatch.undo()
    again = load_pipeline_model(path)
    assert again is not first and again is not other
    assert {a for a, _ in ml._MODELS} == {app}


def test_load_pipeline_model_memo_under_concurrent_callers(spark, model, tmp_path):
    """More threads than the cores this process may use miss on one
    directory at once: each gets a loaded model, and the memo ends with
    one entry that later calls return."""
    import os
    import sys
    import threading

    from pyspark import inheritable_thread_target

    from mitoscape_spark.pipeline import ml

    path = str(tmp_path / "rf")
    model.write().save(path)
    n = 2 * len(os.sched_getaffinity(0))
    start = threading.Barrier(n)
    got, errors = [], []

    def call():
        start.wait(timeout=60)
        try:
            got.append(load_pipeline_model(path))
        except Exception as e:  # reported by the assertion below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [
            threading.Thread(target=inheritable_thread_target(spark)(call))
            for _ in range(n)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads), "a load did not finish"
    assert not errors, errors
    assert len(got) == n
    memo = load_pipeline_model(path)
    assert any(m is memo for m in got)
    assert [k for k in ml._MODELS if k[1] == os.path.abspath(path)] == [
        (spark.sparkContext.applicationId, os.path.abspath(path))
    ]
    assert load_pipeline_model(path) is memo


def test_reference_model_artifact_loads_and_scores(spark, tmp_path):
    """API-parity proof: the reference's persisted Spark 3.0.0 RF
    artifact (src/universal/MTClassifierModel.RF.tar — SURVEY.md §1.1
    item 4) loads unchanged through pyspark.ml and scores with the
    documented shape (128 trees, 6 features, 2 classes)."""
    import os
    import tarfile

    tar_path = "/root/reference/src/universal/MTClassifierModel.RF.tar"
    if not os.path.exists(tar_path):
        import pytest

        pytest.skip("reference artifact not present")
    with tarfile.open(tar_path) as tf:
        tf.extractall(tmp_path)
    from pyspark.ml.classification import RandomForestClassificationModel
    from pyspark.ml.linalg import Vectors

    m = RandomForestClassificationModel.load(
        str(tmp_path / "MTClassifierModel.RF")
    )
    assert m.getNumTrees == 128
    assert m.numFeatures == 6
    assert m.numClasses == 2
    df = spark.createDataFrame(
        [(Vectors.dense([1.0, 40000.0, 3.0, 30.0, 2.0, 3.0]),)],
        ["features"],
    )
    out = m.transform(df).select("prediction", "probability").head()
    assert out.prediction in (0.0, 1.0)
    assert abs(sum(out.probability) - 1.0) < 1e-9


def test_gbt_accuracy_threshold(spark):
    """GBT twin (reference testGBModel, MTClassifierModel.scala:225-257
    — whose 'precision' metric name would throw; we evaluate accuracy,
    SURVEY.md §8 Q7) clears the same separability bound as the RF."""
    from mitoscape_spark.pipeline import fixtures
    from mitoscape_spark.pipeline.ml import evaluate_accuracy, train_gbt

    labeled = fixtures.to_spark_canonical(
        spark, fixtures.labeled_features_pdf(800), "Read"
    )
    train, test = labeled.randomSplit([0.7, 0.3], seed=42)
    model = train_gbt(train, seed=42)
    assert evaluate_accuracy(model, test) >= 0.85


def test_tune_rf_cross_validation(labeled):
    """CV over a small grid: best model must clear the same accuracy
    bound, and every grid point must report a finite fold-averaged
    score."""
    from mitoscape_spark.pipeline.ml import evaluate_accuracy, tune_rf

    best, scores = tune_rf(
        labeled,
        num_trees_grid=[8, 16],
        max_depth_grid=[3, 5],
        n_folds=2,
        parallelism=2,
    )
    assert len(scores) == 4
    assert all(0.0 <= s <= 1.0 for _, s in scores)
    acc = evaluate_accuracy(best, labeled)
    assert acc >= 0.9
