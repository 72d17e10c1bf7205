"""ML layer (reference ``MTClassifierModel.scala:175-288``).

1:1 pyspark.ml surface: RFormula feature assembly over the six
classifier features, RandomForest (128 trees) / GBT twins, Spark-native
model persistence (same parquet+JSON layout the reference's
``MTClassifierModel.RF.tar`` uses), max-probability extraction via
``vector_to_array`` + ``array_max`` (no UDF — reference does a
``df.map`` row pass, ``MTClassifierModel.scala:95-109``).
``load_pipeline_model`` keeps one loaded model per Spark application
and model directory, so the models it returns are shared and must not
be mutated.
"""

from __future__ import annotations

import os
import threading

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import GBTClassifier, RandomForestClassifier
from pyspark.ml.evaluation import MulticlassClassificationEvaluator
from pyspark.ml.feature import RFormula
from pyspark.ml.functions import vector_to_array
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MT_LABEL = 0.0  # true mitochondrial read     (MTClassifierModel.scala:36)
RHO0_LABEL = 1.0  # NUMT / nuclear look-alike (MTClassifierModel.scala:37)

# label ~ the six features the reference's R-formula names
# (MTClassifierModel.scala:52). MapQ z-scores are deliberately excluded
# (rationale at MTClassifierModel.scala:41-51).
FORMULA = (
    "label ~ MTEditDist + LD + NTEditDist + NTScore"
    " + MTNumAlignments + NTNumAlignments"
)
NUM_TREES = 128  # MTClassifierModel.scala:38


def _strip_summary(model: PipelineModel, model_path: str | None) -> PipelineModel:
    """Persist + reload so the returned model carries NO trainingSummary.

    A freshly-fit classification model holds a training summary that
    references the SparkSession; scoring closures then try to serialize
    the session into tasks, which breaks (Spark 4.1's session carries a
    non-serializable ObservationManager once any Observation has been
    used). Loaded models are summary-free — and they're what production
    scoring uses anyway, so always return the loaded form.
    """
    import shutil
    import tempfile

    scratch = model_path is None
    if scratch:
        model_path = tempfile.mkdtemp(prefix="mitoscape_model_")
    model.write().overwrite().save(model_path)
    loaded = PipelineModel.load(model_path)
    if scratch:
        # load is eager (metadata + stage parquet are read during
        # load), so the scratch dir is safe to drop immediately —
        # callers who want persistence pass model_path explicitly
        shutil.rmtree(model_path, ignore_errors=True)
    return loaded


def train_rf(
    training: DataFrame, model_path: str | None = None, seed: int = 42
) -> PipelineModel:
    """Train the 128-tree RF (``trainRF``, ``MTClassifierModel.scala:265-281``)."""
    formula = RFormula(formula=FORMULA, featuresCol="features", labelCol="label")
    rf = RandomForestClassifier(
        labelCol="label", featuresCol="features", numTrees=NUM_TREES, seed=seed
    )
    model = Pipeline(stages=[formula, rf]).fit(training)
    return _strip_summary(model, model_path)


def train_gbt(
    training: DataFrame, model_path: str | None = None, seed: int = 42
) -> PipelineModel:
    """GBT twin (``testGBModel`` setup, ``MTClassifierModel.scala:237-239``:
    maxDepth=8, maxIter=50)."""
    formula = RFormula(formula=FORMULA, featuresCol="features", labelCol="label")
    gbt = GBTClassifier(
        labelCol="label",
        featuresCol="features",
        maxDepth=8,
        maxIter=50,
        seed=seed,
    )
    model = Pipeline(stages=[formula, gbt]).fit(training)
    return _strip_summary(model, model_path)


# (application id, absolute model directory) -> (directory stamp, model)
_MODELS: dict[tuple[str, str], tuple[tuple, PipelineModel]] = {}
_MODELS_LOCK = threading.Lock()


def _dir_stamp(path: str) -> tuple:
    """(relative path, size, mtime_ns) of every file under ``path``."""
    stamp = []
    for root, _, files in os.walk(path):
        for name in files:
            full = os.path.join(root, name)
            st = os.stat(full)
            stamp.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(stamp))


def load_pipeline_model(model_path: str) -> PipelineModel:
    """The PipelineModel saved at ``model_path``, loaded once per Spark
    application: a later call from the same application returns the
    same object while no file under the directory has changed path,
    size or mtime. A changed directory or a new application (a restarted
    session) loads again; entries of other applications are dropped.
    The returned model is shared, so callers must not mutate it. A path
    that is not a local directory is loaded every time (a missing one
    raises as ``PipelineModel.load`` does).
    """
    if not os.path.isdir(model_path):
        return PipelineModel.load(model_path)
    app = SparkSession.active().sparkContext.applicationId
    key = (app, os.path.abspath(model_path))
    stamp = _dir_stamp(key[1])
    with _MODELS_LOCK:
        for stale in [k for k in _MODELS if k[0] != app]:
            del _MODELS[stale]
        hit = _MODELS.get(key)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    model = PipelineModel.load(model_path)
    with _MODELS_LOCK:
        _MODELS[key] = (stamp, model)
    return model


def max_probability(predictions: DataFrame) -> DataFrame:
    """(Read, MaxProb, Prediction) from the probability vector
    (``getMaxProb``, ``MTClassifierModel.scala:95-109``) — expressed as
    vector_to_array + array_max, fully JVM-side."""
    return predictions.select(
        "Read",
        F.array_max(vector_to_array(F.col("probability"))).alias("MaxProb"),
        F.col("prediction").alias("Prediction"),
    )


def evaluate_accuracy(
    model: PipelineModel, test: DataFrame, prob_threshold: float = 0.0
) -> float:
    """Hold-out accuracy with optional MaxProb gate (``testRFModel``,
    ``MTClassifierModel.scala:187-222``). The reference's semi-join of
    predictions against the thresholded subset is a filter on MaxProb."""
    predictions = model.transform(test)
    if prob_threshold > 0.0:
        predictions = predictions.where(
            F.array_max(vector_to_array(F.col("probability")))
            >= prob_threshold
        )
    evaluator = MulticlassClassificationEvaluator(
        labelCol="label", predictionCol="prediction", metricName="accuracy"
    )
    return float(evaluator.evaluate(predictions))


def tune_rf(
    training: DataFrame,
    num_trees_grid: list[int] | None = None,
    max_depth_grid: list[int] | None = None,
    n_folds: int = 3,
    parallelism: int = 4,
    seed: int = 42,
):
    """Hyperparameter search the reference lacks entirely (its 128-tree
    setting is hard-coded, ``MTClassifierModel.scala:38``): k-fold
    ``CrossValidator`` over (numTrees, maxDepth), accuracy-scored.

    Scale shape: each fold's fit is a distributed job; ``parallelism``
    fits that many param combinations concurrently — on a cluster this
    multiplies executor utilization, not driver memory (models are
    small; training data stays partitioned). Returns
    (best PipelineModel, avg-accuracy per param map).
    """
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    formula = RFormula(
        formula=FORMULA, featuresCol="features", labelCol="label"
    )
    rf = RandomForestClassifier(
        labelCol="label", featuresCol="features", seed=seed
    )
    grid = (
        ParamGridBuilder()
        .addGrid(rf.numTrees, num_trees_grid or [32, NUM_TREES])
        .addGrid(rf.maxDepth, max_depth_grid or [5, 8])
        .build()
    )
    cv = CrossValidator(
        estimator=Pipeline(stages=[formula, rf]),
        estimatorParamMaps=grid,
        evaluator=MulticlassClassificationEvaluator(
            labelCol="label", metricName="accuracy"
        ),
        numFolds=n_folds,
        parallelism=parallelism,
        seed=seed,
    )
    cv_model = cv.fit(training)
    scores = [
        (
            {p.name: v for p, v in pm.items()},
            float(m),
        )
        for pm, m in zip(grid, cv_model.avgMetrics)
    ]
    return _strip_summary(cv_model.bestModel, None), scores
