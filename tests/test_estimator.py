"""pyspark.ml Estimator/Model surface: Params, fit/transform, tuning
integration (ParamGridBuilder/CrossValidator — the reference exercises
CrossValidator in tests/test_distributed/test_with_spark/test_spark.py:752),
and ML-writer persistence."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from xgboost_spark.plans.estimator import (
    SparkGBDTClassifier,
    SparkGBDTClassifierModel,
    SparkGBDTRanker,
    SparkGBDTRegressor,
    SparkGBDTRegressorModel,
)


def test_regressor_fit_transform(spark, reg_df):
    est = SparkGBDTRegressor(label_col="label", features_col=[f"c{i}" for i in range(5)],
                             num_boost_round=5, max_depth=3, seed=1)
    assert est.getOrDefault(est.max_depth) == 3
    assert est.train_params.num_boost_round == 5
    model = est.fit(reg_df)
    scored = model.transform(reg_df)
    assert "prediction" in scored.columns
    rmse = scored.agg(F.sqrt(F.avg((F.col("prediction") - F.col("label")) ** 2))).first()[0]
    base = reg_df.agg(F.stddev("label")).first()[0]
    assert rmse < base  # beats the constant predictor


def test_param_aliases_and_validation():
    est = SparkGBDTRegressor(n_estimators=7, learning_rate=0.2)
    assert est.train_params.num_boost_round == 7
    assert abs(est.train_params.eta - 0.2) < 1e-9
    with pytest.raises(ValueError):
        SparkGBDTRegressor(not_a_param=1)


def test_param_grid_copy(reg_df):
    est = SparkGBDTRegressor(label_col="label", features_col=["c0", "c1"],
                             num_boost_round=3)
    from pyspark.ml.tuning import ParamGridBuilder
    grid = (ParamGridBuilder()
            .addGrid(est.max_depth, [2, 4])
            .addGrid(est.eta, [0.1, 0.5]).build())
    assert len(grid) == 4
    depths = sorted({est.copy(g).train_params.max_depth for g in grid})
    assert depths == [2, 4]
    # copy must not disturb the original
    assert est.train_params.max_depth == 6


def test_estimator_base_margin_and_categorical(spark, reg_df):
    """Reference-wrapper parity: a configured base_margin_col applies at
    PREDICT when the scoring frame carries it; string feature columns
    train categorically through the estimator surface."""
    df = reg_df.withColumn("bm", F.lit(2.0)).withColumn(
        "grp", F.when(F.coalesce(F.col("c0"), F.lit(0.0)) > 0, "hi").otherwise("lo"))
    est = SparkGBDTRegressor(label_col="label", features_col=["grp", "c1"],
                             base_margin_col="bm",
                             num_boost_round=3, max_depth=3, max_bin=16)
    model = est.fit(df)
    assert model.core.category_maps == {"grp": ["hi", "lo"]}
    with_bm = model.transform(df.limit(100)).toPandas()["prediction"]
    without = model.core.transform(df.limit(100),
                                   feature_cols=["grp", "c1"]).toPandas()["prediction"]
    # base_margin REPLACES base_score (predictor.cc:66-72)
    shift = 2.0 - model.core.base_score
    assert np.allclose(np.sort(with_bm), np.sort(without + shift), rtol=1e-9)


@pytest.mark.slow
def test_cross_validator(spark, reg_df):
    from pyspark.ml.evaluation import RegressionEvaluator
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder
    est = SparkGBDTRegressor(label_col="label", features_col=[f"c{i}" for i in range(5)],
                             num_boost_round=3, max_depth=3, seed=1)
    grid = ParamGridBuilder().addGrid(est.eta, [0.05, 0.5]).build()
    cv = CrossValidator(estimator=est, estimatorParamMaps=grid,
                        evaluator=RegressionEvaluator(labelCol="label"),
                        numFolds=2, seed=3)
    cvm = cv.fit(reg_df)
    assert len(cvm.avgMetrics) == 2
    assert "prediction" in cvm.bestModel.transform(reg_df).columns


def test_classifier_auto_num_class_and_label(spark, reg_df):
    df = reg_df.withColumn("label", (F.abs(F.col("label")) % 3).cast("int"))
    est = SparkGBDTClassifier(label_col="label", features_col=[f"c{i}" for i in range(5)],
                              objective="multi:softprob", num_boost_round=3, max_depth=3)
    model = est.fit(df)
    assert model.core.params.num_class == 3
    scored = model.transform_with_label(df)
    labels = [r["predicted_label"] for r in scored.select("predicted_label").distinct().collect()]
    assert set(labels) <= {0, 1, 2}


def test_ranker_requires_qid(reg_df):
    with pytest.raises(ValueError):
        SparkGBDTRanker(label_col="label", features_col=["c0"]).fit(reg_df)


def test_model_save_load(spark, reg_df, tmp_path):
    est = SparkGBDTRegressor(label_col="label", features_col=[f"c{i}" for i in range(5)],
                             num_boost_round=3, max_depth=3, seed=5)
    model = est.fit(reg_df)
    p = str(tmp_path / "model.json")
    model.save(p)
    loaded = SparkGBDTRegressorModel.load(p)
    a = model.transform(reg_df).select("prediction").toPandas()["prediction"].to_numpy()
    b = loaded.transform(reg_df).select("prediction").toPandas()["prediction"].to_numpy()
    np.testing.assert_allclose(a, b, rtol=1e-12)


@pytest.mark.slow
def test_pyspark_ml_pipeline_persistence(spark, reg_df, tmp_path):
    # reference parity: _SparkXGBEstimator/_SparkXGBModel are
    # MLReadable/MLWritable so Pipeline / PipelineModel round-trip
    from pyspark.ml import Pipeline, PipelineModel
    from pyspark.ml.feature import VectorAssembler
    import numpy as np
    va = VectorAssembler(inputCols=[f"c{i}" for i in range(5)], outputCol="fvec",
                         handleInvalid="keep")
    est = SparkGBDTRegressor(features_col="fvec", label_col="label",
                             num_boost_round=3, max_depth=3)
    pipe = Pipeline(stages=[va, est])

    p_unfit = str(tmp_path / "pipe_unfit")
    pipe.write().overwrite().save(p_unfit)
    pipe2 = Pipeline.load(p_unfit)
    est2 = pipe2.getStages()[1]
    assert est2.getOrDefault(est2.num_boost_round) == 3
    assert est2.features_col == "fvec"

    pm = pipe.fit(reg_df)
    a = pm.transform(reg_df).select("prediction").toPandas()["prediction"].to_numpy()
    p_fit = str(tmp_path / "pipe_fit")
    pm.write().overwrite().save(p_fit)
    pm2 = PipelineModel.load(p_fit)
    b = pm2.transform(reg_df).select("prediction").toPandas()["prediction"].to_numpy()
    assert np.allclose(a, b)


def test_rf_wrappers(spark, reg_df):
    # reference XGBRF*: one boosting round of n_estimators bagged trees
    from xgboost_spark.plans.estimator import SparkGBDTRFRegressor, SparkGBDTRFClassifier
    fc = [f"c{i}" for i in range(5)]
    est = SparkGBDTRFRegressor(label_col="label", features_col=fc,
                               n_estimators=6, max_depth=3)
    p = est.train_params
    assert (p.num_boost_round, p.num_parallel_tree, p.eta) == (1, 6, 1.0)
    assert (p.subsample, p.colsample_bynode) == (0.8, 0.8)
    m = est.fit(reg_df)
    assert len(m.core.trees) == 1 and len(m.core.trees[0]) == 6
    pred = m.transform(reg_df).select("prediction").toPandas()["prediction"]
    assert np.isfinite(pred).all()
    # forest = average of bagged trees, so prediction correlates with label
    lab = reg_df.select("label").toPandas()["label"]
    assert np.corrcoef(pred, lab)[0, 1] > 0.5

    with pytest.raises(ValueError):
        SparkGBDTRFRegressor(num_boost_round=3)
    with pytest.raises(ValueError):
        SparkGBDTRFClassifier(learning_rate=0.3)
    c = SparkGBDTRFClassifier(n_estimators=4)
    assert c.train_params.objective == "binary:logistic"


def test_global_config_and_build_info(capsys):
    import xgboost_spark as xs
    assert xs.get_config()["verbosity"] == 1
    with xs.config_context(verbosity=0):
        assert xs.get_config()["verbosity"] == 0
        with xs.config_context(verbosity=3):
            assert xs.get_config()["verbosity"] == 3
        assert xs.get_config()["verbosity"] == 0
    assert xs.get_config()["verbosity"] == 1
    with pytest.raises(ValueError):
        xs.set_config(nonexistent_knob=1)
    info = xs.build_info()
    assert info["pyspark"] and info["version"]

    # verbosity=0 silences the EvaluationMonitor
    from xgboost_spark.functions.callbacks import EvaluationMonitor

    class _S:  # minimal TrainingState stand-in
        pass
    mon = EvaluationMonitor(period=1)
    log = {"train": {"rmse": [1.0]}}
    with xs.config_context(verbosity=0):
        mon.after_iteration(_S(), 0, log)
    assert capsys.readouterr().out == ""
    mon.after_iteration(_S(), 0, log)
    assert "train-rmse" in capsys.readouterr().out


def test_plotting_surface(spark, reg_df):
    import xgboost_spark as xs
    from xgboost_spark.plotting import importance_series, to_graphviz
    fc = [f"c{i}" for i in range(5)]
    est = SparkGBDTRegressor(label_col="label", features_col=fc,
                             num_boost_round=3, max_depth=3)
    m = est.fit(reg_df)
    items = importance_series(m, "gain")
    assert items and all(s >= 0 for _, s in items)
    assert [s for _, s in items] == sorted(s for _, s in items)
    top1 = importance_series(m, "weight", max_num_features=1)
    assert len(top1) == 1
    dot = to_graphviz(m, num_trees=0, rankdir="LR")
    src = dot if isinstance(dot, str) else dot.source
    assert "digraph" in src and 'rankdir="LR"' in src
    # matplotlib is absent from the image: a clear ImportError, not a crash
    try:
        import matplotlib  # noqa: F401
        has_mpl = True
    except ImportError:
        has_mpl = False
    if not has_mpl:
        with pytest.raises(ImportError):
            xs.plot_importance(m)


def test_pred_contrib_col(spark, reg_df):
    """pred_contrib_col (reference spark/core.py:136): when configured,
    transform also emits the feature-contribution vector (F+1 values,
    bias last) under the given name; local accuracy holds vs the
    margin."""
    from xgboost_spark.plans.estimator import SparkGBDTRegressor
    est = SparkGBDTRegressor(label_col="label",
                             features_col=[f"c{i}" for i in range(5)],
                             num_boost_round=3, max_depth=2,
                             pred_contrib_col="shap")
    model = est.fit(reg_df)
    out = model.transform(reg_df.limit(100))
    row = out.select("shap", "prediction").first()
    assert len(row["shap"]) == 6          # 5 features + bias
    assert abs(sum(row["shap"]) - row["prediction"]) < 1e-6


def test_estimator_missing_sentinel(spark, reg_df):
    """`missing` (reference spark/core.py:141): the sentinel routes as
    absent at fit and predict — a -999-coded frame trains like the
    NaN-coded original."""
    import numpy as np
    from pyspark.sql import functions as F
    from xgboost_spark.plans.estimator import SparkGBDTRegressor
    fc = [f"c{i}" for i in range(5)]
    coded = reg_df
    for c in fc:
        coded = coded.withColumn(
            c, F.when(F.isnan(F.col(c)), -999.0).otherwise(F.col(c)))
    est = SparkGBDTRegressor(label_col="label", features_col=fc,
                             num_boost_round=3, max_depth=2, seed=1,
                             missing=-999.0)
    ref = SparkGBDTRegressor(label_col="label", features_col=fc,
                             num_boost_round=3, max_depth=2, seed=1)
    a = est.fit(coded).transform(coded).agg(
        F.round(F.sum("prediction"), 4)).first()[0]
    b = ref.fit(reg_df).transform(reg_df).agg(
        F.round(F.sum("prediction"), 4)).first()[0]
    assert abs(a - b) < 1e-3


def test_estimator_repartition_surface(spark, reg_df, tmp_path):
    """Reference spark params num_workers / force_repartition /
    repartition_random_shuffle (spark/core.py:119-139, :215-246,
    _repartition_needed :806-830) and feature_names (:247): training
    runs at the requested parallelism, results are sane, validation
    errors fire, and the new ctor surface survives estimator save/load
    (including r13's pred_contrib_col/missing, which the writer
    previously dropped)."""
    fc = [f"c{i}" for i in range(5)]
    est = SparkGBDTRegressor(label_col="label", features_col=fc,
                             num_boost_round=3, max_depth=2, seed=1,
                             num_workers=4, force_repartition=True,
                             repartition_random_shuffle=True)
    m = est.fit(reg_df)
    scored = m.transform(reg_df)
    rmse = scored.agg(F.sqrt(F.avg((F.col("prediction") - F.col("label")) ** 2))).first()[0]
    assert rmse < reg_df.agg(F.stddev("label")).first()[0]
    with pytest.raises(ValueError, match="num_workers"):
        SparkGBDTRegressor(num_workers=0)
    # feature_names renames an assembled array column's features
    arr_df = reg_df.withColumn("feats", F.array(*[F.col(c) for c in fc]))
    est2 = SparkGBDTRegressor(label_col="label", features_col="feats",
                              num_boost_round=2, max_depth=2, seed=1,
                              feature_names=[f"nice_{i}" for i in range(5)])
    m2 = est2.fit(arr_df)
    assert m2.core.feature_names == [f"nice_{i}" for i in range(5)]
    with pytest.raises(ValueError, match="feature_names"):
        SparkGBDTRegressor(label_col="label", features_col="feats",
                           num_boost_round=1, max_depth=2,
                           feature_names=["a", "b"]).fit(arr_df)
    # ctor persistence round-trip
    est3 = SparkGBDTRegressor(label_col="label", features_col=fc,
                              num_boost_round=2, num_workers=3,
                              repartition_random_shuffle=True,
                              pred_contrib_col="contribs_out", missing=0.0)
    p = str(tmp_path / "est_rt")
    est3.save(p)
    loaded = SparkGBDTRegressor.load(p)
    assert loaded.num_workers == 3
    assert loaded.repartition_random_shuffle is True
    assert loaded.force_repartition is False
    assert loaded.pred_contrib_col == "contribs_out"
    assert loaded.missing == 0.0


def test_classifier_mllib_output_schema(spark, reg_df):
    """Reference classifier transform schema (spark/core.py:1475-1478
    _out_schema + :1492-1528 transform_margin + :1530-1560
    _post_transform): rawPrediction (margin vector, binary [-m, m]),
    probability (binary [1-sigmoid, sigmoid], multiclass softmax) and
    prediction (DOUBLE hard label, argmax of probs) as MLlib vectors —
    so stock Spark evaluators work in a Pipeline unchanged."""
    import math
    from pyspark.ml.evaluation import (BinaryClassificationEvaluator,
                                       MulticlassClassificationEvaluator)
    fc = [f"c{i}" for i in range(5)]
    df = reg_df.withColumn("label", (F.col("label") > 0).cast("int"))
    m = SparkGBDTClassifier(label_col="label", features_col=fc,
                            num_boost_round=4, max_depth=3, seed=1).fit(df)
    out = m.transform(df)
    sch = dict((f.name, f.dataType.simpleString()) for f in out.schema)
    assert sch["rawPrediction"] == sch["probability"] == "vector"
    assert sch["prediction"] == "double"
    r = out.first()
    raw, prob = r["rawPrediction"].toArray(), r["probability"].toArray()
    assert raw[0] == -raw[1]                    # binary [-margin, margin]
    p1 = 1.0 / (1.0 + math.exp(-raw[1]))
    assert abs(prob[1] - p1) < 1e-12 and abs(prob.sum() - 1.0) < 1e-12
    assert float(r["prediction"]) == float(np.argmax(prob))
    auc = BinaryClassificationEvaluator(labelCol="label").evaluate(out)
    assert 0.5 < auc <= 1.0
    # multiclass: probability = softmax(margins), prediction = argmax
    df3 = reg_df.withColumn("label", (F.abs(F.col("label")) % 3).cast("int"))
    m3 = SparkGBDTClassifier(label_col="label", features_col=fc,
                             objective="multi:softprob", num_class=3,
                             num_boost_round=3, max_depth=3, seed=1).fit(df3)
    o3 = m3.transform(df3)
    r3 = o3.first()
    raw3, prob3 = r3["rawPrediction"].toArray(), r3["probability"].toArray()
    e = np.exp(raw3 - raw3.max())
    assert np.allclose(prob3, e / e.sum(), atol=1e-12)
    assert float(r3["prediction"]) == float(np.argmax(prob3))
    acc = MulticlassClassificationEvaluator(
        labelCol="label", metricName="accuracy").evaluate(o3)
    assert acc > 1.0 / 3.0


def test_estimator_iteration_range_best_iteration_rule(spark, reg_df):
    """Wrapper-level iteration_range (reference sklearn.py:1450-1461
    _get_iteration_range, ridden by the pyspark wrapper through
    XGBModel.predict): None or end==0 resolves to (0, best_iteration+1)
    when set — DROPPING the begin — else to ALL rounds; unlike the raw
    Booster surface where (a, 0) is LayerToTree a-through-last."""
    fc = [f"c{i}" for i in range(5)]
    m = SparkGBDTRegressor(label_col="label", features_col=fc,
                           num_boost_round=3, max_depth=2, seed=1).fit(reg_df)

    def s(df):
        return df.agg(F.round(F.sum("prediction"), 6)).first()[0]

    full = s(m.core.transform(reg_df, feature_cols=fc))
    # no best_iteration: wrapper (1, 0) -> (0, 0) == ALL rounds, while
    # the Booster surface serves rounds [1, end)
    assert m.core.best_iteration is None
    assert s(m.transform(reg_df, iteration_range=(1, 0))) == full
    booster_tail = s(m.core.transform(reg_df, feature_cols=fc,
                                      iteration_range=(1, 0)))
    assert booster_tail != full
    # with best_iteration: wrapper (1, 0) -> (0, best+1)
    m.core.best_iteration = 1
    want = s(m.core.slice(0, 2).transform(reg_df, feature_cols=fc))
    assert s(m.transform(reg_df, iteration_range=(1, 0))) == want
    assert s(m.transform(reg_df, iteration_range=None)) == want
    # an explicit non-zero end still wins over best_iteration
    assert s(m.transform(reg_df, iteration_range=(0, 3))) == full


def test_early_stopping_requires_validation_set(spark, reg_df):
    """Reference _validate_params (spark/core.py:1016-1021): the
    estimator refuses early_stopping_rounds without a
    validation_indicator_col; the booster refuses it without evals
    (EarlyStopping 'Must have at least 1 validation dataset')."""
    from xgboost_spark.config import TrainParams
    from xgboost_spark.plans.booster import SparkBooster
    fc = [f"c{i}" for i in range(5)]
    est = SparkGBDTRegressor(label_col="label", features_col=fc,
                             num_boost_round=2, early_stopping_rounds=2)
    with pytest.raises(ValueError, match="validation_indicator_col"):
        est.fit(reg_df)
    with pytest.raises(ValueError, match="at least 1 validation"):
        SparkBooster(TrainParams(num_boost_round=2,
                                 early_stopping_rounds=2)).fit(
            reg_df, feature_cols=fc, label_col="label")


def test_qid_col_only_on_ranker(reg_df):
    """Reference estimator _validate_params overrides
    (spark/estimator.py:226-231, :410-414): regressor and classifier
    refuse qid_col; only the ranker accepts ranking groups."""
    for cls in (SparkGBDTRegressor, SparkGBDTClassifier):
        with pytest.raises(ValueError, match="does not support `qid_col`"):
            cls(label_col="label", features_col=["c0"], qid_col="q")


def test_classifier_auto_multiclass_objective(spark, reg_df):
    """Reference classifier behavior (spark/estimator.py:417-419 forbids
    objective; the wrapped sklearn classifier infers from label
    cardinality): labels beyond {0,1} auto-select multi:softprob with
    the inferred num_class; an EXPLICIT objective stays honored (engine
    superset)."""
    fc = [f"c{i}" for i in range(5)]
    df3 = reg_df.withColumn("label", (F.abs(F.col("label")) % 3).cast("int"))
    m = SparkGBDTClassifier(label_col="label", features_col=fc,
                            num_boost_round=2, max_depth=2).fit(df3)
    assert m.core.params.objective == "multi:softprob"
    assert m.core.params.num_class == 3
    probs = m.transform(df3).select("probability").first()[0]
    assert len(probs) == 3
    dfb = reg_df.withColumn("label", (F.col("label") > 0).cast("int"))
    mb = SparkGBDTClassifier(label_col="label", features_col=fc,
                             num_boost_round=2, max_depth=2).fit(dfb)
    assert mb.core.params.objective == "binary:logistic"


def test_apply_and_evals_result(spark, reg_df):
    """Reference sklearn-wrapper apply() (leaf per tree, best_iteration
    rule like predict, sklearn.py:1540-1575) and evals_result()
    (sklearn.py:1577-1600)."""
    fc = [f"c{i}" for i in range(5)]
    df = reg_df.withColumn("is_val", F.col("c0") > 0.5)
    est = SparkGBDTRegressor(label_col="label", features_col=fc,
                             num_boost_round=3, max_depth=2, seed=1,
                             validation_indicator_col="is_val")
    m = est.fit(df)
    leaves = m.apply(df).select("leaf").first()["leaf"]
    assert len(leaves) == 3                  # one leaf id per tree
    m.core.best_iteration = 0
    assert len(m.apply(df).select("leaf").first()["leaf"]) == 1
    hist = m.evals_result()
    assert "validation" in hist and len(hist["validation"]["rmse"]) == 3


REFERENCE_SPARK_CORE = "/root/reference/python-package/xgboost/spark/core.py"
REFERENCE_PARAMS_FIXTURE = os.path.join(
    os.path.dirname(__file__), "fixtures", "reference_spark_params.json")
_REF_PARAM_LISTS = ("_pyspark_specific_params", "_non_booster_params")


def _reference_param_lists() -> dict:
    """The reference's two estimator param-name lists: parsed from a
    reference checkout when one is present, else the frozen fixture."""
    import ast
    import json
    if not os.path.exists(REFERENCE_SPARK_CORE):
        with open(REFERENCE_PARAMS_FIXTURE) as fh:
            fix = json.load(fh)
        return {k: fix[k] for k in _REF_PARAM_LISTS}
    tree = ast.parse(open(REFERENCE_SPARK_CORE).read())
    ref_lists = {}
    for node in ast.walk(tree):
        if (isinstance(node, ast.Assign)
                and isinstance(node.targets[0], ast.Name)
                and node.targets[0].id in _REF_PARAM_LISTS):
            ref_lists[node.targets[0].id] = [
                ast.literal_eval(e) for e in node.value.elts]
    return ref_lists


def test_estimator_param_parity_matrix():
    """Anti-rot guard for COVERAGE.md §2.7b: every name in the
    reference's `_pyspark_specific_params` + `_non_booster_params`
    lists (spark/core.py:119-142) must be either ADOPTED (an engine
    estimator ctor argument, under the engine's snake_case naming) or
    on the explicit documented non-goals list — a new reference param
    showing up in a future reference drop fails here instead of
    silently missing from the table.  Without a reference checkout the
    lists come from tests/fixtures/reference_spark_params.json."""
    import inspect
    ref_lists = _reference_param_lists()
    assert set(ref_lists) == set(_REF_PARAM_LISTS)
    ref_params = set(ref_lists["_pyspark_specific_params"]) \
        | set(ref_lists["_non_booster_params"])

    from xgboost_spark.plans.estimator import _GBDTEstimator
    ctor = set(inspect.signature(_GBDTEstimator.__init__).parameters)
    # engine snake_case name for each reference param
    adopted_map = {
        "featuresCol": "features_col", "labelCol": "label_col",
        "weightCol": "weight_col", "base_margin_col": "base_margin_col",
        "validationIndicatorCol": "validation_indicator_col",
        "qid_col": "qid_col", "num_workers": "num_workers",
        "force_repartition": "force_repartition",
        "repartition_random_shuffle": "repartition_random_shuffle",
        "feature_names": "feature_names",
        "pred_contrib_col": "pred_contrib_col",
        "missing": "missing",
        # features_cols (list form) rides the same features_col arg
        "features_cols": "features_col",
    }
    # documented non-goals / pass-through surfaces (COVERAGE.md §2.7b)
    non_goals = {
        "enable_sparse_data_optim",      # engine kernels are Arrow-dense
        "launch_tracker_on_driver",      # no tracker: barrier rendezvous
        "coll_cfg",                      # same
        "arbitrary_params_dict",         # the **params pass-through
        "n_estimators",                  # TrainParams alias -> num_boost_round
        "feature_types",                 # derived from categorical_features
        "feature_weights",               # TrainParams pass-through (colsample)
        # fixed Spark-ML output names on the classifier model
        "rawPredictionCol", "predictionCol", "probabilityCol",
    }
    unaccounted = ref_params - set(adopted_map) - non_goals
    assert not unaccounted, f"new reference params to triage: {unaccounted}"
    missing_ctor = {r: e for r, e in adopted_map.items() if e not in ctor}
    assert not missing_ctor, missing_ctor
    from xgboost_spark.config import TrainParams
    assert TrainParams.ALIASES.get("n_estimators") == "num_boost_round"


@pytest.mark.slow
def test_round14_review_fixes(spark, reg_df):
    """Regression pins for the round-14 self-review findings:
    (1) update() works on a model fit with early stopping (loop
    controls are stripped for the single raw iteration);
    (2) feature_names with multi-column input raises instead of
    breaking the fitted model's own transform;
    (3) transform(iteration_range=...) keeps the classifier's
    documented rawPrediction/probability/prediction schema;
    (4) the auto-inferred multiclass objective does not leak into a
    later fit of the same estimator;
    (5) early stopping with a provably empty metric set raises."""
    import numpy as np
    from xgboost_spark.config import TrainParams
    from xgboost_spark.plans.booster import SparkBooster
    fc = [f"c{i}" for i in range(5)]

    # (1) update after early-stopped fit
    m = SparkBooster(TrainParams(num_boost_round=6, max_depth=2, eta=0.9,
                                 early_stopping_rounds=2, seed=1)).fit(
        reg_df, feature_cols=fc, label_col="label",
        evals=[(reg_df, "train")])
    n0 = sum(len(r) for r in m.trees)
    m.update(reg_df, n0)
    assert sum(len(r) for r in m.trees) == n0 + 1

    # (2) feature_names scope
    with pytest.raises(ValueError, match="array/vector features_col"):
        SparkGBDTRegressor(label_col="label", features_col=fc,
                           num_boost_round=1, max_depth=2,
                           feature_names=[f"n{i}" for i in range(5)]
                           ).fit(reg_df)

    # (3) classifier schema survives iteration_range
    dfb = reg_df.withColumn("label", (F.col("label") > 0).cast("int"))
    clf = SparkGBDTClassifier(label_col="label", features_col=fc,
                              num_boost_round=3, max_depth=2).fit(dfb)
    out = clf.transform(dfb, iteration_range=(0, 2))
    assert {"rawPrediction", "probability", "prediction"} <= set(out.columns)
    two = clf.core.slice(0, 2)
    import math
    r = out.first()
    assert r["probability"].toArray().sum() == pytest.approx(1.0)

    # (4) no auto-objective leak across fits
    est = SparkGBDTClassifier(label_col="label", features_col=fc,
                              num_boost_round=2, max_depth=2)
    df3 = reg_df.withColumn("label", (F.abs(F.col("label")) % 3).cast("int"))
    assert est.fit(df3).core.params.objective == "multi:softprob"
    assert est.fit(dfb).core.params.objective == "binary:logistic"

    # (5) empty metric set + early stopping
    with pytest.raises(ValueError, match="at least one metric"):
        SparkBooster(TrainParams(num_boost_round=3, max_depth=2,
                                 early_stopping_rounds=2,
                                 disable_default_eval_metric=True)).fit(
            reg_df, feature_cols=fc, label_col="label",
            evals=[(reg_df, "train")])
