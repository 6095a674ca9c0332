"""GBM parity tests, modeled on the reference suites
(``GBMRegressorSuite.scala``, ``GBMClassifierSuite.scala``, ``GBMLossSuite.scala``):
loss-gradient finite-difference checks, prefix improvement, early stopping,
all losses trainable, save/load round-trips.
"""

import random

import numpy as np
import pytest
from pyspark.ml.evaluation import (
    MulticlassClassificationEvaluator,
    RegressionEvaluator,
)
from pyspark.ml.regression import DecisionTreeRegressor
from pyspark.sql import functions as F

from spark_ensemble_spark.boosting.losses import (
    AbsoluteLoss,
    BernoulliLoss,
    ExponentialLoss,
    HuberLoss,
    LogCoshLoss,
    LogLoss,
    QuantileLoss,
    ScaledLogCoshLoss,
    SquaredLoss,
)
from spark_ensemble_spark.classification.gbm import GBMClassificationModel, GBMClassifier
from spark_ensemble_spark.core.instances import extract_instances
from spark_ensemble_spark.core.optim import minimize_scalar_batched
from spark_ensemble_spark.core.subbag import sample_bag
from spark_ensemble_spark.regression.gbm import GBMRegressionModel, GBMRegressor
from spark_ensemble_spark.sources.datasets import multiclass_dataset, regression_dataset


# ---- gradient checking (reference GBMLossSuite.scala:84-125) ---------------


def _finite_difference_frame(spark, loss, rows, eps):
    """One selectExpr of the loss's own expressions, the ones a fit runs,
    over ``rows`` of (label, p0, …): per dim j, the loss at p ± eps·e_j, the
    gradient and, with a hessian, gradient j at p ± eps·e_j and hessian j."""
    cols = [f"p{j}" for j in range(loss.dim)]
    y = loss.encode_label("label")
    hessians = loss.hessian(y, cols)

    def moved(j, sign):
        step = f"{sign} CAST('{eps!r}' AS DOUBLE)"
        return [f"{c} {step}" if k == j else c for k, c in enumerate(cols)]

    exprs = [f"({g}) AS g{j}" for j, g in enumerate(loss.gradient(y, cols))]
    for j in range(loss.dim):
        steps = (("+", "p"), ("-", "m"))
        exprs += [f"({loss.loss(y, moved(j, s))}) AS l{n}{j}" for s, n in steps]
        if hessians is not None:
            exprs += [f"({loss.gradient(y, moved(j, s))[j]}) AS g{n}{j}" for s, n in steps]
            exprs.append(f"({hessians[j]}) AS h{j}")
    return spark.createDataFrame(rows, ["label", *cols]).selectExpr(*exprs)


@pytest.mark.parametrize(
    "loss",
    [
        SquaredLoss(),
        AbsoluteLoss(),
        LogCoshLoss(),
        ScaledLogCoshLoss(0.7),
        HuberLoss(0.8),
        QuantileLoss(0.3),
        ExponentialLoss(),
        BernoulliLoss(),
        LogLoss(3),
    ],
    ids=lambda l: type(l).__name__,
)
def test_gradient_finite_difference(spark, loss):
    """The central difference of each loss, evaluated by Spark, matches its
    gradient, and that of the gradient its hessian (per dim for logloss)."""
    rng = random.Random(42)
    eps = 1e-6
    rows = []
    for _ in range(500):
        y = rng.gauss(0, 1)
        ps = [rng.gauss(0, 1) for _ in range(loss.dim)]
        p = ps[0]
        # skip non-differentiable kinks
        if isinstance(loss, (AbsoluteLoss, QuantileLoss)) and abs(y - p) < 1e-4:
            continue
        if isinstance(loss, HuberLoss) and abs(abs(y - p) - loss.delta) < 1e-4:
            continue
        if isinstance(loss, ScaledLogCoshLoss) and abs(y - p) < 1e-4:
            continue
        if isinstance(loss, (ExponentialLoss, BernoulliLoss)):
            y = 1.0 if y > 0 else 0.0  # encoded to the margin label ±1
        elif isinstance(loss, LogLoss):
            y = float(sum(y > t for t in (-0.43, 0.43)))  # 3 classes of ~1/3 each
        rows.append((y, *ps))
    checked = 0
    for row in _finite_difference_frame(spark, loss, rows, eps).collect():
        r = row.asDict()
        for j in range(loss.dim):
            num = (r[f"lp{j}"] - r[f"lm{j}"]) / (2 * eps)
            assert num == pytest.approx(r[f"g{j}"], abs=1e-4), f"{r} dim {j}"
            if f"h{j}" in r:
                numh = (r[f"gp{j}"] - r[f"gm{j}"]) / (2 * eps)
                assert numh == pytest.approx(r[f"h{j}"], abs=1e-4), f"{r} dim {j}"
        checked += 1
    assert checked > 400


# ---- estimator behavior ----------------------------------------------------


@pytest.fixture(scope="module")
def reg_splits(spark, sf_dir):
    train, test = regression_dataset(spark, sf_dir).randomSplit([0.7, 0.3], seed=0)
    return train.cache(), test.cache()


@pytest.fixture(scope="module")
def clf_splits(spark, sf_dir):
    train, test = multiclass_dataset(spark, sf_dir).randomSplit([0.7, 0.3], seed=0)
    return train.cache(), test.cache()


def test_gbm_regressor_prefix_improvement(reg_splits):
    """Truncated-prefix models improve train rmse monotonically for squared
    loss at small learning rate (reference GBMRegressorSuite.scala:126-164)."""
    train, _ = reg_splits
    model = GBMRegressor(
        baseLearner=DecisionTreeRegressor(maxDepth=5),
        numBaseLearners=4,
        learningRate=0.5,
        optimizedWeights=True,
    ).fit(train)
    ev = RegressionEvaluator(metricName="rmse")
    rmses = []
    for k in range(1, model.numModels + 1):
        prefix = GBMRegressionModel(
            model.weights[:k],
            model.subspaces[:k],
            model.models[:k],
            model.init,
            model.numFeatures,
        )
        rmses.append(ev.evaluate(prefix.transform(train)))
    improving = sum(1 for a, b in zip(rmses, rmses[1:]) if b <= a + 1e-9)
    assert improving == len(rmses) - 1, rmses


def test_gbm_regressor_beats_single_tree(reg_splits):
    train, test = reg_splits
    base = DecisionTreeRegressor(maxDepth=5)
    model = GBMRegressor(
        baseLearner=base, numBaseLearners=8, learningRate=0.3
    ).fit(train)
    ev = RegressionEvaluator(metricName="rmse")
    gbm_rmse = ev.evaluate(model.transform(test))
    single_rmse = ev.evaluate(base.fit(train).transform(test))
    assert gbm_rmse < single_rmse * 1.02


@pytest.mark.parametrize(
    "loss", ["squared", "absolute", "huber", "quantile", "logcosh", "scaledlogcosh"]
)
@pytest.mark.parametrize("updates", ["gradient", "newton"])
def test_gbm_regressor_losses_train(reg_splits, loss, updates):
    train, test = reg_splits
    model = GBMRegressor(
        baseLearner=DecisionTreeRegressor(maxDepth=3),
        numBaseLearners=2,
        loss=loss,
        updates=updates,
        optimizedWeights=False,
        learningRate=0.5,
    ).fit(train)
    assert model.numModels == 2
    assert model.transform(test).select("prediction").first()[0] is not None


def test_gbm_early_stopping(reg_splits):
    train, _ = reg_splits
    with_val = train.withColumn("val", F.rand(seed=5) > 0.8)
    model = GBMRegressor(
        baseLearner=DecisionTreeRegressor(maxDepth=2),
        numBaseLearners=15,
        learningRate=1.0,
        validationIndicatorCol="val",
        validationTol=0.05,
        numRounds=1,
        optimizedWeights=False,
    ).fit(with_val)
    # depth-2 trees stall quickly; early stopping must truncate
    assert model.numModels < 15


def test_gbm_classifier_multiclass(clf_splits):
    train, test = clf_splits
    model = GBMClassifier(
        baseLearner=DecisionTreeRegressor(maxDepth=5),
        numBaseLearners=3,
        loss="logloss",
        parallelism=3,
        learningRate=0.5,
    ).fit(train)
    out = model.transform(test)
    ev = MulticlassClassificationEvaluator(metricName="accuracy")
    acc = ev.evaluate(out)
    assert acc > 0.45
    row = out.select("probability", "rawPrediction").first()
    assert sum(row.probability) == pytest.approx(1.0, abs=1e-9)
    assert len(row.rawPrediction) == model.numClasses


@pytest.mark.parametrize("loss", ["exponential", "bernoulli"])
def test_gbm_classifier_binary(clf_splits, loss, spark, sf_dir):
    binary = multiclass_dataset(spark, sf_dir).withColumn(
        "label", (F.col("label") >= 1).cast("double")
    )
    train, test = binary.randomSplit([0.7, 0.3], seed=0)
    model = GBMClassifier(
        baseLearner=DecisionTreeRegressor(maxDepth=5),
        numBaseLearners=3,
        loss=loss,
        updates="newton",
    ).fit(train)
    assert model.dim == 1
    out = model.transform(test)
    ev = MulticlassClassificationEvaluator(metricName="accuracy")
    assert ev.evaluate(out) > 0.6
    row = out.select("probability").first()
    assert sum(row.probability) == pytest.approx(1.0, abs=1e-9)


def test_gbm_regressor_save_load(reg_splits, tmp_path):
    train, test = reg_splits
    model = GBMRegressor(
        baseLearner=DecisionTreeRegressor(maxDepth=3),
        numBaseLearners=2,
        optimizedWeights=False,
    ).fit(train)
    p = str(tmp_path / "gbm_reg")
    model.save(p)
    loaded = GBMRegressionModel.load(p)
    assert loaded.weights == model.weights
    assert loaded.subspaces == model.subspaces
    assert (
        model.transform(test).select("prediction").collect()
        == loaded.transform(test).select("prediction").collect()
    )


def test_gbm_classifier_save_load(clf_splits, tmp_path):
    train, test = clf_splits
    model = GBMClassifier(
        baseLearner=DecisionTreeRegressor(maxDepth=3),
        numBaseLearners=2,
        loss="logloss",
        optimizedWeights=False,
    ).fit(train)
    p = str(tmp_path / "gbm_clf")
    model.save(p)
    loaded = GBMClassificationModel.load(p)
    assert loaded.weights == model.weights
    assert loaded.dim == model.dim
    assert loaded.initRaw == model.initRaw
    assert (
        model.transform(test).select("prediction").collect()
        == loaded.transform(test).select("prediction").collect()
    )


def test_gbm_classifier_early_stopping(clf_splits):
    train, _ = clf_splits
    with_val = train.withColumn("val", F.rand(seed=5) > 0.8)
    model = GBMClassifier(
        baseLearner=DecisionTreeRegressor(maxDepth=2),
        numBaseLearners=8,
        loss="logloss",
        learningRate=1.0,
        validationIndicatorCol="val",
        validationTol=0.05,
        numRounds=1,
        optimizedWeights=False,
        parallelism=3,
    ).fit(with_val)
    # depth-2 stumps stall fast on this task; validation must truncate
    assert model.numModels < 8
    assert len(model.weights) == model.numModels


# ---- round structure: the step search and failure cleanup ------------------


def test_gbm_regressor_step_search_reads_members_bag(reg_splits):
    """The step size is the line search over exactly the rows the member was
    fit on: the round's seeded bag, re-drawn from the scored state."""
    train, _ = reg_splits
    est = GBMRegressor(
        baseLearner=DecisionTreeRegressor(maxDepth=3),
        numBaseLearners=1,
        learningRate=0.7,
        subsampleRatio=0.6,
        optimizedWeights=True,
        seed=11,
    )
    model = est.fit(train)
    member = model.models[0]
    g_col, d_col = model.init.getPredictionCol(), member.getPredictionCol()

    def step_over(rows):
        """numpy re-run of the squared-loss step search over ``rows``."""
        scored = member.transform(model.init.transform(rows))
        pdf = scored.select("label", "weight", g_col, d_col).toPandas()
        y, w, g, d = (pdf[c].to_numpy() for c in ("label", "weight", g_col, d_col))
        return minimize_scalar_batched(
            lambda xs: [
                float(np.sum(w * (y - (g + x * d)) ** 2 / 2.0) / np.sum(w)) for x in xs
            ],
            0.0,
            100.0,
        )

    state = extract_instances(train, "label", "features")
    step = step_over(sample_bag(state, est.getReplacement(), 0.6, est.getSeed()))
    assert model.weights[0] == pytest.approx(0.7 * step, rel=1e-9)
    # the pin discriminates: the same search over every row lands elsewhere
    assert step_over(state) != step


@pytest.mark.parametrize("kind", ["regressor", "classifier"])
def test_gbm_round_caches_one_frame(monkeypatch, reg_splits, clf_splits, kind):
    """A gradient-mode round caches one frame, its members' scores over the
    training state, which the step search and the next state both read: a
    2-round fit persists the start state and one frame per round."""
    tree = DecisionTreeRegressor(maxDepth=2)
    if kind == "regressor":
        train, est = reg_splits[0], GBMRegressor(baseLearner=tree, numBaseLearners=2)
    else:
        train, est = clf_splits[0], GBMClassifier(baseLearner=tree, numBaseLearners=2)
    assert est.getUpdates() == "gradient" and est.getOptimizedWeights()
    persisted = []
    frame_cls = type(train)  # the session's DataFrame implementation
    real = frame_cls.persist

    def counting(self, *args, **kwargs):
        persisted.append(None)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "persist", counting)
    assert est.fit(train).numModels == 2
    assert len(persisted) == 3


class _FailsOnSecondFit(DecisionTreeRegressor):
    """Tree learner whose second fit raises; ``Params.copy`` is shallow, so
    every per-member copy shares the ``_calls`` list."""

    def _fit(self, dataset):
        self._calls.append(None)
        if len(self._calls) == 2:
            raise RuntimeError("base learner failed")
        return super()._fit(dataset)


def _cached_entries(spark):
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


@pytest.mark.parametrize("kind", ["regressor", "classifier"])
def test_gbm_raising_round_releases_its_caches(spark, reg_splits, kind):
    """A base learner raising mid-fit leaves no frame of the fit cached."""
    train, _ = reg_splits
    tree = _FailsOnSecondFit(maxDepth=2)
    tree._calls = []
    if kind == "regressor":
        est = GBMRegressor(baseLearner=tree, numBaseLearners=3, updates="newton")
    else:
        train = train.withColumn("label", (F.col("label") > 50000).cast("double"))
        est = GBMClassifier(
            baseLearner=tree, numBaseLearners=3, loss="bernoulli", updates="newton"
        )
    before = _cached_entries(spark)
    with pytest.raises(Exception, match="base learner failed"):
        est.fit(train)
    assert _cached_entries(spark) <= before
