"""GBMRegressor — Friedman gradient-boosting machine over any Spark ML regressor.

Semantic parity with
``/root/reference/core/src/main/scala/org/apache/spark/ml/regression/GBMRegressor.scala:164-539``:

* init model: ``constant`` (Dummy mean/median/quantile(α) per loss), ``zero``,
  or ``base`` (fit the base learner on raw labels);
* per iteration: optional huber δ re-estimation (α-quantile of |residual|),
  SubBag draw, gradient or Newton (hessian-scaled label + hessian weight,
  floored at 1e-2) pseudo-residuals, base fit, optional Brent line-search of
  the step size in [0, 100], shrinkage by ``learningRate``, running-prediction
  update;
* early stopping on a validation split with tolerance ``validationTol`` and
  patience ``numRounds``; the final model keeps ``i − v`` members.

The round itself is the GBM family's shared
:class:`~spark_ensemble_spark.boosting.gbm_params.GBMEstimator` loop; this
module holds the init model, the per-round huber δ and the step search, which
evaluates a whole grid of step sizes in ONE whole-stage-codegen'd aggregate per
pass (the reference pays an ``RDDLossFunction`` pass per evaluation).
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_ensemble_spark.boosting.gbm_params import GBMEstimator, GBMParams, raw_columns
from spark_ensemble_spark.boosting.losses import GBMLoss, regression_loss
from spark_ensemble_spark.core.base import (
    EnsembleRegressionModel,
    HasMembers,
    PredictorParams,
    score_base_models,
)
from spark_ensemble_spark.core.optim import minimize_scalar_batched
from spark_ensemble_spark.core.params import one_of
from spark_ensemble_spark.core.utils import fit_base_learner

_RAW = raw_columns(1)[0]

_LOSSES = ("squared", "absolute", "huber", "quantile", "logcosh", "scaledlogcosh")
_INIT = ("constant", "zero", "base")


class _GBMRegressorParams(PredictorParams, GBMParams):
    _init_strategies = _INIT

    loss: Param = Param(
        Params._dummy(),
        "loss",
        f"GBM loss, one of {_LOSSES}",
        typeConverter=TypeConverters.toString,
    )

    def __init__(self) -> None:
        super().__init__()
        self._setDefault(loss="squared", initStrategy="constant", alpha=0.9)

    def getLoss(self) -> str:
        return one_of(self, self.loss, _LOSSES)


class GBMRegressor(GBMEstimator, _GBMRegressorParams):
    def _fit_init_model(self, train: DataFrame, loss_name: str):
        """Init strategies (``GBMRegressor.scala:287-303``)."""
        from spark_ensemble_spark.regression.dummy import DummyRegressor

        strategy = self.getInitStrategy()
        if strategy == "base":
            return fit_base_learner(
                self.getBaseLearner(), train, "label", "features", "__init_pred",
                weight_col="weight",
            )
        if strategy == "zero":
            dummy = DummyRegressor(strategy="constant", constant=0.0)
        else:
            if loss_name == "squared":
                dummy = DummyRegressor(strategy="mean")
            elif loss_name in ("absolute", "huber", "logcosh", "scaledlogcosh"):
                # logcosh behaves like a smoothed absolute loss; its sum is
                # minimized near the median, the same robust init the
                # absolute/huber branch uses
                dummy = DummyRegressor(strategy="median")
            else:
                dummy = DummyRegressor(strategy="quantile", quantile=self.getAlpha())
        return fit_base_learner(
            dummy, train, "label", "features", "__init_pred", weight_col="weight"
        )

    def _fit_model(self, df: DataFrame) -> "GBMRegressionModel":
        train, val_rows = self._split_instances(df)
        # δ for huber starts as the α-quantile of the label (reference :305-308)
        delta = None
        if self.getLoss() == "huber":
            delta = self._quantile(train, F.col("label"))
        init = self._fit_init_model(train, self.getLoss())

        def start(instances: DataFrame) -> DataFrame:
            return init.transform(
                instances, {init.getParam("predictionCol"): _RAW}
            ).select("label", "weight", "features", _RAW)

        gl = regression_loss(self.getLoss(), self.getAlpha(), quantile_delta=delta)
        models, subspaces, weights, num_features = self._boost(train, val_rows, start, gl)
        return GBMRegressionModel(
            weights=[ws[0] for ws in weights],
            subspaces=subspaces,
            models=[ms[0] for ms in models],
            init_model=init,
            num_features=num_features,
        )

    def _quantile(self, frame: DataFrame, value: Column) -> float:
        return frame.select(value.alias("__q")).stat.approxQuantile(
            "__q", [self.getAlpha()], self.getOrDefault(self.tol)
        )[0]

    def _round_loss(self, gl: GBMLoss, state: DataFrame) -> GBMLoss:
        """Huber re-estimates δ each round as the α-quantile of |residual|."""
        if self.getLoss() != "huber":
            return gl
        delta = self._quantile(state, F.abs(F.col("label") - F.col(_RAW)))
        return regression_loss("huber", self.getAlpha(), quantile_delta=delta)

    def _step_search(self, gl: GBMLoss, bag: DataFrame, dirs: List[str]) -> List[float]:
        """Brent's line search of the step in [0, 100] as batched grid
        refinement: ONE selectExpr evaluates every candidate of a grid."""
        return [
            minimize_scalar_batched(
                lambda xs: self._step_sums(gl, bag, dirs, [[x] for x in xs])[0], 0.0, 100.0
            )
        ]


class GBMRegressionModel(HasMembers, EnsembleRegressionModel, _GBMRegressorParams):
    _data_fields = ("weights", "subspaces", "numFeatures")
    _sub_instances = (("init", "init"),)

    def __init__(
        self,
        weights: Optional[Sequence[float]] = None,
        subspaces: Optional[Sequence[Sequence[int]]] = None,
        models: Optional[Sequence] = None,
        init_model=None,
        num_features: int = 0,
    ) -> None:
        super().__init__()
        self.weights = [float(w) for w in (weights or [])]
        self.subspaces = [list(s) for s in (subspaces or [])]
        self.models = list(models or [])
        self.init = init_model
        self.numFeatures = int(num_features)

    def _prediction_setup(self, df: DataFrame):
        init_col = "__gbm_init"
        overrides = {self.init.getParam("predictionCol"): init_col}
        if self.init.hasParam("featuresCol"):
            overrides[self.init.getParam("featuresCol")] = self.getFeaturesCol()
        df = self.init.transform(df, overrides)
        tmp = [init_col]
        df, outs, tmp2 = score_base_models(
            df,
            self.getFeaturesCol(),
            self.models,
            self.subspaces,
            self.numFeatures,
            prefix="__gbm_",
        )
        pred = F.col(init_col)
        for o, w in zip(outs, self.weights):
            pred = pred + F.lit(w) * F.col(o["prediction"])
        return df, pred, tmp + tmp2
