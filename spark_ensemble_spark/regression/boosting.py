"""BoostingRegressor — AdaBoost.R2 (Drucker 1997).

Semantic parity with
``/root/reference/core/src/main/scala/org/apache/spark/ml/regression/BoostingRegressor.scala:138-357``:
sequential reweighting by relative absolute error with loss ∈ {exponential,
linear, squared}; stops early when max error is 0 (perfect fit) or estimator
error >= 0.5 (the offending model is still kept, as the reference does);
prediction = weighted median (default) or weighted mean of base predictions.

The reweighting loop (the ``__bw`` weight column, its per-round
normalisation, caching and instrumentation) is the AdaBoost family's shared
:class:`~spark_ensemble_spark.core.families.BoostingEstimator`; this twin
supplies the R2 round: relative absolute error, loss, ``β`` and the next
weights.
"""

from __future__ import annotations

import math
from typing import Optional, Sequence

from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_ensemble_spark.core.base import (
    EnsembleRegressionModel,
    HasMembers,
    PredictorParams,
    score_base_models,
)
from spark_ensemble_spark.core.families import BoostingEstimator, RoundResult
from spark_ensemble_spark.core.params import BoostingParams, HasVotingStrategy, one_of
from spark_ensemble_spark.core.utils import weighted_mean, weighted_median

_LOSS_TYPES = ("exponential", "linear", "squared")


def _loss_expr(loss_type: str, error):
    """Loss of the normalized error (``BoostingRegressorParams.loss``,
    ``BoostingRegressor.scala:97-106``)."""
    if loss_type == "exponential":
        return 1 - F.exp(-error)
    if loss_type == "linear":
        return error
    if loss_type == "squared":
        return error * error
    raise ValueError(f"bad loss type {loss_type}")


class _BoostingRegressorParams(PredictorParams, BoostingParams, HasVotingStrategy):
    lossType: Param = Param(
        Params._dummy(),
        "lossType",
        f"boosting loss applied to the normalized error, one of {_LOSS_TYPES}",
        typeConverter=TypeConverters.toString,
    )
    _voting_strategies = ("median", "mean")

    def __init__(self) -> None:
        super().__init__()
        self._setDefault(
            lossType="exponential",
            votingStrategy="median",
            checkpointInterval=10,
            seed=17,
        )

    def getLossType(self) -> str:
        return one_of(self, self.lossType, _LOSS_TYPES)


class BoostingRegressor(BoostingEstimator, _BoostingRegressorParams):
    def _fit_model(self, df: DataFrame) -> "BoostingRegressionModel":
        loss_type = self.getLossType()

        def r2_round(model, state: DataFrame, cache) -> RoundResult:
            scored = model.transform(
                state, {model.getParam("predictionCol"): "__pred"}
            ).withColumn("__err", F.abs(F.col("label") - F.col("__pred")))
            scored = cache.update(scored)

            max_error = scored.agg(F.max("__err")).first()[0]
            if max_error == 0:
                # Perfect fit: loss(0) = 0 → estimatorError 0 → beta 0 →
                # weight 1.0, then stop (reference :236-239,253-254).
                return 0.0, 1.0, None, "perfect fit"

            scored = scored.withColumn(
                "__loss", _loss_expr(loss_type, F.col("__err") / F.lit(max_error))
            )
            estimator_error = (
                scored.agg(F.sum(F.col("__wnorm") * F.col("__loss"))).first()[0] or 0.0
            )
            beta = (
                estimator_error / (1 - estimator_error)
                if estimator_error < 1.0
                else 1e18  # degenerate: all-wrong round; weight → large negative
            )
            estimator_weight = 1.0 if beta == 0.0 else math.log(1.0 / beta)
            if estimator_error >= 0.5:
                # Keep the model (matching the reference's net behavior at
                # :251-269) but stop boosting.
                return estimator_error, estimator_weight, None, "estimator_error >= 0.5"
            next_state = scored.withColumn(
                "__bw", F.col("__wnorm") * F.pow(F.lit(beta), 1 - F.col("__loss"))
            ).select("label", "weight", "features", "__bw")
            return estimator_error, estimator_weight, next_state, None

        models, weights, num_features = self._reweight(df, r2_round)
        return BoostingRegressionModel(
            weights=weights, models=models, num_features=num_features
        )


class BoostingRegressionModel(HasMembers, EnsembleRegressionModel, _BoostingRegressorParams):
    _data_fields = ("weights", "numFeatures")

    def __init__(
        self,
        weights: Optional[Sequence[float]] = None,
        models: Optional[Sequence] = None,
        num_features: int = 0,
    ) -> None:
        super().__init__()
        self.weights = [float(w) for w in (weights or [])]
        self.models = list(models or [])
        self.numFeatures = int(num_features)

    def _prediction_setup(self, df: DataFrame):
        df, outs, tmp = score_base_models(
            df,
            self.getFeaturesCol(),
            self.models,
            None,
            self.numFeatures,
            prefix="__boost_",
        )
        pred_cols = [o["prediction"] for o in outs]
        if self.getVotingStrategy() == "median":
            pred = weighted_median(pred_cols, self.weights)
        else:
            pred = weighted_mean(pred_cols, self.weights)
        return df, pred, tmp
