"""DummyRegressor — constant-prediction baseline.

Semantic parity with
``/root/reference/core/src/main/scala/org/apache/spark/ml/regression/DummyRegressor.scala:88-172``:
strategy ∈ {mean, median, quantile, constant}; mean via a global aggregate,
median/quantile via Greenwald-Khanna ``approxQuantile`` with relative error
``tol`` (exact at tol=0, as the reference tests use —
``DummyRegressorSuite.scala:96``).
"""

from __future__ import annotations

from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_ensemble_spark.core.base import (
    EnsembleEstimator,
    EnsembleRegressionModel,
    PredictorParams,
)
from spark_ensemble_spark.core.params import one_of

_STRATEGIES = ("mean", "median", "quantile", "constant")


class _DummyRegressorParams(PredictorParams):
    strategy: Param = Param(
        Params._dummy(),
        "strategy",
        f"constant-prediction strategy, one of {_STRATEGIES}",
        typeConverter=TypeConverters.toString,
    )
    constant: Param = Param(
        Params._dummy(),
        "constant",
        "constant used by strategy=constant",
        typeConverter=TypeConverters.toFloat,
    )
    quantile: Param = Param(
        Params._dummy(),
        "quantile",
        "quantile in [0,1] used by strategy=quantile",
        typeConverter=TypeConverters.toFloat,
    )
    tol: Param = Param(
        Params._dummy(),
        "tol",
        "relative error for approximate quantiles (0 = exact)",
        typeConverter=TypeConverters.toFloat,
    )

    def __init__(self) -> None:
        super().__init__()
        self._setDefault(strategy="mean", constant=0.0, quantile=0.5, tol=1e-2)

    def getStrategy(self) -> str:
        return one_of(self, self.strategy, _STRATEGIES)

    def getConstant(self) -> float:
        return self.getOrDefault(self.constant)

    def getQuantile(self) -> float:
        return self.getOrDefault(self.quantile)

    def getTol(self) -> float:
        return self.getOrDefault(self.tol)


class DummyRegressor(EnsembleEstimator, _DummyRegressorParams):
    def _fit_model(self, df: DataFrame) -> "DummyRegressionModel":
        label = F.col(self.getLabelCol()).cast("double")
        strategy = self.getStrategy()
        if strategy == "mean":
            prediction = df.select(F.mean(label)).first()[0]
        elif strategy in ("median", "quantile"):
            q = 0.5 if strategy == "median" else self.getQuantile()
            prediction = df.select(label.alias("__l")).stat.approxQuantile(
                "__l", [q], self.getTol()
            )[0]
        else:
            prediction = self.getConstant()
        return DummyRegressionModel(prediction=float(prediction))


class DummyRegressionModel(EnsembleRegressionModel, _DummyRegressorParams):
    _data_fields = ("prediction",)

    def __init__(self, prediction: float = 0.0) -> None:
        super().__init__()
        self.prediction = float(prediction)

    def _prediction_setup(self, df: DataFrame):
        return df, F.lit(self.prediction), []

    # predict() mirrors the reference model's pure function for driver-side use.
    def predict(self, features) -> float:
        return self.prediction
