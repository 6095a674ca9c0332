"""DummyClassifier — constant-distribution baseline.

Semantic parity with
``/root/reference/core/src/main/scala/org/apache/spark/ml/classification/DummyClassifier.scala:73-173``:
strategy ∈ {uniform, prior, constant}; prior = class frequencies via
``groupBy(label).count()`` (raw = log prior); the fitted model predicts the
same raw/probability vector for every row.
"""

from __future__ import annotations

import math
from typing import List

from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_ensemble_spark.core.base import (
    ClassifierParams,
    EnsembleClassificationModel,
    EnsembleEstimator,
)
from spark_ensemble_spark.core.instances import get_num_classes
from spark_ensemble_spark.core.params import one_of

_STRATEGIES = ("uniform", "prior", "constant")


class _DummyClassifierParams(ClassifierParams):
    strategy: Param = Param(
        Params._dummy(),
        "strategy",
        f"constant-distribution strategy, one of {_STRATEGIES}",
        typeConverter=TypeConverters.toString,
    )
    constant: Param = Param(
        Params._dummy(),
        "constant",
        "class label predicted by strategy=constant",
        typeConverter=TypeConverters.toFloat,
    )

    def __init__(self) -> None:
        super().__init__()
        self._setDefault(strategy="prior", constant=0.0)

    def getStrategy(self) -> str:
        return one_of(self, self.strategy, _STRATEGIES)

    def getConstant(self) -> float:
        return self.getOrDefault(self.constant)


class DummyClassifier(EnsembleEstimator, _DummyClassifierParams):
    def _fit_model(self, df: DataFrame) -> "DummyClassificationModel":
        label = F.col(self.getLabelCol()).cast("double")
        num_classes = get_num_classes(df, self.getLabelCol())
        strategy = self.getStrategy()
        if strategy == "uniform":
            raw = [0.0] * num_classes
            probability = [1.0 / num_classes] * num_classes
        elif strategy == "prior":
            counts = {
                int(r[0]): r[1]
                for r in df.groupBy(label.alias("__l")).count().collect()
            }
            total = float(sum(counts.values()))
            probability = [counts.get(c, 0) / total for c in range(num_classes)]
            raw = [math.log(p) if p > 0 else float("-inf") for p in probability]
        else:
            c = int(self.getConstant())
            if not (0 <= c < num_classes):
                raise ValueError(f"constant {c} outside [0, {num_classes})")
            raw = [0.0] * num_classes
            raw[c] = 1.0
            probability = list(raw)
        return DummyClassificationModel(
            num_classes=num_classes, raw_prediction=raw, probability=probability
        )


class DummyClassificationModel(EnsembleClassificationModel, _DummyClassifierParams):
    _data_fields = ("numClasses", "rawPrediction", "probability")

    def __init__(
        self,
        num_classes: int = 2,
        raw_prediction: List[float] = None,
        probability: List[float] = None,
    ) -> None:
        super().__init__()
        self.numClasses = int(num_classes)
        self.rawPrediction = list(raw_prediction or [0.0] * num_classes)
        self.probability = list(probability or [1.0 / num_classes] * num_classes)

    def _raw_array_setup(self, df: DataFrame):
        raw = F.array(*[F.lit(v) for v in self.rawPrediction])
        return df, raw, []

    def _probability_from_raw(self, raw: str) -> Column:
        return F.array(*[F.lit(v) for v in self.probability])

    def predict(self, features=None) -> float:
        return float(max(range(self.numClasses), key=lambda i: self.probability[i]))
