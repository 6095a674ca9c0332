"""BaggingRegressor — bootstrap-aggregated regression.

Semantic parity with
``/root/reference/core/src/main/scala/org/apache/spark/ml/regression/BaggingRegressor.scala:77-237``:
N base learners fitted in parallel threads on independent SubBags (row
bootstrap × feature subspace); prediction is the unweighted mean of base
predictions on the per-model sliced features.

PySpark-first execution: the bags are ``df.sample`` (partition-local, no
shuffle), slicing is ``VectorSlicer`` (JVM), scoring is a chain of N JVM
``transform``s combined with one column expression — at 100 TB the only data
movement is whatever the base learner itself shuffles. The fit is the bagging
family's shared :func:`~spark_ensemble_spark.core.subbag.fit_bagged_models`.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.sql import DataFrame

from spark_ensemble_spark.core.base import (
    EnsembleEstimator,
    EnsembleRegressionModel,
    HasMembers,
    PredictorParams,
    score_base_models,
)
from spark_ensemble_spark.core.params import BaggingParams
from spark_ensemble_spark.core.subbag import fit_bagged_models
from spark_ensemble_spark.core.utils import array_mean


class _BaggingRegressorParams(PredictorParams, BaggingParams):
    pass


class BaggingRegressor(EnsembleEstimator, _BaggingRegressorParams):
    def _fit_model(self, df: DataFrame) -> "BaggingRegressionModel":
        return BaggingRegressionModel(**fit_bagged_models(self, df))


class BaggingRegressionModel(HasMembers, EnsembleRegressionModel, _BaggingRegressorParams):
    _data_fields = ("subspaces", "numFeatures")

    def __init__(
        self,
        subspaces: Optional[List[List[int]]] = None,
        models: Optional[Sequence] = None,
        num_features: int = 0,
    ) -> None:
        super().__init__()
        self.subspaces = [list(s) for s in (subspaces or [])]
        self.models = list(models or [])
        self.numFeatures = int(num_features)

    def _prediction_setup(self, df: DataFrame):
        df, outs, tmp = score_base_models(
            df,
            self.getFeaturesCol(),
            self.models,
            self.subspaces,
            self.numFeatures,
            prefix="__bag_",
        )
        pred = array_mean([o["prediction"] for o in outs])
        return df, pred, tmp
