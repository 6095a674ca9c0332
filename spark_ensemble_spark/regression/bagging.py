"""BaggingRegressor — bootstrap-aggregated regression.

Semantic parity with
``/root/reference/core/src/main/scala/org/apache/spark/ml/regression/BaggingRegressor.scala:77-237``:
N base learners fitted in parallel threads on independent SubBags (row
bootstrap × feature subspace); prediction is the unweighted mean of base
predictions on the per-model sliced features.

PySpark-first execution: the bags are ``df.sample`` (partition-local, no
shuffle), slicing is ``VectorSlicer`` (JVM), scoring is a chain of N JVM
``transform``s combined with one column expression — at 100 TB the only data
movement is whatever the base learner itself shuffles.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

from spark_ensemble_spark.core.base import (
    EnsembleEstimator,
    EnsembleRegressionModel,
    PredictorParams,
    score_base_models,
)
from spark_ensemble_spark.core.instances import extract_instances, get_num_features
from spark_ensemble_spark.core.params import BaggingParams
from spark_ensemble_spark.core.subbag import fit_bagged_models
from spark_ensemble_spark.core.utils import array_mean


class _BaggingRegressorParams(PredictorParams, BaggingParams):
    pass


class BaggingRegressor(EnsembleEstimator, _BaggingRegressorParams):
    def _fit_model(self, df: DataFrame) -> "BaggingRegressionModel":
        instances = extract_instances(
            df, self.getLabelCol(), self.getFeaturesCol(), self._weight_col_or_none()
        )
        instances.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            instances.count()
            num_features = get_num_features(instances, "features")
            subspaces, models = fit_bagged_models(
                instances,
                num_features,
                self.getBaseLearner(),
                self.getNumBaseLearners(),
                self.getReplacement(),
                self.getSubsampleRatio(),
                self.getSubspaceRatio(),
                self.getOrDefault(self.seed),
                self.getOrDefault(self.parallelism),
            )
        finally:
            instances.unpersist()
        return BaggingRegressionModel(
            subspaces=subspaces, models=models, num_features=num_features
        )


class BaggingRegressionModel(EnsembleRegressionModel, _BaggingRegressorParams):
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

    @property
    def numModels(self) -> int:
        return len(self.models)

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
