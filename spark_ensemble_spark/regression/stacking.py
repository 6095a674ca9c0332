"""StackingRegressor — heterogeneous base learners + a meta-learner.

Semantic parity with
``/root/reference/core/src/main/scala/org/apache/spark/ml/regression/StackingRegressor.scala:83-235``:
N different base learners are fitted in parallel on the FULL dataset (no
sampling); the stacker is then fitted on the vector of their predictions.

The reference materializes meta-features through an ``RDD[Instance]`` hop; we
chain the N JVM transforms and a ``VectorAssembler`` — one pipeline, no
per-row Python. Fit and scoring are the stacking family's shared bodies
(:mod:`spark_ensemble_spark.core.families`); the regressor stacks predicted
values, the classifier twin's ``stackMethod="class"`` case, and so declares no
``stackMethod`` Param of its own.
"""

from __future__ import annotations

from spark_ensemble_spark.core.base import PredictorParams
from spark_ensemble_spark.core.families import StackingEstimator, StackingModel
from spark_ensemble_spark.core.params import StackingParams


class _StackingRegressorParams(PredictorParams, StackingParams):
    pass


class StackingRegressionModel(StackingModel, _StackingRegressorParams):
    pass


class StackingRegressor(StackingEstimator, _StackingRegressorParams):
    _model_class = StackingRegressionModel
