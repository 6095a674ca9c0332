"""StackingClassifier — heterogeneous classifiers + a meta-learner.

Semantic parity with
``/root/reference/core/src/main/scala/org/apache/spark/ml/classification/StackingClassifier.scala:112-283``:
``stackMethod`` picks the meta-features — predicted ``class`` (one double per
model), ``raw`` scores, or ``proba`` vectors (flat-mapped). Like the
reference's model (which extends plain ``PredictionModel``), the fitted model
outputs only a prediction column.

Fit and scoring are the stacking family's shared bodies
(:mod:`spark_ensemble_spark.core.families`); this twin adds the
``stackMethod`` Param that picks the stacked outputs.
"""

from __future__ import annotations

from pyspark.ml.param import Param, Params, TypeConverters

from spark_ensemble_spark.core.base import PredictorParams
from spark_ensemble_spark.core.families import StackingEstimator, StackingModel
from spark_ensemble_spark.core.params import StackingParams, one_of

_STACK_METHODS = ("class", "raw", "proba")


class _StackingClassifierParams(PredictorParams, StackingParams):
    stackMethod: Param = Param(
        Params._dummy(),
        "stackMethod",
        f"meta-feature choice, one of {_STACK_METHODS}",
        typeConverter=TypeConverters.toString,
    )

    def __init__(self) -> None:
        super().__init__()
        self._setDefault(stackMethod="class")

    def getStackMethod(self) -> str:
        return one_of(self, self.stackMethod, _STACK_METHODS)

    def _stack_method(self) -> str:
        return self.getStackMethod()


class StackingClassificationModel(StackingModel, _StackingClassifierParams):
    pass


class StackingClassifier(StackingEstimator, _StackingClassifierParams):
    _model_class = StackingClassificationModel
