"""Shared GBM params (reference ``boosting/GBMParams.scala:29-131``)."""

from __future__ import annotations

from typing import Tuple

from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.ml.param.shared import (
    HasAggregationDepth,
    HasCheckpointInterval,
    HasMaxIter,
    HasSeed,
    HasTol,
    HasValidationIndicatorCol,
)

from spark_ensemble_spark.core.params import (
    HasBaseLearner,
    HasNumBaseLearners,
    HasSubBag,
    one_of,
)

_UPDATES = ("gradient", "newton")


class GBMParams(
    HasBaseLearner,
    HasNumBaseLearners,
    HasSubBag,
    HasMaxIter,
    HasTol,
    HasSeed,
    HasCheckpointInterval,
    HasValidationIndicatorCol,
    # Reference API parity (GBMParams.scala / treeAggregate depth). A no-op
    # here: DataFrame aggregation has no user-facing tree depth — Spark SQL
    # plans partial aggregation itself (SURVEY.md §2.4).
    HasAggregationDepth,
):
    """Each twin declares its allowed ``initStrategy`` values in
    ``_init_strategies``."""

    _init_strategies: Tuple[str, ...] = ()

    learningRate: Param = Param(
        Params._dummy(),
        "learningRate",
        "shrinkage applied to each base model's optimized weight",
        typeConverter=TypeConverters.toFloat,
    )
    optimizedWeights: Param = Param(
        Params._dummy(),
        "optimizedWeights",
        "line-search the per-iteration step size instead of using 1.0",
        typeConverter=TypeConverters.toBoolean,
    )
    updates: Param = Param(
        Params._dummy(),
        "updates",
        "pseudo-residual flavor: gradient | newton (hessian-scaled)",
        typeConverter=TypeConverters.toString,
    )
    initStrategy: Param = Param(
        Params._dummy(),
        "initStrategy",
        "initial model strategy",
        typeConverter=TypeConverters.toString,
    )
    alpha: Param = Param(
        Params._dummy(),
        "alpha",
        "quantile level for huber/quantile losses",
        typeConverter=TypeConverters.toFloat,
    )
    validationTol: Param = Param(
        Params._dummy(),
        "validationTol",
        "early-stopping tolerance on validation loss gain",
        typeConverter=TypeConverters.toFloat,
    )
    numRounds: Param = Param(
        Params._dummy(),
        "numRounds",
        "early-stopping patience (rounds without sufficient gain)",
        typeConverter=TypeConverters.toInt,
    )

    def __init__(self) -> None:
        super().__init__()
        self._setDefault(
            learningRate=1.0,
            optimizedWeights=True,
            updates="gradient",
            alpha=0.9,
            validationTol=0.01,
            numRounds=1,
            maxIter=100,
            tol=1e-6,
            replacement=False,
            checkpointInterval=10,
            seed=17,
        )

    def getLearningRate(self) -> float:
        return self.getOrDefault(self.learningRate)

    def getOptimizedWeights(self) -> bool:
        return self.getOrDefault(self.optimizedWeights)

    def getUpdates(self) -> str:
        return one_of(self, self.updates, _UPDATES)

    def getInitStrategy(self) -> str:
        return one_of(self, self.initStrategy, self._init_strategies)

    def getAlpha(self) -> float:
        return self.getOrDefault(self.alpha)

    def getValidationTol(self) -> float:
        return self.getOrDefault(self.validationTol)

    def getNumRounds(self) -> int:
        return self.getOrDefault(self.numRounds)

    def _validation_col_or_none(self):
        if (
            self.isDefined(self.validationIndicatorCol)
            and self.getValidationIndicatorCol()
        ):
            return self.getValidationIndicatorCol()
        return None
