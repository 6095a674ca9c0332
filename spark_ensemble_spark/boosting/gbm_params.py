"""Shared GBM params and fit scaffolding (reference
``boosting/GBMParams.scala:29-131``).

Both GBM twins split off their validation rows, keep the validation state in
its own :class:`DFIterationCache` and stop early through the one
:class:`EarlyStopping` here; each twin keeps its own round.
"""

from __future__ import annotations

from typing import Callable, Optional, Tuple

from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.ml.param.shared import (
    HasAggregationDepth,
    HasCheckpointInterval,
    HasMaxIter,
    HasSeed,
    HasTol,
    HasValidationIndicatorCol,
)
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_ensemble_spark.core.params import (
    HasBaseLearner,
    HasNumBaseLearners,
    HasSubBag,
    one_of,
)
from spark_ensemble_spark.core.utils import DFIterationCache

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

    def _split_instances(self, df: DataFrame) -> Tuple[DataFrame, Optional[DataFrame]]:
        """The training instances, and the validation rows (None without a
        ``validationIndicatorCol``)."""
        if self.isDefined(self.validationIndicatorCol) and self.getValidationIndicatorCol():
            val_col = F.col(self.getValidationIndicatorCol())
            return self._extract_instances(df.filter(~val_col)), df.filter(val_col)
        return self._extract_instances(df), None


class EarlyStopping:
    """A GBM fit's validation side (reference ``GBMRegressor.scala:444-465``),
    built from the validation rows of ``GBMParams._split_instances``:
    the validation state, cached in its own :class:`DFIterationCache`, and
    the patience count ``v`` of rounds whose validation loss gained less
    than ``validationTol · max(err, 0.01)`` over the best so far. A fit
    keeps ``rounds − v`` members.

    Without validation rows nothing is cached or aggregated and ``v`` stays
    0, so every round is kept.
    """

    def __init__(
        self,
        est: GBMParams,
        val_rows: Optional[DataFrame],
        start: Callable[[DataFrame], DataFrame],
        loss: Callable[[], Column],
    ) -> None:
        """``start`` turns the validation instances into the init model's
        state; ``loss()`` builds the per-row loss of a state."""
        self.tol = est.getValidationTol()
        self.patience = est.getNumRounds()
        self.cache = DFIterationCache(est.getOrDefault(est.checkpointInterval))
        self.state = None
        self.best_val_error = 0.0
        self.v = 0
        if val_rows is not None:
            self.state = self.cache.update(start(est._extract_instances(val_rows)))
            self.best_val_error = self._error(loss)

    def _error(self, loss: Callable[[], Column]) -> float:
        return self.state.agg(F.avg(loss())).first()[0] or 0.0

    def patient(self) -> bool:
        return self.v < self.patience

    def update(
        self, advance: Callable[[DataFrame], DataFrame], loss: Callable[[], Column]
    ) -> Optional[float]:
        """Advance the validation state by the round's members; returns its
        loss (None without validation rows)."""
        if self.state is None:
            return None
        self.state = self.cache.update(advance(self.state))
        val_error = self._error(loss)
        if self.best_val_error - val_error < self.tol * max(val_error, 0.01):
            self.v += 1
        elif val_error < self.best_val_error:
            self.best_val_error = val_error
            self.v = 0
        return val_error

    def keep(self, rounds: int) -> int:
        return rounds - self.v

    def close(self) -> None:
        self.cache.close()
