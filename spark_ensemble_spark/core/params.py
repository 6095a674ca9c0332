"""Shared Param mixins for the ensemble meta-estimators.

Re-expresses the reference's param traits
(``/root/reference/core/src/main/scala/org/apache/spark/ml/ensemble/ensembleParams.scala:17-193``,
``ensemble/HasSubBag.scala:27-86``, ``bagging/BaggingParams.scala``,
``boosting/BoostingParams.scala``, ``boosting/GBMParams.scala``,
``stacking/StackingParams.scala``) as idiomatic PySpark ``Params`` mixins.

Each family (bagging, boosting, stacking; GBM lives in
``boosting/gbm_params.py``) has one mixin that its regression and
classification twins share, so the twins add only their column Params and
their own enumerated Param. Every enumerated string Param is read through
:func:`one_of`, and every size Param through :func:`in_range`.
"""

from __future__ import annotations

import math
from typing import Sequence, Tuple

from pyspark.ml.param import Param, Params, TypeConverters, shared
from pyspark.ml.param.shared import HasAggregationDepth, HasParallelism, HasSeed


def one_of(params: Params, param: Param, allowed: Sequence[str]) -> str:
    """The lower-cased value of an enumerated string Param.

    Raises ``ValueError`` when it is not one of ``allowed``, so a bad value
    fails in its getter, before any fit work starts.
    """
    v = params.getOrDefault(param).lower()
    if v not in allowed:
        raise ValueError(f"{param.name} must be one of {tuple(allowed)}, got {v}")
    return v


def in_range(
    params: Params, param: Param, low: float, high: float = math.inf, low_open: bool = False
):
    """The value of a numeric Param that must lie in ``[low, high]``, or in
    ``(low, high]`` with ``low_open``.

    Raises ``ValueError`` otherwise (NaN included), so an out-of-range size
    fails in its getter instead of later inside a fit or a transform.
    """
    v = params.getOrDefault(param)
    if not ((low < v if low_open else low <= v) and v <= high):
        bounds = f"{'(' if low_open else '['}{low}, {high}]"
        raise ValueError(f"{param.name} must be in {bounds}, got {v}")
    return v


class HasBaseLearner(Params):
    """Param for the base estimator the meta-estimator fits copies of.

    Reference: ``ensemble/ensembleParams.scala:36-62`` (``HasBaseLearner``).
    """

    baseLearner: Param = Param(
        Params._dummy(),
        "baseLearner",
        "base estimator (a pyspark.ml Estimator producing a prediction column)",
    )

    def getBaseLearner(self):
        return self.getOrDefault(self.baseLearner)


class HasBaseLearners(Params):
    """Param for a heterogeneous list of base estimators (stacking).

    Reference: ``ensemble/ensembleParams.scala:107-146`` (``HasBaseLearners``).
    """

    baseLearners: Param = Param(
        Params._dummy(),
        "baseLearners",
        "list of base estimators fitted on the full dataset",
    )

    def getBaseLearners(self):
        return self.getOrDefault(self.baseLearners)


class HasStacker(Params):
    """Param for the meta-learner fitted on base-model predictions.

    Reference: ``ensemble/ensembleParams.scala:148-166`` (``HasStacker``).
    """

    stacker: Param = Param(
        Params._dummy(),
        "stacker",
        "meta estimator fitted on the vector of base-model predictions",
    )

    def getStacker(self):
        return self.getOrDefault(self.stacker)


class HasNumBaseLearners(Params):
    """Reference: ``ensemble/ensembleParams.scala:22-34``."""

    numBaseLearners: Param = Param(
        Params._dummy(),
        "numBaseLearners",
        "number of base learners (>=1)",
        typeConverter=TypeConverters.toInt,
    )

    def __init__(self) -> None:
        super().__init__()
        self._setDefault(numBaseLearners=10)

    def getNumBaseLearners(self) -> int:
        return in_range(self, self.numBaseLearners, 1)


class HasCheckpointInterval(shared.HasCheckpointInterval):
    """Spark ML's ``checkpointInterval``: a boosting fit truncates its
    state's lineage every that many rounds, or never with ``-1`` (Spark ML's
    "disable checkpoint"); every round's state is persisted either way."""

    def getCheckpointInterval(self) -> int:
        v = self.getOrDefault(self.checkpointInterval)
        if v != -1 and v < 1:
            raise ValueError(f"checkpointInterval must be >= 1, or -1 to never truncate, got {v}")
        return v


class HasSubBag(Params):
    """Row-bootstrap × feature-subspace sampling params.

    Reference: ``ensemble/HasSubBag.scala:27-86``. The subspace draw itself
    lives in :mod:`spark_ensemble_spark.core.subbag`.
    """

    replacement: Param = Param(
        Params._dummy(),
        "replacement",
        "whether rows are sampled with replacement",
        typeConverter=TypeConverters.toBoolean,
    )

    subsampleRatio: Param = Param(
        Params._dummy(),
        "subsampleRatio",
        "ratio of rows sampled per base learner, in (0, 1]",
        typeConverter=TypeConverters.toFloat,
    )

    subspaceRatio: Param = Param(
        Params._dummy(),
        "subspaceRatio",
        "ratio of features drawn per base learner, in (0, 1]",
        typeConverter=TypeConverters.toFloat,
    )

    def __init__(self) -> None:
        super().__init__()
        self._setDefault(replacement=True, subsampleRatio=1.0, subspaceRatio=1.0)

    def getReplacement(self) -> bool:
        return self.getOrDefault(self.replacement)

    def getSubsampleRatio(self) -> float:
        return in_range(self, self.subsampleRatio, 0.0, 1.0, low_open=True)

    def getSubspaceRatio(self) -> float:
        return in_range(self, self.subspaceRatio, 0.0, 1.0, low_open=True)


class HasVotingStrategy(Params):
    """Voting strategy for prediction combination.

    Reference: ``classification/BaggingClassifier.scala:55-67`` (hard/soft) and
    ``regression/BoostingRegressor.scala:73-86`` (median/mean); each class
    declares its allowed set in ``_voting_strategies``.
    """

    _voting_strategies: Tuple[str, ...] = ()

    votingStrategy: Param = Param(
        Params._dummy(),
        "votingStrategy",
        "how base predictions are combined",
        typeConverter=TypeConverters.toString,
    )

    def getVotingStrategy(self) -> str:
        return one_of(self, self.votingStrategy, self._voting_strategies)


class BaggingParams(HasBaseLearner, HasNumBaseLearners, HasSubBag, HasSeed, HasParallelism):
    """Params shared by the bagging twins (reference ``bagging/BaggingParams.scala``)."""

    def __init__(self) -> None:
        super().__init__()
        self._setDefault(seed=17, parallelism=1)


class BoostingParams(
    HasBaseLearner,
    HasNumBaseLearners,
    HasCheckpointInterval,
    HasSeed,
    # Reference API parity (BoostingParams.scala treeAggregate depth); no-op
    # under DataFrame aggregation (SURVEY.md §2.4).
    HasAggregationDepth,
):
    """Params shared by the AdaBoost twins (reference ``boosting/BoostingParams.scala``).

    The twins set this family's defaults (``checkpointInterval=10``,
    ``seed=17``) next to their own, which keeps each saved
    ``defaultParamMap`` in the order it has always been written in.
    """


class StackingParams(HasBaseLearners, HasStacker, HasParallelism):
    """Params shared by the stacking twins (reference ``stacking/StackingParams.scala``)."""

    def __init__(self) -> None:
        super().__init__()
        self._setDefault(parallelism=1)

    def _stack_method(self) -> str:
        """Which base-model output the stacker reads: predicted values here,
        the ``"class"`` case of the classifier's ``stackMethod``."""
        return "class"
