"""Fit bodies that a family's regression and classification twins share.

Each twin keeps only the arithmetic that differs between regression and
classification; the scaffolding around it is written once:

* stacking: :class:`StackingEstimator` (the fit) and :class:`StackingModel`
  (the scoring); the regressor stacks predicted values, which is the
  classifier's ``stackMethod="class"`` case;
* AdaBoost: :class:`BoostingEstimator`, one reweighting loop driven by each
  twin's round function (AdaBoost.R2, SAMME, SAMME.R).

Bagging's body is :func:`~spark_ensemble_spark.core.subbag.fit_bagged_models`;
GBM's round, validation split and early stopping are
:class:`~spark_ensemble_spark.boosting.gbm_params.GBMEstimator`.
"""

from __future__ import annotations

from typing import Callable, List, Optional, Sequence, Tuple

from pyspark.ml.feature import VectorAssembler
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from spark_ensemble_spark.core.base import (
    EnsembleEstimator,
    EnsembleModel,
    HasMembers,
    score_base_models,
)
from spark_ensemble_spark.core.instances import FEATURES, LABEL, WEIGHT, get_num_features
from spark_ensemble_spark.core.instrumentation import FitInstrumentation
from spark_ensemble_spark.core.utils import DFIterationCache, fit_base_learner, run_parallel

_STACK_OUTPUT = {"class": "prediction", "raw": "rawPrediction", "proba": "probability"}


def _assemble_meta(
    df: DataFrame, features_col: str, models: Sequence, method: str
) -> Tuple[DataFrame, List[str]]:
    """Score ``models`` over ``df`` and assemble their ``method`` outputs
    (one double per model for ``class``, flattened vectors for ``raw`` and
    ``proba``) into the ``__meta`` vector. Returns ``(df, temp columns)``.

    ``VectorAssembler`` concatenates vector columns natively, so the
    flattening is JVM-side with metadata intact.
    """
    df, outs, tmp = score_base_models(
        df,
        features_col,
        models,
        None,
        None,
        prefix="__stk_",
        want_probability=(method == "proba"),
        want_raw=(method == "raw"),
    )
    key = _STACK_OUTPUT[method]
    cols = []
    for o in outs:
        if key not in o:
            raise ValueError(
                f"stackMethod='{method}' requires base learners exposing '{key}'"
            )
        cols.append(o[key])
    assembler = VectorAssembler(inputCols=cols, outputCol="__meta")
    return assembler.transform(df), tmp + ["__meta"]


class StackingEstimator(EnsembleEstimator):
    """The stacking twins' fit: N different base learners fitted in parallel
    on the full cached instances (no sampling), then the stacker on their
    assembled outputs (reference ``StackingRegressor.scala:83-235``,
    ``StackingClassifier.scala:112-283``). A twin names its model class in
    ``_model_class``; which outputs are stacked comes from ``_stack_method``.
    """

    _model_class: type

    def _fit_model(self, df: DataFrame) -> "StackingModel":
        learners = list(self.getBaseLearners())
        method = self._stack_method()
        instances = self._extract_instances(df)
        instances.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            instances.count()
            models = run_parallel(
                [
                    lambda l=l: fit_base_learner(
                        l,
                        instances,
                        LABEL,
                        FEATURES,
                        "__pred",
                        weight_col=WEIGHT,
                        raw_prediction_col="__raw",
                        probability_col="__prob",
                    )
                    for l in learners
                ],
                self.getOrDefault(self.parallelism),
            )
            meta, _ = _assemble_meta(instances, FEATURES, models, method)
            # Materialize the assembled meta-features ONCE (projected to the
            # three columns the stacker reads): an iterative stacker (e.g.
            # LogisticRegression) re-executes its input plan every
            # treeAggregate pass, which here means re-running every base
            # model's transform + the assembly per iteration — r13,
            # guide §5 (cache when reused and recompute is expensive).
            meta = meta.select(LABEL, WEIGHT, "__meta")
            meta.persist(StorageLevel.MEMORY_AND_DISK)
            try:
                stack = fit_base_learner(
                    self.getStacker(), meta, LABEL, "__meta", "__spred", weight_col=WEIGHT
                )
            finally:
                meta.unpersist()
        finally:
            instances.unpersist()
        return self._model_class(models=models, stack=stack)


class StackingModel(HasMembers, EnsembleModel):
    """The stacking twins' model: the fitted base models and the stacker.
    Like the reference's model (a plain ``PredictionModel``), it outputs
    only a prediction column."""

    _sub_instances = (("stack", "stack"),)

    def __init__(self, models: Optional[Sequence] = None, stack=None) -> None:
        super().__init__()
        self.models = list(models or [])
        self.stack = stack

    def _transform(self, df: DataFrame) -> DataFrame:
        self._validate_input(df, fitting=False)
        df, tmp = _assemble_meta(
            df, self.getFeaturesCol(), self.models, self._stack_method()
        )
        overrides = {
            self.stack.getParam("featuresCol"): "__meta",
            self.stack.getParam("predictionCol"): self.getPredictionCol(),
        }
        if self.stack.hasParam("rawPredictionCol"):
            overrides[self.stack.getParam("rawPredictionCol")] = "__stack_raw"
            tmp.append("__stack_raw")
        if self.stack.hasParam("probabilityCol"):
            overrides[self.stack.getParam("probabilityCol")] = "__stack_prob"
            tmp.append("__stack_prob")
        out = self.stack.transform(df, overrides)
        return out.drop(*tmp)


# A round's verdict: (estimator error, member weight or None to discard the
# member, next state or None to stop without advancing, stop reason or None).
# A round that returns no next state gives a stop reason.
RoundResult = Tuple[float, Optional[float], Optional[DataFrame], Optional[str]]


class BoostingEstimator(EnsembleEstimator):
    """The AdaBoost twins' reweighting loop (reference
    ``BoostingRegressor.scala:138-357``, ``BoostingClassifier.scala:105-382``).

    The evolving boosting weight is a ``__bw`` column updated each round
    (never an ``RDD.zip`` — SURVEY.md §2.4), persisted and lineage-truncated
    through one :class:`DFIterationCache`. Every round normalises it by the
    last ``sum(__bw)`` to ``__wnorm``, fits a member on that weight, and
    hands the member, the state and the cache to the twin's round function,
    which returns a :data:`RoundResult`. The round function caches its
    scored frame, the round's one cached frame; the next state is a
    projection of it, summed before the next round, also when the round ends
    the fit.
    """

    def _reweight(
        self, df: DataFrame, round_fn: Callable[..., RoundResult], **member_cols: str
    ) -> Tuple[List, List[float], int]:
        """Run the loop over ``df``'s instances; returns the kept members,
        their weights and the number of features."""
        num_learners = self.getNumBaseLearners()
        cache = DFIterationCache(self.getCheckpointInterval())
        instances = self._extract_instances(df).withColumn("__bw", F.col(WEIGHT))
        num_features = get_num_features(instances, FEATURES)

        state = cache.update(instances)
        sum_weights = state.agg(F.sum("__bw")).first()[0] or 0.0

        instr = FitInstrumentation(self.uid, num_learners)
        models: List = []
        weights: List[float] = []
        stop_reason = "completed"
        try:
            i = 0
            while i < num_learners and sum_weights > 0:
                # Normalized per-round weights (reference :218-221).
                state = state.withColumn("__wnorm", F.col("__bw") / F.lit(sum_weights))
                model = fit_base_learner(
                    self.getBaseLearner(),
                    state,
                    LABEL,
                    FEATURES,
                    "__pred",
                    weight_col="__wnorm",
                    **member_cols,
                )
                error, weight, next_state, stop = round_fn(model, state, cache)
                if weight is not None:
                    models.append(model)
                    weights.append(weight)
                instr.iteration(
                    i, estimator_error=error, estimator_weight=weight, sum_weights=sum_weights
                )
                if next_state is not None:
                    state = next_state
                    sum_weights = state.agg(F.sum("__bw")).first()[0] or 0.0
                if stop is not None:
                    stop_reason = stop
                    break
                i += 1
        finally:
            cache.close()
        instr.done(len(models), stop_reason)
        return models, weights, num_features
