"""BoostingClassifier — multi-class AdaBoost: SAMME (discrete) and SAMME.R (real).

Semantic parity with
``/root/reference/core/src/main/scala/org/apache/spark/ml/classification/BoostingClassifier.scala:105-382``:

* real (SAMME.R): per-round weight update
  ``w ← w · exp(−(K−1)/K · Σ_c code_c · log(max(p_c, ε)))`` with
  ``code_c = 1`` if c is the label else ``−1/(K−1)``; every round weight 1.0;
  decision = Σ over models of ``(K−1)(log p_c − mean_c log p)``.
* discrete (SAMME): ``β = err/((1−err)(K−1))``, model weight ``ln(1/β)``,
  ``w ← w · (1/β)^error``; a round with error ≥ 1 − 1/K is discarded and
  boosting stops; decision = Σ wᵢ (one-hot ± 1/(K−1)).
* probability = softmax(raw / (K−1)).

All per-row math is per class: each class's raw score and probability is
one scalar expression over the base models' probability/prediction columns.
The reweighting loop (the ``__bw`` weight column, its per-round
normalisation, caching and instrumentation) is the AdaBoost family's shared
:class:`~spark_ensemble_spark.core.families.BoostingEstimator`; this twin
supplies the SAMME and SAMME.R rounds. A round with no weighted error ends the
fit after its weight update.
"""

from __future__ import annotations

import math
import operator
from functools import reduce
from typing import List, Optional, Sequence

from pyspark.ml.functions import vector_to_array
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_ensemble_spark.core.base import (
    ClassifierParams,
    EnsembleClassificationModel,
    HasMembers,
    score_base_models,
)
from spark_ensemble_spark.core.families import BoostingEstimator, RoundResult
from spark_ensemble_spark.core.instances import get_num_classes
from spark_ensemble_spark.core.params import BoostingParams, one_of
from spark_ensemble_spark.core.utils import EPSILON, softmax
from spark_ensemble_spark.functions.detmath import double_literal_sql

_ALGORITHMS = ("real", "discrete")


class _BoostingClassifierParams(ClassifierParams, BoostingParams):
    algorithm: Param = Param(
        Params._dummy(),
        "algorithm",
        f"boosting algorithm, one of {_ALGORITHMS} (SAMME.R / SAMME)",
        typeConverter=TypeConverters.toString,
    )

    def __init__(self) -> None:
        super().__init__()
        self._setDefault(algorithm="real", checkpointInterval=10, seed=17)

    def getAlgorithm(self) -> str:
        return one_of(self, self.algorithm, _ALGORITHMS)


def _samme_r_loss_expr(prob_arr: Column, label: Column, num_classes: int) -> Column:
    """Σ_c code_c · log(max(p_c, ε)) with code_c = 1 / −1/(K−1), summed
    from 0.0 in class order."""
    k = num_classes
    loss = F.lit(0.0)
    for c in range(k):
        code = F.when(label == float(c), F.lit(1.0)).otherwise(F.lit(-1.0 / (k - 1)))
        loss = loss + code * F.log(F.greatest(F.element_at(prob_arr, c + 1), F.lit(EPSILON)))
    return loss


class BoostingClassifier(BoostingEstimator, _BoostingClassifierParams):
    def _fit_model(self, df: DataFrame) -> "BoostingClassificationModel":
        algorithm = self.getAlgorithm()
        num_classes = get_num_classes(df, self.getLabelCol())
        k = num_classes
        misclassified = F.when(F.col("__pred") != F.col("label"), 1.0).otherwise(0.0)

        def samme_r_round(model, state: DataFrame, cache) -> RoundResult:
            if not model.hasParam("probabilityCol"):
                raise ValueError("algorithm='real' requires a probabilistic base learner")
            scored = model.transform(state).withColumn(
                "__prob_arr", vector_to_array(F.col("__prob"))
            )
            scored = cache.update(scored)
            estimator_error = (
                scored.agg(F.sum(F.col("__wnorm") * misclassified)).first()[0] or 0.0
            )
            loss = _samme_r_loss_expr(F.col("__prob_arr"), F.col("label"), k)
            next_state = scored.withColumn(
                "__bw", F.col("__wnorm") * F.exp(F.lit(-(k - 1.0) / k) * loss)
            ).select("label", "weight", "features", "__bw")
            stop = "perfect fit" if estimator_error <= 0 else None
            return estimator_error, 1.0, next_state, stop

        def samme_round(model, state: DataFrame, cache) -> RoundResult:
            scored = model.transform(state).withColumn("__err", misclassified)
            scored = cache.update(scored)
            estimator_error = (
                scored.agg(F.sum(F.col("__wnorm") * F.col("__err"))).first()[0] or 0.0
            )
            beta = (
                estimator_error / ((1 - estimator_error) * (k - 1))
                if estimator_error < 1.0
                else 1e18
            )
            if estimator_error >= 1.0 - 1.0 / k:
                # Worse than chance: discard this round and stop
                # (reference :252-255 net behavior).
                return estimator_error, None, None, "worse than chance"
            estimator_weight = 1.0 if beta == 0.0 else math.log(1.0 / beta)
            inv_beta = 1.0 / beta if beta > 0 else 1.0
            next_state = scored.withColumn(
                "__bw", F.col("__wnorm") * F.pow(F.lit(inv_beta), F.col("__err"))
            ).select("label", "weight", "features", "__bw")
            stop = "perfect fit" if estimator_error <= 0 else None
            return estimator_error, estimator_weight, next_state, stop

        models, weights, num_features = self._reweight(
            df,
            samme_r_round if algorithm == "real" else samme_round,
            raw_prediction_col="__raw",
            probability_col="__prob",
        )
        return BoostingClassificationModel(
            num_classes=num_classes,
            weights=weights,
            models=models,
            num_features=num_features,
        )


class BoostingClassificationModel(
    HasMembers, EnsembleClassificationModel, _BoostingClassifierParams
):
    _data_fields = ("weights", "numClasses", "numFeatures")

    def __init__(
        self,
        num_classes: int = 2,
        weights: Optional[Sequence[float]] = None,
        models: Optional[Sequence] = None,
        num_features: int = 0,
    ) -> None:
        super().__init__()
        self.numClasses = int(num_classes)
        self.weights = [float(w) for w in (weights or [])]
        self.models = list(models or [])
        self.numFeatures = int(num_features)

    def _raw_scores(self, df: DataFrame):
        real = self.getAlgorithm() == "real"
        k = self.numClasses
        df, outs, tmp = score_base_models(
            df,
            self.getFeaturesCol(),
            self.models,
            None,
            self.numFeatures,
            prefix="__boost_",
            want_probability=real,
        )
        if real:
            # (K−1)(log p_c − mean_c log p)  (reference :348-364); each
            # member's probability array and log probabilities projected once
            arrays = [f"__boost_a{i}" for i in range(len(outs))]
            logs = [[f"__boost_l{i}_{c}" for c in range(k)] for i in range(len(outs))]
            df = df.select(
                "*",
                *[vector_to_array(F.col(o["probability"])).alias(a) for o, a in zip(outs, arrays)],
            ).select(
                "*",
                *[
                    F.log(F.greatest(F.element_at(a, c + 1), F.lit(EPSILON))).alias(name)
                    for a, names in zip(arrays, logs)
                    for c, name in enumerate(names)
                ],
            )
            tmp += arrays + sum(logs, [])
            logs = [list(map(F.col, names)) for names in logs]
            means = [reduce(operator.add, ls, F.lit(0.0)) / F.lit(float(k)) for ls in logs]
            votes = [[F.lit(k - 1.0) * (ls[c] - m) for ls, m in zip(logs, means)] for c in range(k)]
        else:
            votes = [
                [
                    F.when(F.col(o["prediction"]) == float(c), w).otherwise(-w / (k - 1.0))
                    for o, w in zip(outs, self.weights)
                ]
                for c in range(k)
            ]
        return df, [reduce(operator.add, v) for v in votes], tmp

    def _probabilities(self, raw: List[str]) -> List[str]:
        # softmax(raw / (K−1))  (reference :341-346)
        scale = double_literal_sql(1.0 / (self.numClasses - 1.0))
        return softmax([f"{r} * {scale}" for r in raw])[2]
