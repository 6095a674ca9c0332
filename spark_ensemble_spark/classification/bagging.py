"""BaggingClassifier — bootstrap-aggregated classification with hard/soft voting.

Semantic parity with
``/root/reference/core/src/main/scala/org/apache/spark/ml/classification/BaggingClassifier.scala:106-297``:
hard vote = sum of one-hot predicted classes; soft vote = sum of base
``probability`` vectors; probability = raw / numModels; prediction = argmax.

Votes are combined per class, one scalar expression each: the hard vote of
class c is ``Σ_i CASE WHEN p_i = c THEN 1 ELSE 0 END``, the soft vote
``Σ_i a_i[c]`` over each member's probability array ``a_i``, projected once.
All of it is JVM-side and whole-stage-codegen'd, with no per-row Python. The
fit is the bagging family's shared
:func:`~spark_ensemble_spark.core.subbag.fit_bagged_models`; this twin adds
the class count and the vote.
"""

from __future__ import annotations

import operator
from functools import reduce
from typing import List, Optional, Sequence

from pyspark.ml.functions import vector_to_array
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_ensemble_spark.core.base import (
    ClassifierParams,
    EnsembleClassificationModel,
    EnsembleEstimator,
    HasMembers,
    score_base_models,
)
from spark_ensemble_spark.core.instances import get_num_classes
from spark_ensemble_spark.core.params import BaggingParams, HasVotingStrategy
from spark_ensemble_spark.core.subbag import fit_bagged_models
from spark_ensemble_spark.functions.detmath import double_literal_sql


class _BaggingClassifierParams(ClassifierParams, BaggingParams, HasVotingStrategy):
    _voting_strategies = ("hard", "soft")

    def __init__(self) -> None:
        super().__init__()
        self._setDefault(votingStrategy="hard")


class BaggingClassifier(EnsembleEstimator, _BaggingClassifierParams):
    def _fit_model(self, df: DataFrame) -> "BaggingClassificationModel":
        num_classes = get_num_classes(df, self.getLabelCol())
        return BaggingClassificationModel(num_classes=num_classes, **fit_bagged_models(self, df))


class BaggingClassificationModel(
    HasMembers, EnsembleClassificationModel, _BaggingClassifierParams
):
    _data_fields = ("subspaces", "numFeatures", "numClasses")

    def __init__(
        self,
        num_classes: int = 2,
        subspaces: Optional[List[List[int]]] = None,
        models: Optional[Sequence] = None,
        num_features: int = 0,
    ) -> None:
        super().__init__()
        self.numClasses = int(num_classes)
        self.subspaces = [list(s) for s in (subspaces or [])]
        self.models = list(models or [])
        self.numFeatures = int(num_features)

    def _raw_scores(self, df: DataFrame):
        soft = self.getVotingStrategy() == "soft"
        df, outs, tmp = score_base_models(
            df,
            self.getFeaturesCol(),
            self.models,
            self.subspaces,
            self.numFeatures,
            prefix="__bag_",
            want_probability=soft,
        )
        if soft:
            if any("probability" not in o for o in outs):
                raise ValueError("votingStrategy='soft' requires probabilistic base learners")
            # each member's probability vector as an array, projected once
            arrays = [f"__bag_a{i}" for i in range(len(outs))]
            df = df.select(
                "*",
                *[vector_to_array(F.col(o["probability"])).alias(a) for o, a in zip(outs, arrays)],
            )
            tmp += arrays
            votes = [[F.element_at(a, c + 1) for a in arrays] for c in range(self.numClasses)]
        else:
            votes = [
                [F.when(F.col(o["prediction"]) == float(c), 1.0).otherwise(0.0) for o in outs]
                for c in range(self.numClasses)
            ]
        return df, [reduce(operator.add, v) for v in votes], tmp

    def _probabilities(self, raw: List[str]) -> List[str]:
        return [f"{r} * {double_literal_sql(1.0 / self.numModels)}" for r in raw]
