"""BaggingClassifier — bootstrap-aggregated classification with hard/soft voting.

Semantic parity with
``/root/reference/core/src/main/scala/org/apache/spark/ml/classification/BaggingClassifier.scala:106-297``:
hard vote = sum of one-hot predicted classes; soft vote = sum of base
``probability`` vectors; probability = raw / numModels; prediction = argmax.

Votes are combined as array-column expressions (one K-vector per model via
``F.transform`` over a class-index sequence, summed with ``zip_with``) — all
JVM-side, no per-row Python. The fit is the bagging family's shared
:func:`~spark_ensemble_spark.core.subbag.fit_bagged_models`; this twin adds
the class count and the vote.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.ml.functions import vector_to_array
from pyspark.sql import Column, DataFrame
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
from spark_ensemble_spark.core.utils import scale_array, sum_arrays


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

    def _raw_array_setup(self, df: DataFrame):
        voting = self.getVotingStrategy()
        want_probability = voting == "soft"
        df, outs, tmp = score_base_models(
            df,
            self.getFeaturesCol(),
            self.models,
            self.subspaces,
            self.numFeatures,
            prefix="__bag_",
            want_probability=want_probability,
        )
        votes = []
        for o in outs:
            if voting == "soft":
                if "probability" not in o:
                    raise ValueError(
                        "votingStrategy='soft' requires probabilistic base learners"
                    )
                votes.append(vector_to_array(F.col(o["probability"])))
            else:
                pred = F.col(o["prediction"])
                classes = F.sequence(F.lit(0), F.lit(self.numClasses - 1))
                votes.append(
                    F.transform(
                        classes,
                        lambda c: F.when(pred == c.cast("double"), 1.0).otherwise(0.0),
                    )
                )
        return df, sum_arrays(votes), tmp

    def _probability_from_raw(self, raw: str) -> Column:
        return scale_array(F.col(raw), F.lit(1.0 / self.numModels))
