"""StackingClassifier — heterogeneous classifiers + a meta-learner.

Semantic parity with
``/root/reference/core/src/main/scala/org/apache/spark/ml/classification/StackingClassifier.scala:112-283``:
``stackMethod`` picks the meta-features — predicted ``class`` (one double per
model), ``raw`` scores, or ``proba`` vectors (flat-mapped). Like the
reference's model (which extends plain ``PredictionModel``), the fitted model
outputs only a prediction column.

``VectorAssembler`` natively concatenates vector columns, so raw/proba
flattening is JVM-side with metadata intact.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.ml.feature import VectorAssembler
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

from spark_ensemble_spark.core.base import (
    EnsembleEstimator,
    EnsembleModel,
    PredictorParams,
    score_base_models,
)
from spark_ensemble_spark.core.instances import extract_instances
from spark_ensemble_spark.core.params import StackingParams, one_of
from spark_ensemble_spark.core.utils import fit_base_learner, run_parallel

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


def _meta_feature_cols(outs: List[dict], method: str) -> List[str]:
    key = {"class": "prediction", "raw": "rawPrediction", "proba": "probability"}[method]
    cols = []
    for o in outs:
        if key not in o:
            raise ValueError(
                f"stackMethod='{method}' requires base learners exposing '{key}'"
            )
        cols.append(o[key])
    return cols


class StackingClassifier(EnsembleEstimator, _StackingClassifierParams):
    def _fit_model(self, df: DataFrame) -> "StackingClassificationModel":
        learners = list(self.getBaseLearners())
        method = self.getStackMethod()
        instances = extract_instances(
            df, self.getLabelCol(), self.getFeaturesCol(), self._weight_col_or_none()
        )
        instances.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            instances.count()
            models = run_parallel(
                [
                    lambda l=l: fit_base_learner(
                        l,
                        instances,
                        "label",
                        "features",
                        "__pred",
                        weight_col="weight",
                        raw_prediction_col="__raw",
                        probability_col="__prob",
                    )
                    for l in learners
                ],
                self.getOrDefault(self.parallelism),
            )
            meta, outs, _ = score_base_models(
                instances,
                "features",
                models,
                None,
                None,
                prefix="__stk_",
                want_probability=(method == "proba"),
                want_raw=(method == "raw"),
            )
            feature_cols = _meta_feature_cols(outs, method)
            assembler = VectorAssembler(inputCols=feature_cols, outputCol="__meta")
            # Materialize the assembled meta-features ONCE (projected to the
            # three columns the stacker reads): an iterative stacker (e.g.
            # LogisticRegression) re-executes its input plan every
            # treeAggregate pass, which here means re-running every base
            # model's transform + the assembly per iteration — r13,
            # guide §5 (cache when reused and recompute is expensive).
            meta = assembler.transform(meta).select("label", "weight", "__meta")
            meta.persist(StorageLevel.MEMORY_AND_DISK)
            try:
                stack = fit_base_learner(
                    self.getStacker(), meta, "label", "__meta", "__spred",
                    weight_col="weight",
                )
            finally:
                meta.unpersist()
        finally:
            instances.unpersist()
        return StackingClassificationModel(models=models, stack=stack)


class StackingClassificationModel(EnsembleModel, _StackingClassifierParams):
    _sub_instances = (("stack", "stack"),)

    def __init__(self, models: Optional[Sequence] = None, stack=None) -> None:
        super().__init__()
        self.models = list(models or [])
        self.stack = stack

    @property
    def numModels(self) -> int:
        return len(self.models)

    def _transform(self, df: DataFrame) -> DataFrame:
        self._validate_input(df, fitting=False)
        method = self.getStackMethod()
        df, outs, tmp = score_base_models(
            df,
            self.getFeaturesCol(),
            self.models,
            None,
            None,
            prefix="__stk_",
            want_probability=(method == "proba"),
            want_raw=(method == "raw"),
        )
        feature_cols = _meta_feature_cols(outs, method)
        assembler = VectorAssembler(inputCols=feature_cols, outputCol="__meta")
        df = assembler.transform(df)
        tmp = tmp + ["__meta"]
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
