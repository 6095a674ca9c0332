"""StackingRegressor — heterogeneous base learners + a meta-learner.

Semantic parity with
``/root/reference/core/src/main/scala/org/apache/spark/ml/regression/StackingRegressor.scala:83-235``:
N different base learners are fitted in parallel on the FULL dataset (no
sampling); the stacker is then fitted on the vector of their predictions.

The reference materializes meta-features through an ``RDD[Instance]`` hop; we
chain the N JVM transforms and a ``VectorAssembler`` — one pipeline, no
per-row Python, and the meta-feature build is lazy until the stacker fit.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.ml.feature import VectorAssembler
from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

from spark_ensemble_spark.core.base import (
    EnsembleEstimator,
    EnsembleModel,
    PredictorParams,
    score_base_models,
)
from spark_ensemble_spark.core.instances import extract_instances
from spark_ensemble_spark.core.params import StackingParams
from spark_ensemble_spark.core.utils import fit_base_learner, run_parallel


class _StackingRegressorParams(PredictorParams, StackingParams):
    pass


class StackingRegressor(EnsembleEstimator, _StackingRegressorParams):
    def _fit_model(self, df: DataFrame) -> "StackingRegressionModel":
        learners = list(self.getBaseLearners())
        instances = extract_instances(
            df, self.getLabelCol(), self.getFeaturesCol(), self._weight_col_or_none()
        )
        instances.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            instances.count()
            models = run_parallel(
                [
                    lambda l=l: fit_base_learner(
                        l, instances, "label", "features", "__pred", weight_col="weight"
                    )
                    for l in learners
                ],
                self.getOrDefault(self.parallelism),
            )
            # Meta-features: chained transforms + assembler.
            meta = instances
            pred_cols = []
            for i, m in enumerate(models):
                meta = m.transform(meta, {m.getParam("predictionCol"): f"__mf{i}"})
                pred_cols.append(f"__mf{i}")
            assembler = VectorAssembler(inputCols=pred_cols, outputCol="__meta")
            # Materialize the assembled meta-features once — an iterative
            # stacker otherwise re-runs every base transform + assembly per
            # optimizer pass (r13, guide §5; classifier twin has the same).
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
        return StackingRegressionModel(models=models, stack=stack)


class StackingRegressionModel(EnsembleModel, _StackingRegressorParams):
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
        df, outs, tmp = score_base_models(
            df, self.getFeaturesCol(), self.models, None, None, prefix="__stk_"
        )
        pred_cols = [o["prediction"] for o in outs]
        assembler = VectorAssembler(inputCols=pred_cols, outputCol="__meta")
        df = assembler.transform(df)
        tmp = tmp + ["__meta"]
        overrides = {
            self.stack.getParam("featuresCol"): "__meta",
            self.stack.getParam("predictionCol"): self.getPredictionCol(),
        }
        out = self.stack.transform(df, overrides)
        return out.drop(*tmp)
