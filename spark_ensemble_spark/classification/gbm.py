"""GBMClassifier — multiclass gradient boosting over regressor base learners.

Semantic parity with
``/root/reference/core/src/main/scala/org/apache/spark/ml/classification/GBMClassifier.scala:146-589``:

* dim = K for ``logloss`` (one regressor per class dimension per iteration,
  fitted in parallel threads), dim = 1 for the binary margin losses
  (``exponential``, ``bernoulli``, labels encoded 2y−1);
* init raw scores: ``prior`` → log class priors (binary scalar case: the
  log-odds of class 1), ``uniform`` → zeros;
* Newton updates: per-dim hessian-scaled targets and hessian weights
  (floored at 1e-2);
* step sizes: L-BFGS-B over x ∈ [0, ∞)^dim minimizing the mean loss of
  ``raw + x ∘ dir`` with analytic gradient — each optimizer evaluation is ONE
  ``agg`` computing the loss sum and all dim gradient sums;
* binary raw output is ``(−r, r)``; probability via the loss link.

The round itself is the GBM family's shared
:class:`~spark_ensemble_spark.boosting.gbm_params.GBMEstimator` loop, whose
running raw score is here an array of ``dim`` doubles; this module holds the
init raw scores and the L-BFGS-B step search.
"""

from __future__ import annotations

import math
from typing import List, Optional, Sequence

from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.ml.param.shared import HasParallelism
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_ensemble_spark.boosting.gbm_params import RAW, GBMEstimator, GBMParams
from spark_ensemble_spark.boosting.losses import classification_loss
from spark_ensemble_spark.core.base import (
    ClassifierParams,
    EnsembleClassificationModel,
    HasMembers,
    score_base_models,
)
from spark_ensemble_spark.core.instances import get_num_classes
from spark_ensemble_spark.core.optim import minimize_nonneg_batched
from spark_ensemble_spark.core.params import one_of

_LOSSES = ("logloss", "exponential", "bernoulli")
_INIT = ("prior", "uniform")


class _GBMClassifierParams(ClassifierParams, GBMParams, HasParallelism):
    _init_strategies = _INIT

    loss: Param = Param(
        Params._dummy(),
        "loss",
        f"GBM classification loss, one of {_LOSSES}",
        typeConverter=TypeConverters.toString,
    )

    def __init__(self) -> None:
        super().__init__()
        self._setDefault(loss="logloss", initStrategy="prior", parallelism=1)

    def getLoss(self) -> str:
        return one_of(self, self.loss, _LOSSES)


class GBMClassifier(GBMEstimator, _GBMClassifierParams):
    def _init_raw(self, train: DataFrame, num_classes: int, dim: int) -> List[float]:
        """Initial raw scores (``GBMClassifier.scala:275-288``)."""
        strategy = self.getInitStrategy()
        if strategy == "uniform":
            return [0.0] * dim
        counts = {int(r[0]): r[1] for r in train.groupBy("label").count().collect()}
        total = float(sum(counts.values()))
        priors = [counts.get(c, 0) / total for c in range(num_classes)]
        if dim == 1 and num_classes == 2:
            p1 = min(max(priors[1], 1e-15), 1 - 1e-15)
            return [math.log(p1 / (1 - p1))]
        return [math.log(p) if p > 0 else -745.0 for p in priors]

    def _fit_model(self, df: DataFrame) -> "GBMClassificationModel":
        loss_name = self.getLoss()
        train, val_rows = self._split_instances(df)
        num_classes = get_num_classes(df, self.getLabelCol())
        if loss_name in ("exponential", "bernoulli") and num_classes != 2:
            raise ValueError(f"loss='{loss_name}' supports binary labels only")
        gl = classification_loss(loss_name, num_classes)
        init_raw = self._init_raw(train, num_classes, gl.dim)
        raw0 = F.array(*[F.lit(v) for v in init_raw])
        models, subspaces, weights, num_features = self._boost(
            train,
            val_rows,
            lambda instances: instances.withColumn(RAW, raw0),
            gl,
            self.getOrDefault(self.parallelism),
        )
        return GBMClassificationModel(
            num_classes=num_classes,
            dim=gl.dim,
            init_raw=init_raw,
            weights=weights,
            subspaces=subspaces,
            models=models,
            num_features=num_features,
        )

    def _raw_score(self, j: int) -> str:
        return f"element_at({RAW}, {j + 1})"

    def _raw_advance(self, weights: List[float], dirs: List[str]) -> Column:
        steps = F.array(*[F.lit(w) * F.col(d) for w, d in zip(weights, dirs)])
        return F.zip_with(F.col(RAW), steps, lambda p, d: p + d)

    def _step_search(self, gl, bag: DataFrame, dirs: List[str]) -> List[float]:
        """Bound-constrained step-size optimization (reference breeze LBFGSB,
        ``GBMClassifier.scala:290-292,413-431``), evaluated Spark-side: the
        whole Armijo backtracking ladder is ONE batched aggregate, which also
        returns the gradient at its first rung, and Barzilai-Borwein step
        sizing cuts the outer iteration count (see
        ``minimize_nonneg_batched``)."""
        return minimize_nonneg_batched(
            lambda points: self._step_sums(gl, bag, dirs, points)[0],
            lambda points: self._step_sums(gl, bag, dirs, points, with_grad=True),
            [1.0] * gl.dim,
            min(self.getOrDefault(self.maxIter), 15),
            self.getOrDefault(self.tol),
        )


class GBMClassificationModel(HasMembers, EnsembleClassificationModel, _GBMClassifierParams):
    _data_fields = ("weights", "subspaces", "numClasses", "dim", "initRaw", "numFeatures")

    def __init__(
        self,
        num_classes: int = 2,
        dim: int = 1,
        init_raw: Optional[Sequence[float]] = None,
        weights: Optional[Sequence[Sequence[float]]] = None,
        subspaces: Optional[Sequence[Sequence[int]]] = None,
        models: Optional[Sequence[Sequence]] = None,
        num_features: int = 0,
    ) -> None:
        super().__init__()
        self.numClasses = int(num_classes)
        self.dim = int(dim)
        self.initRaw = [float(x) for x in (init_raw or [0.0] * dim)]
        self.weights = [[float(w) for w in ws] for ws in (weights or [])]
        self.subspaces = [list(s) for s in (subspaces or [])]
        self.models = [list(ms) for ms in (models or [])]
        self.numFeatures = int(num_features)

    def _raw_array_setup(self, df: DataFrame):
        flat_models = [m for ms in self.models for m in ms]
        flat_subspaces = [s for s in self.subspaces for _ in range(self.dim)]
        df, outs, tmp = score_base_models(
            df,
            self.getFeaturesCol(),
            flat_models,
            flat_subspaces,
            self.numFeatures,
            prefix="__gbm_",
        )
        comp = []
        for j in range(self.dim):
            e = F.lit(self.initRaw[j])
            for i in range(self.numModels):
                o = outs[i * self.dim + j]
                e = e + F.lit(self.weights[i][j]) * F.col(o["prediction"])
            comp.append(e)
        if self.dim == 1 and self.numClasses == 2:
            raw = F.array(-comp[0], comp[0])
        else:
            raw = F.array(*comp)
        return df, raw, tmp

    def _probability_from_raw(self, raw: str) -> Column:
        gl = classification_loss(self.getLoss(), self.numClasses)
        return F.expr(gl.link([f"element_at({raw}, {j + 1})" for j in range(self.dim)]))

    # ``models`` is one list of ``dim`` members per round; on disk it is the
    # flat ``model-$i`` sequence, round-major.
    def _save_impl(self, path: str) -> None:
        self._save_declared(path, [m for ms in self.models for m in ms])

    @classmethod
    def _load_impl(cls, path: str) -> "GBMClassificationModel":
        inst, flat = cls._load_declared(path)
        inst.models = [flat[i : i + inst.dim] for i in range(0, len(flat), inst.dim)]
        return inst
