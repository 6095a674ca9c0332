"""GBMRegressor — Friedman gradient-boosting machine over any Spark ML regressor.

Semantic parity with
``/root/reference/core/src/main/scala/org/apache/spark/ml/regression/GBMRegressor.scala:164-539``:

* init model: ``constant`` (Dummy mean/median/quantile(α) per loss), ``zero``,
  or ``base`` (fit the base learner on raw labels);
* per iteration: optional huber δ re-estimation (α-quantile of |residual|),
  SubBag draw, gradient or Newton (hessian-scaled label + hessian weight,
  floored at 1e-2) pseudo-residuals, base fit, optional Brent line-search of
  the step size in [0, 100], shrinkage by ``learningRate``, running-prediction
  update;
* early stopping on a validation split with tolerance ``validationTol`` and
  patience ``numRounds``; the final model keeps ``i − v`` members. The split
  and this bookkeeping are the GBM family's shared ``GBMParams._split_instances``
  and :class:`~spark_ensemble_spark.boosting.gbm_params.EarlyStopping`.

DataFrame-native: the running prediction is a ``__gpred`` column. Each round
caches ONE frame (``DFIterationCache``, the reference's
``PeriodicRDDCheckpointer``): the new member's direction ``__dir`` scored once
over the full training state. The step search reads the round's seeded
``sample_bag`` of that frame — the frame is a projection of the state, with its
partitions and row order, so the sample is exactly the rows the member was fit
on — and evaluates a whole grid of step sizes in ONE whole-stage-codegen'd
``agg`` per pass (the reference pays an ``RDDLossFunction`` pass per
evaluation). The next state is the ``__gpred + w·__dir`` projection of it.
"""

from __future__ import annotations

import time
from typing import List, Optional, Sequence

from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_ensemble_spark.boosting.gbm_params import EarlyStopping, GBMParams
from spark_ensemble_spark.boosting.losses import GBMLoss, regression_loss
from spark_ensemble_spark.core.base import (
    EnsembleEstimator,
    EnsembleRegressionModel,
    HasMembers,
    PredictorParams,
    score_base_models,
)
from spark_ensemble_spark.core.instances import get_num_features
from spark_ensemble_spark.core.instrumentation import FitInstrumentation
from spark_ensemble_spark.core.optim import minimize_scalar_batched
from spark_ensemble_spark.core.subbag import draw_subspace, sample_bag, slice_features
from spark_ensemble_spark.core.params import one_of
from spark_ensemble_spark.core.utils import DFIterationCache, fit_base_learner

_LOSSES = ("squared", "absolute", "huber", "quantile", "logcosh", "scaledlogcosh")
_INIT = ("constant", "zero", "base")


class _GBMRegressorParams(PredictorParams, GBMParams):
    _init_strategies = _INIT

    loss: Param = Param(
        Params._dummy(),
        "loss",
        f"GBM loss, one of {_LOSSES}",
        typeConverter=TypeConverters.toString,
    )

    def __init__(self) -> None:
        super().__init__()
        self._setDefault(loss="squared", initStrategy="constant", alpha=0.9)

    def getLoss(self) -> str:
        return one_of(self, self.loss, _LOSSES)


class GBMRegressor(EnsembleEstimator, _GBMRegressorParams):
    def _fit_init_model(self, train: DataFrame, loss_name: str):
        """Init strategies (``GBMRegressor.scala:287-303``)."""
        from spark_ensemble_spark.regression.dummy import DummyRegressor

        strategy = self.getInitStrategy()
        if strategy == "base":
            return fit_base_learner(
                self.getBaseLearner(), train, "label", "features", "__init_pred",
                weight_col="weight",
            )
        if strategy == "zero":
            dummy = DummyRegressor(strategy="constant", constant=0.0)
        else:
            if loss_name == "squared":
                dummy = DummyRegressor(strategy="mean")
            elif loss_name in ("absolute", "huber", "logcosh", "scaledlogcosh"):
                # logcosh behaves like a smoothed absolute loss; its sum is
                # minimized near the median, the same robust init the
                # absolute/huber branch uses
                dummy = DummyRegressor(strategy="median")
            else:
                dummy = DummyRegressor(strategy="quantile", quantile=self.getAlpha())
        return fit_base_learner(
            dummy, train, "label", "features", "__init_pred", weight_col="weight"
        )

    def _fit_model(self, df: DataFrame) -> "GBMRegressionModel":
        loss_name = self.getLoss()
        alpha = self.getAlpha()
        tol = self.getOrDefault(self.tol)
        num_learners = self.getNumBaseLearners()
        learning_rate = self.getLearningRate()
        newton = self.getUpdates() == "newton"
        seed = self.getOrDefault(self.seed)

        train, val_rows = self._split_instances(df)
        num_features = get_num_features(train, "features")

        # δ for huber starts as the α-quantile of the label (reference :305-308)
        delta = None
        if loss_name == "huber":
            delta = train.select(F.col("label").alias("__l")).stat.approxQuantile(
                "__l", [alpha], tol
            )[0]

        def current_loss() -> GBMLoss:
            return regression_loss(loss_name, alpha, quantile_delta=delta)

        init = self._fit_init_model(train, loss_name)

        def start(instances: DataFrame) -> DataFrame:
            return init.transform(
                instances, {init.getParam("predictionCol"): "__gpred"}
            ).select("label", "weight", "features", "__gpred")

        cache = DFIterationCache(self.getOrDefault(self.checkpointInterval))
        state = cache.update(start(train))
        stop = EarlyStopping(
            self, val_rows, start, lambda: current_loss().loss(F.col("label"), F.col("__gpred"))
        )

        instr = FitInstrumentation(self.uid, num_learners)
        models: List = []
        subspaces: List[List[int]] = []
        weights: List[float] = []

        try:
            i = 0
            while i < num_learners and stop.patient():
                if loss_name == "huber":
                    delta = (
                        state.select(
                            F.abs(F.col("label") - F.col("__gpred")).alias("__r")
                        ).stat.approxQuantile("__r", [alpha], tol)[0]
                    )
                gl = current_loss()

                subspace = draw_subspace(self.getSubspaceRatio(), num_features, seed + i)
                bag = sample_bag(
                    state, self.getReplacement(), self.getSubsampleRatio(), seed + i
                )
                bag, fcol = slice_features(bag, "features", subspace, num_features, "__sf")

                neg_grad = gl.neg_gradient(F.col("label"), F.col("__gpred"))
                _t0 = time.time()
                persisted_bag = None
                try:
                    if newton and gl.has_hessian:
                        persisted_bag = bag.withColumn(
                            "__hess",
                            F.greatest(
                                gl.hessian(F.col("label"), F.col("__gpred")), F.lit(1e-2)
                            ),
                        ).persist()
                        sum_hess = persisted_bag.agg(F.sum("__hess")).first()[0]
                        bag = persisted_bag.withColumn(
                            "__target", neg_grad / F.col("__hess")
                        ).withColumn(
                            "__w",
                            0.5 * F.col("__hess") / F.lit(sum_hess) * F.col("weight"),
                        )
                    else:
                        bag = bag.withColumn("__target", neg_grad).withColumn(
                            "__w", F.col("weight")
                        )

                    model = fit_base_learner(
                        self.getBaseLearner(), bag, "__target", fcol, "__dir",
                        weight_col="__w",
                    )
                finally:
                    if persisted_bag is not None:
                        persisted_bag.unpersist()
                trees_s = time.time() - _t0

                # Score the new member ONCE over the full training state; this
                # is the round's only cached frame. It is a projection of the
                # state, so it has the state's partitions and row order. The
                # member already reads the sliced column and writes ``__dir``.
                full, _ = slice_features(state, "features", subspace, num_features, "__sf")
                scored = model.transform(full).select(
                    "label", "weight", "features", "__gpred", "__dir"
                )
                scored = cache.update(scored)

                _t1 = time.time()
                if self.getOptimizedWeights():
                    # The same seeded sample of the same rows in the same
                    # partitions: exactly the bag the member was fit on.
                    opt_df = sample_bag(
                        scored, self.getReplacement(), self.getSubsampleRatio(), seed + i
                    )

                    def objective_batch(xs):
                        # ONE agg evaluates every candidate step size — a grid
                        # of loss sums instead of Brent's sequential passes
                        # (each pass is a full scan of the bag at scale).
                        # DELIBERATE DEVIATION from the reference: the
                        # objective is the WEIGHTED mean loss Σ(w·loss)/Σw,
                        # while GBMLossAggregator accumulates loss unweighted
                        # and divides by weightSum — so step sizes differ from
                        # the reference when weightCol is set. Weighted is the
                        # consistent choice (the gradient the base learner
                        # fits is weighted the same way).
                        if gl.loss_sql("label", "__p") is not None:
                            # one selectExpr builds the whole grid in a single
                            # Py4J roundtrip (the Column form costs ~10
                            # roundtrips per operator per candidate — measured
                            # ~25% of the fit's wall clock); the SQL mirrors
                            # parse to the same expressions
                            exprs = ["sum(weight) AS sw"] + [
                                "sum(weight * ({})) AS l{}".format(
                                    gl.loss_sql(
                                        "label",
                                        "__gpred + CAST('{!r}' AS DOUBLE) * __dir".format(
                                            float(x)
                                        ),
                                    ),
                                    k,
                                )
                                for k, x in enumerate(xs)
                            ]
                            row = opt_df.selectExpr(*exprs).first()
                        else:
                            row = opt_df.agg(
                                F.sum("weight").alias("sw"),
                                *[
                                    F.sum(
                                        F.col("weight")
                                        * gl.loss(
                                            F.col("label"),
                                            F.col("__gpred")
                                            + F.lit(float(x)) * F.col("__dir"),
                                        )
                                    ).alias(f"l{k}")
                                    for k, x in enumerate(xs)
                                ],
                            ).first()
                        sw = row["sw"] or 1.0
                        return [(row[k + 1] or 0.0) / sw for k in range(len(xs))]

                    solution = minimize_scalar_batched(objective_batch, 0.0, 100.0)
                else:
                    solution = 1.0
                opt_s = time.time() - _t1
                weight = learning_rate * solution

                models.append(model)
                subspaces.append(list(subspace))
                weights.append(weight)

                state = scored.select(
                    "label", "weight", "features",
                    (F.col("__gpred") + F.lit(weight) * F.col("__dir")).alias("__gpred"),
                )

                def advance(val_state: DataFrame) -> DataFrame:
                    vfull, _ = slice_features(
                        val_state, "features", subspace, num_features, "__sf"
                    )
                    return model.transform(vfull).withColumn(
                        "__gpred", F.col("__gpred") + F.lit(weight) * F.col("__dir")
                    ).select("label", "weight", "features", "__gpred")

                val_error = stop.update(
                    advance, lambda: gl.loss(F.col("label"), F.col("__gpred"))
                )
                instr.iteration(
                    i, step=solution, weight=weight, val_error=val_error,
                    trees_s=trees_s, opt_s=opt_s,
                )
                i += 1
        finally:
            cache.close()
            stop.close()

        keep = stop.keep(i)
        instr.done(i, f"kept {keep}")
        return GBMRegressionModel(
            weights=weights[:keep],
            subspaces=subspaces[:keep],
            models=models[:keep],
            init_model=init,
            num_features=num_features,
        )


class GBMRegressionModel(HasMembers, EnsembleRegressionModel, _GBMRegressorParams):
    _data_fields = ("weights", "subspaces", "numFeatures")
    _sub_instances = (("init", "init"),)

    def __init__(
        self,
        weights: Optional[Sequence[float]] = None,
        subspaces: Optional[Sequence[Sequence[int]]] = None,
        models: Optional[Sequence] = None,
        init_model=None,
        num_features: int = 0,
    ) -> None:
        super().__init__()
        self.weights = [float(w) for w in (weights or [])]
        self.subspaces = [list(s) for s in (subspaces or [])]
        self.models = list(models or [])
        self.init = init_model
        self.numFeatures = int(num_features)

    def _prediction_setup(self, df: DataFrame):
        init_col = "__gbm_init"
        overrides = {self.init.getParam("predictionCol"): init_col}
        if self.init.hasParam("featuresCol"):
            overrides[self.init.getParam("featuresCol")] = self.getFeaturesCol()
        df = self.init.transform(df, overrides)
        tmp = [init_col]
        df, outs, tmp2 = score_base_models(
            df,
            self.getFeaturesCol(),
            self.models,
            self.subspaces,
            self.numFeatures,
            prefix="__gbm_",
        )
        pred = F.col(init_col)
        for o, w in zip(outs, self.weights):
            pred = pred + F.lit(w) * F.col(o["prediction"])
        return df, pred, tmp + tmp2
