"""The GBM family's shared params and fit (reference
``boosting/GBMParams.scala:29-131``, ``GBMRegressor.scala:305-465``,
``GBMClassifier.scala:290-497``).

Both GBM twins boost through the one round of :class:`GBMEstimator`; they
differ only in their loss, their init and their step search, which the round
reaches through hooks. A validation split is kept in its own
:class:`DFIterationCache` and stops the fit early through
:class:`EarlyStopping`.
"""

from __future__ import annotations

import time
from typing import Callable, List, Optional, Sequence, Tuple

from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.ml.param.shared import (
    HasAggregationDepth,
    HasMaxIter,
    HasSeed,
    HasTol,
    HasValidationIndicatorCol,
)
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_ensemble_spark.boosting.losses import GBMLoss
from spark_ensemble_spark.core.base import EnsembleEstimator
from spark_ensemble_spark.core.instances import FEATURES, LABEL, WEIGHT, get_num_features
from spark_ensemble_spark.core.instrumentation import FitInstrumentation
from spark_ensemble_spark.core.params import (
    HasBaseLearner,
    HasCheckpointInterval,
    HasNumBaseLearners,
    HasSubBag,
    one_of,
)
from spark_ensemble_spark.core.subbag import draw_subspace, sample_bag, slice_features
from spark_ensemble_spark.core.utils import DFIterationCache, fit_base_learner, run_parallel

# The running raw score of a GBM fit's state: a double for the regressor, an
# array of ``dim`` doubles for the classifier.
RAW = "__raw"

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


class EarlyStopping:
    """A GBM fit's validation side (reference ``GBMRegressor.scala:444-465``),
    built from the validation rows of ``GBMEstimator._split_instances``:
    the validation state, cached in its own :class:`DFIterationCache`, and
    the patience count ``v`` of rounds whose validation loss gained less
    than ``validationTol · max(err, 0.01)`` over the best so far. A fit
    keeps ``rounds − v`` members.

    Without validation rows nothing is cached or aggregated and ``v`` stays
    0, so every round is kept.
    """

    def __init__(
        self,
        est: "GBMEstimator",
        val_rows: Optional[DataFrame],
        start: Callable[[DataFrame], DataFrame],
        loss: Callable[[], Column],
    ) -> None:
        """``start`` turns the validation instances into the init model's
        state; ``loss()`` builds the per-row loss of a state."""
        self.tol = est.getValidationTol()
        self.patience = est.getNumRounds()
        self.cache = DFIterationCache(est.getCheckpointInterval())
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


class GBMEstimator(EnsembleEstimator):
    """The GBM twins' fit: :meth:`_boost` runs the one boosting round.

    The state is the training instances plus the running raw score
    :data:`RAW`. The round reads its loss through :meth:`_directions`,
    :meth:`_row_loss` and :meth:`_step_sums`, generic over the loss's
    ``dim``. A twin supplies these hooks:

    * ``_raw_score(j)``: the SQL text of raw score ``j`` of :data:`RAW`;
    * ``_round_loss(gl, state)``: the loss of the round about to run (the
      regressor re-estimates huber's δ); ``gl`` unchanged by default;
    * ``_step_search(gl, bag, dirs)``: ``dim`` step sizes for the members'
      outputs ``dirs`` over the rows they were fit on, found by the twin's
      optimizer over :meth:`_step_sums`;
    * ``_raw_advance(weights, dirs)``: the next raw score.
    """

    def _split_instances(self, df: DataFrame) -> Tuple[DataFrame, Optional[DataFrame]]:
        """The training instances, and the validation rows (None without a
        ``validationIndicatorCol``). A fit's first step: it reads the round's
        size Params, so a bad value fails before any fit work."""
        self.getNumBaseLearners()
        self.getCheckpointInterval()
        if self.isDefined(self.validationIndicatorCol) and self.getValidationIndicatorCol():
            val_col = F.col(self.getValidationIndicatorCol())
            return self._extract_instances(df.filter(~val_col)), df.filter(val_col)
        return self._extract_instances(df), None

    def _round_loss(self, gl: GBMLoss, state: DataFrame) -> GBMLoss:
        return gl

    def _scores(
        self, dim: int, point: Optional[Sequence[float]] = None, dirs: Sequence[str] = ()
    ) -> List[str]:
        """The ``dim`` raw scores as SQL text, each advanced by
        ``point[j]·dirs[j]`` when a step ``point`` is given."""
        ps = [self._raw_score(j) for j in range(dim)]
        if point is None:
            return ps
        return [f"{p} + CAST('{float(x)!r}' AS DOUBLE) * {d}" for p, x, d in zip(ps, point, dirs)]

    def _directions(self, gl: GBMLoss) -> Tuple[List[Column], Optional[List[Column]]]:
        """``dim`` negative-gradient expressions, and ``dim`` hessian
        expressions or None when the loss has none."""
        y, ps = gl.encode_label(LABEL), self._scores(gl.dim)
        hessians = gl.hessian(y, ps)
        return (
            [F.expr(f"-({g})") for g in gl.gradient(y, ps)],
            None if hessians is None else [F.expr(h) for h in hessians],
        )

    def _row_loss(self, gl: GBMLoss) -> Column:
        """The per-row loss, for early stopping."""
        return F.expr(gl.loss(gl.encode_label(LABEL), self._scores(gl.dim)))

    def _step_sums(
        self,
        gl: GBMLoss,
        bag: DataFrame,
        dirs: Sequence[str],
        points: Sequence[Sequence[float]],
        with_grad: bool = False,
    ) -> Tuple[List[float], Optional[List[float]]]:
        """The mean loss of ``raw + x∘dirs`` at every step ``x`` in
        ``points`` and, ``with_grad``, its gradient in ``x`` at ``points[0]``,
        from ONE ``selectExpr`` over ``bag``: ``sum(weight)``,
        ``sum(weight·loss)`` at each point and ``sum(weight·dir_j·grad_j)``
        (the reference ``GBMLossAggregator``'s one-pass loss+gradient,
        ``GBMLoss.scala:34-76``). Every step-search evaluation is built here,
        so each loss's expressions are the same in all of them.

        DELIBERATE DEVIATION: loss and gradient are instance-WEIGHTED
        (Σ w·f / Σ w), while the reference's GBMLossAggregator accumulates
        unweighted and divides by weightSum, so step sizes differ from the
        reference when weightCol is set. Weighted is the consistent choice:
        the gradient the base learner fits is weighted the same way."""
        y = gl.encode_label(LABEL)
        exprs = [f"sum({WEIGHT}) AS sw"] + [
            f"sum({WEIGHT} * ({gl.loss(y, self._scores(gl.dim, x, dirs))})) AS l{k}"
            for k, x in enumerate(points)
        ]
        if with_grad:
            grads = gl.gradient(y, self._scores(gl.dim, points[0], dirs))
            exprs += [
                f"sum({WEIGHT} * {d} * ({g})) AS g{j}" for j, (d, g) in enumerate(zip(dirs, grads))
            ]
        row = bag.selectExpr(*exprs).first()
        sw = row["sw"] or 1.0
        n = len(points)
        losses = [(row[1 + k] or 0.0) / sw for k in range(n)]
        grad = [(row[1 + n + j] or 0.0) / sw for j in range(len(dirs))] if with_grad else None
        return losses, grad

    def _boost(
        self,
        train: DataFrame,
        val_rows: Optional[DataFrame],
        start: Callable[[DataFrame], DataFrame],
        gl: GBMLoss,
        parallelism: int = 1,
    ) -> Tuple[List[List], List[List[int]], List[List[float]], int]:
        """Boost from ``start(instances)``, the init model's state, with
        ``gl.dim`` members a round fitted ``parallelism`` at a time. Returns
        the kept rounds' members, subspaces and weights (one list of ``dim``
        per round) and the number of features.

        A round caches ONE frame (the reference's ``PeriodicRDDCheckpointer``):
        its members' outputs scored once over the full state. That frame is a
        projection of the state, with its partitions and row order, so the
        round's seeded ``sample_bag`` of it is exactly the rows the members
        were fit on; the step search reads that bag, and the next state is a
        projection of the frame.
        """
        num_learners = self.getNumBaseLearners()
        cache = DFIterationCache(self.getCheckpointInterval())
        newton = self.getUpdates() == "newton"
        learning_rate = self.getLearningRate()
        seed = self.getOrDefault(self.seed)
        dim = gl.dim
        dirs = [f"__dir{j}" for j in range(dim)]
        num_features = get_num_features(train, FEATURES)

        def score(frame: DataFrame, subspace: List[int], members: List) -> DataFrame:
            full, _ = slice_features(frame, FEATURES, subspace, num_features, "__sf")
            for m in members:  # each member reads the sliced column, writes its dir
                full = m.transform(full)
            return full

        state = cache.update(start(train))
        stop = EarlyStopping(self, val_rows, start, lambda: self._row_loss(gl))
        instr = FitInstrumentation(self.uid, num_learners)
        models: List[List] = []
        subspaces: List[List[int]] = []
        weights: List[List[float]] = []
        try:
            i = 0
            while i < num_learners and stop.patient():
                gl = self._round_loss(gl, state)
                t0 = time.time()
                subspace = draw_subspace(self.getSubspaceRatio(), num_features, seed + i)
                bag = sample_bag(
                    state, self.getReplacement(), self.getSubsampleRatio(), seed + i
                )
                bag, fcol = slice_features(bag, FEATURES, subspace, num_features, "__sf")
                neg_grads, hessians = self._directions(gl)
                persisted = None
                try:
                    if newton and hessians is not None:
                        # hessian-scaled targets, weighted by 0.5·h/Σh·w
                        hess = [f"__hess{j}" for j in range(dim)]
                        persisted = bag.select(
                            "*",
                            *[F.greatest(h, F.lit(1e-2)).alias(c) for h, c in zip(hessians, hess)],
                        ).persist()
                        sums = persisted.agg(*[F.sum(c) for c in hess]).first()
                        bag = persisted
                        targets = [
                            (ng / F.col(c), 0.5 * F.col(c) / F.lit(float(s)) * F.col(WEIGHT))
                            for ng, c, s in zip(neg_grads, hess, sums)
                        ]
                    else:
                        targets = [(ng, F.col(WEIGHT)) for ng in neg_grads]
                    t1 = time.time()
                    members = run_parallel(
                        [
                            lambda target=target, w=w, d=d: fit_base_learner(
                                self.getBaseLearner(),
                                bag.withColumn("__target", target).withColumn("__w", w),
                                "__target", fcol, d, weight_col="__w",
                            )
                            for (target, w), d in zip(targets, dirs)
                        ],
                        parallelism,
                    )
                finally:
                    if persisted is not None:
                        persisted.unpersist()
                t2 = time.time()

                # The round's only cached frame: every member scored once.
                scored = cache.update(
                    score(state, subspace, members).select(LABEL, WEIGHT, FEATURES, RAW, *dirs)
                )
                if self.getOptimizedWeights():
                    own_bag = sample_bag(
                        scored, self.getReplacement(), self.getSubsampleRatio(), seed + i
                    )
                    steps = self._step_search(gl, own_bag, dirs)
                else:
                    steps = [1.0] * dim
                iweights = [learning_rate * s for s in steps]
                t3 = time.time()

                models.append(members)
                subspaces.append(list(subspace))
                weights.append(iweights)
                raw = self._raw_advance(iweights, dirs).alias(RAW)
                state = scored.select(LABEL, WEIGHT, FEATURES, raw)
                val_error = stop.update(
                    lambda vs: score(vs, subspace, members).select(LABEL, WEIGHT, FEATURES, raw),
                    lambda: self._row_loss(gl),
                )
                instr.iteration(
                    i,
                    weight=",".join(f"{w:.6g}" for w in iweights),
                    val_error=val_error,
                    bag_s=t1 - t0,
                    trees_s=t2 - t1,
                    opt_s=t3 - t2,
                )
                i += 1
        finally:
            cache.close()
            stop.close()

        keep = stop.keep(i)
        instr.done(i, f"kept {keep}")
        return models[:keep], subspaces[:keep], weights[:keep], num_features
