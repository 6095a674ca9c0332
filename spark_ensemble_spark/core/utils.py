"""Column-expression utilities shared by the ensemble estimators.

Everything here builds Catalyst expressions (JVM-side, whole-stage codegen) —
the reference's per-row closures (``ensemble/Utils.scala:26-40`` weighted
median, BLAS vector loops in the models) become column expressions.
"""

from __future__ import annotations

import operator
from concurrent.futures import ThreadPoolExecutor
from functools import reduce
from typing import Callable, List, Optional, Sequence, Tuple

from pyspark.ml.base import Estimator
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Machine epsilon, same constant Spark ML uses (org.apache.spark.ml.impl.Utils.EPSILON).
EPSILON = 2.220446049250313e-16


def fit_base_learner(
    learner: Estimator,
    df: DataFrame,
    label_col: str,
    features_col: str,
    prediction_col: str,
    weight_col: Optional[str] = None,
    raw_prediction_col: Optional[str] = None,
    probability_col: Optional[str] = None,
):
    """Fit a copy of ``learner`` with its column params rewired.

    Mirrors ``ensemble/ensembleParams.scala:64-81``: ``weightCol`` is passed
    only when the base learner supports it; output columns are remapped so N
    fitted models can later transform one DataFrame without name collisions.
    """
    est = learner.copy()
    est.set(est.getParam("labelCol"), label_col)
    est.set(est.getParam("featuresCol"), features_col)
    est.set(est.getParam("predictionCol"), prediction_col)
    if weight_col is not None and est.hasParam("weightCol"):
        est.set(est.getParam("weightCol"), weight_col)
    if raw_prediction_col is not None and est.hasParam("rawPredictionCol"):
        est.set(est.getParam("rawPredictionCol"), raw_prediction_col)
    if probability_col is not None and est.hasParam("probabilityCol"):
        est.set(est.getParam("probabilityCol"), probability_col)
    return _strip_training_summary(est.fit(df))


def _strip_training_summary(model):
    """Drop a fitted MLlib model's JVM ``trainingSummary`` (we never read
    it). The summary holds a SparkSession reference, and the model rides
    into task closures via its transform lambda — which serializes the
    session. That normally works ONLY because ``SparkSession
    .observationManager`` is an uninitialised lazy val; the first
    ``Dataset.observe`` in the session (e.g. ``curation_with_metrics``)
    initialises it, and every later ensemble transform then dies with
    ``NotSerializableException: ObservationManager``. Stripping the
    summary removes the session from the closure graph entirely, so fits
    compose with observe()-instrumented pipelines in one session."""
    jo = getattr(model, "_java_obj", None)
    try:
        if jo is not None and jo.hasSummary():
            from pyspark import SparkContext

            jvm = SparkContext._active_spark_context._jvm
            jo.setSummary(jvm.scala.Option.empty())
    except Exception:
        pass  # models without the summary API (or non-JVM models)
    return model


def run_parallel(thunks: Sequence[Callable[[], object]], parallelism: int) -> List[object]:
    """Bounded thread-pool execution of independent Spark fits.

    PySpark job submission is thread-safe; this is the Python equivalent of the
    reference's ``Future`` + ``awaitResult`` pattern
    (``BaggingRegressor.scala:145-166``).
    """
    if parallelism <= 1 or len(thunks) <= 1:
        return [t() for t in thunks]
    with ThreadPoolExecutor(max_workers=min(parallelism, len(thunks))) as pool:
        futures = [pool.submit(t) for t in thunks]
        return [f.result() for f in futures]


def array_mean(cols: Sequence[str]) -> Column:
    """Mean of N prediction columns — bagging-regressor combine
    (``BaggingRegressor.scala:221-228``)."""
    return reduce(operator.add, map(F.col, cols)) / float(len(cols))


def weighted_mean(cols: Sequence[str], weights: Sequence[float]) -> Column:
    """Weighted mean of N prediction columns — boosting mean vote
    (``BoostingRegressor.scala:338-340``)."""
    total = reduce(operator.add, (F.col(c) * float(w) for c, w in zip(cols, weights)))
    return total / float(sum(weights))


def weighted_median(cols: Sequence[str], weights: Sequence[float]) -> Column:
    """Weighted median across N prediction columns, fully in Catalyst.

    Semantics of ``ensemble/Utils.scala:26-40``: sort (value, weight) pairs by
    value, take the first value whose cumulative weight >= half the total.
    Model weights are driver-side constants, so the total is a literal; the
    scan is an ``aggregate`` over the sorted pairs — no Python round-trip.
    """
    half = 0.5 * float(sum(weights))
    pairs = F.array_sort(
        F.array(
            *[
                F.struct(F.col(c).alias("p"), F.lit(float(w)).alias("w"))
                for c, w in zip(cols, weights)
            ]
        )
    )
    zero = F.struct(
        F.lit(0.0).alias("cum"), F.lit(None).cast("double").alias("ans")
    )

    def step(acc: Column, x: Column) -> Column:
        cum = acc["cum"] + x["w"]
        return F.when(acc["ans"].isNotNull(), acc).otherwise(
            F.struct(
                cum.alias("cum"),
                F.when(cum >= F.lit(half), x["p"]).alias("ans"),
            )
        )

    # Negative model weights (a kept worse-than-chance boosting round) can
    # leave every prefix below half the total; fall back to the largest value
    # instead of emitting NULL (the reference crashes on this same input).
    return F.aggregate(
        pairs,
        zero,
        step,
        lambda acc: F.coalesce(acc["ans"], F.element_at(pairs, -1)["p"]),
    )


def argmax_array(arr: Column) -> Column:
    """Index of the first maximum of an array<double> — ties break to the
    lowest index, matching ``Vector.argmax``."""
    return (F.array_position(arr, F.array_max(arr)) - F.lit(1)).cast("double")


def softmax(ps: Sequence[str]) -> Tuple[str, str, List[str]]:
    """Numerically stable softmax of ``K`` scores given as SQL text:
    ``(max, Σ_j exp(p_j − max), [exp(p_j − max) / Σ])``. Scalar arithmetic
    over the K scores, so whole-stage codegen compiles it; an array form
    would need higher-order-function lambdas, which run interpreted."""
    ps = [f"({p})" for p in ps]
    m = f"greatest({', '.join(ps)})" if len(ps) > 1 else ps[0]
    exps = [f"exp({p} - {m})" for p in ps]
    total = f"({' + '.join(exps)})"
    return m, total, [f"{e} / {total}" for e in exps]


class DFIterationCache:
    """Cache manager for iterative driver loops (boosting/GBM).

    DataFrame equivalent of the reference's ``PeriodicRDDCheckpointer``
    (``BoostingRegressor.scala:202-206``): each iteration's state DataFrame is
    persisted; every ``interval`` updates the lineage is truncated — without
    truncation the per-iteration ``withColumn``/``transform`` chain grows the
    Catalyst plan unboundedly (SURVEY.md §4). An ``interval`` of ``-1`` never
    truncates.

    Truncation strategy: when the application has a checkpoint dir
    (``spark.sparkContext.setCheckpointDir``), use RELIABLE ``checkpoint()``
    (survives executor loss — required on a real cluster for long fits,
    matching the reference's checkpointer semantics); otherwise fall back to
    ``localCheckpoint()``, which is fast but tied to executor liveness.
    """

    def __init__(self, interval: int = 10, keep: int = 2) -> None:
        from pyspark.storagelevel import StorageLevel

        self._level = StorageLevel.MEMORY_AND_DISK
        self.interval = int(interval)
        self.keep = keep
        self._n = 0
        self._live: List[DataFrame] = []

    @staticmethod
    def _has_checkpoint_dir(df: DataFrame) -> bool:
        try:
            sc = df.sparkSession.sparkContext
            d = sc.getCheckpointDir() if hasattr(sc, "getCheckpointDir") else None
            return d is not None
        except Exception:
            return False

    def update(self, df: DataFrame) -> DataFrame:
        self._n += 1
        if self.interval > 0 and self._n % self.interval == 0:
            if self._has_checkpoint_dir(df):
                df = df.checkpoint(eager=True)
            else:
                df = df.localCheckpoint(eager=True)
        else:
            df = df.persist(self._level)
        self._live.append(df)
        while len(self._live) > self.keep:
            old = self._live.pop(0)
            try:
                old.unpersist()
            except Exception:
                pass
        return df

    def close(self) -> None:
        for df in self._live:
            try:
                df.unpersist()
            except Exception:
                pass
        self._live.clear()
