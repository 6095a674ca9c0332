"""Estimator/Model base classes and the shared transform-chain scorer.

The estimator skeleton: every estimator twin under ``regression/`` and
``classification/`` is an :class:`EnsembleEstimator` plus its family's Param
mixin. The base gives each class

* a ``set<Name>(value)`` for every Param it declares, generated when the class
  is defined, so no twin writes one by hand;
* one ``__init__(**kwargs)`` / ``setParams(**kwargs)``;
* one fit prologue and epilogue: ``_fit`` validates the input columns, runs
  the class's own ``_fit_model`` and hands the model the estimator's uid
  (``+ "_model"``) and Param values;
* ``_extract_instances``, the fit's canonical instances of its columns;
* save/load through :class:`~spark_ensemble_spark.core.persistence.EstimatorReadWrite`.

Models derive from :class:`EnsembleModel`, whose persistence
(:class:`~spark_ensemble_spark.core.persistence.ModelReadWrite`) reads what
each model declares; ``copy`` is PySpark's ``Params.copy``. A model holding
members in ``models`` adds :class:`HasMembers` for ``numModels``.

Each family's fit body is shared by its twins too: bagging's is
:func:`~spark_ensemble_spark.core.subbag.fit_bagged_models`, stacking's and
AdaBoost's are in :mod:`~spark_ensemble_spark.core.families`, and GBM's is
:class:`~spark_ensemble_spark.boosting.gbm_params.GBMEstimator`.

Scoring strategy (SURVEY.md §3.2): the reference evaluates every base model
per row inside one executor closure; we instead chain N JVM ``transform``s,
each writing uniquely-named columns, and combine them with scalar Catalyst
expressions: a regressor's one prediction, and a classifier's K raw scores
and K probabilities, one expression per class. No Python round-trip and no
higher-order-function lambda (those are CodegenFallback and run interpreted
per row), so the combine is whole-stage-codegen'd; only a median vote folds
an array (:func:`~spark_ensemble_spark.core.utils.weighted_median`). Any
pyspark.ml base learner (Java- or Python-backed) works unmodified.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence, Tuple

from pyspark.ml.base import Estimator, Model
from pyspark.ml.functions import array_to_vector
from pyspark.ml.param import Param
from pyspark.ml.param.shared import (
    HasFeaturesCol,
    HasLabelCol,
    HasPredictionCol,
    HasProbabilityCol,
    HasRawPredictionCol,
    HasWeightCol,
)
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_ensemble_spark.core.instances import extract_instances
from spark_ensemble_spark.core.persistence import EstimatorReadWrite, ModelReadWrite
from spark_ensemble_spark.core.subbag import is_identity, slice_features
from spark_ensemble_spark.core.utils import argmax_array


class PredictorParams(HasLabelCol, HasFeaturesCol, HasPredictionCol, HasWeightCol):
    """Shared column params (Spark ML conventions: label/features/prediction/weight)."""

    def _validate_input(self, df: DataFrame, fitting: bool) -> None:
        cols = set(df.columns)
        need = [self.getFeaturesCol()]
        if fitting:
            need.append(self.getLabelCol())
            w = self.getWeightCol() if self.isDefined(self.weightCol) else None
            if w:
                need.append(w)
        for c in need:
            if c not in cols:
                raise ValueError(
                    f"Column '{c}' does not exist. Available: {sorted(cols)}"
                )

    def _weight_col_or_none(self) -> Optional[str]:
        if self.isDefined(self.weightCol) and self.getWeightCol():
            return self.getWeightCol()
        return None


class ClassifierParams(PredictorParams, HasRawPredictionCol, HasProbabilityCol):
    pass


def _param_setter(name: str, setter: str):
    def set_param(self, value):
        return self._set(**{name: value})

    set_param.__name__ = set_param.__qualname__ = setter
    set_param.__doc__ = f"Sets the value of :py:attr:`{name}`."
    return set_param


class EnsembleEstimator(Estimator, EstimatorReadWrite):
    """Base of every estimator twin; see the module docstring."""

    def __init_subclass__(cls, **kwargs) -> None:
        super().__init_subclass__(**kwargs)
        for name in dir(cls):
            if isinstance(getattr(cls, name, None), Param):
                setter = "set" + name[0].upper() + name[1:]
                if not hasattr(cls, setter):
                    setattr(cls, setter, _param_setter(name, setter))

    def __init__(self, **kwargs) -> None:
        super().__init__()
        self._set(**kwargs)

    def setParams(self, **kwargs):
        return self._set(**kwargs)

    def _fit(self, df: DataFrame) -> Model:
        self._validate_input(df, fitting=True)
        model = self._fit_model(df)
        model._resetUid(self.uid + "_model")
        return self._copyValues(model)

    def _fit_model(self, df: DataFrame) -> Model:
        """The class's own fit body, on input already validated."""
        raise NotImplementedError

    def _extract_instances(self, df: DataFrame) -> DataFrame:
        """``df`` as the canonical ``(label, weight, features)`` instances of
        this estimator's columns."""
        return extract_instances(
            df, self.getLabelCol(), self.getFeaturesCol(), self._weight_col_or_none()
        )


def score_base_models(
    df: DataFrame,
    features_col: str,
    models: Sequence[Model],
    subspaces: Optional[Sequence[Sequence[int]]],
    num_features: Optional[int],
    prefix: str,
    want_probability: bool = False,
    want_raw: bool = False,
) -> Tuple[DataFrame, List[Dict[str, str]], List[str]]:
    """Chain N base-model transforms over ``df``.

    Returns ``(df, per-model output column names, temp columns to drop)``.
    Every output column of every model is remapped to a unique name so the
    chain never collides — the reference instead serializes all models into a
    single row-at-a-time closure (``BaggingRegressor.scala:221-228``).
    """
    outs: List[Dict[str, str]] = []
    tmp: List[str] = []
    slice_cache: Dict[tuple, str] = {}
    for i, m in enumerate(models):
        overrides = {}
        fcol = features_col
        if subspaces is not None:
            sub = tuple(subspaces[i])
            if not is_identity(sub, num_features):
                if sub in slice_cache:
                    fcol = slice_cache[sub]
                else:
                    df, fcol = slice_features(
                        df, features_col, sub, num_features, f"{prefix}f{i}"
                    )
                    slice_cache[sub] = fcol
                    tmp.append(fcol)
        if m.hasParam("featuresCol"):
            overrides[m.getParam("featuresCol")] = fcol
        cols = {"prediction": f"{prefix}p{i}"}
        overrides[m.getParam("predictionCol")] = cols["prediction"]
        if m.hasParam("rawPredictionCol"):
            name = f"{prefix}r{i}"
            overrides[m.getParam("rawPredictionCol")] = name
            if want_raw:
                cols["rawPrediction"] = name
            tmp.append(name)
        if m.hasParam("probabilityCol"):
            name = f"{prefix}b{i}"
            overrides[m.getParam("probabilityCol")] = name
            if want_probability:
                cols["probability"] = name
            tmp.append(name)
        df = m.transform(df, overrides)
        tmp.append(cols["prediction"])
        outs.append(cols)
    return df, outs, tmp


class EnsembleModel(Model, ModelReadWrite):
    """Base of every fitted model twin: the model setters and declared
    persistence."""

    def setParams(self, **kwargs):
        self._set(**kwargs)
        return self

    def setPredictionCol(self, v: str):
        return self.setParams(predictionCol=v)

    def setFeaturesCol(self, v: str):
        return self.setParams(featuresCol=v)


class HasMembers:
    """A fitted model that holds its members in ``models``."""

    @property
    def numModels(self) -> int:
        return len(self.models)


class EnsembleRegressionModel(EnsembleModel, PredictorParams):
    """Base for regression ensemble models: subclasses provide a Column with
    the combined prediction via ``_prediction_expr``."""

    def _prediction_setup(self, df: DataFrame) -> Tuple[DataFrame, Column, List[str]]:
        raise NotImplementedError

    def _transform(self, df: DataFrame) -> DataFrame:
        self._validate_input(df, fitting=False)
        df, pred, tmp = self._prediction_setup(df)
        out = df.withColumn(self.getPredictionCol(), pred)
        return out.drop(*tmp) if tmp else out


class EnsembleClassificationModel(EnsembleModel, ClassifierParams):
    """Base for probabilistic classification ensembles.

    Subclasses produce the K raw scores (``_raw_scores``) and the
    raw→probability link over them (``_probabilities``), each class's score
    one scalar expression; this base builds each vector once, as Spark-ML-
    conventional ``rawPrediction``/``probability`` vectors, and an argmax
    ``prediction`` (first-max tie-break, matching ``Vector.argmax``).
    """

    def _raw_scores(self, df: DataFrame) -> Tuple[DataFrame, List[Column], List[str]]:
        """``(df, the K raw-score Columns, temp columns to drop)``."""
        raise NotImplementedError

    def _probabilities(self, raw: List[str]) -> List[str]:
        """The K probabilities as SQL text over the raw-score columns
        named ``raw``."""
        raise NotImplementedError

    def _transform(self, df: DataFrame) -> DataFrame:
        self._validate_input(df, fitting=False)
        df, scores, tmp = self._raw_scores(df)
        raw = [f"__ens_r{j}" for j in range(len(scores))]
        df = df.select("*", *[s.alias(r) for s, r in zip(scores, raw)])
        raw_col, prob_col = "__ens_raw", "__ens_prob"
        out = df.select(
            "*",
            F.array(*raw).alias(raw_col),
            F.array(*[F.expr(p) for p in self._probabilities(raw)]).alias(prob_col),
        )
        if self.getRawPredictionCol():
            out = out.withColumn(self.getRawPredictionCol(), array_to_vector(F.col(raw_col)))
        if self.getProbabilityCol():
            out = out.withColumn(self.getProbabilityCol(), array_to_vector(F.col(prob_col)))
        # Spark ML semantics (ClassificationModel.transform with a non-empty
        # rawPredictionCol): prediction = argmax of RAW, not of probability —
        # they can disagree for non-monotone probability links (GBM margin
        # losses), and the reference inherits exactly this behavior.
        out = out.withColumn(self.getPredictionCol(), argmax_array(F.col(raw_col)))
        return out.drop(*tmp, *raw, raw_col, prob_col)
