"""Ensemble persistence: the reference's directory layout, PySpark-native.

Layout (mirrors ``BaggingRegressor.scala:46-62,251-264`` /
``ensemble/ensembleParams.scala:85-105,168-193``):

    path/
      metadata/        params-minus-learners JSON (DefaultParamsWriter format)
      learner/         unfitted base learner (its own .save); learner-$i/ for lists
      stacker/         unfitted meta learner (stacking only)
      model-$i/        fitted sub-models (their own .save)
      init/, stack/    other fitted instances a model holds (GBM init, stacker)
      data/            one JSON line of aux arrays (weights, subspaces, ...)

Nothing here is written per class. One pair of ``_save_impl``/``_load_impl``
serves every estimator (:class:`EstimatorReadWrite`): it writes the JSON
params and a directory for each estimator-valued Param the class declares.
One pair serves every model (:class:`ModelReadWrite`): a model declares the
attributes of its ``data`` line and the instances it saves in their own
directory, and its ``models`` list, if it has one, becomes ``model-$i/``.

All I/O goes through the SparkContext (hadoop-FS safe — works on HDFS/S3/local
alike); nothing assumes a local filesystem.
"""

from __future__ import annotations

import json
from typing import Any, Dict, Optional, Sequence, Tuple

from pyspark.ml.util import (
    DefaultParamsReader,
    DefaultParamsWriter,
    MLReadable,
    MLReader,
    MLWritable,
    MLWriter,
)
from pyspark.sql import SparkSession


def _active_spark() -> SparkSession:
    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError("no active SparkSession")
    return spark


# Param names holding estimator objects — excluded from JSON metadata,
# persisted as sub-directories instead.
ESTIMATOR_PARAMS = ("baseLearner", "baseLearners", "stacker")


def json_param_map(instance) -> Dict[str, Any]:
    """Explicitly-set params as a JSON-encodable dict, skipping estimator-valued
    ones (same filter as ``BoostingRegressorParams.saveImpl``,
    ``BoostingRegressor.scala:114-121``)."""
    out: Dict[str, Any] = {}
    for p, v in instance._paramMap.items():
        if p.name in ESTIMATOR_PARAMS:
            continue
        out[p.name] = v
    return out


def save_metadata(instance, path: str, extra: Optional[Dict[str, Any]] = None) -> None:
    spark = _active_spark()
    DefaultParamsWriter.saveMetadata(
        instance, path, spark.sparkContext, extraMetadata=extra, paramMap=json_param_map(instance)
    )


def load_metadata(path: str) -> Dict[str, Any]:
    spark = _active_spark()
    return DefaultParamsReader.loadMetadata(path, spark.sparkContext)


def set_params_from_metadata(instance, metadata: Dict[str, Any]) -> None:
    DefaultParamsReader.getAndSetParams(instance, metadata)


def save_instance(obj, path: str) -> None:
    """Save a pyspark.ml estimator/model (Java- or Python-backed) under path."""
    obj.save(path)


def load_instance(path: str):
    """Load an estimator/model of unknown class (reference:
    ``DefaultParamsReader.loadParamsInstance``, ``BoostingRegressor.scala:399-402``)."""
    spark = _active_spark()
    return DefaultParamsReader.loadParamsInstance(path, spark.sparkContext)


def save_json(path: str, obj: Dict[str, Any]) -> None:
    spark = _active_spark()
    spark.sparkContext.parallelize([json.dumps(obj)], 1).saveAsTextFile(path)


def load_json(path: str) -> Dict[str, Any]:
    spark = _active_spark()
    return json.loads("".join(spark.sparkContext.textFile(path).collect()))


class _FnWriter(MLWriter):
    def __init__(self, instance):
        super().__init__()
        self._instance = instance

    def saveImpl(self, path: str) -> None:
        self._instance._save_impl(path)


class _FnReader(MLReader):
    def __init__(self, cls):
        super().__init__()
        self._cls = cls

    def load(self, path: str):
        return self._cls._load_impl(path)


class EnsembleReadWrite(MLWritable, MLReadable):
    """Mixin wiring ``save``/``load`` to a class's ``_save_impl``/``_load_impl``."""

    def write(self) -> MLWriter:
        return _FnWriter(self)

    @classmethod
    def read(cls) -> MLReader:
        return _FnReader(cls)


class EstimatorReadWrite(EnsembleReadWrite):
    """Estimator persistence, driven by the ``ESTIMATOR_PARAMS`` a class has:
    ``baseLearner`` goes to ``learner/``, ``baseLearners`` to ``learner-$i/``
    with ``numLearners`` in the metadata, ``stacker`` to ``stacker/``."""

    def _save_impl(self, path: str) -> None:
        learners = self.getOrDefault("baseLearners") if self.hasParam("baseLearners") else None
        extra = None if learners is None else {"numLearners": len(learners)}
        save_metadata(self, path, extra=extra)
        if self.hasParam("baseLearner"):
            save_instance(self.getOrDefault("baseLearner"), f"{path}/learner")
        for i, learner in enumerate(learners or []):
            save_instance(learner, f"{path}/learner-{i}")
        if self.hasParam("stacker"):
            save_instance(self.getOrDefault("stacker"), f"{path}/stacker")

    @classmethod
    def _load_impl(cls, path: str):
        meta = load_metadata(path)
        inst = cls()
        set_params_from_metadata(inst, meta)
        if inst.hasParam("baseLearner"):
            inst._set(baseLearner=load_instance(f"{path}/learner"))
        if inst.hasParam("baseLearners"):
            n = int(meta["numLearners"])
            inst._set(baseLearners=[load_instance(f"{path}/learner-{i}") for i in range(n)])
        if inst.hasParam("stacker"):
            inst._set(stacker=load_instance(f"{path}/stacker"))
        return inst


class ModelReadWrite(EnsembleReadWrite):
    """Fitted-model persistence, driven by two declarations:

    * ``_data_fields``: attributes written, in order, to the ``data`` JSON line;
    * ``_sub_instances``: ``(attribute, directory)`` pairs for fitted
      instances saved under their own directory (GBM ``init/``, stacking
      ``stack/``).

    A model with a ``models`` list saves it as ``model-$i/`` and writes
    ``numModels`` to both the metadata and the data line. A model whose members
    are not a flat list (GBMClassificationModel) passes its own list to
    ``_save_declared`` and rebuilds it from ``_load_declared``.
    """

    _data_fields: Tuple[str, ...] = ()
    _sub_instances: Tuple[Tuple[str, str], ...] = ()

    def _save_impl(self, path: str) -> None:
        self._save_declared(path, getattr(self, "models", None))

    @classmethod
    def _load_impl(cls, path: str):
        inst, members = cls._load_declared(path)
        if members is not None:
            inst.models = members
        return inst

    def _save_declared(self, path: str, members: Optional[Sequence]) -> None:
        data = {f: getattr(self, f) for f in self._data_fields}
        if members is None:
            save_metadata(self, path)
        else:
            save_metadata(self, path, extra={"numModels": len(members)})
            for i, m in enumerate(members):
                save_instance(m, f"{path}/model-{i}")
            data["numModels"] = len(members)
        save_json(f"{path}/data", data)
        for attr, sub in self._sub_instances:
            save_instance(getattr(self, attr), f"{path}/{sub}")

    @classmethod
    def _load_declared(cls, path: str):
        """Returns ``(instance, members)``; ``members`` is None when nothing
        was saved as ``model-$i/``."""
        metadata = load_metadata(path)
        data = load_json(f"{path}/data")
        members = None
        if "numModels" in data:
            members = [load_instance(f"{path}/model-{i}") for i in range(int(data["numModels"]))]
        inst = cls()
        for f in cls._data_fields:
            setattr(inst, f, data[f])
        for attr, sub in cls._sub_instances:
            setattr(inst, attr, load_instance(f"{path}/{sub}"))
        inst._resetUid(metadata["uid"])
        set_params_from_metadata(inst, metadata)
        return inst, members
