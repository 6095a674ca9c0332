"""spark_ensemble_spark — a PySpark-native ensemble-learning and data-pipeline engine.

A from-scratch, DataFrame-first re-expression of the capabilities of
``pierrenodet/spark-ensemble`` (a Scala library of meta-estimators for ensemble
learning built on Spark MLlib), plus the large-scale training-data-pipeline
operators (dedup, similarity search, multimodal columns, text analysis) such an
engine needs at 100 TB scale.

Design stance (see SURVEY.md §7):
  * Everything data-parallel is a DataFrame op — Catalyst/Tungsten handle
    predicate pushdown, column pruning, whole-stage codegen and AQE.
  * Per-row evolving state (boosting weights, GBM running predictions) lives in
    columns updated with ``withColumn``, never in zipped RDDs.
  * Base-model scoring is chained JVM ``transform``s (no Python round-trip).
  * The GBM step searches (batched Brent-style grid, bounded projected
    gradient in place of L-BFGS-B) run on the driver in plain Python
    (``core/optim``); each optimizer evaluation is a single-pass aggregate.
"""

__version__ = "0.1.0"

from spark_ensemble_spark.regression.dummy import DummyRegressor, DummyRegressionModel
from spark_ensemble_spark.classification.dummy import (
    DummyClassifier,
    DummyClassificationModel,
)
from spark_ensemble_spark.regression.bagging import (
    BaggingRegressor,
    BaggingRegressionModel,
)
from spark_ensemble_spark.classification.bagging import (
    BaggingClassifier,
    BaggingClassificationModel,
)
from spark_ensemble_spark.regression.boosting import (
    BoostingRegressor,
    BoostingRegressionModel,
)
from spark_ensemble_spark.classification.boosting import (
    BoostingClassifier,
    BoostingClassificationModel,
)

__all__ = [
    "DummyRegressor",
    "DummyRegressionModel",
    "DummyClassifier",
    "DummyClassificationModel",
    "BaggingRegressor",
    "BaggingRegressionModel",
    "BaggingClassifier",
    "BaggingClassificationModel",
    "BoostingRegressor",
    "BoostingRegressionModel",
    "BoostingClassifier",
    "BoostingClassificationModel",
]

from spark_ensemble_spark.regression.gbm import GBMRegressor, GBMRegressionModel
from spark_ensemble_spark.classification.gbm import (
    GBMClassifier,
    GBMClassificationModel,
)
from spark_ensemble_spark.regression.stacking import (
    StackingRegressor,
    StackingRegressionModel,
)
from spark_ensemble_spark.classification.stacking import (
    StackingClassifier,
    StackingClassificationModel,
)

__all__ += [
    "GBMRegressor",
    "GBMRegressionModel",
    "GBMClassifier",
    "GBMClassificationModel",
    "StackingRegressor",
    "StackingRegressionModel",
    "StackingClassifier",
    "StackingClassificationModel",
]
