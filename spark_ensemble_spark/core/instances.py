"""Instance extraction — the DataFrame-native replacement for the reference's
``extractInstances(dataset) -> RDD[Instance]`` hop (e.g.
``/root/reference/core/src/main/scala/org/apache/spark/ml/regression/BaggingRegressor.scala:136``).

We never leave the DataFrame API: instances are just the three columns
``(label double, weight double, features vector)``, with weight defaulting to
1.0 — Catalyst prunes everything else at the parquet scan.

Every ensemble fit reads its training state through here, so this is also
where the state's width is set: an iterative fit runs tens of small jobs over
it, and a state wider than the cluster's cores runs every one of them in
several task waves (see ``fit_width``).
"""

from __future__ import annotations

import math
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LABEL = "label"
WEIGHT = "weight"
FEATURES = "features"


def extract_instances(
    df: DataFrame,
    label_col: str,
    features_col: str,
    weight_col: Optional[str] = None,
) -> DataFrame:
    """Project to canonical ``(label, weight, features)`` columns, narrowed
    to ``fit_width`` partitions when the input is wider and its width can be
    read without running a job.

    Raises the same kind of error the reference's schema validation does when a
    column is missing (``PredictorParams.validateAndTransformSchema``; negative
    test ``BoostingRegressorSuite.scala:169-181``).
    """
    cols = set(df.columns)
    for c in (label_col, features_col) + ((weight_col,) if weight_col else ()):
        if c not in cols:
            raise ValueError(f"Column '{c}' does not exist in {sorted(cols)}")
    weight = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    instances = df.select(
        F.col(label_col).cast("double").alias(LABEL),
        weight.alias(WEIGHT),
        F.col(features_col).alias(FEATURES),  # metadata rides along with the column
    )
    qe = instances._jdf.queryExecution()
    if not _runs_no_job(qe.executedPlan()):
        return instances
    width = fit_width(instances.sparkSession, qe.optimizedPlan().stats().sizeInBytes())
    if width < qe.toRdd().getNumPartitions():
        instances = instances.coalesce(width)
    return instances


def _runs_no_job(plan) -> bool:
    """Whether reading ``plan``'s partition count runs no Spark job.

    An exchange or a subquery would run its stages here and then again in
    the fit's own jobs, so such an input keeps its width. An adaptive plan is
    judged by its initial plan, which holds every exchange. A cached relation
    is a leaf: its stages run once, for the cache, whoever reads it first.
    """
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _runs_no_job(plan.executedPlan())
    if "Exchange" in name or plan.subqueries().nonEmpty():
        return False
    children = plan.children()
    return all(_runs_no_job(children.apply(k)) for k in range(children.size()))


def fit_width(spark, size_bytes: int) -> int:
    """Partition count a fit's training state should have: the cluster's
    cores, or more when ``size_bytes`` (the plan's estimate) needs more
    partitions of ``spark.sql.files.maxPartitionBytes`` each (the scan's own
    split size, so a large input is never squeezed into a few huge
    partitions).

    ``extract_instances`` only ever narrows to it, with a ``coalesce`` that
    merges whole partitions and adds no shuffle; an input at or below this
    width is returned as it came. A plan without size statistics reports
    ``Long.MaxValue`` bytes and so is never narrowed.
    """
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    return max(spark.sparkContext.defaultParallelism, math.ceil(int(size_bytes) / split))


def get_num_features(df: DataFrame, features_col: str) -> int:
    """numFeatures from ``ml_attr`` column metadata, falling back to one row.

    Reference reads it from metadata via ``MetadataUtils.getNumFeatures``
    (``BaggingRegressor.scala:139``); ``VectorAssembler`` always writes it.
    """
    meta = df.schema[features_col].metadata or {}
    ml_attr = meta.get("ml_attr") or {}
    n = ml_attr.get("num_attrs")
    if n is not None and int(n) > 0:
        return int(n)
    row = df.select(features_col).head()
    if row is None:
        raise ValueError("empty dataset: cannot infer numFeatures")
    return len(row[0])


def get_num_classes(df: DataFrame, label_col: str, max_num_classes: int = 100) -> int:
    """numClasses from label metadata if nominal, else max(label)+1, validating
    that labels are integral doubles in ``[0, K)`` in the same single pass.

    Reference: Spark's ``Classifier.getNumClasses`` + ``validateNumClasses`` /
    ``validateLabel`` (used at ``classification/BoostingClassifier.scala:152-157``).
    """
    meta = (df.schema[label_col].metadata or {}).get("ml_attr") or {}
    if meta.get("type") == "nominal":
        vals = meta.get("vals")
        if vals:
            return len(vals)
        if meta.get("num_vals"):
            return int(meta["num_vals"])

    row = df.select(
        F.max(F.col(label_col).cast("double")).alias("mx"),
        F.min(F.col(label_col).cast("double")).alias("mn"),
        F.sum(
            F.when(
                F.isnan(F.col(label_col).cast("double"))
                | (
                    F.col(label_col).cast("double")
                    != F.floor(F.col(label_col).cast("double"))
                ),
                1,
            ).otherwise(0)
        ).alias("bad"),
    ).head()
    if row is None or row["mx"] is None:
        raise ValueError("empty dataset: cannot infer numClasses")
    if row["bad"]:
        raise ValueError(
            "classification labels must be integral (non-NaN) doubles 0..K-1"
        )
    if row["mn"] < 0:
        raise ValueError(f"negative label {row['mn']}: labels must be in [0, K)")
    num_classes = int(row["mx"]) + 1
    if num_classes < 2:
        num_classes = 2  # single-class degenerate set still means binary space
    if num_classes > max_num_classes:
        raise ValueError(
            f"inferred numClasses={num_classes} exceeds maxNumClasses={max_num_classes}"
        )
    return num_classes
