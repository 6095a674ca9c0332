"""SubBag primitives (seeded feature-subspace draws, vector slicing, row
bags) and the bagging twins' shared fit body, :func:`fit_bagged_models`.

Reference semantics: ``/root/reference/core/src/main/scala/org/apache/spark/ml/ensemble/HasSubBag.scala:73-84``
(subspace = filter [0, d) by rng.nextDouble < ratio; slice = dense map /
SparseVector.slice). Property contract from ``HasSubBagSuite.scala:60-105``:
expected size ratio·d, indices sorted, identity at ratio 1.

Deviations from the reference (documented, deliberate):
  * RNG is Python's Mersenne Twister, not XORShiftRandom — exact index parity
    is impossible and unnecessary (reference correctness is statistical).
  * An empty draw falls back to a single random feature instead of an empty
    vector (an empty feature set can only crash the base learner).
  * Row sampling varies the seed per learner / per iteration (``seed + i``).
    The reference reuses one seed for every learner
    (``BaggingRegressor.scala:149-150``, ``GBMRegressor.scala:357-359``) so all
    bags see identical row samples — a latent bug we do not reproduce.
"""

from __future__ import annotations

import random
from typing import Any, Dict, List, Sequence, Tuple

from pyspark.ml.feature import VectorSlicer
from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

from spark_ensemble_spark.core.instances import FEATURES, LABEL, WEIGHT, get_num_features
from spark_ensemble_spark.core.utils import fit_base_learner, run_parallel


def draw_subspace(ratio: float, num_features: int, seed: int) -> List[int]:
    """Seeded feature-index draw; each index kept with probability ``ratio``."""
    rng = random.Random(seed)
    indices = [i for i in range(num_features) if rng.random() < ratio]
    if not indices:
        indices = [rng.randrange(num_features)]
    return indices


def is_identity(indices: Sequence[int], num_features: int) -> bool:
    return len(indices) == num_features


def slice_features(
    df: DataFrame,
    features_col: str,
    indices: Sequence[int],
    num_features: int,
    output_col: str,
) -> Tuple[DataFrame, str]:
    """Add a sliced-features column; no-op when the subspace is the identity.

    ``VectorSlicer`` runs JVM-side, handles dense and sparse vectors, and
    rebuilds the ``ml_attr`` metadata for the selected indices — replacing the
    reference's hand-rolled metadata slice (``ensemble/Utils.scala:42-61``).
    """
    if is_identity(indices, num_features):
        return df, features_col
    slicer = VectorSlicer(inputCol=features_col, outputCol=output_col, indices=list(indices))
    return slicer.transform(df), output_col


def sample_bag(
    df: DataFrame,
    replacement: bool,
    ratio: float,
    seed: int,
) -> DataFrame:
    """Row bootstrap for one bag. ``df.sample`` is partition-local (no shuffle),
    so this scales linearly with input size on any cluster."""
    if not replacement and ratio >= 1.0:
        return df
    return df.sample(withReplacement=replacement, fraction=float(ratio), seed=seed)


def fit_bagged_models(est, df: DataFrame) -> Dict[str, Any]:
    """The one fit body of the bagging twins, reading ``est``'s
    :class:`~spark_ensemble_spark.core.params.BaggingParams`.

    The instances are cached and counted once, then per-learner subspaces are
    drawn and N base learners fitted on independent SubBags via a bounded
    thread pool (reference pattern: ``BaggingRegressor.scala:141-166``; seeds
    vary per learner — see module docstring for the documented deviation).

    Returns the model fields ``subspaces``, ``models`` and ``num_features``.
    """
    base_learner = est.getBaseLearner()
    num_learners = est.getNumBaseLearners()
    replacement = est.getReplacement()
    subsample_ratio = est.getSubsampleRatio()
    subspace_ratio = est.getSubspaceRatio()
    seed = est.getOrDefault(est.seed)
    instances = est._extract_instances(df)
    instances.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        instances.count()
        num_features = get_num_features(instances, FEATURES)
        subspaces = [
            draw_subspace(subspace_ratio, num_features, seed + i) for i in range(num_learners)
        ]

        def fit_one(i: int):
            bag = sample_bag(instances, replacement, subsample_ratio, seed + i)
            bag, fcol = slice_features(bag, FEATURES, subspaces[i], num_features, "__sliced")
            return fit_base_learner(base_learner, bag, LABEL, fcol, "__pred", weight_col=WEIGHT)

        models = run_parallel(
            [lambda i=i: fit_one(i) for i in range(num_learners)],
            est.getOrDefault(est.parallelism),
        )
    finally:
        instances.unpersist()
    return dict(subspaces=subspaces, models=models, num_features=num_features)
