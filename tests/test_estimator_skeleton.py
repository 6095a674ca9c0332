"""The shared estimator skeleton (``core/base.py``, ``core/persistence.py``,
``core/families.py``): every declared Param has a setter, every twin
round-trips through save/load, model ``copy`` keeps the original intact,
enumerated string Params fail in their getters and size Params out of their
range too, the on-disk layout of all twenty classes stays pinned, and so do
the fitted values of the shared fit bodies.
"""

import math
import os

import pytest
from pyspark.ml.classification import DecisionTreeClassifier, LogisticRegression
from pyspark.ml.linalg import Vectors
from pyspark.ml.regression import DecisionTreeRegressor, LinearRegression

from spark_ensemble_spark import (
    BaggingClassifier,
    BaggingRegressor,
    BoostingClassifier,
    BoostingRegressor,
    DummyClassifier,
    DummyRegressor,
    GBMClassifier,
    GBMRegressor,
    StackingClassifier,
    StackingRegressor,
)
from spark_ensemble_spark.core.persistence import ESTIMATOR_PARAMS

# name -> (estimator factory, training frame: "reg" | "clf")
ESTIMATORS = {
    "BaggingRegressor": (
        lambda: BaggingRegressor(
            baseLearner=DecisionTreeRegressor(maxDepth=2),
            numBaseLearners=2,
            subspaceRatio=0.7,
            seed=3,
        ),
        "reg",
    ),
    "BaggingClassifier": (
        lambda: BaggingClassifier(
            baseLearner=DecisionTreeClassifier(maxDepth=2),
            numBaseLearners=2,
            votingStrategy="soft",
            seed=3,
        ),
        "clf",
    ),
    "BoostingRegressor": (
        lambda: BoostingRegressor(
            baseLearner=DecisionTreeRegressor(maxDepth=2), numBaseLearners=2, seed=3
        ),
        "reg",
    ),
    "BoostingClassifier": (
        lambda: BoostingClassifier(
            baseLearner=DecisionTreeClassifier(maxDepth=2),
            numBaseLearners=2,
            algorithm="discrete",
        ),
        "clf",
    ),
    "GBMRegressor": (
        lambda: GBMRegressor(
            baseLearner=DecisionTreeRegressor(maxDepth=2), numBaseLearners=2, seed=3
        ),
        "reg",
    ),
    "GBMClassifier": (
        lambda: GBMClassifier(
            baseLearner=DecisionTreeRegressor(maxDepth=2),
            numBaseLearners=2,
            optimizedWeights=False,
        ),
        "clf",
    ),
    "StackingRegressor": (
        lambda: StackingRegressor(
            baseLearners=[DecisionTreeRegressor(maxDepth=2), LinearRegression()],
            stacker=LinearRegression(regParam=0.1),
        ),
        "reg",
    ),
    "StackingClassifier": (
        lambda: StackingClassifier(
            baseLearners=[
                DecisionTreeClassifier(maxDepth=2),
                LogisticRegression(maxIter=5),
            ],
            stacker=LogisticRegression(maxIter=5),
            stackMethod="proba",
        ),
        "clf",
    ),
    "DummyRegressor": (lambda: DummyRegressor(strategy="median", tol=0.0), "reg"),
    "DummyClassifier": (lambda: DummyClassifier(strategy="prior"), "clf"),
}
NAMES = sorted(ESTIMATORS)


def make_frames(spark):
    """Two small deterministic frames: a regression label and a 3-class label
    over the same four features."""
    rows = []
    for i in range(96):
        x = [float((i * 7) % 11), float((i * 5) % 13) / 2.0, float(i % 4), float((i * 3) % 7)]
        reg = 0.8 * x[0] - x[1] + 0.5 * (i % 3)
        cls = 0.0 if x[0] < 4 else (1.0 if x[0] < 8 else 2.0)
        if i % 9 == 0:
            cls = float((int(cls) + 1) % 3)
        rows.append((Vectors.dense(x), reg, cls))
    df = spark.createDataFrame(rows, ["features", "reg", "clf"])
    return {
        "reg": df.selectExpr("features", "reg AS label").cache(),
        "clf": df.selectExpr("features", "clf AS label").cache(),
        "bin": df.selectExpr("features", "CAST(clf > 0 AS DOUBLE) AS label").cache(),
    }


# GBM fits beyond ESTIMATORS: subsampled and subspaced ones, whose step
# search reads each round's re-drawn bag, and one optimized fit for each loss
# that no other pin fits: name -> (estimator factory, training frame).
BAGGED_GBM = {
    "GBMClassifier(3-class, newton, bagged)": (
        lambda: GBMClassifier(
            baseLearner=DecisionTreeRegressor(maxDepth=2),
            numBaseLearners=3,
            subsampleRatio=0.7,
            subspaceRatio=0.75,
            updates="newton",
            optimizedWeights=True,
        ),
        "clf",
    ),
    "GBMClassifier(bernoulli, newton, bagged)": (
        lambda: GBMClassifier(
            baseLearner=DecisionTreeRegressor(maxDepth=2),
            numBaseLearners=3,
            loss="bernoulli",
            subsampleRatio=0.7,
            subspaceRatio=0.75,
            updates="newton",
        ),
        "bin",
    ),
    "GBMRegressor(huber, newton, bagged)": (
        lambda: GBMRegressor(
            baseLearner=DecisionTreeRegressor(maxDepth=2),
            numBaseLearners=3,
            loss="huber",
            subsampleRatio=0.7,
            subspaceRatio=0.75,
            updates="newton",
        ),
        "reg",
    ),
    **{
        f"GBMRegressor({loss})": (
            lambda loss=loss: GBMRegressor(
                baseLearner=DecisionTreeRegressor(maxDepth=2),
                numBaseLearners=2,
                loss=loss,
                optimizedWeights=True,
                seed=3,
            ),
            "reg",
        )
        for loss in ("absolute", "quantile", "logcosh", "scaledlogcosh")
    },
    "GBMClassifier(exponential)": (
        lambda: GBMClassifier(
            baseLearner=DecisionTreeRegressor(maxDepth=2),
            numBaseLearners=2,
            loss="exponential",
            optimizedWeights=True,
        ),
        "bin",
    ),
}


def fit_all(frames):
    return {n: f().fit(frames[kind]) for n, (f, kind) in ESTIMATORS.items()}


def saved_layout(path):
    """What a save left on disk, in the form of the literals below: child
    directories, saved paramMap keys, extra metadata keys, data JSON keys
    (None without a data directory), plus the sorted defaultParamMap keys."""
    from spark_ensemble_spark.core.persistence import load_json, load_metadata

    meta = load_metadata(path)
    children = sorted(c for c in os.listdir(path) if os.path.isdir(os.path.join(path, c)))
    standard = {"class", "timestamp", "sparkVersion", "uid", "paramMap", "defaultParamMap"}
    layout = (
        " ".join(children),
        " ".join(meta["paramMap"]),
        " ".join(sorted(set(meta) - standard)),
        " ".join(load_json(f"{path}/data")) if "data" in children else None,
    )
    return layout, " ".join(sorted(meta["defaultParamMap"]))


# Captured before the estimator skeleton, for the ESTIMATORS above; every
# entry is a space-separated list. Per class: child directories, saved
# paramMap keys in order, extra metadata keys, and data JSON keys in order
# (None: no data directory).
EST_LAYOUT = {
    "BaggingClassifier": (
        "learner metadata",
        "numBaseLearners votingStrategy seed",
        "",
        None,
    ),
    "BaggingRegressor": (
        "learner metadata",
        "numBaseLearners subspaceRatio seed",
        "",
        None,
    ),
    "BoostingClassifier": ("learner metadata", "numBaseLearners algorithm", "", None),
    "BoostingRegressor": ("learner metadata", "numBaseLearners seed", "", None),
    "DummyClassifier": ("metadata", "strategy", "", None),
    "DummyRegressor": ("metadata", "strategy tol", "", None),
    "GBMClassifier": ("learner metadata", "numBaseLearners optimizedWeights", "", None),
    "GBMRegressor": ("learner metadata", "numBaseLearners seed", "", None),
    "StackingClassifier": (
        "learner-0 learner-1 metadata stacker",
        "stackMethod",
        "numLearners",
        None,
    ),
    "StackingRegressor": (
        "learner-0 learner-1 metadata stacker",
        "",
        "numLearners",
        None,
    ),
}
MODEL_LAYOUT = {
    "BaggingClassifier": (
        "data metadata model-0 model-1",
        "numBaseLearners seed votingStrategy",
        "numModels",
        "subspaces numFeatures numClasses numModels",
    ),
    "BaggingRegressor": (
        "data metadata model-0 model-1",
        "numBaseLearners seed subspaceRatio",
        "numModels",
        "subspaces numFeatures numModels",
    ),
    "BoostingClassifier": (
        "data metadata model-0 model-1",
        "algorithm numBaseLearners",
        "numModels",
        "weights numClasses numFeatures numModels",
    ),
    "BoostingRegressor": (
        "data metadata model-0 model-1",
        "numBaseLearners seed",
        "numModels",
        "weights numFeatures numModels",
    ),
    "DummyClassifier": (
        "data metadata",
        "strategy",
        "",
        "numClasses rawPrediction probability",
    ),
    "DummyRegressor": ("data metadata", "strategy tol", "", "prediction"),
    "GBMClassifier": (
        "data metadata model-0 model-1 model-2 model-3 model-4 model-5",
        "numBaseLearners optimizedWeights",
        "numModels",
        "weights subspaces numClasses dim initRaw numFeatures numModels",
    ),
    "GBMRegressor": (
        "data init metadata model-0 model-1",
        "numBaseLearners seed",
        "numModels",
        "weights subspaces numFeatures numModels",
    ),
    "StackingClassifier": (
        "data metadata model-0 model-1 stack",
        "stackMethod",
        "numModels",
        "numModels",
    ),
    "StackingRegressor": (
        "data metadata model-0 model-1 stack",
        "",
        "numModels",
        "numModels",
    ),
}
# Saved defaultParamMap keys (sorted); the same for an estimator and its model.
DEFAULT_PARAMS = {
    "BaggingClassifier": (
        "featuresCol labelCol numBaseLearners parallelism predictionCol probabilityCol "
        "rawPredictionCol replacement seed subsampleRatio subspaceRatio votingStrategy"
    ),
    "BaggingRegressor": (
        "featuresCol labelCol numBaseLearners parallelism predictionCol replacement seed "
        "subsampleRatio subspaceRatio"
    ),
    "BoostingClassifier": (
        "aggregationDepth algorithm checkpointInterval featuresCol labelCol "
        "numBaseLearners predictionCol probabilityCol rawPredictionCol seed"
    ),
    "BoostingRegressor": (
        "aggregationDepth checkpointInterval featuresCol labelCol lossType "
        "numBaseLearners predictionCol seed votingStrategy"
    ),
    "DummyClassifier": (
        "constant featuresCol labelCol predictionCol probabilityCol rawPredictionCol "
        "strategy"
    ),
    "DummyRegressor": "constant featuresCol labelCol predictionCol quantile strategy tol",
    "GBMClassifier": (
        "aggregationDepth alpha checkpointInterval featuresCol initStrategy labelCol "
        "learningRate loss maxIter numBaseLearners numRounds optimizedWeights parallelism "
        "predictionCol probabilityCol rawPredictionCol replacement seed subsampleRatio "
        "subspaceRatio tol updates validationTol"
    ),
    "GBMRegressor": (
        "aggregationDepth alpha checkpointInterval featuresCol initStrategy labelCol "
        "learningRate loss maxIter numBaseLearners numRounds optimizedWeights "
        "predictionCol replacement seed subsampleRatio subspaceRatio tol updates "
        "validationTol"
    ),
    "StackingClassifier": "featuresCol labelCol parallelism predictionCol stackMethod",
    "StackingRegressor": "featuresCol labelCol parallelism predictionCol",
}
# Setter names each estimator had before setters were generated.
SETTERS_BEFORE = {
    "BaggingClassifier": (
        "setBaseLearner setFeaturesCol setLabelCol setNumBaseLearners setParallelism "
        "setParams setReplacement setSeed setSubsampleRatio setSubspaceRatio "
        "setVotingStrategy setWeightCol"
    ),
    "BaggingRegressor": (
        "setBaseLearner setFeaturesCol setLabelCol setNumBaseLearners setParallelism "
        "setParams setReplacement setSeed setSubsampleRatio setSubspaceRatio setWeightCol"
    ),
    "BoostingClassifier": (
        "setAggregationDepth setAlgorithm setBaseLearner setCheckpointInterval "
        "setFeaturesCol setLabelCol setNumBaseLearners setParams setWeightCol"
    ),
    "BoostingRegressor": (
        "setAggregationDepth setBaseLearner setCheckpointInterval setFeaturesCol "
        "setLabelCol setLossType setNumBaseLearners setParams setVotingStrategy "
        "setWeightCol"
    ),
    "DummyClassifier": "setConstant setFeaturesCol setLabelCol setParams setStrategy",
    "DummyRegressor": (
        "setConstant setFeaturesCol setLabelCol setParams setPredictionCol setQuantile "
        "setStrategy setTol"
    ),
    "GBMClassifier": (
        "setAggregationDepth setBaseLearner setCheckpointInterval setFeaturesCol "
        "setInitStrategy setLabelCol setLearningRate setLoss setMaxIter "
        "setNumBaseLearners setNumRounds setOptimizedWeights setParallelism setParams "
        "setReplacement setSeed setSubsampleRatio setSubspaceRatio setTol setUpdates "
        "setValidationIndicatorCol setValidationTol setWeightCol"
    ),
    "GBMRegressor": (
        "setAggregationDepth setAlpha setBaseLearner setCheckpointInterval setFeaturesCol "
        "setInitStrategy setLabelCol setLearningRate setLoss setMaxIter "
        "setNumBaseLearners setNumRounds setOptimizedWeights setParams setReplacement "
        "setSeed setSubsampleRatio setSubspaceRatio setTol setUpdates "
        "setValidationIndicatorCol setValidationTol setWeightCol"
    ),
    "StackingClassifier": (
        "setBaseLearners setFeaturesCol setLabelCol setParallelism setParams "
        "setStackMethod setStacker setWeightCol"
    ),
    "StackingRegressor": (
        "setBaseLearners setFeaturesCol setLabelCol setParallelism setParams setStacker "
        "setWeightCol"
    ),
}


# Captured before the families' fit bodies were shared, for the ESTIMATORS
# above fitted on make_frames (plus one GBMClassifier with optimized step
# sizes): every ``_data_fields`` value, then sum(prediction) of the model over
# its own training frame.
FITTED_VALUES = {
    "BaggingClassifier": (
        {"numClasses": 3, "numFeatures": 4, "subspaces": [[0, 1, 2, 3], [0, 1, 2, 3]]},
        87.0,
    ),
    "BaggingRegressor": (
        {"numFeatures": 4, "subspaces": [[0, 1, 2, 3], [0, 1, 2, 3]]},
        149.00830808080804,
    ),
    "BoostingClassifier": (
        {
            "numClasses": 3,
            "numFeatures": 4,
            "weights": [2.737903164251891, 1.5875791186216008],
        },
        87.0,
    ),
    "BoostingRegressor": (
        {"numFeatures": 4, "weights": [0.9741000367636818, 0.8665860084824994]},
        148.59999999999997,
    ),
    "DummyClassifier": (
        {
            "numClasses": 3,
            "probability": [0.3541666666666667, 0.3645833333333333, 0.28125],
            "rawPrediction": [
                -1.0379876668516748, -1.0090001299784226, -1.2685113254635072
            ],
        },
        96.0,
    ),
    "DummyRegressor": ({"prediction": 1.3000000000000007}, 124.80000000000007),
    "GBMClassifier": (
        {
            "dim": 3,
            "initRaw": [-1.0379876668516748, -1.0090001299784226, -1.2685113254635072],
            "numClasses": 3,
            "numFeatures": 4,
            "subspaces": [[0, 1, 2, 3], [0, 1, 2, 3]],
            "weights": [[1.0, 1.0, 1.0], [1.0, 1.0, 1.0]],
        },
        87.0,
    ),
    "GBMRegressor": (
        {
            "numFeatures": 4,
            "subspaces": [[0, 1, 2, 3], [0, 1, 2, 3]],
            "weights": [1.0, 1.0],
        },
        148.60000000000008,
    ),
    "StackingClassifier": ({}, 87.0),
    "StackingRegressor": ({}, 148.60000000000008),
    "GBMClassifier(optimizedWeights=True)": (
        {
            "dim": 3,
            "initRaw": [-1.0379876668516748, -1.0090001299784226, -1.2685113254635072],
            "numClasses": 3,
            "numFeatures": 4,
            "subspaces": [[0, 1, 2, 3], [0, 1, 2, 3]],
            "weights": [
                [4.021151927281199, 3.1273438410247456, 3.8835434496913934],
                [10.294180174268702, 6.239752795696593, 6.0305758352891825],
            ],
        },
        87.0,
    ),
    # BAGGED_GBM, captured before the GBM twins shared one round
    "GBMClassifier(3-class, newton, bagged)": (
        {
            "dim": 3,
            "initRaw": [-1.0379876668516748, -1.0090001299784226, -1.2685113254635072],
            "numClasses": 3,
            "numFeatures": 4,
            "subspaces": [[0, 3], [0, 1, 2, 3], [0, 2, 3]],
            "weights": [
                [1.041313139983312, 0.6530254699116859, 0.7433489052908885],
                [0.22122493993176306, 0.15179611596818124, 0.9992503114626793],
                [0.419540825410715, 0.5666547919836982, 0.8637244777613563],
            ],
        },
        85.0,
    ),
    "GBMClassifier(bernoulli, newton, bagged)": (
        {
            "dim": 1,
            "initRaw": [0.6007738604289304],
            "numClasses": 2,
            "numFeatures": 4,
            "subspaces": [[0, 3], [0, 1, 2, 3], [0, 2, 3]],
            "weights": [[1.151211555326586], [0.7557017232311399], [0.48181318667999024]],
        },
        55.0,
    ),
    "GBMRegressor(huber, newton, bagged)": (
        {
            "numFeatures": 4,
            "subspaces": [[0, 3], [0, 1, 2, 3], [0, 2, 3]],
            "weights": [1.0498046875, 1.007080078125, 1.092529296875],
        },
        151.78093838889953,
    ),
    # the rest of BAGGED_GBM, captured before each loss was written once
    "GBMRegressor(absolute)": (
        {
            "numFeatures": 4,
            "subspaces": [[0, 1, 2, 3], [0, 1, 2, 3]],
            "weights": [3.003173828125, 1.934814453125],
        },
        156.16083984375,
    ),
    "GBMRegressor(quantile)": (
        {
            "numFeatures": 4,
            "subspaces": [[0, 1, 2, 3], [0, 1, 2, 3]],
            "weights": [3.955078125, 7.03125],
        },
        485.74453124999985,
    ),
    "GBMRegressor(logcosh)": (
        {
            "numFeatures": 4,
            "subspaces": [[0, 1, 2, 3], [0, 1, 2, 3]],
            "weights": [3.61328125, 2.201904296875],
        },
        143.47105232160723,
    ),
    "GBMRegressor(scaledlogcosh)": (
        {
            "numFeatures": 4,
            "subspaces": [[0, 1, 2, 3], [0, 1, 2, 3]],
            "weights": [6.689453125, 8.8623046875],
        },
        335.04975297108825,
    ),
    "GBMClassifier(exponential)": (
        {
            "dim": 1,
            "initRaw": [0.6007738604289304],
            "numClasses": 2,
            "numFeatures": 4,
            "subspaces": [[0, 1, 2, 3], [0, 1, 2, 3]],
            "weights": [[1.262335867092154], [2.2202071416617644]],
        },
        60.0,
    ),
}


# Classifier fits whose scored outputs are pinned below: name -> (estimator
# factory, training frame).
CLASSIFIER_OUTPUTS = {
    "BaggingClassifier(hard)": (
        lambda: BaggingClassifier(
            baseLearner=DecisionTreeClassifier(maxDepth=2), numBaseLearners=3, seed=3
        ),
        "clf",
    ),
    "BaggingClassifier(soft)": ESTIMATORS["BaggingClassifier"],
    "BoostingClassifier(real)": (
        lambda: BoostingClassifier(
            baseLearner=DecisionTreeClassifier(maxDepth=2), numBaseLearners=3
        ),
        "clf",
    ),
    "BoostingClassifier(discrete)": ESTIMATORS["BoostingClassifier"],
    "GBMClassifier(logloss)": ESTIMATORS["GBMClassifier"],
    "GBMClassifier(bernoulli, optimizedWeights=True)": (
        lambda: GBMClassifier(
            baseLearner=DecisionTreeRegressor(maxDepth=2),
            numBaseLearners=2,
            loss="bernoulli",
            optimizedWeights=True,
        ),
        "bin",
    ),
    "DummyClassifier": ESTIMATORS["DummyClassifier"],
    "StackingClassifier": ESTIMATORS["StackingClassifier"],
}

# Captured while each classifier still combined its members as arrays: the
# exactly rounded sum (math.fsum) over the training frame of every
# rawPrediction and probability component, and of prediction.
CLASSIFIER_OUTPUT_SUMS = {
    "BaggingClassifier(hard)": {
        "rawPrediction": [105.0, 105.0, 78.0],
        "probability": [35.0, 35.0, 26.0],
        "prediction": 87.0,
    },
    "BaggingClassifier(soft)": {
        "rawPrediction": [65.07954545454545, 68.45328282828284, 58.467171717171716],
        "probability": [32.53977272727273, 34.22664141414142, 29.233585858585858],
        "prediction": 87.0,
    },
    "BoostingClassifier(real)": {
        "rawPrediction": [-290.5107403408543, 412.89086163973946, -122.38012129888529],
        "probability": [14.000679168276179, 54.99934088389847, 26.99997994782535],
        "prediction": 111.0,
    },
    "BoostingClassifier(discrete)": {
        "rawPrediction": [24.227407628795515, -6.7303851843257005, -17.497022444469813],
        "probability": [35.65873861216614, 31.658911850792602, 28.682349537041254],
        "prediction": 87.0,
    },
    "GBMClassifier(logloss)": {
        "rawPrediction": [-99.68445184754573, -96.58829112495322, -122.01517276768709],
        "probability": [34.05683264588197, 34.51157113109157, 27.431596223026464],
        "prediction": 87.0,
    },
    "GBMClassifier(bernoulli, optimizedWeights=True)": {
        "rawPrediction": [-51.604686202961034, 51.604686202961034],
        "probability": [38.27317109890459, 57.72682890109541],
        "prediction": 62.0,
    },
    "DummyClassifier": {
        "rawPrediction": [-99.64681601776078, -96.86401247792857, -121.7770872444967],
        "probability": [34.0, 35.0, 27.0],
        "prediction": 96.0,
    },
    "StackingClassifier": {"prediction": 87.0},
}


ENUMERATED = [
    (BaggingClassifier, "votingStrategy"),
    (BoostingRegressor, "lossType"),
    (BoostingRegressor, "votingStrategy"),
    (BoostingClassifier, "algorithm"),
    (GBMRegressor, "loss"),
    (GBMRegressor, "initStrategy"),
    (GBMRegressor, "updates"),
    (GBMClassifier, "loss"),
    (GBMClassifier, "initStrategy"),
    (GBMClassifier, "updates"),
    (StackingClassifier, "stackMethod"),
    (DummyRegressor, "strategy"),
    (DummyClassifier, "strategy"),
]


def _cap(name):
    return name[0].upper() + name[1:]


def _kind(name):
    return ESTIMATORS[name][1]


@pytest.fixture(scope="module")
def fitted(spark):
    frames = make_frames(spark)
    yield frames, fit_all(frames)
    for df in frames.values():
        df.unpersist()


def _new_value(est, param):
    """A value for ``param`` that differs from its default."""
    samples = {
        "baseLearner": DecisionTreeRegressor(maxDepth=1),
        "baseLearners": [DecisionTreeRegressor(maxDepth=1)],
        "stacker": LinearRegression(),
        "weightCol": "w",
        "validationIndicatorCol": "is_val",
    }
    if param.name in samples:
        return samples[param.name]
    default = est.getOrDefault(param)
    if isinstance(default, bool):
        return not default
    if isinstance(default, (int, float)):
        return default + 1
    return default + "_2"


@pytest.mark.parametrize("name", NAMES)
def test_setter_surface(spark, name):
    est = ESTIMATORS[name][0]()
    cls = type(est)
    missing = [s for s in SETTERS_BEFORE[name].split() if not hasattr(cls, s)]
    assert not missing, f"{name} lost setters {missing}"
    for p in est.params:
        fresh = cls()
        setter = getattr(fresh, "set" + _cap(p.name), None)
        assert setter is not None, f"{name} has no setter for {p.name}"
        value = _new_value(fresh, fresh.getParam(p.name))
        assert setter(value) is fresh
        assert fresh.isSet(p.name)
        assert fresh.getOrDefault(p.name) == value


def test_twins_hold_no_plumbing():
    """Setters, constructors, setParams, fit epilogues, copy, persistence,
    ``numModels`` and the stacking fit and scoring live in ``core/``; only
    GBMClassificationModel keeps a save/load pair. The GBM round's raw-score
    columns and their advance are the family's, not a twin's."""
    import spark_ensemble_spark as pkg

    for twin in (pkg.GBMRegressor, pkg.GBMClassifier):
        assert not {"_raw_score", "_raw_advance"} & set(vars(twin)), twin.__name__
    assert pkg.StackingRegressor._fit_model is pkg.StackingClassifier._fit_model
    assert pkg.StackingRegressionModel._transform is pkg.StackingClassificationModel._transform
    for name in pkg.__all__:
        cls = getattr(pkg, name)
        own = set(vars(cls))
        if name.endswith("Model"):
            assert "copy" not in own, name
            assert "numModels" not in own, name
            kept = {"_save_impl", "_load_impl"} & own
            assert kept == ({"_save_impl", "_load_impl"} if name == "GBMClassificationModel" else set())
        else:
            # generated setters are attached to the class but defined in core/
            plumbing = {
                m
                for m in own
                if m[:3] == "set" and m[3:4].isupper() and vars(cls)[m].__module__ == cls.__module__
            }
            plumbing |= {"__init__", "setParams", "_fit", "_save_impl", "_load_impl"} & own
            assert not plumbing, f"{name} defines {sorted(plumbing)}"


@pytest.mark.parametrize("name", NAMES)
def test_model_copy_overrides_only_the_copy(fitted, name):
    frames, models = fitted
    model = models[name]
    members = list(getattr(model, "models", []))
    copied = model.copy({model.predictionCol: "p2"})
    assert copied is not model and copied.uid == model.uid
    out = copied.transform(frames[_kind(name)])
    assert "p2" in out.columns and "prediction" not in out.columns
    assert model.getPredictionCol() == "prediction"
    assert list(getattr(model, "models", [])) == members
    orig = model.transform(frames[_kind(name)]).select("prediction").collect()
    assert [r[0] for r in out.select("p2").collect()] == [r[0] for r in orig]


def _plain_params(inst):
    return {
        p.name: (inst.isSet(p), inst.getOrDefault(p))
        for p in inst.params
        if inst.isDefined(p) and p.name not in ESTIMATOR_PARAMS
    }


def _learner_params(learner):
    return type(learner), {p.name: v for p, v in learner.extractParamMap().items()}


@pytest.mark.parametrize("name", NAMES)
def test_estimator_save_load(spark, name, tmp_path):
    from spark_ensemble_spark.core.persistence import load_metadata

    est = ESTIMATORS[name][0]()
    path = str(tmp_path / name)
    est.save(path)
    loaded = type(est).load(path)
    assert _plain_params(loaded) == _plain_params(est)
    for p in ESTIMATOR_PARAMS:
        if not est.hasParam(p):
            continue
        want, got = est.getOrDefault(p), loaded.getOrDefault(p)
        if p == "baseLearners":
            assert load_metadata(path)["numLearners"] == len(want) == len(got)
            assert [_learner_params(l) for l in got] == [_learner_params(l) for l in want]
        else:
            assert _learner_params(got) == _learner_params(want)


def _save(inst, path):
    inst.save(str(path))
    return str(path)


@pytest.mark.parametrize("name", NAMES)
def test_saved_layout_is_pinned(fitted, name, tmp_path):
    _, models = fitted
    est_layout, est_defaults = saved_layout(_save(ESTIMATORS[name][0](), tmp_path / "est"))
    model_layout, model_defaults = saved_layout(_save(models[name], tmp_path / "model"))
    assert est_layout == EST_LAYOUT[name]
    assert model_layout == MODEL_LAYOUT[name]
    assert est_defaults == model_defaults == " ".join(DEFAULT_PARAMS[name].split())


@pytest.mark.parametrize(
    "cls,param", ENUMERATED, ids=[f"{c.__name__}.{p}" for c, p in ENUMERATED]
)
def test_enumerated_param_fails_in_its_getter(cls, param):
    getter = "get" + _cap(param)
    assert isinstance(getattr(cls(), getter)(), str)
    with pytest.raises(ValueError, match=param):
        getattr(cls(**{param: "bogus"}), getter)()


def _assert_pinned(got, want, where):
    if isinstance(want, float):
        assert got == pytest.approx(want, rel=1e-12), where
    elif isinstance(want, list):
        assert len(got) == len(want), where
        for k, (g, w) in enumerate(zip(got, want)):
            _assert_pinned(g, w, f"{where}[{k}]")
    else:
        assert got == want, where


def _check_fitted_values(model, frame, key):
    from pyspark.sql import functions as F

    fields, prediction_sum = FITTED_VALUES[key]
    assert set(fields) == set(type(model)._data_fields), key
    for f, want in fields.items():
        _assert_pinned(getattr(model, f), want, f"{key}.{f}")
    got = model.transform(frame).agg(F.sum("prediction")).first()[0]
    _assert_pinned(got, prediction_sum, f"{key} sum(prediction)")


@pytest.mark.parametrize("name", NAMES)
def test_fitted_values_are_pinned(fitted, name):
    frames, models = fitted
    _check_fitted_values(models[name], frames[_kind(name)], name)


def test_optimized_gbm_classifier_values_are_pinned(fitted):
    """The L-BFGS-B step search builds every aggregate through one builder;
    its trajectory, and so the fitted step sizes, stay the same."""
    frames, _ = fitted
    model = GBMClassifier(
        baseLearner=DecisionTreeRegressor(maxDepth=2),
        numBaseLearners=2,
        optimizedWeights=True,
    ).fit(frames["clf"])
    _check_fitted_values(model, frames["clf"], "GBMClassifier(optimizedWeights=True)")


@pytest.mark.parametrize("key", sorted(BAGGED_GBM))
def test_bagged_gbm_values_are_pinned(fitted, key):
    """Each round's step search reads exactly the rows its members were fit
    on, so subsampled, subspaced fits keep their step sizes; and each loss
    keeps its fitted values."""
    frames, _ = fitted
    make, kind = BAGGED_GBM[key]
    _check_fitted_values(make().fit(frames[kind]), frames[kind], key)


@pytest.fixture(scope="module")
def classifier_outputs(fitted):
    frames, _ = fitted
    return {
        key: (make().fit(frames[kind]), frames[kind])
        for key, (make, kind) in CLASSIFIER_OUTPUTS.items()
    }


@pytest.mark.parametrize("key", sorted(CLASSIFIER_OUTPUTS))
def test_classifier_outputs_are_pinned(classifier_outputs, key):
    """Every rawPrediction and probability component a classifier scores
    stays bit-identical: a prediction sum alone is an integer that cannot see
    a drift in the raw scores or their link."""
    model, frame = classifier_outputs[key]
    want = CLASSIFIER_OUTPUT_SUMS[key]
    outputs = [c for c in ("rawPrediction", "probability") if c in want]
    rows = model.transform(frame).select("prediction", *outputs).collect()
    for c in outputs:
        got = [math.fsum(r[c][j] for r in rows) for j in range(len(want[c]))]
        assert len(rows[0][c]) == len(want[c]), f"{key} {c} size"
        assert got == want[c], f"{key} sum({c})"
    assert math.fsum(r["prediction"] for r in rows) == want["prediction"], key


def _optimized_plan(df):
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_ml_plans_hold_no_lambda(fitted, classifier_outputs, monkeypatch):
    """Every classifier combines its members as K scalar expressions, which
    whole-stage codegen compiles; a higher-order-function lambda would run
    interpreted per row. So neither a classification model's transform nor a
    GBMClassifier round's state holds one. Among the regression models only
    BoostingRegressionModel's median vote does: ``weighted_median`` is an
    order statistic over the members."""
    from spark_ensemble_spark.core.utils import DFIterationCache

    frames, models = fitted
    for key, (model, frame) in classifier_outputs.items():
        assert "lambdafunction" not in _optimized_plan(model.transform(frame)), key

    states = []
    real_update = DFIterationCache.update

    def recording(self, df):
        states.append(df)
        return real_update(self, df)

    monkeypatch.setattr(DFIterationCache, "update", recording)
    for loss, kind in (("logloss", "clf"), ("bernoulli", "bin")):
        states.clear()
        GBMClassifier(
            baseLearner=DecisionTreeRegressor(maxDepth=2), numBaseLearners=2, loss=loss
        ).fit(frames[kind])
        assert len(states) == 3, loss  # the init state and one frame a round
        for state in states:
            assert "lambdafunction" not in _optimized_plan(state), loss
    monkeypatch.undo()

    regressors = {n: models[n] for n in NAMES if _kind(n) == "reg"}
    regressors["BoostingRegressor(mean)"] = models["BoostingRegressor"].copy(
        {models["BoostingRegressor"].votingStrategy: "mean"}
    )
    with_lambda = {
        n for n, m in regressors.items()
        if "lambdafunction" in _optimized_plan(m.transform(frames["reg"]))
    }
    assert models["BoostingRegressor"].getVotingStrategy() == "median"
    assert with_lambda == {"BoostingRegressor"}


# (estimator, size Param, out-of-range values); the docs give the ranges
# numBaseLearners >= 1, subsampleRatio, subspaceRatio in (0, 1] and
# checkpointInterval >= 1 or -1.
_RATIOS_OUT = [0.0, -0.5, 1.5, math.nan]
OUT_OF_RANGE = [
    (cls, param, bad)
    for cls in (
        BaggingRegressor,
        BaggingClassifier,
        BoostingRegressor,
        BoostingClassifier,
        GBMRegressor,
        GBMClassifier,
    )
    for param, values in (
        ("numBaseLearners", [0, -3]),
        ("subsampleRatio", _RATIOS_OUT),
        ("subspaceRatio", _RATIOS_OUT),
        ("checkpointInterval", [0, -2]),
    )
    if hasattr(cls, param)
    for bad in values
]


@pytest.mark.parametrize(
    "cls,param,bad",
    OUT_OF_RANGE,
    ids=[f"{c.__name__}.{p}={v}" for c, p, v in OUT_OF_RANGE],
)
def test_size_param_out_of_range_fails_in_its_getter(cls, param, bad):
    getter = "get" + _cap(param)
    edge = 1 if param == "numBaseLearners" else 1.0
    assert getattr(cls(**{param: edge}), getter)() == edge
    with pytest.raises(ValueError, match=param):
        getattr(cls(**{param: bad}), getter)()


@pytest.mark.parametrize(
    "name", [n for n in NAMES if not n.startswith(("Stacking", "Dummy"))]
)
def test_fit_without_members_fails(fitted, name):
    """A fit with no members used to succeed, or fail only later, in
    ``transform``; it now fails in the getter it reads the count through."""
    frames, _ = fitted
    est = ESTIMATORS[name][0]().setNumBaseLearners(0)
    with pytest.raises(ValueError, match="numBaseLearners"):
        est.fit(frames[_kind(name)])


@pytest.mark.parametrize(
    "name", ["GBMRegressor", "BoostingRegressor", "GBMClassifier", "BoostingClassifier"]
)
def test_checkpoint_interval_minus_one_never_truncates(fitted, monkeypatch, name):
    """``checkpointInterval=-1`` disables lineage truncation, as in Spark ML:
    the fit persists its states and checkpoints none of them. At interval 1
    every cached frame is a checkpoint: the first state and one a round."""
    frames, _ = fitted
    frame_cls = type(frames["reg"])  # the session's DataFrame implementation
    calls = []
    for method in ("checkpoint", "localCheckpoint"):
        real = getattr(frame_cls, method)

        def counting(self, *args, _real=real, **kwargs):
            calls.append(method)
            return _real(self, *args, **kwargs)

        monkeypatch.setattr(frame_cls, method, counting)
    rounds = 3
    for interval, truncations in ((-1, 0), (1, 1 + rounds)):
        calls.clear()
        est = ESTIMATORS[name][0]().setNumBaseLearners(rounds).setCheckpointInterval(interval)
        assert est.fit(frames[_kind(name)]).numModels == rounds
        assert len(calls) == truncations, f"checkpointInterval={interval}"
