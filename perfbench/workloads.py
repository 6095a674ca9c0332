"""The benchmark workloads.

Each workload builds its state in ``setup`` (fixtures, and for
``boost_fit`` the prefit ensembles it scores) and exposes a fixed cycle of
operations.  An operation is one user-visible unit of work — a fit plus its
holdout check, one scoring pass, one registered query — and returns the
input rows it processed.  It raises ``WrongOutput`` when the result fails
the workload's correctness gate; any other exception is a failed operation
too.  Python-side layer timings are written into the ``rec`` dict the
runner passes in.
"""

from __future__ import annotations

import math
import os
import time

import numpy as np
from pyspark.ml.functions import array_to_vector, vector_to_array
from pyspark.ml.regression import DecisionTreeRegressor
from pyspark.sql import functions as F

from spark_ensemble_spark import BaggingRegressor, BoostingRegressor, GBMClassifier, GBMRegressor
from spark_ensemble_spark.sources.datasets import multiclass_dataset, regression_dataset

import layers


class WrongOutput(Exception):
    """An operation finished but its output failed the correctness gate."""


# Input sizes per scale.  "full" is what the benchmark measures; "smoke" is
# the one-operation harness check (sf0.001-sized tables).
SCALES = {
    "full": dict(
        lineitem=12_000, documents=1_000, gbm_trees=2,
        prefit_rows=1_000, score_bag=4, score_ada=2, score_gbm=1,
    ),
    "smoke": dict(
        lineitem=6_000, documents=500, gbm_trees=2,
        prefit_rows=1_000, score_bag=4, score_ada=2, score_gbm=2,
    ),
}
# The regression label (extended price less discount) is independent of the
# features in the test tables, so no model beats the label's stddev on the
# holdout; a fit passes when it stays within this factor of it.
HOLDOUT_RMSE_FACTOR = 1.05


def _timed(rec: dict, key: str, fn):
    t0 = time.perf_counter()
    out = fn()
    rec[key] = rec.get(key, 0.0) + time.perf_counter() - t0
    return out


def _checksum(pred_col: str = "prediction", prob_col: str | None = None):
    """Order-independent output checksum: integer sums of rounded outputs."""
    c = F.sum(F.round(F.col(pred_col) * 1000).cast("long"))
    if prob_col:
        c = c + F.sum(F.round(vector_to_array(F.col(prob_col))[0] * 1e6).cast("long"))
    return c.alias("checksum")


def _member_predictions(df, members, subspaces=None):
    """Add each member's own MLlib prediction as column ``__m<i>``, feeding it
    the feature subspace it was trained on; returns (frame, column names)."""
    arr = vector_to_array(F.col("features"))
    cols = []
    for i, m in enumerate(members):
        fcol = "features"
        if subspaces and list(subspaces[i]) != list(range(len(subspaces[i]))):
            fcol = f"__f{i}"
            df = df.withColumn(fcol, array_to_vector(F.array(*[arr[j] for j in subspaces[i]])))
        df = m.transform(df, {m.getParam("predictionCol"): f"__m{i}", m.getParam("featuresCol"): fcol})
        cols.append(f"__m{i}")
    return df, cols


def _sample(df, seed: int, n: int = 200):
    return df.sample(fraction=min(1.0, 2.0 * n / max(df.count(), 1)), seed=seed).limit(n)


def _weighted_median(values, weights) -> float:
    order = np.lexsort((np.asarray(weights), values))
    cum = np.cumsum(np.asarray(weights)[order])
    return float(values[order][np.searchsorted(cum, 0.5 * sum(weights))])


class _Workload:
    """Set-up state shared by every workload."""

    name = ""
    cycle: tuple = ()
    setup_reps = 4  # set-ups per run; setup_s is their median

    def __init__(self, seed: int, scale: str) -> None:
        self.seed = seed
        self.size = SCALES[scale]
        self.tracer = None
        self.checksums: dict = {}

    def setup(self, spark, in_dir: str) -> dict:
        """Build the fixtures; returns layer timings of this set-up."""
        return {}

    def prefit(self) -> None:
        """Fit what the operations use but do not fit, once per run."""

    def reference(self) -> None:
        """Expected results computed without Spark, before the cold op."""

    def verify(self) -> str | None:
        """Extra untimed check of the cold op against an independent
        reference; returns the check's name (None: the ops check it)."""
        return None

    def op(self, i: int, rec: dict) -> int:
        return getattr(self, self.cycle[i % len(self.cycle)])(rec)

    def _same_checksum(self, key: str, checksum: int) -> None:
        first = self.checksums.setdefault(key, checksum)
        if checksum != first:
            raise WrongOutput(f"{key}: output checksum {checksum} != first operation's {first}")


class BoostFit(_Workload):
    """Sequential GBM fits — the driver-bound loop of many small jobs
    (per-iteration aggregations, the line-search grid, persist/checkpoint) —
    alternating with one scoring pass of three prefit ensembles over every
    fixture row (the N-transform chain and the ``core/utils`` combiners)."""

    name = "boost_fit"
    cycle = ("gbm", "score")
    ENSEMBLES = ("bagging_mean", "adaboost_median", "gbm_softmax")

    def setup(self, spark, in_dir: str) -> dict:
        t0 = time.perf_counter()
        self.reg = regression_dataset(spark, in_dir)
        self.mc = multiclass_dataset(spark, in_dir)
        self.train, self.hold = self.reg.randomSplit([0.8, 0.2], seed=self.seed)
        self.rows = self.reg.count()
        self.train_rows = self.train.count()
        return {"sources.fixture_s": time.perf_counter() - t0}

    def prefit(self) -> None:
        """Fit the scored ensembles on a seeded sample: only the loop scores
        them."""
        frac = min(1.0, 1.2 * self.size["prefit_rows"] / self.rows)
        small_reg = self.reg.sample(fraction=frac, seed=self.seed).limit(self.size["prefit_rows"])
        small_mc = self.mc.sample(fraction=frac, seed=self.seed).limit(self.size["prefit_rows"])
        self.models = {
            "bagging_mean": BaggingRegressor(
                baseLearner=DecisionTreeRegressor(maxDepth=5),
                numBaseLearners=self.size["score_bag"], subsampleRatio=0.8,
                subspaceRatio=0.8, parallelism=4, seed=self.seed,
            ).fit(small_reg),
            "adaboost_median": BoostingRegressor(
                baseLearner=DecisionTreeRegressor(maxDepth=5),
                numBaseLearners=self.size["score_ada"], votingStrategy="median",
                seed=self.seed,
            ).fit(small_reg),
            "gbm_softmax": GBMClassifier(
                baseLearner=DecisionTreeRegressor(maxDepth=5),
                numBaseLearners=self.size["score_gbm"], loss="logloss",
                optimizedWeights=False, parallelism=3, seed=self.seed,
            ).fit(small_mc),
        }
        shares = self.mc.groupBy("label").count().collect()
        self.majority_share = max(r["count"] for r in shares) / self.rows

    def gbm(self, rec: dict) -> int:
        est = GBMRegressor(
            baseLearner=layers.tree_regressor(self.tracer, maxDepth=5),
            numBaseLearners=self.size["gbm_trees"],
            learningRate=0.3,
            seed=self.seed,
        )
        model = self.model = _timed(rec, "fit_s.GBMRegressor", lambda: est.fit(self.train))
        rec["members_n"] = len(model.models)
        rmse = F.sqrt(F.avg((F.col("prediction") - F.col("label")) ** 2))
        row = _timed(
            rec, "score_s.GBMRegressionModel",
            lambda: model.transform(self.hold)
            .agg((HOLDOUT_RMSE_FACTOR * F.stddev_pop("label") - rmse).alias("margin"), _checksum())
            .first(),
        )
        if not row["margin"] > 0:
            raise WrongOutput(f"GBMRegressor: holdout RMSE above {HOLDOUT_RMSE_FACTOR} x the label's stddev")
        self._same_checksum("gbm", row["checksum"])
        rec["checks"] = ["holdout_quality", "same_seed_checksum"]
        return self.train_rows

    def _frame(self, key: str):
        return self.mc if key == "gbm_softmax" else self.reg

    def score(self, rec: dict) -> int:
        """One pass of each prefit ensemble over every fixture row."""
        for key in self.ENSEMBLES:
            model = self.models[key]
            aggs = [F.count(F.lit(1)).alias("n")]
            if key == "gbm_softmax":
                aggs += [_checksum(prob_col="probability"),
                         F.avg((F.col("prediction") == F.col("label")).cast("double")).alias("accuracy")]
            else:
                aggs.append(_checksum())
            row = _timed(rec, f"score_s.{type(model).__name__}",
                         lambda: model.transform(self._frame(key)).agg(*aggs).first())
            if row["n"] != self.rows:
                raise WrongOutput(f"{key}: scored {row['n']} rows, expected {self.rows}")
            if key == "gbm_softmax" and not row["accuracy"] > self.majority_share:
                raise WrongOutput(f"{key}: accuracy {row['accuracy']} does not beat the majority class")
            self._same_checksum(key, row["checksum"])
        rec["checks"] = ["row_count", "same_checksum", "accuracy_vs_majority"]
        return len(self.ENSEMBLES) * self.rows

    def verify(self) -> str:
        """On a seeded sample, the fitted GBM and each prefit ensemble must
        equal a numpy combine of their members' own MLlib predictions."""
        m = self.model
        df = m.init.transform(_sample(self.hold, self.seed), {m.init.getParam("predictionCol"): "__init"})
        df, cols = _member_predictions(df, m.models, m.subspaces)
        rows = m.transform(df).select("prediction", "__init", *cols).collect()
        members = np.array([[r[c] for c in cols] for r in rows])
        want = np.array([r["__init"] for r in rows]) + members @ np.array(m.weights)
        got = np.array([r["prediction"] for r in rows])
        if not rows or not np.allclose(got, want, rtol=1e-9, atol=1e-9):
            raise WrongOutput("GBMRegressor: predictions differ from the numpy combine of members")
        for key in self.ENSEMBLES:
            model = self.models[key]
            if key == "gbm_softmax":
                flat = [m for ms in model.models for m in ms]
                subspaces = [s for s in model.subspaces for _ in model.models[0]]
            else:
                flat, subspaces = model.models, getattr(model, "subspaces", None)
            df, cols = _member_predictions(_sample(self._frame(key), self.seed), flat, subspaces)
            extra = ["probability"] if key == "gbm_softmax" else []
            rows = model.transform(df).select("prediction", *cols, *extra).collect()
            if not rows:
                raise WrongOutput(f"{key}: empty reference sample")
            members = np.array([[r[c] for c in cols] for r in rows])
            got = np.array([r["prediction"] for r in rows])
            if key == "bagging_mean":
                want = members.mean(axis=1)
            elif key == "adaboost_median":
                want = np.array([_weighted_median(v, model.weights) for v in members])
            else:
                w = np.array(model.weights)  # rounds x classes
                k = w.shape[1]
                raw = np.array(model.initRaw) + np.einsum(
                    "nrk,rk->nk", members.reshape(len(rows), -1, k), w
                )
                prob = np.exp(raw - raw.max(axis=1, keepdims=True))
                prob /= prob.sum(axis=1, keepdims=True)
                want = prob.argmax(axis=1).astype(float)
                got_prob = np.array([r["probability"].toArray() for r in rows])
                if not np.allclose(got_prob, prob, rtol=1e-9, atol=1e-12):
                    raise WrongOutput(f"{key}: softmax probabilities differ from the numpy combine")
            if not np.allclose(got, want, rtol=1e-9, atol=1e-9):
                raise WrongOutput(f"{key}: predictions differ from the numpy combine of members")
        return "numpy_combine"


class CurationOps(_Workload):
    """A fixed mix of registered data-pipeline queries, each checked against
    its DuckDB oracle."""

    name = "curation_ops"
    cycle = ("dedup_minhash_md5", "dsir_select_en", "streaming_decontaminate")
    setup_reps = 8  # a set-up is only a context start and the inputs

    def setup(self, spark, in_dir: str) -> dict:
        self.spark, self.in_dir = spark, in_dir
        return {}

    def reference(self) -> None:
        import duckdb

        from spark_ensemble_spark.queries import ALL_ORACLES

        con = duckdb.connect()
        try:
            con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{self.in_dir}/documents.parquet'")
            self.expected = {}
            for name in self.cycle:
                rel = con.sql(ALL_ORACLES[name])
                cols = [d[0] for d in rel.description]
                self.expected[name] = _canonical(cols, rel.fetchall())
        finally:
            con.close()
        if not all(rows for _, rows in self.expected.values()):
            raise WrongOutput("an oracle returned no rows on the generated input")

    def op(self, i: int, rec: dict) -> int:
        from spark_ensemble_spark.queries import ALL_SPARK_QUERIES

        name = self.cycle[i % len(self.cycle)]

        def run():
            df = ALL_SPARK_QUERIES[name](self.spark, self.in_dir)
            return df.columns, df.collect()

        cols, rows = _timed(rec, f"query_s.{name}", run)
        got = _canonical(cols, [tuple(r) for r in rows])
        if got != self.expected[name]:
            raise WrongOutput(f"{name}: output differs from its DuckDB oracle")
        rec["checks"] = ["duckdb_oracle"]
        return self.size["documents"]


def _canonical(cols, rows):
    """Column-name-sorted, row-sorted, repr-exact form of a result set."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())

    def norm(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else repr(v)
        return "<null>" if v is None else str(v)

    return (
        [cols[i].lower() for i in order],
        sorted(tuple(norm(r[i]) for i in order) for r in rows),
    )


WORKLOADS = {w.name: w for w in (BoostFit, CurationOps)}
