"""Training-state width: ``extract_instances`` narrows a fit's input to
``fit_width`` partitions with a shuffle-free coalesce, never widens it, and
runs no job to find its width."""

import pytest
from pyspark.ml.functions import array_to_vector
from pyspark.sql import functions as F

from spark_ensemble_spark.core.instances import extract_instances


def _frame(spark, partitions, rows=4000):
    return spark.range(0, rows, 1, partitions).select(
        F.col("id").cast("double").alias("label"),
        array_to_vector(F.array(F.col("id").cast("double"), F.lit(1.0))).alias(
            "features"
        ),
    )


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_wide_frame_extracts_to_core_count(spark):
    assert spark.sparkContext.defaultParallelism == 4
    out = extract_instances(_frame(spark, 16), "label", "features")
    assert out.rdd.getNumPartitions() == 4
    assert "Exchange" not in _plan(out)
    assert out.count() == 4000


def test_narrow_frame_is_left_alone(spark):
    out = extract_instances(_frame(spark, 2), "label", "features")
    assert out.rdd.getNumPartitions() == 2
    plan = _plan(out)
    assert "Exchange" not in plan and "Coalesce" not in plan


def test_byte_floor_keeps_large_input_wide(spark):
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
    try:
        out = extract_instances(_frame(spark, 16), "label", "features")
        assert out.rdd.getNumPartitions() > 4
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")


def _extract_counting_jobs(spark, df):
    sc = spark.sparkContext
    sc.setJobGroup("extract_instances", "read the input's width")
    try:
        out = extract_instances(df, "label", "features")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts are posted async
    return out, len(sc.statusTracker().getJobIdsForGroup("extract_instances"))


def test_cached_shuffled_frame_is_narrowed(spark):
    wide = _frame(spark, 4).repartition(16).persist()
    try:
        wide.count()
        out, jobs = _extract_counting_jobs(spark, wide)
        assert jobs == 0
        assert out.rdd.getNumPartitions() == 4
        assert out.count() == 4000
    finally:
        wide.unpersist()


def test_shuffled_input_runs_no_job(spark):
    """An uncached shuffle would run once to read its width and again in
    the fit; such an input keeps its plan as it came."""
    grouped = _frame(spark, 16).groupBy("label").agg(F.first("features").alias("features"))
    out, jobs = _extract_counting_jobs(spark, grouped)
    assert jobs == 0
    assert "Coalesce" not in _plan(out)
    assert out.count() == 4000
