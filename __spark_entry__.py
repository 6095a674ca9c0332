"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pricing-summary query at sf0.001.
``queries()`` maps operator names → (spark, sf_dir) → DataFrame.
``oracle_sql()`` maps the same names → DuckDB SQL over the pre-registered
views, one per table in ``spark_ensemble_spark.sources.datasets.TABLES``.

Conventions shared by both sides so the order-insensitive value hash matches:
  * every computed column is aliased identically in Spark and SQL;
  * floating-point aggregates are rounded (4-6 decimals for means/ratios,
    2 for large sums) on BOTH sides to absorb summation-order differences;
  * counts are cast to bigint; no raw timestamps are returned (formatted as
    strings instead).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _registry():
    from spark_ensemble_spark.queries import SPARK_QUERIES, ORACLES

    return SPARK_QUERIES, ORACLES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Pulled from the FULL registry (ALL_SPARK_QUERIES), not the 50-row
    driver window, so window rotation can never orphan the flagship."""
    from spark_ensemble_spark.queries import ALL_SPARK_QUERIES

    return ALL_SPARK_QUERIES["q1_pricing_summary"](
        spark, "/root/testdata/sf0.001"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    sq, _ = _registry()
    return dict(sq)


def oracle_sql() -> dict[str, str]:
    _, oracles = _registry()
    return dict(oracles)
