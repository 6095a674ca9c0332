"""The one oracle gate: a registered query's Spark result against its DuckDB
oracle, with the checks the driver's correctness gate depends on.

``scripts/check_correctness.py`` and ``tests/test_oracles.py`` both use it.
The package ``__init__`` does not import this module, so library users need
no duckdb.

A row passes when:

* neither side emits a column type whose rendering differs per driver fetch
  path (:func:`audit_types`);
* column names (case-insensitive) and row counts match;
* the Python-object lane (``collect()`` vs ``fetchall()``) matches at full
  precision, order-insensitively;
* the Arrow/pandas lane (``toPandas()`` vs ``df()``) matches too. The
  driver's hash path canonicalizes results through Arrow/pandas, where
  HUGEINT and DECIMAL render differently per engine (the r4 HUGEINT and
  r7-r11 DECIMAL red classes), which the object lane cannot see by
  construction.

Each side's query runs once: the Spark frame is persisted for its two
fetches, and the DuckDB result is materialized to Arrow, keeping its types,
before both of DuckDB's fetch paths read it.
"""

from __future__ import annotations

import math
from typing import NamedTuple

import duckdb
import pyspark.sql.types as T

from spark_ensemble_spark.sources.datasets import TABLES


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB with one view per testdata table under ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _has_decimal(dt: T.DataType) -> bool:
    if isinstance(dt, T.DecimalType):
        return True
    if isinstance(dt, T.ArrayType):
        return _has_decimal(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(_has_decimal(f.dataType) for f in dt.fields)
    if isinstance(dt, T.MapType):
        return _has_decimal(dt.keyType) or _has_decimal(dt.valueType)
    return False


# DuckDB output types that hash differently per driver fetch path, each with
# its fix (see audit_types).
_HAZARD_FIXES = {
    "HUGEINT": "CAST(... AS BIGINT)",
    "DECIMAL": "emit BIGINT micro-units instead (driver fetch-path hazard)",
}
HAZARDS = tuple(_HAZARD_FIXES)


def audit_types(rel, spark_schema: T.StructType | None = None) -> list[str]:
    """Output types that hash differently per driver fetch path.

    Only binds ``rel``; nothing is executed.

    * HUGEINT, DuckDB's type for an integer ``sum()`` (plain and windowed),
      converts to float64 on the Arrow path and renders ``123.0`` where
      Spark's BIGINT renders ``123``. Wrap the aggregate in
      ``CAST(... AS BIGINT)``.
    * DECIMAL, on either side and at any nesting depth, renders as a float64
      repr on one fetch path and as a scale-preserving string on the other,
      so any trailing-zero value (0.015625000 vs 0.015625) goes red with both
      engines' arithmetic identical (VERDICT r11: predicted red set ==
      actual red set 50/50). Emit exact BIGINT micro-units instead.
    """
    typed = [(name, str(t)) for name, t in zip(rel.columns, rel.types)]
    problems = []
    for hazard in HAZARDS:
        flagged = [c for c in typed if hazard in c[1].upper()]
        if flagged:
            problems.append(
                f"oracle emits {hazard} {flagged} — {_HAZARD_FIXES[hazard]}"
            )
    if spark_schema is not None:
        decimal = [
            (f.name, f.dataType.simpleString())
            for f in spark_schema.fields
            if _has_decimal(f.dataType)
        ]
        if decimal:
            problems.append(
                f"spark emits DECIMAL {decimal} — emit BIGINT micro-units "
                "instead (driver fetch-path hazard)"
            )
    return problems


class Result(NamedTuple):
    """One side's result on both fetch lanes."""

    columns: list[str]
    rows: list[tuple]  # object lane, in ``columns`` order
    frame: object  # pandas lane: a DataFrame, or the error its fetch raised


def spark_result(sdf) -> Result:
    """Run ``sdf`` once and fetch it on both lanes."""
    sdf.persist()
    try:
        rows = [tuple(r) for r in sdf.collect()]
        try:
            frame = sdf.toPandas()
        except Exception as e:  # the lane must not mask the object compare
            frame = e
    finally:
        sdf.unpersist()
    return Result(sdf.columns, rows, frame)


def duck_result(rel) -> Result:
    """Run ``rel`` once, materialized to Arrow, and fetch it on both lanes."""
    result = duckdb.from_arrow(rel.arrow())
    rows = result.fetchall()
    try:
        frame = result.df()
    except Exception as e:
        frame = e
    return Result(rel.columns, rows, frame)


def _cell(v) -> str:
    # Full-precision compare: the driver hashes exact values, so the local
    # gate must not be weaker (r1 verdict: 9-sig-fig normalization masked
    # sub-ulp round() drift in 5 queries). str() of a float (numpy's too) is
    # its shortest round-tripping repr, exact for doubles.
    if isinstance(v, float) and math.isnan(v):
        return "nan"
    return "<null>" if v is None else str(v)


def _sorted_cells(rows, columns) -> list[tuple]:
    """Rows as tuples of rendered cells, columns ordered by case-insensitive
    name, rows sorted: the driver compares order-insensitively."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    return sorted(tuple(_cell(row[i]) for i in order) for row in rows)


def _first_diffs(a, b) -> list:
    return [(x, y) for x, y in zip(a, b) if x != y][:3]


def compare(spark: Result, duck: Result) -> list[str]:
    """Names and counts, then the object lane, then the pandas lane; each
    step runs only when the one before it agreed."""
    if sorted(c.lower() for c in spark.columns) != sorted(
        c.lower() for c in duck.columns
    ):
        return [f"columns spark={spark.columns} duck={duck.columns}"]
    if len(spark.rows) != len(duck.rows):
        return [f"rowcount spark={len(spark.rows)} duck={len(duck.rows)}"]
    s_vals = _sorted_cells(spark.rows, spark.columns)
    d_vals = _sorted_cells(duck.rows, duck.columns)
    if s_vals != d_vals:
        return [f"values differ, first diffs: {_first_diffs(s_vals, d_vals)}"]
    for side in (spark, duck):
        if isinstance(side.frame, Exception):
            return [f"pandas lane error: {side.frame}"]
    s_vals, d_vals = (
        _sorted_cells(side.frame.itertuples(index=False, name=None), side.columns)
        for side in (spark, duck)
    )
    if s_vals != d_vals:
        return [
            f"pandas-lane values differ, first diffs: {_first_diffs(s_vals, d_vals)}"
        ]
    return []


def oracle_problems(sdf, rel) -> list[str]:
    """Everything wrong with Spark frame ``sdf`` against DuckDB relation
    ``rel``; ``[]`` when the row passes."""
    return audit_types(rel, sdf.schema) + compare(spark_result(sdf), duck_result(rel))
