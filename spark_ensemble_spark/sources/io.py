"""Sources & sinks.

The reference reads libsvm for every test fixture
(``classification/BaggingClassifierSuite.scala:50-54``) and writes/reads JSON
for model aux data (``BaggingRegressor.scala:258-284``). Spark has native
connectors for both; these wrappers pin the conventions (schema, column
names) the estimators expect.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession


def read_libsvm(
    spark: SparkSession, path: str, num_features: Optional[int] = None
) -> DataFrame:
    """``(label double, features vector)`` from svmlight/libsvm files — the
    reference's fixture format. ``numFeatures`` skips the extra inference pass
    when known (always set it at scale: inference reads the whole file)."""
    reader = spark.read.format("libsvm")
    if num_features is not None:
        reader = reader.option("numFeatures", str(num_features))
    return reader.load(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_csv(spark: SparkSession, path: str, schema=None, header: bool = True) -> DataFrame:
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        return reader.schema(schema).csv(path)
    # no schema: infer from a 10% sample — full inference is an extra
    # complete pass over the data; always pass a schema at scale
    return (
        reader.option("inferSchema", "true")
        .option("samplingRatio", "0.1")
        .csv(path)
    )


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Optional[list] = None,
    max_records_per_file: Optional[int] = None,
) -> None:
    """Partitioned parquet sink. ``partition_by`` should be a low-cardinality
    column (date, source) — per-key output pruning for downstream readers."""
    writer = df.write.mode(mode)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 16,
    sort_col: Optional[str] = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (and optionally sorted) table: joins/aggregations
    on ``bucket_col`` between tables bucketed the same way need NO shuffle —
    the co-location is decided at write time. This is the pattern for a fact
    table that will be joined on the same key by many downstream jobs."""
    writer = df.write.mode(mode).bucketBy(num_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table)


def write_sorted_parquet(
    df: DataFrame,
    path: str,
    sort_cols: list,
    num_ranges: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Totally-ordered parquet output at scale: ``repartitionByRange`` on the
    sort key (ordered, non-overlapping file ranges) + ``sortWithinPartitions``
    (each file internally sorted).

    A global ``orderBy`` before a write plans the same way — range exchange +
    local sort — but this spelling makes the intent explicit and lets the
    caller pick ``num_ranges`` (output file count). The payoff is downstream:
    parquet min/max stats per file become non-overlapping, so any reader
    filtering on the sort key prunes to one file per value range — the
    poor-engine's Z-order for a single-column access path."""
    spark = df.sparkSession
    n = num_ranges or spark.sparkContext.defaultParallelism
    (
        df.repartitionByRange(n, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode(mode)
        .parquet(path)
    )


def zorder_value(df: DataFrame, cols: list, bits: int = 12, out_col: str = "__z"):
    """Append a Morton (Z-order) key interleaving the bit patterns of
    ``cols``.

    Each column is min-max normalized to ``[0, 2^bits)`` (the min/max pair is
    one aggregation — driver-held scalars, like a model's statistics), then
    the per-column bits are interleaved LSB-first into one long. Rows close
    in the z-key are close in EVERY listed dimension, which is what makes the
    multi-column layout below prune on each column independently.

    Linear scaling keeps the key a pure codegen expression; heavily skewed
    columns flatten their z-resolution — for those, pre-bucket with
    ``F.percentile_approx`` boundaries and z-order the bucket ids instead
    (same interleave, rank-ish scale).
    """
    from pyspark.sql import functions as F

    if len(cols) * bits > 62:
        raise ValueError(f"{len(cols)} cols x {bits} bits exceeds a signed long")
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"mn_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"mx_{c}") for c in cols],
    ).first()
    top = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
        # empty input / all-NULL column: min/max come back None — degrade to
        # a constant-0 contribution instead of a driver TypeError
        if mn is None or mx is None:
            mn, mx = 0.0, 0.0
        span = (mx - mn) or 1.0
        scaled = F.floor(
            (F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * top
        ).cast("long")
        # Coalesce BEFORE clamping: least/greatest SKIP nulls, so a NULL
        # value would otherwise come out as the top bucket (max corner)
        # instead of an explicit bucket 0.
        scaled = F.coalesce(scaled, F.lit(0).cast("long"))
        norm = F.greatest(F.lit(0).cast("long"), F.least(F.lit(top).cast("long"), scaled))
        for b in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(norm, b).bitwiseAND(F.lit(1)), b * len(cols) + i)
            )
    return df.withColumn(out_col, z)


def write_zorder_parquet(
    df: DataFrame,
    path: str,
    cols: list,
    bits: int = 12,
    num_ranges: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Multi-dimensional data layout: range-partition + sort by the Morton
    key of ``cols``, drop the key, write parquet.

    :func:`write_sorted_parquet` gives one column non-overlapping per-file
    min/max ranges; Z-ordering gives EVERY listed column NARROW (if
    overlapping) per-file ranges, so parquet row-group/file pruning works for
    predicates on any of them — the standard lakehouse layout trick (Delta
    OPTIMIZE ZORDER BY) expressed with stock Spark: one range exchange, one
    local sort, nothing engine-specific."""
    spark = df.sparkSession
    n = num_ranges or spark.sparkContext.defaultParallelism
    (
        zorder_value(df, cols, bits)
        .repartitionByRange(n, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )
