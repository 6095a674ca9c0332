"""Readers for the driver's synthetic tables and ML feature assembly.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings, one parquet each under /root/testdata/sf*/.
Feature vectors for the ensemble estimators are assembled from lineitem's
numeric columns (FIXTURES.md F1-F3) with VectorAssembler — deterministic, and
the assembler writes the ``ml_attr`` metadata the estimators read numFeatures
from.
"""

from __future__ import annotations

import threading

from pyspark.ml.feature import VectorAssembler
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def spread_to_parallelism(df: DataFrame) -> DataFrame:
    """Repartition up to the cluster's parallelism when the scan yields fewer
    partitions. The test tables are single-row-group parquet files, so the
    file reader cannot split them and a compute-heavy stage (shingle hashing,
    signature permutations) runs on ONE core of 32. At production scale the
    input has thousands of splits, the gate is never taken, and no shuffle is
    added. Applied ONLY inside operators whose per-row compute dwarfs the
    exchange (measured: a blanket load-time spread made tree fits and
    mapInPandas seams 2-3× SLOWER — 10 thread-parallel fits × 32 tasks thrash
    the scheduler, and each extra partition spins another Arrow worker)."""
    # Streaming frames can't answer getNumPartitions (``.rdd`` on a stream
    # throws) and their micro-batch partitioning is the source's business —
    # the gate is a no-op there, which also lets every decode operator that
    # spreads compose with readStream unchanged (r7).
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _split_top_level(schema: str) -> list[str]:
    """Split a DDL column list on TOP-LEVEL commas only, so parameterized
    and nested types (``decimal(38,6)``, ``array<struct<a:int,b:int>>``,
    ``map<string,int>``) parse as one field. The old ``schema.split(',')``
    silently sheared such types into garbage fields (ADVICE r12 medium) —
    several fast paths pass ``dataType.simpleString()`` dynamically, so a
    decimal-typed id column would have produced a malformed CAST."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(schema):
        if ch in "(<":
            depth += 1
        elif ch in ")>":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(schema[start:i])
            start = i + 1
    parts.append(schema[start:])
    return [p for p in parts if p.strip()]


def local_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Small literal frame as a pure-JVM ``VALUES`` LocalRelation.

    ``spark.createDataFrame(list, ...)`` parallelizes the rows into a
    PYTHON-backed RDD: every scan of the frame launches Python workers
    (``BasePythonRunner`` in the executor stacks) just to unpickle a
    handful of literals, and the relation reports unknown (EiB-scale)
    statistics to the optimizer.  For the query-batch/probe/merge-table
    frames that sit on the BROADCAST side of every retrieval plan this was
    measured at seconds of first-run Python-worker spin-up per query
    (r12: docs_bm25_topk 17s -> 3s).  A ``VALUES`` SELECT is a
    LocalRelation: no RDD, no Python at execution time, exact row-count
    statistics, and constant-foldable into broadcasts.

    ``schema`` is the usual DDL string of scalar columns
    (``"query_id string, query_text string"``).  Supported cell types:
    str (quote-escaped), bool, int, float (exact ``CAST('<repr>' AS
    DOUBLE)`` round-trip), None.  Falls back to ``createDataFrame`` for
    empty row sets (VALUES cannot be empty)."""
    fields = []
    for part in _split_top_level(schema):
        name_, typ = part.strip().split(None, 1)
        fields.append((name_, typ.strip()))
    rows = list(rows)
    if not rows:
        return spark.createDataFrame([], schema)

    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, int):
            return str(v)
        if isinstance(v, float):
            return f"CAST('{v!r}' AS DOUBLE)"
        if isinstance(v, str):
            # Spark SQL processes C-style backslash escapes inside string
            # literals by default (spark.sql.parser.escapedStringLiterals
            # = false), so a data-derived cell containing a backslash would
            # be silently rewritten ('c:\path' -> 'c:path', trailing '\'
            # swallows the closing quote and breaks the VALUES parse).
            # Escape backslashes FIRST, then double the quotes
            # (ADVICE r12 high).
            return "'" + v.replace("\\", "\\\\").replace("'", "''") + "'"
        raise TypeError(f"local_df: unsupported cell type {type(v)!r}")

    values = ", ".join(
        "(" + ", ".join(lit(v) for v in row) + ")" for row in rows
    )
    # IF(TRUE, …, NULL) widens each column back to NULLABLE so the frame
    # (and everything derived from it) keeps the exact schema
    # createDataFrame produced — the one the driver has hashed since r1;
    # constant folding still collapses the whole SELECT to a LocalRelation.
    cols = ", ".join(
        f"IF(TRUE, CAST(c{i} AS {typ}), NULL) AS {name_}"
        for i, (name_, typ) in enumerate(fields)
    )
    anon = ", ".join(f"c{i}" for i in range(len(fields)))
    return spark.sql(
        f"SELECT {cols} FROM (VALUES {values}) AS __local({anon})"
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The oracle comparison formats timestamps; pin the session timezone so
    # results don't depend on the harness session's locale.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        return load_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def ts_as_timestamp(ts_type: T.DataType, col: str = "ts") -> F.Column:
    """Conversion from the SCANNED dtype of a timestamp column to a
    session-tz TIMESTAMP, branching on whatever encoding the testdata
    currently uses (the driver has shipped both nanos-int64 and
    timestamp[us] across rounds):

    - LongType — parquet TIMESTAMP(NANOS) read via the ``nanosAsLong`` legacy
      conf: floor-divide to micros (DuckDB's nanos→micros truncation).
    - TimestampNTZType — parquet timestamp[us] with isAdjustedToUTC=false:
      ``cast("timestamp")`` reinterprets the wall-clock micros under the
      pinned UTC session tz, which is exact. The cast is REQUIRED, not
      cosmetic: downstream ``unix_micros()`` rejects TIMESTAMP_NTZ.
    - TimestampType — already what we want; pass through.

    ``col`` names the column (default ``"ts"``, the events-table layout) so
    the helper binds explicitly instead of assuming the caller's naming. A
    NAME (not a Column) is required because the nanos branch needs integer
    ``div`` — float division would round ns-scale epochs through double's
    53-bit mantissa before truncation.
    """
    c = F.col(col)
    if isinstance(ts_type, T.LongType):
        return F.timestamp_micros(F.expr(f"`{col}` div 1000"))
    if isinstance(ts_type, T.TimestampNTZType):
        return c.cast("timestamp")
    return c


def scanned_events_ts_type(
    spark: SparkSession, path: str, glob: str | None = None
) -> T.DataType:
    """Schema-only batch probe of the on-disk events.ts dtype (no data job:
    parquet footer read). Used by the streaming reader so its explicit schema
    always matches the files it will actually scan — an out-of-date hardcoded
    schema silently corrupts timestamps instead of erroring."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.read
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.parquet(path).schema["ts"].dataType


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load the events table with ``ts`` normalized to TIMESTAMP regardless of
    the parquet encoding (nanos-int64, timestamp[us]/NTZ, or TIMESTAMP)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    return df.withColumn("ts", ts_as_timestamp(df.schema["ts"].dataType))


# ---- ML fixtures (FIXTURES.md F1/F2/F3) ------------------------------------

REGRESSION_FEATURES = ["l_quantity", "l_discount", "l_tax", "l_partkey", "l_suppkey"]

# Assembled ML fixtures are requested by many registry queries in one process
# (four estimator bench queries fit on the same table): persist the assembled
# DataFrame once per (session, sf_dir) so repeated fits read columnar cache
# instead of re-scanning parquet + re-assembling vectors. Keyed on the
# SparkContext identity so a restarted session rebuilds instead of holding a
# stale plan.
_FIXTURE_CACHE: dict = {}
# bench.py warms fixture-backed queries from a thread pool; an unsynchronized
# check-then-build would let two threads double-build and leak a persisted
# duplicate frame into the timed pass. One lock covers the whole build: the
# builds are rare (3 per session) and cheap relative to the race's cost.
_FIXTURE_LOCK = threading.Lock()


def _cached_fixture(spark: SparkSession, sf_dir: str, kind: str, build) -> DataFrame:
    with _FIXTURE_LOCK:
        return _cached_fixture_locked(spark, sf_dir, kind, build)


def _cached_fixture_locked(spark: SparkSession, sf_dir: str, kind: str, build) -> DataFrame:
    sc = spark.sparkContext
    # applicationId+startTime is stable for a context's lifetime and never
    # recycled (unlike id(), which CPython can reuse after GC of a stopped
    # context). On a context change, drop every cached frame: their persisted
    # blocks died with the old executors, and unpersist() on a dead session
    # would throw.
    ctx = (sc.applicationId, sc.startTime)
    if _FIXTURE_CACHE.get("__ctx__") != ctx:
        _FIXTURE_CACHE.clear()
        _FIXTURE_CACHE["__ctx__"] = ctx
    key = (sf_dir, kind)
    df = _FIXTURE_CACHE.get(key)
    if df is None:
        df = build()
        # The single-row-group test files scan as ~3 partitions; sequential
        # tree-fit loops (GBM/boosting) then run every stats pass 3-wide.
        # Measured at sf0.1: repartition(8) halves GBM (29→14s) and boosting
        # (43→21s) fits. It only widens under-partitioned files: every
        # ensemble fit coalesces its training state to the cluster's core
        # count (``core/instances.fit_width``), so on a host with fewer than
        # 8 cores the fits run at the core width, not in two task waves.
        # Gated: a production-scale input already has ≥8 splits and is left
        # alone.
        if df.rdd.getNumPartitions() < 8:
            df = df.repartition(8)
        df = df.persist()
        _FIXTURE_CACHE[key] = df
    return df


def regression_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-label training set (cpusmall analog, FIXTURES.md F1):
    label = extendedprice * (1 - discount)."""

    def build() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem")
        df = li.select(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("label"),
            *[F.col(c).cast("double").alias(c) for c in REGRESSION_FEATURES],
        )
        assembler = VectorAssembler(inputCols=REGRESSION_FEATURES, outputCol="features")
        return assembler.transform(df).select("label", "features")

    return _cached_fixture(spark, sf_dir, "regression", build)


def binary_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary training set (adult analog, FIXTURES.md F3):
    label = 1 when the line was returned."""

    def build() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem")
        df = li.select(
            F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0).alias("label"),
            *[F.col(c).cast("double").alias(c) for c in REGRESSION_FEATURES],
        )
        assembler = VectorAssembler(inputCols=REGRESSION_FEATURES, outputCol="features")
        return assembler.transform(df).select("label", "features")

    return _cached_fixture(spark, sf_dir, "binary", build)


def multiclass_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-class training set (letter analog, FIXTURES.md F2): label = unit-price
    bucket. Unit price is a function of l_partkey, so the task is learnable from
    the features but not trivially (a shallow tree cannot memorize every part),
    which is what the ensemble-beats-member assertions need."""

    def build() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem")
        unit = F.col("l_extendedprice") / F.col("l_quantity")
        label = F.when(unit < 1350, 0.0).when(unit < 3125, 1.0).otherwise(2.0)
        df = li.select(
            label.alias("label"),
            *[F.col(c).cast("double").alias(c) for c in REGRESSION_FEATURES],
        )
        assembler = VectorAssembler(inputCols=REGRESSION_FEATURES, outputCol="features")
        return assembler.transform(df).select("label", "features")

    return _cached_fixture(spark, sf_dir, "multiclass", build)
