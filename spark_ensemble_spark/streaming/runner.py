"""Synchronous stream-replay helper shared by the streaming operators.

For local verification every streaming operator replays its file source
through a memory sink (``processAllAvailable``) so the result is comparable
to a batch oracle. This helper centralizes the replay mechanics:

* **unique sink names** — ``itertools.count`` (atomic under the GIL) instead
  of ad-hoc fixed names, so concurrent replays in one session (the bench's
  thread-pooled warm pass, overlapping harness runs) can never collide on
  the memory-sink table name (ADVICE r5);
* **checkpoint hygiene** — the per-invocation ``mkdtemp`` checkpoint dir is
  deleted after the query stops instead of accumulating in /tmp (ADVICE r5).

Production sinks (Kafka → ``foreachBatch``) don't go through this module;
it exists purely for the replay-verification harness.
"""

from __future__ import annotations

import itertools
import logging
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

_SEQ = itertools.count(1)
_log = logging.getLogger(__name__)


def int_setting(value, default: int, name: str) -> int:
    """``int(value)``, or ``default`` (logged) for a non-integer such as
    Databricks' ``spark.sql.shuffle.partitions=auto``."""
    try:
        return int(value)
    except (TypeError, ValueError):
        _log.warning("%s=%r is not an integer; using %d", name, value, default)
        return default


# Stateful streaming fixes its state-partition count to spark.sql.shuffle
# .partitions at query start, and EVERY micro-batch (including the no-data
# watermark-advance batch) pays per-partition state-store open/commit I/O.
# At replay scale that overhead dominates: the sf0.1 stream-stream join spent
# 11.2s at 32 partitions vs 2.0s at 4 for the identical 183-row result, with
# the no-data batch alone costing 3.5s of pure state bookkeeping. The replay
# harness therefore plans streams on a cloned session with a small state
# partition count; production deployments size state partitions to sustained
# load (thousands at 100 TB), which this module never dictates.
_REPLAY_SHUFFLE = int_setting(
    os.environ.get("SPARK_ENSEMBLE_STREAM_SHUFFLE", "8"), 8, "SPARK_ENSEMBLE_STREAM_SHUFFLE"
)


def replay_session(spark: SparkSession, state_partitions: int | None = None) -> SparkSession:
    """A cloned session (shared SparkContext, isolated SQL conf) whose
    ``spark.sql.shuffle.partitions`` — and hence streaming state-partition
    count — is sized for replay verification rather than batch throughput.
    Explicit ``repartition(n)`` calls in the plan are unaffected, so heavy
    map-side work keeps its parallelism."""
    clone = spark.newSession()
    clone.conf.set(
        "spark.sql.shuffle.partitions", str(state_partitions or _REPLAY_SHUFFLE)
    )
    return clone


def unique_name(prefix: str) -> str:
    """A session-unique memory-sink table name."""
    return f"{prefix}_{next(_SEQ)}"


def run_to_memory(df: DataFrame, output_mode: str, prefix: str) -> DataFrame:
    """Run a streaming DataFrame to a uniquely-named memory sink, drain all
    available input synchronously, stop the query, remove the throwaway
    checkpoint directory, and return the sink table as a batch DataFrame."""
    spark = df.sparkSession
    name = unique_name(prefix)
    ckpt = tempfile.mkdtemp(prefix=f"ses-{prefix}-")
    q = (
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)
