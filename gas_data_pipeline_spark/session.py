"""SparkSession factory.

Centralizes the configuration the whole engine depends on:

- ``spark.sql.session.timeZone=UTC``: the reference normalizes every
  observation timestamp to UTC (reference app/ingestion/transformer.py:33
  ``pd.to_datetime(ts, utc=True)``); the engine makes UTC a session-level
  invariant so timestamp semantics match the DuckDB oracles bit-for-bit.
- AQE on (coalesce partitions + skew-join): at 100 TB the right shuffle
  partition count is data-dependent; AQE re-plans at runtime.
- Arrow on for the pandas interchange edge (reference uses pandas as its
  batch format; we keep pandas only at the REST-fetch boundary).
- A codegen cache that holds the engine's working set: a scheduler
  cycle repeats the previous cycle's plans, and Spark's default cache
  (100 classes) evicted classes the next cycle needed again, so every
  steady ingest cycle recompiled them in Janino. At 2048 such a cycle
  compiles only the classes that embed its own literals (the
  ``current_timestamp()`` of its ingestion times).

On a real cluster, ``spark.sql.shuffle.partitions`` should be ~2-3x the
total executor cores; locally we default to the core count. AQE's
``coalescePartitions`` makes the exact number forgiving — it shrinks
post-shuffle partitions to ``advisoryPartitionSizeInBytes``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "gas_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or return the active) SparkSession with engine defaults.

    The codegen cache holds 2048 generated classes, a constant and not
    an option: it decides only how often the same plan is recompiled.
    Like every static conf it takes effect only when this call starts
    the JVM's first session."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Timestamp invariant (see module docstring).
        .config("spark.sql.session.timeZone", "UTC")
        # Tz-less parquet timestamps read as session-local TIMESTAMP
        # (not NTZ) so temporal functions and oracles agree; see
        # catalog._read for the per-read enforcement.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Runtime re-planning: partition coalescing + skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        # Arrow for the pandas edge and for pandas UDFs.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Dimension tables under this size are broadcast automatically.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # ANSI off: the engine relies on try_cast-style permissive coercion
        # to mirror the reference's "reject non-castable floats" semantics
        # (reference app/ingestion/transformer.py:83-86) without job failure.
        .config("spark.sql.ansi.enabled", "false")
        # Compile each generated class once per session (module docstring).
        .config("spark.sql.codegen.cache.maxEntries", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
