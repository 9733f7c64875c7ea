"""Silver layer: the last-write-wins merge of the observation store
(SNK2).

The reference upserts ``(series_id, observation_time)`` via
``INSERT ... ON CONFLICT DO UPDATE`` (app/ingestion/loader.py:7-35)
after an in-batch last-write-wins dedup (loader.py:13-18). Without a
transactional MERGE (no Delta in this container) the engine gets the
same idempotent semantics from one merge:

1. union the batch with the live rows of the batch's dates only, new
   rows tagged to win on a key collision;
2. keep one row per key in one window, with an explicit deterministic
   tie-break (SURVEY §7 #3).

This module holds only that merge and its keys. The store that runs it
— staging, stats, the atomic manifest publish and every read — is
:mod:`gas_data_pipeline_spark.pipeline.versioned`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

KEYS = ("series_id", "observation_time")
PARTITION_COL = "obs_date"


def dedup_last_write_wins(df: DataFrame, order_cols: list[str]) -> DataFrame:
    """A5: keep the newest row per (series_id, observation_time);
    ties broken by ``order_cols`` descending (deterministic, unlike the
    reference's dict-insertion order)."""
    w = Window.partitionBy(*KEYS).orderBy(*[F.col(c).desc() for c in order_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_last_write_wins(
    batch: DataFrame, existing: DataFrame | None, order_cols: list[str]
) -> DataFrame:
    """The one last-write-wins merge of the observation store:
    ``batch`` (already carrying ``obs_date``) unioned with the
    ``existing`` rows of its dates, one row kept per
    (series_id, observation_time). Batch rows beat existing rows on a
    key collision, then ``order_cols`` descending breaks ties — within
    and across sides.

    ONE shuffle settles dedup AND write shape. obs_date is a function
    of observation_time, so hash-partitioning by obs_date clusters
    every (series, time) group into one task — which satisfies the
    dedup window's ClusteredDistribution when the window adds obs_date
    to its partition keys (same groups: date is determined by time).
    The window then plans with NO second exchange, and a write
    partitioned by date inherits the clustering: files-per-partition
    stays independent of task count. A huge single gas-day serializes
    through one task; cap file size with
    spark.sql.files.maxRecordsPerFile when that bites."""
    merged = batch.withColumn("__prio", F.lit(1))
    if existing is not None:
        merged = merged.unionByName(
            existing.withColumn("__prio", F.lit(0)), allowMissingColumns=True
        )
    w = Window.partitionBy(PARTITION_COL, *KEYS).orderBy(
        *[F.col(c).desc() for c in ("__prio", *order_cols)]
    )
    return (
        merged.repartition(F.col(PARTITION_COL))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__prio")
    )
