"""Silver layer: typed long-format observation store with upsert (SNK2).

The reference upserts ``(series_id, observation_time)`` via
``INSERT ... ON CONFLICT DO UPDATE`` (app/ingestion/loader.py:7-35)
after an in-batch last-write-wins dedup (loader.py:13-18). Without a
transactional MERGE (no Delta in this container) the engine gets the
same idempotent semantics from:

1. window dedup inside the incoming batch (explicit, deterministic
   tie-break — SURVEY §7 #3);
2. union with the *affected date partitions only* of the existing
   table, re-dedup (new rows win on ties via a batch_priority column);
3. dynamic partition overwrite of exactly those partitions.

At 100 TB step 2 never touches unaffected partitions, and the shuffle
is keyed on the same (series, time) the MERGE would need — no extra
cost vs Delta MERGE; only atomicity is weaker (single-writer assumed,
like the reference's ``max_instances=1`` scheduler).

Schema evolution is NOT a contract of this plain layer: a batch that
adds a column rewrites only its affected partitions, and a root-level
``spark.read.parquet`` anchors its schema on one file's footer — the
added column is visible only if a new-schema file anchors the scan.
Use :mod:`gas_data_pipeline_spark.pipeline.versioned`, which declares
the evolved schema as manifest metadata, when columns can drift.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
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
    """The one last-write-wins merge both upserts run (this module's
    and :mod:`versioned`): ``batch`` (already carrying ``obs_date``)
    unioned with the ``existing`` rows of its dates, one row kept per
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


def upsert_observations(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    order_cols: list[str] | None = None,
) -> None:
    """SNK2: idempotent upsert of an observation batch into ``path``.

    ``batch`` columns: series_id, observation_time, value,
    quality_flag, ingestion_time (+ optional raw_payload).
    ``order_cols``: descending tie-break for last-write-wins; include a
    unique column (e.g. event id) after ingestion_time to make ties
    deterministic.
    """
    batch = batch.withColumn(PARTITION_COL, F.to_date("observation_time"))
    existing = None
    if os.path.exists(path):
        # The batch is consumed twice on the merge path (the
        # affected-partition discovery collect, then the merge union) —
        # cache it so the melt/window lineage upstream isn't replayed.
        # Discovery runs on the raw batch: dedup never changes the date
        # set, so the in-batch dedup folds into the merge window.
        batch = batch.persist()
        affected = [r[0] for r in batch.select(PARTITION_COL).distinct().collect()]
        existing = spark.read.parquet(path).filter(
            F.col(PARTITION_COL).isin(affected)
        )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    (
        merge_last_write_wins(batch, existing, order_cols or ["ingestion_time"])
        .write.mode("overwrite")
        .partitionBy(PARTITION_COL)
        .parquet(path)
    )
    if existing is not None:
        batch.unpersist()


def read_observations(
    spark: SparkSession,
    path: str,
    series_id: str | None = None,
    start=None,
    end=None,
) -> DataFrame:
    """The client read path (reference app/client/gas_client.py:31-38):
    optional key equality + time range, time-ordered. Date-partition
    pruning stands in for the composite-PK index."""
    df = spark.read.parquet(path)
    if series_id is not None:
        df = df.filter(F.col("series_id") == series_id)
    if start is not None:
        df = df.filter(F.col("observation_time") >= start)
    if end is not None:
        df = df.filter(F.col("observation_time") <= end)
    return df.orderBy("observation_time")
