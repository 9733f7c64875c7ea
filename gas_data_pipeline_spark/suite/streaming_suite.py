"""Driver-facing streaming queries (SURVEY §2.9): each runs a real
Structured Streaming job to completion and returns the materialized
result for the batch oracle to check. One-shot drains run
Trigger.AvailableNow; the multi-cycle queries hand their batches, as
one frame with a ``batch`` column, to ``run_staged_stream``, the one
scheduler loop. Streaming vs batch equivalence IS the correctness
property: the same plan over the same data must give the same answer
either way.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gas_data_pipeline_spark.catalog import local_table
from gas_data_pipeline_spark.pipeline.versioned import (
    read_observations_versioned,
    upsert_observations_versioned,
)
from gas_data_pipeline_spark.registry import register
from gas_data_pipeline_spark.streaming.incremental import (
    dedup_within_watermark,
    events_stream,
    hourly_rollup,
    run_foreach_batch,
    run_staged_stream,
    run_stream_to_table,
)


@register(
    "stream_hourly_rollup",
    oracle="""
        SELECT date_trunc('hour', ts) AS window_start,
               user_id AS series_id,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
)
def stream_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1/ST2: tumbling-window rollup computed BY THE STREAM ENGINE
    (watermark + window agg, complete mode) — must equal the batch
    group-by. The intraday->daily downsample shape the reference's
    frequency column implies (series_autoregister.py:50,89)."""
    rolled = hourly_rollup(events_stream(spark, sf_dir))
    return run_stream_to_table(rolled, output_mode="complete")


@register(
    "stream_dedup_keys",
    oracle="""
        SELECT DISTINCT user_id AS series_id, date_trunc('hour', ts) AS observation_time
        FROM events
    """,
)
def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST4: dropDuplicatesWithinWatermark on the upsert key. WHICH row
    survives depends on arrival order (stream-nondeterministic), so the
    checked contract is the key set: exactly one row per (series, hour).
    """
    deduped = dedup_within_watermark(events_stream(spark, sf_dir))
    # dropDuplicatesWithinWatermark emits each surviving row in the
    # batch it arrives; the trailing no-data batch only evicts state the
    # AvailableNow drain is about to discard — skip its commit cycle
    # (same key set either way, A/B-proven byte-identical at sf0.1).
    out = run_stream_to_table(deduped, output_mode="append", flush_no_data=False)
    return out.select("series_id", "observation_time").distinct()


@register(
    "stream_foreachbatch_upsert",
    oracle="""
        SELECT series_id, observation_time, value
        FROM (
            SELECT CAST(user_id AS VARCHAR) AS series_id,
                   date_trunc('hour', ts) AS observation_time,
                   CAST(value AS DOUBLE) AS value,
                   row_number() OVER (
                       PARTITION BY user_id, date_trunc('hour', ts)
                       ORDER BY ts DESC, event_id DESC
                   ) AS rn
            FROM events
        ) WHERE rn = 1
    """,
)
def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST3: the full production loop — stream -> foreachBatch ->
    versioned silver upsert (one commit per micro-batch) -> lake table.
    Late/updated rows reconcile exactly like the reference's ON
    CONFLICT DO UPDATE (loader.py:22-30); the final snapshot must
    equal the batch last-write-wins dedup."""
    scratch = tempfile.mkdtemp(prefix="gas_stream_silver_")
    shutil.rmtree(scratch, ignore_errors=True)
    silver = scratch + "/silver"
    ckpt = scratch + "/ckpt"

    batch_shape = events_stream(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("series_id"),
        F.date_trunc("hour", F.col("ts")).alias("observation_time"),
        F.col("value").cast("double").alias("value"),
        F.col("ts").alias("ingestion_time"),
        F.col("event_id"),
    )

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        upsert_observations_versioned(
            bdf.sparkSession, bdf, silver, order_cols=["ingestion_time", "event_id"]
        )

    run_foreach_batch(batch_shape, write_batch, ckpt)
    return read_observations_versioned(spark, silver).select(
        "series_id", "observation_time", "value"
    )


@register(
    "stream_stateful_stats",
    oracle="""
        SELECT event_type AS series_id,
               CAST(count(value) AS BIGINT) AS n_events,
               round(sum(value), 4) AS total,
               min(value) AS vmin, max(value) AS vmax
        FROM events
        GROUP BY event_type
    """,
)
def stream_stateful_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): running
    per-series stats accumulated in the state store across
    micro-batches. The batch GROUP BY is the oracle — after the stream
    drains, the latest update per series must equal the batch answer.
    (Total rounded: state accumulates in arrival order, the oracle in
    scan order; double addition is order-sensitive at ~1e-12.)"""
    from pyspark.sql.window import Window

    from gas_data_pipeline_spark.streaming.incremental import (
        stateful_series_stats,
    )

    stream = events_stream(spark, sf_dir)
    updates = run_stream_to_table(
        stateful_series_stats(stream), output_mode="update"
    )
    w = Window.partitionBy("series_id").orderBy(F.col("n_events").desc())
    return (
        updates.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "series_id",
            "n_events",
            F.round("total", 4).alias("total"),
            "vmin",
            "vmax",
        )
    )


@register(
    "stream_session_window",
    oracle="""
        WITH ev AS (
            SELECT user_id, event_id, value,
                   CAST(date_trunc('microsecond', ts) AS TIMESTAMP) AS ts
            FROM events
        ),
        flagged AS (
            SELECT user_id, event_id, ts, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                        THEN 1 ELSE 0 END AS new_session
            FROM ev
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sessions AS (
            SELECT user_id, ts, value,
                   sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS session_seq
            FROM flagged
        )
        SELECT user_id AS series_id,
               min(ts) AS session_start,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 4) AS total_value
        FROM sessions
        GROUP BY user_id, session_seq
        -- Append-mode closure rule: a session emits only once the
        -- watermark (global max ts - 1s delay) passes its end
        -- (last event + 30min gap). Trailing open sessions don't.
        HAVING max(ts) + INTERVAL 30 MINUTE
                 <= (SELECT max(ts) FROM ev) - INTERVAL 1 SECOND
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming ``session_window`` (30-min gap, watermarked)
    drained with AvailableNow — must produce exactly the sessions the
    batch lag/cumsum sessionizer defines, which is the oracle. Session
    end is gap-padded by Spark's session_window (last event + gap), so
    the comparable columns are start/count/total."""
    stream = events_stream(spark, sf_dir)
    # Append mode emits a session only once the watermark passes its
    # end; a tiny delay lets the AvailableNow drain finalize everything
    # (production would trade this for late-data tolerance).
    sessions = (
        stream.withWatermark("ts", "1 second")
        .groupBy(
            F.session_window("ts", "30 minutes").alias("w"),
            F.col("user_id").alias("series_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("total_dec"),
        )
    )
    out = run_stream_to_table(sessions, output_mode="append")
    return out.select(
        "series_id",
        F.col("w.start").alias("session_start"),
        "n_events",
        F.round(F.col("total_dec").cast("double"), 4).alias("total_value"),
    )


@register(
    "stream_sliding_window",
    oracle="""
        SELECT window_start,
               window_start + INTERVAL 1 HOUR AS window_end,
               event_type,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        FROM (
            SELECT CAST(to_timestamp(floor(epoch(ts) / 1800) * 1800) AS TIMESTAMP)
                     - k * INTERVAL 30 MINUTE AS window_start,
                   event_type, value
            FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k)
        )
        GROUP BY 1, 2, 3
    """,
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregate (1 h window, 30 min slide) run by the
    stream engine — the overlap form the tumbling/session queries
    don't cover. Spark assigns each event to duration/slide = 2
    epoch-aligned windows before the shuffle (a row-expansion, not a
    self-join); the oracle reproduces the same assignment with an
    explicit k in {0,1} fan-out. Decimal sum, then double, so the
    float total is order-insensitive."""
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 day")
        .groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    # Complete mode rewrites the sink from aggregation state every
    # batch — the trailing no-data batch re-emits the same table, so
    # its state-store commit cycle buys nothing (A/B-proven
    # byte-identical at sf0.1).
    return run_stream_to_table(agg, output_mode="complete", flush_no_data=False)


@register(
    "stream_enrich_static_join",
    oracle="""
        SELECT coalesce(c.c_mktsegment, 'UNKNOWN') AS segment,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1
    """,
)
def stream_enrich_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: each micro-batch of the event stream is
    enriched against a batch dimension table (the lakehouse customer
    dim), then aggregated per segment. Structured Streaming re-plans
    the static side per micro-batch — the dim broadcasts, so the
    streaming side never shuffles for the join; only the 5-segment
    aggregate exchanges. This is the reference's dim-join query
    (app/db/queries.py:14-16) running continuously instead of on
    request."""
    from gas_data_pipeline_spark.catalog import table as load_table

    ev = events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    enriched = ev.join(
        F.broadcast(dim), ev.user_id == dim.c_custkey, "left"
    ).select(
        F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("segment"), "value"
    )
    agg = enriched.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)"))
        .cast("double")
        .alias("sum_value"),
    )
    return run_stream_to_table(agg, output_mode="complete")


@register(
    "stream_stream_interval_join",
    oracle="""
        SELECT c.user_id AS user_id,
               c.event_id AS click_id,
               p.event_id AS purchase_id,
               CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS gap_seconds
        FROM events c JOIN events p
          ON c.user_id = p.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream watermarked interval join: click events joined to
    purchase events of the same user within the following 30 minutes —
    the attribution join every event pipeline runs. Both sides carry
    event-time watermarks and the join condition bounds event-time
    distance, which is what lets the engine expire buffered state
    instead of holding both streams forever; at scale state size is
    (watermark window x arrival rate), independent of stream length.
    Must produce exactly the batch interval-join answer."""
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", "1 day")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
    )
    buys = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 day")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
    )
    joined = clicks.join(
        buys,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
    )
    out = joined.select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts"))
        .cast("bigint")
        .alias("gap_seconds"),
    )
    # INNER stream-stream joins emit matches eagerly in the data batch;
    # the trailing no-data batch exists only to evict buffered state —
    # and pays a full commit cycle across all 4 join state stores per
    # partition to do it (measured: the empty batch cost the same order
    # as the 200k-row data batch). AvailableNow discards that state
    # anyway; skip the flush (A/B-proven byte-identical at sf0.1).
    return run_stream_to_table(out, output_mode="append", flush_no_data=False)


@register(
    "stream_lookback_upsert",
    oracle="""
        SELECT series_id, observation_time, value FROM (
            SELECT CAST(user_id AS VARCHAR) AS series_id,
                   date_trunc('hour', ts) AS observation_time,
                   CAST(value AS DOUBLE) AS value,
                   row_number() OVER (
                       PARTITION BY user_id, date_trunc('hour', ts)
                       ORDER BY ts DESC, event_id DESC
                   ) AS rn
            FROM events
            WHERE date_trunc('hour', ts) >=
                  TIMESTAMP '2024-01-31 00:00:00'
                  - CASE WHEN user_id % 2 = 0 THEN INTERVAL 7 DAY
                         ELSE INTERVAL 30 DAY END
        ) WHERE rn = 1
    """,
)
def stream_lookback_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST3 with per-series lookback (reference
    meta_series.lookback_days, models.py:36 / run_ingestion.py:8):
    the production scheduler loop where each series reconciles late
    data only within its OWN refetch horizon — even series 7 days,
    odd series 30, against a fixed `now` so streaming output equals
    the batch oracle. Rows older than their series' window never
    reach the silver upsert (the scheduler would never refetch
    them)."""
    from datetime import datetime

    from gas_data_pipeline_spark.streaming.incremental import (
        run_incremental_upsert,
    )

    scratch = tempfile.mkdtemp(prefix="gas_stream_lookback_")
    shutil.rmtree(scratch, ignore_errors=True)
    silver = scratch + "/silver"
    ckpt = scratch + "/ckpt"

    batch_shape = events_stream(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("series_id"),
        F.date_trunc("hour", F.col("ts")).alias("observation_time"),
        F.col("value").cast("double").alias("value"),
        F.col("ts").alias("ingestion_time"),
        F.col("event_id"),
    )
    from gas_data_pipeline_spark.catalog import table

    dim = (
        table(spark, sf_dir, "events")
        .select(F.col("user_id").cast("string").alias("series_id"))
        .distinct()
        .withColumn(
            "lookback_days",
            F.when(F.col("series_id").cast("bigint") % 2 == 0, F.lit(7)).otherwise(
                F.lit(30)
            ),
        )
    )
    run_incremental_upsert(
        batch_shape,
        dim,
        silver,
        ckpt,
        now=datetime(2024, 1, 31),
        order_cols=["ingestion_time", "event_id"],
    )
    return read_observations_versioned(spark, silver).select(
        "series_id", "observation_time", "value"
    )


@register(
    "stream_gie_delete_reload",
    oracle="""
        WITH daily AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS obs_date,
                   user_id AS series_id,
                   CAST(count(*) AS BIGINT) AS n_obs,
                   CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2
        ),
        mx AS (SELECT max(obs_date) AS now_day FROM daily)
        SELECT CAST(d.obs_date AS TIMESTAMP) AS obs_date,
               d.series_id, d.n_obs, d.sum_value
        FROM daily d, mx
        WHERE d.obs_date <> now_day - 10
    """,
)
def stream_gie_delete_reload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNK4∘ST3 (the reference's GIE job as a stream): two real
    micro-batches of lookback-window snapshots delete-reload a
    date-partitioned table, and the FINAL TABLE STATE is the checked
    value. Snapshot A carries only half the events over the full
    10-day window (a provisional early poll); snapshot B carries the
    full data but omits the window's oldest day. Correct delete-reload
    therefore leaves: untouched pre-window history, B's full values on
    every later window day (A's provisional values REPLACED), and NO
    row for the omitted day (A's rows DELETED — a mere upsert would
    leave them and fail the oracle). Deterministic: 'now' is the max
    event day, and :func:`run_staged_stream` runs each snapshot as one
    file and one micro-batch."""
    import os

    from gas_data_pipeline_spark.catalog import table
    from gas_data_pipeline_spark.streaming.incremental import (
        gie_delete_reload_batch_fn,
    )

    scratch = tempfile.mkdtemp(prefix="gas_stream_gie_")
    target = os.path.join(scratch, "daily")

    ev = table(spark, sf_dir, "events")

    # ONE events pass feeds everything (optimization r14, same device
    # as the hourly lifecycle's polls): the full-data aggregates plus
    # even-id conditional aggregates per (date, series) — identical
    # rows to aggregating the even subset separately (a group with no
    # even-id rows is excluded from the provisional snapshot by the
    # n_obs_half filter, exactly as the subset aggregate would exclude
    # it; sum(when(even, v)) over the group IS the subset sum). The
    # old shape re-ran the events groupBy four times (now_day action,
    # seed write, both snapshot stages); localCheckpoint makes each
    # consumer a cheap filter over the materialized aggregate.
    even = F.col("event_id") % 2 == 0
    dec_val = F.col("value").cast("decimal(18,4)")
    daily = (
        ev.groupBy(
            F.date_trunc("day", F.col("ts")).cast("date").alias("obs_date"),
            F.col("user_id").alias("series_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.sum(dec_val).cast("double").alias("sum_value"),
            F.count(F.when(even, F.lit(1))).alias("n_obs_half"),
            F.sum(F.when(even, dec_val)).cast("double").alias("sum_value_half"),
        )
        .localCheckpoint(eager=True)
    )
    now_day = daily.agg(F.max("obs_date")).first()[0]  # 1-value stats action
    cutoff = F.date_sub(F.lit(now_day), 10)

    # Seed the out-of-window history the stream must never touch.
    (
        daily.filter(F.col("obs_date") < cutoff)
        .select("obs_date", "series_id", "n_obs", "sum_value")
        .repartition(F.col("obs_date"))
        .write.partitionBy("obs_date")
        .parquet(target)
    )

    # Batch 0: provisional poll — half the events, full window.
    # Batch 1: authoritative poll — full data, oldest window day gone.
    polls = daily.filter(
        (F.col("n_obs_half") > 0) & (F.col("obs_date") >= cutoff)
    ).select(
        "obs_date",
        "series_id",
        F.col("n_obs_half").alias("n_obs"),
        F.col("sum_value_half").alias("sum_value"),
        F.lit(0).alias("batch"),
    ).unionByName(
        daily.filter(F.col("obs_date") > cutoff).select(
            "obs_date", "series_id", "n_obs", "sum_value", F.lit(1).alias("batch")
        )
    )
    run_staged_stream(
        polls, gie_delete_reload_batch_fn(target, now=now_day), scratch
    )

    return spark.read.parquet(target).select(
        # DATE internally (clean partition dirs); TIMESTAMP on the
        # wire so both engines render the column identically.
        F.col("obs_date").cast("timestamp").alias("obs_date"),
        "series_id",
        "n_obs",
        "sum_value",
    )


@register(
    "stream_bloom_dedup",
    oracle="""
        WITH batched AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 10 = 7
                        THEN (SELECT d2.text FROM documents d2
                              WHERE d2.doc_id = d.doc_id - 1)
                        ELSE text END AS text,
                   doc_id % 3 AS batch_id
            FROM documents d
        )
        SELECT b.doc_id FROM batched b
        WHERE NOT EXISTS (
            SELECT 1 FROM batched e
            WHERE sha256(e.text) = sha256(b.text) AND e.batch_id < b.batch_id
        )
    """,
)
def stream_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1∘ST3: the Bloom ingestion gate run as a stream — three
    micro-batches of documents foreachBatch through one driver-held
    ``BloomDedupState`` (operators/dedup.py): each batch probes the
    bitmap accumulated from every PRIOR admission, bloom-positives are
    exact-confirmed against the persisted corpus, survivors append and
    their bits are absorbed. This is the incremental operating mode
    the batch query's docstring promises (bitmap maintained across
    snapshots, never rebuilt from the corpus). Every 10th doc carries
    its predecessor's text, so the same sha lands in two different
    batches: admitted on its first batch, rejected on any later one —
    exactly the oracle's "no earlier batch holds this sha" rule. The
    final corpus is the checked value."""
    import os

    from gas_data_pipeline_spark.catalog import table
    from gas_data_pipeline_spark.operators.dedup import BloomDedupState

    scratch = tempfile.mkdtemp(prefix="gas_stream_bloom_")
    corpus = os.path.join(scratch, "corpus")

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    donor = docs.select(
        (F.col("doc_id") + 1).alias("doc_id"), F.col("text").alias("donor_text")
    )
    batched = (
        docs.join(donor, "doc_id", "left")
        .select(
            "doc_id",
            F.when(
                (F.col("doc_id") % 10 == 7) & F.col("donor_text").isNotNull(),
                F.col("donor_text"),
            )
            .otherwise(F.col("text"))
            .alias("text"),
            (F.col("doc_id") % 3).alias("batch"),
        )
    )

    state = BloomDedupState()
    empty = docs.filter(F.lit(False)).select("doc_id", "text")

    def admit(bdf: DataFrame, batch_id: int) -> None:
        sp = bdf.sparkSession
        existing = sp.read.parquet(corpus) if os.path.exists(corpus) else empty
        admitted = state.filter_new(
            bdf.select("doc_id", "text"), existing
        ).localCheckpoint(eager=True)
        admitted.write.mode("append").parquet(corpus)
        state.absorb(admitted)

    run_staged_stream(batched, admit, scratch)

    return spark.read.parquet(corpus).select("doc_id")


_HOURLY_E2E_ORACLE = r"""
        WITH full_hourly AS (
            SELECT user_id, date_trunc('hour', ts) AS obs_hour,
                   CAST(count(*) AS DOUBLE) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2
        ),
        half_hourly AS (
            SELECT user_id, date_trunc('hour', ts) AS obs_hour,
                   CAST(count(*) AS DOUBLE) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
            FROM events WHERE event_id % 2 = 0 GROUP BY 1, 2
        ),
        obs AS (
            SELECT 'NG_HOURLYFEED_' || CAST(user_id AS VARCHAR) || '_N_EVENTS'
                       AS series_id,
                   obs_hour AS observation_time, n_events AS value
            FROM full_hourly
            UNION ALL
            SELECT 'NG_HOURLYFEED_' || CAST(user_id AS VARCHAR) || '_SUM_VALUE',
                   obs_hour, sum_value
            FROM full_hourly WHERE sum_value IS NOT NULL
        ),
        cells AS (
            SELECT 'user_id' AS field_name, CAST(user_id AS VARCHAR) AS v FROM half_hourly
            UNION ALL SELECT 'obs_hour', CAST(obs_hour AS VARCHAR) FROM half_hourly
            UNION ALL SELECT 'n_events', CAST(n_events AS VARCHAR) FROM half_hourly
            UNION ALL SELECT 'sum_value', CAST(sum_value AS VARCHAR) FROM half_hourly
        ),
        typed AS (
            SELECT field_name,
                   CASE WHEN v IS NULL THEN NULL
                        WHEN v IN ('true','false') THEN 'boolean'
                        WHEN regexp_matches(v, '^-?\d+$') THEN 'integer'
                        WHEN regexp_matches(v, '^-?\d+(\.\d+)?([eE][+-]?\d+)?$') THEN 'float'
                        WHEN regexp_matches(v, '^[\[{]') THEN 'json'
                        ELSE 'string' END AS vt
            FROM cells
        ),
        fields AS (
            SELECT field_name || '=' ||
                   COALESCE(NULLIF(string_agg(DISTINCT vt, ',' ORDER BY vt), ''), 'null')
                       AS fid
            FROM typed GROUP BY field_name
        )
        SELECT 'obs' AS kind, series_id, observation_time, value FROM obs
        UNION ALL
        SELECT 'field', fid, CAST(NULL AS TIMESTAMP), CAST(NULL AS DOUBLE) FROM fields
        UNION ALL
        SELECT 'bronze', 'hourlyfeed', CAST(NULL AS TIMESTAMP),
               CAST((SELECT count(*) FROM half_hourly)
                    + (SELECT count(*) FROM full_hourly) AS DOUBLE)
    """


def _hourly_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's whole production lifecycle under the streaming
    scheduler, end to end: fetch -> bronze -> discover/register fields
    -> melt -> series auto-register -> silver upsert (reference
    app/scheduler/scheduler.py + app/ingestion/run_all.py:70-118), run
    as TWO real Trigger.ProcessingTime scheduler cycles — not
    AvailableNow — through ``GasDataEngine.ingest_batch``. Each
    cycle's silver commit is a manifest CAS publish on the versioned
    store (pipeline/versioned.py): cycle 2 lands as version 2 with
    cycle 1's untouched partitions structurally shared, and the final
    read is one atomic snapshot resolution.

    Cycle 1 is a provisional early poll (only the even-id half of the
    events, aggregated to the wide per-(user, hour) shape an API fetch
    returns); cycle 2 is the authoritative re-poll of the same window
    (full data — every cycle-1 key revised late). Correct lifecycle
    behavior therefore requires: bronze keeps BOTH polls verbatim
    (zero loss), the field catalog registers on cycle 1 and is a
    no-op on cycle 2 (insert-if-absent), every melted series is in
    meta_series (the obs section inner-joins it — unregistered series
    would vanish and fail the row count), and the silver upsert's
    last-write-wins leaves exactly the cycle-2 values. The checked
    value is all three layers: final silver observations (joined to
    the series dim), the field catalog's (name, inferred-type lattice)
    entries, and the bronze row count.

    Deterministic despite the wall-clock trigger: both polls run
    through :func:`run_staged_stream`, which drops each as one file into
    the watched dir and awaits its cycle before the next drop, so the
    two ingests run strictly sequentially (max_instances=1 semantics)
    with cycle 2's batch-priority beating cycle 1 regardless of
    timestamps.

    Cost breakdown (sf0.1, local[32], median-of-3 — VERDICT r9 #6):
    harness ~0.9 s (polls aggregate 0.5 + staging 0.3 + stream start
    0.1), cycle 1 ~1.4 s, cycle 2 ~1.8 s, result assembly ~0.3 s;
    ~4.9 s total. Each cycle's wall-clock is the silver upsert (the
    four ingest sinks run concurrently; the other three finish
    earlier) — the r10 one-shuffle merge (pipeline/silver.py: the
    dedup window rides the write's obs_date exchange) cut cycle 2
    from ~2.2 s. The remainder is genuine lifecycle: two sequential
    Structured-Streaming micro-batches, each committing four stores.
    """
    import os

    from gas_data_pipeline_spark.catalog import table
    from gas_data_pipeline_spark.engine import GasDataEngine

    scratch = tempfile.mkdtemp(prefix="gas_hourly_e2e_")
    root = os.path.join(scratch, "lake")
    engine = GasDataEngine(spark, root)

    ev = table(spark, sf_dir, "events")

    # Both poll pages come out of ONE events pass: the full-data
    # aggregates plus even-id-only conditional aggregates per
    # (user, hour) — identical rows to aggregating each subset
    # separately (a group with no even-id rows is excluded from the
    # provisional page by the n_events_half filter, exactly as the
    # subset aggregate would exclude it). run_staged_stream stages both
    # pages BEFORE the stream starts, which leaves only an atomic file
    # move between scheduler cycles — the harness adds no Spark work
    # mid-lifecycle.
    dec_val = F.col("value").cast("decimal(18,4)")
    even = F.col("event_id") % 2 == 0
    # localCheckpoint: both poll pages project from this one aggregate
    # (harness cost, not lifecycle cost).
    agg = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("obs_hour")
    ).agg(
        F.count(F.lit(1)).cast("double").alias("n_events"),
        F.sum(dec_val).cast("double").alias("sum_value"),
        F.count(F.when(even, F.lit(1))).cast("double").alias("n_events_half"),
        F.sum(F.when(even, dec_val)).cast("double").alias("sum_value_half"),
    ).localCheckpoint(eager=True)
    # Scheduler cycle 1: provisional poll (the even-id half). Cycle 2:
    # authoritative re-poll, late revisions of every cycle-1 key.
    polls = agg.filter(F.col("n_events_half") > 0).select(
        "user_id",
        "obs_hour",
        F.col("n_events_half").alias("n_events"),
        F.col("sum_value_half").alias("sum_value"),
        F.lit(0).alias("batch"),
    ).unionByName(
        agg.select(
            "user_id", "obs_hour", "n_events", "sum_value", F.lit(1).alias("batch")
        )
    )

    def cycle(bdf: DataFrame, seq: int) -> None:
        engine.ingest_batch(
            bdf,
            dataset_id="hourlyfeed",
            source="rest-poll",
            id_cols=["user_id"],
            time_col="obs_hour",
            collect_stats=False,
        )

    run_staged_stream(polls, cycle, scratch)

    silver = engine._read_obs()
    dim = spark.read.parquet(engine.series_path).select("series_id")
    obs_rows = silver.join(dim, "series_id").select(
        F.lit("obs").alias("kind"),
        "series_id",
        "observation_time",
        "value",
    )
    field_rows = spark.read.parquet(engine.fields_path).select(
        F.lit("field").alias("kind"),
        F.concat("field_name", F.lit("="), "inferred_type").alias("series_id"),
        F.lit(None).cast("timestamp").alias("observation_time"),
        F.lit(None).cast("double").alias("value"),
    )
    n_bronze = spark.read.parquet(engine.bronze_path).count()
    bronze_row = spark.range(1).select(
        F.lit("bronze").alias("kind"),
        F.lit("hourlyfeed").alias("series_id"),
        F.lit(None).cast("timestamp").alias("observation_time"),
        F.lit(float(n_bronze)).alias("value"),
    )
    return obs_rows.unionByName(field_rows).unionByName(bronze_row)


@register("hourly_pipeline_e2e", oracle=_HOURLY_E2E_ORACLE)
def hourly_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6/ST1 — the full scheduler lifecycle; see
    :func:`_hourly_lifecycle`."""
    return _hourly_lifecycle(spark, sf_dir)


@register("hourly_pipeline_atomic_e2e", oracle=_HOURLY_E2E_ORACLE)
def hourly_pipeline_atomic_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6/ST1 — the same lifecycle and oracle as
    :func:`hourly_pipeline_e2e`, kept under its registered name: every
    scheduler cycle commits to the versioned silver store."""
    return _hourly_lifecycle(spark, sf_dir)


def _psi_cum_block(batch_seq: int, cum_filter: str) -> str:
    """One cumulative-PSI SELECT for the stream_drift_monitor oracle:
    baseline = even-id events, current = odd-id events (click drift
    planted) restricted to ``cum_filter`` — the state the monitor's
    incrementally-maintained histogram holds after that micro-batch."""
    return f"""
        SELECT {batch_seq} AS batch_seq, h.feature,
               CAST(max(t.n_base) AS BIGINT) AS n_base,
               CAST(max(t.n_cur) AS BIGINT) AS n_cur,
               round(sum(
                   (greatest(h.cnt_cur / t.n_cur, 1e-6)
                    - greatest(h.cnt_base / t.n_base, 1e-6))
                   * ln(greatest(h.cnt_cur / t.n_cur, 1e-6)
                        / greatest(h.cnt_base / t.n_base, 1e-6))
               ), 6) AS psi
        FROM (
            WITH feats AS (
                SELECT event_id,
                       CASE WHEN event_id % 2 = 1 AND event_type = 'click'
                            THEN value * 1.5 + 2 ELSE value END AS value,
                       CAST(hour(ts) AS DOUBLE) AS hour_of_day
                FROM events
            ),
            long AS (
                SELECT event_id, 'value' AS feature, value AS v
                FROM feats WHERE value IS NOT NULL
                UNION ALL
                SELECT event_id, 'hour_of_day', hour_of_day
                FROM feats WHERE hour_of_day IS NOT NULL
            ),
            bounds AS (
                SELECT feature, min(v) AS lo, max(v) AS hi
                FROM long WHERE event_id % 2 = 0 GROUP BY feature
            ),
            binned AS (
                SELECT l.event_id, l.feature,
                       CASE WHEN b.hi = b.lo THEN 0
                            ELSE least(9, greatest(0, CAST(floor(
                                (l.v - b.lo) / ((b.hi - b.lo) / 10.0)) AS INT)))
                       END AS bin
                FROM long l JOIN bounds b USING (feature)
            ),
            bh AS (
                SELECT feature, bin, count(*) AS cnt_base
                FROM binned WHERE event_id % 2 = 0 GROUP BY feature, bin
            ),
            ch AS (
                SELECT feature, bin, count(*) AS cnt_cur
                FROM binned WHERE {cum_filter} GROUP BY feature, bin
            )
            SELECT coalesce(bh.feature, ch.feature) AS feature,
                   coalesce(cnt_base, 0) AS cnt_base,
                   coalesce(cnt_cur, 0) AS cnt_cur
            FROM bh FULL OUTER JOIN ch
                 ON bh.feature = ch.feature AND bh.bin = ch.bin
        ) h
        JOIN (
            SELECT feature, sum(cnt_base) AS n_base, sum(cnt_cur) AS n_cur
            FROM (
                WITH feats AS (
                    SELECT event_id,
                           CASE WHEN event_id % 2 = 1 AND event_type = 'click'
                                THEN value * 1.5 + 2 ELSE value END AS value,
                           CAST(hour(ts) AS DOUBLE) AS hour_of_day
                    FROM events
                ),
                long AS (
                    SELECT event_id, 'value' AS feature, value AS v
                    FROM feats WHERE value IS NOT NULL
                    UNION ALL
                    SELECT event_id, 'hour_of_day', hour_of_day
                    FROM feats WHERE hour_of_day IS NOT NULL
                )
                SELECT feature,
                       sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS cnt_base,
                       sum(CASE WHEN {cum_filter} THEN 1 ELSE 0 END) AS cnt_cur
                FROM long GROUP BY feature
            ) GROUP BY feature
        ) t ON h.feature = t.feature
        GROUP BY h.feature
    """


def drift_monitor_writer(
    bounds_path: str,
    base_hist_path: str,
    state_dir: str,
    log_path: str,
    feature_cols: list[str],
):
    """Build the foreachBatch writer for the continuous drift monitor:
    fold the batch's histogram into the persisted (feature, bin) state
    and log the PSI vs the static baseline.

    Idempotent under micro-batch replay (the exactly-once contract
    ``run_foreach_batch`` documents): both writes are keyed by
    batch_id and OVERWRITE, so a retried batch converges to the
    identical state/log instead of failing (errorifexists state) or
    double-counting (blind log append). Pinned in
    tests/test_drift.py::test_drift_monitor_writer_replay_converges.
    """
    import os

    from gas_data_pipeline_spark.operators.drift import (
        histogram_on_bounds,
        psi_from_histograms,
    )

    def state_path(n: int) -> str:
        return os.path.join(state_dir, f"hist_after_{n}")

    def monitor(bdf: DataFrame, batch_id: int) -> None:
        sp = bdf.sparkSession
        b = sp.read.parquet(bounds_path)
        batch_hist = histogram_on_bounds(bdf, feature_cols, b, bins=10)
        if batch_id == 0:
            merged = batch_hist
        else:
            prev = sp.read.parquet(state_path(batch_id - 1))
            merged = (
                prev.unionByName(batch_hist)
                .groupBy("feature", "bin")
                .agg(F.sum("cnt").alias("cnt"))
            )
        merged.write.mode("overwrite").parquet(state_path(batch_id))
        psi = psi_from_histograms(
            sp.read.parquet(base_hist_path), sp.read.parquet(state_path(batch_id))
        ).select(F.lit(batch_id).alias("batch_seq"), "*")
        psi.write.mode("overwrite").parquet(
            os.path.join(log_path, f"batch_{batch_id}")
        )

    return monitor


@register(
    "stream_drift_monitor",
    oracle=" UNION ALL ".join(
        [
            _psi_cum_block(0, "event_id % 4 = 1"),
            _psi_cum_block(1, "event_id % 2 = 1"),
        ]
    ),
)
def stream_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous drift monitoring over the live stream: the PSI
    retrain gate (`operators/drift.py`) recomputed after EVERY
    micro-batch against a static baseline, with the current-side
    histogram maintained INCREMENTALLY — each batch folds map-side to
    its own (feature, bin) partial counts which are ADDED to the
    persisted histogram state; the accumulated stream is never
    rescanned and raw rows never reach any exchange. The baseline
    (even-id events) is summarized ONCE to bounds + histogram; odd-id
    events arrive in two deterministic micro-batches with the click
    drift planted, so after every batch the logged PSI must be
    materially positive for `value` (~1000x `hour_of_day`'s, which
    stays at noise level) — the gate fires on the drifted feature
    from the first cycle. The oracle
    recomputes both cumulative PSI states from scratch — incremental
    maintenance must equal full recompute, the same invariant as
    `incremental_rollup_maintenance`.

    100 TB shape: per-cycle cost = one scan of the NEW batch + a
    histogram-sized (features x bins) merge and PSI evaluation; state
    is a few hundred rows regardless of stream length. This is the
    reference's hourly-scheduler loop (app/scheduler/scheduler.py)
    carrying a monitoring obligation instead of an ingest one."""
    import os

    from gas_data_pipeline_spark.catalog import table
    from gas_data_pipeline_spark.operators.drift import (
        baseline_bounds,
        histogram_on_bounds,
    )

    feature_cols = ["value", "hour_of_day"]
    scratch = tempfile.mkdtemp(prefix="gas_drift_mon_")
    log_path = os.path.join(scratch, "drift_log")

    ev = table(spark, sf_dir, "events")
    feats = ev.select(
        "event_id",
        F.when(
            (F.col("event_id") % 2 == 1) & (F.col("event_type") == "click"),
            F.col("value") * 1.5 + 2,
        )
        .otherwise(F.col("value"))
        .alias("value"),
        F.hour("ts").cast("double").alias("hour_of_day"),
    )
    base = feats.filter(F.col("event_id") % 2 == 0)

    # Baseline summarized once: bounds + histogram, both tiny.
    bounds_path = os.path.join(scratch, "bounds")
    base_hist_path = os.path.join(scratch, "base_hist")
    bounds = baseline_bounds(base, feature_cols)
    bounds.write.parquet(bounds_path)
    histogram_on_bounds(base, feature_cols, bounds, bins=10).write.parquet(
        base_hist_path
    )

    monitor = drift_monitor_writer(
        bounds_path, base_hist_path, scratch, log_path, feature_cols
    )

    cur = feats.filter(F.col("event_id") % 2 == 1).withColumn(
        "batch", F.when(F.col("event_id") % 4 == 1, 0).otherwise(1)
    )
    run_staged_stream(cur, monitor, scratch)

    return spark.read.parquet(os.path.join(log_path, "batch_*")).select(
        "batch_seq", "feature", "n_base", "n_cur", "psi"
    )


@register(
    "stream_quarantine_split",
    oracle="""
        SELECT CAST(doc_id % 2 AS BIGINT) AS batch_seq, lang,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM documents WHERE doc_id % 97 <> 0 GROUP BY 1, 2
        UNION ALL
        SELECT CAST(doc_id % 2 AS BIGINT), '_quarantined',
               CAST(count(*) AS BIGINT)
        FROM documents WHERE doc_id % 97 = 0 GROUP BY 1
    """,
)
def stream_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-loss ingest under the STREAM engine: each micro-batch of
    raw JSONL lines splits into parsed rows (appended to silver) and
    malformed lines (appended, verbatim, to the quarantine sink) —
    the streaming twin of `jsonl_ingest_quarantine`, proving the
    store-then-transform discipline holds per micro-batch, not just
    per file. Every 97th document's line is truncated mid-JSON; two
    deterministic micro-batches (even/odd doc ids) drain through
    foreachBatch, and the result reports per-(batch, lang) parsed
    counts plus per-batch quarantine counts. Nothing is dropped: the
    oracle reproduces both partitions of every batch from the clean
    table. Scale shape: the split is two narrow filters over one
    from_json pass; both sinks are blind appends — per-cycle cost is
    the new batch only."""
    import os

    from gas_data_pipeline_spark.catalog import table

    scratch = tempfile.mkdtemp(prefix="gas_stream_quar_")
    silver = os.path.join(scratch, "silver")
    quar = os.path.join(scratch, "quarantine")

    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    line = F.to_json(F.struct("doc_id", "lang", "n_chars"))
    corrupted = F.when(
        F.col("doc_id") % 97 == 0, F.substring(line, 1, 10)
    ).otherwise(line)
    batched = docs.select(
        corrupted.alias("value"), (F.col("doc_id") % 2).alias("batch")
    )

    schema = "doc_id bigint, lang string, n_chars bigint"

    def split(bdf: DataFrame, batch_id: int) -> None:
        parsed = bdf.select(
            "value", F.from_json("value", schema).alias("j")
        ).localCheckpoint(eager=True)  # one parse pass feeds both sinks
        # Permissive from_json "salvages" some truncated lines as a
        # struct of nulls — a line only counts as parsed if the
        # required key actually materialized (same contract as
        # sources/files.read_jsonl_quarantine: quarantine on parse
        # failure, never on optional-field absence).
        ok = F.col("j").isNotNull() & F.col("j.doc_id").isNotNull()
        good = parsed.filter(ok).select(
            "j.*", F.lit(batch_id).alias("batch_seq")
        )
        bad = parsed.filter(~ok).select(
            "value", F.lit(batch_id).alias("batch_seq")
        )
        # The two sinks are independent narrow filters over the one
        # checkpointed parse — submit both writes concurrently so each
        # job's task tail back-fills the other's idle cores (guide
        # §2.6; same pattern as engine.ingest_batch's 4-way pool).
        # Interleaved A/B at sf0.1: every overlapped run beat every
        # sequential run, median 1.48 vs 1.63 s (r14 optimization).
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            writes = [
                pool.submit(
                    lambda df, path: df.write.mode("append").parquet(path),
                    df,
                    path,
                )
                for df, path in ((good, silver), (bad, quar))
            ]
            for w in writes:
                w.result()

    run_staged_stream(batched, split, scratch, fmt="text")

    per_lang = (
        spark.read.parquet(silver)
        .groupBy("batch_seq", "lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    )
    quarantined = (
        spark.read.parquet(quar)
        .groupBy("batch_seq")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        .select("batch_seq", F.lit("_quarantined").alias("lang"), "n_rows")
    )
    return per_lang.unionByName(quarantined).select(
        F.col("batch_seq").cast("bigint"), "lang", "n_rows"
    )


def _cms_bucket_sql(j_expr: str, key_expr: str) -> str:
    """DuckDB twin of operators/selection.portable_bucket with the
    per-row CMS salt 'cms-v1:<j>'."""
    return (
        "CAST(concat('0x', substring(md5('cms-v1:' || "
        f"CAST({j_expr} AS VARCHAR) || ':' || CAST({key_expr} AS VARCHAR)"
        "), 1, 8)) AS BIGINT) % 64"
    )


def _cms_cum_block(batch_seq: int, cum_filter: str) -> str:
    """One cumulative-CMS SELECT for the stream_heavy_hitters_cms
    oracle: the estimates the monitor's incrementally-merged sketch
    yields for the watch-list after that micro-batch — recomputed
    from scratch, so incremental maintenance must equal full
    recompute."""
    return f"""
        SELECT {batch_seq} AS batch_seq, p.user_id,
               CAST(min(coalesce(m.cnt, 0)) AS BIGINT) AS cms_estimate
        FROM (
            SELECT c.user_id, t.j AS row_j,
                   {_cms_bucket_sql('t.j', 'c.user_id')} AS bucket
            FROM (SELECT DISTINCT user_id FROM events WHERE user_id < 10) c,
                 UNNEST([0, 1, 2, 3]) t(j)
        ) p LEFT JOIN (
            SELECT row_j, bucket, CAST(count(*) AS BIGINT) AS cnt
            FROM (
                SELECT t.j AS row_j,
                       {_cms_bucket_sql('t.j', 'user_id')} AS bucket
                FROM events, UNNEST([0, 1, 2, 3]) t(j)
                WHERE {cum_filter}
            ) GROUP BY 1, 2
        ) m USING (row_j, bucket)
        GROUP BY 1, 2
    """


def cms_monitor_writer(state_dir: str, log_dir: str, tracked: list[int]):
    """Build the foreachBatch writer for the streaming heavy-hitters
    monitor: fold the batch's Count-Min sketch into the persisted
    cumulative sketch and log the watch-list estimates.

    Idempotent under micro-batch replay (the exactly-once contract
    ``run_foreach_batch`` documents): state and log writes are both
    keyed by batch_id and OVERWRITE, so a retried batch converges —
    same discipline as ``drift_monitor_writer``, pinned in
    tests/test_selection.py::test_cms_monitor_writer_replay_converges.
    """
    import os

    from gas_data_pipeline_spark.operators.selection import (
        cms_build,
        cms_estimate,
        cms_merge,
    )

    def state_path(n: int) -> str:
        return os.path.join(state_dir, f"cms_after_{n}")

    def monitor(bdf: DataFrame, batch_id: int) -> None:
        sp = bdf.sparkSession
        key = F.col("user_id").cast("string")
        batch_sk = cms_build(bdf, key, [])
        if batch_id == 0:
            merged = batch_sk
        else:
            prev = sp.read.parquet(state_path(batch_id - 1))
            merged = cms_merge(prev.unionByName(batch_sk))
        merged.write.mode("overwrite").parquet(state_path(batch_id))
        cands = local_table(sp, [(u,) for u in tracked], "user_id bigint")
        est = cms_estimate(
            cands, sp.read.parquet(state_path(batch_id)), key
        )
        est.select(
            F.lit(batch_id).cast("bigint").alias("batch_seq"),
            "user_id",
            "cms_estimate",
        ).write.mode("overwrite").parquet(
            os.path.join(log_dir, f"batch_{batch_id}")
        )

    return monitor


@register(
    "stream_heavy_hitters_cms",
    oracle=" UNION ALL ".join(
        [
            _cms_cum_block(0, "event_id % 2 = 0"),
            _cms_cum_block(1, "event_id % 2 = 0 OR event_id % 2 = 1"),
        ]
    ),
)
def stream_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming frequency monitoring with mergeable sketch state: a
    Count-Min sketch (`operators/selection.py`) maintained
    INCREMENTALLY over the live stream — each micro-batch folds
    map-side into its own 4x64-cell sketch which is cell-wise-summed
    into the persisted cumulative sketch, then the watch-list's
    estimates are logged. The accumulated stream is never rescanned;
    per-cycle cost is one scan of the NEW batch plus a 256-row merge,
    whatever the stream's age — the streaming complement of
    `cms_heavy_hitters_merge` exactly as `stream_drift_monitor`
    complements `drift_psi_features`. Two deterministic micro-batches
    (even ids, then odd ids) drain through foreachBatch; the oracle
    recomputes both cumulative sketches from scratch, so incremental
    maintenance must equal full recompute."""
    import os

    from gas_data_pipeline_spark.catalog import table

    scratch = tempfile.mkdtemp(prefix="gas_cms_mon_")
    log_dir = os.path.join(scratch, "hh_log")

    ev = table(spark, sf_dir, "events").select("event_id", "user_id")
    tracked = [
        r["user_id"]
        for r in ev.filter(F.col("user_id") < 10)
        .select("user_id")
        .distinct()
        .orderBy("user_id")
        .collect()
    ]
    monitor = cms_monitor_writer(scratch, log_dir, tracked)

    batched = ev.withColumn("batch", (F.col("event_id") % 2).cast("int"))
    run_staged_stream(batched, monitor, scratch)

    return spark.read.parquet(os.path.join(log_dir, "batch_*")).select(
        "batch_seq", "user_id", "cms_estimate"
    )


# ---------------------------------------------------------------------------
# SRC1 streamed through the Python DataSource (round 7)
# ---------------------------------------------------------------------------

_REST_STREAM_OPTS = {
    "start": "2024-03-01",
    "end": "2024-03-06",
    "days": "2",
    "transport": "fixture",
}


@register(
    "stream_rest_datasource_ingest",
    oracle="""
        WITH days AS (
            SELECT unnest(generate_series(
                DATE '2024-03-01', DATE '2024-03-06', INTERVAL 1 DAY
            ))::DATE AS d
        ),
        sites(site_id, site_name, area_name) AS (
            VALUES (1, 'St Fergus', 'North'), (2, 'Bacton', 'East')
        ),
        calc AS (
            SELECT strftime(DATE '2024-03-01'
                       + (datediff('day', DATE '2024-03-01', d) // 2) * 2
                         * INTERVAL 1 DAY, '%Y-%m-%d') AS chunk_start,
                   CAST(site_id AS BIGINT) AS site_id,
                   site_name, area_name,
                   strftime(d, '%Y-%m-%d') || 'T00:00:00Z' AS applicable_at,
                   -- datediff from 0000-12-31 == Python date.toordinal()
                   datediff('day', DATE '0000-12-31', d) AS ord
            FROM days CROSS JOIN sites
        )
        SELECT chunk_start, site_id, site_name, area_name, applicable_at,
               round(38.0 + site_id + 0.1 * (ord % 7), 4) AS cv,
               round(50.0 + site_id + 0.05 * (ord % 11), 4) AS wi
        FROM calc
    """,
)
def stream_rest_datasource_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRC1's scheduler-driven ingestion as a REAL streaming source:
    ``spark.readStream`` on the ``gas_quality_rest`` Python DataSource
    (`sources/pyds.py`) tails the feed with a checkpointed day-offset
    frontier — each trigger advances one 2-day chunk and fetches that
    window's pages as executor tasks, replacing the reference's
    hourly re-run + lookback re-ingest with offset-log exactly-once.
    The bounded fixture window (6 days, 3 micro-batches) drains to a
    memory sink; the oracle replays the deterministic fixture payload
    (a pure function of the date) entirely in SQL, so the WHOLE
    source path — offset planning, chunk fan-out, flatten — is
    value-checked, not just row-counted."""
    import uuid

    from gas_data_pipeline_spark.sources.pyds import (
        register_gas_quality_source,
    )
    from gas_data_pipeline_spark.streaming.incremental import (
        run_stream_until,
    )

    register_gas_quality_source(spark)
    scratch = tempfile.mkdtemp(prefix="gas_rest_stream_")
    name = f"rest_stream_{uuid.uuid4().hex[:8]}"
    sdf = (
        spark.readStream.format("gas_quality_rest")
        .options(**_REST_STREAM_OPTS)
        .load()
    )

    started: list = []

    def start():
        started.append(
            sdf.writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", scratch + "/ckpt")
            .trigger(processingTime="0 seconds")
            .start()
        )
        return started[-1]

    def rows_in() -> int:
        # The query's own progress, reported after each batch's sink
        # commit: polling it starts no Spark job.
        return sum(p["numInputRows"] for p in started[-1].recentProgress)

    # Start with a bounded one-retry: a transient Python-worker spawn
    # failure at stream start (query still INITIALIZING, zero offsets
    # committed) gets one fresh start against the same checkpoint —
    # nothing was committed, so the restart is exactly-once-safe.
    q = run_stream_until(start, lambda: rows_in() >= 12, timeout_sec=120.0)
    q.stop()
    return spark.table(name).select(
        "chunk_start",
        "site_id",
        "site_name",
        "area_name",
        "applicable_at",
        "cv",
        "wi",
    )
