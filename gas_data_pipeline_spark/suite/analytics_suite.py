"""Analytics suite: time-series operators (as-of join, sessionization,
gap-filled resample) + relational extras (range/band join, CUBE,
approx-distinct) the engine exposes beyond reference parity.

The reference's domain is a long-format time-series store (reference
app/db/models.py:42-62); "value as of T", sessions, and dense daily
rollups are the canonical queries such a store serves. Oracles are
exact ANSI/DuckDB SQL except approx-distinct (engine-specific HLL —
rows-only with a pytest accuracy bound vs exact)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gas_data_pipeline_spark.catalog import local_table, table
from gas_data_pipeline_spark.operators.timeseries import (
    asof_join,
    gap_fill_daily,
    sessionize,
)
from gas_data_pipeline_spark.registry import register


@register(
    "asof_join_latest_view",
    oracle="""
        WITH ev AS (
            SELECT event_id, user_id, event_type, value,
                   CAST(date_trunc('microsecond', ts) AS TIMESTAMP) AS ts
            FROM events
        ),
        clicks AS (SELECT * FROM ev WHERE event_type = 'click'),
        views AS (
            SELECT user_id, ts, event_id, value FROM (
                SELECT user_id, ts, event_id, value,
                       row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
                FROM ev WHERE event_type = 'view'
            ) WHERE rn = 1
        )
        SELECT c.event_id, c.user_id, c.ts, c.value,
               v.event_id AS view_event_id, v.ts AS view_ts, v.value AS view_value
        FROM clicks c ASOF LEFT JOIN views v
          ON c.user_id = v.user_id AND c.ts >= v.ts
    """,
)
def asof_join_latest_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (union-tag window, one shuffle): each click matched
    to the same user's most recent view at-or-before it. DuckDB's
    native ASOF JOIN is the oracle. Views pre-deduped per (user, ts)
    so tie resolution is deterministic in both engines."""
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    views = (
        ev.filter(F.col("event_type") == "view")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", "event_id", "value")
    )
    out = asof_join(
        clicks,
        views,
        keys=["user_id"],
        right_payload=["event_id", "ts", "value"],
        prefix="view_",
    )
    return out.select(
        "event_id", "user_id", "ts", "value",
        "view_event_id", "view_ts", "view_value",
    )


@register(
    "sessionize_events",
    oracle="""
        WITH ev AS (
            SELECT user_id, event_id, value,
                   CAST(date_trunc('microsecond', ts) AS TIMESTAMP) AS ts
            FROM events
        ),
        flagged AS (
            SELECT user_id, ts, event_id, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                        THEN 1 ELSE 0 END AS new_session
            FROM ev
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sessions AS (
            SELECT user_id, ts, value,
                   CAST(sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS session_seq
            FROM flagged
        )
        SELECT user_id, session_seq,
               min(ts) AS session_start, max(ts) AS session_end,
               CAST(count(*) AS BIGINT) AS n_events,
               sum(value) AS total_value
        FROM sessions
        GROUP BY user_id, session_seq
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (30-min inactivity gap) + per-session rollup —
    the batch analog of Structured Streaming's session_window. One
    shuffle for the window, map-side partials for the rollup."""
    ev = table(spark, sf_dir, "events")
    sessions = sessionize(
        ev, key="user_id", ts_col="ts", gap_seconds=1800, order_tiebreak="event_id"
    )
    return sessions.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("total_value"),
    )


@register(
    "gap_fill_daily_rollup",
    oracle="""
        WITH ev AS (
            SELECT event_type AS series, CAST(ts AS DATE) AS day, value
            FROM events
        ),
        daily AS (
            SELECT series, day, sum(value) AS total,
                   CAST(count(*) AS BIGINT) AS n_obs
            FROM ev GROUP BY series, day
        ),
        bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
        grid AS (
            SELECT s.series, CAST(g.day AS DATE) AS day
            FROM (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
                  FROM bounds) g
            CROSS JOIN (SELECT DISTINCT series FROM ev) s
        )
        SELECT grid.series, strftime(grid.day, '%Y-%m-%d') AS day,
               coalesce(daily.total, 0.0) AS total,
               coalesce(daily.n_obs, 0) AS n_obs
        FROM grid LEFT JOIN daily
          ON grid.series = daily.series AND grid.day = daily.day
    """,
)
def gap_fill_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense daily rollup per event_type: intraday→daily downsampling
    (the reference's frequency column implies it) with missing days
    emitted as zero rows via a sequence-exploded day grid. The day is
    emitted as an ISO string: DuckDB DATE surfaces in pandas as
    datetime64 while Spark DateType surfaces as date, so a string is
    the only representation both engines hash identically."""
    ev = table(spark, sf_dir, "events")
    out = gap_fill_daily(ev, series_col="event_type", ts_col="ts", value_col="value")
    return out.withColumn("day", F.date_format("day", "yyyy-MM-dd"))


_BANDS = [
    ("budget", 0.0, 1000.0),
    ("mid", 1000.0, 1400.0),
    ("premium", 1400.0, 1800.0),
    ("luxury", 1800.0, 1e9),
]
_BANDS_SQL = ", ".join(f"('{n}', {lo}, {hi})" for n, lo, hi in _BANDS)


@register(
    "band_range_join",
    oracle=f"""
        SELECT band, CAST(count(*) AS BIGINT) AS n_parts,
               round(avg(p_retailprice), 4) AS avg_price
        FROM part
        JOIN (VALUES {_BANDS_SQL}) AS bands(band, lo, hi)
          ON p_retailprice >= lo AND p_retailprice < hi
        GROUP BY band
    """,
)
def band_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (theta) join: parts against a broadcast price-band dim on
    lo <= price < hi — Spark plans BroadcastNestedLoopJoin, which is
    exactly right for a 4-row build side; the fact side never
    shuffles until the final 4-group aggregate."""
    part = table(spark, sf_dir, "part")
    bands = local_table(spark, _BANDS, "band string, lo double, hi double")
    joined = part.join(
        F.broadcast(bands),
        (F.col("p_retailprice") >= F.col("lo")) & (F.col("p_retailprice") < F.col("hi")),
    )
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.round(F.avg("p_retailprice"), 4).alias("avg_price"),
    )


@register(
    "cube_revenue",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT)
                 AS grouping_level,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregate (all 4 grouping sets in one pass — Spark expands
    to a single shuffle with grouping-id, not 4 scans)."""
    li = table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("bigint").alias("grouping_level"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register("approx_distinct_users")  # rows-only: HLL sketch is engine-specific
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) per event_type — the
    100 TB cardinality-estimation workhorse (no exact-distinct
    shuffle). Accuracy vs exact asserted in pytest (rsd=0.01)."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users")
    )


from gas_data_pipeline_spark.operators.sketches import (  # noqa: E402
    hll_distinct,
    hll_estimate,
    hll_merge_registers,
    hll_oracle_sql,
    hll_registers,
)


@register(
    "approx_distinct_portable_hll",
    oracle=hll_oracle_sql("events", "event_type", "user_id", "approx_users"),
)
def approx_distinct_portable_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic HyperLogLog per event_type from portable primitives
    (md5 register/tail split, bin/ltrim bit-length, pow/ln fold) — the
    estimate an external engine can REPRODUCE, so unlike
    ``approx_distinct_users`` it carries an exact DuckDB oracle: both
    engines run the same twelve lines of sketch math and agree to the
    rounded decimal. Same scale shape as the native sketch: per-
    (group, register) max is map-side combinable; ids never shuffle."""
    ev = table(spark, sf_dir, "events")
    return hll_distinct(ev, "event_type", "user_id", out_col="approx_users")


@register(
    "approx_distinct_rollup_merge",
    oracle=hll_oracle_sql(
        "(SELECT strftime(ts, '%Y-%m') AS month, user_id FROM events) t",
        "month",
        "user_id",
        "approx_users",
    ),
)
def approx_distinct_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-summary rollup: DAILY HLL register tables merged to a
    MONTHLY distinct-user estimate by max-per-register — the lakehouse
    sketch-rollup pattern where the coarse aggregate reads only the
    stored summaries (<= 4096 rows per day), never rescans the fact
    table. Because register max is associative, the merged monthly
    sketch is bit-identical to one computed directly from the raw rows
    — which is exactly what the DuckDB oracle does (direct monthly
    portable-HLL over events), making the refresh-from-summaries
    equivalence itself the checked property. At 100 TB this turns a
    month-end distinct-count from a fact-table scan into a ~120k-row
    summary merge."""
    ev = table(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM").alias("month"),
        F.to_date("ts").alias("day"),
        "user_id",
    )
    daily = hll_registers(ev, ["month", "day"], "user_id")
    monthly = hll_merge_registers(daily, ["month"])
    return hll_estimate(monthly, ["month"], out_col="approx_users")


@register(
    "kmv_segment_overlap",
    oracle="""
        WITH du AS (
            -- both components non-null, matching the Spark side where a
            -- null user_id OR ts nulls the concat and kmv_summary drops it
            SELECT DISTINCT event_type AS seg,
                   CAST(user_id AS VARCHAR) || ':'
                     || strftime(CAST(ts AS DATE), '%Y-%m-%d') AS uid
            FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        ),
        h AS (SELECT seg, md5('kmv-v1:' || uid) AS h FROM du),
        r AS (SELECT seg, h, row_number() OVER (PARTITION BY seg ORDER BY h) AS rn FROM h),
        s AS (SELECT seg, list_sort(list(h)) AS hs FROM r WHERE rn <= 256 GROUP BY seg),
        p AS (SELECT a.seg AS seg_a, b.seg AS seg_b, a.hs AS ha, b.hs AS hb
              FROM s a JOIN s b ON a.seg < b.seg),
        c AS (SELECT seg_a, seg_b, ha, hb,
                     list_sort(list_distinct(list_cat(ha, hb))) AS merged
              FROM p),
        e AS (SELECT seg_a, seg_b, merged,
                     least(256, len(merged)) AS kmin,
                     merged[1:least(256, len(merged))] AS u,
                     list_intersect(ha, hb) AS common
              FROM c),
        f AS (SELECT seg_a, seg_b, merged, kmin,
                     len(list_intersect(u, common)) / CAST(kmin AS DOUBLE) AS jac,
                     CAST(concat('0x', substring(u[kmin], 1, 13)) AS BIGINT)
                       / CAST(4503599627370496 AS DOUBLE) AS t_k
              FROM e),
        g AS (SELECT seg_a, seg_b, jac,
                     CASE WHEN len(merged) < 256 THEN CAST(len(merged) AS DOUBLE)
                          ELSE 255.0 / t_k END AS union_est
              FROM f)
        SELECT seg_a, seg_b,
               round(jac, 8) AS jaccard_est,
               round(union_est, 4) AS union_est,
               round(jac * union_est, 4) AS intersection_est
        FROM g
    """,
)
def kmv_segment_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch SET OPERATIONS between user segments — the
    estimate family HLL cannot provide: pairwise audience overlap
    (Jaccard + intersection size) between event-type segments from
    k-minimum-values summaries alone. The entity is the ACTIVE
    USER-DAY (user x calendar day — thousands of ids with genuinely
    partial overlap across types, so the sketch regime engages even at
    the sf0.01 correctness gate). Each segment keeps only its 256
    lexically-smallest md5(id) hashes; a pair's union sketch is the k
    smallest of the two merged arrays, so overlap for EVERY pair of
    100 TB segments costs a |segments|^2 join of 256-element arrays —
    the fact table is scanned once, ever. All arithmetic is portable
    (md5 order, integer ratios, one IEEE division), so DuckDB
    reproduces every estimate bit-for-bit: an exact oracle for an
    approximate statistic, same doctrine as
    approx_distinct_portable_hll. See operators/sketches.py
    kmv_summary / kmv_overlap_pairs."""
    from gas_data_pipeline_spark.operators.sketches import (
        kmv_overlap_pairs,
        kmv_summary,
    )

    ev = table(spark, sf_dir, "events").select(
        "event_type",
        F.concat(
            F.col("user_id").cast("string"),
            F.lit(":"),
            F.date_format(F.to_date("ts"), "yyyy-MM-dd"),
        ).alias("uid"),
    )
    return kmv_overlap_pairs(kmv_summary(ev, "event_type", "uid"))


@register(
    "salted_skew_aggregate",
    oracle="""
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 4) AS total
        FROM events
        GROUP BY event_type
    """,
)
def salted_skew_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation for skewed keys: events has only a
    handful of event_types, so a plain groupBy sends each key's entire
    volume to ONE reducer. Phase 1 aggregates on (key, salt) — fan-out
    16 — spreading each hot key over 16 reducers; phase 2 combines the
    16 partials per key. The salt is a deterministic hash of a
    high-cardinality column (no rand(): plans stay re-executable).
    At 100 TB this is the difference between one straggler task and an
    even stage; AQE skew-join handles joins, but skewed *aggregation*
    needs the salt."""
    ev = table(spark, sf_dir, "events")
    salted = ev.withColumn("__salt", F.pmod(F.hash("event_id"), F.lit(16)))
    partial = salted.groupBy("event_type", "__salt").agg(
        F.count(F.lit(1)).alias("n_partial"),
        F.sum(F.col("value").cast("decimal(18,4)")).alias("sum_partial"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("n_partial").cast("bigint").alias("n_events"),
        F.round(F.sum("sum_partial").cast("double"), 4).alias("total"),
    )


@register(
    "rolling_time_average",
    oracle="""
        WITH ev AS (
            SELECT user_id, event_id, value,
                   CAST(date_trunc('microsecond', ts) AS TIMESTAMP) AS ts
            FROM events WHERE user_id < 10
        ),
        -- Exact mean, rounded half-up in integer cents: DuckDB's
        -- decimal division returns a double.
        win AS (
            SELECT user_id, event_id, ts,
                   CAST(sum(CAST(value AS DECIMAL(18, 2))) OVER w * 100 AS HUGEINT) AS cents,
                   CAST(count(*) OVER w AS BIGINT) AS n_24h
            FROM ev
            WINDOW w AS (
                PARTITION BY user_id ORDER BY ts
                RANGE BETWEEN INTERVAL 24 HOURS PRECEDING AND CURRENT ROW
            )
        )
        SELECT user_id, event_id, ts,
               CAST(sign(cents) * ((abs(cents) * 200 + n_24h) // (2 * n_24h)) AS DOUBLE)
                   / 10000 AS avg_24h,
               n_24h
        FROM win
    """,
)
def rolling_time_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 24-hour rolling mean per series — a RANGE frame over
    event time (peers included, exactly SQL RANGE semantics), the
    canonical smoothing query over the observation store. One shuffle
    on the series key; the frame is evaluated in a single sorted pass
    per partition. The mean is exact: a decimal sum of the 2-decimal
    values over the count, rounded half-up to 4 places, where a rounded
    double average lands ties on either side."""
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    micros = F.unix_micros(F.col("ts"))
    day_us = 24 * 3600 * 1_000_000
    w = (
        Window.partitionBy("user_id")
        .orderBy(micros)
        .rangeBetween(-day_us, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.round(
            F.sum(F.col("value").cast("decimal(18,2)")).over(w)
            / F.count(F.lit(1)).over(w),
            4,
        ).cast("double").alias("avg_24h"),
        F.count(F.lit(1)).over(w).alias("n_24h"),
    )


@register(
    "interpolate_daily_gaps",
    oracle="""
        WITH ev AS (
            SELECT event_type AS series, CAST(ts AS DATE) AS day, value
            FROM events
        ),
        daily AS (
            SELECT series, day, round(avg(value), 6) AS obs
            FROM ev WHERE day <= DATE '2024-01-20' GROUP BY series, day
        ),
        bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
        grid AS (
            SELECT s.series, CAST(g.day AS DATE) AS day
            FROM (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
                  FROM bounds) g
            CROSS JOIN (SELECT DISTINCT series FROM ev) s
        ),
        joined AS (
            SELECT grid.series, grid.day, daily.obs FROM grid
            LEFT JOIN daily ON grid.series = daily.series AND grid.day = daily.day
        ),
        bracketed AS (
            SELECT series, day, obs,
                   last_value(obs IGNORE NULLS) OVER (
                       PARTITION BY series ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_obs,
                   last_value(CASE WHEN obs IS NOT NULL THEN day END IGNORE NULLS) OVER (
                       PARTITION BY series ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_day,
                   first_value(obs IGNORE NULLS) OVER (
                       PARTITION BY series ORDER BY day
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_obs,
                   first_value(CASE WHEN obs IS NOT NULL THEN day END IGNORE NULLS) OVER (
                       PARTITION BY series ORDER BY day
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_day
            FROM joined
        )
        SELECT series, strftime(day, '%Y-%m-%d') AS day,
               round(CASE
                   WHEN obs IS NOT NULL THEN obs
                   WHEN prev_obs IS NULL THEN next_obs
                   WHEN next_obs IS NULL THEN prev_obs
                   ELSE prev_obs + (next_obs - prev_obs)
                        * date_diff('day', prev_day, day)
                        / date_diff('day', prev_day, next_day)
               END, 6) AS value,
               obs IS NULL AS interpolated
        FROM bracketed
    """,
)
def interpolate_daily_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over missing days: bracket each gap day
    with the nearest observed values (last/first over IGNORE NULLS
    windows — two sorted passes, one shuffle) and interpolate by day
    distance; edges extend flat. Observations after Jan 20 are dropped
    so the grid genuinely has gaps to fill. The standard time-series
    regularization the reference's daily frequency implies."""
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events")
    day = F.to_date("ts").alias("day")
    daily = (
        ev.groupBy(F.col("event_type").alias("series"), day)
        .agg(F.round(F.avg("value"), 6).alias("obs"))
        .filter(F.col("day") <= F.lit("2024-01-20").cast("date"))
    )
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    grid = bounds.select(F.explode(F.sequence("d0", "d1")).alias("day")).crossJoin(
        F.broadcast(ev.select(F.col("event_type").alias("series")).distinct())
    )
    joined = grid.join(daily, ["series", "day"], "left")

    w_back = (
        Window.partitionBy("series")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("series")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("obs").isNotNull(), F.col("day"))
    bracketed = joined.select(
        "series",
        "day",
        "obs",
        F.last("obs", ignorenulls=True).over(w_back).alias("prev_obs"),
        F.last(obs_day, ignorenulls=True).over(w_back).alias("prev_day"),
        F.first("obs", ignorenulls=True).over(w_fwd).alias("next_obs"),
        F.first(obs_day, ignorenulls=True).over(w_fwd).alias("next_day"),
    )
    frac = F.datediff("day", "prev_day") / F.datediff("next_day", "prev_day")
    value = (
        F.when(F.col("obs").isNotNull(), F.col("obs"))
        .when(F.col("prev_obs").isNull(), F.col("next_obs"))
        .when(F.col("next_obs").isNull(), F.col("prev_obs"))
        .otherwise(F.col("prev_obs") + (F.col("next_obs") - F.col("prev_obs")) * frac)
    )
    return bracketed.select(
        "series",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round(value, 6).alias("value"),
        F.col("obs").isNull().alias("interpolated"),
    )


@register(
    "percentiles_by_series",
    oracle="""
        SELECT event_type,
               round(quantile_cont(value, 0.5), 6) AS p50,
               round(quantile_cont(value, 0.95), 6) AS p95,
               round(quantile_cont(value, 0.99), 6) AS p99
        FROM events
        GROUP BY event_type
    """,
)
def percentiles_by_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles per series (ordered-set
    aggregate; Spark's percentile == SQL percentile_cont semantics ==
    DuckDB quantile_cont). Exact percentiles sort within groups —
    at 100 TB reach for approx_percentile (t-digest, one pass,
    mergeable) and accept rank error; both surfaces are exposed."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("p95"),
        F.round(F.percentile("value", F.lit(0.99)), 6).alias("p99"),
    )


@register(
    "latest_event_per_user",
    oracle="""
        SELECT user_id, event_type AS last_event_type,
               round(value, 6) AS last_value,
               CAST(date_trunc('microsecond', ts) AS TIMESTAMP) AS last_ts,
               n_events
        FROM (
            SELECT user_id, event_type, value, ts,
                   count(*) OVER (PARTITION BY user_id) AS n_events,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                   ) AS rn
            FROM events
        ) WHERE rn = 1
    """,
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax per key via ``max_by`` over a (ts, event_id) struct — the
    "current value of every series" query the reference serves from its
    observation store (reference app/client/gas_client.py:31-49 reads
    the tail of one series; this is all series at once). max_by
    aggregates with map-side partials (partial_max_by), so the single
    exchange carries one row per (key, task) — a Window row_number
    would shuffle every input row and sort it again on the reduce
    side. Struct ordering breaks ts ties by event_id so the result is
    deterministic."""
    ev = table(spark, sf_dir, "events")
    order = F.struct(F.col("ts"), F.col("event_id"))
    return ev.groupBy("user_id").agg(
        F.max_by("event_type", order).alias("last_event_type"),
        F.round(F.max_by("value", order), 6).alias("last_value"),
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "cohort_monthly_retention",
    oracle="""
        WITH m AS (
            SELECT o_custkey, date_trunc('month', o_orderdate) AS month
            FROM orders
        ),
        f AS (
            SELECT o_custkey, min(month) AS cohort_month FROM m GROUP BY 1
        )
        SELECT f.cohort_month,
               CAST(date_diff('month', f.cohort_month, m.month) AS BIGINT)
                 AS month_offset,
               count(DISTINCT m.o_custkey) AS active_customers
        FROM m JOIN f USING (o_custkey)
        GROUP BY 1, 2
    """,
)
def cohort_monthly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: customers bucketed by first-order month, then
    distinct actives per (cohort, months-since-cohort). Two shuffles,
    both on o_custkey — the min-month aggregate and the self-join reuse
    the same hash partitioning (Catalyst elides the second exchange),
    then the final agg shuffles on the tiny (cohort, offset) key space.
    count(DISTINCT) expands to a two-stage partial-distinct agg, safe at
    any scale."""
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", F.date_trunc("month", "o_orderdate").alias("month")
    )
    first = o.groupBy("o_custkey").agg(F.min("month").alias("cohort_month"))
    return (
        o.join(first, "o_custkey")
        .groupBy(
            "cohort_month",
            F.round(F.months_between("month", "cohort_month"))
            .cast("bigint")
            .alias("month_offset"),
        )
        .agg(F.countDistinct("o_custkey").alias("active_customers"))
    )


@register(
    "event_day_streaks",
    oracle="""
        WITH d AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
            WHERE ts IS NOT NULL
        ),
        g AS (
            SELECT user_id, day,
                   date_diff('day', DATE '1970-01-01', day)
                     - row_number() OVER (PARTITION BY user_id ORDER BY day)
                     AS grp
            FROM d
        )
        SELECT user_id,
               CAST(min(day) AS TIMESTAMP) AS streak_start,
               CAST(max(day) AS TIMESTAMP) AS streak_end,
               count(*) AS streak_days
        FROM g GROUP BY user_id, grp HAVING count(*) >= 2
    """,
)
def event_day_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: runs of consecutive active days per user, in
    ONE exchange. ``collect_set(day)`` partial-aggregates map-side (the
    dedup happens before the shuffle, so repeated same-day events never
    travel), the single exchange is on user_id, and the island split is
    a JVM-side higher-order fold over the sorted day array: positions
    where day[i-1]+1 != day[i] start a new streak; each start pairs
    with the next start to bound its island. Per-user state is bounded
    by calendar span (days, not events), so the array is safe at any
    event volume. Replaces the r2-era two-exchange plan (distinct on
    (user, day), then a row_number window on user). Complements
    sessionize_events (timestamp-gap sessions) with calendar-grain
    streaks."""
    ev = table(spark, sf_dir, "events")
    # collect_set drops null days, so an all-null-ts user yields an
    # EMPTY array — and F.sequence(1, 0) below would be the DESCENDING
    # [1, 0], whose i=0 element evades the i==1 short-circuit and
    # throws at element_at(d, 0). Drop empty arrays before the fold
    # (ADVICE r11; oracle mirrors with WHERE ts IS NOT NULL).
    days = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_set(F.to_date("ts"))).alias("days")
    ).filter(F.size("days") > 0)
    d = F.col("days")
    # 1-based positions that begin an island (first day, or a gap > 1
    # behind it). element_at is 1-based; i-1 >= 1 whenever i >= 2.
    # Materialized as a column so the transform below reads it once per
    # row instead of re-evaluating the filter inline at every use.
    days = days.withColumn(
        "starts",
        F.filter(
            F.sequence(F.lit(1), F.size(d)),
            lambda i: (i == 1)
            | (F.datediff(F.element_at(d, i), F.element_at(d, i - 1)) != 1),
        ),
    )
    starts = F.col("starts")
    # Island j spans positions [starts[j], starts[j+1] - 1] (last island
    # runs to the end of the array).
    streaks = F.transform(
        starts,
        lambda s, j: F.struct(
            F.element_at(d, s).cast("timestamp").alias("streak_start"),
            F.element_at(
                d,
                F.when(
                    j + 2 <= F.size(starts),
                    F.element_at(starts, (j + 2).cast("int")) - 1,
                )
                .otherwise(F.size(d))
                .cast("int"),
            ).cast("timestamp").alias("streak_end"),
        ),
    )
    out = days.select("user_id", F.explode(streaks).alias("s")).select(
        "user_id",
        F.col("s.streak_start"),
        F.col("s.streak_end"),
        (F.datediff("s.streak_end", "s.streak_start") + 1)
        .cast("bigint")
        .alias("streak_days"),
    )
    return out.filter(F.col("streak_days") >= 2)


@register(
    "value_histogram_bins",
    oracle="""
        SELECT event_type,
               CAST(floor(value / 50.0) AS BIGINT) AS bucket,
               count(*) AS n,
               round(avg(value), 6) AS avg_value,
               round(min(value), 6) AS min_value,
               round(max(value), 6) AS max_value
        FROM events
        GROUP BY 1, 2
    """,
)
def value_histogram_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (bucket = floor(value/50)) per series —
    the profile query behind the reference's field-statistics endpoint
    (reference app/ingestion/field_discovery.py:30-48 profiles fields
    with a pandas scan; here it is a single distributed hash aggregate).
    All five aggregates share one shuffle on the (series, bucket) key;
    IEEE double division + floor is bit-identical across engines so the
    bucket assignment needs no epsilon."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type",
        F.floor(F.col("value") / F.lit(50.0)).cast("bigint").alias("bucket"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.max("value"), 6).alias("max_value"),
    )


def _banded_part_name_pairs(spark: SparkSession, sf_dir: str, cols) -> DataFrame:
    """The shared blocked-fuzzy-match kernel for the part table:
    candidate pairs blocked on (brand, size), verified by Levenshtein
    with two LOSSLESS cheapeners (round 11, after the 8x probe flagged
    entity_resolution_e2e) — a length band in the join condition
    (lev(a,b) >= |Δlen|, so |Δlen| > 8 pairs can never pass and cost
    one subtraction instead of a DP) and THRESHOLDED
    ``levenshtein(a, b, 8)`` (returns -1 above the bound; the
    early-abandon DP touches only a 2k+1 diagonal band: O(len·k)
    instead of O(len²) per surviving pair). One definition so the
    "identical pair set" invariant between fuzzy_part_name_pairs and
    entity_resolution_e2e cannot silently diverge when the band or
    threshold is tuned. ``edit_distance`` is available to callers;
    ``cols`` picks the output shape."""
    p = table(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand", "p_size")
    a, b = p.alias("a"), p.alias("b")
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_size") == F.col("b.p_size"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey"))
            & (
                F.abs(F.length("a.p_name") - F.length("b.p_name")) <= 8
            ),
        )
        .withColumn(
            "edit_distance",
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name"), 8).cast("bigint"),
        )
        .filter(F.col("edit_distance") >= 0)
        .select(*cols)
    )


@register(
    "fuzzy_part_name_pairs",
    oracle="""
        SELECT a.p_partkey AS partkey_a, b.p_partkey AS partkey_b,
               a.p_brand AS brand,
               CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_distance
        FROM part a JOIN part b
          ON a.p_brand = b.p_brand AND a.p_size = b.p_size
         AND a.p_partkey < b.p_partkey
        WHERE levenshtein(a.p_name, b.p_name) <= 8
    """,
)
def fuzzy_part_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance record linkage: candidate pairs blocked on
    (brand, size) — the same block-then-compare shape as the MinHash
    LSH dedup, but with an exact Levenshtein verifier (JVM built-in,
    codegen'd; never a Python UDF). Blocking keeps the join quadratic
    only within blocks; at 100 TB the block key is the shuffle key, so
    skewed blocks would be salted exactly like salted_skew_aggregate.
    Verifier kernel shared with entity_resolution_e2e — see
    :func:`_banded_part_name_pairs`."""
    return _banded_part_name_pairs(
        spark,
        sf_dir,
        [
            F.col("a.p_partkey").alias("partkey_a"),
            F.col("b.p_partkey").alias("partkey_b"),
            F.col("a.p_brand").alias("brand"),
            F.col("edit_distance"),
        ],
    )


def _zorder_oracle() -> str:
    from gas_data_pipeline_spark.operators.layout import zvalue_sql

    z = zvalue_sql("su", "sd", bits=4)
    return f"""
        WITH ev AS (
            SELECT user_id, CAST(ts AS DATE) AS day FROM events
        ),
        b AS (
            SELECT min(user_id) AS umin, max(user_id) AS umax,
                   min(day) AS dmin, max(day) AS dmax
            FROM ev
        ),
        s AS (
            SELECT user_id,
                   date_diff('day', dmin, day) AS day_index,
                   CAST(floor(((user_id - umin) * 16.0) / (umax - umin + 1))
                        AS BIGINT) AS su,
                   CAST(floor((date_diff('day', dmin, day) * 16.0)
                              / (date_diff('day', dmin, dmax) + 1))
                        AS BIGINT) AS sd
            FROM ev CROSS JOIN b
        )
        SELECT {z} >> 4 AS bucket,
               count(*) AS n,
               min(user_id) AS min_user, max(user_id) AS max_user,
               min(day_index) AS min_day, max(day_index) AS max_day
        FROM s GROUP BY 1
    """


@register("zorder_bucket_stats", oracle=_zorder_oracle())
def zorder_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout audit: scale (user_id, day) to a 4-bit grid,
    Morton-interleave, and report per-bucket min/max spans of BOTH
    dimensions — the numbers parquet row-group pruning would see after
    a `zorder_by` write. Buckets = top 4 z-bits, so each holds a
    compact 2-D tile: both spans stay ~1/4 of their domain, where a
    single-column sort bounds one dimension and leaves the other at
    full range. The bounds row is a broadcast one-row stats pass; the
    bit interleave is pure codegen (operators/layout.py)."""
    from gas_data_pipeline_spark.operators.layout import zvalue

    ev = table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    bounds = ev.agg(
        F.min("user_id").alias("umin"),
        F.max("user_id").alias("umax"),
        F.min("day").alias("dmin"),
        F.max("day").alias("dmax"),
    )
    s = ev.crossJoin(F.broadcast(bounds)).select(
        "user_id",
        F.datediff("day", "dmin").cast("bigint").alias("day_index"),
        F.floor(
            ((F.col("user_id") - F.col("umin")) * F.lit(16.0))
            / (F.col("umax") - F.col("umin") + F.lit(1))
        )
        .cast("long")
        .alias("su"),
        F.floor(
            (F.datediff("day", "dmin") * F.lit(16.0))
            / (F.datediff("dmax", "dmin") + F.lit(1))
        )
        .cast("long")
        .alias("sd"),
    )
    z = zvalue(F.col("su"), F.col("sd"), bits=4)
    return s.groupBy(F.shiftright(z, 4).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("user_id").alias("min_user"),
        F.max("user_id").alias("max_user"),
        F.min("day_index").alias("min_day"),
        F.max("day_index").alias("max_day"),
    )


@register(
    "grouping_sets_priority_status",
    oracle="""
        SELECT o_orderpriority, o_orderstatus,
               CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus)
                    AS BIGINT) AS grouping_level,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o_totalprice, 2) AS DECIMAL(18,2)))
                    AS DOUBLE) AS total_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """,
)
def grouping_sets_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the cube/rollup generalization — only
    the three aggregations the report needs, not the full 2^k lattice).
    Spark expands all sets into ONE pass with a grouping-id column:
    each input row is replicated once per set map-side and the whole
    thing is a single hash aggregate + shuffle, versus three scans for
    three separate group-bys. Decimal sum for order-insensitive float
    parity."""
    o = table(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderpriority"], ["o_orderstatus"], []],
        "o_orderpriority",
        "o_orderstatus",
    ).agg(
        F.grouping_id().cast("bigint").alias("grouping_level"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round("o_totalprice", 2).cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )


@register("approx_percentiles_tdigest")  # rows-only: sketch is engine-specific
def approx_percentiles_tdigest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass mergeable percentile sketch per series — the 100 TB
    counterpart of percentiles_by_series' exact sort-based percentile.
    approx_percentile's sketch merges associatively across partitions
    (map-side partials, tiny shuffle rows), so cost is one scan
    regardless of key cardinality. Driver check is rows-only (sketch
    internals are engine-specific); tests/test_layout.py bounds the
    rank error against the exact percentiles."""
    ev = table(spark, sf_dir, "events")
    acc = 10000
    return ev.groupBy("event_type").agg(
        F.approx_percentile("value", F.lit(0.5), F.lit(acc)).alias("p50"),
        F.approx_percentile("value", F.lit(0.95), F.lit(acc)).alias("p95"),
        F.approx_percentile("value", F.lit(0.99), F.lit(acc)).alias("p99"),
    )


@register(
    "approx_percentiles_sampled",
    oracle="""
        WITH s AS (
            SELECT event_type, value FROM events
            WHERE value IS NOT NULL
              AND CAST(concat('0x', substring(
                      md5('qsample-v1:' || CAST(event_id AS VARCHAR)), 1, 13
                  )) AS BIGINT) / CAST(4503599627370496 AS DOUBLE) < 0.2
        )
        SELECT event_type,
               round(quantile_cont(value, 0.5), 4) AS p50,
               round(quantile_cont(value, 0.9), 4) AS p90,
               round(quantile_cont(value, 0.99), 4) AS p99
        FROM s GROUP BY event_type
    """,
)
def approx_percentiles_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The t-digest's portable twin (same pairing as
    ``approx_distinct_portable_hll`` vs the native HLL++): approximate
    percentiles as EXACT quantiles over a deterministic md5-drawn 20%
    sample (``curation.uniform_draw``), so any engine reproduces the
    number bit-for-bit — an exact oracle for an approximate statistic.
    Spark's exact ``percentile`` and DuckDB's ``quantile_cont`` share
    the standard linear-interpolation definition, verified equal to
    the 4th decimal on the identical sample.

    Scale shape: the draw is a narrow codegen'd expression (no
    shuffle); exact percentiles then sort ~20% of each group. Per-key
    sample volume must fit its task — at true 100 TB either shrink the
    fraction (error ~1/sqrt(f*n) per group) or fall back to the
    mergeable sketch in ``approx_percentiles_tdigest``."""
    from gas_data_pipeline_spark.operators.curation import uniform_draw

    ev = table(spark, sf_dir, "events")
    samp = ev.filter(
        F.col("value").isNotNull()
        & (uniform_draw(F.col("event_id"), "qsample-v1") < 0.2)
    )
    q = F.expr("percentile(value, array(0.5, 0.9, 0.99))")
    return (
        samp.groupBy("event_type")
        .agg(q.alias("__q"))
        .select(
            "event_type",
            F.round(F.col("__q")[0], 4).alias("p50"),
            F.round(F.col("__q")[1], 4).alias("p90"),
            F.round(F.col("__q")[2], 4).alias("p99"),
        )
    )


@register(
    "order_basket_hof_profile",
    oracle="""
        SELECT l_orderkey,
               CAST(len(prices) AS BIGINT) AS n_items,
               round(list_sum(list_transform(prices,
                     p -> round(CAST(p AS DECIMAL(18,2)) * 0.9, 2))), 2)
                 AS discounted_total,
               round(list_max(prices), 2) AS max_price,
               CAST(len(list_filter(prices, p -> p > 2000.0)) AS BIGINT)
                 AS n_pricey
        FROM (
            SELECT l_orderkey, list_sort(list(l_extendedprice)) AS prices
            FROM lineitem GROUP BY 1
        )
    """,
)
def order_basket_hof_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order-function gauntlet over per-order price baskets:
    collect_list -> transform / filter / aggregate evaluated INSIDE the
    row (no second shuffle, no explode-regroup round trip — the arrays
    never leave the partition once built). The lambda sum accumulates
    in decimal so parity with DuckDB's list_sum is exact at any
    accumulation order."""
    li = table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("l_extendedprice")).alias("prices")
    )
    # Exact decimal product before rounding: round(double * 0.9, 2)
    # resolves half-cent ties differently across engines.
    discounted = F.aggregate(
        F.transform(
            "prices",
            lambda p: F.round(
                p.cast("decimal(18,2)") * F.lit("0.9").cast("decimal(1,1)"), 2
            ).cast("decimal(18,2)"),
        ),
        F.lit(0).cast("decimal(18,2)"),
        # Decimal + widens to (19,2); the merge lambda must return the
        # accumulator type, so narrow it back each step.
        lambda acc, x: (acc + x).cast("decimal(18,2)"),
    )
    return baskets.select(
        "l_orderkey",
        F.size("prices").cast("bigint").alias("n_items"),
        F.round(discounted.cast("double"), 2).alias("discounted_total"),
        F.round(F.array_max("prices"), 2).alias("max_price"),
        F.size(F.filter("prices", lambda p: p > F.lit(2000.0)))
        .cast("bigint")
        .alias("n_pricey"),
    )


@register(
    "anomaly_mad_outliers",
    oracle="""
        WITH med AS (
            SELECT event_type, quantile_cont(value, 0.5) AS med
            FROM events GROUP BY 1
        ),
        dev AS (
            SELECT e.event_id, e.event_type, e.value,
                   abs(e.value - m.med) AS adev, m.med
            FROM events e JOIN med m USING (event_type)
        ),
        mad AS (
            SELECT event_type, quantile_cont(adev, 0.5) AS mad
            FROM dev GROUP BY 1
        )
        SELECT d.event_id, d.event_type,
               round(d.value, 6) AS value,
               round((d.value - d.med) / (1.4826 * t.mad), 4) AS robust_z
        FROM dev d JOIN mad t USING (event_type)
        WHERE abs((d.value - d.med) / (1.4826 * t.mad)) > 3.0
    """,
)
def anomaly_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection: median/MAD z-scores (mean/stddev break
    under the very outliers being hunted — the reference's quality_flag
    column implies exactly this screening need). Two grouped medians
    over the fact table; the per-series stats frames are key-cardinality
    rows, so both join back as broadcasts — the fact table is scanned,
    never shuffled. 1.4826 scales MAD to sigma under normality."""
    ev = table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.median("adev").alias("mad"))
    z = (F.col("value") - F.col("med")) / (F.lit(1.4826) * F.col("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .withColumn("robust_z", F.round(z, 4))
        .filter(F.abs(z) > 3.0)
        .select("event_id", "event_type", F.round("value", 6).alias("value"), "robust_z")
    )


@register(
    "stats_corr_by_brand",
    oracle="""
        SELECT p.p_brand AS brand,
               CAST(count(*) AS BIGINT) AS n,
               round(corr(l.l_quantity, l.l_extendedprice), 6) AS qty_price_corr,
               round(covar_samp(l.l_quantity, l.l_extendedprice), 4) AS qty_price_cov,
               round(stddev_samp(l.l_extendedprice), 4) AS price_stddev
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1
    """,
)
def stats_corr_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group second-moment statistics (corr / covariance / stddev)
    over the fact⋈dim join. All three are one-pass mergeable aggregates
    (sum, sum-of-squares, cross-products) — map-side partials, one
    shuffle on the 25-value brand key; the part dim broadcasts."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
                "qty_price_corr"
            ),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
                "qty_price_cov"
            ),
            F.round(F.stddev_samp("l_extendedprice"), 4).alias("price_stddev"),
        )
    )


@register(
    "trend_slope_by_series",
    oracle="""
        SELECT event_type,
               CAST(regr_count(value, epoch(ts)) AS BIGINT) AS n,
               round(regr_slope(value, epoch(ts)) * 86400, 6) AS slope_per_day,
               round(regr_r2(value, epoch(ts)), 6) AS r2
        FROM events
        GROUP BY 1
    """,
)
def trend_slope_by_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series linear trend via the SQL regression aggregates
    (regr_slope/regr_r2 over value ~ epoch-seconds) — "is this series
    drifting" in one mergeable pass, the screening step before any
    heavier model. Slope is rescaled to units/day. Same one-shuffle
    profile as any hash aggregate."""
    ev = table(spark, sf_dir, "events")
    x = F.col("ts").cast("double")  # epoch seconds incl. fraction == epoch()
    return ev.groupBy("event_type").agg(
        F.regr_count(F.col("value"), x).cast("bigint").alias("n"),
        F.round(F.regr_slope(F.col("value"), x) * 86400, 6).alias("slope_per_day"),
        F.round(F.regr_r2(F.col("value"), x), 6).alias("r2"),
    )


@register(
    "ewma_by_series",
    # A recursive CTE IS this recurrence, one step per iteration, and
    # pandas' adjust=False ewm applies the identical float expression
    # ((1-a)*prev + a*x) / ((1-a)+a) per step — verified bit-identical
    # pre-rounding at sf0.01, so the round(6) match has ~6 decimal
    # digits of margin. "Not SQL-expressible" was true only of window
    # FRAMES; iteration expresses it exactly.
    oracle="""
        WITH RECURSIVE ordered AS (
            SELECT event_type, event_id, CAST(value AS DOUBLE) AS value,
                   row_number() OVER (
                       PARTITION BY event_type ORDER BY ts, event_id
                   ) AS rn
            FROM events WHERE value IS NOT NULL
        ), rec AS (
            SELECT event_type, event_id, value, rn, value AS ewma
            FROM ordered WHERE rn = 1
            UNION ALL
            SELECT o.event_type, o.event_id, o.value, o.rn,
                   ((1.0 - 0.2) * r.ewma + 0.2 * o.value)
                       / ((1.0 - 0.2) + 0.2) AS ewma
            FROM ordered o
            JOIN rec r ON o.event_type = r.event_type AND o.rn = r.rn + 1
        )
        SELECT event_type, event_id, round(value, 6) AS value,
               round(ewma, 6) AS ewma
        FROM rec
    """,
)
def ewma_by_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA smoothing per series (alpha=0.2) — a genuinely RECURSIVE
    operator (each value depends on the whole prefix), implemented as
    a grouped-map Pandas UDF with one shuffle on the series key
    (operators/timeseries.ewma). Null observations are excluded up
    front (they would change pandas' gap-weight accounting and the
    recurrence itself). Oracle: the same recurrence as a DuckDB
    recursive CTE — exact; the recurrence is also re-computed
    independently in tests/test_layout.py."""
    from gas_data_pipeline_spark.operators.timeseries import ewma

    ev = (
        table(spark, sf_dir, "events")
        .select("event_type", "event_id", "ts", "value")
        .filter(F.col("value").isNotNull())
    )
    out = ewma(
        ev, key="event_type", ts_col="ts", value_col="value",
        alpha=0.2, tiebreak="event_id",
    )
    return out.select(
        "event_type", "event_id", F.round("value", 6).alias("value"),
        F.round("ewma", 6).alias("ewma"),
    )


_SAMPLE_FRACTIONS = {
    "click": 0.10,
    "view": 0.10,
    "error": 1.00,
    "purchase": 0.50,
    "signup": 0.25,
}


_STRAT_CASE_SQL = "CASE event_type " + " ".join(
    f"WHEN '{k}' THEN CAST({v} AS DOUBLE)" for k, v in _SAMPLE_FRACTIONS.items()
) + " ELSE CAST(0.0 AS DOUBLE) END"


@register(
    "stratified_sample_events",
    oracle=f"""
        WITH s AS (
            SELECT event_id, event_type, user_id, value,
                   CAST(concat('0x', substring(md5('strat-v1:' ||
                        CAST(event_id AS VARCHAR)), 1, 13)) AS BIGINT)
                       / 4503599627370496.0 AS u,
                   {_STRAT_CASE_SQL} AS frac
            FROM events
        )
        SELECT event_id, event_type, user_id, round(value, 6) AS value
        FROM s WHERE u < frac
    """,
)
def stratified_sample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified (per-class) sampling — the corpus-rebalancing
    primitive of training-data pipelines: keep every rare 'error' row,
    downsample the abundant interaction classes. The per-row Bernoulli
    draw is md5(seed, event_id) (52 bits, exact in a double) rather
    than ``sampleBy``: same binomial rates (tests/test_layout.py
    bounds them), but the draw is CONTENT-keyed — a row's fate is
    independent of partitioning/row order (sampleBy re-draws per
    layout), stable under corpus growth, reproducible across engines
    (exact DuckDB oracle), and still a narrow zero-shuffle filter at
    scan speed."""
    from gas_data_pipeline_spark.operators.curation import uniform_draw

    ev = table(spark, sf_dir, "events")
    u = uniform_draw(F.col("event_id"), "strat-v1")
    frac = F.lit(0.0)
    for k, v in _SAMPLE_FRACTIONS.items():
        frac = F.when(F.col("event_type") == k, F.lit(float(v))).otherwise(frac)
    return ev.filter(u < frac).select(
        "event_id", "event_type", "user_id", F.round("value", 6).alias("value")
    )


@register(
    "rolling_weekly_active_users",
    oracle="""
        WITH d AS (
            SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
        ),
        grid AS (SELECT DISTINCT day FROM d)
        SELECT CAST(g.day AS TIMESTAMP) AS day,
               count(DISTINCT d.user_id) AS wau
        FROM grid g JOIN d
          ON d.day BETWEEN g.day - INTERVAL 6 DAY AND g.day
        GROUP BY 1
    """,
)
def rolling_weekly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct actives per day (WAU) — COUNT(DISTINCT)
    over a sliding window, which window frames cannot express (no
    distinct aggregates over frames). The scalable form: dedupe to
    (user, day) first (shrinks the fact table to actives-by-day), then
    ``explode(sequence(day, day+6))`` fans each row out to the exactly
    7 window days it serves — a narrow, bounded 7x expansion with NO
    join at all (the naive day-grid range join plans as a
    BroadcastNestedLoopJoin). Grid membership (the oracle only emits
    days that actually occur) rides along as a ``max(day == g_day)``
    flag inside the same aggregate, so the whole query is two shuffles:
    the (user, day) distinct and the final group-by."""
    ev = table(spark, sf_dir, "events")
    d = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    fan = d.select(
        F.explode(F.sequence("day", F.date_add("day", 6))).alias("g_day"),
        "day",
        "user_id",
    )
    return (
        fan.groupBy(F.col("g_day").cast("timestamp").alias("day"))
        .agg(
            F.countDistinct("user_id").alias("wau"),
            F.max(F.col("day") == F.col("g_day")).alias("_observed"),
        )
        .filter("_observed")
        .drop("_observed")
    )


@register(
    "funnel_conversion",
    oracle="""
        WITH s1 AS (
            SELECT user_id, min(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ),
        s2 AS (
            SELECT e.user_id, min(e.ts) AS t2
            FROM events e JOIN s1 USING (user_id)
            WHERE e.event_type = 'click'
              AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL 1 DAY
            GROUP BY e.user_id
        ),
        s3 AS (
            SELECT e.user_id, min(e.ts) AS t3
            FROM events e JOIN s2 USING (user_id)
            WHERE e.event_type = 'purchase'
              AND e.ts > s2.t2 AND e.ts <= s2.t2 + INTERVAL 1 DAY
            GROUP BY e.user_id
        ),
        counts AS (
            SELECT 1 AS step, 'view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM s1
            UNION ALL SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM s2
            UNION ALL SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM s3
        )
        SELECT step, stage, n_users,
               round(n_users / first_value(n_users) OVER (ORDER BY step), 6)
                 AS share_of_entry
        FROM counts
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered multi-step funnel: users whose first 'view' is followed
    by a 'click' within a day, then a 'purchase' within a day of that
    click — each step anchored to the PREVIOUS step's first qualifying
    time (the product-analytics conversion query). Each stage is one
    per-user aggregate joined to the prior stage's (user, anchor) pairs
    — the stage tables shrink monotonically, the event table is scanned
    with a pushed event-type filter per stage, and the final summary is
    3 rows. No windows over the raw stream, no self-join explosion."""
    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    day = F.expr("INTERVAL 1 DAY")
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + day))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter((F.col("ts") > F.col("t2")) & (F.col("ts") <= F.col("t2") + day))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    counts = None
    for step, stage, df in ((1, "view", s1), (2, "click", s2), (3, "purchase", s3)):
        row = df.agg(F.count(F.lit(1)).cast("bigint").alias("n_users")).select(
            F.lit(step).alias("step"), F.lit(stage).alias("stage"), "n_users"
        )
        counts = row if counts is None else counts.unionByName(row)
    from pyspark.sql.window import Window

    w = Window.orderBy("step")
    return counts.select(
        "step",
        "stage",
        "n_users",
        F.round(F.col("n_users") / F.first("n_users").over(w), 6).alias(
            "share_of_entry"
        ),
    )


@register(
    "daily_ohlc_downsample",
    oracle="""
        SELECT user_id AS series_id,
               CAST(date_trunc('day', ts) AS TIMESTAMP) AS obs_date,
               arg_min(value, ts) AS first_value,
               arg_max(value, ts) AS last_value,
               min(value) AS low_value,
               max(value) AS high_value,
               CAST(count(*) AS BIGINT) AS n_obs,
               CAST(sum(CAST(round(value, 2) AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY user_id, date_trunc('day', ts)
    """,
)
def daily_ohlc_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency conversion (the reference's intraday -> daily split,
    series_autoregister.py:50,89 / energy.daily fact): downsample each
    series to one row per gas-day carrying open/close (min_by/max_by
    argmin-argmax over event time), low/high, count, and an exact
    decimal sum. Pure aggregate — map-side partials
    (partial_min_by/partial_max_by) before the single shuffle; no
    window, no self-join, so it scales as one pass over the fact
    table."""
    e = table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    return e.groupBy(
        F.col("user_id").alias("series_id"), day.alias("obs_date")
    ).agg(
        F.min_by("value", F.col("ts")).alias("first_value"),
        F.max_by("value", F.col("ts")).alias("last_value"),
        F.min("value").alias("low_value"),
        F.max("value").alias("high_value"),
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(F.round("value", 2).cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_value"),
    )


@register(
    "interval_overlap_sessions",
    oracle="""
        WITH ev AS (
            SELECT user_id, event_id,
                   CAST(date_trunc('microsecond', ts) AS TIMESTAMP) AS ts
            FROM events
        ),
        flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                        THEN 1 ELSE 0 END AS new_session
            FROM ev
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        numbered AS (
            SELECT user_id, ts,
                   CAST(sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS session_seq
            FROM flagged
        ),
        sess AS (
            SELECT user_id, session_seq,
                   min(ts) AS session_start, max(ts) AS session_end
            FROM numbered GROUP BY user_id, session_seq
        ),
        win AS (
            SELECT event_id AS window_id,
                   ts - INTERVAL 15 MINUTE AS window_start,
                   ts + INTERVAL 15 MINUTE AS window_end
            FROM ev WHERE event_id % 199 = 0
        )
        SELECT window_id, window_start, window_end,
               CAST(count(*) AS BIGINT) AS n_sessions,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM win JOIN sess
          ON window_start <= session_end AND session_start <= window_end
        GROUP BY window_id, window_start, window_end
    """,
)
def interval_overlap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large×large interval-overlap join (incident impact analysis):
    ±15-min anomaly windows against per-user 30-min-gap session
    intervals, counting overlapping sessions and distinct users per
    window. The overlap predicate has NO equality key — Spark's native
    plan would be BroadcastNestedLoopJoin, quadratic when neither side
    broadcasts — so operators/intervals.py rewrites it as a time-
    bucketed EQUI-join (explode into 30-min buckets, join on bucket,
    exact-overlap re-check, once-per-pair emission in the
    max-start bucket; no distinct). Shuffle volume is rows x
    buckets-per-interval, linear at 100 TB."""
    from gas_data_pipeline_spark.operators.intervals import (
        interval_overlap_join,
    )

    ev = table(spark, sf_dir, "events")
    sess = (
        sessionize(
            ev,
            key="user_id",
            ts_col="ts",
            gap_seconds=1800,
            order_tiebreak="event_id",
        )
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )
    win = ev.filter(F.col("event_id") % 199 == 0).select(
        F.col("event_id").alias("window_id"),
        (F.col("ts") - F.expr("INTERVAL 15 MINUTES")).alias("window_start"),
        (F.col("ts") + F.expr("INTERVAL 15 MINUTES")).alias("window_end"),
    )
    pairs = interval_overlap_join(
        win,
        sess,
        left_span=("window_start", "window_end"),
        right_span=("session_start", "session_end"),
        bucket_seconds=1800,
    )
    return pairs.groupBy("window_id", "window_start", "window_end").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.count_distinct(F.col("user_id")).alias("n_users"),
    )


def _pagerank_oracle(iters: int = 5, damping: float = 0.85) -> str:
    """Unrolled-iteration PageRank in plain SQL: one CTE per round,
    each computing rank'(v) = (1-d) + d * sum(rank(u)/odeg(u)) over
    in-edges — the same fixed-round recurrence the Spark loop runs, so
    the two sides agree to float precision and the final round(_, 6)
    is exact on both. Generated (not hand-written) so the iteration
    count stays in lockstep with the Spark side's ``iters``."""
    rounds = []
    for i in range(1, iters + 1):
        rounds.append(
            f"""r{i} AS (
            SELECT n.node,
                   {1.0 - damping} + {damping} * coalesce((
                       SELECT sum(r.rank / d.odeg)
                       FROM edges e
                       JOIN r{i - 1} r ON r.node = e.src
                       JOIN deg d ON d.node = e.src
                       WHERE e.dst = n.node), 0.0) AS rank
            FROM nodes n
        )"""
        )
    chain = ",\n        ".join(rounds)
    return f"""
        WITH pairs AS (
            SELECT DISTINCT l_partkey * 2 AS p, l_suppkey * 2 + 1 AS s
            FROM lineitem
        ),
        edges AS (
            SELECT p AS src, s AS dst FROM pairs
            UNION ALL
            SELECT s, p FROM pairs
        ),
        nodes AS (SELECT DISTINCT src AS node FROM edges),
        deg AS (SELECT src AS node, count(*) AS odeg FROM edges GROUP BY src),
        r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM nodes),
        {chain}
        SELECT CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS node_kind,
               node // 2 AS node_key,
               round(rank, 6) AS rank
        FROM r{iters}
    """


@register("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative graph analytics: 5-round PageRank over the bipartite
    part<->supplier supply graph (distinct lineitem pairs, edges both
    directions — every node then has out-degree >= 1, so no dangling
    mass). Importance ranks like these feed curation sampling weights
    (domain/entity priors). Spark side: per-round join+aggregate loop
    with checkpointed lineage (operators/graph.pagerank); oracle:
    the identical recurrence unrolled into 5 SQL rounds. Ranks are
    N-scaled (start at 1.0) and rounded to 6 on both sides."""
    from gas_data_pipeline_spark.operators.graph import pagerank

    li = table(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") * 2).alias("p"),
        (F.col("l_suppkey") * 2 + 1).alias("s"),
    )
    edges = li.select(F.col("p").alias("src"), F.col("s").alias("dst")).unionByName(
        li.select(F.col("s").alias("src"), F.col("p").alias("dst"))
    )
    ranks = pagerank(edges, iters=5, damping=0.85)
    return ranks.select(
        F.when(F.col("node") % 2 == 0, F.lit("part"))
        .otherwise(F.lit("supplier"))
        .alias("node_kind"),
        (F.col("node") / 2).cast("bigint").alias("node_key"),
        F.round(F.col("rank"), 6).alias("rank"),
    )


@register(
    "heavy_hitters_exact",
    oracle="""
        WITH keyed AS (
            SELECT CASE WHEN event_id % 3 = 0
                        THEN 'hot_' || CAST(event_id % 2 AS VARCHAR)
                        ELSE 'cold_' || CAST(event_id AS VARCHAR) END AS key
            FROM events
        ),
        tot AS (SELECT count(*) AS n FROM keyed)
        SELECT key, CAST(count(*) AS BIGINT) AS cnt
        FROM keyed, tot
        GROUP BY key, n
        HAVING count(*) >= 0.05 * n
    """,
)
def heavy_hitters_exact_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 5%-heavy-hitters over a planted power-law key column (two
    hot keys at ~1/6 share each atop a per-row cold tail). Candidate
    generation is per-partition Misra-Gries (zero shuffle, <= 20
    counters per partition no matter how many distinct cold keys);
    only the broadcast-confirmed candidates are counted exactly, so
    the result equals the oracle's full GROUP BY ... HAVING while the
    cold tail never rides a shuffle. See
    operators/sketches.heavy_hitters_exact for the superset proof."""
    from gas_data_pipeline_spark.operators.sketches import heavy_hitters_exact

    ev = table(spark, sf_dir, "events").select(
        F.when(
            F.col("event_id") % 3 == 0,
            F.concat(F.lit("hot_"), (F.col("event_id") % 2).cast("string")),
        )
        .otherwise(F.concat(F.lit("cold_"), F.col("event_id").cast("string")))
        .alias("key")
    )
    from gas_data_pipeline_spark.catalog import spread_scan

    return heavy_hitters_exact(spread_scan(ev), "key", threshold=0.05)


@register(
    "grouped_topk_bounded",
    oracle="""
        SELECT event_type, event_id, value, rk FROM (
            SELECT event_type, event_id, value,
                   row_number() OVER (
                       PARTITION BY event_type
                       ORDER BY value DESC NULLS LAST, event_id ASC
                   ) AS rk
            FROM events
        ) WHERE rk <= 3
    """,
)
def grouped_topk_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 events by value per event type WITHOUT shuffling the
    tail: each scan partition keeps only its local per-type top-3 (a
    guaranteed superset of the global answer), so the window exchange
    carries partitions x types x 3 candidate rows instead of every
    event. The oracle runs the naive full-shuffle window — identical
    result by construction. See operators/topk.grouped_topk."""
    from gas_data_pipeline_spark.catalog import spread_scan
    from gas_data_pipeline_spark.operators.topk import grouped_topk

    ev = spread_scan(
        table(spark, sf_dir, "events").select("event_type", "event_id", "value")
    )
    return grouped_topk(
        ev, ["event_type"], "value", k=3, descending=True, tiebreak="event_id"
    )


@register(
    "bloom_pruned_join_revenue",
    oracle="""
        SELECT l.l_returnflag,
               CAST(count(*) AS BIGINT) AS n_items,
               CAST(sum(CAST(l.l_extendedprice AS DECIMAL(8,2))
                        * (CAST(1 AS DECIMAL(3,2))
                           - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderpriority = '1-URGENT'
        GROUP BY l.l_returnflag
    """,
)
def bloom_pruned_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective large⋈large join with the probe side bloom-pruned
    map-side: lineitem rows whose order is not URGENT never reach the
    join exchange (the ~80% non-matching tail is dropped by a 128 KiB
    bitmap of the filtered orders' keys). No false
    negatives + join-side confirm keeps the result identical to the
    oracle's plain join. At sandbox scale the confirm still broadcasts;
    the operator targets the 100 TB regime where the filtered build
    side exceeds the broadcast threshold and the naive plan shuffles
    the whole probe side. See operators/bloomjoin.py."""
    from gas_data_pipeline_spark.catalog import spread_scan
    from gas_data_pipeline_spark.operators.bloomjoin import bloom_pruned_join

    urgent = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    li = spread_scan(
        table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
        )
    )
    joined = bloom_pruned_join(li, urgent, on="l_orderkey", how="inner")
    return joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(
            F.col("l_extendedprice").cast("decimal(8,2)")
            * (F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)"))
        )
        .cast("double")
        .alias("revenue"),
    )


@register(
    "drift_psi_features",
    oracle="""
        WITH feats AS (
            SELECT event_id % 2 AS side_id,
                   CASE WHEN event_id % 2 = 1 AND event_type = 'click'
                        THEN value * 1.5 + 2 ELSE value END AS value,
                   CAST(hour(ts) AS DOUBLE) AS hour_of_day
            FROM events
        ),
        long AS (
            SELECT side_id, 'value' AS feature, value AS v
            FROM feats WHERE value IS NOT NULL
            UNION ALL
            SELECT side_id, 'hour_of_day', hour_of_day
            FROM feats WHERE hour_of_day IS NOT NULL
        ),
        bounds AS (
            SELECT feature, min(v) AS lo, max(v) AS hi
            FROM long WHERE side_id = 0 GROUP BY feature
        ),
        binned AS (
            SELECT l.side_id, l.feature,
                   CASE WHEN b.hi = b.lo THEN 0
                        ELSE least(9, greatest(0, CAST(floor(
                            (l.v - b.lo) / ((b.hi - b.lo) / 10.0)) AS INT)))
                   END AS bin
            FROM long l JOIN bounds b USING (feature)
        ),
        hist AS (
            SELECT feature, bin,
                   sum(CASE WHEN side_id = 0 THEN 1 ELSE 0 END) AS cnt_base,
                   sum(CASE WHEN side_id = 1 THEN 1 ELSE 0 END) AS cnt_cur
            FROM binned GROUP BY feature, bin
        ),
        tot AS (
            SELECT feature, sum(cnt_base) AS n_base, sum(cnt_cur) AS n_cur
            FROM hist GROUP BY feature
        )
        SELECT h.feature,
               CAST(max(t.n_base) AS BIGINT) AS n_base,
               CAST(max(t.n_cur) AS BIGINT) AS n_cur,
               round(sum(
                   (greatest(h.cnt_cur / t.n_cur, 1e-6)
                    - greatest(h.cnt_base / t.n_base, 1e-6))
                   * ln(greatest(h.cnt_cur / t.n_cur, 1e-6)
                        / greatest(h.cnt_base / t.n_base, 1e-6))
               ), 6) AS psi
        FROM hist h JOIN tot t USING (feature)
        GROUP BY h.feature
    """,
)
def drift_psi_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two snapshot halves of the
    event stream, per feature — the retrain-gate monitor a production
    training pipeline runs on every ingest cycle. The even-id half is
    the baseline; the odd-id half is "current" with a drift planted on
    click values (x1.5 + 2), so `value` must show a materially
    positive PSI while `hour_of_day` stays near zero. Equi-width bins
    are anchored on the BASELINE's min/max (standard scorecard
    formulation); the oracle replays the identical double arithmetic.
    Scale shape: raw rows never shuffle — map-side (feature, bin)
    partial counts are the only exchange (operators/drift.psi_drift).
    """
    from gas_data_pipeline_spark.catalog import spread_scan
    from gas_data_pipeline_spark.operators.drift import psi_drift

    ev = spread_scan(table(spark, sf_dir, "events"))
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
    cur = feats.filter(F.col("event_id") % 2 == 1)
    return psi_drift(base, cur, ["value", "hour_of_day"], bins=10)


@register(
    "split_leakage_audit",
    oracle="""
        WITH assigned AS (
            SELECT user_id,
                   CASE WHEN event_id % 997 = 0 THEN
                       CASE WHEN CAST(concat('0x', substring(md5(
                                'leak-row:' || CAST(event_id AS VARCHAR)), 1, 13))
                                AS BIGINT) % 100 < 80 THEN 'train'
                            WHEN CAST(concat('0x', substring(md5(
                                'leak-row:' || CAST(event_id AS VARCHAR)), 1, 13))
                                AS BIGINT) % 100 < 90 THEN 'val'
                            ELSE 'test' END
                   ELSE
                       CASE WHEN CAST(concat('0x', substring(md5(
                                'leak-user:' || CAST(user_id AS VARCHAR)), 1, 13))
                                AS BIGINT) % 100 < 80 THEN 'train'
                            WHEN CAST(concat('0x', substring(md5(
                                'leak-user:' || CAST(user_id AS VARCHAR)), 1, 13))
                                AS BIGINT) % 100 < 90 THEN 'val'
                            ELSE 'test' END
                   END AS split
            FROM events
        )
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT split) AS BIGINT) AS n_splits,
               string_agg(DISTINCT split, ',' ORDER BY split) AS splits
        FROM assigned
        GROUP BY user_id
        HAVING count(DISTINCT split) > 1
    """,
)
def split_leakage_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test leakage audit: users whose events straddle split
    assignments. The split is the md5 80/10/10 hash split applied at
    USER level (correct), with a planted bug — every 997th event gets
    a ROW-level draw instead (the classic contamination defect this
    audit exists to catch); the audit must surface exactly the users
    whose row-draw landed outside their user split. Scale shape: the
    row-sized work collapses map-side to distinct (user, split) pairs;
    the per-user exchange is groups x splits
    (operators/drift.split_leakage_audit)."""
    from gas_data_pipeline_spark.catalog import spread_scan
    from gas_data_pipeline_spark.operators.drift import split_leakage_audit

    def md5_split(salt: str, col: str):
        bucket = F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(salt), F.col(col).cast("string"))), 1, 13
                ),
                16,
                10,
            ).cast("bigint"),
            F.lit(100),
        )
        return (
            F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
        )

    ev = spread_scan(table(spark, sf_dir, "events").select("event_id", "user_id"))
    assigned = ev.select(
        "user_id",
        F.when(
            F.col("event_id") % 997 == 0, md5_split("leak-row:", "event_id")
        )
        .otherwise(md5_split("leak-user:", "user_id"))
        .alias("split"),
    )
    return split_leakage_audit(assigned, "user_id", "split")


@register(
    "join_skew_profile",
    oracle="""
        WITH lc AS (
            SELECT user_id, count(*) AS cnt_left FROM events GROUP BY user_id
        ),
        rc AS (
            SELECT user_id, count(*) AS cnt_right FROM events
            WHERE event_type = 'purchase' GROUP BY user_id
        ),
        prof AS (
            SELECT CAST(lc.user_id AS VARCHAR) AS key,
                   CAST(cnt_left AS BIGINT) AS cnt_left,
                   CAST(cnt_right AS BIGINT) AS cnt_right,
                   CAST(cnt_left * cnt_right AS BIGINT) AS contribution
            FROM lc JOIN rc ON lc.user_id = rc.user_id
        ),
        top AS (
            SELECT key, cnt_left, cnt_right, contribution
            FROM prof ORDER BY contribution DESC, key ASC LIMIT 20
        )
        SELECT 'key' AS kind, key, cnt_left, cnt_right,
               CAST(NULL AS BIGINT) AS n_keys, contribution
        FROM top
        UNION ALL
        SELECT 'total', CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
               CAST(NULL AS BIGINT),
               (SELECT CAST(count(*) AS BIGINT) FROM prof),
               (SELECT CAST(sum(contribution) AS BIGINT) FROM prof)
    """,
)
def join_skew_profile_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight skew diagnostic for the events-by-purchases self
    join on user_id: exact per-key multiplicities on both sides, the
    20 heaviest keys by output contribution, and the exact total join
    cardinality — WITHOUT materializing the join. This is the probe
    you run at 100 TB before choosing broadcast vs salting
    (layout.salt_skewed_keys consumes the heavy-key list). Scale
    shape: both sides reduce map-side to per-key counts, the count
    tables join keys-sized, top-N is TakeOrderedAndProject
    (operators/drift.join_skew_profile)."""
    from gas_data_pipeline_spark.catalog import spread_scan
    from gas_data_pipeline_spark.operators.drift import join_skew_profile

    ev = spread_scan(table(spark, sf_dir, "events"))
    purchases = ev.filter(F.col("event_type") == "purchase")
    return join_skew_profile(ev, purchases, "user_id", top_n=20)


@register(
    "entity_resolution_e2e",
    oracle="""
        WITH RECURSIVE pairs AS (
            SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
            FROM part a JOIN part b
              ON a.p_brand = b.p_brand AND a.p_size = b.p_size
             AND a.p_partkey < b.p_partkey
            WHERE levenshtein(a.p_name, b.p_name) <= 8
        ),
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
        ),
        reach(id, r) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
        ),
        comp AS (SELECT id, min(r) AS label FROM reach GROUP BY id),
        labeled AS (
            SELECT p.p_partkey, p.p_retailprice,
                   coalesce(c.label, p.p_partkey) AS cluster_id
            FROM part p LEFT JOIN comp c ON p.p_partkey = c.id
        )
        SELECT p_partkey,
               cluster_id,
               CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
                   AS cluster_size,
               first_value(p_partkey) OVER (
                   PARTITION BY cluster_id
                   ORDER BY p_retailprice ASC, p_partkey ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
               ) AS canonical_partkey,
               p_partkey = first_value(p_partkey) OVER (
                   PARTITION BY cluster_id
                   ORDER BY p_retailprice ASC, p_partkey ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
               ) AS is_canonical
        FROM labeled
    """,
)
def entity_resolution_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage end to end, every stage a proven operator:
    blocking (brand x size — quadratic only within blocks, skew
    saltable) -> exact Levenshtein verification (codegen'd, the
    `fuzzy_part_name_pairs` stage) -> transitive closure via hash-min
    connected components (`operators/dedup.connected_components` —
    per-pair linking is wrong under transitivity) -> survivorship:
    the cheapest record per cluster wins (tiebreak lowest key), the
    classic master-data election. Every part row comes back with its
    cluster id (min member key; singletons label themselves), cluster
    size, and the elected canonical key. The oracle replays the chain
    with a recursive-CTE closure over the identical pair set.

    100 TB shape: the block join shuffles on the block key; CC is the
    |V|-per-round hash-min loop; the election is one window over
    cluster-keyed rows — no stage is all-pairs, nothing collects."""
    from pyspark.sql.window import Window as W

    from gas_data_pipeline_spark.operators.dedup import connected_components

    p = table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_size", "p_retailprice"
    )
    # Length band + thresholded Levenshtein (lossless, O(len·k) per
    # pair) — ONE definition shared with fuzzy_part_name_pairs, see
    # :func:`_banded_part_name_pairs`.
    pairs = _banded_part_name_pairs(
        spark,
        sf_dir,
        [
            F.col("a.p_partkey").alias("id_a"),
            F.col("b.p_partkey").alias("id_b"),
        ],
    )
    labels = connected_components(pairs, "id_a", "id_b")
    labeled = (
        p.join(labels, p["p_partkey"] == labels["id"], "left")
        .select(
            "p_partkey",
            "p_retailprice",
            F.coalesce(F.col("label"), F.col("p_partkey")).alias("cluster_id"),
        )
    )
    w = W.partitionBy("cluster_id").orderBy(
        F.asc("p_retailprice"), F.asc("p_partkey")
    ).rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    wc = W.partitionBy("cluster_id")
    canonical = F.first("p_partkey").over(w)
    return labeled.select(
        "p_partkey",
        "cluster_id",
        F.count(F.lit(1)).over(wc).cast("bigint").alias("cluster_size"),
        canonical.alias("canonical_partkey"),
        (F.col("p_partkey") == canonical).alias("is_canonical"),
    )


@register(
    "forecast_seasonal_naive_backtest",
    oracle="""
        WITH daily AS (
            SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS v
            FROM events GROUP BY 1, 2
        ),
        scored AS (
            SELECT a.user_id, a.day, a.v AS actual, f.v AS forecast
            FROM daily a JOIN daily f
              ON a.user_id = f.user_id AND f.day = a.day - INTERVAL 7 DAY
        )
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_eval,
               round(avg(abs(actual - forecast)), 6) AS mae,
               round(sum(abs(actual - forecast)) / sum(abs(actual)), 6) AS wape
        FROM scored
        GROUP BY user_id
    """,
)
def forecast_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-quality backtest per series: the seasonal-naive
    baseline (forecast(d) = actual(d - 7), the model every real
    forecaster must beat) scored over the full history with MAE and
    WAPE (sum-ratio form — no per-row division, so zero-actual days
    can't poison the metric). The calendar lag is an equality
    self-join on (user, day-7) rather than a row-offset window, so
    gap days score correctly instead of silently comparing against
    the wrong date.

    100 TB shape: raw events collapse once to the (user, day) rollup
    with map-side partial decimal sums; the backtest self-join and
    the metric aggregate run entirely on that summary — the raw
    stream is scanned exactly once, and everything after is
    users x days sized."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("v")
    )
    # Materialize the rollup once: the backtest self-joins it on two
    # DIFFERENT keys (day vs day-7), so no exchange reuse applies and
    # without this both join sides would rescan the raw events.
    daily = daily.localCheckpoint(eager=True)
    a = daily.alias("a")
    f = daily.alias("f")
    scored = a.join(
        f,
        (F.col("a.user_id") == F.col("f.user_id"))
        & (F.col("f.day") == F.date_sub(F.col("a.day"), 7)),
    ).select(
        F.col("a.user_id").alias("user_id"),
        F.col("a.v").alias("actual"),
        F.col("f.v").alias("forecast"),
    )
    err = F.abs(F.col("actual") - F.col("forecast"))
    return scored.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_eval"),
        F.round(F.avg(err), 6).alias("mae"),
        F.round(F.sum(err) / F.sum(F.abs(F.col("actual"))), 6).alias("wape"),
    )


@register(
    "drift_ks_statistic",
    oracle="""
        WITH feats AS (
            SELECT event_id % 2 AS side_id,
                   CASE WHEN event_id % 2 = 1 AND event_type = 'click'
                        THEN value * 1.5 + 2 ELSE value END AS v
            FROM events
        ),
        bounds AS (
            SELECT min(v) AS lo, max(v) AS hi FROM feats
            WHERE side_id = 0 AND v IS NOT NULL
        ),
        binned AS (
            SELECT f.side_id,
                   CASE WHEN b.hi = b.lo THEN 0
                        ELSE least(19, greatest(0, CAST(floor(
                            (f.v - b.lo) / ((b.hi - b.lo) / 20.0)) AS INT)))
                   END AS bin
            FROM feats f CROSS JOIN bounds b
            WHERE f.v IS NOT NULL
        ),
        hist AS (
            SELECT bin,
                   sum(CASE WHEN side_id = 0 THEN 1 ELSE 0 END) AS cnt_base,
                   sum(CASE WHEN side_id = 1 THEN 1 ELSE 0 END) AS cnt_cur
            FROM binned GROUP BY bin
        ),
        cdf AS (
            SELECT bin, cnt_base, cnt_cur,
                   sum(cnt_base) OVER () AS n_base,
                   sum(cnt_cur) OVER () AS n_cur,
                   sum(cnt_base) OVER (ORDER BY bin
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_base,
                   sum(cnt_cur) OVER (ORDER BY bin
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_cur
            FROM hist
        )
        SELECT 'value' AS feature,
               CAST(max(n_base) AS BIGINT) AS n_base,
               CAST(max(n_cur) AS BIGINT) AS n_cur,
               round(max(abs(cum_base / n_base - cum_cur / n_cur)), 6) AS ks_d
        FROM cdf
    """,
)
def drift_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D on the event-value stream —
    the threshold-free companion of `drift_psi_features` (same planted
    click drift, same baseline-anchored 20-bin summaries; PSI weights
    tail mass, D reports the largest single CDF gap). Everything
    after the two histogram folds is bins-sized window arithmetic
    (operators/drift.ks_from_histograms); raw rows never shuffle."""
    from gas_data_pipeline_spark.catalog import spread_scan
    from gas_data_pipeline_spark.operators.drift import (
        baseline_bounds,
        histogram_on_bounds,
        ks_from_histograms,
    )

    ev = spread_scan(table(spark, sf_dir, "events"))
    feats = ev.select(
        "event_id",
        F.when(
            (F.col("event_id") % 2 == 1) & (F.col("event_type") == "click"),
            F.col("value") * 1.5 + 2,
        )
        .otherwise(F.col("value"))
        .alias("value"),
    )
    base = feats.filter(F.col("event_id") % 2 == 0)
    cur = feats.filter(F.col("event_id") % 2 == 1)
    bounds = baseline_bounds(base, ["value"])
    return ks_from_histograms(
        histogram_on_bounds(base, ["value"], bounds, bins=20),
        histogram_on_bounds(cur, ["value"], bounds, bins=20),
    )


@register(
    "robust_scale_winsorized",
    oracle="""
        WITH pct AS (
            SELECT event_type,
                   quantile_cont(value, 0.05) AS lo,
                   quantile_cont(value, 0.95) AS hi
            FROM events GROUP BY event_type
        ),
        clipped AS (
            SELECT e.event_type,
                   least(greatest(e.value, p.lo), p.hi) AS cv,
                   CASE WHEN e.value < p.lo THEN 1 ELSE 0 END AS cl,
                   CASE WHEN e.value > p.hi THEN 1 ELSE 0 END AS ch
            FROM events e JOIN pct p USING (event_type)
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cl) AS BIGINT) AS n_clipped_low,
               CAST(sum(ch) AS BIGINT) AS n_clipped_high,
               round(avg(cv), 6) AS mean_winsorized,
               round(stddev_samp(cv), 6) AS std_winsorized
        FROM clipped GROUP BY event_type
    """,
)
def robust_scale_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized feature profile per series: exact p05/p95 fences,
    values clipped into them, and the post-clip moments — the robust
    scaling a feature pipeline applies before normalizing
    heavy-tailed inputs (clipping at percentiles instead of sigma
    keeps one outlier from moving its own fence). Two passes: the
    exact-percentile aggregate (one group-keyed shuffle — at 100 TB
    swap in approx_percentile's mergeable sketch, same plan shape),
    then fences broadcast back for a map-side clip + partial-agg
    moment fold. Oracle replays quantile_cont + clip exactly."""
    ev = table(spark, sf_dir, "events")
    pct = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("lo"),
        F.percentile("value", F.lit(0.95)).alias("hi"),
    )
    cv = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        ev.join(F.broadcast(pct), "event_type")
        .select(
            "event_type",
            cv.alias("cv"),
            (F.col("value") < F.col("lo")).cast("int").alias("cl"),
            (F.col("value") > F.col("hi")).cast("int").alias("ch"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cl").cast("bigint").alias("n_clipped_low"),
            F.sum("ch").cast("bigint").alias("n_clipped_high"),
            F.round(F.avg("cv"), 6).alias("mean_winsorized"),
            F.round(F.stddev_samp("cv"), 6).alias("std_winsorized"),
        )
    )


# ---------------------------------------------------------------------------
# Privacy QA: k-anonymity / l-diversity audit (X7 family)
# ---------------------------------------------------------------------------


@register(
    "kanonymity_audit",
    oracle="""
        WITH qi AS (
            SELECT event_type,
                   CAST(ts AS DATE) AS day,
                   CAST(floor(value / 10.0) AS BIGINT) AS vb,
                   user_id
            FROM events
        ),
        grp AS (
            SELECT event_type, day, vb,
                   count(*) AS sz,
                   count(DISTINCT user_id) AS l
            FROM qi GROUP BY 1, 2, 3
        )
        SELECT event_type,
               CAST(sum(sz) AS BIGINT) AS n_rows,
               count(*) AS n_groups,
               CAST(min(sz) AS BIGINT) AS k_anon,
               CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END)
                    AS BIGINT) AS rows_at_risk,
               CAST(min(l) AS BIGINT) AS l_diversity,
               round(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END)
                     / (sum(sz) * 1.0), 6) AS risk_frac
        FROM grp GROUP BY 1
    """,
)
def kanonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy QA before a corpus ships: k-anonymity and l-diversity
    over the quasi-identifier (event_type, day, value decade) —
    ``k_anon`` is the smallest group a re-identifier could isolate,
    ``rows_at_risk`` counts rows living in groups below the k=5
    release bar (Sweeney 2002), and ``l_diversity`` is the minimum
    number of distinct sensitive values (user_id) inside any one
    quasi-identifier group (Machanavajjhala et al. 2007 — a group of
    size 50 that is all ONE user still leaks). The audit the
    reference's expectations layer would run before its CSV export
    leaves the building (app/api/v2/exports.py's public surface).

    Scale shape: ONE map-side-combinable aggregate from facts to
    quasi-identifier groups (count + count-distinct partials), then a
    groups-sized rollup per event_type — facts shuffle once, keyed by
    the QI; no row ever shuffles twice."""
    ev = table(spark, sf_dir, "events")
    qi = ev.select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.floor(F.col("value") / F.lit(10.0)).cast("bigint").alias("vb"),
        "user_id",
    )
    grp = qi.groupBy("event_type", "day", "vb").agg(
        F.count(F.lit(1)).alias("sz"),
        F.countDistinct("user_id").alias("l"),
    )
    risk = F.sum(F.when(F.col("sz") < 5, F.col("sz")).otherwise(0))
    return grp.groupBy("event_type").agg(
        F.sum("sz").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).alias("n_groups"),
        F.min("sz").cast("bigint").alias("k_anon"),
        risk.cast("bigint").alias("rows_at_risk"),
        F.min("l").cast("bigint").alias("l_diversity"),
        F.round(risk / (F.sum("sz") * F.lit(1.0)), 6).alias("risk_frac"),
    )
