"""Unit tests for the lakehouse write path and REST source layer —
the reference-faithful invariants from SURVEY §5 (zero-loss roundtrip,
upsert idempotency, last-write-wins, insert-if-absent, delete-reload)
on small in-memory fixtures.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def scratch(tmp_path):
    return str(tmp_path / "tbl")


def _obs_batch(spark, rows):
    from datetime import datetime

    parsed = [
        (s, datetime.fromisoformat(t), v, datetime.fromisoformat(i), e)
        for s, t, v, i, e in rows
    ]
    return spark.createDataFrame(
        parsed,
        "series_id string, observation_time timestamp, value double, ingestion_time timestamp, event_id long",
    )


def _upsert(spark, batch, root, order_cols=("ingestion_time", "event_id")):
    from gas_data_pipeline_spark.pipeline.versioned import (
        upsert_observations_versioned,
    )

    return upsert_observations_versioned(
        spark, batch, root, order_cols=list(order_cols)
    )


def _read_silver(spark, root):
    from gas_data_pipeline_spark.pipeline.versioned import (
        read_observations_versioned,
    )

    return read_observations_versioned(spark, root)


def test_upsert_updates_on_conflict(spark, scratch):
    t0 = "2024-01-01 00:00:00"
    _upsert(spark, _obs_batch(spark, [("s1", t0, 1.0, "2024-01-01 01:00:00", 1)]), scratch)
    # Same key, newer ingestion_time -> value must be replaced.
    _upsert(spark, _obs_batch(spark, [("s1", t0, 2.0, "2024-01-01 02:00:00", 2)]), scratch)
    rows = _read_silver(spark, scratch).collect()
    assert len(rows) == 1
    assert rows[0].value == 2.0


def test_upsert_is_idempotent(spark, scratch):
    b = _obs_batch(
        spark,
        [
            ("s1", "2024-01-01 00:00:00", 1.0, "2024-01-01 01:00:00", 1),
            ("s2", "2024-01-02 00:00:00", 5.0, "2024-01-01 01:00:00", 2),
        ],
    )
    _upsert(spark, b, scratch)
    first = sorted(map(tuple, _read_silver(spark, scratch).collect()))
    _upsert(spark, b, scratch)
    second = sorted(map(tuple, _read_silver(spark, scratch).collect()))
    assert first == second


def test_upsert_touches_only_affected_partitions(spark, scratch):
    """An upsert of one date leaves every other date's manifest entry
    as it was: the untouched date is neither rewritten nor dropped."""
    from gas_data_pipeline_spark.pipeline.versioned import read_manifest

    day1 = _obs_batch(spark, [("s1", "2024-01-01 00:00:00", 1.0, "2024-01-01 01:00:00", 1)])
    day2 = _obs_batch(spark, [("s1", "2024-01-02 00:00:00", 2.0, "2024-01-01 01:00:00", 2)])
    entry1 = _upsert(spark, day1, scratch)["partitions"]["2024-01-01"]
    _upsert(spark, day2, scratch)
    vals = {r.value for r in _read_silver(spark, scratch).collect()}
    assert vals == {1.0, 2.0}
    assert read_manifest(scratch)["partitions"]["2024-01-01"] == entry1


def test_bronze_zero_loss_nested(spark, scratch):
    """Nested structures must survive the JSON envelope verbatim
    (reference raw_ingestor.py:8-11 'lists/dicts preserved')."""
    from gas_data_pipeline_spark.pipeline.bronze import bronze_append, read_bronze

    src = spark.createDataFrame(
        [(1, {"a": 1, "b": [1, 2]}, ["x", "y"])],
        "id long, payload map<string,string>, tags array<string>",
    )
    bronze_append(src, dataset_id="D", source="s", path=scratch)
    back = read_bronze(spark, scratch, dataset_id="D").collect()
    assert len(back) == 1
    payload = json.loads(back[0].raw_payload)
    assert payload["id"] == 1
    assert payload["tags"] == ["x", "y"]


def test_insert_if_absent(spark, scratch):
    from gas_data_pipeline_spark.pipeline.dims import insert_if_absent

    d1 = spark.createDataFrame([("k1", "v1"), ("k2", "v2")], "k string, v string")
    inserted = insert_if_absent(spark, d1, scratch, keys=["k"])
    assert inserted.count() == 2
    d2 = spark.createDataFrame([("k2", "OTHER"), ("k3", "v3")], "k string, v string")
    inserted = insert_if_absent(spark, d2, scratch, keys=["k"])
    assert [r.k for r in inserted.collect()] == ["k3"]
    final = {r.k: r.v for r in spark.read.parquet(scratch).collect()}
    assert final == {"k1": "v1", "k2": "v2", "k3": "v3"}  # k2 NOT updated


def test_insert_if_absent_reads_existing_keys_without_inference(spark, scratch):
    # A second insert into an existing dim dir reads the existing keys
    # under the incoming key schema: three jobs (the anti-join and the
    # write), where a schema-less read ran a fourth first, the footer
    # read that infers the schema.
    from gas_data_pipeline_spark.pipeline.dims import insert_if_absent

    d1 = spark.createDataFrame([("k1", "v1"), ("k2", "v2")], "k string, v string")
    insert_if_absent(spark, d1, scratch, keys=["k"])
    d2 = spark.createDataFrame([("k2", "OTHER"), ("k3", "v3")], "k string, v string")
    sc = spark.sparkContext
    group = "dims-second-insert"
    sc.setJobGroup(group, "count the jobs of a second insert")
    try:
        inserted = insert_if_absent(spark, d2, scratch, keys=["k"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 3
    assert [r.k for r in inserted.collect()] == ["k3"]


def test_delete_reload(spark, scratch):
    from gas_data_pipeline_spark.pipeline.dims import delete_reload

    base = spark.createDataFrame(
        [("gie", 1.0), ("gie", 2.0), ("other", 3.0)], "source string, value double"
    )
    base.write.parquet(scratch)
    replacement = spark.createDataFrame([("gie", 9.0)], "source string, value double")
    delete_reload(spark, replacement, scratch, F.col("source") == "gie")
    rows = sorted((r.source, r.value) for r in spark.read.parquet(scratch).collect())
    assert rows == [("gie", 9.0), ("other", 3.0)]
    assert not os.path.exists(scratch + ".staging")
    assert not os.path.exists(scratch + ".old")


def _partition_files(path, value):
    pdir = os.path.join(path, f"source={value}")
    return {
        f: os.path.getmtime(os.path.join(pdir, f))
        for f in os.listdir(pdir)
        if f.endswith(".parquet")
    }


def test_delete_reload_partition_scoped(spark, scratch):
    """VERDICT r2 #2: with a partitioned target, delete_reload must
    rewrite ONLY the partitions the predicate/replacement touch — the
    untouched partition's data files survive byte-identical (same
    names, same mtimes), proving no read-rewrite of the full table."""
    from gas_data_pipeline_spark.pipeline.dims import delete_reload

    base = spark.createDataFrame(
        [("gie", 1.0), ("gie", 2.0), ("entsog", 3.0), ("ng", 4.0)],
        "source string, value double",
    )
    base.write.partitionBy("source").parquet(scratch)
    before_entsog = _partition_files(scratch, "entsog")
    before_ng = _partition_files(scratch, "ng")

    replacement = spark.createDataFrame([("gie", 9.0)], "source string, value double")
    delete_reload(
        spark, replacement, scratch, F.col("source") == "gie", partition_col="source"
    )
    rows = sorted((r.source, r.value) for r in spark.read.parquet(scratch).collect())
    assert rows == [("entsog", 3.0), ("gie", 9.0), ("ng", 4.0)]
    # untouched partitions: identical files, never rewritten
    assert _partition_files(scratch, "entsog") == before_entsog
    assert _partition_files(scratch, "ng") == before_ng


def test_delete_reload_leaves_session_overwrite_mode(spark, scratch):
    """A partitioned delete_reload overwrites dynamically through its
    own write option: the session's partitionOverwriteMode is the same
    afterwards, so a later static overwrite of a partitioned table in
    the session still drops the partitions it does not write."""
    from gas_data_pipeline_spark.pipeline.dims import delete_reload

    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    schema = "source string, value double"
    spark.createDataFrame([("gie", 1.0), ("ng", 4.0)], schema).write.partitionBy(
        "source"
    ).parquet(scratch)
    delete_reload(
        spark,
        spark.createDataFrame([("gie", 9.0)], schema),
        scratch,
        F.col("source") == "gie",
        partition_col="source",
    )
    assert spark.conf.get(key) == before
    static = scratch + "_static"
    spark.createDataFrame([("a", 1.0), ("b", 2.0)], schema).write.partitionBy(
        "source"
    ).parquet(static)
    spark.createDataFrame([("a", 3.0)], schema).write.mode("overwrite").partitionBy(
        "source"
    ).parquet(static)
    rows = [(r.source, r.value) for r in spark.read.parquet(static).collect()]
    assert rows == [("a", 3.0)]


def test_delete_reload_partitioned_pure_delete(spark, scratch):
    """A predicate partition with no replacement rows must be fully
    dropped (dynamic overwrite alone would leave it stale)."""
    from gas_data_pipeline_spark.pipeline.dims import delete_reload

    base = spark.createDataFrame(
        [("gie", 1.0), ("ng", 4.0)], "source string, value double"
    )
    base.write.partitionBy("source").parquet(scratch)
    empty = spark.createDataFrame([], "source string, value double")
    delete_reload(
        spark, empty, scratch, F.col("source") == "gie", partition_col="source"
    )
    rows = [(r.source, r.value) for r in spark.read.parquet(scratch).collect()]
    assert rows == [("ng", 4.0)]
    assert not os.path.exists(os.path.join(scratch, "source=gie"))


def test_delete_reload_aligned_reads_zero_fact_bytes(spark, scratch):
    """VERDICT r3 #4: when the predicate references only the partition
    column and the replacement covers every deleted partition, neither
    discovery nor the write may read ANY existing fact file. Proven by
    corrupting every affected partition's parquet files first — any
    read would throw."""
    from gas_data_pipeline_spark.pipeline.dims import delete_reload

    base = spark.createDataFrame(
        [("gie", 1.0), ("gie", 2.0), ("ng", 4.0)], "source string, value double"
    )
    base.write.partitionBy("source").parquet(scratch)
    gie_dir = os.path.join(scratch, "source=gie")
    for f in os.listdir(gie_dir):
        if f.endswith(".parquet"):
            with open(os.path.join(gie_dir, f), "wb") as fh:
                fh.write(b"not a parquet file")

    replacement = spark.createDataFrame([("gie", 9.0)], "source string, value double")
    stats = delete_reload(
        spark, replacement, scratch, F.col("source") == "gie", partition_col="source"
    )
    assert stats["mode"] == "partition-aligned"
    rows = sorted((r.source, r.value) for r in spark.read.parquet(scratch).collect())
    assert rows == [("gie", 9.0), ("ng", 4.0)]


def test_delete_reload_data_predicate_falls_back_to_scan(spark, scratch):
    """A predicate over a data column cannot be resolved against the
    partition listing: delete_reload must fall back to the column-
    pruned discovery scan and still produce the right table."""
    from gas_data_pipeline_spark.pipeline.dims import delete_reload

    base = spark.createDataFrame(
        [("gie", 1.0), ("gie", 2.0), ("ng", 4.0)], "source string, value double"
    )
    base.write.partitionBy("source").parquet(scratch)
    replacement = spark.createDataFrame([("gie", 9.0)], "source string, value double")
    stats = delete_reload(
        spark, replacement, scratch, F.col("value") < 2.0, partition_col="source"
    )
    assert stats["mode"] == "predicate-scan"
    rows = sorted((r.source, r.value) for r in spark.read.parquet(scratch).collect())
    assert rows == [("gie", 2.0), ("gie", 9.0), ("ng", 4.0)]


def test_delete_reload_drops_escaped_partition_dir(spark, scratch):
    """ADVICE r3: partition values Spark percent-escapes in directory
    names (':' -> %3A) must still be dropped on pure delete — the raw
    f-string path would miss them."""
    from gas_data_pipeline_spark.pipeline.dims import delete_reload

    base = spark.createDataFrame(
        [("a:b", 1.0), ("ng", 4.0)], "source string, value double"
    )
    base.write.partitionBy("source").parquet(scratch)
    assert os.path.exists(os.path.join(scratch, "source=a%3Ab"))
    empty = spark.createDataFrame([], "source string, value double")
    stats = delete_reload(
        spark, empty, scratch, F.col("source") == "a:b", partition_col="source"
    )
    assert stats["dropped"] == ["source=a%3Ab"]
    assert not os.path.exists(os.path.join(scratch, "source=a%3Ab"))
    rows = [(r.source, r.value) for r in spark.read.parquet(scratch).collect()]
    assert rows == [("ng", 4.0)]


def test_delete_reload_null_partition_rows_survive(spark, scratch):
    """Null-partition (__HIVE_DEFAULT_PARTITION__) rows must ride
    along as survivors, on BOTH discovery paths — a bare isin() over
    values containing None evaluates to NULL for null rows and would
    silently drop them."""
    from gas_data_pipeline_spark.pipeline.dims import delete_reload

    # Aligned path: replacement touches the null partition (new row),
    # predicate deletes a different partition. The null partition's
    # existing row must survive next to the replacement row.
    base = spark.createDataFrame(
        [(None, 1.0), ("gie", 2.0), ("ng", 4.0)], "source string, value double"
    )
    base.write.partitionBy("source").parquet(scratch)
    replacement = spark.createDataFrame(
        [(None, 9.0)], "source string, value double"
    )
    stats = delete_reload(
        spark, replacement, scratch, F.col("source") == "gie",
        partition_col="source",
    )
    assert stats["mode"] == "partition-aligned"
    rows = sorted(
        ((r.source or ""), r.value)
        for r in spark.read.parquet(scratch).collect()
    )
    assert rows == [("", 1.0), ("", 9.0), ("ng", 4.0)]

    # Scan path: data-column predicate deletes one null-partition row;
    # the other must survive and the directory must NOT be dropped.
    scratch2 = scratch + "_scan"
    base2 = spark.createDataFrame(
        [(None, 1.0), (None, 5.0), ("gie", 2.0), ("ng", 4.0)],
        "source string, value double",
    )
    base2.write.partitionBy("source").parquet(scratch2)
    empty = spark.createDataFrame([], "source string, value double")
    stats = delete_reload(
        spark, empty, scratch2, F.col("value") < 2.0, partition_col="source"
    )
    assert stats["mode"] == "predicate-scan"
    rows = sorted(
        ((r.source or ""), r.value)
        for r in spark.read.parquet(scratch2).collect()
    )
    assert rows == [("", 5.0), ("gie", 2.0), ("ng", 4.0)]
    assert os.path.exists(
        os.path.join(scratch2, "__HIVE_DEFAULT_PARTITION__")
    ) or os.path.exists(
        os.path.join(scratch2, "source=__HIVE_DEFAULT_PARTITION__")
    )
    import shutil as _sh

    _sh.rmtree(scratch2, ignore_errors=True)


# ---------------------------------------------------------------------------
# REST source layer: retry/throttle + flatteners on fixtures (no network).
# ---------------------------------------------------------------------------


def test_rest_retry_then_success():
    from gas_data_pipeline_spark.sources.rest import RestSource

    calls = {"n": 0}

    def flaky(url, params):
        calls["n"] += 1
        if calls["n"] < 3:
            raise IOError("HTTP 503")
        return {"ok": True, "url": url}

    sleeps = []
    src = RestSource(flaky, retries=5, backoff_factor=2.0, sleep=sleeps.append)
    assert src.fetch("u", {})["ok"] is True
    assert calls["n"] == 3
    assert sleeps == [1.0, 2.0]  # factor-2 exponential backoff


def test_rest_exhausted_retries_raise():
    from gas_data_pipeline_spark.sources.rest import RestSource

    def dead(url, params):
        raise IOError("HTTP 500")

    src = RestSource(dead, retries=2, sleep=lambda s: None)
    with pytest.raises(RuntimeError, match="after 2 tries"):
        src.fetch("u", {})


def test_rest_429_gets_penalty_sleep():
    """Reference policy (national_gas_client.py:95-101): rate limiting
    earns a hard 15 s penalty sleep before the backoff retry."""
    from gas_data_pipeline_spark.sources.rest import HttpStatusError, RestSource

    calls = {"n": 0}

    def rate_limited(url, params):
        calls["n"] += 1
        if calls["n"] == 1:
            raise HttpStatusError(429, url)
        return {"ok": True}

    sleeps = []
    src = RestSource(rate_limited, retries=5, backoff_factor=2.0, sleep=sleeps.append)
    assert src.fetch("u", {})["ok"] is True
    assert sleeps == [15.0, 1.0]  # penalty first, then backoff**0


def test_rest_4xx_is_not_retried():
    """404/401/etc never heal — fail immediately, one call total
    (reference status_forcelist is 429/5xx only)."""
    from gas_data_pipeline_spark.sources.rest import HttpStatusError, RestSource

    calls = {"n": 0}

    def not_found(url, params):
        calls["n"] += 1
        raise HttpStatusError(404, url)

    src = RestSource(not_found, retries=5, sleep=lambda s: None)
    with pytest.raises(HttpStatusError, match="HTTP 404"):
        src.fetch("u", {})
    assert calls["n"] == 1


def test_rest_5xx_status_error_is_retried():
    from gas_data_pipeline_spark.sources.rest import HttpStatusError, RestSource

    calls = {"n": 0}

    def flaky(url, params):
        calls["n"] += 1
        if calls["n"] < 2:
            raise HttpStatusError(503, url)
        return {"ok": True}

    sleeps = []
    src = RestSource(flaky, retries=5, sleep=sleeps.append)
    assert src.fetch("u", {})["ok"] is True
    assert sleeps == [1.0]  # plain backoff, no 429 penalty


def test_rest_chunk_throttle():
    from gas_data_pipeline_spark.sources.rest import RestSource

    sleeps = []
    src = RestSource(lambda u, p: p, throttle_s=1.5, sleep=sleeps.append)
    out = src.fetch_chunks("u", [{"c": 1}, {"c": 2}, {"c": 3}])
    assert out == [{"c": 1}, {"c": 2}, {"c": 3}]
    assert sleeps == [1.5, 1.5]  # between chunks only


def test_flatten_gas_quality(spark):
    from gas_data_pipeline_spark.sources.rest import flatten_gas_quality, json_batch_to_df

    payload = {
        "sites": [
            {
                "siteId": 1,
                "siteName": "A",
                "areaName": "N",
                "siteGasQualityDetail": [
                    {"metric": "CV", "value": 39.1},
                    {"metric": "WI", "value": 51.2},
                ],
            },
            {
                "siteId": 2,
                "siteName": "B",
                "areaName": "S",
                "siteGasQualityDetail": [{"metric": "CV", "value": 38.7}],
            },
        ]
    }
    flat = flatten_gas_quality(json_batch_to_df(spark, [payload]))
    rows = sorted((r.siteId, r.metric, r.value) for r in flat.collect())
    assert rows == [(1, "CV", 39.1), (1, "WI", 51.2), (2, "CV", 38.7)]


def test_flatten_instantaneous_flow(spark):
    from gas_data_pipeline_spark.sources.rest import (
        flatten_instantaneous_flow,
        json_batch_to_df,
    )

    payload = {
        "instantaneousFlow": [
            {
                "applicableAt": "2024-01-01T00:00:00Z",
                "sites": [
                    {
                        "siteName": "A",
                        "siteGasDetail": [
                            {"flowRate": 1.5, "scheduledFlowRate": 1.4, "quality": "OK"}
                        ],
                    }
                ],
            }
        ]
    }
    flat = flatten_instantaneous_flow(json_batch_to_df(spark, [payload]))
    rows = flat.collect()
    assert len(rows) == 1
    assert rows[0].siteName == "A" and rows[0].flowRate == 1.5


def test_flatten_entsog_normalizes_indicator(spark):
    from gas_data_pipeline_spark.sources.rest import flatten_entsog, json_batch_to_df

    payload = {
        "operationaldatas": [
            {"indicator": "Physical Flow", "pointKey": "P1", "value": 10.0},
            {"indicator": "Nomination", "pointKey": "P2", "value": 20.0},
        ]
    }
    flat = flatten_entsog(json_batch_to_df(spark, [payload]))
    inds = sorted(r.indicator for r in flat.collect())
    assert inds == ["Nomination", "PhysicalFlow"]


def test_flatten_publication_catalogue_drops_null_ids(spark):
    from gas_data_pipeline_spark.sources.rest import (
        flatten_publication_catalogue,
        json_batch_to_df,
    )

    payload = {
        "data": [
            {
                "subCategory": [
                    {
                        "catalogueEntries": [
                            {"publicationId": 1, "publicationName": "x"},
                            {"publicationId": None, "publicationName": "skip"},
                        ]
                    }
                ]
            }
        ]
    }
    flat = flatten_publication_catalogue(json_batch_to_df(spark, [payload]))
    assert [r.publicationId for r in flat.collect()] == [1]


def test_stateful_stats_carry_state_across_microbatches(spark, tmp_path):
    """applyInPandasWithState must accumulate across micro-batches:
    split events into 3 files, force one file per trigger, and check
    the final update per series equals the whole-data batch aggregate
    while intermediate updates show monotone growth."""
    import uuid

    from pyspark.sql import functions as F
    from gas_data_pipeline_spark.catalog import table
    from gas_data_pipeline_spark.streaming.incremental import (
        events_stream_from_dir,
        stateful_series_stats,
    )
    from tests.conftest import SF_SMALL

    src = str(tmp_path / "events_parts")
    table(spark, SF_SMALL, "events").repartition(3).write.parquet(src)

    stream = events_stream_from_dir(spark, src, maxFilesPerTrigger="1")
    name = f"state_{uuid.uuid4().hex[:8]}"
    q = (
        stateful_series_stats(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    updates = spark.table(name).toPandas()

    # 3 micro-batches -> up to 3 updates per series, counts monotone.
    per_series = updates.groupby("series_id")["n_events"].apply(list)
    assert any(len(v) > 1 for v in per_series)

    final = updates.sort_values("n_events").groupby("series_id").last()
    exact = (
        table(spark, SF_SMALL, "events")
        .groupBy("event_type")
        .agg(
            F.count("value").alias("n"),
            F.sum("value").alias("total"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
        )
        .toPandas()
        .set_index("event_type")
    )
    for et in exact.index:
        assert final.loc[et].n_events == exact.loc[et].n
        assert abs(final.loc[et].total - exact.loc[et].total) < 1e-6
        assert final.loc[et].vmin == exact.loc[et].vmin
        assert final.loc[et].vmax == exact.loc[et].vmax


def test_scd2_intervals_hand_built_history(spark):
    """Runs collapse, intervals chain (valid_to = next valid_from),
    exactly one open interval per key, input order irrelevant."""
    from gas_data_pipeline_spark.pipeline.scd import scd2_intervals

    rows = [
        (1, "A", 10, 100),
        (1, "A", 20, 101),
        (1, "B", 30, 102),
        (1, "A", 40, 103),
        (2, "X", 15, 200),
    ]
    log = spark.createDataFrame(
        rows[::-1], "k bigint, v string, t bigint, seq bigint"  # reversed input order
    )
    out = scd2_intervals(log, "k", "v", "t", "seq").toPandas()
    u1 = out[out.k == 1].sort_values("valid_from").reset_index(drop=True)
    assert list(u1.v) == ["A", "B", "A"]
    assert list(u1.n_changes) == [2, 1, 1]
    assert list(u1.valid_from) == [10, 30, 40]
    assert list(u1.valid_to)[:2] == [30, 40]
    assert u1.valid_to.isna().iloc[2] and bool(u1.is_current.iloc[2])
    assert not u1.is_current.iloc[:2].any()
    u2 = out[out.k == 2]
    assert len(u2) == 1 and bool(u2.is_current.iloc[0])


def test_compaction_shrinks_file_count_preserves_rows(spark, tmp_path):
    from gas_data_pipeline_spark.pipeline.compaction import (
        compact_parquet,
        dir_parquet_stats,
        write_fragmented,
    )

    src = spark.range(20000).selectExpr("id", "id * 2 AS v")
    path = str(tmp_path / "t")
    write_fragmented(src, path, n_files=32)
    n0, total = dir_parquet_stats(path)
    assert n0 == 32
    n1 = compact_parquet(spark, path, target_bytes=max(1, total // 3))
    n_after, _ = dir_parquet_stats(path)
    assert n1 == n_after and 1 <= n_after <= 8
    back = spark.read.parquet(path)
    assert back.count() == 20000
    assert back.agg({"v": "sum"}).collect()[0][0] == sum(2 * i for i in range(20000))
    # Failed-compaction safety: original untouched if read fails midway
    # is covered by the temp-dir design; here assert temp dir is gone.
    import os
    assert not os.path.exists(path + ".compacting") and not os.path.exists(path + ".old")


def test_lookback_bounded_upsert_per_series_windows(spark, tmp_path):
    """VERDICT r2 #6: each series reconciles late data only within its
    OWN lookback_days window (reference meta_series.lookback_days,
    models.py:36). s_short (2 days) must drop a 5-day-old row that
    s_long (30 days) accepts; an unregistered series falls back to the
    30-day default."""
    from datetime import datetime

    from gas_data_pipeline_spark.streaming.incremental import (
        lookback_bounded_upsert,
    )

    silver = str(tmp_path / "silver")
    now = datetime(2024, 6, 30, 12, 0, 0)
    dim = spark.createDataFrame(
        [("s_short", 2), ("s_long", 30)], "series_id string, lookback_days int"
    )
    rows = [
        # 5 days old: inside s_long's window, outside s_short's.
        ("s_short", datetime(2024, 6, 25, 10), 1.0),
        ("s_long", datetime(2024, 6, 25, 10), 2.0),
        # 1 day old: inside both.
        ("s_short", datetime(2024, 6, 29, 10), 3.0),
        ("s_long", datetime(2024, 6, 29, 10), 4.0),
        # unregistered series, 20 days old: default 30-day window keeps it.
        ("s_new", datetime(2024, 6, 10, 10), 5.0),
    ]
    batch = spark.createDataFrame(
        rows, "series_id string, observation_time timestamp, value double"
    ).withColumn("ingestion_time", F.current_timestamp())
    lookback_bounded_upsert(batch, dim, silver, now=now)

    got = sorted(
        (r.series_id, r.value)
        for r in _read_silver(spark, silver).collect()
    )
    assert got == [("s_long", 2.0), ("s_long", 4.0), ("s_new", 5.0), ("s_short", 3.0)]


def test_run_incremental_upsert_streaming_lookback(spark, tmp_path):
    """The streaming wrapper: a file-stream micro-batch run through
    run_incremental_upsert applies the same per-series windows and
    upserts idempotently (second run changes nothing)."""
    from datetime import datetime

    from gas_data_pipeline_spark.streaming.incremental import (
        run_incremental_upsert,
    )

    src = str(tmp_path / "incoming")
    silver = str(tmp_path / "silver")
    now = datetime(2024, 6, 30, 12, 0, 0)
    dim = spark.createDataFrame(
        [("s_short", 2), ("s_long", 30)], "series_id string, lookback_days int"
    )
    batch = spark.createDataFrame(
        [
            ("s_short", datetime(2024, 6, 25, 10), 1.0, datetime(2024, 6, 30)),
            ("s_long", datetime(2024, 6, 25, 10), 2.0, datetime(2024, 6, 30)),
            ("s_short", datetime(2024, 6, 29, 10), 3.0, datetime(2024, 6, 30)),
        ],
        "series_id string, observation_time timestamp, value double, ingestion_time timestamp",
    )
    batch.write.parquet(src)

    stream = (
        spark.readStream.schema(
            "series_id string, observation_time timestamp, "
            "value double, ingestion_time timestamp"
        ).parquet(src)
    )
    run_incremental_upsert(stream, dim, silver, str(tmp_path / "ckpt1"), now=now)
    got = sorted(
        (r.series_id, r.value) for r in _read_silver(spark, silver).collect()
    )
    assert got == [("s_long", 2.0), ("s_short", 3.0)]

    # Idempotency: replay the same data through a fresh checkpoint.
    stream2 = (
        spark.readStream.schema(
            "series_id string, observation_time timestamp, "
            "value double, ingestion_time timestamp"
        ).parquet(src)
    )
    run_incremental_upsert(stream2, dim, silver, str(tmp_path / "ckpt2"), now=now)
    again = sorted(
        (r.series_id, r.value) for r in _read_silver(spark, silver).collect()
    )
    assert again == got


def test_processing_time_stream_multi_batch_no_overlap(spark, tmp_path):
    """VERDICT r3 #3 (ST1 fidelity): a real Trigger.ProcessingTime
    stream over a directory receiving files mid-flight must (a) run
    >= 3 sequential micro-batches with no overlap (the scheduler's
    max_instances=1/coalesce semantics), (b) refuse a second concurrent
    instance on the same checkpoint, (c) upsert idempotently across
    batches, and (d) stop gracefully within a bounded wait."""
    import shutil
    import time
    from datetime import datetime

    from gas_data_pipeline_spark.streaming.incremental import (
        await_processed_batches,
        start_processing_time_stream,
    )

    src = str(tmp_path / "incoming")
    silver = str(tmp_path / "silver")
    os.makedirs(src)
    schema = (
        "series_id string, observation_time timestamp, value double, "
        "event_id long, ingestion_time timestamp"
    )
    ing = datetime(2024, 6, 30)

    def drop_file(rows, name):
        """Land one parquet file in the watched dir (atomically, the
        way a poller would: write aside, then move in)."""
        tmp = str(tmp_path / f"stage_{name}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        shutil.move(os.path.join(tmp, part), os.path.join(src, f"{name}.parquet"))
        shutil.rmtree(tmp)

    drop_file(
        [
            ("s1", datetime(2024, 6, 29, 10), 1.0, 1, ing),
            ("s2", datetime(2024, 6, 29, 10), 5.0, 2, ing),
        ],
        "b0",
    )

    records = []  # (batch_id, start, end) appended by the driver-side fn

    def batch_fn(bdf, batch_id):
        t0 = time.monotonic()
        _upsert(spark, bdf, silver, order_cols=["event_id"])
        records.append((batch_id, t0, time.monotonic()))

    # Spark's default stopActiveRunOnRestart lets a NEW run of the same
    # checkpoint supersede the old; with it off, a second concurrent
    # instance must be refused outright (the scheduler's
    # max_instances=1).
    spark.conf.set("spark.sql.streaming.stopActiveRunOnRestart", "false")
    stream = spark.readStream.schema(schema).parquet(src)
    q = start_processing_time_stream(
        stream, batch_fn, str(tmp_path / "ckpt"), interval="300 milliseconds"
    )
    try:
        await_processed_batches(q, lambda: len(records) >= 1)
        # Exclusivity: the checkpoint's query id is already active.
        stream2 = spark.readStream.schema(schema).parquet(src)
        with pytest.raises(Exception, match="(?i)already active"):
            start_processing_time_stream(
                stream2, batch_fn, str(tmp_path / "ckpt")
            )
        # Late revision of (s1, 06-29T10) + a new key, mid-flight.
        drop_file([("s1", datetime(2024, 6, 29, 10), 10.0, 3, ing)], "b1")
        await_processed_batches(q, lambda: len(records) >= 2)
        drop_file(
            [
                ("s1", datetime(2024, 6, 29, 10), 20.0, 4, ing),
                ("s3", datetime(2024, 6, 30, 11), 7.0, 5, ing),
            ],
            "b2",
        )
        await_processed_batches(q, lambda: len(records) >= 3)
    finally:
        q.stop()
        spark.conf.unset("spark.sql.streaming.stopActiveRunOnRestart")
    q.awaitTermination(60)
    assert not q.isActive

    ids = [r[0] for r in records]
    assert len(ids) >= 3 and ids == sorted(set(ids)), ids
    for (_, _, prev_end), (_, nxt_start, _) in zip(records, records[1:]):
        assert nxt_start >= prev_end, "micro-batches overlapped"

    final = {
        r.series_id: r.value for r in _read_silver(spark, silver).collect()
    }
    assert final == {"s1": 20.0, "s2": 5.0, "s3": 7.0}
    # Idempotency across batches: replaying the last revision directly
    # through the same upsert changes nothing.
    replay = spark.createDataFrame(
        [("s1", datetime(2024, 6, 29, 10), 20.0, 4, ing)], schema
    )
    _upsert(spark, replay, silver, order_cols=["event_id"])
    again = {
        r.series_id: r.value for r in _read_silver(spark, silver).collect()
    }
    assert again == final


def test_gie_delete_reload_under_foreachbatch_two_microbatches(spark, tmp_path):
    """VERDICT r3 #7: the GIE DELETE_LOOKBACK_DAYS=10 intent under
    foreachBatch — across two micro-batches (same checkpoint, so the
    second run picks up only the new file), a late revision must
    replace ONLY its lookback partitions: revised days swap in place,
    a day absent from the new snapshot disappears, and partitions
    older than the window stay byte-identical and are never read."""
    import shutil
    from datetime import date, datetime

    from gas_data_pipeline_spark.streaming.incremental import (
        run_gie_delete_reload,
    )

    src = str(tmp_path / "incoming")
    target = str(tmp_path / "daily")
    os.makedirs(src)
    now = datetime(2024, 6, 30, 12, 0, 0)  # window = [06-20, now]
    schema = "series_id string, obs_date date, value double"

    # Seed: two partitions OUTSIDE the window + one stale day inside.
    seed = spark.createDataFrame(
        [
            ("s", date(2024, 6, 10), 100.0),
            ("s", date(2024, 6, 18), 200.0),
            ("s", date(2024, 6, 25), 0.5),
        ],
        schema,
    )
    seed.repartition(1).write.partitionBy("obs_date").parquet(target)

    def pfiles(day):
        pdir = os.path.join(target, f"obs_date={day}")
        return {
            f: os.path.getmtime(os.path.join(pdir, f))
            for f in os.listdir(pdir)
            if f.endswith(".parquet")
        }

    before_0610 = pfiles("2024-06-10")
    before_0618 = pfiles("2024-06-18")

    def drop_file(rows, name):
        tmp = str(tmp_path / f"stage_{name}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        shutil.move(os.path.join(tmp, part), os.path.join(src, f"{name}.parquet"))
        shutil.rmtree(tmp)

    # Snapshot 1: revises 06-25, adds 06-27, and carries a row older
    # than the window (06-12) that must be DROPPED, not inserted.
    drop_file(
        [
            ("s", date(2024, 6, 25), 1.0),
            ("s", date(2024, 6, 27), 2.0),
            ("s", date(2024, 6, 12), 999.0),
        ],
        "b0",
    )
    stats: list = []
    stream = spark.readStream.schema(schema).parquet(src)
    ckpt = str(tmp_path / "ckpt")
    run_gie_delete_reload(stream, target, ckpt, now=now, stats=stats)
    got = {
        (str(r.obs_date), r.value)
        for r in spark.read.parquet(target).collect()
    }
    assert got == {
        ("2024-06-10", 100.0),
        ("2024-06-18", 200.0),
        ("2024-06-25", 1.0),
        ("2024-06-27", 2.0),
    }

    # Snapshot 2 (late revision): 06-25 revised again, 06-27 VANISHES
    # from the source, 06-29 appears.
    drop_file(
        [("s", date(2024, 6, 25), 3.0), ("s", date(2024, 6, 29), 4.0)], "b1"
    )
    stream2 = spark.readStream.schema(schema).parquet(src)
    run_gie_delete_reload(stream2, target, ckpt, now=now, stats=stats)
    got2 = {
        (str(r.obs_date), r.value)
        for r in spark.read.parquet(target).collect()
    }
    assert got2 == {
        ("2024-06-10", 100.0),
        ("2024-06-18", 200.0),
        ("2024-06-25", 3.0),
        ("2024-06-29", 4.0),
    }
    # Both micro-batches took the partition-aligned (zero-discovery-
    # read) path; the vanished day was dropped by directory remove.
    assert [s["mode"] for s in stats] == ["partition-aligned"] * 2
    assert any("obs_date=2024-06-27" in d for s in stats for d in s["dropped"])
    # Out-of-window partitions: same files, same mtimes — never touched.
    assert pfiles("2024-06-10") == before_0610
    assert pfiles("2024-06-18") == before_0618


def test_expectations_split_and_null_semantics(spark):
    """split_valid: rows violating ANY rule quarantine with the audit
    array; a NULL predicate result counts as a violation (three-valued
    logic must not let null rows pass)."""
    from gas_data_pipeline_spark.pipeline.expectations import (
        expectation_metrics,
        split_valid,
    )

    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, -5.0, "a"), (3, None, "b"), (4, 7.0, None)],
        "id long, value double, tag string",
    )
    rules = {
        "value_positive": F.col("value") > 0,
        "tag_known": F.col("tag").isin("a", "b"),
    }
    valid, quarantine = split_valid(df, rules)
    v_ids = sorted(r.id for r in valid.collect())
    assert v_ids == [1]
    q = {r.id: sorted(r.violated_rules) for r in quarantine.collect()}
    assert q == {
        2: ["value_positive"],
        3: ["value_positive"],  # NULL value -> violation
        4: ["tag_known"],  # NULL tag -> violation
    }
    m = expectation_metrics(df, rules).toPandas().set_index("rule")
    assert int(m.loc["value_positive", "n_violations"]) == 2
    assert int(m.loc["tag_known", "n_violations"]) == 1
    assert (m["n_rows"] == 4).all()


def test_snapshot_diff_change_types_and_null_safety(spark):
    """insert/delete/update classified; unchanged rows absent;
    null->value is a change, null->null is not; a column only in the
    new snapshot is ignored (schema drift never false-positives)."""
    from gas_data_pipeline_spark.pipeline.diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, "c", 30.0), (4, None, 40.0)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(2, "b", None), (3, "c", 31.0), (4, "x", 40.0), (5, "e", 50.0)],
        "k long, s string, v double",
    ).withColumn("extra", F.lit("drift"))
    got = {
        r.k: (r.change_type, r.n_changed_cols)
        for r in snapshot_diff(old, new, ["k"]).collect()
    }
    assert got == {
        1: ("delete", 0),
        3: ("update", 1),
        4: ("update", 1),  # null -> 'x' IS a change
        5: ("insert", 0),
    }  # 2 unchanged (null == null under eqNullSafe) and absent


def test_referential_integrity_audit_nulls_not_orphans(spark):
    from gas_data_pipeline_spark.pipeline.expectations import (
        referential_integrity_audit,
    )

    parent = spark.createDataFrame([(1,), (2,)], "pk long")
    child = spark.createDataFrame(
        [(1,), (2,), (2,), (9,), (None,)], "fk long"
    )
    row = referential_integrity_audit(
        [("e", child, "fk", parent, "pk")]
    ).collect()[0]
    assert (row.n_child, row.n_null_fk, row.n_orphans) == (5, 1, 1)
    assert row.orphan_rate == 0.2


def test_snapshot_diff_survives_column_named_present(spark):
    """A data column literally named 'present' must not collide with
    the join's presence markers."""
    from gas_data_pipeline_spark.pipeline.diff import snapshot_diff

    old = spark.createDataFrame([(1, True)], "k long, present boolean")
    new = spark.createDataFrame([(1, False)], "k long, present boolean")
    got = snapshot_diff(old, new, ["k"]).collect()
    assert [(r.k, r.change_type, r.n_changed_cols) for r in got] == [
        (1, "update", 1)
    ]


def test_referential_integrity_audit_rejects_empty_edges(spark):
    from gas_data_pipeline_spark.pipeline.expectations import (
        referential_integrity_audit,
    )

    with pytest.raises(ValueError, match="at least one edge"):
        referential_integrity_audit([])


def test_snapshot_delta_emits_signed_pairs(spark):
    """Hand-checkable delta feed: insert -> bare +1, delete -> bare -1,
    update -> (-1 old, +1 new) including a group-attribute change,
    unchanged -> nothing."""
    from gas_data_pipeline_spark.pipeline.diff import snapshot_delta

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0), (4, "b", 40.0)],
        "k bigint, g string, v double",
    )
    new = spark.createDataFrame(
        # 1 unchanged; 2 revalued; 3 migrates group b->c; 4 deleted; 5 inserted
        [(1, "a", 10.0), (2, "a", 25.0), (3, "c", 30.0), (5, "b", 50.0)],
        "k bigint, g string, v double",
    )
    got = {
        (r.k, r.sign, r.g, r.v)
        for r in snapshot_delta(old, new, ["k"], ["g", "v"]).collect()
    }
    assert got == {
        (2, -1, "a", 20.0),
        (2, 1, "a", 25.0),
        (3, -1, "b", 30.0),
        (3, 1, "c", 30.0),
        (4, -1, "b", 40.0),
        (5, 1, "b", 50.0),
    }


def test_apply_delta_to_rollup_matches_recompute(spark):
    """Maintained rollup == full recompute over the new snapshot, with
    null values (count moves, sum doesn't) and an emptied group that
    must vanish."""
    from pyspark.sql import functions as F
    from gas_data_pipeline_spark.pipeline.diff import (
        apply_delta_to_rollup,
        snapshot_delta,
    )

    old = spark.range(300).select(
        F.col("id").alias("k"),
        (F.col("id") % 5).cast("string").alias("g"),
        F.when(F.col("id") % 17 == 0, F.lit(None))
        .otherwise((F.col("id") % 89).cast("double"))
        .cast("decimal(10,2)")
        .alias("v"),
    )
    new = (
        old.filter((F.col("k") % 9 != 0) & (F.col("g") != "4"))  # deletes + emptied group
        .withColumn(
            "v",
            F.when(F.col("k") % 4 == 0, F.col("v") + 7).otherwise(F.col("v")),
        )
        .withColumn(
            "g", F.when(F.col("k") % 6 == 0, F.lit("migrated")).otherwise(F.col("g"))
        )
        .unionByName(
            spark.range(5).select(
                (F.col("id") + 1000).alias("k"),
                F.lit("fresh").alias("g"),
                F.lit(1.5).cast("decimal(10,2)").alias("v"),
            )
        )
    )
    rollup = old.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("v").alias("v")
    )
    deltas = snapshot_delta(old, new, ["k"], ["g", "v"])
    maintained = {
        (r.g, r.n_rows, r.v)
        for r in apply_delta_to_rollup(
            rollup, deltas, ["g"], ["v"], count_col="n_rows"
        ).collect()
    }
    recomputed = {
        (r.g, r.n_rows, r.v)
        for r in new.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("v").alias("v"))
        .collect()
    }
    assert maintained == recomputed
    assert not any(g == "4" for g, _, _ in maintained)  # emptied group gone


# ---------------------------------------------------------------------------
# Versioned silver store (pipeline/versioned.py): atomic publish,
# structural sharing, time travel, metadata pruning, vacuum.
# ---------------------------------------------------------------------------


def _vs_batch(spark, rows):
    return _obs_batch(spark, rows)


def test_versioned_upsert_semantics_match_silver(spark, scratch):
    """The silver merge's keys and tie-breaks through the versioned
    commit: conflict replaces, re-upsert is a no-op (published as
    version 3 with identical content)."""
    from gas_data_pipeline_spark.pipeline.versioned import (
        read_manifest,
        read_observations_versioned,
        upsert_observations_versioned,
    )

    t0 = "2024-01-01 00:00:00"
    up = lambda b: upsert_observations_versioned(  # noqa: E731
        spark, b, scratch, order_cols=["ingestion_time", "event_id"]
    )
    up(_vs_batch(spark, [("s1", t0, 1.0, "2024-01-01 01:00:00", 1)]))
    up(_vs_batch(spark, [("s1", t0, 2.0, "2024-01-01 02:00:00", 2)]))
    rows = read_observations_versioned(spark, scratch).collect()
    assert len(rows) == 1 and rows[0].value == 2.0
    up(_vs_batch(spark, [("s1", t0, 2.0, "2024-01-01 02:00:00", 2)]))
    rows = read_observations_versioned(spark, scratch).collect()
    assert len(rows) == 1 and rows[0].value == 2.0
    assert read_manifest(scratch)["version"] == 3


def test_versioned_commit_is_atomic_and_time_travels(spark, scratch):
    """An uncommitted version dir is invisible (the manifest rename IS
    the commit), and a pinned old version replays its snapshot."""
    from gas_data_pipeline_spark.pipeline.versioned import (
        read_observations_versioned,
        upsert_observations_versioned,
    )

    t0, t1 = "2024-01-01 00:00:00", "2024-01-02 00:00:00"
    upsert_observations_versioned(
        spark,
        _vs_batch(spark, [("s1", t0, 1.0, "2024-01-01 01:00:00", 1)]),
        scratch,
        order_cols=["ingestion_time", "event_id"],
    )
    # Simulate a writer crash mid-publish: data lands, manifest never
    # flips — readers must keep seeing version 1 exactly.
    rogue = os.path.join(scratch, "v2", "__pdate=2024-01-02")
    _vs_batch(spark, [("s9", t1, 9.0, "2024-01-02 01:00:00", 9)]).write.mode(
        "overwrite"
    ).parquet(rogue)
    seen = read_observations_versioned(spark, scratch).collect()
    assert [(r.series_id, r.value) for r in seen] == [("s1", 1.0)]
    # A real commit lands as version 2 (writer picks the next version
    # from the MANIFEST, not from stray dirs; its nonce-suffixed
    # staging dir never collides with the rogue leftovers, which stay
    # unreferenced until vacuum), and version 1 stays readable.
    upsert_observations_versioned(
        spark,
        _vs_batch(spark, [("s1", t0, 5.0, "2024-01-01 03:00:00", 3)]),
        scratch,
        order_cols=["ingestion_time", "event_id"],
    )
    assert read_observations_versioned(spark, scratch).collect()[0].value == 5.0
    old = read_observations_versioned(spark, scratch, version=1).collect()
    assert old[0].value == 1.0


def test_versioned_structural_sharing_and_pruning(spark, scratch):
    """An upsert touching one date leaves the other dates' manifest
    entries pointing at the OLD version dir (nothing copied forward),
    and a date-range read selects partitions at the manifest level."""
    from gas_data_pipeline_spark.pipeline.versioned import (
        read_manifest,
        read_observations_versioned,
        upsert_observations_versioned,
    )

    upsert_observations_versioned(
        spark,
        _vs_batch(
            spark,
            [
                ("s1", "2024-01-01 00:00:00", 1.0, "2024-01-01 01:00:00", 1),
                ("s1", "2024-01-02 00:00:00", 2.0, "2024-01-02 01:00:00", 2),
            ],
        ),
        scratch,
        order_cols=["ingestion_time", "event_id"],
    )
    upsert_observations_versioned(
        spark,
        _vs_batch(
            spark, [("s1", "2024-01-02 00:00:00", 20.0, "2024-01-02 02:00:00", 3)]
        ),
        scratch,
        order_cols=["ingestion_time", "event_id"],
    )
    parts = read_manifest(scratch)["partitions"]
    assert parts["2024-01-01"].startswith("v1-")  # shared, not rewritten
    assert parts["2024-01-02"].startswith("v2-")
    pruned = read_observations_versioned(
        spark, scratch, start="2024-01-02"
    ).collect()
    assert [(r.series_id, r.value) for r in pruned] == [("s1", 20.0)]


def test_versioned_schema_evolution_added_column_survives_sharing(spark, scratch):
    """A commit that ADDS a column must keep it visible in every later
    read, even though structural sharing mixes old-schema and
    new-schema version directories in one scan (round-11 self-review:
    the scan anchored its schema on whichever file listed first, so
    the added column silently vanished whenever an older shared
    partition won). The snapshot's schema is manifest metadata now:
    old files yield nulls for the added column, the pinned v1 read
    keeps v1's own schema, and a later commit WITHOUT the column must
    not un-evolve it."""
    from pyspark.sql import functions as F

    from gas_data_pipeline_spark.pipeline.versioned import (
        read_observations_versioned,
        upsert_observations_versioned,
    )

    up = lambda b: upsert_observations_versioned(  # noqa: E731
        spark, b, scratch, order_cols=["ingestion_time", "event_id"]
    )
    up(_vs_batch(spark, [("s1", "2024-01-01 00:00:00", 1.0, "2024-01-01 01:00:00", 1)]))
    # v2 adds quality_flag and touches a DIFFERENT date, so v1's
    # partition is shared into the v2 snapshot unrewritten.
    up(
        _vs_batch(
            spark, [("s2", "2024-02-01 00:00:00", 2.0, "2024-02-01 01:00:00", 2)]
        ).withColumn("quality_flag", F.lit("good"))
    )
    cur = read_observations_versioned(spark, scratch)
    assert "quality_flag" in cur.columns
    got = {(r.series_id, r.quality_flag) for r in cur.collect()}
    assert got == {("s1", None), ("s2", "good")}
    # The pinned v1 snapshot replays v1's OWN schema — no column from
    # the future.
    assert "quality_flag" not in read_observations_versioned(
        spark, scratch, version=1
    ).columns
    # v3 without the column (a third date): the table schema stays
    # evolved — schema evolution is monotone across commits that
    # simply don't mention the column.
    up(_vs_batch(spark, [("s3", "2024-03-01 00:00:00", 3.0, "2024-03-01 01:00:00", 3)]))
    v3 = read_observations_versioned(spark, scratch)
    assert "quality_flag" in v3.columns
    got = {(r.series_id, r.quality_flag) for r in v3.collect()}
    assert got == {("s1", None), ("s2", "good"), ("s3", None)}
    # The declared schema must not record stricter nullability than a
    # read can honor: the column came from a non-nullable literal, but
    # it IS null on every shared pre-evolution partition.
    from gas_data_pipeline_spark.pipeline.versioned import read_manifest

    fields = read_manifest(scratch)["schema"]["fields"]
    assert all(f["nullable"] for f in fields)
    # Null-predicate semantics over the evolved column stay correct.
    assert v3.filter(F.col("quality_flag").isNull()).count() == 2
    assert v3.filter(F.col("quality_flag").isNotNull()).count() == 1


def test_versioned_upsert_merge_survives_mixed_schema_partitions(spark, scratch):
    """The upsert's existing-partitions read must run under the
    manifest's DECLARED schema, exactly like delete/compact/read
    (ADVICE r12 medium): after a schema-evolving commit the affected
    partitions live in version dirs with DIFFERENT file schemas, and a
    bare file-anchored read (mergeSchema=false) anchors on one file's
    schema — the evolved column, present only in some dirs, silently
    drops out of the merge and surviving rows are rewritten WITHOUT
    its values (later reads return null: silent data loss)."""
    from pyspark.sql import functions as F

    from gas_data_pipeline_spark.pipeline.versioned import (
        read_observations_versioned,
        upsert_observations_versioned,
    )

    up = lambda b: upsert_observations_versioned(  # noqa: E731
        spark, b, scratch, order_cols=["ingestion_time", "event_id"]
    )
    # v1: two dates under the base schema.
    up(
        _vs_batch(
            spark,
            [
                ("sA", "2024-01-01 00:00:00", 1.0, "2024-01-01 01:00:00", 1),
                ("sB", "2024-01-02 00:00:00", 2.0, "2024-01-02 01:00:00", 2),
            ],
        )
    )
    # v2: evolve quality_flag, rewriting ONLY the first date — the
    # second date stays structurally shared at v1's pre-evolution
    # file schema.
    up(
        _vs_batch(
            spark, [("sA", "2024-01-01 00:00:00", 1.5, "2024-01-01 02:00:00", 3)]
        ).withColumn("quality_flag", F.lit("good"))
    )
    # v3: a flag-less upsert touching BOTH dates at NEW times — the
    # merge must union the batch with one evolved and one
    # pre-evolution partition and keep sA's surviving flag value.
    up(
        _vs_batch(
            spark,
            [
                ("sA", "2024-01-01 06:00:00", 7.0, "2024-01-01 07:00:00", 4),
                ("sB", "2024-01-02 06:00:00", 8.0, "2024-01-02 07:00:00", 5),
            ],
        )
    )
    got = {
        (r.series_id, float(r.value), r.quality_flag)
        for r in read_observations_versioned(spark, scratch).collect()
    }
    assert got == {
        ("sA", 1.5, "good"),  # the evolved value SURVIVES the merge
        ("sA", 7.0, None),
        ("sB", 2.0, None),
        ("sB", 8.0, None),
    }


def test_versioned_vacuum_retention_wider_than_history_keeps_all(spark, scratch):
    """retain_last_n larger than the existing history must retain ALL
    of it — the unclamped slice start went negative and Python-wrapped
    (3 historical versions with retain_last_n=5 kept only the newest),
    expiring manifests and reclaiming dirs INSIDE the requested
    retention window (ADVICE r12 low)."""
    from gas_data_pipeline_spark.pipeline.versioned import (
        read_observations_versioned,
        upsert_observations_versioned,
        vacuum,
    )

    t0 = "2024-01-01 00:00:00"
    for i in range(1, 5):  # versions 1..4 rewrite the same date
        upsert_observations_versioned(
            spark,
            _vs_batch(spark, [("s1", t0, float(i), f"2024-01-01 0{i}:00:00", i)]),
            scratch,
            order_cols=["ingestion_time", "event_id"],
        )
    # Window of 5 > (1 current + 3 historical): nothing may expire,
    # even with min_age_seconds=0.
    gone = vacuum(scratch, retain_last_n=5, min_age_seconds=0)
    assert gone == []
    for v, want in ((1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0)):
        rows = read_observations_versioned(spark, scratch, version=v).collect()
        assert [r.value for r in rows] == [want]


def test_versioned_schema_collision_widening_and_refusal(spark, scratch):
    """ADVICE r11 (medium): on a name collision with a differing type
    the manifest must keep the WIDER type when the two sit in a
    scan-time widening chain, and REFUSE the commit otherwise. A
    commit touching only non-overlapping partitions never runs the
    unionByName promotion, so 'new field wins' unconditionally would
    publish e.g. a long->double manifest the structurally-shared older
    parquet files cannot be read under."""
    import pytest
    from pyspark.sql import functions as F

    from gas_data_pipeline_spark.pipeline.versioned import (
        SchemaEvolutionError,
        read_manifest,
        read_observations_versioned,
        upsert_observations_versioned,
    )

    up = lambda b: upsert_observations_versioned(  # noqa: E731
        spark, b, scratch, order_cols=["ingestion_time", "event_id"]
    )
    # v1: extra declared INT, on date 1.
    up(
        _vs_batch(
            spark, [("s1", "2024-01-01 00:00:00", 1.0, "2024-01-01 01:00:00", 1)]
        ).withColumn("extra", F.lit(7).cast("int"))
    )
    assert {
        f["name"]: f["type"] for f in read_manifest(scratch)["schema"]["fields"]
    }["extra"] == "integer"
    # v2: extra as LONG on a DIFFERENT date (no union with v1's files):
    # the manifest must widen to long, and the mixed-directory read
    # must upcast v1's int files under the declared long.
    up(
        _vs_batch(
            spark, [("s2", "2024-02-01 00:00:00", 2.0, "2024-02-01 01:00:00", 2)]
        ).withColumn("extra", F.lit(9).cast("long"))
    )
    assert {
        f["name"]: f["type"] for f in read_manifest(scratch)["schema"]["fields"]
    }["extra"] == "long"
    got = {(r.series_id, r.extra) for r in read_observations_versioned(
        spark, scratch
    ).collect()}
    assert got == {("s1", 7), ("s2", 9)}
    # v3: extra back to INT (narrower, third date): the declared type
    # must STAY long — the new narrower files read fine under it.
    up(
        _vs_batch(
            spark, [("s3", "2024-03-01 00:00:00", 3.0, "2024-03-01 01:00:00", 3)]
        ).withColumn("extra", F.lit(11).cast("int"))
    )
    assert {
        f["name"]: f["type"] for f in read_manifest(scratch)["schema"]["fields"]
    }["extra"] == "long"
    got = {(r.series_id, r.extra) for r in read_observations_versioned(
        spark, scratch
    ).collect()}
    assert got == {("s1", 7), ("s2", 9), ("s3", 11)}
    # v4: extra as STRING (off every widening chain) — the commit must
    # be REFUSED, leaving the table at v3 with the long schema.
    with pytest.raises(SchemaEvolutionError):
        up(
            _vs_batch(
                spark,
                [("s4", "2024-04-01 00:00:00", 4.0, "2024-04-01 01:00:00", 4)],
            ).withColumn("extra", F.lit("oops"))
        )
    m = read_manifest(scratch)
    assert m["version"] == 3
    assert {f["name"]: f["type"] for f in m["schema"]["fields"]}["extra"] == "long"


def test_versioned_wider_type_resolution_table():
    """The widening-chain resolver behind schema evolution: wider side
    wins inside a chain (either direction of declaration), decimals
    grow precision at fixed scale only, everything off-chain is
    incompatible (None)."""
    from gas_data_pipeline_spark.pipeline.versioned import _wider_type

    assert _wider_type("integer", "long") == "long"
    assert _wider_type("long", "integer") == "long"
    assert _wider_type("byte", "integer") == "integer"
    assert _wider_type("float", "double") == "double"
    assert _wider_type("double", "float") == "double"
    assert _wider_type("decimal(10,2)", "decimal(18,2)") == "decimal(18,2)"
    assert _wider_type("decimal(18,2)", "decimal(10,2)") == "decimal(18,2)"
    assert _wider_type("string", "string") == "string"
    # Off-chain: narrowed scale, long->double, string->long, complex.
    assert _wider_type("decimal(10,2)", "decimal(18,4)") is None
    assert _wider_type("long", "double") is None
    assert _wider_type("string", "long") is None
    assert _wider_type({"type": "array", "elementType": "long"}, "long") is None


def test_versioned_stats_prune_skips_nonmatching_partitions(spark, scratch):
    """VERDICT r11 #2: manifest entries carry per-partition min/max
    for the business keys (collected from parquet FOOTERS at commit),
    and a series-filtered read prunes non-matching partitions before
    any file listing — pinned by inputFiles. Absent stats degrade to
    no pruning; the row filter still applies, so results are exact
    either way."""
    from gas_data_pipeline_spark.pipeline.versioned import (
        read_manifest,
        read_observations_versioned,
        upsert_observations_versioned,
    )

    up = lambda b: upsert_observations_versioned(  # noqa: E731
        spark, b, scratch, order_cols=["ingestion_time", "event_id"]
    )
    # Two dates with disjoint series ranges: A_* on Jan, B_* on Feb.
    up(
        _vs_batch(
            spark,
            [
                ("A_1", "2024-01-01 00:00:00", 1.0, "2024-01-01 01:00:00", 1),
                ("A_9", "2024-01-01 02:00:00", 2.0, "2024-01-01 03:00:00", 2),
            ],
        )
    )
    up(
        _vs_batch(
            spark,
            [
                ("B_1", "2024-02-01 00:00:00", 3.0, "2024-02-01 01:00:00", 3),
                ("B_9", "2024-02-01 02:00:00", 4.0, "2024-02-01 03:00:00", 4),
            ],
        )
    )
    m = read_manifest(scratch)
    assert m["stats"]["2024-01-01"]["series_id"] == ["A_1", "A_9"]
    assert m["stats"]["2024-02-01"]["series_id"] == ["B_1", "B_9"]
    # A read filtered to an A-series must list ONLY the Jan partition.
    df = read_observations_versioned(spark, scratch, series_ids="A_9")
    files = df.inputFiles()
    assert files and all("__pdate=2024-01-01" in f for f in files)
    assert {r.series_id for r in df.collect()} == {"A_9"}
    # Multiple ids spanning both ranges keep both partitions.
    df = read_observations_versioned(spark, scratch, series_ids=["A_1", "B_1"])
    assert {r.series_id for r in df.collect()} == {"A_1", "B_1"}
    assert len({f.split("/__pdate=")[1][:10] for f in df.inputFiles()}) == 2
    # An id outside every range prunes EVERYTHING at the metadata
    # level: empty result, no partition listed.
    df = read_observations_versioned(spark, scratch, series_ids="Z_0")
    assert df.count() == 0
    # Partition stats gone but FILE stats present (both recorded at
    # commit since r13): the file grain still prunes Feb entirely.
    import json as _json

    m2 = dict(m)
    m2.pop("stats")
    with open(os.path.join(scratch, "manifest.json"), "w") as fh:
        _json.dump(m2, fh)
    df = read_observations_versioned(spark, scratch, series_ids="A_9")
    assert {r.series_id for r in df.collect()} == {"A_9"}
    assert all("__pdate=2024-01-01" in f for f in df.inputFiles())
    # Stats-less manifest at BOTH grains (pre-stats store): pruning
    # degrades to the row filter — same rows, both partitions listed.
    # (fs_shards are the sharded home of the file grain now — a truly
    # pre-stats manifest has neither the inline dict nor the refs.)
    m2.pop("file_stats")
    m2.pop("fs_shards", None)
    with open(os.path.join(scratch, "manifest.json"), "w") as fh:
        _json.dump(m2, fh)
    df = read_observations_versioned(spark, scratch, series_ids="A_9")
    assert {r.series_id for r in df.collect()} == {"A_9"}
    assert len({f.split("/__pdate=")[1][:10] for f in df.inputFiles()}) == 2


def test_versioned_stats_parallel_job_matches_serial_reader(spark, scratch):
    """VERDICT r12 #3: commit-time stats collection moved off the
    driver into one parallelized footer job. The job must produce
    values IDENTICAL to the serial reference reader on every manifest
    partition (shared per-file kernel), the commit-recorded stats must
    equal both, and degenerate inputs (garbage parquet, empty dir,
    missing dir) must degrade to no-stats exactly like the serial
    path."""
    import os

    from gas_data_pipeline_spark.pipeline.versioned import (
        _collect_stats,
        _partition_stats,
        read_manifest,
        upsert_observations_versioned,
    )

    # Multi-date, multi-file commit (maxRecordsPerFile forces several
    # files per partition so the merge path actually merges).
    key = "spark.sql.files.maxRecordsPerFile"
    old = spark.conf.get(key, "0")
    spark.conf.set(key, "2")
    try:
        upsert_observations_versioned(
            spark,
            _vs_batch(
                spark,
                [
                    (f"s{i}", f"2024-01-0{1 + i % 3} 0{i}:00:00", float(i),
                     f"2024-01-0{1 + i % 3} 12:00:00", i)
                    for i in range(9)
                ],
            ),
            scratch,
            order_cols=["ingestion_time", "event_id"],
        )
    finally:
        spark.conf.set(key, old)
    m = read_manifest(scratch)
    pdirs = {d: os.path.join(scratch, rel) for d, rel in m["partitions"].items()}
    assert len(pdirs) == 3
    serial = {d: _partition_stats(p) for d, p in pdirs.items()}
    # Pin BOTH adaptive paths against the serial reference: the
    # local fast path (threshold above the file count) and the real
    # Spark job (threshold forced to 0).
    from gas_data_pipeline_spark.pipeline import versioned as _v

    old_max = _v._STATS_LOCAL_MAX
    try:
        _v._STATS_LOCAL_MAX = 10**9
        assert _collect_stats(spark, pdirs)[0] == serial
        _v._STATS_LOCAL_MAX = 0
        assert _collect_stats(spark, pdirs)[0] == serial
    finally:
        _v._STATS_LOCAL_MAX = old_max
    assert m["stats"] == {d: s for d, s in serial.items() if s}
    # series_id bounds actually recorded (not vacuously equal-empty).
    assert all("series_id" in s for s in serial.values())
    # Degenerate inputs: a garbage file disqualifies its partition the
    # same way in both readers; empty/missing dirs yield no entry.
    bad_dir = os.path.join(scratch, "bad_part")
    os.makedirs(bad_dir)
    with open(os.path.join(bad_dir, "junk.parquet"), "wb") as fh:
        fh.write(b"not a parquet file")
    empty_dir = os.path.join(scratch, "empty_part")
    os.makedirs(empty_dir)
    assert _partition_stats(bad_dir) == {}
    got = _collect_stats(
        spark,
        {"bad": bad_dir, "empty": empty_dir, "gone": os.path.join(scratch, "nope")},
    )[0]
    assert got.get("bad") == {} and "empty" not in got and "gone" not in got


def test_versioned_time_bounds_prune_below_date_grain(spark, scratch):
    """VERDICT r12 #4: manifest stats record observation_time min/max
    per partition (fixed-width UTC strings), so a SUB-DAY range read
    prunes boundary-day partitions whose recorded time span doesn't
    overlap the window — the missing half of the reference's B-tree on
    (series_id, observation_time). Pinned by inputFiles; absent bounds
    degrade to date-grain pruning only, and the row filter keeps
    results exact either way."""
    from gas_data_pipeline_spark.pipeline.versioned import (
        read_manifest,
        read_observations_versioned,
        upsert_observations_versioned,
    )

    upsert_observations_versioned(
        spark,
        _vs_batch(
            spark,
            [
                ("s1", "2024-01-01 06:00:00", 1.0, "2024-01-01 12:00:00", 1),
                ("s2", "2024-01-01 08:00:00", 2.0, "2024-01-01 12:00:00", 2),
                ("s1", "2024-01-02 00:00:00", 3.0, "2024-01-02 12:00:00", 3),
                ("s2", "2024-01-02 02:00:00", 4.0, "2024-01-02 12:00:00", 4),
            ],
        ),
        scratch,
        order_cols=["ingestion_time", "event_id"],
    )
    m = read_manifest(scratch)
    assert m["stats"]["2024-01-01"]["observation_time"] == [
        "2024-01-01 06:00:00.000000",
        "2024-01-01 08:00:00.000000",
    ]
    # start past Jan 1's recorded max: the Jan 1 partition is skipped
    # BEFORE file listing even though date-grain pruning keeps it.
    df = read_observations_versioned(spark, scratch, start="2024-01-01 12:00:00")
    files = df.inputFiles()
    assert files and all("__pdate=2024-01-02" in f for f in files)
    assert {r.value for r in df.collect()} == {3.0, 4.0}
    # end before Jan 1's recorded min: every partition pruned, empty
    # result without reading anything.
    df = read_observations_versioned(spark, scratch, end="2024-01-01 03:00:00")
    assert df.count() == 0
    # A window overlapping Jan 1 keeps it; the row filter trims inside.
    df = read_observations_versioned(spark, scratch, start="2024-01-01 07:00:00")
    assert {r.value for r in df.collect()} == {2.0, 3.0, 4.0}
    # datetime-object bounds normalize identically to strings.
    from datetime import datetime

    df = read_observations_versioned(
        spark, scratch, start=datetime(2024, 1, 1, 12, 0, 0)
    )
    assert {r.value for r in df.collect()} == {3.0, 4.0}
    # Bound-less stats at BOTH grains (pre-micros store): time pruning
    # degrades to date grain, rows stay exact.
    import json as _json

    def _no_time(stats_map):
        return {
            d: {k: v for k, v in s.items() if k != "observation_time"}
            for d, s in stats_map.items()
        }

    m2 = dict(m)
    m2["stats"] = _no_time(m["stats"])
    m2["file_stats"] = {
        d: _no_time(per_file) for d, per_file in m["file_stats"].items()
    }
    with open(os.path.join(scratch, "manifest.json"), "w") as fh:
        _json.dump(m2, fh)
    df = read_observations_versioned(spark, scratch, start="2024-01-01 12:00:00")
    assert {r.value for r in df.collect()} == {3.0, 4.0}
    assert len({f.split("/__pdate=")[1][:10] for f in df.inputFiles()}) == 2


def test_publish_version_stats_carry_forward_only_unchanged(spark, scratch):
    """publish_version(stats=None) carries stats forward ONLY for
    partitions whose directory entry is unchanged: a direct caller
    that repointed a partition must not inherit bounds the new files
    may violate (stale stats would misprune — silent data loss)."""
    from gas_data_pipeline_spark.pipeline.versioned import (
        publish_version,
        read_manifest,
        upsert_observations_versioned,
    )

    upsert_observations_versioned(
        spark,
        _vs_batch(
            spark,
            [
                ("A_1", "2024-01-01 00:00:00", 1.0, "2024-01-01 01:00:00", 1),
                ("B_1", "2024-02-01 00:00:00", 2.0, "2024-02-01 01:00:00", 2),
            ],
        ),
        scratch,
        order_cols=["ingestion_time", "event_id"],
    )
    m1 = read_manifest(scratch)
    assert set(m1["stats"]) == {"2024-01-01", "2024-02-01"}
    # Repoint Feb at a different dir (simulating a direct rewrite),
    # keep Jan as-is; publish without stats.
    parts = dict(m1["partitions"])
    parts["2024-02-01"] = parts["2024-02-01"].replace("v1-", "v9-")
    publish_version(scratch, 2, parts, schema=None, stats=None)
    m2 = read_manifest(scratch)
    assert "2024-01-01" in m2.get("stats", {})  # unchanged entry: kept
    assert "2024-02-01" not in m2.get("stats", {})  # repointed: dropped


def test_publish_version_schema_none_carries_forward(spark, scratch):
    """ADVICE r11 (low): publish_version(schema=None) — the public
    commit API used by the cross-process race worker — must carry the
    current manifest's schema forward, not drop the key and revert
    readers to the file-anchored scan."""
    from gas_data_pipeline_spark.pipeline.versioned import (
        publish_version,
        read_manifest,
        upsert_observations_versioned,
    )

    upsert_observations_versioned(
        spark,
        _vs_batch(spark, [("s1", "2024-01-01 00:00:00", 1.0, "2024-01-01 01:00:00", 1)]),
        scratch,
        order_cols=["ingestion_time", "event_id"],
    )
    m1 = read_manifest(scratch)
    assert m1.get("schema") is not None
    publish_version(scratch, 2, dict(m1["partitions"]), schema=None)
    m2 = read_manifest(scratch)
    assert m2["version"] == 2
    assert m2["schema"] == m1["schema"]


def test_versioned_changelog_reads_only_churned_partitions(spark, scratch):
    """Changelog between snapshots prunes at the MANIFEST level: a
    partition whose entry is identical in both versions is structurally
    shared (same immutable dir) and must never be listed or read — the
    Iceberg incremental-scan contract. Only the churned date's files
    may appear among the scan's input files."""
    from gas_data_pipeline_spark.pipeline.versioned import (
        changelog_versioned,
        upsert_observations_versioned,
    )

    up = lambda b: upsert_observations_versioned(  # noqa: E731
        spark, b, scratch, order_cols=["ingestion_time", "event_id"]
    )
    up(
        _vs_batch(
            spark,
            [
                ("s1", "2024-01-01 00:00:00", 1.0, "2024-01-01 01:00:00", 1),
                ("s2", "2024-01-02 00:00:00", 2.0, "2024-01-02 01:00:00", 2),
            ],
        )
    )
    # v2 touches only 2024-01-01: one in-place update, one new key.
    up(
        _vs_batch(
            spark,
            [
                ("s1", "2024-01-01 00:00:00", 5.0, "2024-01-01 02:00:00", 3),
                ("s3", "2024-01-01 06:00:00", 7.0, "2024-01-01 02:00:00", 4),
            ],
        )
    )
    cl = changelog_versioned(spark, scratch, 1, 2)
    rows = {(r.series_id, r.change_type, r.n_changed_cols) for r in cl.collect()}
    # s1: value, ingestion_time, event_id moved (obs_date did not) -> 3.
    assert rows == {("s1", "update", 3), ("s3", "insert", 0)}
    files = cl.inputFiles()
    assert files and all("__pdate=2024-01-01" in f for f in files)
    # The untouched 2024-01-02 partition never enters the scan.
    assert not any("__pdate=2024-01-02" in f for f in files)


def test_versioned_changelog_empty_current_and_missing(spark, scratch):
    """Identical versions produce an empty changelog (schema intact),
    to_version=None resolves the current snapshot, and a missing or
    vacuumed version fails like a pinned time-travel read."""
    import pytest as _pytest

    from gas_data_pipeline_spark.pipeline.versioned import (
        changelog_versioned,
        upsert_observations_versioned,
    )

    upsert_observations_versioned(
        spark,
        _vs_batch(spark, [("s1", "2024-01-01 00:00:00", 1.0, "2024-01-01 01:00:00", 1)]),
        scratch,
        order_cols=["ingestion_time", "event_id"],
    )
    upsert_observations_versioned(
        spark,
        _vs_batch(spark, [("s1", "2024-01-01 00:00:00", 2.0, "2024-01-01 02:00:00", 2)]),
        scratch,
        order_cols=["ingestion_time", "event_id"],
    )
    empty = changelog_versioned(spark, scratch, 2, 2)
    assert empty.count() == 0
    assert set(empty.columns) == {
        "series_id",
        "observation_time",
        "change_type",
        "n_changed_cols",
    }
    explicit = {
        (r.series_id, r.change_type) for r in changelog_versioned(spark, scratch, 1, 2).collect()
    }
    current = {
        (r.series_id, r.change_type) for r in changelog_versioned(spark, scratch, 1).collect()
    }
    assert explicit == current == {("s1", "update")}
    with _pytest.raises(FileNotFoundError):
        changelog_versioned(spark, scratch, 1, 99)


def test_versioned_changelog_empty_store_raises(spark, scratch):
    """An empty FIRST batch commits a partitionless manifest; a
    changelog over two such snapshots has no anchor file to borrow a
    schema from and must fail like a read of an empty store — not
    with a bare StopIteration."""
    import pytest as _pytest

    from gas_data_pipeline_spark.pipeline.versioned import (
        changelog_versioned,
        upsert_observations_versioned,
    )

    empty = _vs_batch(
        spark, [("s1", "2024-01-01 00:00:00", 1.0, "2024-01-01 01:00:00", 1)]
    ).limit(0)
    upsert_observations_versioned(
        spark, empty, scratch, order_cols=["ingestion_time", "event_id"]
    )
    upsert_observations_versioned(
        spark, empty, scratch, order_cols=["ingestion_time", "event_id"]
    )
    with _pytest.raises(FileNotFoundError):
        changelog_versioned(spark, scratch, 1, 2)


def test_versioned_vacuum_keeps_referenced_versions(spark, scratch):
    """vacuum deletes only version dirs no current-manifest entry
    references; a partially-superseded version survives."""
    from gas_data_pipeline_spark.pipeline.versioned import (
        read_observations_versioned,
        upsert_observations_versioned,
        vacuum,
    )

    upsert_observations_versioned(
        spark,
        _vs_batch(
            spark,
            [
                ("s1", "2024-01-01 00:00:00", 1.0, "2024-01-01 01:00:00", 1),
                ("s1", "2024-01-02 00:00:00", 2.0, "2024-01-02 01:00:00", 2),
            ],
        ),
        scratch,
        order_cols=["ingestion_time", "event_id"],
    )
    upsert_observations_versioned(
        spark,
        _vs_batch(
            spark, [("s1", "2024-01-02 00:00:00", 20.0, "2024-01-02 02:00:00", 3)]
        ),
        scratch,
        order_cols=["ingestion_time", "event_id"],
    )
    # v1 still owns 2024-01-01, so NO data dir is reclaimable; v1's
    # January SHARD was superseded by v2's rewrite (sharded manifests
    # structurally share by month, and this month was touched), so
    # only that metadata file goes.
    gone = vacuum(scratch, min_age_seconds=0)
    assert [g for g in gone if not g.startswith("shards/")] == []
    upsert_observations_versioned(
        spark,
        _vs_batch(
            spark, [("s1", "2024-01-01 00:00:00", 10.0, "2024-01-01 02:00:00", 4)]
        ),
        scratch,
        order_cols=["ingestion_time", "event_id"],
    )
    gone = [
        g for g in vacuum(scratch, min_age_seconds=0)
        if not g.startswith("shards/")
    ]  # fully superseded now
    assert len(gone) == 1 and gone[0].startswith("v1-")
    rows = {
        (r.series_id, str(r.observation_time)): r.value
        for r in read_observations_versioned(spark, scratch).collect()
    }
    assert rows[("s1", "2024-01-01 00:00:00")] == 10.0
    assert rows[("s1", "2024-01-02 00:00:00")] == 20.0


def test_versioned_concurrent_commit_fenced(spark, scratch):
    """Optimistic-concurrency fence: a writer that merged against a
    stale manifest must REFUSE to publish (committing would silently
    drop the interleaved writer's rows), and the store keeps the
    interleaved commit intact."""
    from unittest.mock import patch

    import gas_data_pipeline_spark.pipeline.versioned as V

    t0 = "2024-01-01 00:00:00"
    V.upsert_observations_versioned(
        spark,
        _vs_batch(spark, [("s1", t0, 1.0, "2024-01-01 01:00:00", 1)]),
        scratch,
        order_cols=["ingestion_time", "event_id"],
    )
    real = V.read_manifest
    state = {"raced": False}

    def racy(root, version=None, **kw):
        m = real(root, version, **kw)
        # First manifest read of the losing writer: interleave a
        # competing commit AFTER the snapshot is taken.
        if version is None and not state["raced"]:
            state["raced"] = True
            V.upsert_observations_versioned(
                spark,
                _vs_batch(
                    spark, [("s2", t0, 7.0, "2024-01-01 01:30:00", 5)]
                ),
                scratch,
                order_cols=["ingestion_time", "event_id"],
            )
        return m

    with patch.object(V, "read_manifest", side_effect=racy):
        with pytest.raises(RuntimeError, match="concurrent commit"):
            V.upsert_observations_versioned(
                spark,
                _vs_batch(
                    spark, [("s1", t0, 3.0, "2024-01-01 02:00:00", 9)]
                ),
                scratch,
                order_cols=["ingestion_time", "event_id"],
            )
    rows = {
        r.series_id: r.value
        for r in V.read_observations_versioned(spark, scratch).collect()
    }
    assert rows == {"s1": 1.0, "s2": 7.0}  # winner's rows intact


def test_versioned_null_time_rows_stay_readable(spark, scratch):
    """Parity with the plain upsert's contract: a null
    observation_time row lands in Hive's default partition AND the
    manifest references it, so an unfiltered snapshot read returns it
    (a time-range read drops it in both engines via the row filter)."""
    from gas_data_pipeline_spark.pipeline.versioned import (
        read_manifest,
        read_observations_versioned,
        upsert_observations_versioned,
    )

    rows = spark.createDataFrame(
        [
            ("s1", None, 1.0, "2024-01-01 01:00:00", 1),
            ("s2", "2024-01-01 00:00:00", 2.0, "2024-01-01 01:00:00", 2),
        ],
        "series_id string, observation_time string, value double, "
        "ingestion_time string, event_id long",
    ).selectExpr(
        "series_id",
        "CAST(observation_time AS TIMESTAMP) AS observation_time",
        "value",
        "CAST(ingestion_time AS TIMESTAMP) AS ingestion_time",
        "event_id",
    )
    upsert_observations_versioned(
        spark, rows, scratch, order_cols=["ingestion_time", "event_id"]
    )
    parts = read_manifest(scratch)["partitions"]
    assert "__HIVE_DEFAULT_PARTITION__" in parts
    got = {
        r.series_id: r.value
        for r in read_observations_versioned(spark, scratch).collect()
    }
    assert got == {"s1": 1.0, "s2": 2.0}
    ranged = read_observations_versioned(
        spark, scratch, start="2024-01-01"
    ).collect()
    assert {r.series_id for r in ranged} == {"s2"}


def test_versioned_first_commit_takes_dates_from_its_write(spark, tmp_path):
    """On an empty store the upsert neither caches the batch nor scans
    it for its dates: the commit lists them from the staged version's
    ``__pdate=`` directories. It runs fewer jobs than the same commit
    with the date-discovery scan, and publishes the same partitions
    map, stats and rows, a null observation_time under Hive's default
    partition included."""
    from gas_data_pipeline_spark.pipeline import versioned
    from gas_data_pipeline_spark.pipeline.silver import (
        PARTITION_COL,
        merge_last_write_wins,
    )

    rows = spark.createDataFrame(
        [
            ("s1", None, 1.0, "2024-01-01 01:00:00"),
            ("s2", "2024-01-01 00:00:00", 2.0, "2024-01-01 01:00:00"),
            ("s2", "2024-01-01 00:00:00", 2.5, "2024-01-01 02:00:00"),
            ("s3", "2024-01-02 05:00:00", 3.0, "2024-01-01 01:00:00"),
        ],
        "series_id string, observation_time string, value double, "
        "ingestion_time string",
    ).selectExpr(
        "series_id",
        "CAST(observation_time AS TIMESTAMP) AS observation_time",
        "value",
        "CAST(ingestion_time AS TIMESTAMP) AS ingestion_time",
    )
    sc = spark.sparkContext

    def jobs(group, commit):
        sc.setJobGroup(group, "count the jobs of a first commit")
        try:
            commit()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    listed_root = str(tmp_path / "listed")
    scanned_root = str(tmp_path / "scanned")
    n_listed = jobs(
        "first-commit-listed",
        lambda: versioned.upsert_observations_versioned(spark, rows, listed_root),
    )

    def scanned_commit():
        os.makedirs(scanned_root)
        batch = rows.withColumn(PARTITION_COL, F.to_date("observation_time")).persist()
        try:
            dates = versioned._touched_dates(batch)
            merged = merge_last_write_wins(batch, None, ["ingestion_time"])
            return versioned._rewrite_commit(spark, scanned_root, None, merged, dates)
        finally:
            batch.unpersist()

    n_scanned = jobs("first-commit-scanned", scanned_commit)
    assert n_listed <= n_scanned - 1, (n_listed, n_scanned)

    def shape(root):
        m = versioned.read_manifest(root)
        return (
            {d: rel.split("/", 1)[1] for d, rel in m["partitions"].items()},
            m["stats"],
            {d: sorted(map(json.dumps, fs.values())) for d, fs in m["file_stats"].items()},
            m["schema"],
        )

    assert shape(listed_root) == shape(scanned_root)
    assert set(shape(listed_root)[0]) == {
        "2024-01-01", "2024-01-02", "__HIVE_DEFAULT_PARTITION__"
    }
    got = sorted(
        (r.series_id, r.value)
        for r in versioned.read_observations_versioned(spark, listed_root).collect()
    )
    assert got == [("s1", 1.0), ("s2", 2.5), ("s3", 3.0)]


def test_versioned_vacuum_preserves_intact_history(spark, scratch):
    """Reclaiming an orphaned staging dir must not delete the
    historical manifest of a committed version whose data dirs are
    all intact (they can share a version NUMBER)."""
    import os

    from gas_data_pipeline_spark.pipeline.versioned import (
        read_observations_versioned,
        upsert_observations_versioned,
        vacuum,
    )

    t0 = "2024-01-01 00:00:00"
    up = lambda v: upsert_observations_versioned(  # noqa: E731
        spark,
        _vs_batch(spark, [("s1", t0, v, "2024-01-01 01:00:00", int(v))]),
        scratch,
        order_cols=["ingestion_time", "event_id"],
    )
    up(1.0)
    up(2.0)  # v2 committed; v1's dir now unreferenced by current
    # Orphan staging dir sharing v2's NUMBER (a fenced writer's leftovers).
    os.makedirs(os.path.join(scratch, "v2-deadbeef", "__pdate=2024-01-02"))
    gone = vacuum(scratch, min_age_seconds=0)
    assert any(g.startswith("v1-") for g in gone)
    assert "v2-deadbeef" in gone
    # v2's history manifest survives: its snapshot is fully intact.
    assert read_observations_versioned(spark, scratch, version=2).collect()[
        0
    ].value == 2.0


def test_versioned_vacuum_retention_protects_pinned_reads(spark, scratch):
    """VERDICT r10 #5: with ``retain_last_n=2`` a reader pinned on the
    previous snapshot survives vacuum — its dirs and its history
    manifest stay — while snapshots past the window are expired (which
    also bounds manifest-v*.json growth over thousands of commits)."""
    import os

    from gas_data_pipeline_spark.pipeline.versioned import (
        read_observations_versioned,
        upsert_observations_versioned,
        vacuum,
    )

    t0 = "2024-01-01 00:00:00"
    up = lambda val, ing: upsert_observations_versioned(  # noqa: E731
        spark,
        _vs_batch(spark, [("s1", t0, val, ing, int(val))]),
        scratch,
        order_cols=["ingestion_time", "event_id"],
    )
    up(1.0, "2024-01-01 01:00:00")
    up(2.0, "2024-01-01 02:00:00")
    up(3.0, "2024-01-01 03:00:00")  # current=v3; v1, v2 fully superseded
    gone = vacuum(scratch, retain_last_n=2, min_age_seconds=0)
    # v2 (the pinned previous snapshot) is untouched and readable...
    assert read_observations_versioned(spark, scratch, version=2).collect()[
        0
    ].value == 2.0
    # ...while v1's dir and history manifest are expired.
    assert any(g.startswith("v1-") for g in gone)
    assert not os.path.exists(os.path.join(scratch, "manifest-v1.json"))
    assert os.path.exists(os.path.join(scratch, "manifest-v2.json"))


def test_versioned_vacuum_spares_young_staging_dirs(spark, scratch):
    """ADVICE r10 (medium): staging happens OUTSIDE the commit lock,
    so vacuum must not reclaim a concurrent writer's freshly written
    v<N>-nonce dir before it publishes — ``min_age_seconds`` is the
    fence. The same dir IS reclaimed once aged past the threshold."""
    import os

    from gas_data_pipeline_spark.pipeline.versioned import (
        upsert_observations_versioned,
        vacuum,
    )

    upsert_observations_versioned(
        spark,
        _vs_batch(spark, [("s1", "2024-01-01 00:00:00", 1.0,
                           "2024-01-01 01:00:00", 1)]),
        scratch,
        order_cols=["ingestion_time", "event_id"],
    )
    inflight = os.path.join(scratch, "v2-aabbccdd")
    os.makedirs(os.path.join(inflight, "__pdate=2024-01-02"))
    assert vacuum(scratch) == []  # default min_age: in-flight dir safe
    assert os.path.isdir(inflight)
    old = __import__("time").time() - 7200
    os.utime(inflight, (old, old))
    gone = vacuum(scratch, min_age_seconds=3600)
    assert gone == ["v2-aabbccdd"]


def test_versioned_vacuum_tolerates_corrupt_history_manifest(spark, scratch):
    """ADVICE r10 (low): a truncated manifest-v<N>.json (pre-atomic-
    write crash artifact) must not make vacuum unrunnable — it is
    treated as a broken snapshot and expired, never propagated as a
    JSONDecodeError."""
    import os

    from gas_data_pipeline_spark.pipeline.versioned import (
        upsert_observations_versioned,
        vacuum,
    )

    t0 = "2024-01-01 00:00:00"
    for val, ing in ((1.0, "2024-01-01 01:00:00"), (2.0, "2024-01-01 02:00:00")):
        upsert_observations_versioned(
            spark,
            _vs_batch(spark, [("s1", t0, val, ing, int(val))]),
            scratch,
            order_cols=["ingestion_time", "event_id"],
        )
    with open(os.path.join(scratch, "manifest-v1.json"), "w") as fh:
        fh.write('{"version": 1, "partiti')  # truncated mid-write
    gone = vacuum(scratch, min_age_seconds=0)
    assert any(g.startswith("v1-") for g in gone)
    assert not os.path.exists(os.path.join(scratch, "manifest-v1.json"))


def test_versioned_vacuum_expires_corrupt_retained_manifest(spark, scratch):
    """Round-11 self-review: a corrupt history manifest INSIDE the
    retention window must be expired too — keeping it would poison
    every pinned read of that version with a JSONDecodeError until it
    aged out of the window, while the docstring promises broken
    snapshots are removed. Intact retained snapshots are unaffected."""
    import os

    from gas_data_pipeline_spark.pipeline.versioned import (
        read_observations_versioned,
        upsert_observations_versioned,
        vacuum,
    )

    t0 = "2024-01-01 00:00:00"
    for val, ing in (
        (1.0, "2024-01-01 01:00:00"),
        (2.0, "2024-01-01 02:00:00"),
        (3.0, "2024-01-01 03:00:00"),
    ):
        upsert_observations_versioned(
            spark,
            _vs_batch(spark, [("s1", t0, val, ing, int(val))]),
            scratch,
            order_cols=["ingestion_time", "event_id"],
        )
    with open(os.path.join(scratch, "manifest-v2.json"), "w") as fh:
        fh.write('{"version": 2, "partiti')  # truncated mid-write
    vacuum(scratch, retain_last_n=2, min_age_seconds=0)
    # The corrupt in-window snapshot is gone, not kept as a landmine...
    assert not os.path.exists(os.path.join(scratch, "manifest-v2.json"))
    # ...and the current snapshot still reads clean.
    assert read_observations_versioned(spark, scratch).collect()[0].value == 3.0


def test_versioned_vacuum_phantom_future_manifest_not_retained(spark, scratch):
    """Round-11 review: _commit_manifest writes manifest-v<N>.json
    BEFORE the live manifest, so a crash between the two leaves an
    orphan history manifest numbered ABOVE the live version. It must
    not occupy a retention slot — with retain_last_n=2 a phantom v5
    would evict the REAL previous snapshot from the window and let a
    pinned reader's dirs be reclaimed. The phantom is expired; the
    real previous snapshot stays readable."""
    import json
    import os

    from gas_data_pipeline_spark.pipeline.versioned import (
        read_observations_versioned,
        upsert_observations_versioned,
        vacuum,
    )

    t0 = "2024-01-01 00:00:00"
    for val, ing in ((1.0, "2024-01-01 01:00:00"), (2.0, "2024-01-01 02:00:00")):
        upsert_observations_versioned(
            spark,
            _vs_batch(spark, [("s1", t0, val, ing, int(val))]),
            scratch,
            order_cols=["ingestion_time", "event_id"],
        )
    # Simulate the crashed commit: a well-formed history manifest for
    # a version the table never reached (live is still v2).
    with open(os.path.join(scratch, "manifest-v5.json"), "w") as fh:
        json.dump({"version": 5, "partitions": {}}, fh)
    vacuum(scratch, retain_last_n=2, min_age_seconds=0)
    assert not os.path.exists(os.path.join(scratch, "manifest-v5.json"))
    # v1 (the genuine previous snapshot) kept its slot and its dirs.
    assert os.path.exists(os.path.join(scratch, "manifest-v1.json"))
    assert read_observations_versioned(spark, scratch, version=1).collect()[
        0
    ].value == 1.0


def test_versioned_vacuum_tolerates_non_utf8_manifest(spark, scratch):
    """Round-11 review: disk corruption is not always truncation — a
    retained history manifest with invalid UTF-8 raises
    UnicodeDecodeError (a ValueError, NOT json.JSONDecodeError) from
    the text-mode read; vacuum must expire it like any other broken
    snapshot instead of becoming unrunnable."""
    import os

    from gas_data_pipeline_spark.pipeline.versioned import (
        upsert_observations_versioned,
        vacuum,
    )

    t0 = "2024-01-01 00:00:00"
    for val, ing in (
        (1.0, "2024-01-01 01:00:00"),
        (2.0, "2024-01-01 02:00:00"),
        (3.0, "2024-01-01 03:00:00"),
    ):
        upsert_observations_versioned(
            spark,
            _vs_batch(spark, [("s1", t0, val, ing, int(val))]),
            scratch,
            order_cols=["ingestion_time", "event_id"],
        )
    with open(os.path.join(scratch, "manifest-v2.json"), "wb") as fh:
        fh.write(b'{"version": 2, \xff\xfe garbage')  # invalid UTF-8
    vacuum(scratch, retain_last_n=2, min_age_seconds=0)
    assert not os.path.exists(os.path.join(scratch, "manifest-v2.json"))


def test_versioned_vacuum_noop_without_a_store(tmp_path):
    """Round-11 review: vacuum on a root with no committed store (or
    no directory at all) is a no-op returning [] — it must not plant a
    stray .commit.lock in a directory it was only asked to inspect,
    and must not raise on a nonexistent root (the original code did
    both once the lock moved ahead of the manifest read)."""
    import os

    from gas_data_pipeline_spark.pipeline.versioned import vacuum

    missing = str(tmp_path / "never_created")
    assert vacuum(missing) == []
    assert not os.path.exists(missing)
    empty = str(tmp_path / "empty")
    os.makedirs(empty)
    assert vacuum(empty) == []
    assert os.listdir(empty) == []


def test_versioned_file_grain_pruning_after_range_compaction(spark, scratch):
    """Round 13 — Iceberg's manifest-entry shape: every commit records
    per-FILE column bounds, compaction range-clusters its output on
    (date, series, time), and a filtered read selects individual files
    from metadata. A one-series read after compaction must list a
    strict subset of the partition's files (pinned by inputFiles),
    with rows exact; dropping file_stats from the manifest degrades to
    the directory read with identical rows."""
    from gas_data_pipeline_spark.pipeline.versioned import (
        compact_versioned,
        read_manifest,
        read_observations_versioned,
        upsert_observations_versioned,
    )

    # One date, many series, multiple files (fragmented commit).
    rows = [
        ("S_%03d" % i, "2024-01-01 %02d:00:00" % (i % 24), float(i),
         "2024-01-01 01:00:00", i)
        for i in range(400)
    ]
    key = "spark.sql.files.maxRecordsPerFile"
    old = spark.conf.get(key, "0")
    spark.conf.set(key, "50")
    try:
        upsert_observations_versioned(
            spark, _vs_batch(spark, rows), scratch,
            order_cols=["ingestion_time", "event_id"],
        )
    finally:
        spark.conf.set(key, old)
    pdir = os.path.join(scratch, read_manifest(scratch)["partitions"]["2024-01-01"])
    total = sum(
        os.path.getsize(os.path.join(pdir, f))
        for f in os.listdir(pdir) if f.endswith(".parquet")
    )
    m2 = compact_versioned(spark, scratch, target_bytes=max(1, total // 4))
    per_file = m2["file_stats"]["2024-01-01"]
    n_files = len(per_file)
    assert n_files >= 2
    # Range clustering: the files' series ranges are (near-)disjoint —
    # every file carries bounds and at most one file admits S_007.
    admitting = [
        fn for fn, st in per_file.items()
        if st.get("series_id") and st["series_id"][0] <= "S_007" <= st["series_id"][1]
    ]
    assert len(admitting) == 1
    df = read_observations_versioned(spark, scratch, series_ids="S_007")
    files = df.inputFiles()
    assert len(files) < n_files and len(files) >= 1
    got = [(r.series_id, r.value) for r in df.collect()]
    assert got == [("S_007", 7.0)]
    # Time-window read stays exact through the file-grain path (the
    # clustering is series-major, so each file spans the full day and
    # time bounds admit every file here — no pruning, no loss; the
    # sub-day TIME prune is pinned at partition grain in
    # test_versioned_time_bounds_prune_below_date_grain).
    df = read_observations_versioned(
        spark, scratch,
        start="2024-01-01 00:30:00", end="2024-01-01 01:30:00",
    )
    assert {r.series_id[:2] for r in df.collect()} == {"S_"}
    assert df.count() == sum(1 for i in range(400) if i % 24 == 1)
    # Unfiltered read: whole directory, every row.
    assert read_observations_versioned(spark, scratch).count() == 400
    # Manifest without file_stats (older store): directory read, rows
    # exact — pruning is an IO optimization only.
    import json as _json

    m3 = dict(m2)
    m3.pop("file_stats")
    m3.pop("fs_shards", None)  # sharded refs are the file grain's home now
    with open(os.path.join(scratch, "manifest.json"), "w") as fh:
        _json.dump(m3, fh)
    df = read_observations_versioned(spark, scratch, series_ids="S_007")
    assert [(r.series_id, r.value) for r in df.collect()] == [("S_007", 7.0)]
    assert len(df.inputFiles()) == n_files


def test_versioned_file_stats_carry_forward_with_sharing(spark, scratch):
    """file_stats carry forward for structurally-shared partitions
    exactly like partition stats (version dirs are immutable), and a
    rewritten partition's file list is replaced, never merged."""
    from gas_data_pipeline_spark.pipeline.versioned import (
        read_manifest,
        upsert_observations_versioned,
    )

    up = lambda b: upsert_observations_versioned(  # noqa: E731
        spark, b, scratch, order_cols=["ingestion_time", "event_id"]
    )
    up(
        _vs_batch(
            spark,
            [
                ("A_1", "2024-01-01 00:00:00", 1.0, "2024-01-01 01:00:00", 1),
                ("B_1", "2024-02-01 00:00:00", 2.0, "2024-02-01 01:00:00", 2),
            ],
        )
    )
    m1 = read_manifest(scratch)
    up(_vs_batch(spark, [("B_2", "2024-02-01 06:00:00", 3.0, "2024-02-01 07:00:00", 3)]))
    m2 = read_manifest(scratch)
    # Jan shared: identical file_stats entry. Feb rewritten: new list.
    assert m2["file_stats"]["2024-01-01"] == m1["file_stats"]["2024-01-01"]
    assert m2["file_stats"]["2024-02-01"] != m1["file_stats"]["2024-02-01"]
    feb = m2["file_stats"]["2024-02-01"]
    assert all(st["series_id"] == ["B_1", "B_2"] for st in feb.values())


def test_versioned_manifest_plane_runs_on_alt_fileio():
    """VERDICT r12 #6: the manifest plane's filesystem calls route
    through the FileIO seam (pipeline/fileio.py), so the single-node
    listdir/replace/flock/mtime contract is a pluggable DEFAULT. Prove
    the seam carries the whole metadata contract on a dict-backed
    filesystem: atomic publish, CAS fence, schema carry-forward, time
    travel, and vacuum retention/aging — zero disk involved (the data
    plane stays Spark's business; dirs here are fakes)."""
    import time

    import pytest

    from gas_data_pipeline_spark.pipeline import versioned
    from gas_data_pipeline_spark.pipeline.fileio import (
        MemoryFileIO,
        io_for,
        register_fileio,
        unregister_fileio,
    )

    mem = MemoryFileIO()
    register_fileio("mem://", mem)
    try:
        root = "mem://warehouse/tbl"
        mem.makedirs(root + "/v1-aaaaaaaa/__pdate=2024-01-01")
        schema = {
            "type": "struct",
            "fields": [
                {"name": "series_id", "type": "string",
                 "nullable": True, "metadata": {}}
            ],
        }
        m1 = versioned.publish_version(
            root,
            1,
            {"2024-01-01": "v1-aaaaaaaa/__pdate=2024-01-01"},
            schema=schema,
            stats={"2024-01-01": {"series_id": ["a", "b"]}},
        )
        assert versioned.read_manifest(root) == m1
        # CAS fence: a writer that merged against the pre-v1 snapshot
        # is refused once v1 exists.
        with pytest.raises(versioned.ConcurrentCommitError):
            versioned.publish_version(root, 1, {})
        # v2 rewrites the date; schema=None carries the v1 schema
        # forward, stats=None drops the rewritten date's stale bounds.
        mem.makedirs(root + "/v2-bbbbbbbb/__pdate=2024-01-01")
        m2 = versioned.publish_version(
            root, 2, {"2024-01-01": "v2-bbbbbbbb/__pdate=2024-01-01"}
        )
        assert m2["schema"] == schema
        assert "stats" not in m2
        # Time travel: the v1 snapshot is still resolvable.
        assert versioned.read_manifest(root, 1)["partitions"][
            "2024-01-01"
        ].startswith("v1-")
        # Vacuum: the unreferenced, aged-out v1 dir is reclaimed and
        # the v1 history manifest expires; the live snapshot survives.
        mem.set_mtime(root + "/v1-aaaaaaaa", time.time() - 90000)
        gone = versioned.vacuum(root, retain_last_n=1, min_age_seconds=86400)
        assert gone == ["v1-aaaaaaaa"]
        assert versioned.read_manifest(root, 1) is None
        assert versioned.read_manifest(root)["version"] == 2
        assert not mem.isdir(root + "/v1-aaaaaaaa")
        # A fresh in-memory dir younger than min_age survives (the
        # in-flight-writer guarantee holds across implementations).
        mem.makedirs(root + "/v9-cccccccc")
        assert versioned.vacuum(root, retain_last_n=1, min_age_seconds=86400) == []
        assert mem.isdir(root + "/v9-cccccccc")
        # Local paths still resolve to the local default.
        assert io_for("/anywhere/else") is not mem
    finally:
        unregister_fileio("mem://")


def test_versioned_upsert_with_retry_lands_both_writers(spark, scratch):
    """VERDICT r10 #4: the Iceberg client loop — a writer fenced by an
    interleaved commit re-reads the new snapshot, re-merges, and its
    batch lands WITHOUT dropping the winner's rows."""
    from unittest.mock import patch

    import gas_data_pipeline_spark.pipeline.versioned as V

    t0 = "2024-01-01 00:00:00"
    V.upsert_observations_versioned(
        spark,
        _vs_batch(spark, [("s1", t0, 1.0, "2024-01-01 01:00:00", 1)]),
        scratch,
        order_cols=["ingestion_time", "event_id"],
    )
    real = V.read_manifest
    state = {"raced": False}

    def racy(root, version=None, **kw):
        m = real(root, version, **kw)
        if version is None and not state["raced"]:
            state["raced"] = True
            V.upsert_observations_versioned(
                spark,
                _vs_batch(spark, [("s2", t0, 7.0, "2024-01-01 01:30:00", 5)]),
                scratch,
                order_cols=["ingestion_time", "event_id"],
            )
        return m

    with patch.object(V, "read_manifest", side_effect=racy):
        out = V.upsert_with_retry(
            spark,
            _vs_batch(spark, [("s1", t0, 3.0, "2024-01-01 02:00:00", 9)]),
            scratch,
            order_cols=["ingestion_time", "event_id"],
        )
    assert out["version"] == 3  # attempt 1 fenced; attempt 2 over v2
    rows = {
        r.series_id: r.value
        for r in V.read_observations_versioned(spark, scratch).collect()
    }
    assert rows == {"s1": 3.0, "s2": 7.0}  # both writers' rows land


def _run_worker(args, wait=True):
    import subprocess
    import sys as _sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.Popen(
        [_sys.executable, os.path.join(repo, "tests", "versioned_race_worker.py"),
         *args],
        env={**os.environ, "PYTHONPATH": repo},
    )
    return proc.wait(timeout=60) if wait else proc


def test_versioned_multiprocess_cas_exactly_one_publishes(scratch):
    """VERDICT r10 #3: two REAL OS processes race publish_version
    against one root — exactly one publishes, the loser is fenced,
    and the loser's staging dir is vacuumable. No Spark: the protocol
    is pure filesystem (tests/versioned_race_worker.py)."""
    import time as _time

    from gas_data_pipeline_spark.pipeline.versioned import read_manifest, vacuum

    os.makedirs(scratch, exist_ok=True)
    procs = [
        _run_worker(["race", scratch, f"v1-1111111{i}"], wait=False)
        for i in (1, 2)
    ]
    deadline = _time.time() + 30
    while not all(
        os.path.exists(os.path.join(scratch, f"v1-1111111{i}.staged"))
        for i in (1, 2)
    ):
        assert _time.time() < deadline, "workers never staged"
        _time.sleep(0.005)
    open(os.path.join(scratch, "go"), "w").close()
    codes = sorted(p.wait(timeout=60) for p in procs)
    assert codes == [0, 7], f"expected one publish + one fence, got {codes}"
    m = read_manifest(scratch)
    assert m["version"] == 1
    winner_dir = m["partitions"]["2024-01-01"].split("/", 1)[0]
    gone = vacuum(scratch, min_age_seconds=0)
    loser_dir = next(d for d in (f"v1-1111111{i}" for i in (1, 2))
                     if d != winner_dir)
    assert gone == [loser_dir]
    assert os.path.isdir(os.path.join(scratch, winner_dir))


def test_versioned_multiprocess_retry_both_writers_land(scratch):
    """The Iceberg client loop across REAL processes: two racers each
    stage a different date and publish-with-rebase — the fenced one
    must re-read the winner's manifest, re-apply its own partition on
    top, and land as the next version. Both exit 0; the final manifest
    is v2 and carries BOTH writers' partitions (in-process,
    upsert_with_retry proves the same loop with the Spark merge; this
    makes the cross-process composition empirical)."""
    import time as _time

    from gas_data_pipeline_spark.pipeline.versioned import read_manifest

    os.makedirs(scratch, exist_ok=True)
    dates = {"v1-aaaaaaa1": "2024-01-01", "v1-aaaaaaa2": "2024-01-02"}
    procs = [
        _run_worker(["race-retry", scratch, vtag, d], wait=False)
        for vtag, d in dates.items()
    ]
    deadline = _time.time() + 30
    while not all(
        os.path.exists(os.path.join(scratch, f"{vtag}.staged"))
        for vtag in dates
    ):
        assert _time.time() < deadline, "workers never staged"
        _time.sleep(0.005)
    open(os.path.join(scratch, "go"), "w").close()
    codes = [p.wait(timeout=60) for p in procs]
    assert codes == [0, 0], f"both retry-writers must publish, got {codes}"
    m = read_manifest(scratch)
    assert m["version"] == 2
    assert {
        d: p.split("/", 1)[0] for d, p in m["partitions"].items()
    } == {d: vtag for vtag, d in dates.items()}


def test_versioned_flock_released_on_writer_death(scratch):
    """The docstring claim 'the kernel releases the lock on the
    holder's death, so a crashed committer never wedges the table',
    made empirical: a child process is SIGKILLed while HOLDING the
    commit flock mid-"commit", and the parent must acquire it and
    publish within seconds."""
    import fcntl
    import signal
    import time as _time

    from gas_data_pipeline_spark.pipeline.versioned import (
        publish_version,
        read_manifest,
    )

    os.makedirs(scratch, exist_ok=True)
    proc = _run_worker(["hold-lock", scratch], wait=False)
    deadline = _time.time() + 30
    while not os.path.exists(os.path.join(scratch, "locked")):
        assert _time.time() < deadline, "child never took the lock"
        _time.sleep(0.005)
    # Lock is genuinely held: a non-blocking attempt must fail now.
    with open(os.path.join(scratch, ".commit.lock"), "a+") as fh:
        with pytest.raises(OSError):
            fcntl.flock(fh, fcntl.LOCK_EX | fcntl.LOCK_NB)
    proc.send_signal(signal.SIGKILL)
    proc.wait(timeout=30)
    # Kernel released the dead holder's flock: acquire + publish,
    # bounded so a regression fails fast instead of hanging the suite.
    acquired = False
    deadline = _time.time() + 10
    while _time.time() < deadline:
        with open(os.path.join(scratch, ".commit.lock"), "a+") as fh:
            try:
                fcntl.flock(fh, fcntl.LOCK_EX | fcntl.LOCK_NB)
                acquired = True
                fcntl.flock(fh, fcntl.LOCK_UN)
                break
            except OSError:
                _time.sleep(0.05)
    assert acquired, "flock not released after holder SIGKILL"
    os.makedirs(os.path.join(scratch, "v1-cafecafe", "__pdate=2024-01-01"))
    publish_version(scratch, 1, {"2024-01-01": "v1-cafecafe/__pdate=2024-01-01"})
    assert read_manifest(scratch)["version"] == 1


def test_versioned_compaction_rewrites_only_fragmented(spark, scratch):
    """compact_versioned is a layout-only commit: fragmented
    partitions collapse to one sorted file each, untouched partitions
    keep their OLD directories (structural sharing — never rewritten,
    never listed), content is identical, the pre-compaction version
    stays time-travelable, and stats survive the rewrite."""
    from pyspark.sql import functions as F  # noqa: F401

    from gas_data_pipeline_spark.pipeline.versioned import (
        compact_versioned,
        read_manifest,
        read_observations_versioned,
        upsert_observations_versioned,
    )

    key = "spark.sql.files.maxRecordsPerFile"
    old = spark.conf.get(key, "0")
    rows = [
        ("A_%d" % i, "2024-01-01 %02d:00:00" % (i % 24), float(i),
         "2024-01-01 01:00:00", i)
        for i in range(40)
    ]
    spark.conf.set(key, "10")  # force >= 4 files in the Jan partition
    try:
        upsert_observations_versioned(
            spark, _vs_batch(spark, rows), scratch,
            order_cols=["ingestion_time", "event_id"],
        )
    finally:
        spark.conf.set(key, old)
    # A second, unfragmented partition that compaction must NOT touch.
    upsert_observations_versioned(
        spark,
        _vs_batch(
            spark, [("B_1", "2024-02-01 00:00:00", 1.0, "2024-02-01 01:00:00", 99)]
        ),
        scratch,
        order_cols=["ingestion_time", "event_id"],
    )
    m2 = read_manifest(scratch)
    jan_dir = os.path.join(scratch, m2["partitions"]["2024-01-01"])
    n_before = sum(1 for f in os.listdir(jan_dir) if f.endswith(".parquet"))
    assert n_before >= 4, "fixture failed to fragment"
    before = sorted(
        map(tuple, read_observations_versioned(spark, scratch).collect())
    )

    m3 = compact_versioned(spark, scratch, min_files=2)
    assert m3["version"] == 3
    # Jan rewritten to ONE file under the new version dir; Feb's entry
    # untouched (same old dir).
    assert m3["partitions"]["2024-01-01"].startswith("v3-")
    assert m3["partitions"]["2024-02-01"] == m2["partitions"]["2024-02-01"]
    jan_new = os.path.join(scratch, m3["partitions"]["2024-01-01"])
    assert sum(1 for f in os.listdir(jan_new) if f.endswith(".parquet")) == 1
    # Content exactly preserved; stats refreshed and present.
    after = sorted(
        map(tuple, read_observations_versioned(spark, scratch).collect())
    )
    assert after == before
    assert m3["stats"]["2024-01-01"]["series_id"][0].startswith("A_")
    # The pre-compaction snapshot is still readable (time travel).
    pinned = sorted(
        map(tuple, read_observations_versioned(spark, scratch, version=2).collect())
    )
    assert pinned == before
    # Re-compacting a compacted store is a no-op (no new version).
    assert compact_versioned(spark, scratch, min_files=2)["version"] == 3


def test_versioned_compaction_sorts_each_file(spark, scratch):
    """``sort_within=True``: every compacted file, read in file order,
    is sorted by (obs_date, series_id, observation_time) — not several
    sorted runs of the fragments laid end to end."""
    import random

    import pyarrow.parquet as pq

    from gas_data_pipeline_spark.pipeline.versioned import (
        compact_versioned,
        upsert_observations_versioned,
    )

    rng = random.Random(3)
    rows = [
        ("S_%03d" % rng.randrange(60), "2024-01-%02d %02d:00:00" % (1 + i % 3, i % 24),
         float(i), "2024-02-01 00:00:00", i)
        for i in range(288)
    ]
    rng.shuffle(rows)
    key = "spark.sql.files.maxRecordsPerFile"
    old = spark.conf.get(key, "0")
    spark.conf.set(key, "20")  # fragments whose key ranges interleave
    try:
        for k in range(0, len(rows), 96):
            upsert_observations_versioned(
                spark, _vs_batch(spark, rows[k:k + 96]), scratch,
                order_cols=["ingestion_time", "event_id"],
            )
    finally:
        spark.conf.set(key, old)
    m = compact_versioned(spark, scratch, min_files=2)
    assert len(m["partitions"]) == 3
    for rel in m["partitions"].values():
        pdir = os.path.join(scratch, rel)
        for f in sorted(os.listdir(pdir)):
            if f.endswith(".parquet"):
                t = pq.read_table(os.path.join(pdir, f)).to_pydict()
                keys = list(zip(t["obs_date"], t["series_id"], t["observation_time"]))
                assert keys == sorted(keys), f"{rel}/{f} is not sorted"


@pytest.mark.parametrize("writer", ["upsert", "compaction", "delete", "update"])
def test_versioned_maintenance_ops_are_cas_fenced(spark, scratch, writer):
    """Every rewrite writer publishes through the same CAS fence: a
    commit interleaving between its manifest read and its publish gets
    it REFUSED (ConcurrentCommitError), the interloper's snapshot
    stays intact, and a plain re-run succeeds against the new
    snapshot. The interference is injected at the _collect_stats seam
    — it runs after the rewrite's write, before the publish, exactly
    the race window."""
    from pyspark.sql import functions as F

    from gas_data_pipeline_spark.pipeline import versioned

    key = "spark.sql.files.maxRecordsPerFile"
    old = spark.conf.get(key, "0")
    rows = [
        ("A_%d" % i, "2024-01-01 %02d:00:00" % (i % 24), float(i),
         "2024-01-01 01:00:00", i)
        for i in range(30)
    ]
    spark.conf.set(key, "10")
    try:
        versioned.upsert_observations_versioned(
            spark, _vs_batch(spark, rows), scratch,
            order_cols=["ingestion_time", "event_id"],
        )
    finally:
        spark.conf.set(key, old)

    commit, n_rows, landed, n_landed = {
        "upsert": (
            lambda: versioned.upsert_observations_versioned(
                spark,
                _vs_batch(spark, [("A_0", "2024-01-01 00:00:00", 99.0,
                                   "2024-01-02 01:00:00", 99)]),
                scratch, order_cols=["ingestion_time", "event_id"],
            ),
            30, F.col("value") == 99.0, 1,
        ),
        "compaction": (
            lambda: versioned.compact_versioned(spark, scratch, min_files=2),
            30, F.lit(True), 30,
        ),
        "delete": (
            lambda: versioned.delete_versioned(
                spark, scratch, F.col("value") < 5.0
            ),
            25, F.col("value") >= 5.0, 25,
        ),
        "update": (
            lambda: versioned.update_versioned(
                spark, scratch, F.col("value") < 5.0, {"value": F.lit(-1.0)}
            ),
            30, F.col("value") == -1.0, 5,
        ),
    }[writer]

    real_stats = versioned._collect_stats
    armed = {"fired": False}

    def interfering(spark_, pdirs, **kw):
        if not armed["fired"]:
            armed["fired"] = True
            m = versioned.read_manifest(scratch)
            versioned.publish_version(
                scratch, m["version"] + 1, dict(m["partitions"])
            )
        return real_stats(spark_, pdirs, **kw)

    versioned._collect_stats = interfering
    try:
        with pytest.raises(versioned.ConcurrentCommitError):
            commit()
    finally:
        versioned._collect_stats = real_stats
    assert armed["fired"]
    assert versioned.read_manifest(scratch)["version"] == 2
    assert versioned.read_observations_versioned(spark, scratch).count() == 30
    assert commit()["version"] == 3
    after = versioned.read_observations_versioned(spark, scratch)
    assert after.count() == n_rows
    assert after.filter(landed).count() == n_landed


@pytest.mark.parametrize("writer", ["upsert", "compaction", "delete", "update"])
def test_versioned_rewrite_fold_invariants(spark, scratch, writer):
    """Every rewrite folds its result into the manifest by one rule:
    a rewritten date's ``file_stats`` list exactly the parquet files in
    its new directory and it carries no deletion-vector refs; a date
    the rewrite emptied leaves ``partitions``, ``stats``,
    ``file_stats``, ``dv`` and ``dv_eq`` (and its equality key set
    with it); untouched months keep their ``fs_shards`` refs as they
    were. Compaction and delete keep the declared schema."""
    from pyspark.sql import functions as F

    from gas_data_pipeline_spark.pipeline import versioned as V

    jan1, jan2 = "2024-01-01", "2024-01-02"
    rows = [
        ("A_%d" % i, "2024-01-01 %02d:00:00" % i, float(i),
         "2024-01-01 12:00:00", i)
        for i in range(4)
    ] + [
        ("B_%d" % i, "2024-01-02 %02d:00:00" % i, float(10 + i),
         "2024-01-02 12:00:00", 10 + i)
        for i in range(1, 5)
    ] + [
        ("C_1", "2024-02-01 00:00:00", 20.0, "2024-02-01 12:00:00", 20),
        ("D_1", "2024-03-01 00:00:00", 30.0, "2024-03-01 12:00:00", 30),
    ]
    key = "spark.sql.files.maxRecordsPerFile"
    old = spark.conf.get(key, "0")
    spark.conf.set(key, "2")  # fragment both January dates
    try:
        V.upsert_observations_versioned(
            spark, _vs_batch(spark, rows), scratch,
            order_cols=["ingestion_time", "event_id"],
        )
    finally:
        spark.conf.set(key, old)
    # Both vector kinds on jan2; for compaction they delete every row
    # of it, so the materializing rewrite empties the date.
    mor = ["B_1", "B_3", "B_4"] if writer == "compaction" else ["B_1"]
    V.delete_versioned(
        spark, scratch, F.col("series_id").isin(mor), mode="merge-on-read"
    )
    V.delete_versioned_by_key(spark, scratch, "B_2")
    prev = V.read_manifest(scratch)
    assert jan2 in prev["dv"] and jan2 in prev["dv_eq"]

    commit, rewritten, emptied = {
        "upsert": (
            lambda: V.upsert_observations_versioned(
                spark,
                _vs_batch(spark, [
                    ("A_9", "2024-01-01 09:00:00", 9.0, "2024-01-01 12:00:00", 9),
                    ("B_9", "2024-01-02 09:00:00", 9.0, "2024-01-02 12:00:00", 19),
                ]),
                scratch, order_cols=["ingestion_time", "event_id"],
            ),
            {jan1, jan2}, set(),
        ),
        "compaction": (
            lambda: V.compact_versioned(spark, scratch, min_files=2),
            {jan1}, {jan2},
        ),
        "delete": (
            lambda: V.delete_versioned(
                spark, scratch,
                F.col("series_id").startswith("B_") | (F.col("value") < 1.0),
            ),
            {jan1}, {jan2},
        ),
        "update": (
            lambda: V.update_versioned(
                spark, scratch,
                (F.col("series_id") == "B_3") | (F.col("value") < 1.0),
                {"value": F.lit(-1.0)},
            ),
            {jan1, jan2}, set(),
        ),
    }[writer]
    commit()
    m = V.read_manifest(scratch)
    assert m["version"] == prev["version"] + 1
    assert {
        d for d, rel in m["partitions"].items()
        if rel != prev["partitions"].get(d)
    } == rewritten
    assert set(prev["partitions"]) - set(m["partitions"]) == emptied
    for d in rewritten:
        pdir = os.path.join(scratch, m["partitions"][d])
        on_disk = {f for f in os.listdir(pdir) if f.endswith(".parquet")}
        assert set(m["file_stats"][d]) == on_disk
        assert d in m["stats"]
        assert d not in m.get("dv", {}) and d not in m.get("dv_eq", {})
    for d in emptied:
        for grain in ("partitions", "stats", "file_stats", "dv", "dv_eq"):
            assert d not in m.get(grain, {}), grain
        assert not m.get("dv_eq_sets")
    untouched = {"2024-02", "2024-03"}
    assert {V._shard_key(d) for d in rewritten | emptied} == {"2024-01"}
    for month in untouched:
        assert m["fs_shards"][month] == prev["fs_shards"][month]
    if writer in ("compaction", "delete"):
        assert m["schema"] == prev["schema"]
    # Vector-deleted rows never resurrect into a rewrite.
    ids = {r.series_id for r in V.read_observations_versioned(spark, scratch).collect()}
    assert not ids & {"B_1", "B_2"}


def test_versioned_update_off_chain_assignment_is_refused(spark, scratch):
    """UPDATE evolves the declared schema like every rewrite: a string
    assigned into a ``double`` column is off every widening chain, so
    the commit raises SchemaEvolutionError and publishes nothing.
    Publishing would declare ``double`` over rewritten ``string``
    files and make every later read of the table fail."""
    from pyspark.sql import functions as F

    from gas_data_pipeline_spark.pipeline import versioned as V

    V.upsert_observations_versioned(
        spark,
        _vs_batch(spark, [
            ("a", "2024-01-01 00:00:00", 1.0, "2024-01-01 01:00:00", 1),
            ("b", "2024-01-02 00:00:00", 2.0, "2024-01-02 01:00:00", 2),
        ]),
        scratch, order_cols=["ingestion_time", "event_id"],
    )
    with pytest.raises(V.SchemaEvolutionError):
        V.update_versioned(
            spark, scratch, F.col("series_id") == "a", {"value": F.lit("9.5")}
        )
    m = V.read_manifest(scratch)
    assert m["version"] == 1
    assert {f["name"]: f["type"] for f in m["schema"]["fields"]}["value"] == "double"
    got = sorted(
        (r.series_id, r.value)
        for r in V.read_observations_versioned(spark, scratch).collect()
    )
    assert got == [("a", 1.0), ("b", 2.0)]


def test_versioned_changelog_across_compaction_is_empty(spark, scratch):
    """Compaction is layout-only, and the changelog must SAY so: the
    row diff between the pre- and post-compaction versions is empty
    even though every rewritten partition's manifest entry churned
    (the metadata prune selects them, the row diff then finds
    nothing). The time-travel ladder stays intact: each version
    replays its own state."""
    from pyspark.sql import functions as F

    from gas_data_pipeline_spark.pipeline.versioned import (
        changelog_versioned,
        compact_versioned,
        delete_versioned,
        read_manifest,
        read_observations_versioned,
        upsert_observations_versioned,
    )

    key = "spark.sql.files.maxRecordsPerFile"
    old = spark.conf.get(key, "0")
    jan = [
        ("A_%d" % i, "2024-01-01 %02d:00:00" % (i % 24), float(i),
         "2024-01-01 01:00:00", i)
        for i in range(40)
    ]
    spark.conf.set(key, "10")  # fragment Jan; the delete won't touch it
    try:
        upsert_observations_versioned(
            spark, _vs_batch(spark, jan), scratch,
            order_cols=["ingestion_time", "event_id"],
        )
    finally:
        spark.conf.set(key, old)
    feb = [
        ("B_%d" % i, "2024-02-01 %02d:00:00" % i, float(i),
         "2024-02-01 01:00:00", 100 + i)
        for i in range(10)
    ]
    upsert_observations_versioned(  # v2
        spark, _vs_batch(spark, feb), scratch,
        order_cols=["ingestion_time", "event_id"],
    )
    delete_versioned(  # v3: Feb only — Jan stays fragmented
        spark,
        scratch,
        (F.col("series_id").startswith("B_")) & (F.col("value") < 5.0),
    )
    m4 = compact_versioned(spark, scratch, min_files=2)  # v4: Jan
    assert m4["version"] == 4
    # The compaction changelog: churned entries, ZERO row diff.
    assert changelog_versioned(spark, scratch, 3, 4).count() == 0
    # The delete changelog still reports its deletions.
    dlog = changelog_versioned(spark, scratch, 2, 3)
    assert {r.change_type for r in dlog.collect()} == {"delete"}
    assert dlog.count() == 5
    # Time-travel ladder: 40 -> 50 -> 45 -> 45, v4 content == v3's.
    assert read_observations_versioned(spark, scratch, version=1).count() == 40
    assert read_observations_versioned(spark, scratch, version=2).count() == 50
    v3 = sorted(map(tuple, read_observations_versioned(
        spark, scratch, version=3).collect()))
    v4 = sorted(map(tuple, read_observations_versioned(
        spark, scratch, version=4).collect()))
    assert len(v3) == 45 and v3 == v4
    assert read_manifest(scratch)["version"] == 4


def test_versioned_delete_rewrites_only_matched_partitions(spark, scratch):
    """Copy-on-write DELETE: only partitions containing matches
    rewrite; a fully-matched partition vanishes from the manifest; a
    NULL-evaluating predicate keeps its rows (SQL three-valued
    DELETE); the pre-delete snapshot stays time-travelable; a
    no-match delete publishes nothing."""
    from pyspark.sql import functions as F

    from gas_data_pipeline_spark.pipeline.versioned import (
        delete_versioned,
        read_manifest,
        read_observations_versioned,
        upsert_observations_versioned,
    )

    rows = [
        # Jan: values straddle the threshold -> partial delete.
        ("A_1", "2024-01-01 00:00:00", 10.0, "2024-01-01 01:00:00", 1),
        ("A_2", "2024-01-01 01:00:00", 90.0, "2024-01-01 01:00:00", 2),
        # Feb: every row matches -> partition vanishes.
        ("B_1", "2024-02-01 00:00:00", 5.0, "2024-02-01 01:00:00", 3),
        # Mar: no row matches -> directory untouched.
        ("C_1", "2024-03-01 00:00:00", 99.0, "2024-03-01 01:00:00", 4),
        # Apr: NULL value -> predicate NULL -> row KEPT, dir untouched.
        ("D_1", "2024-04-01 00:00:00", None, "2024-04-01 01:00:00", 5),
    ]
    upsert_observations_versioned(
        spark, _vs_batch(spark, rows), scratch,
        order_cols=["ingestion_time", "event_id"],
    )
    m1 = read_manifest(scratch)
    m2 = delete_versioned(spark, scratch, F.col("value") < 50.0)
    assert m2["version"] == 2
    got = {(r.series_id, r.value) for r in read_observations_versioned(
        spark, scratch
    ).collect()}
    assert got == {("A_2", 90.0), ("C_1", 99.0), ("D_1", None)}
    # Jan rewritten, Feb gone, Mar/Apr structurally shared unchanged.
    assert m2["partitions"]["2024-01-01"].startswith("v2-")
    assert "2024-02-01" not in m2["partitions"]
    assert m2["partitions"]["2024-03-01"] == m1["partitions"]["2024-03-01"]
    assert m2["partitions"]["2024-04-01"] == m1["partitions"]["2024-04-01"]
    # Jan's stats reflect the survivors only.
    assert m2["stats"]["2024-01-01"]["series_id"] == ["A_2", "A_2"]
    # Pre-delete snapshot intact (time travel).
    v1 = {(r.series_id, r.value) for r in read_observations_versioned(
        spark, scratch, version=1
    ).collect()}
    assert ("B_1", 5.0) in v1 and len(v1) == 5
    # No-match delete: no new version.
    assert delete_versioned(
        spark, scratch, F.col("value") > 1e9
    )["version"] == 2


def test_versioned_compaction_bin_packs_to_target_bytes(spark, scratch):
    """The at-scale half of compaction: a partition bigger than
    target_bytes splits over ceil(bytes/target) output files (hash of
    the business keys -> bucket -> task), so a TB-sized date compacts
    across the cluster instead of through one task. Content identical
    either way."""
    from gas_data_pipeline_spark.pipeline.versioned import (
        compact_versioned,
        read_manifest,
        read_observations_versioned,
        upsert_observations_versioned,
    )

    key = "spark.sql.files.maxRecordsPerFile"
    old = spark.conf.get(key, "0")
    rows = [
        ("S_%03d" % i, "2024-01-01 %02d:00:00" % (i % 24), float(i),
         "2024-01-01 01:00:00", i)
        for i in range(400)
    ]
    spark.conf.set(key, "50")
    try:
        upsert_observations_versioned(
            spark, _vs_batch(spark, rows), scratch,
            order_cols=["ingestion_time", "event_id"],
        )
    finally:
        spark.conf.set(key, old)
    before = sorted(
        map(tuple, read_observations_versioned(spark, scratch).collect())
    )
    m1 = read_manifest(scratch)
    pdir = os.path.join(scratch, m1["partitions"]["2024-01-01"])
    total = sum(
        os.path.getsize(os.path.join(pdir, f))
        for f in os.listdir(pdir)
        if f.endswith(".parquet")
    )
    # Target a quarter of the partition: the range-clustered rewrite
    # plans exactly ceil(bytes/target) bins (r13 — the hash-bucket
    # version could lose buckets to task collisions; range bins can
    # only shrink via empty sample ranges), so the file count is
    # bounded by the plan.
    target = max(1, total // 4)
    planned = -(-total // target)
    m2 = compact_versioned(spark, scratch, target_bytes=target)
    new_dir = os.path.join(scratch, m2["partitions"]["2024-01-01"])
    n_files = sum(1 for f in os.listdir(new_dir) if f.endswith(".parquet"))
    assert 2 <= n_files <= planned
    after = sorted(
        map(tuple, read_observations_versioned(spark, scratch).collect())
    )
    assert after == before


def test_widening_chain_is_scan_readable(spark, tmp_path):
    """Every pair _WIDENING_CHAINS admits must actually be readable:
    files written at the NARROW type scanned under a declared WIDER
    schema yield the same values — this is the physical fact that
    makes _evolve_schema's wider-side-wins resolution safe. If a
    Spark upgrade ever dropped one of these upcasts, this test (not a
    production read) should be what breaks."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType, _parse_datatype_string

    from gas_data_pipeline_spark.pipeline.versioned import _WIDENING_CHAINS

    pairs = [
        (narrow, wide)
        for narrow, chain in _WIDENING_CHAINS.items()
        for wide in chain
        if wide != narrow
    ] + [("decimal(10,2)", "decimal(18,2)"), ("decimal(10,2)", "decimal(22,2)")]
    for i, (narrow, wide) in enumerate(pairs):
        d = str(tmp_path / f"w{i}")
        spark.range(3).select(
            F.col("id"), F.col("id").cast(narrow).alias("x")
        ).write.parquet(d)
        sch = StructType(
            [
                StructField("id", LongType()),
                StructField("x", _parse_datatype_string(wide)),
            ]
        )
        got = sorted(
            (r.id, float(r.x)) for r in spark.read.schema(sch).parquet(d).collect()
        )
        assert got == [(0, 0.0), (1, 1.0), (2, 2.0)], (narrow, wide)


# ---------------------------------------------------------------------------
# Stream-start retry (VERDICT r13 #2): a transient worker-spawn failure at
# stream start must be retried once, and ONLY when the query died in
# INITIALIZING with zero committed batches. Tested with stub queries so the
# failure mode is injectable deterministically.
# ---------------------------------------------------------------------------


class _StubQuery:
    def __init__(self, exc=None, last_progress=None):
        self._exc = exc
        self.lastProgress = last_progress
        self.stopped = False

    def exception(self):
        return self._exc

    def stop(self):
        self.stopped = True


def test_run_stream_until_retries_worker_connect_at_start():
    from gas_data_pipeline_spark.streaming.incremental import run_stream_until

    failed = _StubQuery(
        exc=RuntimeError(
            "StreamingQueryException: Python worker failed to connect back"
        ),
        last_progress=None,
    )
    good = _StubQuery()
    attempts = []
    queries = iter([failed, good])
    retried = []

    def start():
        q = next(queries)
        attempts.append(q)
        return q

    got = run_stream_until(
        start,
        have_processed=lambda: attempts and attempts[-1] is good,
        timeout_sec=5.0,
        poll_sec=0.01,
        on_retry=retried.append,
    )
    assert got is good
    assert len(attempts) == 2 and len(retried) == 1
    assert failed.stopped  # the dead first attempt was torn down
    assert not good.stopped  # the survivor is returned live


def test_run_stream_until_does_not_retry_after_progress():
    """Same error message AFTER a committed batch = real failure, no retry."""
    import pytest

    from gas_data_pipeline_spark.streaming.incremental import run_stream_until

    failed = _StubQuery(
        exc=RuntimeError("Python worker failed to connect back"),
        last_progress={"batchId": 3, "numInputRows": 10},
    )
    starts = []

    def start():
        starts.append(failed)
        return failed

    with pytest.raises(RuntimeError, match="failed to connect back"):
        run_stream_until(start, lambda: False, timeout_sec=5.0, poll_sec=0.01)
    assert len(starts) == 1
    assert failed.stopped


def test_run_stream_until_does_not_retry_other_errors():
    import pytest

    from gas_data_pipeline_spark.streaming.incremental import run_stream_until

    failed = _StubQuery(exc=ValueError("schema mismatch"), last_progress=None)
    starts = []

    def start():
        starts.append(failed)
        return failed

    with pytest.raises(ValueError, match="schema mismatch"):
        run_stream_until(start, lambda: False, timeout_sec=5.0, poll_sec=0.01)
    assert len(starts) == 1


def test_run_stream_until_retry_budget_is_bounded():
    """Two consecutive spawn failures exhaust the single retry and re-raise."""
    import pytest

    from gas_data_pipeline_spark.streaming.incremental import run_stream_until

    def make_failed():
        return _StubQuery(
            exc=RuntimeError("Python worker exited unexpectedly"),
            last_progress=None,
        )

    starts = []

    def start():
        q = make_failed()
        starts.append(q)
        return q

    with pytest.raises(RuntimeError, match="exited unexpectedly"):
        run_stream_until(start, lambda: False, timeout_sec=5.0, poll_sec=0.01)
    assert len(starts) == 2  # first start + exactly one retry
    assert all(q.stopped for q in starts)


def test_flush_no_data_skip_same_rows_and_conf_restored(spark, tmp_path):
    """r14 optimization: ``run_stream_to_table(flush_no_data=False)``
    skips the trailing no-data micro-batch. For an eager-emit stateful
    plan (watermarked dropDuplicates) the emitted rows must be
    IDENTICAL either way — the flush batch only evicts state — and the
    session conf must be restored after the run so later watermark-
    gated queries (session windows) still get their emission batch."""
    from datetime import datetime

    from gas_data_pipeline_spark.streaming.incremental import (
        run_stream_to_table,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 10), 1.0),
            (1, datetime(2024, 1, 1, 10), 2.0),
            (2, datetime(2024, 1, 1, 11), 3.0),
        ],
        "k int, ts timestamp, v double",
    ).write.parquet(src)

    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    before = spark.conf.get(key)

    def deduped():
        stream = spark.readStream.schema("k int, ts timestamp, v double").parquet(src)
        return (
            stream.withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["k", "ts"])
            .select("k", "ts")
        )

    base = sorted(map(tuple, run_stream_to_table(deduped()).collect()))
    skip = sorted(
        map(
            tuple,
            run_stream_to_table(deduped(), flush_no_data=False).collect(),
        )
    )
    assert skip == base == [(1, datetime(2024, 1, 1, 10)), (2, datetime(2024, 1, 1, 11))]
    assert spark.conf.get(key) == before


# ---------------------------------------------------------------------------
# ADVICE r13 fixes: stats-key zero padding, tz-aware date-grain pruning,
# scoped by-value pickling, and the stats crossover's two paths.
# ---------------------------------------------------------------------------


def test_ts_key_zero_pads_pre_year_1000():
    """Lexicographic==chronological must hold for ALL datetimes:
    glibc strftime('%Y') renders year 999 as '999', which sorts AFTER
    '2024' and would silently mis-prune. format_ts_key pads explicitly."""
    import datetime as dt

    from gas_data_pipeline_spark.pipeline._stats_kernel import (
        _stat_value,
        format_ts_key,
    )

    early = dt.datetime(999, 12, 31, 23, 59, 59)
    late = dt.datetime(1000, 1, 1)
    modern = dt.datetime(2024, 6, 1, 12, 30)
    keys = [format_ts_key(x) for x in (early, late, modern)]
    assert keys == sorted(keys)
    assert keys[0].startswith("0999-")
    assert all(len(k) == len(keys[2]) for k in keys)  # fixed width
    # _stat_value (the manifest writer) goes through the same formatter.
    assert _stat_value(early) == keys[0]
    aware = dt.datetime(999, 12, 31, 23, 59, 59, tzinfo=dt.timezone.utc)
    assert _stat_value(aware) == keys[0]


def test_versioned_tz_aware_bound_keeps_utc_boundary_day(spark, scratch):
    """A tz-aware start like 2024-01-02T01:00+03:00 is 2024-01-01 22:00
    UTC: the date-grain prune must keep the 2024-01-01 partition (it
    holds matching rows at 22:30 UTC). Cutting on str(start)[:10]
    ('2024-01-02') silently dropped that partition — row loss."""
    import datetime as dt

    from gas_data_pipeline_spark.pipeline.versioned import (
        read_observations_versioned,
        upsert_observations_versioned,
    )

    upsert_observations_versioned(
        spark,
        _vs_batch(
            spark,
            [
                ("s1", "2024-01-01 22:30:00", 1.0, "2024-01-01 23:00:00", 1),
                ("s1", "2024-01-02 03:00:00", 2.0, "2024-01-02 04:00:00", 2),
                ("s1", "2024-01-01 10:00:00", 3.0, "2024-01-01 11:00:00", 3),
            ],
        ),
        scratch,
        order_cols=["ingestion_time", "event_id"],
    )
    tz3 = dt.timezone(dt.timedelta(hours=3))
    start = dt.datetime(2024, 1, 2, 1, 0, tzinfo=tz3)  # == 01-01 22:00 UTC
    got = sorted(
        r.value
        for r in read_observations_versioned(spark, scratch, start=start).collect()
    )
    assert got == [1.0, 2.0]  # 22:30 UTC row survives; 10:00 filtered
    # Mirror case on the end bound with a negative offset: end
    # 2024-01-01T23:00-03:00 == 2024-01-02 02:00 UTC must keep the
    # 01-02 partition's early row OUT (03:00 > 02:00) but must also
    # not mis-prune: values <= bound only.
    tzm3 = dt.timezone(dt.timedelta(hours=-3))
    end = dt.datetime(2024, 1, 1, 23, 0, tzinfo=tzm3)  # == 01-02 02:00 UTC
    got = sorted(
        r.value
        for r in read_observations_versioned(spark, scratch, end=end).collect()
    )
    assert got == [1.0, 3.0]


def test_parallel_stats_registers_only_kernel_module(spark, scratch, monkeypatch):
    """The parallel footer job must not flip the WHOLE versioned module
    to by-value pickling (a process-global side effect that ships
    mutated store globals into every later unrelated closure). Only
    the pure _stats_kernel module may be registered."""
    from pyspark import cloudpickle

    from gas_data_pipeline_spark.pipeline import _stats_kernel
    from gas_data_pipeline_spark.pipeline import versioned as _v
    from gas_data_pipeline_spark.pipeline.versioned import (
        read_manifest,
        upsert_observations_versioned,
    )

    # Force the Spark-job path regardless of commit size.
    monkeypatch.setattr(_v, "_STATS_LOCAL_MAX", 0)
    upsert_observations_versioned(
        spark,
        _vs_batch(
            spark,
            [("s1", "2024-01-01 00:00:00", 1.0, "2024-01-01 01:00:00", 1)],
        ),
        scratch,
        order_cols=["ingestion_time", "event_id"],
    )
    m = read_manifest(scratch)
    assert m["stats"]  # the job actually ran and recorded stats
    registry = {
        m if isinstance(m, str) else m.__name__
        for m in cloudpickle.list_registry_pickle_by_value()
    }
    assert _v.__name__ not in registry
    assert _stats_kernel.__name__ in registry


def test_stats_crossover_paths_commit_equal_stats(spark, scratch, monkeypatch):
    """The local-vs-job stats crossover (``_STATS_LOCAL_MAX``) changes
    only where footers are read: a commit that always runs the Spark
    job and one that always reads footers locally record identical
    stats at both grains (shared kernel)."""
    import os

    from gas_data_pipeline_spark.pipeline import versioned as _v
    from gas_data_pipeline_spark.pipeline.versioned import (
        read_manifest,
        upsert_observations_versioned,
    )

    rows = [
        (f"s{i}", f"2024-02-0{1 + i % 3} 0{i}:00:00", float(i),
         f"2024-02-0{1 + i % 3} 12:00:00", i)
        for i in range(9)
    ]
    a_root, b_root = os.path.join(scratch, "a"), os.path.join(scratch, "b")
    monkeypatch.setattr(_v, "_STATS_LOCAL_MAX", 0)  # always the Spark job
    upsert_observations_versioned(
        spark, _vs_batch(spark, rows), a_root,
        order_cols=["ingestion_time", "event_id"],
    )
    monkeypatch.setattr(_v, "_STATS_LOCAL_MAX", 10**9)  # always local
    upsert_observations_versioned(
        spark, _vs_batch(spark, rows), b_root,
        order_cols=["ingestion_time", "event_id"],
    )
    ma, mb = read_manifest(a_root), read_manifest(b_root)
    assert ma["stats"] == mb["stats"]

    def _names_stripped(fs):
        # file names differ between commits; compare per-partition
        # VALUE sets only.
        return {
            d: sorted(map(str, sorted(per.values(), key=str)))
            for d, per in fs.items()
        }

    assert _names_stripped(ma["file_stats"]) == _names_stripped(mb["file_stats"])


# ---------------------------------------------------------------------------
# Hierarchical manifests (VERDICT r13 #4): file-grain stats live in
# per-month shard files; a commit touching 1 of N months rewrites O(1)
# shards; reads equal the flat-manifest view; vacuum GCs orphan shards.
# ---------------------------------------------------------------------------


def _shard_files(root):
    import os

    d = os.path.join(root, "shards")
    return sorted(os.listdir(d)) if os.path.isdir(d) else []


def test_sharded_manifest_commit_rewrites_one_shard(spark, scratch):
    """Three months in the table; a commit touching only March must
    write exactly ONE new shard file and carry the other months' shard
    REFS unchanged (same relpaths as the previous manifest)."""
    from gas_data_pipeline_spark.pipeline.versioned import (
        read_manifest,
        upsert_observations_versioned,
    )

    up = lambda b: upsert_observations_versioned(  # noqa: E731
        spark, b, scratch, order_cols=["ingestion_time", "event_id"]
    )
    up(
        _vs_batch(
            spark,
            [
                ("s1", "2024-01-05 00:00:00", 1.0, "2024-01-05 01:00:00", 1),
                ("s1", "2024-02-05 00:00:00", 2.0, "2024-02-05 01:00:00", 2),
                ("s1", "2024-03-05 00:00:00", 3.0, "2024-03-05 01:00:00", 3),
            ],
        )
    )
    m1 = read_manifest(scratch, with_stats=False)
    assert set(m1["fs_shards"]) == {"2024-01", "2024-02", "2024-03"}
    before = set(_shard_files(scratch))

    up(_vs_batch(spark, [("s2", "2024-03-06 00:00:00", 4.0, "2024-03-06 01:00:00", 4)]))
    m2 = read_manifest(scratch, with_stats=False)
    new_files = set(_shard_files(scratch)) - before
    # Exactly one shard written, and it is March's.
    assert len(new_files) == 1, new_files
    assert next(iter(new_files)).startswith("fs-2024-03-")
    # Untouched months carry by REF — identical relpaths, no rewrite.
    assert m2["fs_shards"]["2024-01"] == m1["fs_shards"]["2024-01"]
    assert m2["fs_shards"]["2024-02"] == m1["fs_shards"]["2024-02"]
    assert m2["fs_shards"]["2024-03"] != m1["fs_shards"]["2024-03"]
    # The manifest list itself carries no O(files) payload inline.
    assert "file_stats" not in m2
    # Materialized view covers all four partitions.
    full = read_manifest(scratch)
    assert set(full["file_stats"]) == {
        "2024-01-05", "2024-02-05", "2024-03-05", "2024-03-06",
    }


def test_sharded_manifest_reads_match_flat_view(spark, scratch):
    """The selective shard loader (what the read path uses) must agree
    with the fully materialized view for every date subset, and the
    pruned read returns the same rows as an unfiltered scan + filter."""
    from gas_data_pipeline_spark.pipeline.versioned import (
        file_stats_for,
        read_manifest,
        read_observations_versioned,
        upsert_observations_versioned,
    )

    rows = [
        (f"s{i}", f"2024-0{1 + i % 3}-0{1 + i % 5} 0{i}:00:00", float(i),
         f"2024-0{1 + i % 3}-0{1 + i % 5} 12:00:00", i)
        for i in range(9)
    ]
    upsert_observations_versioned(
        spark, _vs_batch(spark, rows), scratch,
        order_cols=["ingestion_time", "event_id"],
    )
    full = read_manifest(scratch)["file_stats"]
    raw = read_manifest(scratch, with_stats=False)
    for dates in [set(full), {d for d in full if d.startswith("2024-01")}, set()]:
        got = file_stats_for(scratch, raw, dates)
        want = {
            d: v for d, v in full.items()
            if {d[:7] for d in dates} >= {d[:7]} or not dates
        } if dates else {}
        # Selective load returns whole shards — at least the asked
        # dates, never entries from unasked months.
        for d in dates:
            assert got.get(d) == full[d]
        for d in got:
            assert d[:7] in {x[:7] for x in dates}
    res = read_observations_versioned(
        spark, scratch, series_ids=["s1", "s4"]
    ).collect()
    allrows = read_observations_versioned(spark, scratch).collect()
    assert sorted((r.series_id, r.value) for r in res) == sorted(
        (r.series_id, r.value) for r in allrows if r.series_id in ("s1", "s4")
    )


def test_sharded_manifest_migrates_flat_manifest(spark, scratch):
    """A store whose current manifest predates sharding (inline
    file_stats) commits straight into the sharded format, carrying
    the inline entries for unchanged partitions."""
    import json as _json
    import os

    from gas_data_pipeline_spark.pipeline.versioned import (
        read_manifest,
        upsert_observations_versioned,
    )

    up = lambda b: upsert_observations_versioned(  # noqa: E731
        spark, b, scratch, order_cols=["ingestion_time", "event_id"]
    )
    up(_vs_batch(spark, [("s1", "2024-01-05 00:00:00", 1.0, "2024-01-05 01:00:00", 1)]))
    # Rewrite the manifest into the pre-shard FLAT form.
    m = read_manifest(scratch)
    flat = {k: v for k, v in m.items() if k != "fs_shards"}
    for p in ("manifest.json", f"manifest-v{m['version']}.json"):
        with open(os.path.join(scratch, p), "w") as fh:
            _json.dump(flat, fh)
    jan_stats = flat["file_stats"]["2024-01-05"]
    assert jan_stats  # the migration payload actually exists

    up(_vs_batch(spark, [("s2", "2024-02-05 00:00:00", 2.0, "2024-02-05 01:00:00", 2)]))
    m2raw = read_manifest(scratch, with_stats=False)
    assert set(m2raw["fs_shards"]) == {"2024-01", "2024-02"}
    assert "file_stats" not in m2raw
    m2 = read_manifest(scratch)
    assert m2["file_stats"]["2024-01-05"] == jan_stats  # carried from inline
    assert m2["file_stats"]["2024-02-05"]


def test_vacuum_reclaims_unreferenced_shards(spark, scratch):
    """Shard files structurally share across versions like data dirs:
    vacuum keeps every shard a retained snapshot references and
    reclaims the rest (past min_age)."""
    import os

    from gas_data_pipeline_spark.pipeline.versioned import (
        read_manifest,
        upsert_observations_versioned,
        vacuum,
    )

    up = lambda b: upsert_observations_versioned(  # noqa: E731
        spark, b, scratch, order_cols=["ingestion_time", "event_id"]
    )
    # v1..v3 all touch January -> three January shard generations.
    for i in range(1, 4):
        up(_vs_batch(spark, [
            (f"s{i}", f"2024-01-0{i} 00:00:00", float(i), f"2024-01-0{i} 01:00:00", i)
        ]))
    assert len(_shard_files(scratch)) == 3
    gone = vacuum(scratch, retain_last_n=1, min_age_seconds=0.0)
    kept = _shard_files(scratch)
    live_ref = read_manifest(scratch, with_stats=False)["fs_shards"]["2024-01"]
    assert [os.path.join("shards", f) for f in kept] == [live_ref]
    assert any(g.startswith("shards/") for g in gone)
    # The survivor still materializes every live partition's stats.
    assert set(read_manifest(scratch)["file_stats"]) == {
        "2024-01-01", "2024-01-02", "2024-01-03",
    }


def test_filtered_read_parses_only_needed_shards(spark, scratch):
    """The manifest-list prune, observed through the FileIO seam: a
    read filtered to one month's dates must parse THAT month's shard
    only — the other months' file inventories are never even read.
    This is the scale property the hierarchy buys: metadata IO per
    read scales with the months a query touches, not with table
    size."""

    class CountingIO:
        """Delegates to the local FileIO, counting shard reads."""

        def __init__(self, inner):
            self._inner = inner
            self.shard_reads = []

        def __getattr__(self, name):
            return getattr(self._inner, name)

        def read_text(self, path):
            if "/shards/" in path:
                self.shard_reads.append(os.path.basename(path))
            return self._inner.read_text(path)

    import os

    from gas_data_pipeline_spark.pipeline.fileio import (
        io_for,
        register_fileio,
        unregister_fileio,
    )
    from gas_data_pipeline_spark.pipeline.versioned import (
        read_observations_versioned,
        upsert_observations_versioned,
    )

    rows = [
        ("s1", "2024-01-05 00:00:00", 1.0, "2024-01-05 01:00:00", 1),
        ("s2", "2024-02-05 00:00:00", 2.0, "2024-02-05 01:00:00", 2),
        ("s3", "2024-03-05 00:00:00", 3.0, "2024-03-05 01:00:00", 3),
    ]
    upsert_observations_versioned(
        spark, _vs_batch(spark, rows), scratch,
        order_cols=["ingestion_time", "event_id"],
    )
    counter = CountingIO(io_for("/nonexistent-default"))
    register_fileio(scratch, counter)
    try:
        df = read_observations_versioned(
            spark,
            scratch,
            start="2024-02-01 00:00:00",
            end="2024-02-28 00:00:00",
        )
        got = [(r.series_id, r.value) for r in df.collect()]
        assert got == [("s2", 2.0)]
        assert counter.shard_reads, "file grain should have been consulted"
        assert all(n.startswith("fs-2024-02-") for n in counter.shard_reads), (
            counter.shard_reads
        )
        # An unfiltered read parses NO shards at all (no pruning, no
        # metadata io beyond the manifest itself).
        counter.shard_reads.clear()
        assert read_observations_versioned(spark, scratch).count() == 3
        assert counter.shard_reads == []
    finally:
        unregister_fileio(scratch)


# ---------------------------------------------------------------------------
# round 14: distinct-key fingerprints (the Parquet/Iceberg bloom analog)
# ---------------------------------------------------------------------------


def test_key_fingerprint_kernel_forms_and_merge():
    """Pure kernel pins: exact-set form up to the cap, bloom beyond,
    NO false negatives in either form or any merge, parameter
    mismatches degrade to None (no pruning), non-string values
    disqualify."""
    from gas_data_pipeline_spark.pipeline import _stats_kernel as k

    # Exact set: membership is exact both ways.
    fp = k.fp_from_values(["b", "a", "a", None])
    assert fp == ["a", "b"]
    assert k.fp_might_contain(fp, "a") and not k.fp_might_contain(fp, "c")
    # Empty set (all-null key column): prunes every equality read.
    assert k.fp_from_values([None]) == []
    # Bloom beyond the set cap: every inserted key tests positive.
    vals = [f"key_{i:05d}" for i in range(500)]
    bl = k.fp_from_values(vals)
    assert isinstance(bl, dict) and bl["m"] == k._FP_BLOOM_M
    assert all(k.fp_might_contain(bl, v) for v in vals)
    # False-positive rate sanity (one-sided filter, not a pin on the
    # exact rate): most absent keys must test negative at 500 keys in
    # an 8192-bit bloom.
    neg = sum(k.fp_might_contain(bl, f"other_{i}") for i in range(1000))
    assert neg < 100
    # Merges: set+set unions; union past the cap re-blooms; bloom
    # absorbs lists; equal-parameter blooms OR; anything with None
    # (or mismatched parameters) is None.
    assert k.fp_merge(["a"], ["b"]) == ["a", "b"]
    u = k.fp_merge([f"u{i}" for i in range(40)], [f"v{i}" for i in range(40)])
    assert isinstance(u, dict)
    assert all(k.fp_might_contain(u, f"u{i}") for i in range(40))
    m = k.fp_merge(bl, ["zzz"])
    assert k.fp_might_contain(m, "zzz")
    assert all(k.fp_might_contain(m, v) for v in vals)
    m2 = k.fp_merge(bl, bl)
    assert m2 == bl
    assert k.fp_merge(None, ["a"]) is None
    assert k.fp_merge(bl, {**bl, "m": 1024}) is None
    assert k.fp_from_values([1, 2]) is None
    # Malformed fingerprints admit (degrade to no pruning).
    assert k.fp_might_contain({"m": 8192}, "x")
    # Cross-process determinism anchor: blake2b is keyless, so the
    # probe positions of a known value are stable forever — a bloom
    # written by one process MUST test identically in another.
    assert k._fp_hash_pair("s1") == k._fp_hash_pair("s1")
    assert k._fp_hash_pair("s1")[1] % 2 == 1


def test_file_stats_carry_key_fingerprint(tmp_path):
    """_file_stats records the file's distinct key set beside the
    min/max bounds; nulls are dropped; a file without the key column
    records None (never prunes)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gas_data_pipeline_spark.pipeline import _stats_kernel as k

    p = str(tmp_path / "fp.parquet")
    pq.write_table(
        pa.table({"series_id": pa.array(["s2", "s1", "s2", None])}), p
    )
    st = k._file_stats(p)
    assert st[k.FP_KEY] == ["s1", "s2"]
    p2 = str(tmp_path / "nokey.parquet")
    pq.write_table(pa.table({"value": pa.array([1.0])}), p2)
    assert k._file_stats(p2)[k.FP_KEY] is None


def test_versioned_key_fingerprint_prunes_inside_minmax_range(spark, scratch):
    """The fingerprint prunes what min/max CANNOT: a key inside a
    grain's [min, max] range but absent from its actual key set.
    Layout: date 1 holds only EVEN series K_000..K_198, date 2 holds
    only i%4==1 series — every grain's range spans the keyspace, so
    range checks admit everything, and only the recorded key set
    discriminates. Dropping the fingerprints degrades to the min/max
    read with identical rows (pruning is IO-only)."""
    import json as _json

    from gas_data_pipeline_spark.pipeline.versioned import (
        FP_KEY,
        read_manifest,
        read_observations_versioned,
        upsert_observations_versioned,
    )

    rows = [
        (f"K_{i:03d}", f"2024-01-01 {i % 24:02d}:00:00", float(i),
         "2024-01-01 01:00:00", i)
        for i in range(0, 200, 2)
    ] + [
        (f"K_{i:03d}", f"2024-01-02 {i % 24:02d}:00:00", float(i),
         "2024-01-02 01:00:00", 1000 + i)
        for i in range(1, 200, 4)
    ]
    key = "spark.sql.files.maxRecordsPerFile"
    old = spark.conf.get(key, "0")
    spark.conf.set(key, "30")
    try:
        upsert_observations_versioned(
            spark, _vs_batch(spark, rows), scratch,
            order_cols=["ingestion_time", "event_id"],
        )
    finally:
        spark.conf.set(key, old)
    m = read_manifest(scratch)
    # Partition-grain ranges overlap across dates by construction…
    s1, s2 = m["stats"]["2024-01-01"], m["stats"]["2024-01-02"]
    assert s1["series_id"][0] <= "K_101" <= s1["series_id"][1]
    # …and the partition-grain fingerprint is the merged key set.
    assert s1.get(FP_KEY) is not None and s2.get(FP_KEY) is not None
    # K_101 exists only on date 2 (101 % 4 == 1, odd): date 1's RANGE
    # admits it, its key set does not — the whole partition prunes.
    df = read_observations_versioned(spark, scratch, series_ids="K_101")
    assert [(r.series_id, r.value) for r in df.collect()] == [("K_101", 101.0)]
    assert all("__pdate=2024-01-02" in f for f in df.inputFiles())
    # K_003 exists nowhere (odd, 3 % 4 == 3): every grain prunes.
    assert (
        read_observations_versioned(spark, scratch, series_ids="K_003").count()
        == 0
    )
    # File grain inside date 1: the partition fragmented into sorted
    # runs; a present key touches a strict subset of its files.
    per_file = m["file_stats"]["2024-01-01"]
    assert len(per_file) >= 2
    assert all(st.get(FP_KEY) is not None for st in per_file.values())
    df = read_observations_versioned(spark, scratch, series_ids="K_002")
    assert len(df.inputFiles()) < len(per_file)
    assert [(r.series_id, r.value) for r in df.collect()] == [("K_002", 2.0)]
    # Strip every fingerprint (an older store's manifest): the read
    # falls back to min/max — date 1 is admitted again for K_101 —
    # and rows stay identical.
    full = read_manifest(scratch)
    m3 = dict(full)
    m3["stats"] = {
        d: {c: v for c, v in st.items() if c != FP_KEY}
        for d, st in full["stats"].items()
    }
    m3["file_stats"] = {
        d: {fn: {c: v for c, v in st.items() if c != FP_KEY}
            for fn, st in files.items()}
        for d, files in full["file_stats"].items()
    }
    m3.pop("fs_shards", None)
    with open(os.path.join(scratch, "manifest.json"), "w") as fh:
        _json.dump(m3, fh)
    df = read_observations_versioned(spark, scratch, series_ids="K_101")
    assert [(r.series_id, r.value) for r in df.collect()] == [("K_101", 101.0)]
    assert any("__pdate=2024-01-01" in f for f in df.inputFiles())


def test_versioned_key_fingerprint_carries_across_commits(spark, scratch):
    """A commit touching only one date carries the other date's
    fingerprints by shard reference — the sparse-key prune keeps
    working on partitions the new commit never parsed."""
    from gas_data_pipeline_spark.pipeline.versioned import (
        read_observations_versioned,
        upsert_observations_versioned,
    )

    up = lambda b: upsert_observations_versioned(  # noqa: E731
        spark, b, scratch, order_cols=["ingestion_time", "event_id"]
    )
    up(_vs_batch(spark, [
        ("only_d1", "2024-01-01 00:00:00", 1.0, "2024-01-01 01:00:00", 1),
        ("both", "2024-01-01 01:00:00", 2.0, "2024-01-01 01:00:00", 2),
    ]))
    up(_vs_batch(spark, [
        ("both", "2024-01-02 01:00:00", 3.0, "2024-01-02 01:00:00", 3),
    ]))
    df = read_observations_versioned(spark, scratch, series_ids="only_d1")
    assert [(r.series_id, r.value) for r in df.collect()] == [("only_d1", 1.0)]
    # date 2's range ["both"] cannot exclude "only_d1" by comparison
    # alone ("both" < "only_d1"): here max < wanted, so min/max DOES
    # prune — flip to a key sorting inside the range to isolate fp.
    up(_vs_batch(spark, [
        ("a_low", "2024-01-03 01:00:00", 4.0, "2024-01-03 01:00:00", 4),
        ("z_high", "2024-01-03 02:00:00", 5.0, "2024-01-03 01:00:00", 5),
    ]))
    # "only_d1" sorts inside date 3's [a_low, z_high] range; only the
    # fingerprint excludes it.
    df = read_observations_versioned(spark, scratch, series_ids="only_d1")
    assert [(r.series_id, r.value) for r in df.collect()] == [("only_d1", 1.0)]
    assert all("__pdate=2024-01-01" in f for f in df.inputFiles())


# ---------------------------------------------------------------------------
# round 14: merge-on-read deletion vectors (Iceberg v2 positional deletes)
# ---------------------------------------------------------------------------


def _dv_store(spark, scratch):
    from gas_data_pipeline_spark.pipeline.versioned import (
        upsert_observations_versioned,
    )

    upsert_observations_versioned(
        spark,
        _vs_batch(spark, [
            ("a", "2024-01-01 00:00:00", 1.0, "2024-01-01 01:00:00", 1),
            ("b", "2024-01-01 01:00:00", 2.0, "2024-01-01 01:00:00", 2),
            ("c", "2024-01-02 00:00:00", 3.0, "2024-01-02 01:00:00", 3),
            ("b", "2024-01-02 02:00:00", 4.0, "2024-01-02 01:00:00", 4),
        ]),
        scratch,
        order_cols=["ingestion_time", "event_id"],
    )


def test_mor_delete_rewrites_nothing_and_reads_exact(spark, scratch):
    """A merge-on-read DELETE commits the identical logical result as
    copy-on-write while touching ZERO data files: the partition map is
    unchanged, a ``dv`` ref map appears, readers subtract the vectors,
    a version pinned before the delete still sees the rows, and a
    second delete applies the first's vectors before matching."""
    from gas_data_pipeline_spark.pipeline.versioned import (
        delete_versioned,
        read_manifest,
        read_observations_versioned,
    )

    _dv_store(spark, scratch)
    m1 = read_manifest(scratch)
    m2 = delete_versioned(
        spark, scratch, F.col("series_id") == "b", mode="merge-on-read"
    )
    assert m2["version"] == m1["version"] + 1
    assert m2["partitions"] == m1["partitions"]  # zero data-file churn
    assert set(m2["dv"]) == {"2024-01-01", "2024-01-02"}
    got = sorted(
        (r.series_id, r.value)
        for r in read_observations_versioned(spark, scratch).collect()
    )
    assert got == [("a", 1.0), ("c", 3.0)]
    # Pinned pre-delete snapshot reads the rows as before.
    assert read_observations_versioned(
        spark, scratch, version=m1["version"]
    ).count() == 4
    # Filtered reads subtract too (the DV join rides on the scan).
    assert read_observations_versioned(
        spark, scratch, series_ids="b"
    ).count() == 0
    # Second MOR delete: prior vectors apply before matching, refs
    # APPEND per date.
    m3 = delete_versioned(
        spark, scratch, F.col("series_id") == "c", mode="merge-on-read"
    )
    assert len(m3["dv"]["2024-01-02"]) == 2
    got = sorted(
        (r.series_id, r.value)
        for r in read_observations_versioned(spark, scratch).collect()
    )
    assert got == [("a", 1.0)]
    # No-match delete publishes nothing.
    m4 = delete_versioned(
        spark, scratch, F.col("series_id") == "zzz", mode="merge-on-read"
    )
    assert m4["version"] == m3["version"]
    # Null-predicate rows are KEPT (three-valued logic).
    m5 = delete_versioned(
        spark, scratch, F.col("value") > F.lit(None).cast("double"),
        mode="merge-on-read",
    )
    assert m5["version"] == m3["version"]
    # Unknown mode is refused.
    import pytest as _pytest

    with _pytest.raises(ValueError):
        delete_versioned(spark, scratch, F.lit(True), mode="in-place")


def test_mor_delete_refs_drop_on_rewrite_without_resurrection(spark, scratch):
    """The rewrite lifecycle: an upsert over a DV-bearing date applies
    the vectors during its merge read (deleted rows must NOT
    resurrect) and the publish drops that date's refs with the changed
    directory; untouched dates carry theirs."""
    from gas_data_pipeline_spark.pipeline.versioned import (
        delete_versioned,
        read_manifest,
        read_observations_versioned,
        upsert_observations_versioned,
    )

    _dv_store(spark, scratch)
    delete_versioned(
        spark, scratch, F.col("series_id") == "b", mode="merge-on-read"
    )
    upsert_observations_versioned(
        spark,
        _vs_batch(spark, [
            ("d", "2024-01-01 05:00:00", 9.0, "2024-01-03 01:00:00", 9),
        ]),
        scratch,
        order_cols=["ingestion_time", "event_id"],
    )
    m = read_manifest(scratch)
    assert "2024-01-01" not in (m.get("dv") or {})   # rewritten: dropped
    assert "2024-01-02" in (m.get("dv") or {})       # untouched: carried
    got = sorted(
        (r.series_id, r.value)
        for r in read_observations_versioned(spark, scratch).collect()
    )
    assert got == [("a", 1.0), ("c", 3.0), ("d", 9.0)]


def test_mor_delete_compaction_materializes_and_vacuum_reclaims(
    spark, scratch
):
    """Compaction is the materialization point: DV-bearing partitions
    rewrite regardless of file count, the vectors apply, refs clear,
    a fully-deleted date vanishes like a copy-on-write delete would
    end it, pinned pre-compaction versions still subtract, and vacuum
    reclaims unreferenced dv tag dirs while keeping referenced ones."""
    import os as _os

    from gas_data_pipeline_spark.pipeline.versioned import (
        delete_versioned,
        compact_versioned,
        read_observations_versioned,
        vacuum,
    )

    _dv_store(spark, scratch)
    delete_versioned(
        spark, scratch, F.col("series_id") == "b", mode="merge-on-read"
    )
    delete_versioned(
        spark, scratch, F.col("series_id") == "c", mode="merge-on-read"
    )
    m = compact_versioned(spark, scratch, target_bytes=1024 * 1024)
    assert not (m.get("dv") or {})
    # Every 2024-01-02 row was deleted: the date is gone.
    assert "2024-01-02" not in m["partitions"]
    got = sorted(
        (r.series_id, r.value)
        for r in read_observations_versioned(spark, scratch).collect()
    )
    assert got == [("a", 1.0)]
    # Pinned pre-compaction version still subtracts its vectors.
    pre = read_observations_versioned(spark, scratch, version=m["version"] - 1)
    assert sorted((r.series_id, r.value) for r in pre.collect()) == [("a", 1.0)]
    # Compacted reads are PLAIN scans again: no anti-join in the plan.
    plan = read_observations_versioned(
        spark, scratch
    )._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" not in plan
    # Vacuum: collapsing retention reclaims the now-unreferenced dv
    # tag dirs; with the DV snapshot retained they survive.
    gone = vacuum(scratch, retain_last_n=1, min_age_seconds=0)
    assert any(g.startswith("dv/") for g in gone)
    dvdir = _os.path.join(scratch, "dv")
    assert not (_os.path.isdir(dvdir) and _os.listdir(dvdir))
    assert read_observations_versioned(spark, scratch).count() == 1


def test_mor_delete_changelog_emits_removals(spark, scratch):
    """A MOR delete changes no directories, so the changelog keys
    churn on the dv map too: the deleted rows appear as removals,
    each side subtracting its own snapshot's vectors."""
    from gas_data_pipeline_spark.pipeline.versioned import (
        changelog_versioned,
        delete_versioned,
        read_manifest,
    )

    _dv_store(spark, scratch)
    v1 = read_manifest(scratch)["version"]
    delete_versioned(
        spark, scratch, F.col("series_id") == "b", mode="merge-on-read"
    )
    cl = changelog_versioned(spark, scratch, v1, v1 + 1).collect()
    assert sorted((r.series_id, r.change_type) for r in cl) == [
        ("b", "delete"), ("b", "delete"),
    ]


def test_mor_delete_plan_broadcasts_dv_and_plain_without(spark, scratch):
    """Plan pins: a DV-bearing read subtracts via a BROADCAST anti-
    join on the scan (the vector side is deleted-rows-sized — the
    scan must never shuffle for it); a store without vectors plans
    the identical plain scan as before (zero regression)."""
    from gas_data_pipeline_spark.pipeline.versioned import (
        delete_versioned,
        read_observations_versioned,
    )

    _dv_store(spark, scratch)
    plain = read_observations_versioned(
        spark, scratch
    )._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" not in plain
    delete_versioned(
        spark, scratch, F.col("series_id") == "b", mode="merge-on-read"
    )
    df = read_observations_versioned(spark, scratch)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# round 14: equality deletes (metadata-only key erasure)
# ---------------------------------------------------------------------------


def test_eq_delete_metadata_only_commit_and_read(spark, scratch):
    """delete_versioned_by_key commits with ZERO data IO: unchanged
    partition map, no files under <root>/dv, the key list resident in
    the manifest, readers compile the subtraction into a plain filter
    (no join in the plan), and the manifest's stats/fingerprints
    bound which partitions are referenced at all."""
    import os as _os

    from gas_data_pipeline_spark.pipeline.versioned import (
        delete_versioned_by_key,
        read_manifest,
        read_observations_versioned,
    )

    _dv_store(spark, scratch)
    m1 = read_manifest(scratch)
    m2 = delete_versioned_by_key(spark, scratch, "b")
    assert m2["partitions"] == m1["partitions"]
    assert not _os.path.isdir(_os.path.join(scratch, "dv"))
    assert set(m2["dv_eq"]) == {"2024-01-01", "2024-01-02"}
    (tag,) = m2["dv_eq"]["2024-01-01"]
    assert m2["dv_eq_sets"][tag] == ["b"]
    df = read_observations_versioned(spark, scratch)
    got = sorted((r.series_id, r.value) for r in df.collect())
    assert got == [("a", 1.0), ("c", 3.0)]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan  # pure Catalyst filter, no DV join
    # Pinned pre-delete snapshot reads unchanged.
    assert read_observations_versioned(
        spark, scratch, version=m1["version"]
    ).count() == 4
    # Keys no partition can hold (stats/fingerprint-excluded):
    # publishes NOTHING — the blast radius is stats-bounded.
    m3 = delete_versioned_by_key(spark, scratch, "zzz_not_there")
    assert m3["version"] == m2["version"]
    # 'c' exists only on 2024-01-02: the fingerprint keeps date 1
    # out of the new tag's refs.
    m4 = delete_versioned_by_key(spark, scratch, ["c"])
    assert len(m4["dv_eq"]["2024-01-02"]) == 2
    assert len(m4["dv_eq"]["2024-01-01"]) == 1
    assert sorted(
        (r.series_id, r.value)
        for r in read_observations_versioned(spark, scratch).collect()
    ) == [("a", 1.0)]
    # Guard rails.
    import pytest as _pytest

    with _pytest.raises(ValueError):
        delete_versioned_by_key(spark, scratch, [])
    with _pytest.raises(ValueError):
        delete_versioned_by_key(spark, scratch, ["x"] * 10_001)


def test_eq_delete_is_date_scoped_reinsert_and_materialize(spark, scratch):
    """The regression the design is built around: equality refs are
    DATE-scoped. Re-inserting a deleted series rewrites one date —
    that date's refs (and, once unreferenced, the key set) drop and
    the new rows read back, while the untouched date stays deleted.
    Compaction materializes the rest; the changelog emits removals
    for the delete commit."""
    from gas_data_pipeline_spark.pipeline.versioned import (
        changelog_versioned,
        compact_versioned,
        delete_versioned_by_key,
        read_manifest,
        read_observations_versioned,
        upsert_observations_versioned,
    )

    _dv_store(spark, scratch)
    v1 = read_manifest(scratch)["version"]
    delete_versioned_by_key(spark, scratch, "b")
    upsert_observations_versioned(
        spark,
        _vs_batch(spark, [
            ("b", "2024-01-01 09:00:00", 7.0, "2024-01-05 01:00:00", 9),
        ]),
        scratch,
        order_cols=["ingestion_time", "event_id"],
    )
    m = read_manifest(scratch)
    assert "2024-01-01" not in (m.get("dv_eq") or {})
    assert "2024-01-02" in (m.get("dv_eq") or {})
    got = sorted(
        (r.series_id, r.value)
        for r in read_observations_versioned(spark, scratch).collect()
    )
    # date 1's new b row lives; date 2's old b row stays deleted.
    assert got == [("a", 1.0), ("b", 7.0), ("c", 3.0)]
    cl = changelog_versioned(spark, scratch, v1, v1 + 1).collect()
    assert sorted((r.series_id, r.change_type) for r in cl) == [
        ("b", "delete"), ("b", "delete"),
    ]
    m2 = compact_versioned(spark, scratch, target_bytes=1024 * 1024)
    assert not (m2.get("dv_eq") or {})
    assert not (m2.get("dv_eq_sets") or {})
    got2 = sorted(
        (r.series_id, r.value)
        for r in read_observations_versioned(spark, scratch).collect()
    )
    assert got2 == got


def test_eq_delete_composes_with_positional_vectors(spark, scratch):
    """Both delete-file kinds stack: an equality delete followed by a
    positional merge-on-read delete — the positional scan applies the
    equality condition first (an erased row is never named in a
    vector), reads subtract both, and an upsert's rewrite clears both
    kinds for the rewritten date."""
    from gas_data_pipeline_spark.pipeline.versioned import (
        delete_versioned,
        delete_versioned_by_key,
        read_manifest,
        read_observations_versioned,
        upsert_observations_versioned,
    )

    _dv_store(spark, scratch)
    delete_versioned_by_key(spark, scratch, "b")
    delete_versioned(
        spark, scratch, F.col("value") >= 3.0, mode="merge-on-read"
    )
    got = sorted(
        (r.series_id, r.value)
        for r in read_observations_versioned(spark, scratch).collect()
    )
    assert got == [("a", 1.0)]
    m = read_manifest(scratch)
    # The positional vector names only the c row (value 3.0): b's
    # rows were already equality-deleted, so date 1 (a=1.0, b erased)
    # has nothing to name.
    assert set(m["dv"]) == {"2024-01-02"}
    upsert_observations_versioned(
        spark,
        _vs_batch(spark, [
            ("d", "2024-01-02 06:00:00", 8.0, "2024-01-06 01:00:00", 11),
        ]),
        scratch,
        order_cols=["ingestion_time", "event_id"],
    )
    m2 = read_manifest(scratch)
    assert "2024-01-02" not in (m2.get("dv") or {})
    assert "2024-01-02" not in (m2.get("dv_eq") or {})
    got = sorted(
        (r.series_id, r.value)
        for r in read_observations_versioned(spark, scratch).collect()
    )
    assert got == [("a", 1.0), ("d", 8.0)]


def test_unfingerprinted_file_reads_identical_rows(spark, scratch):
    """A file with more than ``_FP_DISTINCT_CAP`` distinct keys commits
    no key fingerprint (at either stats grain), yet every series read
    over it returns exactly the rows a row-level filter does — beside
    a fingerprinted date that still prunes by key."""
    from gas_data_pipeline_spark.pipeline import _stats_kernel as k
    from gas_data_pipeline_spark.pipeline.versioned import (
        FP_KEY,
        read_manifest,
        read_observations_versioned,
        upsert_observations_versioned,
    )

    n = k._FP_DISTINCT_CAP + 1
    wide = spark.range(n).select(
        F.format_string("K_%06d", "id").alias("series_id"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("observation_time"),
        F.col("id").cast("double").alias("value"),
        F.lit("2024-01-01 01:00:00").cast("timestamp").alias("ingestion_time"),
        F.col("id").alias("event_id"),
    )
    narrow = _vs_batch(
        spark, [("K_000003", "2024-01-02 00:00:00", -3.0, "2024-01-02 01:00:00", n)]
    )
    order = ["ingestion_time", "event_id"]
    upsert_observations_versioned(spark, wide, scratch, order_cols=order)
    upsert_observations_versioned(spark, narrow, scratch, order_cols=order)
    m = read_manifest(scratch)
    wide_files = m["file_stats"]["2024-01-01"]
    assert len(wide_files) == 1
    assert all(FP_KEY not in st for st in wide_files.values())
    assert FP_KEY not in m["stats"]["2024-01-01"]
    assert all(FP_KEY in st for st in m["file_stats"]["2024-01-02"].values())
    full = read_observations_versioned(spark, scratch)
    for sid in ("K_000003", "K_065536", "K_000000"):
        got = sorted(
            (r.observation_time, r.value)
            for r in read_observations_versioned(
                spark, scratch, series_ids=sid
            ).collect()
        )
        want = sorted(
            (r.observation_time, r.value)
            for r in full.filter(F.col("series_id") == sid).collect()
        )
        assert got == want and got
    assert read_observations_versioned(
        spark, scratch, series_ids="K_999999"
    ).count() == 0


def test_table_status_reports_maintenance_state(spark, scratch):
    """table_status is the maintenance scheduler's one-call input:
    live file/byte counts, fragmentation candidates, both delete-debt
    grains, fingerprint coverage, and the time-travel window — all
    from the manifest plane plus per-partition listdirs, no data
    pages."""
    from gas_data_pipeline_spark.pipeline.versioned import (
        compact_versioned,
        delete_versioned,
        delete_versioned_by_key,
        table_status,
    )

    _dv_store(spark, scratch)
    st = table_status(scratch)
    assert st["version"] == 1
    assert st["n_partitions"] == 2 and st["n_files"] >= 2
    assert st["bytes"] > 0
    assert st["dv_debt"]["dates"] == [] and st["eq_debt"]["dates"] == []
    assert st["fingerprint_coverage"] == 1.0
    delete_versioned(
        spark, scratch, F.col("series_id") == "b", mode="merge-on-read"
    )
    delete_versioned_by_key(spark, scratch, "c")
    st = table_status(scratch)
    assert st["dv_debt"]["dates"] == ["2024-01-01", "2024-01-02"]
    assert st["dv_debt"]["n_deleted_rows"] == 2  # b's two rows, named
    assert st["eq_debt"]["dates"] == ["2024-01-02"]  # fp bounds 'c' to d2
    assert st["eq_debt"]["n_tags"] == 1 and st["eq_debt"]["n_keys"] == 1
    assert len(st["history_versions"]) >= 2
    compact_versioned(spark, scratch, target_bytes=1024 * 1024)
    st = table_status(scratch)
    assert st["dv_debt"]["dates"] == [] and st["eq_debt"]["dates"] == []
    assert st["fragmented_partitions"] == []


def test_timestamp_time_travel(spark, scratch):
    """AS-OF time travel (Iceberg's timestamp snapshot resolution):
    commits stamp committed_at at publish inside the lock, as_of
    resolves to the newest snapshot at-or-before the bound (epoch
    float, datetime, or ISO string), a bound older than every
    snapshot raises instead of guessing, and version/as_of are
    mutually exclusive."""
    import time as _time

    from gas_data_pipeline_spark.pipeline.versioned import (
        read_manifest,
        read_observations_versioned,
        resolve_version_at,
        upsert_observations_versioned,
    )

    up = lambda b: upsert_observations_versioned(  # noqa: E731
        spark, b, scratch, order_cols=["ingestion_time", "event_id"]
    )
    up(_vs_batch(spark, [("a", "2024-01-01 00:00:00", 1.0,
                          "2024-01-01 01:00:00", 1)]))
    t1 = read_manifest(scratch)["committed_at"]
    up(_vs_batch(spark, [("a", "2024-01-01 00:00:00", 2.0,
                          "2024-01-02 01:00:00", 2)]))
    t2 = read_manifest(scratch)["committed_at"]
    assert t2 > t1  # stamped inside the lock: monotone with versions
    mid = (t1 + t2) / 2
    assert resolve_version_at(scratch, mid) == 1
    assert resolve_version_at(scratch, t2) == 2
    got = read_observations_versioned(spark, scratch, as_of=mid).collect()
    assert [(r.series_id, r.value) for r in got] == [("a", 1.0)]
    got = read_observations_versioned(
        spark, scratch, as_of=_time.time()
    ).collect()
    assert [(r.series_id, r.value) for r in got] == [("a", 2.0)]
    # ISO-string bound resolves identically.
    import datetime as _dt

    iso = _dt.datetime.fromtimestamp(mid, _dt.timezone.utc).isoformat()
    assert resolve_version_at(scratch, iso) == 1
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        resolve_version_at(scratch, t1 - 100)
    with _pytest.raises(ValueError):
        read_observations_versioned(spark, scratch, version=1, as_of=mid)


def test_mor_delete_fenced_by_interleaved_writer(spark, scratch, monkeypatch):
    """A merge-on-read delete that computed its positions against a
    snapshot an interleaved upsert has since replaced MUST be refused
    at publish (its vector names positions in files the winner may
    have rewritten), and its staged-but-unreferenced vector dir is
    exactly what vacuum's min-age path reclaims."""
    import os as _os

    import pytest as _pytest

    from gas_data_pipeline_spark.pipeline import versioned as V

    _dv_store(spark, scratch)
    real_read = V.read_manifest
    state = {"interleaved": False}

    def interleaving_read(root, version=None, with_stats=True):
        m = real_read(root, version, with_stats=with_stats)
        if not state["interleaved"] and root == scratch:
            state["interleaved"] = True  # guard BEFORE the recursive upsert
            V.upsert_observations_versioned(
                spark,
                _vs_batch(spark, [
                    ("z", "2024-01-01 03:00:00", 5.0,
                     "2024-01-09 01:00:00", 99),
                ]),
                scratch,
                order_cols=["ingestion_time", "event_id"],
            )
        return m

    monkeypatch.setattr(V, "read_manifest", interleaving_read)
    with _pytest.raises(V.ConcurrentCommitError):
        V.delete_versioned(
            spark, scratch, F.col("series_id") == "b", mode="merge-on-read"
        )
    monkeypatch.setattr(V, "read_manifest", real_read)
    # The loser's staged vector dir is orphaned (no manifest refs it)…
    dv_root = _os.path.join(scratch, "dv")
    orphans = _os.listdir(dv_root) if _os.path.isdir(dv_root) else []
    assert orphans
    # …the winner's rows are intact, nothing was deleted…
    got = sorted(
        (r.series_id, r.value)
        for r in V.read_observations_versioned(spark, scratch).collect()
    )
    assert got == [("a", 1.0), ("b", 2.0), ("b", 4.0), ("c", 3.0), ("z", 5.0)]
    # …and vacuum reclaims the orphan (min-age 0: test posture).
    gone = V.vacuum(scratch, retain_last_n=1, min_age_seconds=0)
    assert any(g.startswith("dv/") for g in gone)
    assert not (_os.path.isdir(dv_root) and _os.listdir(dv_root))
    # A re-run against the current snapshot then succeeds.
    V.delete_versioned(
        spark, scratch, F.col("series_id") == "b", mode="merge-on-read"
    )
    got = sorted(
        (r.series_id, r.value)
        for r in V.read_observations_versioned(spark, scratch).collect()
    )
    assert got == [("a", 1.0), ("c", 3.0), ("z", 5.0)]


def test_update_versioned_cow_lifecycle(spark, scratch):
    """Copy-on-write UPDATE: matched rows get the assignments,
    unmatched copy through bit-identical, pinned pre-update versions
    read the old values, a no-match update publishes nothing, prior
    deletion vectors on rewritten dates apply (no resurrection) and
    their refs drop, and key/partition columns are refused targets."""
    import pytest as _pytest

    from gas_data_pipeline_spark.pipeline.versioned import (
        delete_versioned,
        read_manifest,
        read_observations_versioned,
        update_versioned,
    )

    _dv_store(spark, scratch)
    m = update_versioned(
        spark, scratch, F.col("series_id") == "b",
        {"value": F.col("value") * 10},
    )
    assert m["version"] == 2
    got = sorted(
        (r.series_id, r.value)
        for r in read_observations_versioned(spark, scratch).collect()
    )
    assert got == [("a", 1.0), ("b", 20.0), ("b", 40.0), ("c", 3.0)]
    old = sorted(
        (r.series_id, r.value)
        for r in read_observations_versioned(spark, scratch, version=1).collect()
    )
    assert old == [("a", 1.0), ("b", 2.0), ("b", 4.0), ("c", 3.0)]
    assert update_versioned(
        spark, scratch, F.col("series_id") == "zz", {"value": 0.0}
    )["version"] == 2
    delete_versioned(
        spark, scratch, F.col("series_id") == "a", mode="merge-on-read"
    )
    m2 = update_versioned(
        spark, scratch, F.col("series_id") == "b", {"value": 7.0}
    )
    assert "2024-01-01" not in (m2.get("dv") or {})
    got = sorted(
        (r.series_id, r.value)
        for r in read_observations_versioned(spark, scratch).collect()
    )
    assert got == [("b", 7.0), ("b", 7.0), ("c", 3.0)]
    with _pytest.raises(ValueError, match="key/partition"):
        update_versioned(spark, scratch, F.lit(True), {"series_id": "x"})
    with _pytest.raises(ValueError, match="at least one"):
        update_versioned(spark, scratch, F.lit(True), {})
