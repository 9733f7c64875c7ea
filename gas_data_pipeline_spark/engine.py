"""GasDataEngine — the user-facing facade: the reference's full public
API surface over a Spark lakehouse.

A user of the reference talks to (a) the ingest endpoints
(``POST /v2/ingest/*`` — reference app/api/v2/ingestion.py), (b) the
query API (``GET /v2/data`` — app/api/v2/routes.py:12-61), (c) the
Python client (``gas_client.get_history`` — app/client/gas_client.py:
7-52), (d) discovery (``GET /v2/discovery/*`` — app/api/v2/discovery.py)
and (e) exports (``GET /v2/export/*`` — app/api/v2/export.py). This
class exposes each of those, one method per endpoint, over a lakehouse
root::

    root/
    ├── bronze/                 raw zero-loss event store (SNK1)
    ├── silver/observations/    long-format typed series (SNK2 upsert)
    ├── dims/meta_series/       auto-registered series catalog (SNK3)
    └── dims/field_catalog/     inferred schema registry (A4)

The ingest path is ONE linear DataFrame job (SURVEY §3.2): land bronze
→ melt wide→long with the series id derived in the same pass → window
dedup → partition-scoped upsert. The reference's per-series loop
(run_all.py:91-118, O(series × batch)) does not exist here.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gas_data_pipeline_spark.functions import make_series_id
from gas_data_pipeline_spark.pipeline.bronze import bronze_append, read_bronze
from gas_data_pipeline_spark.pipeline.dims import insert_if_absent
from gas_data_pipeline_spark.pipeline.silver import (
    read_observations,
    upsert_observations,
)
from gas_data_pipeline_spark.suite.reshape import melt_numeric


class GasDataEngine:
    """One engine instance per lakehouse root (single-writer, like the
    reference scheduler's ``max_instances=1``)."""

    def __init__(
        self, spark: SparkSession, root: str, atomic_silver: bool = True
    ):
        """``atomic_silver=True`` (the default since round 12 — VERDICT
        r11 #6) routes the observation store through the versioned
        manifest-commit layer (pipeline/versioned.py): identical
        upsert semantics, but each commit is one atomic manifest
        rename (snapshot-isolated readers, structural partition
        sharing, time travel, manifest-declared schema evolution,
        stats-pruned reads) instead of a dynamic partition overwrite.
        The plain path stays available as an explicit opt-out for
        stores that predate the manifest layer — it carries no
        schema-evolution contract (pipeline/silver.py documents
        that)."""
        self.spark = spark
        self.root = root
        self.atomic_silver = atomic_silver
        self.bronze_path = os.path.join(root, "bronze")
        self.obs_path = os.path.join(root, "silver", "observations")
        self.series_path = os.path.join(root, "dims", "meta_series")
        self.fields_path = os.path.join(root, "dims", "field_catalog")

    # ------------------------------------------------------------------
    # Write path (reference §3.2: POST /v2/ingest/*)
    # ------------------------------------------------------------------

    def ingest_batch(
        self,
        batch: DataFrame,
        dataset_id: str,
        source: str,
        id_cols: list[str],
        time_col: str,
        quality_col: str | None = None,
        collect_stats: bool = True,
    ) -> dict[str, int] | None:
        """Full ingest: bronze landing, schema discovery, series
        auto-registration, melt, silver upsert — the reference's
        fetch→raw→discover→register→transform→load chain
        (run_all.py:70-118) as one set-based job per stage.

        ``id_cols`` are the entity keys (reference: siteId etc.);
        every OTHER numeric column melts into a series (R1 rule,
        series_autoregister.py:26-31). Returns row counts per stage —
        or None with ``collect_stats=False``, which skips the three
        count-only jobs (batch/observations/new-series); the scheduler
        loop uses that mode since the counts are observability, not
        pipeline inputs.

        The four sinks (bronze, field catalog, series catalog, silver)
        are data-independent — each derives from ``batch`` alone and
        writes its own store — so their jobs run CONCURRENTLY on the
        shared scheduler and the cycle's wall-clock is the slowest
        stage, not the sum. Atomicity is unchanged: the micro-batch
        completes only when every stage has committed (all futures
        joined before return), and a replay after a partial failure
        re-runs the whole batch exactly as the sequential chain would.
        """
        from concurrent.futures import ThreadPoolExecutor

        # R1 + S1 — one-pass melt with derived series identity.
        long = melt_numeric(batch, id_cols=[*id_cols, time_col])
        long = long.withColumn(
            "series_id",
            make_series_id(dataset_id, *[F.col(c) for c in id_cols], F.col("metric")),
        )
        observations = long.select(
            "series_id",
            F.col(time_col).cast("timestamp").alias("observation_time"),
            F.col("value").cast("double").alias("value"),
            (
                F.col(quality_col) if quality_col else F.lit("ok")
            ).alias("quality_flag"),
            F.current_timestamp().alias("ingestion_time"),
        ).filter(F.col("value").isNotNull() & F.col("observation_time").isNotNull())

        # SNK3 — series catalog insert-if-absent (B: auto-registration).
        # The series set is derived from the WIDE batch, not the melted
        # observations: a series exists iff some row of its entity has
        # a non-null value for its metric (and a non-null time) — which
        # is a |entities|-sized any-non-null rollup followed by a tiny
        # melt, instead of re-running the full melt and a distinct over
        # |rows|x|metrics| observations. Identical output set; the
        # melt-expanded stream is never re-scanned for registration.
        from pyspark.sql.types import DoubleType

        metric_cols = sorted(
            f.name
            for f in batch.schema.fields
            if isinstance(f.dataType, DoubleType)
            and f.name not in id_cols
            and f.name != time_col
        )
        present = (
            batch.filter(F.col(time_col).isNotNull())
            .groupBy(*id_cols)
            .agg(*[F.max(F.col(c).isNotNull()).alias(c) for c in metric_cols])
        )
        series_dim = (
            present.melt(
                ids=id_cols,
                values=metric_cols,
                variableColumnName="metric",
                valueColumnName="__has_value",
            )
            .filter(F.col("__has_value"))
            .select(
                make_series_id(
                    dataset_id, *[F.col(c) for c in id_cols], F.col("metric")
                ).alias("series_id"),
                F.lit(dataset_id).alias("dataset_id"),
                F.lit(source).alias("source"),
                F.lit("daily").alias("frequency"),
                F.lit(30).alias("lookback_days"),
                F.lit(True).alias("is_active"),
                F.current_timestamp().alias("first_seen_at"),
            )
        )
        # Count BEFORE the upsert commits: a caller may legally derive
        # ``batch`` from a read of the very store being upserted.
        n_obs = observations.count() if collect_stats else 0

        with ThreadPoolExecutor(max_workers=4) as pool:
            # SNK1 — zero-loss raw landing.
            f_bronze = pool.submit(
                bronze_append, batch, dataset_id, source, self.bronze_path
            )
            # A4 — incremental schema discovery on this batch's payloads.
            f_fields = pool.submit(
                self._discover_and_register_fields, batch, dataset_id
            )
            # SNK3 — series catalog insert-if-absent.
            f_series = pool.submit(
                insert_if_absent,
                self.spark,
                series_dim,
                self.series_path,
                keys=["series_id"],
            )
            # SNK2 — idempotent last-write-wins upsert (atomic
            # manifest-commit variant when configured). The atomic
            # path goes through the client retry loop: a scheduler
            # cycle fenced by a concurrent committer re-reads the new
            # snapshot and re-merges instead of failing the whole
            # ingest (the raw upsert raises — correct for callers that
            # manage their own retry, wrong as the engine default).
            if self.atomic_silver:
                from gas_data_pipeline_spark.pipeline.versioned import (
                    upsert_with_retry,
                )

                f_obs = pool.submit(
                    upsert_with_retry,
                    self.spark,
                    observations,
                    self.obs_path,
                )
            else:
                f_obs = pool.submit(
                    upsert_observations, self.spark, observations, self.obs_path
                )
            f_bronze.result()
            f_fields.result()
            new_series = f_series.result()
            f_obs.result()

        if not collect_stats:
            return None
        return {
            "bronze_rows": batch.count(),
            "observations": n_obs,
            "new_series": new_series.count(),
        }

    def _discover_and_register_fields(self, batch: DataFrame, dataset_id: str) -> None:
        """A4: profile every column of the batch under the reference's
        per-VALUE type lattice null|boolean|integer|float|json|string
        (field_discovery.py:5-16) — a field's type is the comma-joined
        sorted set of its observed value types (field_discovery.py:46),
        so mixed fields report e.g. 'integer,string' and a column
        holding both 'true' and 'false' is 'boolean' — then upsert the
        field catalog insert-if-absent (SNK3)."""
        from gas_data_pipeline_spark.functions.profiling import (
            infer_value_type,
            inferred_type_agg,
        )

        # One global aggregate computes every column's profile in a
        # single scan: the per-column lattice set / null flag / example
        # are independent aggregates, so exploding rows x columns into
        # a (field, cell) relation first (the field_profile QUERY shape)
        # only adds a |columns|x row expansion plus a keyed exchange to
        # the ingest hot loop. State is bounded (<= 6 lattice types per
        # column), so the 1-row reduce is safe at any batch size.
        def col_profile(c: str) -> F.Column:
            v = F.col(c).cast("string")
            return F.struct(
                inferred_type_agg(infer_value_type(v)).alias("inferred_type"),
                (F.count(F.lit(1)) > F.count(v)).alias("nullable"),
                # Example truncated to 200 chars (field_discovery.py:62).
                F.substring(F.min(v), 1, 200).alias("example_value"),
            )

        one = batch.agg(
            *[col_profile(c).alias(f"__p_{i}") for i, c in enumerate(batch.columns)]
        )
        profile = one.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("field_name"),
                            F.col(f"__p_{i}").alias("p"),
                        )
                        for i, c in enumerate(batch.columns)
                    ]
                )
            ).alias("kv")
        ).select(
            "kv.field_name",
            F.col("kv.p.inferred_type").alias("inferred_type"),
            F.col("kv.p.nullable").alias("nullable"),
            F.col("kv.p.example_value").alias("example_value"),
            F.current_timestamp().alias("first_seen_at"),
        ).withColumn("dataset_id", F.lit(dataset_id))
        insert_if_absent(
            self.spark, profile, self.fields_path, keys=["dataset_id", "field_name"]
        )

    # ------------------------------------------------------------------
    # Read path (reference §3.1: GET /v2/data; §3.3: get_history)
    # ------------------------------------------------------------------

    def _read_obs(
        self, series_id: str | None = None, start=None, end=None
    ) -> DataFrame:
        """The observation store, resolved through the configured
        commit layer: a plain parquet scan, or the current manifest
        snapshot when ``atomic_silver`` (one atomic resolution — a
        concurrent upsert never yields a mixed read). Under the
        versioned store the optional predicates prune at the MANIFEST
        level — a date range selects partition entries and a series id
        consults the per-partition column stats BEFORE any file
        listing (round 12: get_data previously read every partition
        and filtered at row level, so the metadata prune never fired
        on the API's hottest path). Row-level filters still apply
        inside, so callers that also filter are merely redundant,
        never wrong."""
        if not self.atomic_silver:
            return self.spark.read.parquet(self.obs_path)
        from gas_data_pipeline_spark.pipeline.versioned import (
            read_observations_versioned,
        )

        return read_observations_versioned(
            self.spark,
            self.obs_path,
            start=start,
            end=end,
            series_ids=series_id,
        )

    def get_data(
        self,
        series_id: str | None = None,
        dataset_id: str | None = None,
        quality_flag: str | None = None,
        start=None,
        end=None,
        min_value: float | None = None,
        max_value: float | None = None,
        limit: int = 1000,
        offset: int = 0,
        nested: bool = False,
    ) -> DataFrame:
        """The flagship DATA_QUERY (queries.py:3-26): dim⋈fact with 7
        optional filters, time-ordered, paginated. Filters enter the
        plan only when provided (pushdown-eligible); the series dim is
        broadcast. ``nested=True`` returns the API's response shape —
        one row per series with an ordered ``points`` array (A1)."""
        limit = min(limit, 5000)  # routes.py:20 cap
        obs = self._read_obs(series_id=series_id, start=start, end=end)
        meta = self.spark.read.parquet(self.series_path)
        if series_id is not None:
            obs = obs.filter(F.col("series_id") == series_id)
        if quality_flag is not None:
            obs = obs.filter(F.col("quality_flag") == quality_flag)
        if start is not None:
            obs = obs.filter(F.col("observation_time") >= start)
        if end is not None:
            obs = obs.filter(F.col("observation_time") <= end)
        if min_value is not None:
            obs = obs.filter(F.col("value") >= min_value)
        if max_value is not None:
            obs = obs.filter(F.col("value") <= max_value)
        if dataset_id is not None:
            meta = meta.filter(F.col("dataset_id") == dataset_id)
        joined = obs.join(
            F.broadcast(meta.select("series_id", "dataset_id", "source", "frequency")),
            "series_id",
            "inner",
        )
        flat = joined.select(
            "series_id",
            "dataset_id",
            "source",
            "frequency",
            "observation_time",
            "value",
            "quality_flag",
        )
        # W3: stable pagination needs a total order (SURVEY §7 #2). The
        # reference applies ORDER BY/LIMIT/OFFSET in DATA_QUERY *first*
        # and only then groups the paginated rows into the nested
        # response (queries.py:3-26 + routes.py:40-61) — so the page
        # slice applies to the flat rows in BOTH shapes. Native
        # offset/limit plans as TakeOrderedAndProject(offset+limit) —
        # a distributed partial top-k per partition merged on the
        # driver, bounded by the API caps (limit ≤ 5000) — instead of
        # funneling the whole filtered result through one
        # global-window task.
        paged = (
            flat.orderBy("observation_time", "series_id")
            .offset(offset)
            .limit(limit)
        )
        if nested:
            return (
                paged.groupBy("series_id", "dataset_id", "source", "frequency")
                .agg(
                    F.sort_array(
                        F.collect_list(
                            F.struct("observation_time", "value", "quality_flag")
                        )
                    ).alias("points")
                )
            )
        return paged

    def get_history(
        self,
        series_id: str,
        last_days: int | None = None,
        start=None,
        end=None,
    ) -> DataFrame:
        """The Python client read (gas_client/client.py:8-48):
        ``last_days`` resolves to [now-Δ, now] UTC, else explicit
        start/end; key + range scan, time-ordered."""
        if last_days is not None:
            now = datetime.now(timezone.utc)
            start, end = now - timedelta(days=last_days), now
        if not self.atomic_silver:
            return read_observations(
                self.spark, self.obs_path, series_id=series_id, start=start, end=end
            )
        from gas_data_pipeline_spark.pipeline.versioned import (
            read_observations_versioned,
        )

        # Manifest-level pruning replaces directory-listing pruning;
        # the series predicate prunes on the manifest's per-partition
        # column stats too (the reference's B-tree on (series_id,
        # observation_time) — db_queries.sql:79-80 — re-expressed as
        # commit metadata), and the row-level filter rides inside.
        df = read_observations_versioned(
            self.spark,
            self.obs_path,
            start=start,
            end=end,
            series_ids=series_id,
        )
        return df.orderBy("observation_time")

    # ------------------------------------------------------------------
    # Table maintenance (atomic store only — round 12)
    # ------------------------------------------------------------------

    def _require_atomic(self, op: str) -> None:
        if not self.atomic_silver:
            raise ValueError(
                f"{op} requires the versioned store "
                "(GasDataEngine(atomic_silver=True), the default); the "
                "plain silver store has no snapshot/manifest layer"
            )

    def read_observations_at(
        self, version: int | None = None, as_of=None
    ) -> DataFrame:
        """Time travel: the observation store as of a committed
        version, or AS-OF a timestamp (round 14 — epoch float,
        datetime, or ISO string; resolves to the newest snapshot
        committed at or before the bound). Either, not both; until
        vacuum retention expires the snapshot."""
        self._require_atomic("read_observations_at")
        from gas_data_pipeline_spark.pipeline.versioned import (
            read_observations_versioned,
        )

        return read_observations_versioned(
            self.spark, self.obs_path, version=version, as_of=as_of
        )

    def changelog(self, from_version: int, to_version: int | None = None):
        """CDC between committed versions (churned partitions only)."""
        self._require_atomic("changelog")
        from gas_data_pipeline_spark.pipeline.versioned import (
            changelog_versioned,
        )

        return changelog_versioned(
            self.spark, self.obs_path, from_version, to_version
        )

    def delete_observations(
        self, predicate: Column, mode: str = "copy-on-write"
    ) -> dict:
        """Row-level DELETE as a commit (NULL-evaluating predicates
        keep their rows). ``mode="merge-on-read"`` (round 14) commits
        the same logical delete as a deleted-rows-sized deletion
        vector instead of a partition rewrite — the small-delete path
        on a large table. Returns the committed manifest."""
        self._require_atomic("delete_observations")
        from gas_data_pipeline_spark.pipeline.versioned import (
            delete_versioned,
        )

        return delete_versioned(self.spark, self.obs_path, predicate, mode=mode)

    def update_observations(self, predicate: Column, assignments: dict) -> dict:
        """Row-level UPDATE as a commit (copy-on-write; key and
        partition columns are refused targets — a key change is
        delete + insert). Returns the committed manifest."""
        self._require_atomic("update_observations")
        from gas_data_pipeline_spark.pipeline.versioned import (
            update_versioned,
        )

        return update_versioned(
            self.spark, self.obs_path, predicate, assignments
        )

    def erase_series(self, series_ids) -> dict:
        """GDPR-style erasure by key: delete every row of the given
        series as a METADATA-ONLY commit (round 14 — zero data reads
        or writes; the manifest's stats and key fingerprints bound
        which partitions are even referenced). The next rewrite of
        each date materializes it. Returns the committed manifest."""
        self._require_atomic("erase_series")
        from gas_data_pipeline_spark.pipeline.versioned import (
            delete_versioned_by_key,
        )

        return delete_versioned_by_key(self.spark, self.obs_path, series_ids)

    def compact_silver(
        self,
        min_files: int = 2,
        target_bytes: int = 128 * 1024 * 1024,
    ) -> dict:
        """Layout-only rewrite commit for fragmented partitions
        (bin-packed to target_bytes). Returns the committed manifest."""
        self._require_atomic("compact_silver")
        from gas_data_pipeline_spark.pipeline.versioned import (
            compact_versioned,
        )

        return compact_versioned(
            self.spark,
            self.obs_path,
            min_files=min_files,
            target_bytes=target_bytes,
        )

    def silver_status(self) -> dict:
        """Maintenance snapshot of the observation store (round 14 —
        Iceberg's metadata tables, one dict): fragmentation
        candidates, both delete-debt grains, fingerprint coverage,
        and the time-travel window. Metadata-only."""
        self._require_atomic("silver_status")
        from gas_data_pipeline_spark.pipeline.versioned import table_status

        return table_status(self.obs_path)

    def vacuum_silver(
        self, retain_last_n: int = 1, min_age_seconds: float = 86400.0
    ) -> list[str]:
        """Expire snapshots outside the retention window and reclaim
        unreferenced version directories. Returns the deleted dirs."""
        self._require_atomic("vacuum_silver")
        from gas_data_pipeline_spark.pipeline.versioned import vacuum

        return vacuum(
            self.obs_path,
            retain_last_n=retain_last_n,
            min_age_seconds=min_age_seconds,
        )

    def validate_batch(
        self, batch: DataFrame, rules: dict
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        """F6/F7 as an engine API: (valid, quarantine, metrics) for a
        batch under named boolean rules — the set-based form of the
        reference's row-at-a-time transform validation
        (transformer.py:78-95), with an audit trail instead of silent
        drops (pipeline/expectations.py)."""
        from gas_data_pipeline_spark.pipeline.expectations import (
            expectation_metrics,
            split_valid,
        )

        valid, quarantine = split_valid(batch, rules)
        return valid, quarantine, expectation_metrics(batch, rules)

    # ------------------------------------------------------------------
    # Discovery (reference app/api/v2/discovery.py)
    # ------------------------------------------------------------------

    def list_datasets(self) -> DataFrame:
        """A2: SELECT DISTINCT dataset_id FROM raw_events ORDER BY 1."""
        return (
            read_bronze(self.spark, self.bronze_path)
            .select("dataset_id")
            .distinct()
            .orderBy("dataset_id")
        )

    def discover_fields(self, dataset_id: str) -> DataFrame:
        """The persisted field catalog for a dataset (discovery.py:17-38)."""
        return (
            self.spark.read.parquet(self.fields_path)
            .filter(F.col("dataset_id") == dataset_id)
            .orderBy("field_name")
        )

    def _newest_raw(self, df: DataFrame, limit: int) -> DataFrame:
        """The ONE newest-first bronze pull every discovery/export
        endpoint shares (sort keys + lineage columns live here, not in
        three copies): plans as TakeOrderedAndProject."""
        return df.orderBy(F.desc("ingested_at"), F.desc("event_id")).limit(
            limit
        ).select(
            "event_id", "dataset_id", "source", "ingested_at", "raw_payload"
        )

    def sample_raw(self, dataset_id: str, limit: int = 5) -> DataFrame:
        """Newest-first raw payload sample (discovery.py:42-51), capped
        at 50 (reference ``Query(5, le=50)``)."""
        return self._newest_raw(
            read_bronze(self.spark, self.bronze_path, dataset_id),
            min(limit, 50),
        )

    def preview_raw(
        self,
        dataset_id: str,
        limit: int = 20,
        site_id: int | None = None,
        site_key: str = "siteId",
    ) -> DataFrame:
        """Raw preview with the optional JSON-field predicate
        (reference discovery.py:60-87: ``(raw_payload ->> 'siteId')::int
        = :site_id``, ``Query(20, ge=1, le=500)``). Same conditional
        plan construction as the F1 optional filters: a None site_id
        contributes NO predicate node (never a pushdown-defeating
        ``:p IS NULL OR ...``), and the newest-first cap plans as
        TakeOrderedAndProject — per-partition top-`limit` heaps, no
        global sort. At scale the extracted field would be materialized
        at write time; the inline ``get_json_object`` mirrors the
        reference's JSONB operator on the stored payload."""
        limit = max(1, min(limit, 500))
        df = read_bronze(self.spark, self.bronze_path, dataset_id)
        if site_id is not None:
            df = df.filter(
                F.get_json_object(F.col("raw_payload"), f"$.{site_key}").cast(
                    "int"
                )
                == site_id
            )
        return self._newest_raw(df, limit)

    # ------------------------------------------------------------------
    # Exports (reference app/api/v2/export.py)
    # ------------------------------------------------------------------

    def export_raw(
        self, dataset_id: str, path: str, fmt: str = "json", limit: int = 1000
    ) -> None:
        """SNK5/SNK6: newest-first raw export, limit ≤ 50 000
        (export.py:16,38)."""
        limit = min(limit, 50_000)
        df = self._newest_raw(
            read_bronze(self.spark, self.bronze_path, dataset_id), limit
        )
        if fmt == "json":
            df.select("raw_payload").write.mode("overwrite").text(path)
        elif fmt == "csv":
            # Reference CSV export pd.json_normalize()s the payloads so
            # every JSON key becomes a CSV column (export.py:53) — no
            # lineage columns. The payload schema comes from one sampled
            # row (bronze batches are homogeneous per dataset); payloads
            # here are flat, matching json_normalize's output for the
            # reference's flat dicts.
            first = df.select("raw_payload").first()
            if first is None:
                df.select("raw_payload").write.mode("overwrite").text(path)
                return
            schema = F.schema_of_json(first["raw_payload"])
            flat = df.select(F.from_json("raw_payload", schema).alias("p")).select(
                "p.*"
            )
            flat.write.mode("overwrite").option("header", True).csv(path)
        else:
            raise ValueError(f"unknown export format: {fmt}")

    # ------------------------------------------------------------------
    # North-star data-curation API (BASELINE.json; SURVEY §2.11) — the
    # operators a training-data pipeline runs over arbitrary corpora,
    # surfaced as first-class engine methods so a reference user gets
    # them through the same facade as the reference endpoints.
    # ------------------------------------------------------------------

    def dedup_exact(self, df: DataFrame, id_col: str, text_col: str) -> DataFrame:
        """X1: content-hash dedup with deterministic canonical rows."""
        from gas_data_pipeline_spark.operators.dedup import exact_dedup_ranked

        return exact_dedup_ranked(df, id_col, text_col)

    def dedup_near(
        self,
        df: DataFrame,
        id_col: str,
        text_col: str,
        threshold: float = 0.5,
        method: str = "minhash",
    ) -> DataFrame:
        """X1: near-dup pairs above `threshold` over word 3-gram
        shingles. method: 'minhash' (the scale default), 'exact',
        'prefix', 'bitset' or 'auto' — see
        ``operators.dedup.near_dup_pairs``."""
        from gas_data_pipeline_spark.operators.dedup import near_dup_pairs

        return near_dup_pairs(df, id_col, text_col, threshold, method)

    def dedup_clusters(
        self, df: DataFrame, id_col: str, text_col: str, threshold: float = 0.5
    ) -> DataFrame:
        """X1: near-dup pairs -> connected components (doc, component,
        size) — the keep-one-per-component retirement set."""
        from gas_data_pipeline_spark.operators.dedup import connected_components
        from pyspark.sql.window import Window as W

        pairs = self.dedup_near(df, id_col, text_col, threshold, "exact")
        labels = connected_components(pairs, "id_a", "id_b")
        return labels.select(
            F.col("id").alias(id_col), F.col("label").alias("component_id")
        ).withColumn(
            "component_size",
            F.count(F.lit(1)).over(W.partitionBy("component_id")).cast("bigint"),
        )

    def dedup_incremental(
        self,
        new: DataFrame,
        existing: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        threshold: float = 0.5,
    ) -> DataFrame:
        """X1: admit only new-batch rows that duplicate nothing in the
        existing corpus (sha-256 anti-join, then cross-side Jaccard)."""
        from gas_data_pipeline_spark.operators.dedup import incremental_dedup

        return incremental_dedup(new, existing, id_col, text_col, threshold)

    def search_similar(
        self,
        corpus: DataFrame,
        queries: DataFrame,
        k: int = 10,
        method: str = "exact",
    ) -> DataFrame:
        """X2: cosine top-k neighbors. method: 'exact' (block GEMM),
        'lsh' (multi-table hyperplane buckets, exact candidate
        cosine), or one of the quantized-index pipeline's k-means
        configurations (``similarity.ann_topk``: train, route, encode,
        ADC score): 'ivf' (inverted lists, exact candidate cosine),
        'pq' (product-quantized full scan), 'ivfpq' (PQ codes inside
        the inverted lists)."""
        from gas_data_pipeline_spark.operators import similarity as S

        if method == "exact":
            return S.cosine_topk(corpus, queries, k=k)
        if method == "lsh":
            return S.cosine_topk_lsh(corpus, queries, k=k)
        if method == "ivf":
            return S.cosine_topk_ivf(corpus, queries, k=k)
        if method == "pq":
            return S.cosine_topk_pq(corpus, queries, k=k)
        if method == "ivfpq":
            return S.cosine_topk_ivfpq(corpus, queries, k=k)
        raise ValueError(f"unknown search method: {method}")

    def dedup_spans(
        self,
        df: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        span_words: int = 20,
    ) -> DataFrame:
        """X1: sub-document passage dedup — strip spans whose exact
        text occurred earlier in the corpus, reassemble the rest."""
        from gas_data_pipeline_spark.operators.dedup import span_dedup_exact

        return span_dedup_exact(df, id_col, text_col, span_words)

    def score_quality_lm(
        self, df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
    ) -> DataFrame:
        """X3: model-based quality — perplexity proxy under the
        corpus's own unigram LM (no external model, no OOV)."""
        from gas_data_pipeline_spark.operators.text import unigram_logprob

        return unigram_logprob(df, id_col, text_col)

    def dimension_history(
        self,
        changes: DataFrame,
        key_col: str,
        attr_col: str,
        ts_col: str,
        tiebreak_col: str | None = None,
    ) -> DataFrame:
        """SCD2: collapse a change log into validity intervals so facts
        can join the dimension as of their own time."""
        from gas_data_pipeline_spark.pipeline.scd import scd2_intervals

        return scd2_intervals(changes, key_col, attr_col, ts_col, tiebreak_col)

    def ingest_jsonl(self, path: str, schema: str) -> tuple[DataFrame, DataFrame]:
        """Zero-loss JSONL ingest: (parsed, quarantined raw lines)."""
        from gas_data_pipeline_spark.sources.files import read_jsonl_quarantine

        return read_jsonl_quarantine(self.spark, path, schema)

    def profile_text(self, df: DataFrame, text_col: str = "text") -> DataFrame:
        """X3: tokens / quality score / language guess per document —
        one narrow pass, no shuffle (operators/text.text_profile)."""
        from gas_data_pipeline_spark.operators.text import text_profile

        keep = [c for c in df.columns if c != text_col]
        return df.select(*keep, F.inline(F.array(text_profile(F.col(text_col)))))

    def decontaminate(
        self,
        corpus: DataFrame,
        benchmark: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        n: int = 13,
        threshold: float = 0.2,
    ) -> DataFrame:
        """Curation: drop corpus rows whose word n-gram overlap with the
        (broadcast) evaluation set crosses `threshold` — the eval-leak
        guard before training. Returns the clean corpus; use
        operators.curation.contamination_flags for the audit table."""
        from gas_data_pipeline_spark.operators.curation import contamination_flags

        flags = contamination_flags(
            corpus, benchmark, id_col, text_col, n=n, threshold=threshold
        )
        dirty = flags.filter(F.col("flagged")).select(id_col)
        return corpus.join(F.broadcast(dirty), id_col, "left_anti")

    def pack_for_training(
        self,
        docs: DataFrame,
        capacity: int = 2048,
        n_shards: int = 1024,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> DataFrame:
        """Curation: concat-and-chunk sequence packing — per-shard
        running token sums mapping each document to its context-window
        chunk span. One window per shard; no global sort."""
        from gas_data_pipeline_spark.operators.curation import pack_sequences

        return pack_sequences(docs, capacity, n_shards, id_col, text_col)

    def quality_filter(self, docs: DataFrame, text_col: str = "text") -> DataFrame:
        """Curation: C4/Gopher-style rule table + keep decision in one
        narrow pass; returns the input columns plus the rule columns."""
        from gas_data_pipeline_spark.operators.curation import (
            quality_rule_columns,
            quality_rules_keep,
        )

        keep_cols = [c for c in docs.columns if c != text_col]
        feats = docs.select(*keep_cols, *quality_rule_columns(F.col(text_col)))
        return feats.withColumn("keep", quality_rules_keep())

    def shuffle_for_training(
        self, docs: DataFrame, id_col: str = "doc_id", seed: str = "shuffle-v1"
    ) -> DataFrame:
        """Curation: deterministic seeded global training order
        (md5-prefix buckets; no single-partition sort)."""
        from gas_data_pipeline_spark.operators.curation import seeded_shuffle_rank

        return seeded_shuffle_rank(docs, id_col, seed)

    def sample_weighted(
        self,
        docs: DataFrame,
        weight: Column,
        id_col: str = "doc_id",
        seed: str = "sample-v1",
    ) -> DataFrame:
        """Curation: deterministic importance sampling — keep iff the
        md5-derived uniform draw lands under `weight`; stable as the
        corpus grows."""
        from gas_data_pipeline_spark.operators.curation import weighted_sample

        return weighted_sample(docs, weight, id_col, seed)

    def resample_mixture(
        self,
        docs: DataFrame,
        weight: Column,
        id_col: str = "doc_id",
        seed: str = "mix-v1",
    ) -> DataFrame:
        """Curation: integer resampling toward a target mixture —
        floor(w) copies plus one more under the md5 draw, so both
        up- and down-sampling are deterministic (E[copies] = w)."""
        from gas_data_pipeline_spark.operators.curation import resample_to_mixture

        return resample_to_mixture(docs, weight, id_col, seed)
