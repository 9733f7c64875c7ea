"""End-to-end GasDataEngine tests: the reference's API lifecycle
(ingest → discover → query → history → export) against a scratch
lakehouse, including the upsert-idempotency invariant the reference's
own ``test.py`` gestures at (zero-loss + re-ingest changes nothing).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


@pytest.fixture()
def engine(spark):
    from gas_data_pipeline_spark.engine import GasDataEngine

    root = tempfile.mkdtemp(prefix="gas_engine_")
    yield GasDataEngine(spark, root)
    shutil.rmtree(root, ignore_errors=True)


def _wide_batch(spark):
    """A gas-quality-shaped wide batch derived from events: entity key
    (user_id), event time, and two numeric measure columns."""
    from gas_data_pipeline_spark.catalog import table

    e = table(spark, SF_SMALL, "events").filter(F.col("user_id") < 5)
    return e.select(
        F.col("user_id").alias("site_id"),
        F.col("ts").alias("observed_at"),
        F.col("value").alias("flow_rate"),
        (F.col("value") * 2).alias("energy"),
    )


def test_ingest_then_query_roundtrip(engine, spark):
    batch = _wide_batch(spark)
    stats = engine.ingest_batch(
        batch,
        dataset_id="GAS_QUALITY",
        source="national_gas",
        id_cols=["site_id"],
        time_col="observed_at",
    )
    n_rows = batch.count()
    assert stats["bronze_rows"] == n_rows
    # Two numeric measure columns melt to 2 observations per row.
    assert stats["observations"] == 2 * n_rows
    # 5 sites x 2 metrics series auto-registered.
    assert stats["new_series"] == 10

    # Flagship query: filters + broadcast dim join + pagination.
    out = engine.get_data(dataset_id="GAS_QUALITY", limit=50).toPandas()
    assert len(out) == 50
    assert set(out.dataset_id) == {"GAS_QUALITY"}
    assert list(out.observation_time) == sorted(out.observation_time)

    # Offset pagination is stable and disjoint.
    p1 = engine.get_data(limit=20).toPandas()
    p2 = engine.get_data(limit=20, offset=20).toPandas()
    k1 = set(zip(p1.series_id, p1.observation_time))
    k2 = set(zip(p2.series_id, p2.observation_time))
    assert not (k1 & k2)

    # Nested API shape: one row per series, ordered points.
    nested = engine.get_data(nested=True).toPandas()
    assert len(nested) == 10
    pts = nested.iloc[0].points
    times = [p["observation_time"] for p in pts]
    assert times == sorted(times)


def test_reingest_is_idempotent(engine, spark):
    batch = _wide_batch(spark)
    engine.ingest_batch(
        batch, "GAS_QUALITY", "national_gas", ["site_id"], "observed_at"
    )
    first = engine.get_data(limit=5000).toPandas()

    stats2 = engine.ingest_batch(
        batch, "GAS_QUALITY", "national_gas", ["site_id"], "observed_at"
    )
    assert stats2["new_series"] == 0  # insert-if-absent: nothing new
    second = engine.get_data(limit=5000).toPandas()
    # Upsert of identical data changes nothing (values identical; only
    # ingestion_time advanced, which get_data doesn't project).
    assert len(first) == len(second)
    a = first.sort_values(["series_id", "observation_time"]).reset_index(drop=True)
    b = second.sort_values(["series_id", "observation_time"]).reset_index(drop=True)
    assert (a.value == b.value).all()


def test_series_id_and_history(engine, spark):
    batch = _wide_batch(spark)
    engine.ingest_batch(
        batch, "GAS_QUALITY", "national_gas", ["site_id"], "observed_at"
    )
    # S1 slug: NG_<dataset>_<site>_<metric>
    sid = "NG_GAS_QUALITY_3_FLOW_RATE"
    series = spark.read.parquet(engine.series_path).toPandas()
    assert sid in set(series.series_id)

    hist = engine.get_history(sid, start="2024-01-01", end="2025-01-01").toPandas()
    expected = (
        batch.filter(F.col("site_id") == 3).count()
    )
    assert len(hist) == expected
    assert list(hist.observation_time) == sorted(hist.observation_time)

    # Relative window (last_days): events are in 2024, so empty now.
    assert engine.get_history(sid, last_days=30).count() == 0


def test_discovery_and_field_catalog(engine, spark):
    batch = _wide_batch(spark)
    engine.ingest_batch(
        batch, "GAS_QUALITY", "national_gas", ["site_id"], "observed_at"
    )
    datasets = engine.list_datasets().toPandas()
    assert list(datasets.dataset_id) == ["GAS_QUALITY"]

    fields = engine.discover_fields("GAS_QUALITY").toPandas().set_index("field_name")
    assert fields.loc["site_id"].inferred_type == "integer"
    assert fields.loc["flow_rate"].inferred_type == "float"
    assert not fields.loc["site_id"].nullable

    sample = engine.sample_raw("GAS_QUALITY", limit=3).toPandas()
    assert len(sample) == 3
    payload = json.loads(sample.iloc[0].raw_payload)
    assert {"site_id", "flow_rate", "energy"} <= set(payload)


def test_preview_raw_json_predicate_and_cap(engine, spark):
    """Reference discovery.py:60-87: raw preview takes an optional
    JSON-field predicate ((raw_payload ->> 'siteId')::int = :site_id)
    and a limit capped at 500. A None site_id must contribute NO
    predicate node; a given one must appear in the plan as a
    get_json_object filter; the cap must plan as TakeOrderedAndProject
    (no global sort)."""
    batch = _wide_batch(spark)
    engine.ingest_batch(
        batch, "GAS_QUALITY", "national_gas", ["site_id"], "observed_at"
    )
    hit = engine.preview_raw(
        "GAS_QUALITY", limit=10, site_id=3, site_key="site_id"
    )
    plan = hit._jdf.queryExecution().executedPlan().toString()
    assert "get_json_object" in plan
    assert "TakeOrderedAndProject" in plan
    rows = hit.toPandas()
    assert len(rows) > 0
    assert all(
        json.loads(p)["site_id"] == 3 for p in rows.raw_payload
    )
    # No predicate node when site_id is None (conditional construction).
    miss_plan = (
        engine.preview_raw("GAS_QUALITY", limit=10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "get_json_object" not in miss_plan
    # The 500 cap (Query(20, ge=1, le=500)) survives absurd asks.
    capped_plan = (
        engine.preview_raw("GAS_QUALITY", limit=10_000)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "limit=500" in capped_plan


def test_discovery_boolean_and_mixed_type_union(engine, spark):
    """Reference semantics (field_discovery.py:5-16,46): a column with
    both 'true' and 'false' is boolean, and mixed fields report the
    sorted comma-joined union of per-value types."""
    batch = _wide_batch(spark).select(
        "site_id",
        "observed_at",
        "flow_rate",
        (F.col("site_id") % 2 == 0).cast("string").alias("is_even"),
        F.when(F.col("site_id") % 2 == 0, F.lit("n/a"))
        .otherwise(F.col("site_id").cast("string"))
        .alias("mixed"),
    )
    engine.ingest_batch(
        batch, "GAS_BOOL", "national_gas", ["site_id"], "observed_at"
    )
    fields = engine.discover_fields("GAS_BOOL").toPandas().set_index("field_name")
    assert fields.loc["is_even"].inferred_type == "boolean"
    assert fields.loc["mixed"].inferred_type == "integer,string"


def test_export_zero_loss(engine, spark):
    """The reference's own test.py invariant: exported raw payloads
    reconstruct the source batch exactly (zero loss)."""
    batch = _wide_batch(spark).limit(20)
    engine.ingest_batch(
        batch, "GAS_QUALITY", "national_gas", ["site_id"], "observed_at"
    )
    out_dir = os.path.join(engine.root, "export_json")
    engine.export_raw("GAS_QUALITY", out_dir, fmt="json", limit=1000)
    payloads = []
    for f in glob.glob(os.path.join(out_dir, "part-*")):
        with open(f) as fh:
            payloads += [json.loads(ln) for ln in fh if ln.strip()]
    assert len(payloads) == 20
    exported = {
        (p["site_id"], round(p["flow_rate"], 9), round(p["energy"], 9))
        for p in payloads
    }
    source = {
        (r.site_id, round(r.flow_rate, 9), round(r.energy, 9))
        for r in batch.toPandas().itertuples()
    }
    assert exported == source


def test_get_data_nested_respects_pagination(engine, spark):
    """Reference nests the PAGINATED row window (DATA_QUERY applies
    ORDER BY/LIMIT/OFFSET first, routes.py groups after) — nested=True
    must return the same rows as the flat page, grouped."""
    batch = _wide_batch(spark)
    engine.ingest_batch(
        batch, "GAS_QUALITY", "national_gas", ["site_id"], "observed_at"
    )
    flat = engine.get_data(limit=10, offset=5).toPandas()
    nested = engine.get_data(limit=10, offset=5, nested=True).toPandas()
    n_points = int(sum(len(p) for p in nested.points))
    assert n_points == len(flat) == 10
    flat_keys = {
        (r.series_id, r.observation_time) for r in flat.itertuples()
    }
    nested_keys = {
        (r.series_id, p["observation_time"])
        for r in nested.itertuples()
        for p in r.points
    }
    assert nested_keys == flat_keys


def test_export_csv_normalizes_payload_columns(engine, spark):
    """Reference CSV export json_normalize()s payloads — every JSON key
    is a CSV column, no lineage columns (export.py:53)."""
    batch = _wide_batch(spark).limit(20)
    engine.ingest_batch(
        batch, "GAS_QUALITY", "national_gas", ["site_id"], "observed_at"
    )
    out_dir = os.path.join(engine.root, "exports", "csv")
    engine.export_raw("GAS_QUALITY", out_dir, fmt="csv", limit=1000)
    exported = (
        engine.spark.read.option("header", True).csv(out_dir).toPandas()
    )
    assert set(exported.columns) == {
        "site_id",
        "observed_at",
        "flow_rate",
        "energy",
    }
    assert len(exported) == 20


def test_engine_curation_api(spark, tmp_path):
    """North-star facade methods: dedup pairs/clusters, similarity
    search, text profile — callable on arbitrary frames."""
    from gas_data_pipeline_spark.catalog import table
    from gas_data_pipeline_spark.engine import GasDataEngine
    from tests.conftest import SF_SMALL

    eng = GasDataEngine(spark, str(tmp_path / "lake"))
    docs = table(spark, SF_SMALL, "documents").select("doc_id", "text")

    exact = eng.dedup_exact(docs, "doc_id", "text")
    assert exact.count() == docs.count()

    prof = eng.profile_text(docs.limit(50))
    assert {"doc_id", "n_tokens", "quality_score", "lang_guess"} <= set(prof.columns)
    assert prof.count() == 50

    emb = table(spark, SF_SMALL, "embeddings")
    hits = eng.search_similar(emb, emb.limit(2), k=3)
    assert hits.count() > 0
    assert {"query_id", "neighbor_id", "rank", "cos_sim"} <= set(hits.columns)


def test_engine_training_curation_api(spark, tmp_path):
    """Training-corpus facade methods: decontaminate, pack, quality
    filter, shuffle, weighted sample — callable on arbitrary frames."""
    import pyspark.sql.functions as F

    from gas_data_pipeline_spark.catalog import table
    from gas_data_pipeline_spark.engine import GasDataEngine
    from tests.conftest import SF_SMALL

    eng = GasDataEngine(spark, str(tmp_path / "lake"))
    docs = table(spark, SF_SMALL, "documents").select("doc_id", "text")
    n = docs.count()

    bench = docs.filter(F.col("doc_id") < 10)
    clean = eng.decontaminate(docs, bench, n=5)
    # The benchmark members themselves are fully contaminated -> dropped.
    assert clean.count() <= n - 10
    assert clean.filter(F.col("doc_id") < 10).count() == 0

    packed = eng.pack_for_training(docs, capacity=512, n_shards=4)
    assert packed.count() == n
    assert {"first_chunk", "last_chunk", "n_chunks"} <= set(packed.columns)

    qual = eng.quality_filter(docs)
    assert qual.count() == n
    assert {"n_words", "keep"} <= set(qual.columns)

    order = eng.shuffle_for_training(docs)
    ranks = sorted(r.shuffle_rank for r in order.collect())
    assert ranks == list(range(1, n + 1))

    sampled = eng.sample_weighted(docs, F.lit(0.5))
    frac = sampled.count() / n
    assert 0.35 < frac < 0.65  # binomial(n, 0.5) well inside 5 sigma


@pytest.fixture(scope="module")
def planted_exact_pairs(spark, tmp_path_factory):
    from gas_data_pipeline_spark.engine import GasDataEngine
    from gas_data_pipeline_spark.suite.northstar import _docs_with_planted

    docs = _docs_with_planted(spark, SF_SMALL)
    eng = GasDataEngine(spark, str(tmp_path_factory.mktemp("lake")))
    return docs, _pair_rows(eng.dedup_near(docs, "doc_id", "text", 0.5, "exact"))


def _pair_rows(df):
    assert {"id_a", "id_b", "jaccard"} <= set(df.columns)
    return sorted((r.id_a, r.id_b, round(r.jaccard, 9)) for r in df.collect())


@pytest.mark.parametrize("method", ["minhash", "exact", "prefix", "bitset", "auto"])
def test_dedup_near_methods(spark, tmp_path, planted_exact_pairs, method):
    """Every dedup_near method returns the 'exact' pair set with equal
    Jaccard on the planted corpus (the planted near-dups make it
    nonempty)."""
    from gas_data_pipeline_spark.engine import GasDataEngine

    docs, exact = planted_exact_pairs
    assert len(exact) > 0
    eng = GasDataEngine(spark, str(tmp_path / "lake"))
    assert _pair_rows(eng.dedup_near(docs, "doc_id", "text", 0.5, method)) == exact


def test_dedup_near_auto_routes_open_vocab_to_prefix(spark, tmp_path):
    """'auto' must never pick the driver-vocab bitset kernel on an open
    vocabulary: the probe routes to the prefix-filter join path, whose
    plan has joins but no MapInPandas scoring stage (the bitset kernel's
    signature) and no driver-side vocab materialization."""
    from gas_data_pipeline_spark.engine import GasDataEngine

    eng = GasDataEngine(spark, str(tmp_path / "lake"))
    # ~120k distinct word 3-shingles: every token unique corpus-wide.
    docs = spark.range(4000).selectExpr(
        "id AS doc_id",
        "array_join(transform(sequence(0, 29), i -> concat('w', id * 30 + i)), ' ') AS text",
    )
    pairs = eng.dedup_near(docs, "doc_id", "text", 0.5, "auto")
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan
    assert "Join" in plan
    assert pairs.count() == 0  # all docs fully distinct


def test_dedup_near_auto_routes_closed_vocab_to_bitset(spark, tmp_path):
    from gas_data_pipeline_spark.engine import GasDataEngine

    eng = GasDataEngine(spark, str(tmp_path / "lake"))
    # 40 tokens round-robin: ~40 distinct shingles over 300 docs.
    docs = spark.range(300).selectExpr(
        "id AS doc_id",
        "array_join(transform(sequence(0, 19), i -> concat('t', (id + i) % 40)), ' ') AS text",
    )
    pairs = eng.dedup_near(docs, "doc_id", "text", 0.9, "auto")
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert pairs.count() > 0  # rotated docs share 90%+ of shingles


def test_bitset_kernel_refuses_open_vocab(spark):
    from gas_data_pipeline_spark.operators.dedup import (
        jaccard_pairs_bitset_gemm,
        word_shingles,
    )

    docs = spark.range(50).selectExpr(
        "id AS doc_id",
        "array_join(transform(sequence(0, 9), i -> concat('u', id * 10 + i)), ' ') AS text",
    )
    with pytest.raises(ValueError, match="closed vocabularies"):
        jaccard_pairs_bitset_gemm(
            docs, "doc_id", word_shingles(F.col("text"), n=3), 0.5, max_vocab=100
        ).count()


def test_facade_exposes_new_operators(spark, tmp_path):
    """Wiring smoke for the latest facade methods: span dedup, LM
    quality, SCD2 history, JSONL quarantine (search_similar has
    test_search_similar_methods)."""
    from gas_data_pipeline_spark.engine import GasDataEngine
    from tests.conftest import SF_SMALL

    eng = GasDataEngine(spark, str(tmp_path / "lake"))
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e")], "doc_id bigint, text string"
    )
    spans = eng.dedup_spans(docs, span_words=5).toPandas().set_index("doc_id")
    assert spans.loc[2].n_kept == 0 and spans.loc[1].n_kept == 1

    lm = eng.score_quality_lm(docs).toPandas()
    assert set(lm.columns) == {"doc_id", "n_tokens", "avg_logprob", "ppl_proxy"}

    log = spark.createDataFrame(
        [(1, "A", 10), (1, "B", 20)], "k bigint, v string, t bigint"
    )
    hist = eng.dimension_history(log, "k", "v", "t").toPandas()
    assert len(hist) == 2 and hist.is_current.sum() == 1

    p = tmp_path / "x.jsonl"
    p.write_text('{"a": 1}\nbroken\n')
    good, bad = eng.ingest_jsonl(str(p), "a bigint")
    assert good.count() == 1 and bad.count() == 1


@pytest.mark.parametrize("method", ["exact", "lsh", "ivf", "pq", "ivfpq"])
def test_search_similar_methods(engine, spark, method):
    """Every search_similar method answers each query with exactly k
    neighbors, never the query itself, ranked 1..k."""
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    out = engine.search_similar(
        emb, emb.filter(F.col("vec_id") < 2), k=3, method=method
    ).toPandas()
    assert sorted(out.query_id.unique()) == [0, 1]
    assert (out.query_id != out.neighbor_id).all()
    for _, grp in out.groupby("query_id"):
        assert sorted(grp["rank"]) == [1, 2, 3]


def test_engine_validate_batch(engine, spark):
    batch = spark.createDataFrame(
        [(1, 5.0), (2, -1.0)], "id long, value double"
    )
    valid, quarantine, metrics = engine.validate_batch(
        batch, {"value_positive": F.col("value") > 0}
    )
    assert [r.id for r in valid.collect()] == [1]
    assert [r.id for r in quarantine.collect()] == [2]
    m = metrics.toPandas()
    assert int(m.n_violations.iloc[0]) == 1 and int(m.n_rows.iloc[0]) == 2


def test_engine_atomic_silver_lifecycle(spark):
    """atomic_silver=True routes SNK2 through the versioned manifest
    layer: same ingest/query/history results as the dynamic-overwrite
    engine, re-ingest is a no-op commit, and the store carries a
    committed manifest instead of flat date partitions."""
    import tempfile

    from gas_data_pipeline_spark.engine import GasDataEngine
    from gas_data_pipeline_spark.pipeline.versioned import read_manifest

    roots = [tempfile.mkdtemp(prefix="gas_atomic_") for _ in range(2)]
    try:
        plain = GasDataEngine(spark, roots[0], atomic_silver=False)
        atomic = GasDataEngine(spark, roots[1])  # atomic is the default
        batch = _wide_batch(spark)
        for eng in (plain, atomic):
            eng.ingest_batch(
                batch, "GAS_QUALITY", "national_gas", ["site_id"], "observed_at"
            )
            eng.ingest_batch(
                batch, "GAS_QUALITY", "national_gas", ["site_id"], "observed_at"
            )
        cols = ["series_id", "observation_time", "value"]
        a = (
            plain.get_data(limit=5000).toPandas()[cols]
            .sort_values(cols).reset_index(drop=True)
        )
        b = (
            atomic.get_data(limit=5000).toPandas()[cols]
            .sort_values(cols).reset_index(drop=True)
        )
        assert a.equals(b)
        assert read_manifest(atomic.obs_path)["version"] == 2
        sid = a.series_id.iloc[0]
        ha = plain.get_history(sid, start="2024-01-01", end="2025-01-01").toPandas()
        hb = atomic.get_history(sid, start="2024-01-01", end="2025-01-01").toPandas()
        assert list(ha.value) == list(hb.value)
    finally:
        import shutil

        for r in roots:
            shutil.rmtree(r, ignore_errors=True)


def test_engine_atomic_ingest_retries_on_fence(spark, monkeypatch):
    """The engine's atomic path goes through upsert_with_retry: a
    scheduler cycle fenced by a concurrent committer re-merges against
    the new snapshot instead of failing the ingest. Simulated by
    making the first underlying commit attempt raise the fence error
    and asserting the ingest still lands its rows."""
    import tempfile

    from gas_data_pipeline_spark.engine import GasDataEngine
    from gas_data_pipeline_spark.pipeline import versioned

    root = tempfile.mkdtemp(prefix="gas_atomic_retry_")
    try:
        real = versioned.upsert_observations_versioned
        calls = {"n": 0}

        def flaky(*args, **kwargs):
            calls["n"] += 1
            if calls["n"] == 1:
                raise versioned.ConcurrentCommitError("simulated race")
            return real(*args, **kwargs)

        monkeypatch.setattr(
            versioned, "upsert_observations_versioned", flaky
        )
        eng = GasDataEngine(spark, root, atomic_silver=True)
        eng.ingest_batch(
            _wide_batch(spark),
            "GAS_QUALITY",
            "national_gas",
            ["site_id"],
            "observed_at",
        )
        assert calls["n"] == 2  # fenced once, retried, committed
        assert versioned.read_manifest(eng.obs_path)["version"] == 1
        assert eng.get_data(limit=10).count() > 0
    finally:
        import shutil

        shutil.rmtree(root, ignore_errors=True)


def test_get_data_prunes_partitions_at_manifest_level(spark):
    """Round 12: get_data's date/series predicates must reach the
    manifest BEFORE any file listing under the atomic default — a
    date-ranged read lists only the matching date partitions, and a
    series predicate consults the per-partition column stats. The
    row-level filters still apply, so results are exact either way."""
    import tempfile

    from gas_data_pipeline_spark.engine import GasDataEngine

    root = tempfile.mkdtemp(prefix="gas_prune_")
    try:
        eng = GasDataEngine(spark, root)
        eng.ingest_batch(
            _wide_batch(spark),
            "GAS_QUALITY",
            "national_gas",
            ["site_id"],
            "observed_at",
        )
        dates = sorted(
            str(r[0])
            for r in eng._read_obs()
            .select(F.to_date("observation_time"))
            .distinct()
            .collect()
        )
        assert len(dates) >= 2, "fixture must span several dates"
        d0 = dates[0]
        df = eng.get_data(start=f"{d0} 00:00:00", end=f"{d0} 23:59:59")
        files = eng._read_obs(start=f"{d0} 00:00:00", end=f"{d0} 23:59:59").inputFiles()
        assert files and all(f"__pdate={d0}" in f for f in files)
        assert df.count() > 0
        # A series id outside every partition's recorded range lists
        # NOTHING (stats prune), and the API result is exactly empty.
        none = eng._read_obs(series_id="zzz_no_such_series")
        assert none.inputFiles() == [] or none.count() == 0
        assert eng.get_data(series_id="zzz_no_such_series").count() == 0
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_engine_table_maintenance_surface(spark):
    """Round 12: the table-format maintenance operations ride the
    engine facade — time travel, CDC, copy-on-write delete, compaction
    and vacuum all resolve against the engine's observation store, and
    every one of them refuses the plain (manifest-less) path with a
    clear error instead of corrupting it."""
    import tempfile

    from gas_data_pipeline_spark.engine import GasDataEngine

    root = tempfile.mkdtemp(prefix="gas_maint_")
    try:
        eng = GasDataEngine(spark, root)
        eng.ingest_batch(
            _wide_batch(spark), "GAS_QUALITY", "national_gas",
            ["site_id"], "observed_at",
        )
        n1 = eng._read_obs().count()
        # DELETE as a commit; v1 stays time-travelable; CDC sees it.
        m = eng.delete_observations(F.col("value") < 0)  # no-op
        assert m["version"] == 1
        m = eng.delete_observations(F.col("series_id").endswith("_ENERGY"))
        assert m["version"] == 2
        assert eng._read_obs().count() < n1
        assert eng.read_observations_at(1).count() == n1
        assert {r.change_type for r in eng.changelog(1, 2).collect()} == {
            "delete"
        }
        # Compaction: no fragmentation here -> no-op at version 2.
        assert eng.compact_silver()["version"] == 2
        # Vacuum with retention keeps the pinned v1 readable.
        eng.vacuum_silver(retain_last_n=2, min_age_seconds=0)
        assert eng.read_observations_at(1).count() == n1
        # The plain path refuses every maintenance op.
        import pytest as _pytest

        plain = GasDataEngine(spark, root + "_plain", atomic_silver=False)
        for call in (
            lambda: plain.read_observations_at(1),
            lambda: plain.changelog(1),
            lambda: plain.delete_observations(F.lit(True)),
            lambda: plain.compact_silver(),
            lambda: plain.vacuum_silver(),
        ):
            with _pytest.raises(ValueError, match="versioned store"):
                call()
    finally:
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(root + "_plain", ignore_errors=True)


def test_engine_mor_delete_and_erase_series(spark):
    """Round 14: both small-delete paths ride the engine facade —
    delete_observations(mode="merge-on-read") commits a positional
    vector without rewriting data, erase_series commits a
    metadata-only key erasure — and the plain (manifest-less) path
    refuses both."""
    import tempfile

    from gas_data_pipeline_spark.engine import GasDataEngine

    root = tempfile.mkdtemp(prefix="gas_mor_")
    try:
        eng = GasDataEngine(spark, root)
        eng.ingest_batch(
            _wide_batch(spark), "GAS_QUALITY", "national_gas",
            ["site_id"], "observed_at",
        )
        n1 = eng._read_obs().count()
        series = [r.series_id for r in eng._read_obs().select("series_id").distinct().collect()]
        victim = sorted(series)[0]
        m = eng.delete_observations(
            F.col("series_id") == victim, mode="merge-on-read"
        )
        assert m["partitions"]  # committed
        assert (m.get("dv") or {})  # positional vectors present
        n2 = eng._read_obs().count()
        assert n2 < n1
        assert eng.read_observations_at(1).count() == n1
        victim2 = sorted(series)[1]
        m2 = eng.erase_series(victim2)
        assert (m2.get("dv_eq") or {})
        assert eng._read_obs().count() < n2
        assert eng.get_data(series_id=victim2).count() == 0
        import pytest as _pytest

        plain = GasDataEngine(spark, root + "_plain", atomic_silver=False)
        with _pytest.raises(ValueError, match="versioned store"):
            plain.erase_series("x")
        with _pytest.raises(ValueError, match="versioned store"):
            plain.delete_observations(F.lit(True), mode="merge-on-read")
    finally:
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(root + "_plain", ignore_errors=True)


def test_engine_silver_status(spark):
    """silver_status rides the facade; the plain store refuses it."""
    import tempfile

    from gas_data_pipeline_spark.engine import GasDataEngine

    root = tempfile.mkdtemp(prefix="gas_status_")
    try:
        eng = GasDataEngine(spark, root)
        eng.ingest_batch(
            _wide_batch(spark), "GAS_QUALITY", "national_gas",
            ["site_id"], "observed_at",
        )
        st = eng.silver_status()
        assert st["version"] == 1 and st["n_partitions"] >= 1
        assert st["dv_debt"]["dates"] == []
        import pytest as _pytest

        plain = GasDataEngine(spark, root + "_plain", atomic_silver=False)
        with _pytest.raises(ValueError, match="versioned store"):
            plain.silver_status()
    finally:
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(root + "_plain", ignore_errors=True)
