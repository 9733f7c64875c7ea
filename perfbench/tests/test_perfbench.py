"""Tests of the benchmark's own logic (no Spark session needed).

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import checks, gen, harness, stats  # noqa: E402
from perfbench.trace import (  # noqa: E402
    EXEC_METRICS,
    Span,
    Tracer,
    attribute_execution,
    self_time,
    union_length,
)

SMALL = gen.FeedSpec(entities=4, metrics=2, window_hours=6, step_hours=2, polls=4, evolve_at=2)


# -- p90 validity -------------------------------------------------------


def test_p90_needs_ten_samples_beyond_it():
    assert not stats.percentile_valid(99, 0.9)
    assert stats.percentile_valid(100, 0.9)
    assert stats.samples_beyond(100, 0.9) == 10
    assert stats.percentile_valid(20, 0.5)
    assert not stats.percentile_valid(19, 0.5)


def test_percentile_refuses_small_samples_and_ranks_large_ones():
    with pytest.raises(ValueError):
        stats.percentile(range(50), 0.9)
    assert stats.percentile(range(1, 101), 0.9) == 90


# -- spans --------------------------------------------------------------


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", "t", parent, start, end)


def test_self_time_subtracts_union_of_overlapping_children():
    parent = _span(1, 0.0, 10.0)
    kids = [_span(2, 1.0, 4.0, 1), _span(3, 3.0, 6.0, 1), _span(4, 8.0, 9.0, 1)]
    # children cover [1, 6] and [8, 9]: 6 s of the parent's 10
    assert self_time(parent, [parent, *kids]) == pytest.approx(4.0)


def test_self_time_clips_children_to_the_parent_and_ignores_grandchildren():
    parent = _span(1, 0.0, 10.0)
    spans = [parent, _span(2, 8.0, 12.0, 1), _span(3, 1.0, 2.0, 2)]
    assert self_time(parent, spans) == pytest.approx(8.0)
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


def test_spans_on_pool_threads_parent_to_the_blocked_trace_owner():
    tracer = Tracer()
    with tracer.trace("c0", "cycle"):
        with tracer.span("ingest") as ingest:
            with ThreadPoolExecutor(max_workers=2) as pool:
                for f in [pool.submit(tracer.wrap("sink", lambda: threading.get_ident()))
                          for _ in range(2)]:
                    f.result()
    sinks = [s for s in tracer.spans if s.name == "sink"]
    assert len(sinks) == 2
    assert all(s.parent == ingest.span_id and s.trace_id == "c0" for s in sinks)


def test_patched_wraps_under_the_callers_name_and_restores(tmp_path):
    import json as json_mod

    orig = json_mod.dumps
    tracer = Tracer()
    with tracer.patched({"json.dumps": "json.dumps"}):
        assert json_mod.dumps is not orig
        json_mod.dumps({})
    assert json_mod.dumps is orig
    assert [s.name for s in tracer.spans] == ["json.dumps"]


def test_event_log_metrics_go_to_the_window_of_the_job():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1500, "Stage IDs": [1]},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 3500, "Stage IDs": [2, 3]},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 9000, "Stage IDs": [4]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 200, "JVM GC Time": 10,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Metrics": {
            "Executor Run Time": 500, "Memory Bytes Spilled": 7, "Disk Bytes Spilled": 3}},
        # job 2 starts outside both windows: its task is not attributed
        {"Event": "SparkListenerTaskEnd", "Stage ID": 4, "Task Metrics": {"Executor Run Time": 900}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1800},
        # job 1 ends after its window: only the part inside it counts
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 4500},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 9500},
    ]
    out = attribute_execution(events, {"a": (1.0, 2.0), "b": (3.0, 4.0)})
    assert out["a"] == pytest.approx({"jobs": 1, "tasks": 1, "task_s": 0.2, "shuffle_write_bytes": 100,
                                      "spill_bytes": 0, "gc_s": 0.01, "job_wall_s": 0.3})
    assert out["b"]["jobs"] == 1 and out["b"]["tasks"] == 1 and out["b"]["spill_bytes"] == 10
    assert out["b"]["job_wall_s"] == pytest.approx(0.5)


def test_pass_metrics_split_operation_time_into_spark_jobs_and_driver():
    from perfbench.run import end_to_end, pass_layers
    from perfbench.workloads import Pass

    passes = [
        Pass(wall_s=4.0, cpu_s=9.0, ops_s=[1.0, 2.0], ops_cpu_s=[2.0, 4.0],
             windows={"a": (0.0, 1.0), "b": (2.0, 4.0)}),
        Pass(wall_s=8.0, cpu_s=11.0, ops_s=[4.0], ops_cpu_s=[8.0], windows={"c": (5.0, 9.0)}),
    ]
    zero = {"jobs": 0, "tasks": 0, "task_s": 0.0, "shuffle_write_bytes": 0, "job_wall_s": 0.0}
    per_window = {
        "a": {**zero, "jobs": 2, "job_wall_s": 0.5},
        "b": {**zero, "jobs": 1, "job_wall_s": 1.0},
        "c": {**zero, "jobs": 5, "job_wall_s": 3.0},
    }
    layers = pass_layers(passes, per_window)
    assert layers["spark.jobs"] == (4.0, "count")  # median of 3 and 5
    # driver time: pass 1 (1 - 0.5) + (2 - 1) = 1.5, pass 2 4 - 3 = 1
    assert layers["driver.self_s"][0] == pytest.approx(1.25)
    e2e = end_to_end(passes)
    assert e2e["pass_s"] == (6.0, "s") and e2e["pass_cpu_s"] == (10.0, "s")
    assert e2e["op_geomean_s"][0] == pytest.approx(2.0)  # (1 * 2 * 4) ** (1 / 3)
    assert e2e["op_cpu_geomean_s"][0] == pytest.approx(4.0)


def test_printed_metrics_are_the_declared_ones():
    """Every run prints exactly the manifest's metrics, in its units."""
    from perfbench import run
    from perfbench.workloads import Pass

    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        manifest = json.load(f)
    passes = [Pass(wall_s=1.0, cpu_s=1.0, ops_s=[1.0], ops_cpu_s=[1.0], windows={"a": (0.0, 1.0)})]
    e2e = {"setup_s": (1.0, "s"), **run.end_to_end(passes)}
    declared = {k: e2e[k][1] for k in ("setup_s", *run.DECLARED)}
    assert declared == {m["name"]: m["unit"] for m in manifest["end_to_end"]}
    per_window = {"a": {m: 0.0 for m in EXEC_METRICS}}
    layers = run.pass_layers(passes, per_window)
    layers.update({f"traced.{k}": v for k, v in e2e.items() if k != "setup_s"})
    assert {k: u for k, (_, u) in layers.items()} == {
        m["name"]: m["unit"] for m in manifest["per_layer"]
    }


# -- generators ---------------------------------------------------------


def test_feed_is_deterministic_per_seed():
    a, b, c = gen.feed_polls(SMALL, 5), gen.feed_polls(SMALL, 5), gen.feed_polls(SMALL, 6)
    assert all(x.equals(y) for x, y in zip(a, b))
    assert not all(x.equals(y) for x, y in zip(a, c))
    assert gen.feed_metrics(SMALL, 1) != gen.feed_metrics(SMALL, 2)  # schema evolves


def test_operator_tables_are_deterministic_per_seed(tmp_path):
    spec = gen.TableSpec(customers=20, suppliers=5, parts=30, orders=40, events=50,
                         documents=30, embeddings=10, dim=8)
    one = gen.write_operator_tables(spec, 3, 9, str(tmp_path / "a"))
    two = gen.write_operator_tables(spec, 3, 9, str(tmp_path / "b"))
    for t in checks.OracleCache.TABLES:
        assert (tmp_path / "a" / f"{t}.parquet").read_bytes() == (
            tmp_path / "b" / f"{t}.parquet"
        ).read_bytes(), t
    other_seed, other_docs = gen.operator_tables(spec, 4, 9), gen.operator_tables(spec, 3, 8)
    same = gen.operator_tables(spec, 3, 9)
    assert not same["lineitem"].equals(other_seed["lineitem"])
    assert same["documents"].equals(other_seed["documents"])  # drawn from docs_seed only
    assert not same["documents"].equals(other_docs["documents"])
    assert checks.OracleCache(str(tmp_path / "c"), one).table_keys == checks.OracleCache(
        str(tmp_path / "c"), two
    ).table_keys


def test_oracle_cache_keys_on_the_tables_the_sql_reads(tmp_path):
    spec = gen.TableSpec(customers=20, suppliers=5, parts=30, orders=40, events=50,
                         documents=30, embeddings=10, dim=8)
    cache_dir = str(tmp_path / "cache")
    sql = "SELECT count(*) AS n FROM documents"
    a = checks.OracleCache(cache_dir, gen.write_operator_tables(spec, 1, 9, str(tmp_path / "a")))
    a.expected("q", sql)
    a.close()
    # Other tables changed, documents did not: the cached answer is reused.
    b = checks.OracleCache(cache_dir, gen.write_operator_tables(spec, 2, 9, str(tmp_path / "b")))
    b.expected("q", sql)
    b.close()
    assert len(os.listdir(cache_dir)) == 1
    c = checks.OracleCache(cache_dir, gen.write_operator_tables(spec, 1, 8, str(tmp_path / "c")))
    c.expected("q", sql)
    c.close()
    assert len(os.listdir(cache_dir)) == 2


def test_lww_replay_keeps_the_last_non_null_value():
    polls = gen.feed_polls(SMALL, 1)
    silver = gen.lww_replay(polls)
    assert not silver.duplicated(["series_id", "observation_time"]).any()
    assert silver["value"].notna().all()
    first_metric = gen.series_id("SITE000", gen.METRIC_NAMES[0])
    assert first_metric not in gen.registered_series(polls)
    assert first_metric not in set(silver["series_id"])


# -- output checkers ----------------------------------------------------


def _fake_lake(root, polls, silver: pd.DataFrame, series) -> str:
    """A lake laid out as the engine writes it, built with pandas."""
    bronze = pd.DataFrame({"raw_payload": ["{}"] * sum(len(p) for p in polls)})
    gen.write_parquet(bronze, os.path.join(root, "bronze", "dataset_id=x", "ingest_date=d", "p0.parquet"))
    obs = os.path.join(root, "silver", "observations")
    s = silver.copy()
    s["obs_date"] = s["observation_time"].dt.date.astype(str)
    parts = {}
    for d, grp in s.groupby("obs_date"):
        rel = f"v1-abc/__pdate={d}"
        gen.write_parquet(grp, os.path.join(obs, rel, "part-0.parquet"))
        parts[d] = rel
    with open(os.path.join(obs, "manifest.json"), "w") as f:
        json.dump({"version": 1, "partitions": parts}, f)
    gen.write_parquet(
        pd.DataFrame({"series_id": sorted(series)}),
        os.path.join(root, "dims", "meta_series", "p0.parquet"),
    )
    return root


def test_ingest_checker_accepts_the_reference_lake(tmp_path):
    polls = gen.feed_polls(SMALL, 2)
    lake = _fake_lake(str(tmp_path), polls, gen.lww_replay(polls), gen.registered_series(polls))
    assert checks.check_ingest(lake, polls) == []


@pytest.mark.parametrize("corruption", ["value", "lost_row", "bronze_loss", "extra_series"])
def test_ingest_checker_rejects_a_corrupted_lake(tmp_path, corruption):
    polls = gen.feed_polls(SMALL, 2)
    silver, series = gen.lww_replay(polls), gen.registered_series(polls)
    if corruption == "value":
        silver.loc[3, "value"] += 1.0
    elif corruption == "lost_row":
        silver = silver.drop(index=5)
    elif corruption == "extra_series":
        series = series | {"NG_GASFEED_SITE999_FLOW_MCM"}
    lake = _fake_lake(str(tmp_path), polls if corruption != "bronze_loss" else polls[:-1],
                      silver, series)
    assert checks.check_ingest(lake, polls)


def test_query_checker_rejects_a_corrupted_result():
    good = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    want = checks.summarize(checks.canonical(good))
    assert checks.summaries_differ("q", checks.summarize(checks.canonical(good[::-1])), want) is None
    bad = good.copy()
    bad.loc[1, "v"] = 1.25
    assert "digest" in checks.summaries_differ("q", checks.summarize(checks.canonical(bad)), want)
    assert "n_rows" in checks.summaries_differ("q", checks.summarize(checks.canonical(good[:2])), want)
    renamed = good.rename(columns={"v": "w"})
    assert "columns" in checks.summaries_differ("q", checks.summarize(checks.canonical(renamed)), want)


# -- CPU time -----------------------------------------------------------


def _proc_stat(path, pid, comm, ppid, utime, stime=0, cutime=0):
    path.mkdir(parents=True, exist_ok=True)
    (path / "stat").write_text(
        f"{pid} ({comm}) S {ppid} " + "0 " * 9 + f"{utime} {stime} {cutime} 0 0 0\n"
    )


def test_tree_cpu_counts_the_process_tree_less_jit_threads(tmp_path):
    tick = os.sysconf("SC_CLK_TCK")
    proc = tmp_path / "proc"

    def lay_out(java_ticks, jit_ticks, jit_alive=True):
        _proc_stat(proc / "100", 100, "python3", 1, 10)
        _proc_stat(proc / "200", 200, "java", 100, java_ticks, cutime=5)
        _proc_stat(proc / "200" / "task" / "202", 202, "Executor task l", 200, 1)
        if jit_alive:
            _proc_stat(proc / "200" / "task" / "201", 201, "C2 CompilerThre", 200, jit_ticks)
        _proc_stat(proc / "300", 300, "other", 1, 999)  # not in the tree

    harness._jit_ticks.clear()
    lay_out(java_ticks=40, jit_ticks=20)
    first = harness.tree_cpu_s(100, str(proc))
    assert first == pytest.approx((10 + 40 + 5 - 20) / tick)
    lay_out(java_ticks=90, jit_ticks=50)  # 50 more ticks, 30 of them compiling
    assert harness.tree_cpu_s(100, str(proc)) - first == pytest.approx(20 / tick)
    # A JIT thread that exits keeps its last reading subtracted.
    import shutil

    shutil.rmtree(proc / "200" / "task" / "201")
    lay_out(java_ticks=100, jit_ticks=0, jit_alive=False)
    assert harness.tree_cpu_s(100, str(proc)) - first == pytest.approx(30 / tick)


# -- scratch hygiene ----------------------------------------------------


def test_reaper_removes_dirs_of_dead_runs_only(tmp_path):
    dead = tmp_path / "999999999-ingest_hourly-1"
    live = tmp_path / f"{os.getpid()}-query_mix-1"
    dead.mkdir()
    live.mkdir()
    assert harness.reap_stale_scratch(str(tmp_path)) == 1
    assert not dead.exists() and live.exists()
