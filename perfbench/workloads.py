"""The benchmark's workloads. Each takes a started :class:`RunContext`
and a list it appends the duration of each of its set-ups to (a run sets
up several times; ``setup_s`` is their median), runs a fixed number of
measured passes, checks every output, and returns a :class:`Result`.

Both workloads report the same end-to-end metrics, computed in
:mod:`perfbench.run` from the passes: a pass is one ingest lifecycle of
``FEED.polls`` cycles or one run of the query mix, an operation is one
ingest cycle or one query. The layer detail each workload alone has
(ingest sinks and store layout, per-query plan and execution) goes to
the run record and the report lines."""

from __future__ import annotations

import contextlib
import gc
import json
import os
import shutil
import threading
import time
from dataclasses import dataclass, field
from typing import Callable

from perfbench import checks, gen, stats
from perfbench.harness import RunContext, tree_cpu_s
from perfbench.trace import EXEC_METRICS, Tracer, self_time


@dataclass
class Pass:
    """One measured pass: its wall time and the CPU time the process
    tree used in it, each operation's wall and CPU time, and each
    operation's window ``{trace_id: (start, end)}`` in epoch seconds."""

    wall_s: float
    cpu_s: float
    ops_s: list[float]
    ops_cpu_s: list[float]
    windows: dict[str, tuple[float, float]]


@dataclass
class Result:
    passes: list[Pass]
    attempted: int
    failed: int
    problems: list[str]
    # Traced runs: the workload's own span-based layer metrics, and a
    # function turning per-window Spark totals into more of them.
    detail: dict = field(default_factory=dict)
    exec_detail: Callable[[dict], dict] | None = None
    tracer: Tracer | None = None
    extra: dict = field(default_factory=dict)  # record-only detail


# ----------------------------------------------------------------------
# ingest_hourly: the streaming write path
# ----------------------------------------------------------------------

FEED = gen.FeedSpec()
COMPACT_EVERY = 3  # cycles between compact_silver() calls
WARM_POLLS = 2  # cycles of the untimed warm-up lifecycle
TRIGGER = "50 milliseconds"
SINKS = ("bronze", "fields", "series", "silver")
# Nominal length of one measured pass on a 4-core host. A run measures
# a fixed number of passes, ``round(seconds / nominal)`` (at least one),
# so two commits always do the same work whatever their speed.
ROUND_NOMINAL_S = 10.0
PASS_NOMINAL_S = 25.0


def _repeats(seconds: float, nominal: float) -> int:
    return max(1, round(seconds / nominal))


def _p90_if_supported(xs: list[float]) -> float | None:
    """The p90 for the run record, or None when fewer than ten samples
    lie beyond it."""
    return stats.percentile(xs, 0.9) if stats.percentile_valid(len(xs), 0.9) else None


ENGINE = "gas_data_pipeline_spark.engine"
VERSIONED = "gas_data_pipeline_spark.pipeline.versioned"
INGEST_SPANS = {
    f"{ENGINE}.GasDataEngine.ingest_batch": "engine.ingest_batch",
    f"{ENGINE}.melt_numeric": "suite.reshape.melt_numeric",
    f"{ENGINE}.bronze_append": "sink.bronze",
    f"{ENGINE}.GasDataEngine._discover_and_register_fields": "sink.fields",
    f"{ENGINE}.insert_if_absent": "pipeline.dims.insert_if_absent",
    f"{VERSIONED}.upsert_with_retry": "sink.silver",
    f"{VERSIONED}.upsert_observations_versioned": "pipeline.versioned.upsert",
    f"{VERSIONED}.publish_version": "pipeline.versioned.publish_version",
    f"{VERSIONED}.read_manifest": "pipeline.versioned.read_manifest",
    f"{VERSIONED}.compact_versioned": "pipeline.versioned.compact",
}


def _poll_schema(spec: gen.FeedSpec) -> str:
    metrics = gen.feed_metrics(spec, spec.polls - 1)
    cols = [f"{gen.ID_COL} string", f"{gen.TIME_COL} timestamp"]
    cols += [f"{m} double" for m in metrics] + [f"{gen.QUALITY_COL} string"]
    return ", ".join(cols)


def _stage_polls(ctx: RunContext, polls) -> list[str]:
    """Each poll as one parquet file, timestamps as UTC instants."""
    paths = []
    for k, p in enumerate(polls):
        p = p.copy()
        p[gen.TIME_COL] = p[gen.TIME_COL].dt.tz_localize("UTC")
        paths.append(gen.write_parquet(p, os.path.join(ctx.dir("staged"), f"poll{k:03d}.parquet")))
    return paths


def _manifest(obs_path: str) -> dict:
    with open(os.path.join(obs_path, "manifest.json")) as f:
        return json.load(f)


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


class IngestRound:
    """One lifecycle on a fresh lake: a long-lived ProcessingTime
    ``foreachBatch`` stream consumes the staged polls one at a time (the
    next lands only after the previous cycle committed), with
    ``compact_silver()`` every ``COMPACT_EVERY`` cycles."""

    def __init__(self, ctx: RunContext, staged: list[str], idx: int, tracer: Tracer | None):
        from gas_data_pipeline_spark.engine import GasDataEngine

        self.ctx, self.staged, self.idx, self.tracer = ctx, staged, idx, tracer
        base = ctx.dir(f"round{idx}")
        self.root = os.path.join(base, "lake")
        self.src = os.path.join(base, "incoming")
        self.ckpt = os.path.join(base, "checkpoint")
        os.makedirs(self.src)
        self.engine = GasDataEngine(ctx.spark, self.root, atomic_silver=True)
        self.landed: list[float] = []
        self.entered: list[float] = []
        self.committed: list[float] = []
        self.cycle_cpu: list[float] = []
        self.done = threading.Event()  # set by each committed cycle
        self.layout: list[dict] = []  # traced: per-cycle store deltas
        self.compactions: list[dict] = []

    def _cycle(self, bdf, _batch_id: int) -> None:
        entered = time.time()
        if bdf.isEmpty():
            return
        k = len(self.committed)
        cols = [gen.ID_COL, gen.TIME_COL, *gen.feed_metrics(FEED, k), gen.QUALITY_COL]

        def ingest():
            self.engine.ingest_batch(
                bdf.select(*cols),
                dataset_id=gen.DATASET,
                source=gen.SOURCE,
                id_cols=[gen.ID_COL],
                time_col=gen.TIME_COL,
                collect_stats=False,
            )

        if self.tracer is None:
            ingest()
        else:
            with self.tracer.trace(self.cycle_id(k), "cycle"):
                ingest()
        self.entered.append(entered)
        self.committed.append(time.time())
        self.done.set()

    def cycle_id(self, k: int) -> str:
        return f"r{self.idx}c{k}"

    def start(self) -> None:
        """Start the stream and wait for its first (empty) trigger, so no
        cycle pays the stream start."""
        from gas_data_pipeline_spark.streaming.incremental import (
            run_stream_until,
            start_processing_time_stream,
        )

        stream = self.ctx.spark.readStream.schema(_poll_schema(FEED)).parquet(self.src)
        started: list = []

        def start():
            started.append(
                start_processing_time_stream(stream, self._cycle, self.ckpt, interval=TRIGGER)
            )
            return started[-1]

        self.query = run_stream_until(
            start, lambda: started[-1].lastProgress is not None, timeout_sec=120, poll_sec=0.01
        )

    def run(self) -> tuple[float, float]:
        """Drive every poll through the started stream. Returns the wall
        window (first poll landed, last commit or compaction done) and
        sets ``cpu_s``, the process tree's CPU time within it."""
        q = self.query
        obs_path = self.engine.obs_path
        cpu0 = tree_cpu_s()
        try:
            for k, poll in enumerate(self.staged):
                before = self._layout_probe(obs_path) if self.tracer else None
                cycle_cpu0 = tree_cpu_s()
                self.done.clear()
                self.landed.append(time.time())
                os.replace(poll, os.path.join(self.src, os.path.basename(poll)))
                self._await_commit()
                self.cycle_cpu.append(tree_cpu_s() - cycle_cpu0)
                if self.tracer:
                    self.layout.append(self._layout_delta(obs_path, before))
                if (k + 1) % COMPACT_EVERY == 0:
                    self._compact(obs_path, k)
            end = time.time()
            self.cpu_s = tree_cpu_s() - cpu0
        finally:
            q.stop()
            q.awaitTermination()
        return self.landed[0], end

    def _await_commit(self, timeout: float = 120.0) -> None:
        """Block until the batch function commits the landed poll. The
        wait asks the JVM for the query's state only once a second, so
        it takes next to no CPU from the cycle it waits for."""
        deadline = time.time() + timeout
        while not self.done.wait(1.0):
            if self.query.exception() is not None:
                raise self.query.exception()
            if time.time() > deadline:
                raise TimeoutError(f"no cycle committed within {timeout} s")

    def _compact(self, obs_path: str, k: int) -> None:
        if self.tracer is None:
            self.engine.compact_silver()
            return
        before = _manifest(obs_path)["partitions"]
        t0 = time.time()
        with self.tracer.trace(f"r{self.idx}k{k}", "compaction"):
            self.engine.compact_silver()
        after = _manifest(obs_path)["partitions"]
        changed = [rel for d, rel in after.items() if before.get(d) != rel]
        self.compactions.append(
            {
                "s": time.time() - t0,
                "bytes": sum(_dir_bytes(os.path.join(obs_path, r)) for r in changed),
            }
        )

    @staticmethod
    def _layout_probe(obs_path: str) -> dict | None:
        from gas_data_pipeline_spark.pipeline.versioned import table_status

        if not os.path.exists(os.path.join(obs_path, "manifest.json")):
            return None
        st = table_status(obs_path)
        return {"files": st["n_files"], "bytes": st["bytes"], "parts": _manifest(obs_path)["partitions"]}

    def _layout_delta(self, obs_path: str, before: dict | None) -> dict:
        after = self._layout_probe(obs_path)
        b = before or {"files": 0, "bytes": 0, "parts": {}}
        return {
            "files_added": after["files"] - b["files"],
            "bytes_added": after["bytes"] - b["bytes"],
            "partitions_rewritten": sum(
                1 for d, rel in after["parts"].items() if b["parts"].get(d) != rel
            ),
        }


def _cycle_layer_metrics(spans) -> dict:
    """Per-layer numbers of one ingest cycle from its spans."""
    by = {}
    for s in spans:
        by.setdefault(s.name, []).append(s)
    ingest = by["engine.ingest_batch"][0]

    sinks = {
        "bronze": by.get("sink.bronze", []),
        "fields": by.get("sink.fields", []),
        "series": [
            s for s in by.get("pipeline.dims.insert_if_absent", []) if s.parent == ingest.span_id
        ],
        "silver": by.get("sink.silver", []),
    }
    ends = {k: max(s.end for s in v) for k, v in sinks.items() if v}
    total = lambda name: sum(s.duration for s in by.get(name, []))  # noqa: E731
    return {
        "engine.ingest_batch_s": ingest.duration,
        "engine.ingest_batch_self_ms": 1000 * self_time(ingest, spans),
        "critical": max(ends, key=ends.get),
        "suite.reshape.melt_numeric_ms": 1000 * total("suite.reshape.melt_numeric"),
        "pipeline.bronze.bronze_append_s": total("sink.bronze"),
        "pipeline.dims.insert_if_absent_s": total("pipeline.dims.insert_if_absent"),
        "pipeline.versioned.upsert_s": total("pipeline.versioned.upsert"),
        "pipeline.versioned.publish_version_ms": 1000 * total("pipeline.versioned.publish_version"),
        "pipeline.versioned.read_manifest_ms": 1000 * total("pipeline.versioned.read_manifest"),
        "pipeline.versioned.read_manifest_calls": len(by.get("pipeline.versioned.read_manifest", [])),
        "pipeline.versioned.commit_attempts": len(by.get("pipeline.versioned.upsert", [])),
    }


def ingest_hourly(ctx: RunContext, setups: list[float]) -> Result:
    polls = gen.feed_polls(FEED, ctx.seed)
    obs_per_round = sum(
        int(p.drop(columns=[gen.ID_COL, gen.TIME_COL, gen.QUALITY_COL]).notna().sum().sum())
        for p in polls
    )
    tracer = Tracer() if ctx.traced else None

    def set_up(idx: int, tracer: Tracer | None, polls=polls) -> IngestRound:
        """One lifecycle's set-up: staged polls, a fresh engine and lake,
        and a started stream."""
        t0 = time.perf_counter()
        r = IngestRound(ctx, _stage_polls(ctx, polls), idx, tracer)
        r.start()
        setups.append(time.perf_counter() - t0)
        return r

    # Warm-up: a short lifecycle on a throwaway lake. Cycle times fall
    # over the first cycles of a fresh JVM (code generation, JIT, Python
    # workers), so the measured rounds start after it.
    warm = set_up(-1, None, polls[:WARM_POLLS])
    warm.run()
    shutil.rmtree(os.path.dirname(warm.root), ignore_errors=True)

    rounds, passes, problems = [], [], []
    attempted = failed = 0
    patch = tracer.patched(INGEST_SPANS) if tracer else contextlib.nullcontext()
    with patch:
        for _ in range(_repeats(ctx.seconds, ROUND_NOMINAL_S)):
            r = set_up(len(rounds), tracer)
            start, end = r.run()
            rounds.append(r)
            passes.append(
                Pass(
                    wall_s=end - start,
                    cpu_s=r.cpu_s,
                    ops_s=[c - l for l, c in zip(r.landed, r.committed)],
                    ops_cpu_s=r.cycle_cpu,
                    windows={
                        r.cycle_id(k): (l, c) for k, (l, c) in enumerate(zip(r.landed, r.committed))
                    },
                )
            )
            attempted += len(polls)
            bad = checks.check_ingest(r.root, polls)
            if bad:
                failed += len(polls)
                problems += bad
    # Lake footprint of the last round (every round does identical work).
    lake_bytes = _dir_bytes(rounds[-1].root)
    live_rows = len(gen.lww_replay(polls))
    cycles = [x for p in passes for x in p.ops_s]
    detail = _ingest_layers(tracer, rounds) if tracer else {}
    for r in rounds:
        shutil.rmtree(os.path.dirname(r.root), ignore_errors=True)
    return Result(
        passes=passes,
        attempted=attempted,
        failed=failed,
        problems=problems,
        detail=detail,
        exec_detail=median_exec_layers,
        tracer=tracer,
        extra={
            "rounds": len(rounds),
            "polls_per_round": len(polls),
            "cycle_s": cycles,
            "cycle_p50_s": stats.median(cycles),
            "cycle_p90_s": _p90_if_supported(cycles),
            "obs_per_s": obs_per_round * len(passes) / sum(p.wall_s for p in passes),
            "lake_bytes_per_obs": lake_bytes / live_rows,
        },
    )


def _ingest_layers(tracer: Tracer, rounds) -> dict:
    traces = tracer.by_trace()
    per_cycle = []
    lags = []
    for r in rounds:
        for k, (landed, entered) in enumerate(zip(r.landed, r.entered)):
            per_cycle.append(_cycle_layer_metrics(traces[r.cycle_id(k)]))
            lags.append(1000 * (entered - landed))
    out = {"streaming.trigger_lag_ms": (stats.median(lags), "ms")}
    units = {"_s": "s", "_ms": "ms", "_calls": "count", "_attempts": "count"}
    for key in per_cycle[0]:
        if key == "critical":
            continue
        unit = next(u for suffix, u in units.items() if key.endswith(suffix))
        out[key] = (stats.median(c[key] for c in per_cycle), unit)
    for sink in SINKS:
        out[f"engine.critical_sink.{sink}"] = (
            sum(1 for c in per_cycle if c["critical"] == sink),
            "count",
        )
    layout = [d for r in rounds for d in r.layout]
    for key, unit in (("files_added", "count"), ("bytes_added", "B"), ("partitions_rewritten", "count")):
        out[f"pipeline.versioned.{key}"] = (stats.median(d[key] for d in layout), unit)
    comps = [c for r in rounds for c in r.compactions]
    out["pipeline.versioned.compact_s"] = (stats.median(c["s"] for c in comps), "s")
    out["pipeline.versioned.compact_bytes_rewritten"] = (
        stats.median(c["bytes"] for c in comps),
        "B",
    )
    return out


EXEC_UNITS = {"jobs": "count", "tasks": "count", "task_s": "s", "gc_s": "s", "job_wall_s": "s"}


def median_exec_layers(per_window: dict) -> dict:
    """``spark.<metric>_per_cycle``: median over cycles of each cycle's
    Spark execution totals."""
    return {
        f"spark.{m}_per_cycle": (
            stats.median(v[m] for v in per_window.values()),
            EXEC_UNITS.get(m, "B"),
        )
        for m in EXEC_METRICS
    }


# ----------------------------------------------------------------------
# query_mix: the registered operator queries
# ----------------------------------------------------------------------

TABLES = gen.TableSpec()
# The seed draws every operator table but ``documents``, which is fixed:
# the DuckDB oracles of the three queries that read it (MinHash, the
# classifier's training in SQL, TF-IDF) take about 17 s, and the oracle
# cache answers them only for tables it has seen.
DOCS_SEED = 20240101
# Five of the registered, oracled queries, one per kernel family the
# issue names: dedup (MinHash LSH), embedding similarity, graph
# (PageRank), text (TF-IDF) and the quality classifier. Run time caps
# the mix: all 18 the issue lists take one to two minutes per pass on a
# 4-core host, and the evaluation's 48 runs must end within the hour.
QUERIES = (
    "graph_pagerank",
    "dedup_minhash_lsh",
    "embedding_cosine_near_dup",
    "quality_classifier_train",
    "tfidf_top_terms",
)


SETUPS = 3  # fixture set-ups per query_mix run; setup_s takes their median


def query_mix(ctx: RunContext, setups: list[float]) -> Result:
    from gas_data_pipeline_spark.registry import all_oracles, all_queries, reset_model_seams

    from perfbench.harness import HOME

    spark = ctx.spark
    queries, oracles = all_queries(), all_oracles()
    missing = [q for q in QUERIES if q not in oracles]
    if missing:
        raise KeyError(f"queries without a registered oracle: {missing}")
    for k in range(SETUPS):
        # The fixture: tables written to a fresh directory and their
        # oracle results (cached per checkout).
        t0 = time.perf_counter()
        data = gen.write_operator_tables(TABLES, ctx.seed, DOCS_SEED, ctx.dir(f"tables{k}"))
        cache = checks.OracleCache(os.path.join(HOME, "oracle_cache"), data)
        for name in QUERIES:
            cache.expected(name, oracles[name])
        setups.append(time.perf_counter() - t0)
        if k < SETUPS - 1:
            cache.close()
    tracer = Tracer() if ctx.traced else None

    passes: list[Pass] = []
    split: list[dict] = []  # per pass: {query: (plan_s, exec_s)}
    problems: list[str] = []
    attempted = failed = 0
    for _ in range(_repeats(ctx.seconds, PASS_NOMINAL_S)):
        times, windows, cpu = {}, {}, {}
        for name in QUERIES:
            reset_model_seams()
            gc.collect()
            attempted += 1
            tid = f"p{len(passes)}:{name}"
            trace = tracer.trace(tid, "query") if tracer else contextlib.nullcontext()
            cpu0 = tree_cpu_s()
            try:
                with trace:
                    t0 = time.time()
                    df = queries[name](spark, data)
                    t1 = time.time()
                    pdf = df.toPandas()
                    t2 = time.time()
                cpu[name] = tree_cpu_s() - cpu0
                # Checked outside the timed region, before the next
                # query's seam reset.
                got = checks.summarize(checks.canonical(pdf))
                bad = checks.summaries_differ(name, got, cache.expected(name, oracles[name]))
            except Exception as e:  # a failing query is counted, not fatal
                bad = f"{name}: {type(e).__name__}: {e}"[:500]
            else:
                times[name] = (t1 - t0, t2 - t1)
                windows[tid] = (t0, t2)
            if bad:
                failed += 1
                problems.append(bad)
        ops = [p + e for p, e in times.values()]
        ops_cpu = [cpu[name] for name in times]
        passes.append(
            Pass(wall_s=sum(ops), cpu_s=sum(ops_cpu), ops_s=ops, ops_cpu_s=ops_cpu, windows=windows)
        )
        split.append(times)
    cache.close()
    detail = {}
    if tracer:
        for name in QUERIES:
            ran = [t[name] for t in split if name in t]
            detail[f"query.{name}.plan_s"] = (stats.median(p for p, _ in ran), "s")
            detail[f"query.{name}.exec_s"] = (stats.median(e for _, e in ran), "s")
    per_query = [x for p in passes for x in p.ops_s]
    return Result(
        passes=passes,
        attempted=attempted,
        failed=failed,
        problems=problems,
        detail=detail,
        exec_detail=query_exec_layers,
        tracer=tracer,
        extra={
            "passes": len(passes),
            "tables": {"seed": ctx.seed, "docs_seed": DOCS_SEED, **vars(TABLES)},
            "query_s": split,
            "query_cpu_s": [dict(zip(p_split, p.ops_cpu_s)) for p_split, p in zip(split, passes)],
            "query_p90_s": _p90_if_supported(per_query),
        },
    )


def query_exec_layers(per_window: dict) -> dict:
    """``query.<q>.task_s`` / ``.shuffle_write_bytes``: median over
    passes of each query's Spark execution totals."""
    out = {}
    for name in QUERIES:
        ran = [v for tid, v in per_window.items() if tid.split(":", 1)[1] == name]
        out[f"query.{name}.task_s"] = (stats.median(v["task_s"] for v in ran), "s")
        out[f"query.{name}.shuffle_write_bytes"] = (
            stats.median(v["shuffle_write_bytes"] for v in ran),
            "B",
        )
    return out


WORKLOADS = {"ingest_hourly": ingest_hourly, "query_mix": query_mix}
