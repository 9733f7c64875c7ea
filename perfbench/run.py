"""Engine benchmark: one workload per run, every output checked.

Run from the repository root::

    python3 perfbench/run.py --workload ingest_hourly --seed 1 --seconds 20 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
layers' public functions, enables Spark's event log and prints the
per-layer metrics instead. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Run records (context,
all metric sets, problems, spans) are kept under ``.perfbench/runs/``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if sys.path[0] == HERE:
    sys.path[0] = ROOT  # import the checkout's packages, not siblings
elif ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import harness, stats  # noqa: E402
from perfbench.trace import attribute_execution, read_event_log  # noqa: E402


def _parse(argv, workloads):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _engine_present() -> bool:
    return importlib.util.find_spec("gas_data_pipeline_spark") is not None and os.path.exists(
        os.path.join(ROOT, "tests", "compare.py")
    )


def _on_term(signum, _frame):
    raise SystemExit(128 + signum)  # unwinds through the cleanup below


# The per-layer metrics every workload reports: Spark execution totals
# of a pass's operations, read from the event log.
PASS_LAYERS = {
    "spark.jobs": ("jobs", "count"),
    "spark.tasks": ("tasks", "count"),
    "spark.task_s": ("task_s", "s"),
    "spark.shuffle_write_bytes": ("shuffle_write_bytes", "B"),
    "spark.job_wall_s": ("job_wall_s", "s"),
}


# The end-to-end metrics a run declares besides ``setup_s``: CPU time,
# which host contention moves far less than wall time (README,
# "Measured spread"). The wall-time metrics are reported beside them.
DECLARED = ("pass_cpu_s", "op_cpu_geomean_s")


def end_to_end(passes) -> dict:
    """Medians over passes of a pass's CPU time (the process tree's) and
    wall time, and geometric means over every operation (cycle or query)
    of its CPU and wall time."""
    return {
        "pass_cpu_s": (stats.median(p.cpu_s for p in passes), "s"),
        "op_cpu_geomean_s": (stats.geomean(x for p in passes for x in p.ops_cpu_s), "s"),
        "pass_s": (stats.median(p.wall_s for p in passes), "s"),
        "op_geomean_s": (stats.geomean(x for p in passes for x in p.ops_s), "s"),
    }


def pass_layers(passes, per_window: dict) -> dict:
    """Spark totals per pass (median over passes), and ``driver.self_s``:
    the pass's operation time during which no Spark job ran (Python
    code, plan building, commits on the driver)."""
    out = {}
    for name, (key, unit) in PASS_LAYERS.items():
        out[name] = (
            stats.median(sum(per_window[t][key] for t in p.windows) for p in passes),
            unit,
        )
    out["driver.self_s"] = (
        stats.median(
            sum(e - s - per_window[t]["job_wall_s"] for t, (s, e) in p.windows.items())
            for p in passes
        ),
        "s",
    )
    return out


def main(argv=None) -> int:
    t0 = time.perf_counter()
    from perfbench.workloads import WORKLOADS

    args = _parse(argv, WORKLOADS)
    if not _engine_present():
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2
    signal.signal(signal.SIGTERM, _on_term)

    ctx = harness.RunContext(args.workload, args.seed, args.seconds, bool(args.trace), t0=t0)
    ctx.scratch = harness.make_scratch(args.workload)
    setups: list[float] = []
    try:
        try:
            steal0 = harness.cpu_times()
            spark = harness.start_spark(ctx)
            session_start_s = time.perf_counter() - t0
            java = spark.sparkContext._jvm.System.getProperty("java.version")
            res = WORKLOADS[args.workload](ctx, setups)
            workload_s = time.perf_counter() - t0 - session_start_s
            memory = harness.memory_detail(spark)
            steal = harness.steal_frac(steal0, harness.cpu_times())
        finally:
            t_stop = time.perf_counter()
            harness.stop_spark(ctx)
            stop_s = time.perf_counter() - t_stop
        per_layer: dict = {}
        detail = dict(res.detail)
        if ctx.traced:
            windows = {t: w for p in res.passes for t, w in p.windows.items()}
            per_window = attribute_execution(read_event_log(ctx.event_log_dir), windows)
            per_layer = pass_layers(res.passes, per_window)
            detail.update(res.exec_detail(per_window))
    finally:
        shutil.rmtree(ctx.scratch, ignore_errors=True)

    # Set-up: the one-time session start plus the median of the run's
    # repeated fixture set-ups.
    setup_s = session_start_s + stats.median(setups)
    e2e = {"setup_s": (setup_s, "s"), **end_to_end(res.passes)}
    if ctx.traced:
        # The traced run's own end-to-end numbers: their gap to an
        # untraced run of the same seed is the tracing overhead.
        per_layer.update({f"traced.{k}": v for k, v in e2e.items() if k != "setup_s"})
    declared = {k: e2e[k] for k in ("setup_s", *DECLARED)}
    context = harness.run_context(ctx, java)
    context.update(
        session_start_s=session_start_s,
        fixture_setups_s=setups,
        workload_s=workload_s,
        session_stop_s=stop_s,
        cpu_steal_frac=steal,
        memory=memory,
    )
    attempted, failed = res.attempted, res.failed
    record = {
        "context": context,
        "end_to_end": e2e,
        "per_layer": per_layer,
        "layer_detail": detail,
        "attempted": attempted,
        "failed": failed,
        "failed_frac": failed / attempted,
        "problems": res.problems,
        "detail": res.extra,
    }
    path = harness.write_record(ctx, record)
    if res.tracer is not None:
        res.tracer.dump(path[: -len(".json")] + ".spans.json")

    print("# context " + json.dumps(context, default=str))
    print(f"# peak_rss_mb = {memory['peak_rss_mb']:.6g} MB (context only; see README)")
    if steal is not None:
        print(f"# cpu_steal_frac = {steal:.4f} (CPU time the host gave to other guests)")
    for p in res.problems:
        print("# problem " + p)
    for key, value in res.extra.items():
        if isinstance(value, float):
            print(f"# {args.workload} {key} = {value:.6g}")
    label = "traced end-to-end" if ctx.traced else "end-to-end"
    for name, (value, unit) in e2e.items():
        print(f"# {label} {name} = {value:.6g} {unit}")
    for name, (value, unit) in detail.items():
        print(f"# layer {name} = {value:.6g} {unit}")
    print(f"# failed_frac = {failed}/{attempted} = {failed / attempted:.6g}")
    print(f"# record {os.path.relpath(path, ROOT)}")
    shown = per_layer if ctx.traced else declared
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
