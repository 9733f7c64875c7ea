"""Run plumbing: scratch directories, the Spark session, run context and
the result record. Workload logic lives in :mod:`perfbench.workloads`."""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HOME = os.path.join(ROOT, ".perfbench")  # ignored by git; all run output
SCRATCH = os.path.join(HOME, "scratch")
STALE_SECONDS = 3600.0


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def reap_stale_scratch(parent: str = SCRATCH, max_age: float = STALE_SECONDS) -> int:
    """Remove run directories left by runs that died before cleaning
    up: the owner pid is gone, or the directory is older than
    ``max_age``. Returns how many were removed."""
    if not os.path.isdir(parent):
        return 0
    n = 0
    for name in os.listdir(parent):
        path = os.path.join(parent, name)
        pid = name.split("-", 1)[0]
        dead = pid.isdigit() and not _pid_alive(int(pid))
        if dead or time.time() - os.path.getmtime(path) > max_age:
            shutil.rmtree(path, ignore_errors=True)
            n += 1
    return n


@dataclass
class RunContext:
    workload: str
    seed: int
    seconds: float
    traced: bool
    scratch: str = ""
    t0: float = field(default_factory=time.perf_counter)
    spark: object = None
    event_log_dir: str = ""

    def dir(self, *parts: str) -> str:
        """A directory under the run's scratch, created on first use."""
        p = os.path.join(self.scratch, *parts)
        os.makedirs(p, exist_ok=True)
        return p


def make_scratch(workload: str) -> str:
    reap_stale_scratch()
    path = os.path.join(SCRATCH, f"{os.getpid()}-{workload}-{int(time.time())}")
    os.makedirs(path)
    return path


def start_spark(ctx: RunContext):
    """The engine's own session factory on ``local[nproc]``, with every
    temporary directory inside the run's scratch and, for a traced run,
    Spark's event log switched on from outside the package."""
    n = nproc()
    tmp = ctx.dir("tmp")
    tempfile.tempdir = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    conf = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(ctx.scratch, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            # No hsperfdata file: the JVM would write it outside the
            # checkout. The heap is left to the engine's own settings.
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
        ),
    }
    if ctx.traced:
        ctx.event_log_dir = os.path.join(ctx.scratch, "eventlog")
        os.makedirs(ctx.event_log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + ctx.event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {k}={json.dumps(v)}" for k, v in conf.items())
        + " pyspark-shell"
    )
    from gas_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{ctx.workload}", master=f"local[{n}]")
    spark.sparkContext.setLogLevel("ERROR")
    ctx.spark = spark
    return spark


def _vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _gateway_proc():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return gw, getattr(gw, "proc", None)


def memory_detail(spark) -> dict:
    """Peak resident memory of this Python process plus the JVM, of each
    alone, and the JVM heap pools' peak used bytes, in MB."""
    _, proc = _gateway_proc()
    out = {"python_hwm_mb": _vm_hwm_mb("self"), "jvm_hwm_mb": _vm_hwm_mb(proc.pid) if proc else 0.0}
    out["peak_rss_mb"] = out["python_hwm_mb"] + out["jvm_hwm_mb"]
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    for pool in mf.getMemoryPoolMXBeans():
        if str(pool.getType().toString()) == "Heap memory":
            out[f"jvm_peak_used_mb.{pool.getName()}"] = pool.getPeakUsage().getUsed() / 2**20
    return out


def _stat(path: str) -> tuple[str, list[str]] | None:
    """``(comm, fields after comm)`` of a ``/proc`` stat file, or None
    when the process or thread ended meanwhile."""
    try:
        with open(path) as f:
            data = f.read()
    except OSError:
        return None
    return data[data.index("(") + 1 : data.rindex(")")], data[data.rindex(")") + 2 :].split()


# HotSpot's JIT compiler threads (``comm`` is cut to 15 characters).
JIT_THREAD = re.compile(r"C[12] CompilerThre")
# Ticks each JIT thread had used when last seen, kept after it exits.
_jit_ticks: dict[tuple[int, int], int] = {}


def tree_cpu_s(root: int | None = None, proc: str = "/proc") -> float:
    """CPU seconds (user plus system, reaped children included) used so
    far by process ``root`` (default: this one) and every process below
    it - the Spark JVM and its Python workers - less the JVM's JIT
    compiler threads. Time the hypervisor gave to other guests is not in
    it, unlike wall time. JIT compilation is left out because it is the
    JVM warming up, not the program's work: it was half the JVM's CPU
    time in a cold run, and how much of it lands in a pass depends on
    timing alone."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir(proc):
        st = name.isdigit() and _stat(f"{proc}/{name}/stat")
        if st:
            parent[int(name)] = int(st[1][1])
            ticks[int(name)] = sum(int(x) for x in st[1][11:15])  # utime stime cutime cstime
    root = os.getpid() if root is None else root
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p != root:
            continue
        total += t
        try:
            tids = os.listdir(f"{proc}/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            st = _stat(f"{proc}/{pid}/task/{tid}/stat")
            if st and JIT_THREAD.match(st[0]):
                _jit_ticks[(pid, int(tid))] = int(st[1][11]) + int(st[1][12])
    return (total - sum(_jit_ticks.values())) / os.sysconf("SC_CLK_TCK")


def cpu_times() -> list[int]:
    """The machine's aggregate CPU counters from ``/proc/stat`` (user,
    nice, system, idle, iowait, irq, softirq, steal), or [] where the
    file is missing."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return []


def steal_frac(before: list[int], after: list[int]) -> float | None:
    """Share of the machine's CPU time the hypervisor gave to other
    guests between two :func:`cpu_times` readings: context for timings
    that moved while the code did not."""
    if len(before) < 8 or len(after) < 8:
        return None
    d = [a - b for a, b in zip(after, before)]
    return d[7] / sum(d) if sum(d) else None


def stop_spark(ctx: RunContext) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    if ctx.spark is None:
        return
    gw, proc = _gateway_proc()
    try:
        ctx.spark.stop()
    finally:
        ctx.spark = None
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # the JVM may already be gone
                pass
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True,
            text=True,
            timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


def package_digest() -> str:
    """Content hash of the package sources: identifies the code under
    test where the checkout carries no git metadata."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "gas_data_pipeline_spark")
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                p = os.path.join(dirpath, name)
                h.update(os.path.relpath(p, pkg).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def cpu_canary_s() -> float | None:
    """``bench.py``'s fixed single-thread workload: host speed, recorded
    as context only."""
    try:
        import bench  # the checkout root is on sys.path

        return bench._cpu_ref_seconds()
    except Exception:
        return None


def run_context(ctx: RunContext, java_version: str | None) -> dict:
    import pyspark

    n = nproc()
    return {
        "workload": ctx.workload,
        "seed": ctx.seed,
        "seconds": ctx.seconds,
        "traced": ctx.traced,
        "nproc": n,
        "master": f"local[{n}]",
        "git_commit": _git_commit(),
        "package_digest": package_digest(),
        "pyspark": pyspark.__version__,
        "java": java_version,
        "python": sys.version.split()[0],
        "cpu_canary_s": cpu_canary_s(),
        "unix_time": round(time.time(), 3),
    }


def write_record(ctx: RunContext, record: dict) -> str:
    out = os.path.join(
        HOME,
        "runs",
        f"{int(time.time())}-{ctx.workload}-s{ctx.seed}-t{int(ctx.traced)}-{os.getpid()}.json",
    )
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True, default=str)
    return out
