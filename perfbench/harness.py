"""Shared machinery for the benchmark: environment pinning, the Spark
session, spans, Spark job accounting, memory and the host drift probes.

Everything here is driven from outside the engine: spans are recorded
around calls into ``core_etl_spark`` and Spark's own status store supplies
job, stage and task counts after the fact, so the engine runs unmodified.
"""

from __future__ import annotations

import json
import os
import resource
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: scratch space for lakes, drops, generated tables, Spark local dirs and
#: the span file — inside the checkout, removed at the start of every run
WORK = os.path.join(ROOT, ".perfbench_run")


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"perfbench: {time.perf_counter() - _T0:7.2f} s  {msg}",
          file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment() -> None:
    """Keep the load on the host's cores and every file in the
    checkout. Must run before pyspark or core_etl_spark is imported:
    the session module reads SPARK_GRAFT_CPUS at import time, and its
    default (32 task threads) oversubscribes a small host."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    # the short-lived launcher JVM spark-submit runs first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    import tempfile

    tempfile.tempdir = tmp


def start_session():
    """The engine's own session factory, with JVM temp files kept in the
    checkout. Returns (spark, seconds taken)."""
    from core_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        },
    )
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it every Python worker
    it forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        proc.wait(timeout=60)


# --- statistics ---------------------------------------------------------------


def pct(values: list[float], q: int) -> float:
    """q-th percentile (1..99), linear between order statistics."""
    vals = sorted(values)
    if len(vals) == 1:
        return vals[0]
    return statistics.quantiles(vals, n=100, method="inclusive")[q - 1]


def median(values: list[float]) -> float:
    return statistics.median(values)


# --- spans --------------------------------------------------------------------


class Tracer:
    """Spans kept in memory and written once at the end. A span records
    name, layer, start, end (epoch seconds), parent id and workload id.
    The parent is the innermost open span on the same thread, else the
    tracer's ``ambient`` span — the operation a helper thread (the
    backfill prefetch, a streaming batch) is working for.

    With ``enabled=False`` spans cost one branch and record nothing."""

    def __init__(self, workload: str, enabled: bool) -> None:
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ambient: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str):
        return _Span(self, name)

    def add(self, name: str, start: float, end: float,
            parent: int | None = None) -> int:
        """Record a finished span from timestamps measured elsewhere
        (streaming progress reports)."""
        with self._lock:
            sid = len(self.spans)
            self.spans.append({
                "id": sid, "name": name, "layer": name.split(".", 1)[0],
                "start": start, "end": end,
                "parent": parent if parent is not None else self.ambient,
                "workload": self.workload,
            })
        return sid

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_seconds(self) -> dict[str, float]:
        """Seconds per layer not covered by that span's own children."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union_len(kids.get(s["id"], []), s["start"], s["end"])
            own = max(0.0, s["end"] - s["start"] - covered)
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class _Span:
    __slots__ = ("tr", "name", "sid", "start", "parent")

    def __init__(self, tr: Tracer, name: str) -> None:
        self.tr, self.name = tr, name
        self.sid = None

    def __enter__(self):
        if self.tr.enabled:
            st = self.tr._stack()
            self.parent = st[-1] if st else self.tr.ambient
            self.start = time.time()
            with self.tr._lock:
                self.sid = len(self.tr.spans)
                self.tr.spans.append(None)  # reserve the id
            st.append(self.sid)
        return self

    def __exit__(self, *exc):
        if self.sid is None:
            return False
        end = time.time()
        self.tr._stack().pop()
        self.tr.spans[self.sid] = {
            "id": self.sid, "name": self.name,
            "layer": self.name.split(".", 1)[0],
            "start": self.start, "end": end, "parent": self.parent,
            "workload": self.tr.workload,
        }
        return False


def _union_len(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --- Spark job accounting -------------------------------------------------------


def spark_jobs(spark) -> list[dict]:
    """Every job the status store still retains, with its submission and
    completion times (epoch s) and the executor-side totals of the stages
    it ran. Read once per traced run, after the measured window."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    stages = {}
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    sl = store.stageList(None, False, False, no_quantiles, None)
    for i in range(sl.size()):
        st = sl.apply(i)
        stages[st.stageId()] = {
            "run_ms": st.executorRunTime(),
            "cpu_ms": st.executorCpuTime() / 1e6,
            "input_bytes": st.inputBytes(),
            "output_bytes": st.outputBytes(),
            "shuffle_write_bytes": st.shuffleWriteBytes(),
        }
    out = []
    jl = store.jobsList(None)
    for i in range(jl.size()):
        j = jl.apply(i)
        sub, comp = j.submissionTime(), j.completionTime()
        if not sub.isDefined():
            continue
        ids = j.stageIds()
        ran = [ids.apply(k) for k in range(ids.size())]
        ran = [s for s in ran if s in stages]
        out.append({
            "id": j.jobId(),
            "start": sub.get().getTime() / 1000.0,
            "end": comp.get().getTime() / 1000.0 if comp.isDefined() else None,
            "stages": j.numCompletedStages(),
            "tasks": j.numCompletedTasks(),
            **{k: sum(stages[s][k] for s in ran) for k in
               ("run_ms", "cpu_ms", "input_bytes", "output_bytes",
                "shuffle_write_bytes")},
        })
    return out


def jobs_within(jobs: list[dict], intervals: list[tuple[float, float]]) -> list[dict]:
    """Jobs submitted inside any of the intervals (epoch s). Status-store
    timestamps have millisecond resolution, hence the 1 ms slack."""
    return [
        j for j in jobs
        if any(lo - 0.001 <= j["start"] <= hi + 0.001 for lo, hi in intervals)
    ]


def job_metrics(jobs: list[dict], intervals: list[tuple[float, float]],
                units: int) -> dict[str, float]:
    """Per-unit Spark accounting over the given intervals: jobs, stages,
    tasks, executor time and bytes, and the share of the intervals' wall
    during which at least one job was running (the rest is query planning,
    Python work and waiting)."""
    sel = jobs_within(jobs, intervals)
    wall = sum(hi - lo for lo, hi in intervals)
    busy = sum(
        _union_len([(j["start"], j["end"] or hi) for j in sel], lo, hi)
        for lo, hi in intervals
    )
    u = max(units, 1)
    return {
        "op.jobs": len(sel) / u,
        "op.stages": sum(j["stages"] for j in sel) / u,
        "op.tasks": sum(j["tasks"] for j in sel) / u,
        "op.executor_run_ms": sum(j["run_ms"] for j in sel) / u,
        "op.executor_cpu_ms": sum(j["cpu_ms"] for j in sel) / u,
        "op.input_bytes": sum(j["input_bytes"] for j in sel) / u,
        "op.output_bytes": sum(j["output_bytes"] for j in sel) / u,
        "op.shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in sel) / u,
        "op.job_busy_share": busy / wall if wall > 0 else 0.0,
    }


# --- memory --------------------------------------------------------------------


def peak_rss_mb(spark) -> float:
    """High-water resident set of this Python process plus the Spark JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


# --- host drift index ----------------------------------------------------------


def calibrate(spark) -> dict[str, float]:
    """bench.py's two fixed-cost probes, imported unchanged (one timed
    run each after their built-in warm-up)."""
    import bench

    return {
        "host.calibration_s": bench._calibrate(spark, runs=1)[0],
        "host.calibration_mem_s": bench._calibrate_mem(spark, runs=1)[0],
    }
