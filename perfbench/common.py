"""Shared pieces of the benchmark: host pinning, the Spark session's
lifetime, the in-memory span tracer, percentiles, and the Spark event-log
reader that gives per-query stage counters.

Importing this module starts nothing; ``pin_host`` must run before the
first ``pyspark`` import, because the JVM reads its options at launch.
"""

from __future__ import annotations

import json
import os
import platform
import shutil
import subprocess
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Any


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user … steal), in ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def pin_host(work_dir: str, event_log_dir: str | None) -> dict[str, Any]:
    """Pin the engine to ``local[nproc]``, keep every scratch file inside
    ``work_dir``, and (for traced runs) turn on the Spark event log.
    Returns the host facts recorded with the result."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.pop("SPARK_MASTER", None)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    submit = [f"--driver-java-options -Djava.io.tmpdir={tmp}"]
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        submit += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.rolling.enabled=false",
            "--conf spark.eventLog.compress=false",
            f"--conf spark.eventLog.dir=file://{event_log_dir}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    import tempfile

    tempfile.tempdir = tmp
    return {
        "nproc": nproc(),
        "master": f"local[{nproc()}]",
        "loadavg_before": list(os.getloadavg()),
        "python": platform.python_version(),
    }


class Tracer:
    """Spans kept in memory and written out once at the end.

    A span has a name, start and end (seconds since the tracer's epoch), the
    id of the enclosing span, and a request id (a query pass/name or a
    micro-batch id). With ``enabled=False`` every call is a no-op, so the
    untraced run pays nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict[str, Any]] = []
        self._stack: list[int] = []
        self._epoch = time.perf_counter()

    @contextmanager
    def span(self, name: str, req: str | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "req": req,
            "start": time.perf_counter() - self._epoch,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._epoch

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in [0, 100]) of a non-empty list."""
    v = sorted(values)
    k = max(0, min(len(v) - 1, int(-(-q * len(v) // 100)) - 1))
    return v[k]


def median(values: list[float]) -> float:
    """Median of ``values``; 0.0 for none (every query of a kind failed)."""
    v = sorted(values)
    n = len(v)
    if not n:
        return 0.0
    return v[n // 2] if n % 2 else (v[n // 2 - 1] + v[n // 2]) / 2


def mean(values: list[float]) -> float:
    return sum(values) / len(values) if values else 0.0


@dataclass
class Session:
    """The benchmark's Spark session plus what its start-up cost."""

    spark: Any
    get_spark_s: float
    load_modules_s: float


def start_session(tracer: Tracer, load_queries: bool) -> Session:
    """Time ``session.get_spark`` and (for the query workload)
    ``registry.load_all_query_modules``, the two set-up calls every
    workload pays."""
    with tracer.span("session.get_spark"):
        t0 = time.perf_counter()
        from trike_spark.session import get_spark

        spark = get_spark("perfbench")
        get_spark_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    load_s = 0.0
    if load_queries:
        with tracer.span("registry.load_modules"):
            t0 = time.perf_counter()
            from trike_spark.registry import load_all_query_modules

            load_all_query_modules()
            load_s = time.perf_counter() - t0
    return Session(spark=spark, get_spark_s=get_spark_s, load_modules_s=load_s)


def stop_session(spark: Any, timeout_s: float = 30.0) -> None:
    """Stop Spark and wait until its JVM (and the Python workers it owns)
    has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway else None
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=timeout_s)


def reset_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# --- Spark event log -------------------------------------------------------

REQ_PROPERTY = "perfbench.req"
PHASE_PROPERTY = "perfbench.phase"

_ACC = {
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_mb", 1e-6),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_mb", 1e-6),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_mb", 1e-6),
    "internal.metrics.diskBytesSpilled": ("spill_mb", 1e-6),
}

_PYTHON_SCOPES = ("Python", "Pandas", "Arrow")


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per request id (the ``perfbench.req`` local property of the jobs it
    submitted): jobs, build-phase jobs, completed stages, tasks, executor
    CPU, GC, shuffle read/write, spill, and stages that ran Python."""
    files = [os.path.join(log_dir, f) for f in sorted(os.listdir(log_dir))]
    stage_req: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    req = props.get(REQ_PROPERTY)
                    if req is None:
                        continue
                    out[req]["jobs"] += 1
                    if props.get(PHASE_PROPERTY) == "build":
                        out[req]["build_jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_req[sid] = req
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    req = stage_req.get(info["Stage ID"])
                    if req is None or info.get("Failure Reason"):
                        continue
                    m = out[req]
                    m["stages"] += 1
                    m["tasks"] += info.get("Number of Tasks", 0)
                    for acc in info.get("Accumulables", []):
                        name = acc.get("Name")
                        if name in _ACC:
                            key, scale = _ACC[name]
                            m[key] += float(acc.get("Value", 0)) * scale
                    scopes = " ".join(str(r.get("Scope", "")) for r in info.get("RDD Info", []))
                    if any(s in scopes for s in _PYTHON_SCOPES):
                        m["python_stages"] += 1
    return {k: dict(v) for k, v in out.items()}
