"""Shared run machinery: environment sizing, session set-up, weather,
memory, statistics, the span tracer and Spark job counting.

Nothing here imports pyspark at module level: ``configure_env`` must
run before the first pyspark import so the JVM and its Python workers
inherit the benchmark's environment.
"""

from __future__ import annotations

import json
import math
import os
import resource
import signal
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager
from pathlib import Path
from typing import Any, Callable

DRIVER_MEMORY = "4g"  # the session default (16g) exceeds a 15 GB host


def configure_env(root: Path, work: Path) -> dict:
    """Pin every setting the session is built with, keep all scratch
    I/O inside ``work``, and return the values for the run record."""
    local_dirs = work / "spark-local"
    tmp = work / "tmp"
    for d in (local_dirs, tmp):
        d.mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": str(local_dirs),
        "SPARK_WAREHOUSE_DIR": str(work / "warehouse"),
        "TMPDIR": str(tmp),
        # Python workers import sync_spark from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in [str(root), os.environ.get("PYTHONPATH", "")] if p
        ),
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell",
    }
    os.environ.update(env)
    return env


# -- statistics -------------------------------------------------------------


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def geomean(xs: list[float]) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


# -- weather and memory -----------------------------------------------------


def _cpu_times() -> dict:
    from sync_spark.hostmeter import cpu_times

    return cpu_times()


class Weather:
    """Steal/idle share of the host and load average over a window."""

    def __init__(self) -> None:
        self._c0 = _cpu_times()
        self._t0 = time.perf_counter()
        self._ru0 = resource.getrusage(resource.RUSAGE_SELF)

    def python_cpu_share(self) -> float:
        """Driver-process CPU seconds over wall seconds since start."""
        ru = resource.getrusage(resource.RUSAGE_SELF)
        cpu = (ru.ru_utime - self._ru0.ru_utime) + (ru.ru_stime - self._ru0.ru_stime)
        wall = time.perf_counter() - self._t0
        return cpu / wall if wall > 0 else 0.0

    def read(self) -> dict:
        from sync_spark.hostmeter import frac_window

        frac = frac_window(self._c0, _cpu_times())
        return {
            "steal": frac["steal"],
            "idle": frac["idle"],
            "loadavg": list(os.getloadavg()),
            "seconds": time.perf_counter() - self._t0,
        }


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _process_table() -> dict[int, tuple[int, int]]:
    """{pid: (parent pid, CPU ticks including reaped children)}."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while being listed
        table[int(entry)] = (int(fields[1]), sum(int(f) for f in fields[11:15]))
    return table


def _descendants(table: dict[int, tuple[int, int]], root: int) -> list[int]:
    """``root`` and every process below it in ``table``."""
    out = []
    for pid in table:
        p = pid
        while p in table and p != root:
            p = table[p][0]
        if p == root:
            out.append(pid)
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system, including reaped children) of this
    process and every live descendant: the Python driver, the JVM and
    the Python workers it forks. Time stolen by the hypervisor is not
    in it, which makes it steadier than wall time on a shared host."""
    table = _process_table()
    ticks = sum(table[p][1] for p in _descendants(table, os.getpid()))
    return ticks / os.sysconf("SC_CLK_TCK")


def memory_mb(spark) -> tuple[float, float]:
    """Peak resident memory of the Python driver, and the JVM heap still
    live after full collections at the end. The JVM's own resident size
    follows when its collector last ran, so the live heap is the steadier
    measure of what the driver holds on to. Python's collector runs
    first, so the JVM objects only dropped Python proxies pointed to are
    freed too, and the heap is read after each of a few collections:
    Spark's cleaner frees blocks asynchronously between them."""
    import gc

    gc.collect()
    jvm = spark._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    live = []
    for _ in range(3):
        jvm.java.lang.System.gc()
        live.append(rt.totalMemory() - rt.freeMemory())
        time.sleep(0.2)
    return _vm_hwm_kb("self") / 1024.0, min(live) / 2**20


# -- session ---------------------------------------------------------------


def _identity_batches(it):
    for batch in it:
        yield batch


def warm_up(spark, scratch: Path) -> None:
    """Make a fresh session ready for work: a shuffle and a parquet
    round trip."""
    spark.range(64).repartition(int(os.environ["SPARK_GRAFT_CPUS"])).count()
    path = str(scratch / "warmup.parquet")
    spark.range(256).write.mode("overwrite").parquet(path)
    spark.read.parquet(path).count()


def warm_python_workers(spark) -> None:
    """Start the Python worker pool with pandas loaded, so the first
    pandas kernel of a workload does not pay for it."""
    n = int(os.environ["SPARK_GRAFT_CPUS"])
    spark.range(64).repartition(n).mapInPandas(_identity_batches, "id long").count()


def set_up_session(scratch: Path) -> tuple[Any, dict]:
    """Start the JVM, build the session and warm it: the set-up every
    process using the program pays. Measured in CPU seconds of the
    process tree, like the workloads, so time stolen from a shared host
    does not count. Returns the session and the timings."""
    from sync_spark.session import get_spark

    c0, t0 = tree_cpu_s(), time.perf_counter()
    spark = get_spark("perfbench")
    c1, t1 = tree_cpu_s(), time.perf_counter()
    warm_up(spark, scratch)
    c2, t2 = tree_cpu_s(), time.perf_counter()
    return spark, {
        "setup_s": c2 - c0,
        "session.build_s": c1 - c0,
        "session.warmup_s": c2 - c1,
        "wall_s": {"build": t1 - t0, "warmup": t2 - t1},
    }


def shut_down(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM and the
    Python workers it forked have all exited."""
    from pyspark import SparkContext

    me = os.getpid()
    spawned = [p for p in _descendants(_process_table(), me) if p != me]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    # workers are the JVM's children: once it is gone they exit on
    # their own, and are killed if they linger
    deadline = time.monotonic() + 30
    while spawned and time.monotonic() < deadline:
        spawned = [p for p in spawned if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in spawned:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


# -- Spark job counting -----------------------------------------------------


def job_counts(spark, group: str) -> dict:
    """Jobs, stages and tasks Spark ran under one job group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            sinfo = st.getStageInfo(sid)
            if sinfo is not None:
                stages += 1
                tasks += sinfo.numTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


# -- tracing ---------------------------------------------------------------


class Tracer:
    """In-memory spans with a parent link, written out when the run
    ends. Spans nest per thread; a span opened on a thread with no
    open span is a root."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[Any, str, Any]] = []
        self.bookkeeping_s = 0.0

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def in_span(self) -> bool:
        """Whether the calling thread has a span open."""
        return bool(self._stack())

    @contextmanager
    def span(self, name: str, **attrs):
        t_in = time.perf_counter()
        stack = self._stack()
        rec = {
            "id": 0,
            "name": name,
            "parent": stack[-1] if stack else None,
            "thread": threading.get_ident(),
            "start": 0.0,
            "end": None,
            **attrs,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        self.bookkeeping_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.bookkeeping_s += time.perf_counter() - rec["end"]

    def patch(self, owner: Any, attr: str, replacement: Any) -> None:
        """Set ``owner.attr`` to ``replacement`` until ``unwrap_all``."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def wrap(self, owner: Any, attr: str, name: str, attrs_fn: Callable | None = None) -> None:
        """Replace ``owner.attr`` with a version that records a span
        per call; ``attrs_fn(args, kwargs)`` may name extra attributes
        (a span whose attributes hold ``skip=True`` is not recorded)."""
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            attrs = attrs_fn(args, kwargs) if attrs_fn else {}
            if attrs.get("skip"):
                return orig(*args, **kwargs)
            with tracer.span(name, **attrs):
                return orig(*args, **kwargs)

        traced.__wrapped__ = orig
        self.patch(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def ancestors(self, rec: dict) -> list[str]:
        out, pid = [], rec["parent"]
        while pid is not None:
            out.append(self.spans[pid]["name"])
            pid = self.spans[pid]["parent"]
        return out

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its direct children cover."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        return {
            s["id"]: (s["end"] - s["start"]) - child_s.get(s["id"], 0.0)
            for s in self.spans
            if s["end"] is not None
        }

    def dump(self, path: Path, extra: dict) -> None:
        selfs = self.self_times()
        spans = [
            {**s, "duration": s["end"] - s["start"], "self": selfs[s["id"]]}
            for s in self.spans
            if s["end"] is not None
        ]
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({**extra, "spans": spans}, default=str))

    def root_seconds(self) -> dict[str, float]:
        """Seconds of the finished root spans, summed by name."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["parent"] is None and s["end"] is not None:
                out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out

    def durations(self, name: str) -> list[float]:
        """Durations (s) of every finished span called ``name``."""
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"] is not None]


def per_root_sums(tracer: Tracer, root: str, name: str) -> list[float]:
    """Seconds of ``name`` spans summed under each ``root`` span."""
    sums: dict[int, float] = {}
    roots = [s["id"] for s in tracer.spans if s["name"] == root]
    for rid in roots:
        sums[rid] = 0.0
    for s in tracer.spans:
        if s["name"] != name or s["end"] is None:
            continue
        pid = s["parent"]
        while pid is not None and pid not in sums:
            pid = tracer.spans[pid]["parent"]
        if pid is not None:
            sums[pid] += s["end"] - s["start"]
    return [sums[r] for r in roots]


def dir_bytes(path: str | Path, suffixes: tuple[str, ...] = ()) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            if suffixes and not f.endswith(suffixes):
                continue
            total += os.path.getsize(os.path.join(dirpath, f))
    return total
