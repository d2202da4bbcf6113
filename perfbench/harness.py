"""Run environment, Spark session lifecycle, memory high-water marks and
the order statistics every workload reports.

Everything a run writes lives under ``.perfbench/`` in the directory the
benchmark is started from (Spark scratch, JVM and Python temp files, the
engine's state root, event logs and the results log).
"""

from __future__ import annotations

import gc
import json
import os
import platform
import resource
import shutil
import signal
import subprocess
import sys
import time
from dataclasses import dataclass, field

import numpy as np

# Tail rule: the highest of these percentiles that has at least
# TAIL_MIN_BEYOND samples beyond it.  Below 40 samples no rung has, and
# the tail stays at the lowest rung, p75: the sample maximum of a short
# run moves with every stray pause, and a tail below p75 says little.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
TAIL_MIN_BEYOND = 10

DRIVER_MEMORY = "2g"


def nproc() -> int:
    """Cores this process may run on (what ``nproc`` prints, minus its
    OMP_NUM_THREADS override)."""
    return len(os.sched_getaffinity(0))


def tail_percentile(n: int) -> float:
    """Highest ladder percentile with >= TAIL_MIN_BEYOND of ``n``
    samples beyond it, else the lowest rung."""
    for p in TAIL_LADDER:
        # tolerance: 100 - 99.9 is not exactly 0.1 in binary
        if n * (100.0 - p) / 100.0 >= TAIL_MIN_BEYOND - 1e-9:
            return p
    return TAIL_LADDER[-1]


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile."""
    arr = np.asarray(values, dtype=float)
    if arr.size == 0:
        raise ValueError("percentile of an empty sample")
    return float(np.percentile(arr, p))


def median(values) -> float:
    return percentile(values, 50.0)


@dataclass
class Tally:
    """Operations attempted and failed (errors and wrong results)."""
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)

    def record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(what)
        return ok


class RunDir:
    """``.perfbench/run-<pid>`` scratch for one run, removed on close;
    ``.perfbench/results.jsonl`` keeps one record per run."""

    def __init__(self, base: str = ".perfbench"):
        self.base = os.path.abspath(base)
        self.path = os.path.join(self.base, f"run-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        self.tmp = self.sub("tmp")
        os.environ["TMPDIR"] = self.tmp

    def sub(self, name: str) -> str:
        p = os.path.join(self.path, name)
        os.makedirs(p, exist_ok=True)
        return p

    def append_result(self, record: dict) -> None:
        with open(os.path.join(self.base, "results.jsonl"), "a") as f:
            f.write(json.dumps(record) + "\n")

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def spark_conf(run: RunDir, eventlog: bool) -> dict:
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": run.sub("spark-local"),
        "spark.sql.warehouse.dir": run.sub("warehouse"),
        # a fixed, pre-touched heap makes its resident size a constant,
        # which memory_mb takes back out of the JVM's high-water mark;
        # no perf-data file, which the JVM would put in /tmp whatever
        # java.io.tmpdir says
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={run.tmp} -Xms{DRIVER_MEMORY} "
            "-XX:+AlwaysPreTouch -XX:-UsePerfData "
            # a fixed set of JIT compiler threads, whose CPU
            # engine_cpu_s takes out
            "-XX:-UseDynamicNumberOfCompilerThreads",
    }
    if eventlog:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + run.sub("eventlog"),
            # plain JSON lines in one file: the default codec (zstd) and
            # rolling layout need a decoder this harness does not carry
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    else:
        conf["spark.eventLog.enabled"] = "false"
    return conf


def start_spark(run: RunDir, cores: int, eventlog: bool, app: str):
    """The engine's own session factory at local[cores]."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # glibc's per-thread malloc arenas make the JVM's native resident
    # size depend on thread timing (peak_rss_mb spread ~8% across seeds
    # with the default, ~2% with two arenas)
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # the launcher JVM that spark-submit starts first: no /tmp perf file
    opts = os.environ.get("SPARK_LAUNCHER_OPTS", "")
    if "-XX:-UsePerfData" not in opts:
        os.environ["SPARK_LAUNCHER_OPTS"] = f"{opts} -XX:-UsePerfData".strip()
    from pipelinedb_spark import get_spark
    spark = get_spark(app, **spark_conf(run, eventlog))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _java_pid() -> int | None:
    """PID of the driver JVM the Python gateway launched."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return None
    todo = [proc.pid]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv0 = f.read().split(b"\0")[0]
        except OSError:
            continue
        if argv0.endswith(b"java"):
            return pid
        todo.extend(_children(pid))
    return None


def _children(pid: int) -> list[int]:
    """Children of every thread of ``pid`` (a JVM forks from threads
    other than its main one)."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
        except OSError:
            pass
    return out


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def memory_mb(spark) -> dict:
    """Driver memory, in MiB.

    The JVM heap is fixed and pre-touched (``spark_conf``), so its
    resident size is a constant the harness sets.  ``peak_rss`` takes
    it out: the JVM's resident high-water outside its heap plus
    Python's high-water RSS.  ``heap_live`` is what the heap still
    holds after a full collection at the end of the run.
    """
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = _java_pid()
    jvm_kb = _vm_hwm_kb(pid) if pid is not None else 0
    bean = spark.sparkContext._jvm.java.lang.management \
        .ManagementFactory.getMemoryMXBean()
    heap = bean.getHeapMemoryUsage().getCommitted() / 2 ** 20
    # Java objects that dead Python wrappers still pin are released
    # when Python collects the wrappers
    gc.collect()
    bean.gc()
    out = {"python": py_kb / 1024.0, "jvm_rss": jvm_kb / 1024.0,
           "jvm_heap": heap,
           "heap_live": bean.getHeapMemoryUsage().getUsed() / 2 ** 20}
    out["peak_rss"] = out["python"] + out["jvm_rss"] - heap
    return out


_CLK_TCK = os.sysconf("SC_CLK_TCK")
_jvm: dict = {}      # gateway pid -> (JVM pid, JIT compiler thread ids)


def _process_cpu_s(pid: int) -> float:
    """CPU seconds of every thread of ``pid``, to the nanosecond (the
    process's CPU-time clock), plus those of the children it has
    reaped, so a Python worker that exits between two readings still
    counts; 0 once ``pid`` is gone."""
    try:
        own = time.clock_gettime(((~pid) << 3) | 2)   # CPUCLOCK_SCHED
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return own + (int(fields[13]) + int(fields[14])) / _CLK_TCK


def _jit_threads(jvm: int) -> list[int]:
    out = []
    for tid in os.listdir(f"/proc/{jvm}/task"):
        try:
            with open(f"/proc/{jvm}/task/{tid}/comm") as f:
                if "CompilerThre" in f.read():
                    out.append(int(tid))
        except OSError:
            pass
    return out


def _thread_cpu_s(pid: int, tid: int) -> float:
    try:
        with open(f"/proc/{pid}/task/{tid}/schedstat") as f:
            return int(f.read().split()[0]) / 1e9
    except OSError:
        return 0.0


def engine_cpu_s() -> float:
    """CPU seconds used so far by this process, the driver JVM and every
    process the JVM started (the Python workers), less the JVM's JIT
    compiler threads.

    Time the hypervisor gives to other guests is not CPU time, so a
    difference of two readings is the work an operation cost whatever
    the host's load; its wall time is not (see ``steal_pct``).  The JIT
    compiles the classes Spark generates for each new plan in the
    background; its CPU was 2.5-17 s per dedup job, falling job after
    job, against ~6 s of work, and would swamp the work's own."""
    from pyspark import SparkContext
    proc = getattr(SparkContext._gateway, "proc", None)
    total = time.process_time()
    if proc is None:
        return total
    if proc.pid not in _jvm:
        _jvm.clear()
        jvm = _java_pid()
        _jvm[proc.pid] = (jvm, _jit_threads(jvm) if jvm else [])
    jvm, jit = _jvm[proc.pid]
    if jvm is None:
        return total
    total += sum(_process_cpu_s(p) for p in [jvm, *_descendants(jvm)])
    return total - sum(_thread_cpu_s(jvm, t) for t in jit)


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session and wait until the driver JVM and every process
    it started (Python workers) have exited."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    tree = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and not _is_zombie(pid):
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
                deadline = time.monotonic() + timeout
            time.sleep(0.05)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings: noise from outside this host."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta)
    return 100.0 * delta[7] / total if total else 0.0


def environment(spark, cores: int) -> dict:
    """What a result must carry to be comparable with another."""
    jvm = spark.sparkContext._jvm
    return {
        "nproc": nproc(),
        "master": f"local[{cores}]",
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "loadavg": list(os.getloadavg()),
    }
