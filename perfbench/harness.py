"""Shared machinery of the benchmark: process environment, the Spark
session, host context, /proc sampling, the closed-loop operation
driver and the statistics printed at the end of a run.

Nothing here imports pyspark or the engine at module import time:
``prepare_env`` must run first, because the executor Python workers
inherit the environment the session is started with.
"""

from __future__ import annotations

import contextlib
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

#: Driver heap of every run. Fixed so the heap cannot drift between
#: runs; the engine's own default (16g) exceeds small hosts.
DRIVER_MEM = "3g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(root: str, work: str) -> None:
    """Point every writer of temporary files into ``work`` and make the
    engine importable in executor Python workers."""
    os.makedirs(work, exist_ok=True)
    if root not in sys.path:
        sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = work
    os.environ["TZ"] = "UTC"
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={work} -XX:-UsePerfData")
    time.tzset()
    import tempfile
    tempfile.tempdir = work


def build_spark():
    """The engine's own session builder at local[nproc]."""
    from dataflowtemplates_spark.session import build_session
    return build_session(
        "perfbench", master=f"local[{nproc()}]",
        extra_confs={"spark.ui.showConsoleProgress": "false"})


def stop_spark(spark) -> None:
    """Stop the session, then the JVM the session started, and wait for
    it: pyspark itself leaves the JVM to notice the driver's exit."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def host_context(spark=None) -> dict:
    """Recorded with every run; never used to discard one."""
    ctx = {"nproc": nproc(), "master": f"local[{nproc()}]",
           "driver_heap": DRIVER_MEM, "loadavg": _loadavg()}
    if spark is not None:
        import pyspark
        jvm = spark.sparkContext._jvm
        ctx["spark"] = spark.version
        ctx["pyspark"] = pyspark.__version__
        ctx["java"] = str(jvm.java.lang.System.getProperty("java.version"))
    return ctx


def _loadavg() -> str:
    with open("/proc/loadavg") as fh:
        return fh.read().strip()


def cpu_times() -> list[int]:
    """The host's aggregate CPU counters from /proc/stat (jiffies)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to others in between."""
    delta = [b - a for a, b in zip(before, after)]
    return 100.0 * delta[7] / max(1, sum(delta))


# -- /proc --------------------------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")


def _proc_stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces: split after its closing parenthesis
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _proc_stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def pyworker_cpu_s(root: int) -> float:
    """CPU seconds used so far by the pyspark worker daemon tree: the
    daemon itself, its reaped children (cutime/cstime) and the live
    forked workers."""
    total = 0.0
    tree = process_tree(root)
    daemons = {pid for pid in tree if "pyspark.daemon" in _cmdline(pid)}
    for pid in daemons:
        st = _proc_stat(pid)
        if st is None or int(st[1]) in daemons:
            continue  # a forked worker: counted under its daemon
        for wpid in process_tree(pid):
            st = _proc_stat(wpid)
            if st is None:
                continue
            ticks = int(st[11]) + int(st[12])
            if wpid == pid:
                ticks += int(st[13]) + int(st[14])
            total += ticks / _CLK
    return total


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of the driver, the JVM and the Python
    workers: the sum over every process seen of its VmHWM (a per-process
    high-water mark, so sampling only has to see each process once)."""

    def __init__(self, interval_s: float = 0.5):
        self._hwm: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True,
                                        args=(interval_s,))

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def _sample(self) -> None:
        for pid in process_tree(os.getpid()):
            kb = _vm_hwm_kb(pid)
            if kb > self._hwm.get(pid, 0):
                self._hwm[pid] = kb

    def _loop(self, interval_s: float) -> None:
        while not self._stop.wait(interval_s):
            self._sample()

    def stop_mb(self) -> float:
        self._stop.set()
        self._thread.join()
        self._sample()
        return sum(self._hwm.values()) / 1024.0


# -- operations ---------------------------------------------------------

@dataclass
class Op:
    """One operation of a workload's stream. ``run`` does the timed
    work and returns what ``check`` needs; ``check`` raises
    ``CheckFailed`` on a wrong output and runs untimed."""
    kind: str
    run: object
    check: object = None


class CheckFailed(AssertionError):
    pass


@dataclass
class Stream:
    """Latency samples and failure counts of the timed phase."""
    samples: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def record_failure(self, op: Op, exc: BaseException) -> None:
        self.failed += 1
        if len(self.errors) < 10:
            self.errors.append(f"{op.kind}: {type(exc).__name__}: "
                               f"{str(exc)[:300]}")


def run_op(op: Op, stream: Stream | None, tracer=None) -> bool:
    """Run one operation and its check. Returns False on failure."""
    if stream is not None:
        stream.attempted += 1
    try:
        with (tracer.operation(op.kind) if tracer is not None
              else contextlib.nullcontext()):
            t0 = time.perf_counter()
            out = op.run()
            dt = time.perf_counter() - t0
        if op.check is not None:
            op.check(out)
    except Exception as exc:  # one failed operation must not end the run
        if stream is None:
            raise
        stream.record_failure(op, exc)
        return False
    if stream is not None:
        stream.samples.setdefault(op.kind, []).append(dt)
    return True


def drive(workload, seconds: float, stream: Stream, tracer=None) -> int:
    """Closed loop, one client: run whole cycles (every kind of the
    workload, in a fixed order) until ``seconds`` have passed and at
    least ``workload.min_cycles`` cycles are done. Whole cycles keep the
    mix of kinds fixed whatever the host speed. Returns the number of
    cycles run."""
    deadline = time.perf_counter() + seconds
    n = 0
    while True:
        for op in workload.cycle():
            run_op(op, stream, tracer)
        n += 1
        if n >= workload.min_cycles and time.perf_counter() >= deadline:
            return n


# -- statistics -----------------------------------------------------------

def tail_percentile(values: list[float]) -> tuple[int, float] | None:
    """The highest percentile with at least ten samples beyond it, as
    (percentile, value); None below 11 samples."""
    n = len(values)
    if n < 11:
        return None
    pct = int(math.floor(100 * (1 - 10 / n)))
    v = sorted(values)
    return pct, v[min(n - 1, math.ceil(pct / 100 * n) - 1)]


def summarize(samples: dict[str, list[float]]) -> dict:
    out = {}
    for kind, vals in sorted(samples.items()):
        row = {"n": len(vals), "median_s": statistics.median(vals)}
        tail = tail_percentile(vals)
        if tail is not None:
            row[f"p{tail[0]}_s"] = tail[1]
        out[kind] = row
    return out


def _geomean(values: list[float]) -> float:
    return math.exp(sum(map(math.log, values)) / len(values))


def latency_metrics(samples: dict[str, list[float]],
                    reads: tuple[str, ...]) -> dict[str, float]:
    """The workload-level figures: the geometric mean of the per-kind
    median latencies over the kinds that write (exports, commits) and
    over the kinds that read (queries, table reads)."""
    medians = {k: statistics.median(v) for k, v in samples.items()}
    return {
        "write_op_s": _geomean([m for k, m in medians.items()
                                if k not in reads]),
        "read_op_s": _geomean([m for k, m in medians.items() if k in reads]),
    }


def remove_tree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
