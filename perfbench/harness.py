"""Session lifecycle, spans, sample statistics and host facts for the
benchmark. Nothing here is specific to one workload."""

from __future__ import annotations

import os
import statistics
import subprocess
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

from eventlog import Span


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory() -> str:
    """A quarter of the host's memory, capped at 2 GiB: the package's 16g
    default is larger than small hosts, and the inputs need far less."""
    return f"{min(2048, mem_total_mb() // 4)}m"


def start_session(app: str, work: Path, traced: bool):
    """A local[nproc] session whose temporary files all stay under ``work``."""
    from combblas_spark.session import get_spark

    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
    }
    if traced:
        (work / "eventlog").mkdir(exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name=app, cores=host_cores(),
                     driver_memory=driver_memory(), extra_conf=conf)


def shutdown_jvm(timeout: float = 60.0) -> None:
    """Stop the py4j gateway and wait for the JVM (and with it the Python
    worker daemon, which exits when the JVM closes its pipe)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise


def settle(spark, timeout: float = 10.0, poll: float = 0.25) -> None:
    """Let the warm-up's lazy work finish before timing: a full GC, then
    wait (up to ``timeout``) until the JIT compiler has been idle for one
    poll, so compilation queued by the warm-up does not run during the
    timed calls."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    last = jit.getTotalCompilationTime()
    deadline = time.perf_counter() + timeout
    while time.perf_counter() < deadline:
        time.sleep(poll)
        now = jit.getTotalCompilationTime()
        if now == last:
            return
        last = now


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


class PeakRss:
    """Peak resident memory of a process tree (the JVM plus the Python
    workers it forks): at each sample, the VmHWM of every live process of
    the tree, summed; the peak is the largest such sum. Sampled after
    every span, so workers that the JVM retires when idle still count,
    and workers of an earlier session are not added to later ones."""

    def __init__(self, root: int):
        self.root = root
        self.peak_kb = 0

    def sample(self) -> None:
        children: dict[int, list[int]] = defaultdict(list)
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            children[int(stat.rsplit(")", 1)[1].split()[1])].append(int(name))
        total = 0
        todo = [self.root]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            total += int(line.split()[1])
            except OSError:
                continue
        self.peak_kb = max(self.peak_kb, total)

    def mb(self) -> float:
        return self.peak_kb / 1024.0


def cpu_times() -> list[int]:
    """The aggregate cpu line of /proc/stat (user nice system idle iowait
    irq softirq steal ...), in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between:
    a host-noise indicator for the run."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(sum(delta[:8]), 1)


def versions(spark) -> dict:
    import platform

    jvm = spark.sparkContext._jvm
    return {
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def summary(values: list[float]) -> dict:
    """Median, quartiles and sample count."""
    vals = sorted(values)
    if len(vals) >= 2:
        q1, _, q3 = statistics.quantiles(vals, n=4)
    else:
        q1 = q3 = vals[0]
    return {"median": statistics.median(vals), "q1": q1, "q3": q3, "n": len(vals)}


class Timer:
    s: float = 0.0


class Tracer:
    """Times calls into package layers. When ``traced``, also tags every
    Spark job a call runs with the group ``<workload>/<label>`` so the
    event log can be folded per label afterwards. The label is the layer,
    prefixed with the phase (``setup.``, ``warmup.``, ``probe.``) outside
    the timed rounds."""

    def __init__(self, workload: str, traced: bool):
        self.workload = workload
        self.traced = traced
        self.phase: str | None = None
        self.spans: list[Span] = []
        self.rss: PeakRss | None = None
        self._sc = None

    def bind(self, spark) -> None:
        """Follow a new session; spans of the previous one are dropped."""
        self._sc = spark.sparkContext
        self.spans = []

    @contextmanager
    def span(self, layer: str):
        label = layer if self.phase is None else f"{self.phase}.{layer}"
        if self.traced:
            self._sc.setJobGroup(f"{self.workload}/{label}", label)
        t = Timer()
        e0 = time.time()
        t0 = time.perf_counter()
        try:
            yield t
        finally:
            t.s = time.perf_counter() - t0
            self.spans.append(Span(label, e0 * 1000.0, (e0 + t.s) * 1000.0))
            if self.traced:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            if self.rss is not None:
                self.rss.sample()


class Ledger:
    """Operations attempted, failed, and the oracle checks behind them."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, str] = {}

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        """A failed check marks the operation it checked as failed."""
        if not ok:
            self.failed += 1
        prev = self.checks.get(name)
        if prev is None or prev == "ok":
            self.checks[name] = "ok" if ok else f"FAILED {detail}".strip()


class Samples:
    """Named lists of measured values."""

    def __init__(self):
        self.values: dict[str, list[float]] = defaultdict(list)

    def add(self, name: str, value: float) -> None:
        self.values[name].append(float(value))

    def extend(self, name: str, values) -> None:
        self.values[name].extend(float(v) for v in values)

    def median(self, name: str) -> float:
        return statistics.median(self.values[name])

    def table(self) -> dict:
        return {k: summary(v) for k, v in sorted(self.values.items()) if v}
