"""Harness pieces shared by the workloads: the Spark driver process and
its clean-up, the RSS sampler, the tracer and the closed loop."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

from layers import Spans


# ----------------------------------------------------------------- process


def _children(pid: int) -> list[int]:
    """Every live descendant of ``pid`` (from /proc)."""
    parent: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        parent.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in parent.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_ticks(path: str, reaped: bool = True) -> int:
    """User plus system clock ticks from a ``/proc`` stat file: of a
    process (all its threads) and, with ``reaped``, of the children it
    has waited for; or of one thread."""
    try:
        with open(path) as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        return sum(int(x) for x in fields[11:15 if reaped else 13])
    except (OSError, IndexError, ValueError):
        return 0


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared with other processes count
    by share, so forked Python workers are not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak resident memory of this process (RSS), the driver JVM and
    every process under it, summed and sampled every 200 ms. The JVM and
    its descendants count by PSS: Python workers fork from one daemon,
    and a process the JVM forks shares its pages until it execs, so RSS
    would count shared pages once per process."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.jvm: int | None = None
        self.peak = 0
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        total = _rss_bytes(os.getpid())
        if self.jvm:
            total += sum(_pss_bytes(p) for p in [self.jvm, *_children(self.jvm)])
        self.peak = max(self.peak, total)

    def run(self) -> None:
        while not self._stop_evt.wait(0.2):
            self.sample()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()
        self.sample()


# ----------------------------------------------------------------- session


class Session:
    """One Spark driver process whose files all live under ``work``."""

    def __init__(self, work: Path, cores: int, event_log: Path | None) -> None:
        self.work, self.cores, self.event_log = work, cores, event_log
        self.spark = None
        self.jvm_proc = None
        #: threads of this process whose CPU time is the benchmark's own
        #: (the memory sampler), left out of cpu_seconds()
        self.own_threads: list[int] = []

    def start(self):
        from pyspark import SparkContext
        from pyspark.sql import SparkSession

        tmp = self.work / "tmp"
        # a fixed, pre-touched heap keeps the JVM's share of peak RSS from
        # following GC timing; heap use shows in heap_peak() instead.
        # C1 only: with the optimizing compiler, its threads kept
        # compiling for minutes and their CPU time made every operation's
        # CPU seconds fall by a third over the first ten operations
        java_opts = (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={self.work / 'derby'} "
            "-XX:-UsePerfData -Xms2g -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1"
        )
        b = (
            SparkSession.builder.master(f"local[{self.cores}]")
            .appName("perfbench")
            .config("spark.sql.shuffle.partitions", str(self.cores))
            .config("spark.driver.memory", "2g")
            .config("spark.driver.extraJavaOptions", java_opts)
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.local.dir", str(self.work / "local"))
            .config("spark.sql.warehouse.dir", str(self.work / "warehouse"))
            .config("spark.checkpoint.dir", str(self.work / "checkpoint"))
        )
        if self.event_log is not None:
            b = (
                b.config("spark.eventLog.enabled", "true")
                .config("spark.eventLog.dir", self.event_log.as_uri())
                .config("spark.eventLog.compress", "false")
                .config("spark.eventLog.rolling.enabled", "false")
            )
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_proc = getattr(SparkContext._gateway, "proc", None)
        return self.spark

    def stop(self) -> None:
        """Stop Spark, then the JVM, then wait for every process it
        started (the Python worker daemon and its workers)."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        kids = _children(self.jvm_proc.pid) if self.jvm_proc else []
        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self.jvm_proc is not None:
            if self.jvm_proc.stdin:
                self.jvm_proc.stdin.close()
            try:
                self.jvm_proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.jvm_proc.kill()
                self.jvm_proc.wait()
        deadline = time.time() + 30
        for pid in kids:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        self.spark = None

    def _heap_pools(self):
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return [p for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]

    def reset_heap_peak(self) -> None:
        for p in self._heap_pools():
            p.resetPeakUsage()

    def heap_peak(self) -> int:
        """Bytes of the JVM heap's pools at their peak use since the last
        reset (summed over eden, survivor and old generation), which the
        pre-touched heap's RSS does not show."""
        return sum(int(p.getPeakUsage().getUsed()) for p in self._heap_pools())

    def cpu_seconds(self) -> float:
        """CPU seconds used so far by this process, the driver JVM and
        every process under it (the Python workers). The guest kernel
        does not charge a task for time the hypervisor stole from its
        CPU, so on a shared host this moves far less with other guests'
        load than wall time does."""
        pids = [self.jvm_proc.pid, *_children(self.jvm_proc.pid)] if self.jvm_proc else []
        ticks = sum(_cpu_ticks(f"/proc/{p}/stat") for p in [*pids, os.getpid()])
        ticks -= sum(_cpu_ticks(f"/proc/self/task/{t}/stat", reaped=False) for t in self.own_threads)
        return ticks / _TICK

    # storage held by the executor (checkpoint and cache blocks)
    def storage(self) -> tuple[int, int]:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        blocks = sum(int(i.numCachedPartitions()) for i in infos)
        nbytes = sum(int(i.memSize()) + int(i.diskSize()) for i in infos)
        return blocks, nbytes


# ------------------------------------------------------------------- tracing


class Tracer:
    """Spans and job groups around the benchmark's own calls; a no-op
    while ``on`` is false."""

    def __init__(self) -> None:
        self.spans = Spans()
        self.on = False
        self.sc = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.on:
            yield
            return
        idx = self.spans.begin(name, **attrs)
        try:
            yield
        finally:
            self.spans.end(idx)

    @contextmanager
    def op(self, group: str, name: str):
        if not self.on:
            yield None
            return
        self.sc.setJobGroup(group, name)
        idx = self.spans.begin("op", op=group, shape=name)
        try:
            yield idx
        finally:
            self.spans.end(idx)
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)


# --------------------------------------------------------------------- ops


@dataclass
class Op:
    """One closed-loop operation: ``fn(tracer)`` runs it and returns
    its result; ``check(result)`` compares with the reference."""

    name: str
    rows_in: int
    fn: object
    check: object


@dataclass
class OpRecord:
    index: int
    name: str
    wall_s: float
    cpu_s: float
    rows_in: int
    ok: bool
    traced: bool
    error: str | None = None
    span: int | None = None
    storage: tuple[int, int] | None = None
    extra: dict = field(default_factory=dict)


def tamper(result):
    """A planted wrong answer: the result minus one row."""
    import numpy as np

    if isinstance(result, np.ndarray):
        return result[:-1]
    if hasattr(result, "iloc"):
        return result.iloc[:-1]
    raise TypeError(f"cannot tamper with {type(result).__name__}")


def run_op(i: int, op: Op, tracer: Tracer, session: Session, plant_wrong: bool) -> OpRecord:
    group = f"op{i}"
    err = None
    c0 = session.cpu_seconds()
    with tracer.op(group, op.name) as span_idx:
        t0 = time.perf_counter()
        try:
            result = op.fn(tracer)
        except Exception as e:  # a failed operation is counted, never fatal
            result, err = None, f"{type(e).__name__}: {e}"[:500]
        wall = time.perf_counter() - t0
    cpu = session.cpu_seconds() - c0
    ok = False
    if err is None:
        try:
            ok = bool(op.check(tamper(result) if plant_wrong else result))
            if not ok:
                err = "result differs from the reference"
        except Exception as e:
            err = f"check {type(e).__name__}: {e}"[:500]
    rec = OpRecord(i, op.name, wall, cpu, op.rows_in, ok, tracer.on, err, span_idx)
    if hasattr(result, "__len__"):
        rec.extra["rows_out"] = len(result)
    if tracer.on:
        rec.storage = session.storage()
    return rec


def closed_loop(cycle, seconds: float, trace: bool, tracer: Tracer,
                session: Session, plant_wrong: bool) -> list[OpRecord]:
    """Back-to-back operations from one client: ``cycle(k)`` gives the
    operations of cycle ``k``. Whole cycles start while less than
    ``seconds`` have passed, at least one, so every run has the same mix
    and a slower host gives fewer samples, not a longer run.

    Traced, each cycle runs twice and tracing alternates positions, so
    every operation runs once traced and once untraced (the pairs that
    give the tracing overhead)."""
    records: list[OpRecord] = []
    deadline = time.perf_counter() + seconds
    k = 0
    while k == 0 or time.perf_counter() < deadline:
        ops = cycle(k)
        for rep in range(2 if trace else 1):
            for pos, op in enumerate(ops):
                tracer.on = trace and (pos + rep) % 2 == 0
                records.append(run_op(len(records), op, tracer, session,
                                      plant_wrong and not records))
        k += 1
    tracer.on = False
    return records


@dataclass
class Measured:
    """What a workload's measurement returns to the report."""

    records: list[OpRecord]
    walls: list[float]
    rows: int
    #: CPU seconds per operation by shape, and rows per CPU second
    cpu: dict[str, list[float]] = field(default_factory=dict)
    rows_per_cpu_s: float = 0.0
    extra_attempted: int = 0
    extra_failed: int = 0
    errors: list[str] = field(default_factory=list)
    report: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    #: rows/s to report instead of rows / sum(walls)
    rate: float | None = None
    #: (name, start, end) operations known by time window, not job group
    windows: list[tuple[str, float, float]] = field(default_factory=list)
    #: (blocks, bytes) held after each operation, when not in ``records``
    held: list[tuple[int, int]] = field(default_factory=list)
