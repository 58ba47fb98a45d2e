"""Per-layer measurement from outside the program.

The benchmark never instruments the package. It records spans around
its own calls into the public API, tags each operation's Spark jobs
with a job group, and after the session stops reads the Spark event log
(jobs, stages, task metrics, SQL plan metrics) to split each operation
across the layers named in ``LAYERS``.
"""

from __future__ import annotations

import json
import statistics
import time
from dataclasses import dataclass, field

#: layer -> (module, metrics, end-to-end metrics it should move,
#: workloads where it is large / small)
LAYERS = {
    "driver": {
        "module": "operators.skyline / pipeline (driver side)",
        "metrics": ["driver.call_s", "driver.gap_s", "spark.jobs", "spark.stages", "spark.tasks"],
        "moves": ["op_cpu_s"],
        "large_in": ["sky-stream"],
        "small_in": ["sky-anticorr"],
    },
    "jvm_stages": {
        "module": "Spark JVM stages + sources scan",
        "metrics": [
            "stage.run_s", "stage.cpu_s", "stage.gc_s", "scan.bytes_read",
            "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_s", "stage.skew",
        ],
        "moves": ["rows_per_cpu_s"],
        "large_in": ["sky-uniform", "corpus-curate"],
        "small_in": ["sky-stream"],
    },
    "arrow_kernel": {
        "module": "Arrow boundary + kernel",
        "metrics": [
            "arrow.rows_to_python", "arrow.bytes_to_python", "python.stage_run_s",
            "local.kill_ratio", "kernel.rows_per_s",
        ],
        "moves": ["rows_per_cpu_s", "op_cpu_s"],
        "large_in": ["sky-anticorr"],
        "small_in": ["corpus-curate"],
    },
    "merge": {
        "module": "merge in operators.skyline",
        "metrics": [
            "merge.candidates", "merge.frontier", "merge.passes",
            "merge.path.tree", "merge.path.broadcast",
        ],
        "moves": ["op_cpu_s"],
        "large_in": ["sky-anticorr"],
        "small_in": ["sky-uniform"],
    },
    "materialization": {
        "module": "materialization and collects",
        "metrics": [
            "collect.bytes_to_driver", "storage.blocks_held", "storage.bytes_held",
            "storage.blocks_slope", "jvm.heap_peak_mb",
        ],
        "moves": ["op_cpu_s", "peak_rss_mb"],
        "large_in": ["sky-anticorr", "sky-stream"],
        "small_in": ["sky-uniform"],
    },
    "stream": {
        "module": "streaming.skyline_stream",
        "metrics": [
            "stream.trigger_ms", "stream.add_batch_ms", "stream.planning_ms",
            "stream.wal_commit_ms", "stream.frontier_rows", "stream.pool_rows",
            "stream.backlog_files",
        ],
        "moves": ["op_cpu_s", "rows_per_cpu_s"],
        "large_in": ["sky-stream"],
        "small_in": ["sky-uniform", "sky-anticorr", "corpus-curate"],
    },
    "corpus": {
        "module": "operators.filtering, operators.dedup, operators.sample",
        "metrics": [
            "corpus.repetition_s", "corpus.pii_s", "corpus.dedup_exact_s", "corpus.dedup_s",
            "corpus.decontaminate_s", "corpus.split_s", "dedup.kept_ratio",
        ],
        "moves": ["op_cpu_s", "rows_per_cpu_s"],
        "large_in": ["corpus-curate"],
        "small_in": ["sky-uniform", "sky-anticorr", "sky-stream"],
    },
    "tracing": {
        "module": "this benchmark's own tracing",
        "metrics": ["trace.overhead_frac"],
        "moves": [],
        "large_in": [],
        "small_in": [],
    },
}

#: every per-layer metric and its unit
LAYER_UNITS = {
    "driver.call_s": "s", "driver.gap_s": "s", "spark.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count",
    "stage.run_s": "s", "stage.cpu_s": "s", "stage.gc_s": "s", "scan.bytes_read": "bytes",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_s": "s", "stage.skew": "ratio",
    "arrow.rows_to_python": "rows", "arrow.bytes_to_python": "bytes",
    "python.stage_run_s": "s", "local.kill_ratio": "ratio", "kernel.rows_per_s": "1/s",
    "merge.candidates": "rows", "merge.frontier": "rows", "merge.passes": "count",
    "merge.path.tree": "count", "merge.path.broadcast": "count",
    "collect.bytes_to_driver": "bytes", "storage.blocks_held": "count",
    "storage.bytes_held": "bytes", "storage.blocks_slope": "count/op",
    "jvm.heap_peak_mb": "MB",
    "stream.trigger_ms": "ms", "stream.add_batch_ms": "ms", "stream.planning_ms": "ms",
    "stream.wal_commit_ms": "ms", "stream.frontier_rows": "rows", "stream.pool_rows": "rows",
    "stream.backlog_files": "count",
    "corpus.repetition_s": "s", "corpus.pii_s": "s", "corpus.dedup_exact_s": "s",
    "corpus.dedup_s": "s", "corpus.decontaminate_s": "s", "corpus.split_s": "s",
    "dedup.kept_ratio": "ratio",
    "trace.overhead_frac": "ratio",
}


# ------------------------------------------------------------------ spans


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    parent: int | None = None
    op: str | None = None
    attrs: dict = field(default_factory=dict)


class Spans:
    """In-memory span recorder; written out once, at the end."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def begin(self, name: str, op: str | None = None, **attrs) -> int:
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        self.spans.append(Span(name, time.time(), parent=parent, op=op, attrs=attrs))
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def end(self, idx: int) -> None:
        if self._stack and self._stack[-1] == idx:
            self._stack.pop()
        self.spans[idx].end = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None, op: str | None, **attrs) -> None:
        self.spans.append(Span(name, start, end, parent, op, attrs))

    def self_times(self) -> list[float]:
        """Duration of each span minus the part its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append((sp.start, sp.end))
        return [
            (sp.end - sp.start) - _covered(kids.get(i, []), sp.start, sp.end)
            for i, sp in enumerate(self.spans)
        ]

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            for i, (sp, st) in enumerate(zip(self.spans, selfs)):
                fh.write(json.dumps({
                    "id": i, "name": sp.name, "op": sp.op, "parent": sp.parent,
                    "start": sp.start, "end": sp.end, "self_s": st, **sp.attrs,
                }) + "\n")


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
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


# -------------------------------------------------------------- event log


class EventLog:
    """The parts of a Spark JSON event log the layer split needs."""

    def __init__(self, path: str) -> None:
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: list[dict] = []
        self.acc_node: dict[int, dict] = {}  # accumulator id -> plan node
        self.driver_acc: dict[int, float] = {}
        #: (time, kind, accumulator id) of the SQL executions the stream
        #: layer reads: "pool" (a count over one checkpoint scan) and
        #: "write" (a file write command)
        self.execs: list[tuple[float, str, int]] = []
        with open(path) as fh:
            for line in fh:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "start": e["Submission Time"] / 1000.0,
                "stages": e["Stage IDs"],
            }
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in self.jobs:
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            self.stages[si["Stage ID"]] = {
                "start": si.get("Submission Time", 0) / 1000.0,
                "end": si.get("Completion Time", 0) / 1000.0,
            }
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            self.tasks.append({
                "stage": e["Stage ID"],
                "dur": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                "run": m.get("Executor Run Time", 0) / 1000.0,
                "cpu": m.get("Executor CPU Time", 0) / 1e9,
                "gc": m.get("JVM GC Time", 0) / 1000.0,
                "read": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                "sw": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                "sr": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "fetch": sr.get("Fetch Wait Time", 0) / 1000.0,
                "result": m.get("Result Size", 0),
                "acc": _updates(info.get("Accumulables", [])),
            })
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            self._plan(e["sparkPlanInfo"])
            if kind.endswith("SQLExecutionStart"):
                self._classify(e["time"] / 1000.0, e["sparkPlanInfo"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for aid, v in e.get("accumUpdates", []):
                self.driver_acc[aid] = self.driver_acc.get(aid, 0) + v

    def _plan(self, root: dict) -> None:
        """Index every plan node's metrics by accumulator id, with the
        facts about its subtree the local/merge split needs."""

        def walk(node: dict) -> dict:
            kids = [walk(c) for c in node.get("children", [])]
            metrics = {m["name"]: m["accumulatorId"] for m in node.get("metrics", [])}
            python = "data sent to Python workers" in metrics
            # rows a node emits: its own row metric, else (pass-through
            # nodes: sort, project, codegen wrappers, query stages) its
            # first child's
            own = metrics.get("number of output rows", metrics.get("records read"))
            rows_in = kids[0]["rows_acc"] if kids else None
            rec = {
                "name": node["nodeName"],
                "metrics": metrics,
                "python": python,
                "filter_below": any(k["name"] == "Filter" or k["filter_below"] for k in kids),
                "python_below": any(k["python"] or k["python_below"] for k in kids),
                "rows_in_acc": rows_in,
                "rows_acc": own if own is not None else rows_in,
            }
            for aid in metrics.values():
                self.acc_node[aid] = rec
            return rec

        walk(root)

    def _classify(self, t: float, root: dict) -> None:
        nodes, todo = [], [root]
        while todo:
            n = todo.pop()
            nodes.append(n)
            todo.extend(n.get("children", []))
        if root["nodeName"].startswith("Execute InsertIntoHadoopFsRelationCommand"):
            rows = {m["name"]: m["accumulatorId"] for m in root.get("metrics", [])}
            if "number of output rows" in rows:
                self.execs.append((t, "write", rows["number of output rows"]))
            return
        passive = {"AdaptiveSparkPlan", "HashAggregate", "Exchange", "Project", "InputAdapter"}
        scans = [n for n in nodes if n["nodeName"] == "Scan ExistingRDD"]
        if (
            len(scans) == 1
            and any("count(1)" in n.get("simpleString", "") for n in nodes)
            and all(n in scans or n["nodeName"] in passive
                    or n["nodeName"].startswith("WholeStageCodegen") for n in nodes)
        ):
            rows = {m["name"]: m["accumulatorId"] for m in scans[0].get("metrics", [])}
            if "number of output rows" in rows:
                self.execs.append((t, "pool", rows["number of output rows"]))

    def acc_value(self, aid: int) -> float:
        return sum(t["acc"].get(aid, 0) for t in self.tasks) + self.driver_acc.get(aid, 0)

    def stream_batch(self, window: tuple[float, float]) -> dict:
        """Rows of the candidate pool (the size-gate count over the
        checkpointed pool) and of the published frontier (the rows its
        file write reports) of one micro-batch window."""
        lo, hi = window
        inside = [(kind, aid) for t, kind, aid in self.execs if lo <= t < hi]
        out = {}
        pools = [self.acc_value(aid) for kind, aid in inside if kind == "pool"]
        writes = [self.acc_value(aid) for kind, aid in inside if kind == "write"]
        if pools:
            out["stream.pool_rows"] = pools[-1]
        if writes:
            out["stream.frontier_rows"] = out["merge.frontier"] = writes[-1]
        return out

    # ---------------------------------------------------------------- ops

    def op_jobs(self, group: str | None = None, window: tuple[float, float] | None = None) -> list[int]:
        if group is not None:
            return [j for j, v in self.jobs.items() if v["group"] == group]
        lo, hi = window
        return [j for j, v in self.jobs.items() if lo <= v["start"] < hi]

    def op_metrics(self, jobs: list[int], wall_s: float) -> dict:
        """Per-layer numbers for one operation, given its jobs."""
        stage_ids = {s for j in jobs for s in self.jobs[j]["stages"] if s in self.stages}
        tasks = [t for t in self.tasks if t["stage"] in stage_ids]
        intervals = [(self.jobs[j]["start"], self.jobs[j].get("end", self.jobs[j]["start"])) for j in jobs]
        lo = min((s for s, _ in intervals), default=0.0)
        hi = max((e for _, e in intervals), default=0.0)
        job_s = _covered(intervals, lo, hi)
        acc: dict[int, float] = {}
        for t in tasks:
            for aid, v in t["acc"].items():
                acc[aid] = acc.get(aid, 0) + v
        nodes = {id(n): n for aid, n in self.acc_node.items() if aid in acc and n["python"]}
        py_stage = {
            t["stage"] for t in tasks
            if any(aid in acc and self.acc_node.get(aid, {}).get("python") for aid in t["acc"])
        }

        def val(aid):
            return acc.get(aid, 0) + self.driver_acc.get(aid, 0) if aid is not None else 0

        # the local pass is the lowest Python node above skyline()'s
        # NULL/NaN guard filter; merge passes read its output (directly,
        # or from a checkpoint, which has no filter below)
        first = [n for n in nodes.values() if n["filter_below"] and not n["python_below"]]
        later = [n for n in nodes.values() if not (n["filter_below"] and not n["python_below"])]
        rows_in_first = sum(val(n["rows_in_acc"]) for n in first)
        rows_out_first = sum(val(n["metrics"].get("number of output rows")) for n in first)
        longest = max(stage_ids, key=lambda s: self.stages[s]["end"] - self.stages[s]["start"], default=None)
        durs = sorted(t["dur"] for t in tasks if t["stage"] == longest)
        skew = durs[-1] / statistics.median(durs) if durs and statistics.median(durs) > 0 else 1.0
        return {
            "driver.gap_s": max(0.0, wall_s - job_s),
            "job_s": job_s,
            "spark.jobs": len(jobs),
            "spark.stages": len(stage_ids),
            "spark.tasks": len(tasks),
            "stage.run_s": sum(t["run"] for t in tasks),
            "stage.cpu_s": sum(t["cpu"] for t in tasks),
            "stage.gc_s": sum(t["gc"] for t in tasks),
            "scan.bytes_read": sum(t["read"] for t in tasks),
            "shuffle.write_bytes": sum(t["sw"] for t in tasks),
            "shuffle.read_bytes": sum(t["sr"] for t in tasks),
            "shuffle.fetch_wait_s": sum(t["fetch"] for t in tasks),
            "stage.skew": skew,
            "arrow.rows_to_python": sum(val(n["rows_in_acc"]) for n in nodes.values()),
            "arrow.bytes_to_python": sum(val(n["metrics"]["data sent to Python workers"]) for n in nodes.values()),
            "python.stage_run_s": sum(t["run"] for t in tasks if t["stage"] in py_stage),
            "local.kill_ratio": rows_out_first / rows_in_first if rows_in_first else 0.0,
            "merge.candidates": rows_out_first,
            "merge.passes": len(later),
            "merge.path.tree": int(bool(later) and not any("MapInPandas" in n["name"] for n in later)),
            "merge.path.broadcast": int(any("MapInPandas" in n["name"] for n in later)),
            "collect.bytes_to_driver": sum(t["result"] for t in tasks),
        }


def _updates(accumulables: list[dict]) -> dict[int, float]:
    """Numeric per-task accumulator updates (SQL metrics log as strings)."""
    out = {}
    for a in accumulables:
        try:
            out[a["ID"]] = float(a.get("Update", 0))
        except (TypeError, ValueError):
            continue
    return out


def median_of(rows: list[dict], key: str) -> float:
    vals = [r[key] for r in rows if key in r]
    return float(statistics.median(vals)) if vals else 0.0


def slope(ys: list[float]) -> float:
    """Least-squares slope of ``ys`` against 0..n-1."""
    n = len(ys)
    if n < 2:
        return 0.0
    mx, my = (n - 1) / 2.0, sum(ys) / n
    den = sum((i - mx) ** 2 for i in range(n))
    return sum((i - mx) * (y - my) for i, y in enumerate(ys)) / den
