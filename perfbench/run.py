"""Repo benchmark: four seeded workloads over the skyline engine.

    python3 perfbench/run.py --workload sky-anticorr --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Each run generates its inputs from
``--seed``, writes them to files under ``.perfbench_work/``, starts one
Spark driver process (``local[k]``, k = min(2, cores)), warms up, then
measures for ``--seconds`` seconds. Every operation's output is checked
against a reference computed outside the timed region.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it is a ``{"report": ...}`` object with the sample counts, input
properties, setup parts, stream schedule and tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

END_TO_END = {
    "setup_s": "s",
    "op_cpu_s": "s",
    "rows_per_cpu_s": "1/s",
    "peak_rss_mb": "MB",
}

#: set-up repetitions whose median gives the input-generation part of setup_s
SETUP_REPEATS = 3


def host_calibration() -> float:
    """Seconds of a fixed single-process NumPy task (sorting 2e6 seeded
    floats, three times), timed before and after the measurement. It
    runs no code of the package, so a change in it between runs is the
    host's speed, not the program's."""
    import numpy as np

    x = np.random.default_rng(0).random(2_000_000)
    t0 = time.perf_counter()
    for _ in range(3):
        np.sort(x)
    return time.perf_counter() - t0


def steal_seconds() -> float:
    """CPU seconds the hypervisor has taken from the host's CPUs
    (summed over CPUs; 0 where it does not report steal)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


# ----------------------------------------------------------------- metrics


#: percentile reported as ``query_s.tail``; at 10 s runs a shape has 2 to 5
#: samples
TAIL = 0.75


def tail(values: list[float]) -> tuple[float, int]:
    """(value, samples beyond it): nearest-rank ``TAIL``."""
    xs = sorted(values)
    rank = max(1, math.ceil(TAIL * len(xs)))
    return xs[rank - 1], len(xs) - rank


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def shapes(result) -> dict[str, list[float]]:
    """The measured times by operation shape (closed loops: the op name;
    the stream: one shape, its file latencies)."""
    if not result.records:
        return {"latency": list(result.walls)}
    out: dict[str, list[float]] = {}
    for r in result.records:
        out.setdefault(r.name, []).append(r.wall_s)
    return out


def end_to_end(result, setup_s: float, peak_rss: int) -> tuple[dict, dict]:
    """The metrics, and the wall-time figures for the report. Per-shape
    figures are combined by geometric mean over shapes: a median over a
    mix of fast and slow shapes would jump between them.

    The operation figures are CPU seconds, not wall seconds: on a shared
    host, wall times of the same run moved by up to 2x with the CPU time
    other guests took (steal), while CPU seconds did not."""
    by_shape = shapes(result)
    tails = {k: tail(v) for k, v in by_shape.items()}
    metrics = {
        "setup_s": setup_s,
        "op_cpu_s": geomean([statistics.median(v) for v in result.cpu.values()]),
        "rows_per_cpu_s": result.rows_per_cpu_s,
        "peak_rss_mb": peak_rss / 2**20,
    }
    wall = {
        "query_s.p50": geomean([statistics.median(v) for v in by_shape.values()]),
        "query_s.tail": geomean([t for t, _ in tails.values()]),
        "rows_per_s": result.rate if result.rate is not None else result.rows / sum(result.walls),
    }
    return metrics, {"wall": wall,
                     "samples": {k: len(v) for k, v in by_shape.items()},
                     "tail_percentile": TAIL,
                     "tail_beyond": min(b for _, b in tails.values())}


def layer_metrics(result, tracer: Tracer, event_log: Path) -> tuple[dict, list[dict]]:
    """Median per traced operation of each event-log layer number, plus
    storage after each operation and the traced/untraced overhead; and
    each traced operation's wall = job time + driver gap split."""
    from layers import EventLog, median_of, slope

    records = result.records
    ev = EventLog(str(next(event_log.iterdir())))
    spans = tracer.spans.spans
    per_op, breakdown = [], []
    for name, start, end in result.windows:
        jobs = ev.op_jobs(window=(start, end))
        idx = len(spans)
        tracer.spans.add(name, start, end, None, name)
        for j in jobs:
            job = ev.jobs[j]
            tracer.spans.add(f"job{j}", job["start"], job.get("end", job["start"]), idx, name)
        per_op.append({**ev.op_metrics(jobs, end - start), **ev.stream_batch((start, end))})
    for r in records:
        if not r.traced or r.span is None:
            continue
        jobs = ev.op_jobs(group=f"op{r.index}")
        m = ev.op_metrics(jobs, r.wall_s)
        m["driver.call_s"] = sum(
            sp.end - sp.start for sp in spans if sp.parent == r.span and sp.name == "call"
        )
        m["merge.frontier"] = r.extra.get("rows_out", 0)
        for j in jobs:
            job = ev.jobs[j]
            tracer.spans.add(f"job{j}", job["start"], job.get("end", job["start"]), r.span, f"op{r.index}")
        per_op.append(m)
        breakdown.append({"op": r.name, "wall_s": r.wall_s, "job_s": m["job_s"],
                          "driver.gap_s": m["driver.gap_s"], "driver.call_s": m["driver.call_s"],
                          "spark.jobs": m["spark.jobs"]})
    out = {}
    for key in per_op[0] if per_op else []:
        if key.startswith("merge.path."):
            out[key] = float(sum(m[key] for m in per_op))
        else:
            out[key] = median_of(per_op, key)
    held = result.held or [r.storage for r in records if r.storage is not None]
    if held:
        out["storage.blocks_held"] = float(held[-1][0])
        out["storage.bytes_held"] = float(held[-1][1])
        out["storage.blocks_slope"] = slope([float(b) for b, _ in held])
    if records:
        out["trace.overhead_frac"] = overhead(records)
    out.pop("job_s", None)
    return out, breakdown


def overhead(records: list[OpRecord]) -> float:
    """Geometric mean, over operations of the same name, of the traced
    to untraced median wall ratio, minus one."""
    by_name: dict[str, dict[bool, list[float]]] = {}
    for r in records:
        by_name.setdefault(r.name, {True: [], False: []})[r.traced].append(r.wall_s)
    logs = [
        math.log(statistics.median(v[True]) / statistics.median(v[False]))
        for v in by_name.values() if v[True] and v[False]
    ]
    return math.exp(sum(logs) / len(logs)) - 1.0 if logs else 0.0


# -------------------------------------------------------------------- main


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="tiny: minutes-free inputs for the harness self-test")
    p.add_argument("--plant-wrong", action="store_true",
                   help="corrupt the first result before its check (self-test)")
    return p.parse_args(argv)


def import_package():
    """The package under test, from this checkout only."""
    pkg = ROOT / "pyspark_skyline_spark" / "__init__.py"
    if not pkg.is_file():
        raise ImportError(f"no pyspark_skyline_spark package next to {HERE.name}/")
    sys.path.insert(0, str(ROOT))
    import pyspark_skyline_spark

    if Path(pyspark_skyline_spark.__file__).resolve() != pkg:
        raise ImportError("pyspark_skyline_spark resolved outside this checkout")
    return pyspark_skyline_spark


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import_package()
        import workloads
        from harness import Session, Tracer
    except ImportError as e:
        print(f"perfbench: cannot run: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    if work.exists():
        shutil.rmtree(work)
    for sub in ("tmp", "local", "derby", "events"):
        (work / sub).mkdir(parents=True)
    # Python workers import the package from this checkout, and every
    # temporary file stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")

    # two task threads: on a few shared cores, more threads than that
    # made query times follow the host's load
    cores = max(1, min(2, len(os.sched_getaffinity(0))))
    wl = workloads.WORKLOADS[args.workload](args.seed, args.scale, args.seconds, work / "data")
    event_log = work / "events" if args.trace else None
    session = Session(work, cores, event_log)
    tracer = Tracer()
    try:
        return measure(args, wl, session, tracer, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, wl, session, tracer, work: Path, cores: int) -> int:
    """Set up, measure, stop, then print the report and result lines."""
    from harness import RssSampler

    rss = RssSampler()
    try:
        # set-up parts in wall seconds (report) and CPU seconds (setup_s)
        gen_s, gen_cpu = [], []
        for _ in range(SETUP_REPEATS):
            t0, c0 = time.perf_counter(), session.cpu_seconds()
            wl.generate()
            gen_s.append(time.perf_counter() - t0)
            gen_cpu.append(session.cpu_seconds() - c0)
        wl.reference()  # outside every timed region
        rss.start()
        session.own_threads.append(rss.native_id)
        t0, c0 = time.perf_counter(), session.cpu_seconds()
        spark = session.start()
        session_s, session_cpu = time.perf_counter() - t0, session.cpu_seconds() - c0
        rss.jvm = session.jvm_proc.pid if session.jvm_proc else None
        tracer.sc = spark.sparkContext
        t0, c0 = time.perf_counter(), session.cpu_seconds()
        wl.warm_up(spark)
        warm_s, warm_cpu = time.perf_counter() - t0, session.cpu_seconds() - c0
        setup_s = session_cpu + statistics.median(gen_cpu) + warm_cpu

        calib = [host_calibration()]
        steal0, t0 = steal_seconds(), time.perf_counter()
        session.reset_heap_peak()
        result = wl.measure(spark, args.seconds, bool(args.trace), tracer, session,
                            args.plant_wrong)
        heap_mb = session.heap_peak() / 2**20
        steal = (steal_seconds() - steal0) / (time.perf_counter() - t0)
        calib.append(host_calibration())
        if args.trace:
            result.layers.update(wl.layer_probe(spark, result))
    finally:
        session.stop()
        if rss.is_alive():
            rss.stop()

    records = result.records
    failed = sum(not r.ok for r in records) + result.extra_failed
    attempted = len(records) + result.extra_attempted
    e2e, sampling = end_to_end(result, setup_s, rss.peak)
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores, "loop": wl.loop,
        "setup": {"session_s": session_s, "generate_s": gen_s, "warm_up_s": warm_s,
                  "session_cpu_s": session_cpu, "generate_cpu_s": gen_cpu,
                  "warm_up_cpu_s": warm_cpu,
                  "wall_s": session_s + statistics.median(gen_s) + warm_s},
        "host_calib_s": calib,
        "host_steal_cpus": steal,
        "jvm_heap_peak_mb": heap_mb,
        "input": wl.properties(), **sampling,
        "failed_frac": failed / max(1, attempted),
        "errors": [f"{r.name}: {r.error}" for r in records if r.error][:5] + result.errors[:5],
        "end_to_end": e2e,
        "ops": [[r.name, round(r.wall_s, 4), round(r.cpu_s, 2), r.ok, r.traced] for r in records],
        **result.report,
    }
    if args.trace:
        from layers import LAYER_UNITS

        layers, report["traced_ops"] = layer_metrics(result, tracer, work / "events")
        layers.update(result.layers)
        layers["jvm.heap_peak_mb"] = heap_mb
        missing = sorted(set(LAYER_UNITS) - wl.unmeasured - set(layers))
        if missing:
            print(f"perfbench: {args.workload} produced no value for {missing}", file=sys.stderr)
            return 3
        # metrics of layers this workload does not exercise read 0 and
        # are named in the report
        report["not_measured"] = sorted(wl.unmeasured)
        layers = {k: float(layers.get(k, 0.0)) for k in LAYER_UNITS}
        report["input"]["local.kill_ratio"] = layers["local.kill_ratio"]
        metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_UNITS.items()}
        out_dir = ROOT / ".perfbench_out"
        out_dir.mkdir(exist_ok=True)
        tracer.spans.dump(str(out_dir / f"{args.workload}-{args.seed}-spans.jsonl"))
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"report": report}, default=float))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
