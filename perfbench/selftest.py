"""Self-test of the benchmark harness at tiny size.

    python3 perfbench/selftest.py

Checks, without Spark: the reference skyline against a brute-force
dominance check, and the layer map against the metric list. Then, with
tiny inputs (each run is one short Spark process):

* every metric in BENCHMARK.json is printed with its unit, end-to-end
  metrics untraced and per-layer metrics traced (also for the workloads
  kept out of BENCHMARK.json);
* every per-layer metric is measured, not zero-filled, on at least one
  workload of BENCHMARK.json;
* a planted wrong result drives the failure count above 0, for a batch
  and for the streaming workload;
* another seed changes the inputs but not the set of metrics.

Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import numpy as np

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import reference  # noqa: E402
from layers import LAYER_UNITS, LAYERS  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def brute_skyline(pts: np.ndarray, senses: list[str]) -> np.ndarray:
    a = reference.min_space(pts, senses)
    keep = [
        i for i in range(len(a))
        if not any((a[j] <= a[i]).all() and (a[j] < a[i]).any() for j in range(len(a)))
    ]
    return np.array(keep, dtype=np.int64)


def run(workload: str, seed: int, trace: int, *extra: str) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    if out.returncode != 0:
        raise AssertionError(f"{workload} seed {seed} exited {out.returncode}:\n{out.stderr[-2000:]}")
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


def check_units(result: dict, spec: list[dict], what: str) -> None:
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, f"{what}: metrics {got} != {want}"
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), f"{what}: {k} is not a number"


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    rng = np.random.default_rng(0)
    for d in (2, 3, 4):
        # small integer range: many ties and exact duplicates
        pts = rng.integers(0, 6, size=(300, d))
        senses = ["min", "max", "min", "max"][:d]
        got = reference.skyline_ids(pts, senses, np.arange(len(pts)))
        assert (got == brute_skyline(pts, senses)).all(), f"reference skyline wrong at d={d}"
    mapped = {m for layer in LAYERS.values() for m in layer["metrics"]}
    assert mapped == set(LAYER_UNITS), f"layer map and units differ: {mapped ^ set(LAYER_UNITS)}"
    print("reference and layer map: ok", flush=True)

    names = [w["name"] for w in bench["workloads"]]
    digests = {}
    for name in names:
        report, result = run(name, 1, 0)
        check_units(result, bench["end_to_end"], f"{name} untraced")
        assert result["correct"] and result["failed"] == 0, f"{name}: {report['errors']}"
        digests[name] = report["input"]["digest"]
        print(f"{name}: end-to-end metrics ok", flush=True)
    measured = set()
    for name in (*names, *sorted(set(WORKLOADS) - set(names))):
        report, traced = run(name, 1, 1)
        check_units(traced, bench["per_layer"], f"{name} traced")
        assert traced["correct"], f"{name}: {report['errors']}"
        if name in names:
            measured |= set(LAYER_UNITS) - set(report["not_measured"])
        print(f"{name}: per-layer metrics ok", flush=True)
    assert measured == set(LAYER_UNITS), f"measured on no listed workload: {set(LAYER_UNITS) - measured}"
    print("every per-layer metric is measured on a listed workload", flush=True)
    for name in (names[0], "sky-stream"):
        report, result = run(name, 1, 0, "--plant-wrong")
        assert result["failed"] > 0 and not result["correct"], f"{name}: planted error not caught"
        assert report["failed_frac"] > 0
        print(f"{name}: planted wrong result counted as failed", flush=True)
    report, result = run(names[0], 2, 0)
    assert report["input"]["digest"] != digests[names[0]], "seed did not change the inputs"
    check_units(result, bench["end_to_end"], f"{names[0]} seed 2")
    print("another seed: new inputs, same metrics", flush=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
