"""Steadiness record: repeated sets of benchmark runs and each end-to-end
metric's spread, stored next to its bound.

    python3 perfbench/steadiness.py

Run from the checkout root.  For each workload in ``BENCHMARK.json`` it
runs ``run.py`` once per seed in ``SEEDS``, twice over (two cross-seed
sets, as a second set of runs of the same code would be compared), then
``REPEATS`` times on each of ``REPEAT_SEEDS`` (the default seed and one
held-out seed), then one traced run.  A spread is the distance between
the first and third quartile (``statistics.quantiles(n=4)``) as a share
of the median; ``shift`` is the second set's median over the first's,
minus one.  The tracing overhead is the traced run's op p50 over the
first set's median op p50, minus one.  Writes ``STEADINESS.json`` next
to this file.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(BENCH, "STEADINESS.json")
SEEDS = range(1, 11)
SETS = 2
REPEAT_SEEDS = (1, 1001)
REPEATS = 3


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t = time.time()
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}\n"
                           f"{p.stderr[-3000:]}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    res["run_s"] = time.time() - t
    res["host"] = [json.loads(ln.split(" ", 2)[2])
                   for ln in p.stdout.splitlines() if ln.startswith("host ")]
    print(f"{workload} seed={seed} trace={trace} {res['run_s']:.1f}s "
          f"correct={res['correct']} "
          + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                     if not trace or k == "trace.op_p50_s"), flush=True)
    return res


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def summarize(runs: list[dict], spec: dict) -> dict:
    out = {}
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        out[m["name"]] = {"median": statistics.median(vals),
                          "spread": spread(vals), "bound": m["bound"],
                          "values": vals}
    return out


def main() -> int:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    secs = spec["run_seconds"]
    record = {"run_seconds": secs, "cpus": os.cpu_count(),
              "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
              "workloads": {}}
    for w in (w["name"] for w in spec["workloads"]):
        rec = {}
        for i in range(1, SETS + 1):
            runs = [run(w, s, secs, 0) for s in SEEDS]
            rec[f"cross_seed_{i}"] = summarize(runs, spec)
            rec[f"run_s_{i}"] = [round(r["run_s"], 1) for r in runs]
            rec[f"host_{i}"] = [r["host"] for r in runs]
        rec["shift"] = {
            m: rec[f"cross_seed_{SETS}"][m]["median"] / s["median"] - 1
            for m, s in rec["cross_seed_1"].items()}
        for s in REPEAT_SEEDS:
            rec[f"seed_{s}"] = summarize(
                [run(w, s, secs, 0) for _ in range(REPEATS)], spec)
        traced = run(w, SEEDS[0], secs, 1)
        rec["tracing_overhead"] = (
            traced["metrics"]["trace.op_p50_s"]["value"]
            / rec["cross_seed_1"]["op_p50_s"]["median"] - 1)
        rec["traced_run_s"] = round(traced["run_s"], 1)
        record["workloads"][w] = rec
        with open(OUT, "w") as f:
            json.dump(record, f, indent=1)
    for w, rec in record["workloads"].items():
        for name in rec["cross_seed_1"]:
            print(f"{w:12s} {name:20s} " + " ".join(
                f"set{i} median={rec[f'cross_seed_{i}'][name]['median']:.4g} "
                f"spread={rec[f'cross_seed_{i}'][name]['spread']:.3f}"
                for i in range(1, SETS + 1))
                + f" shift={rec['shift'][name]:+.3f}"
                f" bound={rec['cross_seed_1'][name]['bound']}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
