"""Steadiness report: run each workload N times and compare spreads to bounds.

    python3 perfbench/steady.py --runs 10 [--workloads clinical_gdc,vocab_large]
                                [--first-seed 1] [--traced]

Each run is ``perfbench/run.py`` with its own seed and BENCHMARK.json's
``run_seconds``. Per end-to-end metric the report prints the median, the
quartiles (``statistics.quantiles(values, n=4)``), the spread
(q3 - q1) / median and the metric's bound. ``--traced`` adds one traced
run per seed and prints per-layer medians and the tracing overhead:
traced ``tracing.request_p50_s`` minus untraced ``request_p50_s``.

Every run's record (environment, Spark conf, versions, seed, input sizes,
kernel choice per request) is kept under ``.perfbench/`` and summarised here.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench")


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit code {proc.returncode}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(OUT_DIR, f"run-{workload}-seed{seed}-trace{trace}.json")) as f:
        record = json.load(f)
    return {"result": result, "record": record, "wall_s": wall}


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description="Steadiness report (see module docstring).")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    summary = {}
    for wl in args.workloads.split(","):
        runs = [run_once(wl, s, spec["run_seconds"], 0)
                for s in range(args.first_seed, args.first_seed + args.runs)]
        env = runs[0]["record"]["environment"]
        print(f"\n== {wl}: {args.runs} runs x {spec['run_seconds']} s, "
              f"{env['cores']} cores, Python {env['python']}, PySpark {env['pyspark']}, "
              f"Java {env['java']}")
        print("spark conf: " + ", ".join(
            f"{k}={v}" for k, v in env["spark_conf"].items()
            if not k.endswith(("dir", "Options", ".id", ".port", ".startTime"))))
        for r in runs:
            rec = r["record"]
            kernels = [k for q in rec["requests"] for k in q["kernels"]]
            print(f"  seed {rec['seed']}: wall {r['wall_s']:.1f} s, "
                  f"steal {rec['host_cpu_steal_frac']:.1%}, requests "
                  f"{len(rec['requests'])}, rows {[q['rows'] for q in rec['requests']]}, "
                  f"kernels {kernels}, failed {r['result']['failed']}/"
                  f"{r['result']['attempted']}")
        print(f"  {'metric':<16} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} "
              f"{'bound':>6}  verdict")
        rows = {}
        for name in runs[0]["result"]["metrics"]:
            vals = [r["result"]["metrics"][name]["value"] for r in runs]
            q1, med, q3 = quartiles(vals)
            spread = (q3 - q1) / med if med else float("inf")
            bound = bounds.get(name)
            verdict = ("(not gated)" if name == "setup_s" else
                       "steady" if spread <= bound / 3 else
                       "within bound" if spread <= bound else "TOO WIDE")
            unit = runs[0]["result"]["metrics"][name]["unit"]
            print(f"  {name:<16} {med:>12.5g} {q1:>12.5g} {q3:>12.5g} {spread:>8.3f} "
                  f"{bound:>6}  {verdict}  [{unit}]")
            rows[name] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                          "bound": bound, "values": vals}
        summary[wl] = {"end_to_end": rows, "walls_s": [r["wall_s"] for r in runs]}

        if args.traced:
            traced = [run_once(wl, s, spec["run_seconds"], 1)
                      for s in range(args.first_seed, args.first_seed + args.runs)]
            layer = {}
            for name in traced[0]["result"]["metrics"]:
                vals = [t["result"]["metrics"][name]["value"] for t in traced]
                layer[name] = statistics.median(vals)
                print(f"  {name:<38} {layer[name]:>14.6g} "
                      f"{traced[0]['result']['metrics'][name]['unit']}")
            overhead = layer["tracing.request_p50_s"] - rows["request_p50_s"]["median"]
            print(f"  tracing overhead: traced p50 - untraced p50 = {overhead:+.4f} s "
                  f"(tracer bookkeeping {layer['tracing.overhead_s']:.4f} s per request)")
            summary[wl]["per_layer"] = layer
            summary[wl]["tracing_overhead_s"] = overhead

    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, f"steady-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump(summary, f, indent=1)
    print(f"\nsummary: {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
