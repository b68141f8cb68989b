#!/usr/bin/env python3
"""Steadiness of the benchmark on one commit: two sets of runs.

    python3 perfbench/steady.py [--seeds 10] [--sets 2] [--workloads a,b]
                                [--trace-overhead]

Run from the root of a checkout. For every workload it runs ``run.py``
once per seed in each set (seeds 1..N, then N+1..2N, …) and reports, per
end-to-end metric and set, the median, the quartiles and the spread
(quartile distance over the median, as ``statistics.quantiles(n=4)``
gives them) against the metric's bound, the change of each set's median
against the first set's, and each set's share of failed operations. With
``--trace-overhead`` it also makes one traced run per workload and
reports how far its end-to-end figures sit from the untraced medians.
The report goes to stdout and to ``.bench_out/steady.json``.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.getcwd()


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(spec, workload, seed, trace):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]),
                             "--trace", str(trace)]
    p = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
    if p.returncode != 0:
        sys.exit(f"{' '.join(cmd)} failed:\n{p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def stats(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--trace-overhead", action="store_true")
    a = ap.parse_args()
    spec = bench()
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    names = (a.workloads.split(",") if a.workloads
             else [w["name"] for w in spec["workloads"]])
    report = {}
    for w in names:
        sets = []
        for k in range(a.sets):
            runs = [run_once(spec, w, k * a.seeds + i + 1, 0) for i in range(a.seeds)]
            sets.append(runs)
        rep = {"sets": []}
        for runs in sets:
            rep["sets"].append({
                "failed_share": sum(r["failed"] for r in runs)
                / sum(r["attempted"] for r in runs),
                "correct": all(r["correct"] for r in runs),
                "metrics": {m: stats([r["metrics"][m]["value"] for r in runs])
                            for m in bounds}})
        first = rep["sets"][0]["metrics"]
        for s in rep["sets"][1:]:
            for m, b in bounds.items():
                sign = 1 if b["better"] == "lower" else -1
                s["metrics"][m]["worse_than_first"] = sign * (
                    s["metrics"][m]["median"] / first[m]["median"] - 1)
        if a.trace_overhead:
            traced = run_once(spec, w, 1, 1)
            summary = os.path.join(ROOT, ".bench_out", f"{w}-s1-trace", "summary.json")
            with open(summary) as f:
                e2e = json.load(f)["end_to_end"]
            rep["trace_overhead"] = {m: e2e[m] / first[m]["median"] - 1 for m in bounds}
            rep["traced_correct"] = traced["correct"]
        report[w] = rep
        print_workload(w, rep, bounds)
    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_out", "steady.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)


def print_workload(w, rep, bounds):
    print(f"== {w}  failed share per set: "
          + ", ".join(f"{s['failed_share']:.4f}" for s in rep["sets"]))
    for m, b in bounds.items():
        cells = []
        for s in rep["sets"]:
            x = s["metrics"][m]
            cell = (f"{x['median']:.4g} [{x['q1']:.4g}, {x['q3']:.4g}] "
                    f"spread {x['spread']:.3f}")
            if "worse_than_first" in x:
                cell += f" worse {x['worse_than_first']:+.3f}"
            cells.append(cell)
        over = rep.get("trace_overhead", {}).get(m)
        extra = f"  traced {over:+.3f}" if over is not None else ""
        print(f"  {m:18s} bound {b['bound']:.2f} | " + " | ".join(cells) + extra)


if __name__ == "__main__":
    main()
