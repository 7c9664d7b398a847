#!/usr/bin/env python3
"""Runs the benchmark over several seeds and reports, per workload and
end-to-end metric, the median and the quartile spread (IQR / median,
quartiles as `statistics.quantiles(values, n=4)` gives them) next to
the metric's bound from BENCHMARK.json.

    python3 perfbench/spread.py [--workloads a,b] [--seeds 1-10]

Run from the repository root. Each run's JSON report is kept in
.bench_build/perfbench/spread/<workload>-<seed>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    a = ap.parse_args()
    out = os.path.join(".bench_build", "perfbench", "spread")
    os.makedirs(out, exist_ok=True)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for w in a.workloads.split(","):
        values = {}
        for s in seeds_of(a.seeds):
            p = subprocess.run(bench["command"] + ["--workload", w, "--seed", str(s),
                                                   "--seconds", str(bench["run_seconds"]),
                                                   "--trace", "0"],
                               stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            report = json.loads(p.stdout.strip().splitlines()[-1])
            with open(os.path.join(out, f"{w}-{s}.json"), "w") as fh:
                json.dump(report, fh)
            if p.returncode != 0 or not report["correct"] or report["failed"]:
                ok = False
                print(f"{w} seed {s}: FAILED exit={p.returncode} {report}")
            for k, m in report["metrics"].items():
                values.setdefault(k, []).append(m["value"])
        for k, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            flag = "" if k == "setup_s" or spread < bounds[k] / 3 else "  <-- above bound/3"
            print(f"{w:9s} {k:18s} median {med:12.3f}  spread {spread:6.3f}  "
                  f"bound {bounds[k]:.2f}  n={len(vs)}{flag}")
        sys.stdout.flush()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
