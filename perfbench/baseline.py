#!/usr/bin/env python3
"""Runs the benchmark over several seeds and records the baseline.

    python3 perfbench/baseline.py --seeds 1-10 [--workloads a,b] [--out perfbench/BASELINE.json]

For every workload and seed it runs `perfbench/run.py --trace 0`, keeps each
end-to-end value and the 1-minute loadavg the harness printed at the start
and end of the run, and reports per metric the median and the quartile
spread (Q3 - Q1) / median, as statistics.quantiles(values, n=4) gives them.
It then makes one traced run per workload on the first seed and keeps its
per-layer metrics.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys


SUMMARIES = []


def run(workload, seed, seconds, trace=0):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True)
    summary = re.findall(r"\[perfbench\] summary (\{.*\})", p.stderr)
    if p.returncode != 0 or not summary:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} failed")
    SUMMARIES.append(json.loads(summary[-1]))
    return json.loads(p.stdout.strip().splitlines()[-1]), SUMMARIES[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads")
    ap.add_argument("--out")
    args = ap.parse_args()
    lo, _, hi = args.seeds.partition("-")
    seeds = list(range(int(lo), int(hi or lo) + 1))
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    report = {}
    for w in names:
        runs = []
        for s in seeds:
            result, summary = run(w, s, bench["run_seconds"])
            runs.append({"seed": s, "correct": result["correct"],
                         "attempted": result["attempted"], "failed": result["failed"],
                         "loadavg_start": summary["loadavg_start"],
                         "loadavg_end": summary["loadavg_end"],
                         "metrics": {k: v["value"] for k, v in result["metrics"].items()}})
            print(f"{w} seed {s}: " + " ".join(f"{k}={v:.4g}" for k, v in runs[-1]["metrics"].items())
                  + f" load={summary['loadavg_start']}->{summary['loadavg_end']}", flush=True)
        metrics = {}
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]] for r in runs]
            med = statistics.median(vals)
            if len(vals) >= 2:
                q = statistics.quantiles(vals, n=4)
                spread = (q[2] - q[0]) / med if med else 0.0
            else:
                spread = 0.0
            metrics[m["name"]] = {"unit": m["unit"], "median": med, "spread": round(spread, 5),
                                  "bound": m["bound"]}
            print(f"  {m['name']}: median {med:.5g} {m['unit']}, spread {spread:.4f} (bound {m['bound']})")
        traced, summary = run(w, seeds[0], bench["run_seconds"], trace=1)
        report[w] = {"metrics": metrics, "runs": runs,
                     "traced": {"seed": seeds[0], "correct": traced["correct"],
                                "loadavg_start": summary["loadavg_start"],
                                "loadavg_end": summary["loadavg_end"],
                                "per_layer": {k: v["value"] for k, v in traced["metrics"].items()}}}
        print(f"  traced run seed {seeds[0]}: correct={traced['correct']}", flush=True)
    if args.out:
        cores = {r["cores"] for r in SUMMARIES}
        with open("/proc/meminfo") as f:
            mem_gb = int(f.readline().split()[1]) / 2**20
        header = {"protocol": {"run_seconds": bench["run_seconds"], "seeds": seeds,
                               "local_cores": sorted(cores),
                               "host": f"{os.cpu_count()}-core, {mem_gb:.0f} GB VM; Spark scratch on local disk",
                               "note": "BENCH_r01-r06 were taken with Bench.scala at local[32] on other "
                                       "corpora and are not comparable with this baseline"}}
        with open(args.out, "w") as f:
            json.dump({**header, **report}, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
