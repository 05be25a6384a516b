#!/usr/bin/env python3
"""Repeated-run spreads of the end-to-end metrics, for setting their bounds.

    python3 e2ebench/steadiness.py --seeds 1-10 [--workloads diff_daily,feed_ingest]
        [--out e2ebench/spreads.json]

Runs the benchmark command from BENCHMARK.json once per seed and workload,
untraced, one run at a time. For each end-to-end metric it records the ten
values, their median and the interquartile range over the median, with
Python's statistics.quantiles(values, n=4). The metric's bound is printed
beside it. A failed or incorrect run stops the script.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out.extend(range(int(a), int(b or a) + 1))
    return out


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    p.add_argument("--out", default=os.path.join(ROOT, "e2ebench", "spreads.json"))
    args = p.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {"run_seconds": bench["run_seconds"], "seeds": seeds(args.seeds), "workloads": {}}
    for wl in args.workloads.split(","):
        runs = []
        for s in report["seeds"]:
            t = time.time()
            cmd = bench["command"] + ["--workload", wl, "--seed", str(s), "--seconds",
                                      str(bench["run_seconds"]), "--trace", "0"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            lines = [l for l in proc.stdout.splitlines() if l.strip()]
            if proc.returncode != 0 or not lines or not json.loads(lines[-1])["correct"]:
                sys.stderr.write(proc.stdout + proc.stderr[-4000:])
                sys.exit(f"{wl} seed {s}: run failed (exit {proc.returncode})")
            result, stamp = json.loads(lines[-1]), json.loads(lines[-2])
            runs.append({"seed": s, "wall_s": round(time.time() - t, 1),
                         "contended": stamp["contended"], "steal_frac": stamp["steal_frac"],
                         "op_s_samples": stamp["op_s_samples"],
                         "op_cpu_s_samples": stamp["op_cpu_s_samples"],
                         "metrics": {k: v["value"] for k, v in result["metrics"].items()}})
            print(f"{wl} seed {s}: {runs[-1]['wall_s']} s", flush=True)
        summary = {}
        for m, bound in bounds.items():
            vals = [r["metrics"][m] for r in runs]
            q = statistics.quantiles(vals, n=4)
            med = statistics.median(vals)
            summary[m] = {"median": med, "iqr_over_median": (q[2] - q[0]) / med,
                          "bound": bound, "values": vals}
            print(f"  {m:18s} median {med:12.4f}  iqr/median {(q[2] - q[0]) / med:.3f}"
                  f"  bound {bound}", flush=True)
        report["workloads"][wl] = {"runs": runs, "metrics": summary}
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
