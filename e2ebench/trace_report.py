#!/usr/bin/env python3
"""Per-layer breakdown of traced benchmark runs.

    python3 e2ebench/trace_report.py [.bench_build/e2ebench/traces/*.jsonl]

Reads the span dumps that `run.py --trace 1` writes and prints, per
workload, the mean per traced op of: each engine call's self time (its
duration minus the time its Spark jobs cover), each module's busy time and
job count, the driver gap (op time with no Spark job running), and the share
of op time spent in jobs with no engine frame (`unattributed`). Module busy
times and the gap are the split the harness recorded on each op span. The
traced set-up op (on diff_daily the day-0 full build) is reported on its
own, after the measured ops. With --jobs it also lists the call sites of the
jobs, slowest first.
"""
import collections
import glob
import json
import os
import sys


def covered(start, end, intervals):
    """Length of [start, end] covered by the union of the intervals."""
    spans = sorted((max(s, start), min(e, end)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
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


def report(path, show_jobs):
    spans = [json.loads(line) for line in open(path)]
    name = os.path.basename(path)[:-len(".jsonl")]
    setup_ops = {s["op"] for s in spans if s["name"] == "op" and s.get("setup")}
    for title, keep in (("measured", lambda op: op not in setup_ops),
                        ("set-up", lambda op: op in setup_ops)):
        by_op = collections.defaultdict(list)
        for s in spans:
            if keep(s["op"]):
                by_op[s["op"]].append(s)
        summarize(f"{name}, {title}", by_op, show_jobs)


def summarize(name, by_op, show_jobs):
    calls, modules, jobs_n = collections.Counter(), collections.Counter(), collections.Counter()
    wall = gap = worst = 0.0
    sites = collections.Counter()
    n = 0
    for op, ss in sorted(by_op.items()):
        root = next((s for s in ss if s["name"] == "op"), None)
        if root is None:
            continue
        n += 1
        t0, t1 = root["start_ms"], root["end_ms"]
        wall += t1 - t0
        jobs = [s for s in ss if s["name"].startswith("spark.job:")]
        for c in (s for s in ss if s["parent"] == 0 and s["name"] != "op"):
            kids = [(j["start_ms"], j["end_ms"]) for j in jobs if j["parent"] == c["id"]]
            calls[c["name"]] += (c["end_ms"] - c["start_ms"]) - covered(c["start_ms"], c["end_ms"], kids)
        busy = {k[len("busy_ms:"):]: v for k, v in root.items() if k.startswith("busy_ms:")}
        modules.update(busy)
        gap += root["driver_gap_ms"]
        worst = max(worst, abs(sum(busy.values()) + root["driver_gap_ms"] - (t1 - t0)))
        for j in jobs:
            jobs_n[j["name"][10:]] += 1
            sites[(j["name"][10:], j.get("site", ""))] += j["end_ms"] - j["start_ms"]
    if n == 0:
        print(f"== {name}: no traced ops")
        return
    print(f"== {name}: {n} traced ops, mean op wall {wall / n / 1000:.3f} s")
    print(f"  {'engine call (self time: outside its Spark jobs)':56s} {'s/op':>8s}")
    for c, ms in calls.most_common():
        print(f"  {c:56s} {ms / n / 1000:8.3f}")
    print(f"  {'module (busy: time its jobs ran)':44s} {'jobs/op':>10s} {'s/op':>8s}")
    for m, ms in modules.most_common():
        print(f"  {m:44s} {jobs_n[m] / n:10.1f} {ms / n / 1000:8.3f}")
    print(f"  {'spark.driver_gap (no job running)':44s} {'':10s} {gap / n / 1000:8.3f}")
    print(f"  unattributed share of op wall: {modules['unattributed'] / wall:.1%}")
    print(f"  busy + gap equals each op's wall time to within {worst:.3f} ms")
    if show_jobs:
        print("  slowest call sites (module, site, s/op):")
        for (m, site), ms in sites.most_common(15):
            print(f"    {m:28s} {site:60s} {ms / n / 1000:8.3f}")


def main():
    args = [a for a in sys.argv[1:] if a != "--jobs"]
    paths = args or sorted(glob.glob(os.path.join(".bench_build", "e2ebench", "traces", "*.jsonl")))
    if not paths:
        sys.exit("no trace files; run e2ebench/run.py with --trace 1 first")
    for p in paths:
        report(p, "--jobs" in sys.argv)


if __name__ == "__main__":
    main()
