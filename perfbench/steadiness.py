#!/usr/bin/env python3
"""Steadiness report: run each workload N times (one seed per run) and
print, per end-to-end metric, the median, quartiles, extremes and the
inter-quartile distance as a share of the median, next to the metric's
bound from BENCHMARK.json. Also records the host facts a reader needs
to judge the figures.

With ``--trace-check`` it also makes two traced runs per workload on
the first seed, lists the ops whose exact counters differ between them
(nondeterministic plans), and reports the tracing overhead: the traced
run's end-to-end figures against the untraced run on the same seed.

    python3 perfbench/steadiness.py --runs 10 [--workloads llm_dedup,tpch_sf01] [--trace-check]

Run from the repository root. The report is also written as JSON to
``.bench_out/steadiness-<unix time>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

from perfbench.measure import spread  # noqa: E402
from perfbench.run import DRIVER_MEM, JVM_FLAGS  # noqa: E402
from perfbench.trace_run import nondeterministic_ops  # noqa: E402


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    out = json.loads(lines[-1])
    out["wall_s"] = time.time() - t0
    if trace:
        with open(f"{ROOT}/.bench_out/trace-{workload}-{seed}.json") as fh:
            out["trace"] = json.load(fh)
    return out


def host_facts() -> dict:
    def meminfo(key):
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1]) * 1024
        return None

    def mount_of(path):
        path = os.path.realpath(path)
        best = ("", "?", "?")
        with open("/proc/mounts") as fh:
            for line in fh:
                dev, mnt, fs = line.split()[:3]
                if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best[0]):
                    best = (mnt, fs, dev)
        return {"mount": best[0], "fstype": best[1], "device": best[2]}

    work = f"{ROOT}/.bench_work"
    os.makedirs(work, exist_ok=True)
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": os.getloadavg(),
        "mem_total_bytes": meminfo("MemTotal"),
        "mem_available_bytes": meminfo("MemAvailable"),
        "spark_local_dirs_and_checkpoints": mount_of(work),
        "driver_memory": DRIVER_MEM,
        "jvm_flags": JVM_FLAGS,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--workloads", default=None, help="comma-separated; default all")
    ap.add_argument("--trace-check", action="store_true")
    args = ap.parse_args()

    with open(f"{ROOT}/BENCHMARK.json") as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]

    report = {"host_before": host_facts(), "run_seconds": seconds, "workloads": {}}
    print(json.dumps(report["host_before"]))
    steady = True
    for wl in names:
        runs = []
        for i in range(args.runs):
            r = run_once(wl, args.seed0 + i, seconds, 0)
            runs.append(r)
            print(f"{wl} seed {args.seed0 + i}: correct={r['correct']} "
                  f"{r['attempted'] - r['failed']}/{r['attempted']} ok, {r['wall_s']:.1f} s wall",
                  flush=True)
        rows = {}
        print(f"\n{wl}: {args.runs} runs")
        print(f"  {'metric':16s} {'unit':5s} {'median':>11s} {'q1':>11s} {'q3':>11s} "
              f"{'min':>11s} {'max':>11s} {'iqr/med':>8s} {'bound':>6s}")
        for m, bound in bounds.items():
            vals = [r["metrics"][m]["value"] for r in runs]
            s = spread(vals)
            # the set-up spread is reported, not gated
            ok = m == "setup_s" or s["iqr_share"] < bound / 3
            steady &= ok
            rows[m] = {**s, "bound": bound, "values": vals, "steady": ok}
            print(f"  {m:16s} {runs[0]['metrics'][m]['unit']:5s} {s['median']:11.4f} {s['q1']:11.4f} "
                  f"{s['q3']:11.4f} {s['min']:11.4f} {s['max']:11.4f} {s['iqr_share']:8.4f} "
                  f"{bound:6.3f}{'' if ok else '  WIDE'}")
        entry = {
            "metrics": rows,
            "all_correct": all(r["correct"] for r in runs),
            "wall_s": [r["wall_s"] for r in runs],
        }
        if args.trace_check:
            a = run_once(wl, args.seed0, seconds, 1)
            b = run_once(wl, args.seed0, seconds, 1)
            nondet = nondeterministic_ops(a["trace"]["ops"], b["trace"]["ops"])
            traced = a["trace"]["end_to_end_traced"]
            base = runs[0]["metrics"]
            overhead = {m: traced[m] / base[m]["value"] - 1 for m in bounds if m != "setup_s"}
            entry.update({"nondeterministic_ops": nondet, "tracing_overhead": overhead,
                          "traced_correct": a["correct"] and b["correct"]})
            print(f"  traced runs correct: {entry['traced_correct']}")
            print("  tracing overhead (traced / untraced - 1, seed "
                  f"{args.seed0}): " + ", ".join(f"{m} {v:+.1%}" for m, v in overhead.items()))
            print(f"  nondeterministic ops: {nondet or 'none'}")
        report["workloads"][wl] = entry
    report["host_after"] = host_facts()
    os.makedirs(f"{ROOT}/.bench_out", exist_ok=True)
    path = f"{ROOT}/.bench_out/steadiness-{int(time.time())}.json"
    with open(path, "w") as fh:
        json.dump(report, fh, indent=1)
    print(f"\nsteady: {steady}; report written to {path}")
    return 0 if steady else 1


if __name__ == "__main__":
    sys.exit(main())
