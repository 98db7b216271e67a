#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload llm_dedup --seed 1 --seconds 12 --trace 0

Generates the workload's inputs from ``--seed`` under ``.bench_work/``,
starts a ``local[nproc]`` SparkSession, warms up, runs the timed region
(sized by ``--seconds``), checks every output, and prints the metrics.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` the per-layer ones, and the spans
and per-op counters go to ``.bench_out/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

ROOT = os.getcwd()
RUN_LIMIT_S = 170  # the whole run, set-up and checks included
# Below physical memory (the session default is 32g).
DRIVER_MEM = "4g"
# Under the default tiered JIT the JVM keeps compiling through five or
# more passes of the same queries (on a 4-core host, C2 threads burnt
# 28 -> 3.5 CPU-s per TPC-H pass) and runs of identical work spread
# 15-20%. C1 alone settles after one pass; the larger code cache stops
# the sweeper's bursts that Spark's generated classes otherwise cause. Plan, job and stage changes
# show the same under either compiler. Without -XX:-UsePerfData every
# JVM writes a perf-data file outside the checkout.
JVM_FLAGS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=512m -XX:-UsePerfData"


def _configure_env(work: str, ncpu: int) -> None:
    """Keep every file Spark, the JVM and Python write inside the
    checkout, and size the Spark driver's heap below physical memory."""
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(ncpu),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_WAREHOUSE": f"{work}/warehouse",
        "SPARK_LOCAL_DIRS": f"{work}/spark-local",
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"{JVM_FLAGS} -Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })


def _stop_spark() -> None:
    """Stop the SparkContext and the gateway JVM, and wait for every
    process started under this one to end."""
    from perfbench import measure

    try:
        from pyspark import SparkContext
    except ImportError:
        return
    children = set(measure.process_tree(measure.read_all_procs(), os.getpid())) - {os.getpid()}
    gw = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.time() + 20
    while children and time.time() < deadline:
        children = {p for p in children if os.path.exists(f"/proc/{p}")}
        time.sleep(0.05)
    for p in children:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S}s")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(f"{ROOT}/direct_kafka_stream_spark/__init__.py"):
        print("perfbench: run from the repository root; direct_kafka_stream_spark/ not found",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, f"{ROOT}/scripts"]
    from perfbench import measure
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    ncpu = len(os.sched_getaffinity(0))
    work = f"{ROOT}/.bench_work/{args.workload}-{args.seed}-{os.getpid()}"
    _configure_env(work, ncpu)
    signal.signal(signal.SIGALRM, _timeout)
    # a terminated run still stops its JVM and removes its inputs
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    signal.alarm(RUN_LIMIT_S)
    try:
        wl = WORKLOADS[args.workload]()
        g0 = time.perf_counter()
        wl.prepare(work, args.seed, args.seconds, bool(args.trace))
        gen_s = time.perf_counter() - g0
        wl.setup()
        setup_s = time.perf_counter() - T_START - gen_s
        tracer = None
        if args.trace:
            from perfbench.trace_run import TraceRun

            tracer = TraceRun(wl.spark)
        t0 = time.perf_counter()
        tm = wl.timed(args.seconds, tracer)
        t1 = time.perf_counter()
        problems = wl.check(tm)
        check_s = time.perf_counter() - t1
        timed_s = t1 - t0
        cpu_s = sum(tm.cpu.values())
        measure.check_cpu_plausible(cpu_s, tm.wall_s, ncpu)
        e2e = tm.end_to_end(setup_s)
        metrics = wl.per_layer(tracer) if tracer else e2e
        if tracer:
            os.makedirs(f"{ROOT}/.bench_out", exist_ok=True)
            with open(f"{ROOT}/.bench_out/trace-{args.workload}-{args.seed}.json", "w") as fh:
                json.dump({"workload": args.workload, "seed": args.seed,
                           "seconds": args.seconds,
                           "end_to_end_traced": {k: v for k, (v, _u) in e2e.items()},
                           **tracer.dump()}, fh)
    finally:
        signal.alarm(0)
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)

    n = len(tm.latencies_s)
    tail_p = measure.tail_percentile(n)
    print(f"workload {args.workload}  seed {args.seed}  ops {n}  "
          f"tail = p{tail_p:.1f} of {n}  cores {ncpu}")
    print(f"  (input generation {gen_s:.1f} s, set-up {setup_s:.1f} s, timed {timed_s:.1f} s, "
          f"checks {check_s:.1f} s, total {time.perf_counter() - T_START:.1f} s)")
    for name, (value, unit) in metrics.items():
        print(f"  {name:40s} {value:14.4f} {unit}")
    print(f"  ops_failed/ops_attempted {tm.failed}/{n}")
    print("  checks: " + ("all passed" if not problems else f"{len(problems)} FAILED"))
    for p in problems:
        print(f"    {p}")
    print(json.dumps({
        "correct": not problems and tm.failed == 0,
        "attempted": n,
        "failed": tm.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
