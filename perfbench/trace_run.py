"""The traced run: spans per op (op -> build, execute; stream op ->
micro-batch -> phases), per-op Spark counters from the status store,
and the per-layer totals the benchmark prints with ``--trace 1``.

Spans share one clock, ``time.time``, because micro-batch phases come
from the engine's progress reports, which carry wall-clock timestamps.
"""

from __future__ import annotations

import datetime as dt
import time

from perfbench import measure
from perfbench.spark_layers import StageReader

# Counters that must repeat exactly when the same code runs the same
# input twice; an op where they differ has a nondeterministic plan.
EXACT_COUNTERS = (
    "build_jobs",
    "build_stages",
    "jobs",
    "stages",
    "tasks",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "persists",
)


class TraceRun:
    def __init__(self, spark):
        self.tracer = measure.Tracer(clock=time.time)
        self.reader = StageReader(spark)
        self.ops: list[dict] = []
        self.cpu = {"driver_py": 0.0, "jvm": 0.0, "py_worker": 0.0}
        self.stream_counters: dict | None = None

    # -- query ops ----------------------------------------------------

    def query_op(self, wl, q, op_id: int) -> float:
        """One traced query op. Returns its latency (build + execute);
        the status-store reads that follow are outside it."""
        from direct_kafka_stream_spark.caching import clear_materialized

        tr, rd = self.tracer, self.reader
        groups = {"build": f"op{op_id}:build", "exec": f"op{op_id}:exec"}
        cpu0 = measure.snapshot_cpu()
        op = tr.start("op", op_id)
        t0 = time.perf_counter()
        try:
            span = tr.start("registry.build", op_id, op)
            rd.tag(groups["build"])
            df = q.spark(wl.spark, wl.data)
            tr.finish(span)
            span = tr.start("spark.execute", op_id, op)
            rd.tag(groups["exec"])
            result = df.toPandas()
            tr.finish(span)
        except Exception as e:  # an op that raises counts as failed
            result = e
            tr.finish(span)
        latency = time.perf_counter() - t0
        rd.untag()
        tr.finish(op)
        for k, v in measure.cpu_delta(cpu0, measure.snapshot_cpu()).items():
            self.cpu[k] += v
        span = tr.start("caching.clear_materialized", op_id)
        persists = clear_materialized()
        tr.finish(span, persists=persists)
        ph = rd.phases(groups)
        build_ms = 1000 * tr.spans[op.span_id + 1].duration
        rec = {
            "op": op_id,
            "name": q.name,
            "latency_ms": 1000 * latency,
            "build_ms": build_ms,
            "execute_ms": 1000 * op.duration - build_ms,
            "build_jobs": ph["build"]["jobs"],
            "build_stages": ph["build"]["stages"],
            "persists": persists,
        }
        for k in ("jobs", "stages", *measure.STAGE_FIELDS):
            rec[k] = ph["build"][k] + ph["exec"][k]
        op.counters.update(rec)
        self.ops.append(rec)
        wl.results.append((q.name, result))
        return latency

    # -- stream ops -----------------------------------------------------

    def stream_jobs(self, job_ids: list[int]) -> None:
        """Spark counters for the micro-batch jobs of the timed region."""
        self.stream_counters = self.reader.jobs_phases({"exec": job_ids})["exec"]

    def stream_batches(self, progress: list[dict], batch_ids, windows: list[tuple[float, float]]) -> None:
        """Spans for the timed micro-batches: the client's op (segment
        published -> commit seen) is the parent of the engine's trigger,
        whose phases are laid out in execution order from its start."""
        by_id = {p["batchId"]: p for p in progress}
        order = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
        for op_id, (b, (t0, t1)) in enumerate(zip(batch_ids, windows)):
            op = self.tracer.add("op", op_id, t0, t1, None, batch=b)
            p = by_id.get(b)
            if p is None:
                continue
            start = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            dur = p["durationMs"]
            trig = self.tracer.add(
                "streaming.trigger", op_id, start, start + dur["triggerExecution"] / 1000, op,
                rows=p["numInputRows"],
            )
            at = start
            for ph in order:
                d = dur.get(ph, 0) / 1000
                self.tracer.add(f"streaming.{ph}", op_id, at, at + d, trig)
                at += d

    # -- totals -------------------------------------------------------

    def query_totals(self) -> dict[str, tuple[float, str]]:
        """Per-layer totals over the timed ops."""
        ops = self.ops
        tot = lambda k: sum(o[k] for o in ops)  # noqa: E731
        sc = self.stream_counters
        spark = (lambda k: sc[k]) if sc is not None else tot
        out = {
            "registry.build_ms": (tot("build_ms"), "ms"),
            "operators.build_jobs": (tot("build_jobs"), "count"),
            "operators.build_stages": (tot("build_stages"), "count"),
            "caching.persists": (tot("persists"), "count"),
            "spark.execute_ms": (tot("execute_ms"), "ms"),
            "spark.jobs": (spark("jobs"), "count"),
            "spark.stages": (spark("stages"), "count"),
            "spark.tasks": (spark("tasks"), "count"),
            "spark.task_cpu_s": (spark("cpu_s"), "s"),
            "spark.task_run_s": (spark("run_s"), "s"),
            "spark.gc_s": (spark("gc_s"), "s"),
            "spark.shuffle_write_bytes": (spark("shuffle_write_bytes"), "B"),
            "spark.shuffle_read_bytes": (spark("shuffle_read_bytes"), "B"),
            "spark.input_bytes": (spark("input_bytes"), "B"),
            "spark.spill_bytes": (spark("spill_bytes"), "B"),
        }
        for role in ("driver_py", "jvm", "py_worker"):
            out[f"proc.{role}_cpu_s"] = (self.cpu[role], "s")
        return out

    def dump(self) -> dict:
        return {"ops": self.ops, "spans": self.tracer.dump()}


def nondeterministic_ops(a: list[dict], b: list[dict]) -> list[str]:
    """Ops of two same-input traced runs whose exact counters differ,
    matched by (query name, occurrence)."""

    def keyed(ops):
        seen: dict[str, int] = {}
        out = {}
        for o in ops:
            k = seen.get(o["name"], 0)
            seen[o["name"]] = k + 1
            out[(o["name"], k)] = {c: o[c] for c in EXACT_COUNTERS}
        return out

    ka, kb = keyed(a), keyed(b)
    return sorted(
        f"{n}#{k}: " + ", ".join(
            f"{c} {ka[(n, k)][c]} vs {kb[(n, k)][c]}" for c in EXACT_COUNTERS
            if ka[(n, k)][c] != kb[(n, k)][c]
        )
        for (n, k) in ka.keys() & kb.keys()
        if ka[(n, k)] != kb[(n, k)]
    ) + sorted(f"{n}#{k}: in one run only" for (n, k) in ka.keys() ^ kb.keys())
