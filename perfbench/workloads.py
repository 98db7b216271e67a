"""The benchmark's three workloads. Each is a closed loop with one
client: the next op starts only when the previous one has returned.

* ``tpch_sf01`` / ``llm_dedup`` (``QueryWorkload``): an op is one
  registered query called through ``QUERIES[name].spark`` and
  materialized with ``toPandas``. Every result is compared with the
  query's DuckDB oracle after the timed region.
* ``stream_ingest_commit`` (``StreamWorkload``): the paper's loop. The
  client moves one Kafka-shaped segment into a watched directory and
  waits until the micro-batch that reads it has written its commit log
  entry; that wait is one op.

Timing is taken here, around calls into the program's public functions;
the program itself is not instrumented.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time

from perfbench import datagen, measure

TPCH = [f"q_tpch_q{i}" for i in range(1, 23)]

# ROADMAP set-similarity / superstep queries, three of each shape:
# execute-bound (the builder returns a lazy plan; time goes to the final
# job) and build-bound (eager jobs inside the builder dominate).
LLM_EXECUTE_BOUND = ["q_setsim_prefix", "q_dup_threshold_curve", "q_containment_dedup"]
LLM_BUILD_BOUND = ["q_dedup_near", "q_dedup_components", "q_dedup_keep_best"]

STREAM_VALUE_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
STREAM_PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


class Timed:
    """Op latencies, wall time and per-role CPU of one timed region."""

    def __init__(self):
        self.latencies_s: list[float] = []
        self.failed = 0
        self.wall_s = 0.0
        self.cpu: dict[str, float] = {}

    def __enter__(self):
        self._cpu0 = measure.snapshot_cpu()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall_s = time.perf_counter() - self._t0
        self.cpu = measure.cpu_delta(self._cpu0, measure.snapshot_cpu())
        return False

    def end_to_end(self, setup_s: float) -> dict[str, tuple[float, str]]:
        ms = [1000 * x for x in self.latencies_s]
        return {
            "setup_s": (setup_s, "s"),
            "latency_ms_p50": (statistics.median(ms), "ms"),
            "latency_ms_tail": (measure.tail_value(ms), "ms"),
            "work_s": (self.wall_s, "s"),
            "cpu_s": (sum(self.cpu.values()), "s"),
        }


def start_session():
    from direct_kafka_stream_spark import get_session

    return get_session("perfbench")


class QueryWorkload:
    """Registered queries over the fixture tables, in a seeded order per
    pass; ``warm_passes`` untimed passes fill the io table cache, the
    codegen caches and the JIT before the timed passes."""

    sf = 0.01

    def __init__(self, name: str, queries: list[str], pass_s: float, warm_passes: int):
        self.name = name
        self.queries = queries
        self.warm_passes = warm_passes
        # nominal warm seconds per pass on a 4-core host; sets how many
        # passes fill --seconds, so a run's input is fixed by --seconds
        self.pass_s = pass_s

    def passes(self, seconds: int) -> int:
        # at least enough ops for a tail percentile (TAIL_BEYOND above it)
        least = -(-(measure.TAIL_BEYOND + 1) // len(self.queries))
        return max(least, round(seconds / self.pass_s))

    def order(self, seed: int, pass_no: int) -> list[str]:
        names = list(self.queries)
        random.Random(f"{seed}:{pass_no}").shuffle(names)
        return names

    def prepare(self, work: str, seed: int, seconds: int, trace: bool) -> None:
        self.seed = seed
        self.data = f"{work}/tables"
        datagen.write_tables(self.data, seed, self.sf)

    def setup(self) -> None:
        from direct_kafka_stream_spark import TABLES, load_table

        t0 = time.perf_counter()
        self.spark = start_session()
        self.session_start_s = time.perf_counter() - t0
        for t in TABLES:
            load_table(self.spark, self.data, t)
        self.results: list[tuple[str, object]] = []
        for p in range(self.warm_passes):
            for name in self.order(self.seed, -1 - p):
                self._op(name, None, -1)
        self.warm_results, self.results = self.results, []

    def _op(self, name: str, tracer: "TraceRun | None", op_id: int) -> float:
        from direct_kafka_stream_spark import QUERIES
        from direct_kafka_stream_spark.caching import clear_materialized

        q = QUERIES[name]
        if tracer is None:
            t0 = time.perf_counter()
            try:
                pdf = q.spark(self.spark, self.data).toPandas()
            except Exception as e:  # an op that raises counts as failed
                pdf = e
            t2 = time.perf_counter()
            clear_materialized()
            self.results.append((name, pdf))
            return t2 - t0
        return tracer.query_op(self, q, op_id)

    def timed(self, seconds: int, tracer: "TraceRun | None") -> Timed:
        op_id = 0
        with Timed() as tm:
            for p in range(self.passes(seconds)):
                for name in self.order(self.seed, p):
                    tm.latencies_s.append(self._op(name, tracer, op_id))
                    op_id += 1
        return tm

    def check(self, tm: Timed) -> list[str]:
        """Compare every result (warm-up and timed) with the oracle; a
        timed op that raised or mismatched counts in ``tm.failed``."""
        import duckdb

        from check_oracle import normalize
        from direct_kafka_stream_spark import QUERIES, TABLES

        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        want = {n: normalize(con.sql(QUERIES[n].oracle).df()) for n in self.queries}
        problems = []
        for label, results in (("warm-up", self.warm_results), ("timed", self.results)):
            for name, got in results:
                if isinstance(got, Exception):
                    bad = f"{type(got).__name__}: {got}"[:200]
                elif normalize(got) != want[name]:
                    bad = "result differs from oracle"
                else:
                    continue
                problems.append(f"{label} {name}: {bad}")
                if label == "timed":
                    tm.failed += 1
        return problems

    def per_layer(self, tracer: "TraceRun") -> dict[str, tuple[float, str]]:
        from direct_kafka_stream_spark import TABLES, load_table

        per_call = []
        for _ in range(5):
            for t in TABLES:
                t0 = time.perf_counter()
                load_table(self.spark, self.data, t)
                per_call.append(1000 * (time.perf_counter() - t0))
        return {
            "session.start_s": (self.session_start_s, "s"),
            "io.load_table_ms": (statistics.median(per_call), "ms"),
            **tracer.query_totals(),
            **stream_zeros(),
        }


def stream_zeros() -> dict[str, tuple[float, str]]:
    out = {f"streaming.{p}_ms": (0.0, "ms") for p in STREAM_PHASES}
    out.update({
        "streaming.state_rows": (0, "count"),
        "streaming.state_bytes": (0, "B"),
        "streaming.rows_dropped_by_watermark": (0, "count"),
        "streaming.checkpoint_bytes": (0, "B"),
        "streaming.first_batch_ms": (0.0, "ms"),
        "streaming.restart_ms": (0.0, "ms"),
    })
    return out


class StreamWorkload:
    """file_stream(maxFilesPerTrigger=1) -> decode_kv -> dedup_streaming
    -> run_to_parquet with a checkpoint, fed one segment per op."""

    name = "stream_ingest_commit"
    rows_per_segment = 1000
    dup_share = 0.05
    event_gap_s = 1.2  # event-time spacing: a segment spans ~20 min
    warm_batches = 8
    batch_s = 0.45  # nominal warm seconds per batch on a 4-core host
    wait_limit_s = 60.0

    def batches(self, seconds: int) -> int:
        return max(measure.TAIL_BEYOND + 1, round(seconds / self.batch_s))

    def prepare(self, work: str, seed: int, seconds: int, trace: bool) -> None:
        n_seg = self.warm_batches + self.batches(seconds) + (1 if trace else 0)
        n_events = n_seg * self.rows_per_segment
        events = datagen.events_table(seed, n_events, span_s=n_events * self.event_gap_s)
        segs = datagen.kafka_segments(events, seed, self.rows_per_segment, self.dup_share)[:n_seg]
        self.staging, self.src = f"{work}/staging", f"{work}/source"
        self.out, self.ckpt = f"{work}/sink", f"{work}/checkpoint"
        for d in (self.staging, self.src):
            os.makedirs(d)
        import pyarrow.parquet as pq

        # FileStreamSource orders new files by modification time, so
        # mtimes strictly increase with segment (event-time) order
        base_ns = time.time_ns() - n_seg * 1_000_000_000
        self.segments = []
        self.expected: set[int] = set()
        for k, seg in enumerate(segs):
            path = f"{self.staging}/seg-{k:05d}.parquet"
            pq.write_table(seg, path)
            os.utime(path, ns=(base_ns + k * 1_000_000_000,) * 2)
            self.segments.append(path)
            for v in seg.column("value").to_pylist():
                self.expected.add(json.loads(v)["event_id"])
        self.next_seg = 0
        self.batch_id = 0
        self.windows: list[tuple[float, float]] = []

    def _start(self):
        from direct_kafka_stream_spark.sources.files import file_stream
        from direct_kafka_stream_spark.sources.kafka import KAFKA_SCHEMA, decode_kv
        from direct_kafka_stream_spark.streaming.pipeline import run_to_parquet
        from direct_kafka_stream_spark.streaming.transforms import dedup_streaming

        raw = file_stream(self.spark, self.src, KAFKA_SCHEMA, max_files_per_trigger=1)
        events = decode_kv(raw, STREAM_VALUE_SCHEMA).select("parsed.*")
        return run_to_parquet(dedup_streaming(events), self.out, self.ckpt, available_now=False)

    def _feed_one(self) -> float:
        """Publish the next segment; return seconds until its batch's
        commit log entry exists."""
        src = self.segments[self.next_seg]
        commit = f"{self.ckpt}/commits/{self.batch_id}"
        w0, t0 = time.time(), time.perf_counter()
        os.rename(src, f"{self.src}/{os.path.basename(src)}")
        while not os.path.exists(commit):
            if time.perf_counter() - t0 > self.wait_limit_s:
                raise TimeoutError(f"batch {self.batch_id} not committed in {self.wait_limit_s}s")
            if not self.query.isActive:
                raise RuntimeError(f"stream stopped: {self.query.exception()}")
            time.sleep(0.001)
        dt = time.perf_counter() - t0
        self.windows.append((w0, time.time()))
        self.next_seg += 1
        self.batch_id += 1
        return dt

    def setup(self) -> None:
        t0 = time.perf_counter()
        self.spark = start_session()
        self.session_start_s = time.perf_counter() - t0
        # The offset-log audit (analytics39.read_stream_ledger) needs one
        # data batch per offset entry and an uncompacted source log: no
        # trailing no-data batches after a watermark move, no compaction.
        self.spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
        self.spark.conf.set("spark.sql.streaming.fileSource.log.compactInterval", "1000000")
        self.query = self._start()
        self.first_batch_s = self._feed_one()
        for _ in range(self.warm_batches - 1):
            self._feed_one()

    def timed(self, seconds: int, tracer) -> Timed:
        self.timed_ids = range(self.batch_id, self.batch_id + self.batches(seconds))
        if tracer is not None:
            jobs0 = tracer.reader.job_ids(str(self.query.runId))
        with Timed() as tm:
            for _ in self.timed_ids:
                tm.latencies_s.append(self._feed_one())
        self.checkpoint_bytes = dir_bytes(self.ckpt)
        # a batch's progress report is posted just after its commit entry
        deadline = time.perf_counter() + 10
        while True:
            self.progress = [json.loads(p.json) for p in self.query.recentProgress]
            if self.progress[-1]["batchId"] >= self.timed_ids[-1] or time.perf_counter() > deadline:
                break
            time.sleep(0.01)
        if tracer is not None:
            tracer.cpu = dict(tm.cpu)
            tracer.stream_jobs(sorted(tracer.reader.job_ids(str(self.query.runId)) - jobs0))
            tracer.stream_batches(self.progress, self.timed_ids, self.windows[-len(self.timed_ids):])
            self.query.stop()
            t0 = time.perf_counter()
            self.query = self._start()
            self._feed_one()
            self.restart_s = time.perf_counter() - t0
        self.query.stop()
        return tm

    def check(self, tm: Timed) -> list[str]:
        from direct_kafka_stream_spark.operators.analytics39 import read_stream_ledger
        from pyspark.sql import functions as F

        problems = []
        out = self.spark.read.parquet(self.out)
        n_rows, n_ids = out.agg(F.count("*"), F.countDistinct("event_id")).first()
        got = {r[0] for r in out.select("event_id").collect()}
        if n_rows != n_ids:
            problems.append(f"sink holds {n_rows - n_ids} duplicate rows")
        if got != self.expected:
            problems.append(
                f"sink event_ids differ: {len(self.expected - got)} missing, "
                f"{len(got - self.expected)} unexpected"
            )
        try:
            ledger = read_stream_ledger(self.ckpt)
        except (RuntimeError, OSError, ValueError, KeyError) as e:
            problems.append(f"checkpoint ledger rejected: {e}")
        else:
            want = {os.path.basename(p): b for b, p in enumerate(self.segments[: self.next_seg])}
            have = {os.path.basename(p): b for p, b in ledger["files"].items()}
            if have != want:
                problems.append("checkpoint maps segments to the wrong batches")
        if problems:
            tm.failed = max(tm.failed, 1)
        return problems

    def per_layer(self, tracer) -> dict[str, tuple[float, str]]:
        timed = [p for p in self.progress if p["batchId"] in self.timed_ids]
        last_state = timed[-1]["stateOperators"][0]
        out = {
            "session.start_s": (self.session_start_s, "s"),
            "io.load_table_ms": (0.0, "ms"),
            **tracer.query_totals(),
        }
        # per-batch mean: the engine reports whole milliseconds, so a
        # median would mostly repeat the same integer
        for ph in STREAM_PHASES:
            out[f"streaming.{ph}_ms"] = (
                statistics.fmean(p["durationMs"].get(ph, 0) for p in timed), "ms")
        out.update({
            "streaming.state_rows": (last_state["numRowsTotal"], "count"),
            "streaming.state_bytes": (last_state["memoryUsedBytes"], "B"),
            "streaming.rows_dropped_by_watermark": (
                sum(p["stateOperators"][0]["numRowsDroppedByWatermark"] for p in timed), "count"),
            "streaming.checkpoint_bytes": (self.checkpoint_bytes, "B"),
            "streaming.first_batch_ms": (1000 * self.first_batch_s, "ms"),
            "streaming.restart_ms": (1000 * self.restart_s, "ms"),
        })
        return out


WORKLOADS = {
    "tpch_sf01": lambda: QueryWorkload("tpch_sf01", TPCH, pass_s=8.0, warm_passes=2),
    "llm_dedup": lambda: QueryWorkload(
        "llm_dedup", LLM_EXECUTE_BOUND + LLM_BUILD_BOUND, pass_s=12.0, warm_passes=1),
    "stream_ingest_commit": StreamWorkload,
}
