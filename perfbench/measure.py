"""Pure measurement pieces of the benchmark: percentiles, process-tree
CPU accounting from ``/proc``, in-memory spans with self time, and
attribution of Spark stage metrics to the phase that ran them.

Nothing here imports Spark, so ``perfbench/tests`` can check it alone.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

# -- percentiles -------------------------------------------------------------

TAIL_BEYOND = 10


def tail_rank(n: int, beyond: int = TAIL_BEYOND) -> int | None:
    """1-based rank of the highest order statistic with at least
    ``beyond`` samples above it; None when ``n <= beyond``."""
    return n - beyond if n > beyond else None


def tail_percentile(n: int, beyond: int = TAIL_BEYOND) -> float | None:
    """The percentile the tail value stands at: share of samples at or
    below it, in percent."""
    k = tail_rank(n, beyond)
    return None if k is None else 100.0 * k / n


def tail_value(values: list[float], beyond: int = TAIL_BEYOND) -> float:
    """Value at the highest percentile that has ``beyond`` samples
    strictly above its rank."""
    k = tail_rank(len(values), beyond)
    if k is None:
        raise ValueError(f"need more than {beyond} samples, got {len(values)}")
    return sorted(values)[k - 1]


def spread(values: list[float]) -> dict[str, float]:
    """Median, quartiles, extremes and the inter-quartile distance as a
    share of the median (the steadiness figure)."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "min": min(values),
        "max": max(values),
        "iqr_share": (q3 - q1) / med if med else float("inf"),
    }


# -- process-tree CPU ---------------------------------------------------------

_CLK_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


@dataclass(frozen=True)
class ProcCpu:
    """One process's CPU from ``/proc/<pid>/stat``, in seconds. ``own``
    is utime+stime; ``reaped`` is cutime+cstime, the CPU of children
    it has already waited for."""

    pid: int
    ppid: int
    comm: str
    own: float
    reaped: float


def parse_stat(text: str) -> ProcCpu:
    """Parse one ``/proc/<pid>/stat`` line. ``comm`` may hold spaces and
    parentheses, so fields are split after its last ')'."""
    lpar, rpar = text.index("("), text.rindex(")")
    pid = int(text[:lpar])
    comm = text[lpar + 1 : rpar]
    f = text[rpar + 2 :].split()
    # f[0] is field 3 (state); utime..cstime are fields 14-17
    utime, stime, cutime, cstime = (int(x) for x in f[11:15])
    return ProcCpu(
        pid=pid,
        ppid=int(f[1]),
        comm=comm,
        own=(utime + stime) / _CLK_TCK,
        reaped=(cutime + cstime) / _CLK_TCK,
    )


def read_all_procs(proc_root: str = "/proc") -> dict[int, ProcCpu]:
    out: dict[int, ProcCpu] = {}
    for name in os.listdir(proc_root):
        if not name.isdigit():
            continue
        try:
            with open(f"{proc_root}/{name}/stat") as fh:
                out[int(name)] = parse_stat(fh.read())
        except (OSError, ValueError, IndexError):
            continue  # exited between listdir and open
    return out


def process_tree(procs: dict[int, ProcCpu], root: int) -> dict[int, ProcCpu]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for p in procs.values():
        children.setdefault(p.ppid, []).append(p.pid)
    keep, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs and pid not in keep:
            keep[pid] = procs[pid]
            todo.extend(children.get(pid, ()))
    return keep


def classify(p: ProcCpu, driver_pid: int) -> str:
    """Role of a process in the tree: the Python driver, a Python worker
    the JVM started, or the JVM (with any helper it runs)."""
    if p.pid == driver_pid:
        return "driver_py"
    if p.comm.startswith(("python", "pyspark")):
        return "py_worker"
    return "jvm"


# Whose CPU a process's reaped-children total holds: the Python driver
# process reaps only the JVM; the JVM and Python workers reap Python
# workers (the launcher the JVM reaped at start-up is constant and
# cancels in deltas).
_REAPED_ROLE = {"driver_py": "jvm", "jvm": "py_worker", "py_worker": "py_worker"}


def cpu_by_role(tree: dict[int, ProcCpu], driver_pid: int) -> dict[str, float]:
    """CPU seconds per role, counting each live process's own CPU plus
    the CPU of the children it has reaped. A child that exits is moved
    into its parent's ``reaped`` total, so the sum over the tree never
    loses it and never counts it twice."""
    out = {"driver_py": 0.0, "jvm": 0.0, "py_worker": 0.0}
    for p in tree.values():
        role = classify(p, driver_pid)
        out[role] += p.own
        out[_REAPED_ROLE[role]] += p.reaped
    return out


def cpu_delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    """Per-role CPU seconds spent between two ``cpu_by_role`` readings."""
    return {k: after.get(k, 0.0) - before.get(k, 0.0) for k in set(before) | set(after)}


def snapshot_cpu(driver_pid: int | None = None) -> dict[str, float]:
    pid = driver_pid or os.getpid()
    return cpu_by_role(process_tree(read_all_procs(), pid), pid)


def check_cpu_plausible(cpu_s: float, wall_s: float, ncpu: int, slack_s: float = 0.1) -> None:
    """A timed region cannot burn more CPU than ``ncpu`` cores give in
    its wall time (plus tick rounding); a reading that does was taken
    over the wrong interval or processes, and is refused."""
    if cpu_s > wall_s * ncpu + slack_s:
        raise ValueError(
            f"cpu_s {cpu_s:.3f} exceeds work_s {wall_s:.3f} x {ncpu} cores: "
            "failed measurement"
        )


# -- spans ---------------------------------------------------------------------


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    op_id: int
    name: str
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory; ``dump`` writes them out at the end."""

    def __init__(self, clock=time.perf_counter):
        self.spans: list[Span] = []
        self._clock = clock

    def start(self, name: str, op_id: int, parent: Span | None = None) -> Span:
        s = Span(len(self.spans), parent.span_id if parent else None, op_id, name, self._clock())
        self.spans.append(s)
        return s

    def finish(self, span: Span, **counters) -> Span:
        span.end = self._clock()
        span.counters.update(counters)
        return span

    def add(self, name: str, op_id: int, start: float, end: float, parent: Span | None, **counters) -> Span:
        """Record a span whose interval was measured elsewhere (e.g. a
        micro-batch phase reported by the engine)."""
        s = Span(len(self.spans), parent.span_id if parent else None, op_id, name, start, end, dict(counters))
        self.spans.append(s)
        return s

    def dump(self) -> list[dict]:
        selfs = self_times(self.spans)
        return [
            {
                "id": s.span_id,
                "parent": s.parent_id,
                "op": s.op_id,
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "dur_ms": 1000 * s.duration,
                "self_ms": 1000 * selfs[s.span_id],
                "counters": s.counters,
            }
            for s in self.spans
        ]


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    direct children cover (overlapping children count once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent_id is not None:
            kids.setdefault(s.parent_id, []).append((s.start, s.end))
    return {
        s.span_id: s.duration - _covered(kids.get(s.span_id, []), s.start, s.end)
        for s in spans
    }


# -- stage attribution --------------------------------------------------------

STAGE_FIELDS = (
    "tasks",
    "run_s",
    "cpu_s",
    "gc_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


def attribute_stages(
    jobs_by_phase: dict[str, list[int]],
    stages_by_job: dict[int, list[int]],
    stage_metrics: dict[int, dict[str, float]],
) -> dict[str, dict[str, float]]:
    """Sum stage metrics per phase. A stage id can appear under several
    jobs (a later job lists the shuffle stage it reuses as skipped); it
    is counted once, under the first phase (in the given order) whose
    jobs list it, and only if it ran, i.e. has metrics."""
    seen: set[int] = set()
    out: dict[str, dict[str, float]] = {}
    for phase, job_ids in jobs_by_phase.items():
        acc = {"jobs": len(job_ids), "stages": 0, **{k: 0 for k in STAGE_FIELDS}}
        for j in job_ids:
            for sid in stages_by_job.get(j, ()):
                if sid in seen or sid not in stage_metrics:
                    continue
                seen.add(sid)
                acc["stages"] += 1
                for k in STAGE_FIELDS:
                    acc[k] += stage_metrics[sid].get(k, 0)
        out[phase] = acc
    return out
