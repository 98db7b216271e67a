"""Unit tests for the benchmark's pure pieces (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import pathlib
import sys

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[2]))

from perfbench import datagen, measure  # noqa: E402
from perfbench.measure import ProcCpu, Span  # noqa: E402
from perfbench.trace_run import nondeterministic_ops  # noqa: E402

# -- ten-beyond percentile -----------------------------------------------------


def test_tail_leaves_ten_samples_above():
    values = [float(v) for v in range(1, 101)]  # 1..100
    assert measure.tail_value(values) == 90.0
    assert measure.tail_percentile(100) == 90.0
    assert sum(v > measure.tail_value(values) for v in values) == 10


def test_tail_percentile_for_small_runs():
    assert measure.tail_rank(22) == 12
    assert measure.tail_percentile(22) == pytest.approx(54.545, abs=1e-3)
    assert measure.tail_percentile(12) == pytest.approx(16.667, abs=1e-3)
    assert measure.tail_value([5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 8.0, 7.0, 6.0, 11.0, 10.0]) == 1.0


def test_tail_refuses_too_few_samples():
    assert measure.tail_percentile(10) is None
    with pytest.raises(ValueError):
        measure.tail_value([1.0] * 10)


def test_spread_matches_statistics_quantiles():
    s = measure.spread([10.0, 11.0, 12.0, 13.0, 100.0])
    assert s["median"] == 12.0
    assert s["min"] == 10.0 and s["max"] == 100.0
    assert s["iqr_share"] == pytest.approx((s["q3"] - s["q1"]) / 12.0)


# -- CPU delta -----------------------------------------------------------------


def test_parse_stat_with_awkward_comm():
    line = "4242 (py (x) worker) S 4200 1 1 0 -1 0 0 0 0 0 150 50 30 20 20 0 8 0 777 0 0"
    p = measure.parse_stat(line)
    assert (p.pid, p.ppid, p.comm) == (4242, 4200, "py (x) worker")
    tck = measure._CLK_TCK
    assert p.own == pytest.approx(200 / tck)
    assert p.reaped == pytest.approx(50 / tck)


def _p(pid, ppid, comm, own, reaped=0.0):
    return ProcCpu(pid, ppid, comm, own, reaped)


def test_process_tree_keeps_only_descendants():
    procs = {p.pid: p for p in [_p(1, 0, "init", 9), _p(10, 1, "python3", 1), _p(11, 10, "java", 2),
                                _p(12, 11, "python3", 3), _p(20, 1, "other", 5)]}
    assert set(measure.process_tree(procs, 10)) == {10, 11, 12}


def test_cpu_delta_counts_an_exited_worker_once():
    # before: driver 1 s, JVM 10 s, worker 2 s (alive)
    before = {10: _p(10, 1, "python3", 1.0), 11: _p(11, 10, "java", 10.0),
              12: _p(12, 11, "python3", 2.0)}
    # after: worker ran 0.5 s more then exited; the JVM reaped its 2.5 s;
    # a new worker started and used 0.25 s; the JVM itself used 4 s
    after = {10: _p(10, 1, "python3", 1.5), 11: _p(11, 10, "java", 14.0, reaped=2.5),
             13: _p(13, 11, "python3", 0.25)}
    d = measure.cpu_delta(measure.cpu_by_role(before, 10), measure.cpu_by_role(after, 10))
    assert sum(d.values()) == pytest.approx(0.5 + 4.0 + 0.5 + 0.25)
    assert d["driver_py"] == pytest.approx(0.5)
    assert d["py_worker"] == pytest.approx(0.5 + 0.25)
    assert d["jvm"] == pytest.approx(4.0)


def test_snapshot_of_this_process_grows_with_work():
    before = measure.snapshot_cpu()
    x = 0
    for i in range(3_000_000):
        x += i * i
    after = measure.snapshot_cpu()
    assert measure.cpu_delta(before, after)["driver_py"] > 0


def test_implausible_cpu_is_refused():
    measure.check_cpu_plausible(39.0, 10.0, 4)
    with pytest.raises(ValueError, match="failed measurement"):
        measure.check_cpu_plausible(41.0, 10.0, 4)


# -- span self time ------------------------------------------------------------


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(0, None, 7, "op", 0.0, 10.0),
        Span(1, 0, 7, "build", 1.0, 4.0),
        Span(2, 0, 7, "execute", 3.0, 6.0),  # overlaps build: counted once
        Span(3, 0, 7, "clear", 8.0, 12.0),  # runs past the parent: clipped
        Span(4, 1, 7, "job", 2.0, 3.0),
    ]
    st = measure.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[1] == pytest.approx(2.0)
    assert st[4] == pytest.approx(1.0)


def test_tracer_dump_links_parent_and_op():
    t = iter([0.0, 1.0, 3.0, 4.0])
    tr = measure.Tracer(clock=lambda: next(t))
    op = tr.start("op", 3)
    child = tr.start("build", 3, op)
    tr.finish(child, jobs=2)
    tr.finish(op)
    d = tr.dump()
    assert d[1]["parent"] == d[0]["id"] and d[1]["op"] == 3
    assert d[0]["self_ms"] == pytest.approx(2000.0)
    assert d[1]["counters"] == {"jobs": 2}


# -- stage attribution ---------------------------------------------------------


def test_stage_counted_once_and_skipped_stages_ignored():
    m = lambda tasks, cpu: {"tasks": tasks, "cpu_s": cpu}  # noqa: E731
    metrics = {1: m(4, 1.0), 2: m(2, 0.5), 3: m(8, 2.0)}  # stage 4 never ran
    out = measure.attribute_stages(
        {"build": [10], "exec": [11, 12]},
        {10: [1, 2], 11: [2, 3], 12: [4]},
        metrics,
    )
    assert out["build"]["jobs"] == 1 and out["build"]["stages"] == 2
    assert out["build"]["tasks"] == 6 and out["build"]["cpu_s"] == 1.5
    assert out["exec"]["jobs"] == 2 and out["exec"]["stages"] == 1
    assert out["exec"]["tasks"] == 8 and out["exec"]["shuffle_write_bytes"] == 0


def test_nondeterministic_ops_are_listed():
    base = {c: 1 for c in ("build_jobs", "build_stages", "jobs", "stages", "tasks",
                           "shuffle_write_bytes", "shuffle_read_bytes", "persists")}
    a = [{"name": "q1", **base}, {"name": "q1", **base}, {"name": "q2", **base}]
    b = [{"name": "q1", **base}, {"name": "q1", **base, "tasks": 3}, {"name": "q2", **base}]
    assert nondeterministic_ops(a, a) == []
    assert nondeterministic_ops(a, b) == ["q1#1: tasks 1 vs 3"]


# -- generator determinism -----------------------------------------------------


def _digest(d: pathlib.Path) -> dict[str, str]:
    return {p.name: hashlib.sha256(p.read_bytes()).hexdigest() for p in sorted(d.iterdir())}


def test_tables_repeat_for_a_seed(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    rows = datagen.write_tables(str(a), 5, 0.001)
    datagen.write_tables(str(b), 5, 0.001)
    datagen.write_tables(str(c), 6, 0.001)
    assert rows["lineitem"] == 6000 and rows["documents"] == 500
    assert _digest(a) == _digest(b)
    assert _digest(a)["lineitem.parquet"] != _digest(c)["lineitem.parquet"]
    # the near-duplicate structure the dedup queries work on is the same
    # for every seed: 25 of 500 documents, each a copy of an original
    for d in (a, c):
        texts = pq.read_table(d / "documents.parquet").column("text").to_pylist()
        dups = [i for i, t in enumerate(texts) if "dup" in t.split()]
        assert dups == list(range(19, 500, 20))
        for i in dups:
            words = texts[i].split()
            words.remove("dup")
            assert " ".join(words) in texts[:i]


def test_segments_repeat_and_keep_event_time_order():
    ev = datagen.events_table(9, 3000, span_s=3600)
    s1 = datagen.kafka_segments(ev, 9, 500, 0.1)
    s2 = datagen.kafka_segments(ev, 9, 500, 0.1)
    assert [t.equals(u) for t, u in zip(s1, s2)] == [True] * len(s1)
    payloads = [json.loads(v) for seg in s1 for v in seg.column("value").to_pylist()]
    ids = [p["event_id"] for p in payloads]
    assert sorted(set(ids)) == list(range(3000))
    assert 200 < len(ids) - 3000 < 400  # ~10% redelivered
    # originals arrive in event_id (= event-time) order
    first_seen = list(dict.fromkeys(ids))
    assert first_seen == sorted(first_seen)
    # a segment never holds an original older than the previous segment's
    seen: set[int] = set()
    prev_max = ""
    for seg in s1:
        originals = []
        for v in seg.column("value").to_pylist():
            p = json.loads(v)
            if p["event_id"] not in seen:
                seen.add(p["event_id"])
                originals.append(p["ts"])
        assert min(originals) >= prev_max
        prev_max = max(originals)
    # offsets are contiguous per partition
    per_part: dict[int, list[int]] = {}
    for seg in s1:
        for part, off in zip(seg.column("partition").to_pylist(), seg.column("offset").to_pylist()):
            per_part.setdefault(part, []).append(off)
    assert all(v == list(range(len(v))) for v in per_part.values())
