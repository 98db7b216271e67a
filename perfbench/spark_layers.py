"""Per-layer counters read from a live SparkSession through public or
py4j-reachable APIs, with the UI off.

Jobs are tagged with a job group per (op, phase); after the op the
group's job ids come from the status tracker, each job's stage ids and
each stage's task metrics from the ``AppStatusStore``
(``sc._jsc.sc().statusStore()``), and ``measure.attribute_stages``
sums them per phase.
"""

from __future__ import annotations

from perfbench.measure import attribute_stages


class StageReader:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()

    def tag(self, group: str) -> None:
        """Jobs the calling thread submits from now on carry ``group``."""
        self.sc.setJobGroup(group, group)

    def untag(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def _drain(self) -> None:
        """The status store is fed asynchronously by the listener bus;
        wait until it has seen every event already posted."""
        self._bus.waitUntilEmpty()

    def _stage(self, sid: int) -> dict[str, float] | None:
        try:
            sd = self._store.lastStageAttempt(sid)
        except Exception:  # py4j error: stage was never submitted (skipped)
            return None
        if sd.status().toString() != "COMPLETE":
            return None
        return {
            "tasks": sd.numTasks(),
            "run_s": sd.executorRunTime() / 1e3,
            "cpu_s": sd.executorCpuTime() / 1e9,
            "gc_s": sd.jvmGcTime() / 1e3,
            "input_bytes": sd.inputBytes(),
            "shuffle_read_bytes": sd.shuffleReadBytes(),
            "shuffle_write_bytes": sd.shuffleWriteBytes(),
            "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
        }

    def job_ids(self, group: str) -> set[int]:
        self._drain()
        return set(self.sc.statusTracker().getJobIdsForGroup(group))

    def phases(self, groups: dict[str, str]) -> dict[str, dict[str, float]]:
        """``groups`` maps phase name -> job group; returns per-phase
        sums of jobs, stages and stage metrics."""
        return self.jobs_phases({ph: sorted(self.job_ids(g)) for ph, g in groups.items()})

    def jobs_phases(self, jobs_by_phase: dict[str, list[int]]) -> dict[str, dict[str, float]]:
        self._drain()
        tracker = self.sc.statusTracker()
        stages_by_job: dict[int, list[int]] = {}
        metrics: dict[int, dict[str, float]] = {}
        for jobs in jobs_by_phase.values():
            for j in jobs:
                info = tracker.getJobInfo(j)
                sids = sorted(info.stageIds) if info else []
                stages_by_job[j] = sids
                for sid in sids:
                    if sid not in metrics:
                        m = self._stage(sid)
                        if m is not None:
                            metrics[sid] = m
        return attribute_stages(jobs_by_phase, stages_by_job, metrics)
