"""Spark engine counters, read from outside the program.

Jobs are tagged with a job group (the tracer sets one per span); this
collector reads the JVM's application status store — populated by the
status listener whether or not the web UI is enabled — and sums, per
job group, the counters of every stage of every job in it.

The store keeps only the newest `spark.ui.retainedJobs` jobs, so
`harvest()` is called after each op and remembers the jobs it has
already counted.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError

# StageData getter -> counter name
_STAGE_FIELDS = (
    ("numTasks", "tasks"),
    ("executorRunTime", "executor_run_ms"),
    ("jvmGcTime", "gc_ms"),
    ("inputBytes", "input_bytes"),
    ("shuffleReadBytes", "shuffle_read_bytes"),
    ("shuffleWriteBytes", "shuffle_write_bytes"),
    ("memoryBytesSpilled", "spill_bytes"),
    ("diskBytesSpilled", "spill_bytes"),
)
COUNTERS = ("jobs", *dict.fromkeys(name for _, name in _STAGE_FIELDS))


class Collector:
    def __init__(self, sc):
        self._store = sc._jsc.sc().statusStore()
        self._seen_jobs: set[int] = set()
        self._seen_stages: set[int] = set()
        self.by_group: dict[str | None, dict[str, int]] = {}

    def _add(self, group: str | None, key: str, n: int) -> None:
        d = self.by_group.setdefault(group, dict.fromkeys(COUNTERS, 0))
        d[key] += n

    def harvest(self) -> None:
        """Count every finished job not counted yet."""
        jobs = self._store.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            status = job.status().toString()
            if jid in self._seen_jobs or status == "RUNNING":
                continue
            self._seen_jobs.add(jid)
            g = job.jobGroup()
            group = g.get() if g.isDefined() else None
            self._add(group, "jobs", 1)
            stages = job.stageIds()
            for k in range(stages.size()):
                sid = stages.apply(k)
                if sid in self._seen_stages:
                    continue  # a stage reused by a later job counts once
                self._seen_stages.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue  # skipped stage: never ran, nothing to count
                for getter, key in _STAGE_FIELDS:
                    self._add(group, key, int(getattr(st, getter)()))

    def total(self, groups=None) -> dict[str, int]:
        """Counters summed over `groups` (every group when None)."""
        out = dict.fromkeys(COUNTERS, 0)
        for g, d in self.by_group.items():
            if groups is None or g in groups:
                for k, v in d.items():
                    out[k] += v
        return out
