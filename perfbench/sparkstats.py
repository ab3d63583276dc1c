"""Spark's own job and stage metrics, and process memory.

Every query's build and sink run under their own job group. After the
query finishes, and outside its timed interval, ``StageReader.read``
drains the listener bus and sums the metrics of that group's stages from
the application status store. Reading per query keeps every stage
inside ``spark.ui.retainedStages`` (default 1000; PageRank alone
launches dozens), which evicts skipped stages first and then the oldest
completed ones. The store is a private JVM API reached through py4j:
if it is missing the reader raises instead of reporting zeros.
"""

from __future__ import annotations

from dataclasses import dataclass, fields

MB = 1024 * 1024


@dataclass
class StageTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0

    def add(self, other: "StageTotals") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


class StageReader:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._tracker = sc.statusTracker()
        jsc = sc._jsc.sc()
        try:
            self._store = jsc.statusStore()
            self._bus = jsc.listenerBus()
        except Exception as exc:  # py4j raises its own error types
            raise RuntimeError(f"Spark status store is not reachable: {exc}") from exc

    def drain(self) -> None:
        """Wait until the status store has seen every finished job."""
        self._bus.waitUntilEmpty(30_000)

    def read(self, group: str) -> StageTotals:
        from py4j.protocol import Py4JJavaError

        job_ids = self._tracker.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        expected = 0
        for job_id in job_ids:
            info = self._tracker.getJobInfo(job_id)
            if info is None:
                raise RuntimeError(f"job {job_id} of {group} left the status store")
            stage_ids.update(info.stageIds)
            expected += self._store.job(job_id).numCompletedStages()
        t = StageTotals(jobs=len(job_ids))
        for stage_id in sorted(stage_ids):
            try:
                s = self._store.lastStageAttempt(stage_id)
            except Py4JJavaError:
                # The store evicts skipped stages first; the count check
                # below catches a completed stage that went missing.
                continue
            # A stage whose shuffle output already existed is SKIPPED: it
            # ran no tasks and carries no metrics.
            if s.status().toString() != "COMPLETE":
                continue
            t.stages += 1
            t.tasks += s.numCompleteTasks()
            t.executor_run_s += s.executorRunTime() / 1e3
            t.cpu_s += s.executorCpuTime() / 1e9
            t.gc_s += s.jvmGcTime() / 1e3
            t.input_mb += s.inputBytes() / MB
            t.shuffle_read_mb += s.shuffleReadBytes() / MB
            t.shuffle_write_mb += s.shuffleWriteBytes() / MB
            t.spill_mb += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB
        if t.stages != expected:
            raise RuntimeError(
                f"{group}: {expected} completed stages but {t.stages} in the store"
            )
        return t


def peak_rss_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of process ``pid``."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")
