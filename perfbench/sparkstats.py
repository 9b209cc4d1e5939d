"""Spark job and stage counters, read without the Spark UI.

Jobs are attributed to a phase by job id: the DAG scheduler hands out
ids in submission order, so the jobs of a phase are the ids handed out
between its start and its end, whichever thread submitted them. Job
groups are not used, because jobs submitted from a thread pool do not
inherit the caller's group. Counters come from the application status
store (``lastStageAttempt``), which is kept with ``spark.ui.enabled``
false.
"""

from __future__ import annotations

from dataclasses import dataclass, field

STAGE_FIELDS = (
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
)


@dataclass
class PhaseStats:
    """Counters of the jobs one phase ran."""

    jobs: int = 0
    # [submission, completion] of each job, epoch seconds
    intervals: list[tuple[float, float]] = field(default_factory=list)
    counters: dict[str, float] = field(
        default_factory=lambda: dict.fromkeys(STAGE_FIELDS, 0.0)
    )


class JobReader:
    """Reads the jobs and stages of one SparkContext."""

    def __init__(self, sc):
        jsc = sc._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._jsc = sc._jsc
        # a stage listed by several jobs ran in the first of them
        self._seen_stages: set[int] = set()

    def drain(self) -> None:
        """Wait until the status store has seen every event posted so
        far; it is fed asynchronously."""
        self._bus.waitUntilEmpty(60_000)

    def next_job_id(self) -> int:
        """Id the next submitted job will get."""
        return int(self._dag.numTotalJobs())

    def persisted_rdds(self) -> int:
        return int(self._jsc.getPersistentRDDs().size())

    def phase(self, first: int, end: int, t0: float, t1: float) -> PhaseStats:
        """Counters of jobs ``first .. end-1``; job intervals are clipped
        to the phase window ``[t0, t1]``."""
        out = PhaseStats()
        for jid in range(first, end):
            job = self._store.job(jid)
            out.jobs += 1
            sub, comp = job.submissionTime(), job.completionTime()
            s = sub.get().getTime() / 1000 if sub.isDefined() else t0
            c = comp.get().getTime() / 1000 if comp.isDefined() else t1
            out.intervals.append((max(s, t0), min(c, t1)))
            sids = job.stageIds()
            for i in range(sids.size()):
                sid = int(sids.apply(i))
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                self._add_stage(out.counters, sid)
        return out

    def _add_stage(self, acc: dict[str, float], sid: int) -> None:
        st = self._store.lastStageAttempt(sid)
        if st.status().toString() == "SKIPPED":
            return
        acc["stages"] += 1
        acc["tasks"] += st.numCompleteTasks()
        acc["executor_run_s"] += st.executorRunTime() / 1e3
        acc["executor_cpu_s"] += st.executorCpuTime() / 1e9
        acc["gc_s"] += st.jvmGcTime() / 1e3
        acc["shuffle_read_bytes"] += st.shuffleReadBytes()
        acc["shuffle_write_bytes"] += st.shuffleWriteBytes()
        acc["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        acc["input_bytes"] += st.inputBytes()

    def jobs_submitted_between(self, t0: float, t1: float) -> set[int]:
        """Ids of the jobs whose submission time lies in ``[t0, t1]``,
        found by time alone, as a check on the id attribution."""
        out: set[int] = set()
        jobs = self._store.jobsList(None)  # newest first
        for i in range(jobs.size()):
            job = jobs.apply(i)
            sub = job.submissionTime()
            if not sub.isDefined():
                continue
            ts = sub.get().getTime() / 1000
            if ts < t0:
                break
            if ts <= t1:
                out.add(int(job.jobId()))
        return out


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total
