"""UI-free Spark metrics: jobs from the status store's job list, stage
counters from ``statusStore().stageList``. Works with ``spark.ui.enabled``
false; the session must retain enough jobs and stages for the run
(``spark.ui.retainedJobs`` / ``retainedStages``, see box.build_session).
"""

from __future__ import annotations

from dataclasses import dataclass

STAGE_FIELDS = (
    "tasks", "executor_run_ms", "input_bytes", "input_records",
    "shuffle_bytes", "spill_bytes",
)


@dataclass(frozen=True)
class Job:
    job_id: int
    group: str | None
    submitted_ms: int
    stage_ids: tuple[int, ...]


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class SparkStats:
    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()

    def drain(self) -> None:
        """Wait until every posted event reached the status store."""
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self) -> list[Job]:
        out = []
        for j in _scala_iter(self._jsc.statusStore().jobsList(None)):
            grp = j.jobGroup()
            sub = j.submissionTime()
            out.append(Job(
                job_id=j.jobId(),
                group=grp.get() if grp.isDefined() else None,
                submitted_ms=sub.get().getTime() if sub.isDefined() else 0,
                stage_ids=tuple(_scala_iter(j.stageIds())),
            ))
        return out

    def stages(self) -> dict[int, dict]:
        """stage id -> counters summed over attempts; skipped stages (their
        output was reused) are left out."""
        jvm = self._sc._jvm
        lst = self._jsc.statusStore().stageList(
            jvm.java.util.ArrayList(), False, False,
            self._sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        out: dict[int, dict] = {}
        for s in _scala_iter(lst):
            if s.status().toString() == "SKIPPED":
                continue
            acc = out.setdefault(s.stageId(), dict.fromkeys(STAGE_FIELDS, 0))
            acc["tasks"] += s.numCompleteTasks()
            acc["executor_run_ms"] += s.executorRunTime()
            acc["input_bytes"] += s.inputBytes()
            acc["input_records"] += s.inputRecords()
            acc["shuffle_bytes"] += s.shuffleReadBytes() + s.shuffleWriteBytes()
            acc["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return out


def summarize(jobs: list[Job], stages: dict[int, dict]) -> dict:
    """Totals over a set of jobs: job and stage counts plus the summed
    stage counters (a stage shared by two jobs counts once)."""
    stage_ids = {sid for j in jobs for sid in j.stage_ids if sid in stages}
    out = {"jobs": len(jobs), "stages": len(stage_ids)}
    for f in STAGE_FIELDS:
        out[f] = sum(stages[sid][f] for sid in stage_ids)
    return out
