"""Spark's own job, stage and SQL metrics, read from the driver's live
status store (the data behind the web UI, kept with the UI disabled).

Jobs are found by job group: the tracer gives every span its own group,
and Structured Streaming runs each micro-batch under the query's run id with
a ``batch = N`` job description.
"""

from __future__ import annotations

import re


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _opt(option):
    return option.get() if option.isDefined() else None


class StatusStore:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def job_description(self, job_id: int) -> str | None:
        return _opt(self._store.job(job_id).description())

    def stage_totals(self, job_ids) -> dict[str, float]:
        """Tasks, executor CPU, shuffle write and spill over the stages the
        jobs ran (stages a job skipped because their output existed are
        not counted: they did no work)."""
        totals = dict(tasks=0, executor_cpu_s=0.0, shuffle_write_mb=0.0, spill_mb=0.0)
        seen = set()
        for job in job_ids:
            for stage in _iter(self._store.job(job).stageIds()):
                if stage in seen:
                    continue
                seen.add(stage)
                for attempt in _iter(
                    self._store.stageData(stage, False, None, False, None)
                ):
                    if str(attempt.status()) == "SKIPPED":
                        continue
                    totals["tasks"] += attempt.numCompleteTasks()
                    totals["executor_cpu_s"] += attempt.executorCpuTime() / 1e9
                    totals["shuffle_write_mb"] += attempt.shuffleWriteBytes() / 2**20
                    totals["spill_mb"] += attempt.diskBytesSpilled() / 2**20
        return totals

    def last_execution_id(self) -> int:
        return max((e.executionId() for e in _iter(self._sql.executionsList())), default=-1)

    def python_udf_s_by_execution(self, after: int) -> list[tuple[set[int], float]]:
        """(job ids, summed "time to run Python workers" of its Arrow/pandas
        UDF plan nodes) for every SQL execution with an id above ``after``
        that ran a Python UDF."""
        out = []
        for execution in _iter(self._sql.executionsList()):
            eid = execution.executionId()
            if eid <= after:
                continue
            values = self._sql.executionMetrics(eid)
            seconds = 0.0
            for node in _iter(self._sql.planGraph(eid).allNodes()):
                if not _PYTHON_NODE.search(node.name()):
                    continue
                for metric in _iter(node.metrics()):
                    if metric.name() == "time to run Python workers":
                        seconds += parse_duration_s(_opt(values.get(metric.accumulatorId())))
            if seconds:
                out.append(({int(j) for j in _iter(execution.jobs().keys())}, seconds))
        return out


_PYTHON_NODE = re.compile("Python|Pandas|Arrow")
_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_duration_s(text: str | None) -> float:
    """Spark's formatted timing metric: either "12 ms" or a
    "total (min, med, max ...)" header line followed by "1.2 s (...)"."""
    if not text:
        return 0.0
    m = re.match(r"\s*([\d.,]+)\s*(ms|s|m|h)\b", text.strip().splitlines()[-1])
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0
