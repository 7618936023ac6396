"""Per-operation reader for Spark's in-process status stores.

An operation runs its Spark jobs under its own job tag
(:meth:`StatusStore.tagged`); :meth:`StatusStore.read` then returns what
Spark recorded for exactly those jobs: job intervals, stage and task
counts, executor run and CPU time, shuffle and spill bytes, and the SQL
metrics of the executions the jobs belong to (Python worker time and
bytes, files read and written). Everything comes from the status stores
the listener bus fills, which exist with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import re
from contextlib import contextmanager

_MB = 1 << 20
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")

# SQL metric name → (result key, converter from the metric's display form)
SQL_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_start_s",
    "data sent to Python workers": "python_sent_bytes",
    "number of files read": "files_read",
    "number of written files": "files_written",
    "written output": "bytes_written",
}


def parse_metric(text: str) -> float:
    """Total of one SQL metric as the SQL status store renders it.

    Multi-task metrics render as ``total (min, med, max ...)\\n<total> (...)``;
    single values as ``<value> <unit>``. Sizes come back in bytes, times
    in seconds, counts as numbers."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.search(line)
    if m is None:
        raise ValueError(f"unparsable SQL metric value {text!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME_S:
        return num * _TIME_S[unit]
    return num


def _seq(scala_seq) -> list[str]:
    text = scala_seq.mkString("\x1f")
    return text.split("\x1f") if text else []


class StatusStore:
    """Reads the jobs, stages and SQL executions of one job tag."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._jobs = jsc.statusStore()
        self._tracker = jsc.statusTracker()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    @contextmanager
    def tagged(self, tag: str):
        """Run the block's Spark jobs, on this thread, under ``tag``."""
        self.sc.addJobTag(tag)
        try:
            yield
        finally:
            self.sc.removeJobTag(tag)

    def sql_cursor(self) -> int:
        """Position to pass as ``sql_from`` for executions started after now."""
        return int(self._sql.executionsCount())

    def read(self, tag: str, sql_from: int = 0) -> dict:
        """Everything the status stores hold for the jobs tagged ``tag``.

        ``sql_from`` bounds the scan of SQL executions to those started
        after a :meth:`sql_cursor` taken before the operation."""
        self._bus.waitUntilEmpty()
        job_ids = sorted(int(j) for j in self._tracker.getJobIdsForTag(tag))
        out = {
            "jobs": [],
            "stages": 0,
            "tasks": 0,
            "exec_run_s": 0.0,
            "exec_cpu_s": 0.0,
            "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
            **{key: 0.0 for key in SQL_METRICS.values()},
        }
        stage_ids: set[int] = set()
        for jid in job_ids:
            job = self._jobs.job(jid)
            start = job.submissionTime()
            end = job.completionTime()
            out["jobs"].append({
                "id": jid,
                "start": start.get().getTime() / 1000.0 if start.isDefined() else None,
                "end": end.get().getTime() / 1000.0 if end.isDefined() else None,
                "status": str(job.status().toString()),
            })
            stage_ids.update(int(s) for s in _seq(job.stageIds()))
        for sid in sorted(stage_ids):
            stage = self._jobs.lastStageAttempt(sid)
            if str(stage.status().toString()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += int(stage.numCompleteTasks()) + int(stage.numFailedTasks())
            out["exec_run_s"] += stage.executorRunTime() / 1e3
            out["exec_cpu_s"] += stage.executorCpuTime() / 1e9
            out["shuffle_read_bytes"] += int(stage.shuffleReadBytes())
            out["shuffle_write_bytes"] += int(stage.shuffleWriteBytes())
            out["spill_bytes"] += int(stage.memoryBytesSpilled()) + int(stage.diskBytesSpilled())
        if job_ids:
            self._add_sql_metrics(out, set(job_ids), sql_from)
        return out

    def _add_sql_metrics(self, out: dict, job_ids: set[int], sql_from: int) -> None:
        total = int(self._sql.executionsCount())
        if total <= sql_from:
            return
        execs = self._sql.executionsList(sql_from, total - sql_from)
        for i in range(execs.size()):
            ex = execs.apply(i)
            ex_jobs = {int(j) for j in _seq(ex.jobs().keys())}
            if not ex_jobs & job_ids:
                continue
            values = self._sql.executionMetrics(ex.executionId())
            metrics = ex.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                key = SQL_METRICS.get(m.name())
                if key is None:
                    continue
                shown = values.get(m.accumulatorId())
                if shown.isDefined():
                    out[key] += parse_metric(shown.get())

    @staticmethod
    def mb(nbytes: float) -> float:
        return nbytes / _MB
