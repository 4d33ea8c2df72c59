"""Spark's own counters, read from outside the library.

Jobs carry the job group the benchmark sets around each phase; a job's
stages give executor, GC, memory, scan and shuffle totals. SQL plan
metrics (the Python-UDF boundary) are attributed through the SQL
execution's description, which Spark copies from the job group's
description. All of it comes from the status stores that exist with the
UI disabled; each harvest reads only what is newer than the last one.
"""

from __future__ import annotations

import re

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_SEP = "\u0001"
_VALUE = re.compile(r"^\s*([-0-9.,]+)\s*([A-Za-z]*)")

#: SQL metric display name -> (per-layer metric, divisor to its unit)
SQL_METRICS = {
    "time to run Python workers": ("python.run_s", 1.0),
    "time to start Python workers": ("python.start_s", 1.0),
    "data sent to Python workers": ("arrow.to_python_mb", 2.0**20),
    "data returned from Python workers": ("arrow.from_python_mb", 2.0**20),
    # stage inputBytes undercounts vectorized parquet reads of local files,
    # so scan bytes and time come from the scan node itself
    "size of files read": ("scan.input_mb", 2.0**20),
    "scan time": ("scan.time_s", 1.0),
}

#: status-store stage field -> (per-layer metric, divisor to its unit)
STAGE_METRICS = {
    "executorRunTime": ("exec.run_s", 1e3),  # ms
    "executorCpuTime": ("exec.cpu_s", 1e9),  # ns
    "jvmGcTime": ("exec.gc_s", 1e3),  # ms
    "memoryBytesSpilled": ("exec.spill_mb", 2.0**20),
    "inputRecords": ("scan.rows", 1.0),
    "shuffleWriteBytes": ("shuffle.write_mb", 2.0**20),
    "shuffleWriteTime": ("shuffle.write_s", 1e9),  # ns
    "shuffleFetchWaitTime": ("shuffle.fetch_wait_s", 1e3),  # ms
}


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric: the total line of
    ``"total (min, med, max ...)\\n4.1 s (985 ms, ...)"`` or a bare
    ``"1,234"`` / ``"3.1 MiB"``, in seconds or bytes."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if m is None:
        raise ValueError(f"unparsed metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SparkCounters:
    """Incremental reader of the app and SQL status stores."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._app = self._sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._last_job = -1
        self._sql_seen = 0

    def harvest(self, prefix: str) -> dict:
        """Totals of the jobs and SQL executions, finished since the last
        harvest, whose job group starts with ``prefix``; also
        ``"<group>.jobs"`` for each group seen."""
        out = {"driver.jobs": 0, "driver.stages": 0, "driver.tasks": 0, "exec.peak_mem_mb": 0.0}
        for name, _ in list(SQL_METRICS.values()) + list(STAGE_METRICS.values()):
            out[name] = 0.0
        stage_ids = set()
        jobs = self._app.jobsList(None)  # newest first
        newest = self._last_job
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            if jid <= self._last_job:
                break
            newest = max(newest, jid)
            group = job.jobGroup()
            if not group.isDefined() or not group.get().startswith(prefix):
                continue
            out["driver.jobs"] += 1
            key = f"{group.get()}.jobs"
            out[key] = out.get(key, 0) + 1
            ids = job.stageIds()
            stage_ids.update(ids.apply(k) for k in range(ids.size()))
        self._last_job = newest

        if stage_ids:
            stages = self._app.stageList(None, False, False, self._sc._gateway.new_array(
                self._sc._jvm.double, 0), None)  # newest first
            for i in range(stages.size()):
                st = stages.apply(i)
                sid = st.stageId()
                if sid < min(stage_ids):
                    break
                if sid not in stage_ids or st.status().toString() == "SKIPPED":
                    continue
                out["driver.stages"] += 1
                out["driver.tasks"] += st.numCompleteTasks()
                for field, (name, div) in STAGE_METRICS.items():
                    out[name] += getattr(st, field)() / div
                out["exec.peak_mem_mb"] = max(
                    out["exec.peak_mem_mb"], st.peakExecutionMemory() / 2.0**20
                )

        total = self._sql.executionsCount()
        if total > self._sql_seen:
            execs = self._sql.executionsList(int(self._sql_seen), int(total - self._sql_seen))
            for i in range(execs.size()):
                ex = execs.apply(i)
                desc = ex.description()
                if desc is None or not desc.startswith(prefix):
                    continue
                # two gateway calls per execution, not three per metric
                values = dict(
                    kv.split(" -> ", 1)
                    for kv in self._sql.executionMetrics(ex.executionId()).mkString(_SEP).split(_SEP)
                    if kv
                )
                names = {}
                for m in ex.metrics().mkString(_SEP).split(_SEP):
                    # SQLPlanMetric(<name>,<accumulatorId>,<metricType>)
                    name, acc, _ = m[len("SQLPlanMetric("):-1].rsplit(",", 2)
                    names[acc] = name
                for acc, name in names.items():
                    spec = SQL_METRICS.get(name)
                    if spec is not None and acc in values:
                        out[spec[0]] += parse_metric(values[acc]) / spec[1]
            self._sql_seen = total
        return out
