"""Spark's own metrics for one job group, read from the driver's status REST API.

Each timed layer call runs under its own job group. Afterwards the stages of the
group's jobs give executor CPU, GC, spill, shuffle bytes and record counts, and
the SQL executions that ran those jobs give the Python-boundary metrics of
their ``MapInArrow`` / ``MapInPandas`` nodes (``pythonTotalTime``,
``pythonBootTime``, ``pythonDataSent``, ``pythonDataReceived``).
"""

from __future__ import annotations

import json
import re
import time
import urllib.request

MIB = float(1 << 20)

_PYTHON_NODES = ("MapInArrow", "MapInPandas")
#: display name of each Python SQL metric in the status store → our key
_PYTHON_METRICS = {
    "time to run Python workers": "python_total_s",
    "time to start Python workers": "python_boot_s",
    "data sent to Python workers": "python_sent_mb",
    "data returned from Python workers": "python_received_mb",
}
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1 / MIB, "KiB": 1 / 1024, "MiB": 1.0, "GiB": 1024.0, "TiB": 1024.0**2,
}
_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)")


def metric_value(text: str) -> float:
    """A status-store metric string → seconds or MiB. Aggregated metrics read
    ``total (min, med, max ...)\\n<total> (...)``; the total is taken."""
    line = text.split("\n", 1)[-1]
    m = _VALUE.match(line.strip())
    if not m or m.group(2) not in _UNITS:
        raise ValueError(f"unparsed metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


class SparkStats:
    def __init__(self, spark):
        sc = spark.sparkContext
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.loads(r.read())

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group, False)

    def _settled(self, group: str, timeout: float):
        """The group's jobs, their stages and SQL executions, once the status
        listener (which runs behind the actions) has recorded them finished."""
        deadline = time.monotonic() + timeout
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == group]
            ids = {j["jobId"] for j in jobs}
            stage_ids = {s for j in jobs for s in j["stageIds"]}
            stages = [s for s in self._get("/stages") if s["stageId"] in stage_ids]
            sql = [
                e for e in self._get("/sql?details=true&planDescription=false&length=100000")
                if ids & set(e["successJobIds"] + e["failedJobIds"] + e["runningJobIds"])
            ]
            done = (
                all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs)
                and all(s["status"] in ("COMPLETE", "SKIPPED", "FAILED") for s in stages)
                and all(e["status"] != "RUNNING" for e in sql)
            )
            if done or time.monotonic() > deadline:
                return jobs, stages, sql
            time.sleep(0.1)

    def group(self, group: str, timeout: float = 15.0) -> dict[str, float]:
        jobs, stages, sql = self._settled(group, timeout)
        ran = [s for s in stages if s["status"] != "SKIPPED"]

        def total(key: str) -> float:
            return float(sum(s.get(key, 0) for s in ran))

        out = {
            "failed_jobs": float(sum(j["status"] != "SUCCEEDED" for j in jobs)),
            "cpu_s": total("executorCpuTime") / 1e9,
            "gc_s": total("jvmGcTime") / 1e3,
            "spill_mb": total("diskBytesSpilled") / MIB,
            "records_in": total("inputRecords") + total("shuffleReadRecords"),
            "records_out": total("outputRecords") + total("shuffleWriteRecords"),
            "shuffle_write_mb": total("shuffleWriteBytes") / MIB,
        }
        out.update({k: 0.0 for k in _PYTHON_METRICS.values()})
        for e in sql:
            for node in e["nodes"]:
                if node["nodeName"] in _PYTHON_NODES:
                    for m in node.get("metrics", ()):
                        key = _PYTHON_METRICS.get(m["name"])
                        if key:
                            out[key] += metric_value(m["value"])
        return out

    def cached_mb(self) -> float:
        """Memory plus disk held by persisted RDDs right now."""
        return sum(r["memoryUsed"] + r["diskUsed"] for r in self._get("/storage/rdd")) / MIB
