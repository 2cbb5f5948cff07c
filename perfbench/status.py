"""Per-layer counters read from Spark's own status stores.

Everything comes from the stores Spark keeps whether or not the UI runs:
``AppStatusStore`` (jobs, stages, cached RDDs), ``SQLAppStatusStore``
(per-node SQL metrics, which is where the Python worker boundary reports)
and the JVM's ``CompilationMXBean``. Store objects are serialized to JSON
inside the JVM with the same Jackson Scala module the REST API uses, so one
py4j call returns a whole list instead of one call per field.

Work is attributed through job groups: the benchmark runs every call into
the engine under its own group, and a group's counters are the sums over
the jobs in it and the stages those jobs ran.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

# Spark plan nodes that cross into Python workers (mapInPandas,
# applyInPandas, pandas/Arrow UDFs and their batch twins).
_PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "task_cpu_s",
    "task_run_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "input_bytes",
    "input_records",
    "py_bytes_sent",
    "py_bytes_returned",
    "py_rows",
)


def parse_sql_metric(text: str, metric_type: str) -> float:
    """Value of one SQL metric as ``SQLAppStatusStore`` formats it. Sums
    arrive as grouped integers (``1,999``); sizes as the total in binary
    units, to one decimal (``780.0 KiB``), optionally after a
    ``total (min, med, max ...)`` header line."""
    if text is None:
        return 0.0
    line = text.strip().splitlines()[-1]
    if metric_type == "size":
        m = re.match(r"([\d.,]+)\s*([KMGT]?i?B)", line)
        if not m:
            raise ValueError(f"unparsed size metric {text!r}")
        return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)]
    m = re.match(r"(-?[\d,]+)", line)
    if not m:
        raise ValueError(f"unparsed sum metric {text!r}")
    return float(m.group(1).replace(",", ""))


@dataclass
class Job:
    job_id: int
    start: float
    end: float
    stages: list = field(default_factory=list)  # (stage_id, start, end)


@dataclass
class Snapshot:
    """What the stores hold for the benchmark's job groups, read once after
    a timed window ends."""

    jobs: dict  # group -> [Job]
    counters: dict  # group -> {counter: value}

    def group_counters(self, groups) -> dict:
        out = dict.fromkeys(COUNTERS, 0.0)
        for g in groups:
            for k, v in self.counters.get(g, {}).items():
                out[k] += v
        return out

    def intervals(self, groups) -> list:
        return [(j.start, j.end) for g in groups for j in self.jobs.get(g, [])]


class StatusStores:
    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._sc = sc
        self._app = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala, "MODULE$"))
        self._jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def jit_ms(self) -> int:
        """Cumulative JIT compile time of the driver JVM (which also runs
        the executors under ``local[n]``)."""
        return int(self._jit.getTotalCompilationTime())

    def retained_bytes(self) -> int:
        """Persisted memory plus disk that cached RDDs hold right now."""
        rdds = self._json(self._app.rddList(True))
        return sum(r["memoryUsed"] + r["diskUsed"] for r in rdds)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        stores hold the final numbers of every finished job."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)

    def snapshot(self, prefix: str) -> Snapshot:
        """Jobs and counters of every job group whose name starts with
        ``prefix``."""
        jobs_json = self._json(self._app.jobsList(None))
        stages_json = self._json(
            self._app.stageList(None, False, False, self._no_quantiles, None)
        )
        by_stage: dict = {}
        for s in stages_json:
            by_stage.setdefault(s["stageId"], []).append(s)

        jobs: dict = {}
        counters: dict = {}
        job_group: dict = {}
        owner: set = set()
        for j in sorted(jobs_json, key=lambda j: j["jobId"]):
            group = j.get("jobGroup") or ""
            if not group.startswith(prefix) or j.get("submissionTime") is None:
                continue
            job_group[j["jobId"]] = group
            c = counters.setdefault(group, dict.fromkeys(COUNTERS, 0.0))
            c["jobs"] += 1
            job = Job(
                j["jobId"],
                j["submissionTime"] / 1000.0,
                (j.get("completionTime") or j["submissionTime"]) / 1000.0,
            )
            for sid in j["stageIds"]:
                # a stage reused by a later job is charged to the first one
                if sid in owner:
                    continue
                for s in by_stage.get(sid, []):
                    if not s["numCompleteTasks"]:
                        continue
                    owner.add(sid)
                    _add_stage(c, s)
                    if s.get("submissionTime") and s.get("completionTime"):
                        job.stages.append(
                            (sid, s["submissionTime"] / 1000.0, s["completionTime"] / 1000.0)
                        )
            jobs.setdefault(group, []).append(job)

        for ex in self._json(self._sql.executionsList()):
            names = {m["name"] for m in ex.get("metrics") or []}
            if "data sent to Python workers" not in names:
                continue
            groups = {job_group.get(int(k)) for k in (ex.get("jobs") or {})} - {None}
            if len(groups) != 1:
                continue
            c = counters[groups.pop()]
            values = ex.get("metricValues") or {}
            graph = self._json(self._sql.planGraph(ex["executionId"]).allNodes())
            for node in graph:
                if not _PYTHON_NODE.search(node["name"]):
                    continue
                for m in node["metrics"]:
                    text = values.get(str(m["accumulatorId"]))
                    key = {
                        "data sent to Python workers": "py_bytes_sent",
                        "data returned from Python workers": "py_bytes_returned",
                        "number of output rows": "py_rows",
                    }.get(m["name"])
                    if key and text is not None:
                        c[key] += parse_sql_metric(text, m["metricType"])
        return Snapshot(jobs, counters)


def _add_stage(c: dict, s: dict) -> None:
    c["stages"] += 1
    c["tasks"] += s["numCompleteTasks"]
    c["task_cpu_s"] += s["executorCpuTime"] / 1e9
    c["task_run_s"] += s["executorRunTime"] / 1e3
    c["gc_s"] += s["jvmGcTime"] / 1e3
    c["shuffle_write_bytes"] += s["shuffleWriteBytes"]
    c["shuffle_read_bytes"] += s["shuffleReadBytes"]
    c["spill_bytes"] += s["diskBytesSpilled"]
    c["input_bytes"] += s["inputBytes"]
    c["input_records"] += s["inputRecords"]
