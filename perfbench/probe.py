"""Measurement from outside the program: spans, /proc, and Spark's public
counters (``StreamingQueryProgress`` and the status stores).

Nothing here edits or wraps package code.  Spans go around the benchmark's
own calls into each layer; counters are read at the same boundaries.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
from collections import defaultdict


class Spans:
    """Spans kept in memory and written out when the run ends."""

    def __init__(self) -> None:
        self.rows: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: str | None, unit: int) -> None:
        self.rows.append(
            {"name": name, "start": start, "end": end, "parent": parent, "unit": unit}
        )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for row in self.rows:
                f.write(json.dumps(row) + "\n")


# --- host: CPU and memory of the JVM and its Python workers ----------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> tuple[int, str, int] | None:
    """(ppid, comm, utime+stime+cutime+cstime in ticks) of a process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    return int(fields[1]), comm, sum(int(x) for x in fields[11:15])


def descendants() -> dict[int, tuple[str, int]]:
    """Live processes below this one: pid -> (comm, CPU ticks).  Children
    that already exited are counted in their waiting parent's cutime."""
    table = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                table[int(pid)] = st
    kids = defaultdict(list)
    for pid, (ppid, _c, _t) in table.items():
        kids[ppid].append(pid)
    out, todo = {}, list(kids[os.getpid()])
    while todo:
        pid = todo.pop()
        _p, comm, ticks = table[pid]
        out[pid] = (comm, ticks)
        todo.extend(kids[pid])
    return out


def cpu_seconds() -> tuple[float, float]:
    """(JVM, Python workers) CPU seconds consumed so far."""
    jvm = py = 0
    for comm, ticks in descendants().values():
        if comm == "java":
            jvm += ticks
        else:
            py += ticks
    return jvm / _TICK, py / _TICK


def peak_rss_mb() -> float:
    """Sum of each live descendant's peak resident set (VmHWM)."""
    total_kb = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:
                continue
    return total


# --- Spark status stores ---------------------------------------------------

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
}


def metric_value(text: str) -> float:
    """A formatted SQL metric ("1.8 s", "939.6 KiB", "100,000", or the
    "total (min, med, max ...)\\n<total> (...)" form) in base units."""
    if "\n" in text:
        text = text.split("\n", 1)[1].split(" (", 1)[0]
    m = re.match(r"\s*([-0-9.,]+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class StatusReader:
    """Reads jobs, stages, tasks and SQL node metrics that appeared since
    the previous read, from the in-process status stores (they are kept
    with the UI disabled)."""

    _PY_NODE = re.compile(r"Python|Pandas|Arrow")

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self._gateway = spark.sparkContext._gateway
        self._jvm = jvm
        self._app = spark.sparkContext._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(getattr(scala, "MODULE$"))
        self._job_seen = -1
        self._exec_seen = 0

    def _load(self, obj) -> list | dict:
        return json.loads(self._json.writeValueAsString(obj))

    def gc_seconds(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000

    def new_jobs(self) -> dict:
        """Jobs finished since the last call, with their completed stages
        and the largest stage's task durations, grouped by job group (a
        streaming query's run id, or None for batch jobs)."""
        jobs = [
            j for j in self._load(self._app.jobsList(None))
            if j["jobId"] > self._job_seen and j["status"] != "RUNNING"
        ]
        if not jobs:
            return {}
        self._job_seen = max(j["jobId"] for j in jobs)
        wanted = {s for j in jobs for s in j["stageIds"]}
        no_quantiles = self._gateway.new_array(self._jvm.double, 0)
        stages = {
            s["stageId"]: s
            for s in self._load(self._app.stageList(None, False, False, no_quantiles, None))
            if s["stageId"] in wanted and s["status"] == "COMPLETE"
        }
        groups: dict = defaultdict(lambda: {"jobs": 0, "stages": []})
        for j in jobs:
            g = groups[j.get("jobGroup")]
            g["jobs"] += 1
            g["stages"].extend(stages[s] for s in j["stageIds"] if s in stages)
        for g in groups.values():
            if g["stages"]:
                big = max(g["stages"], key=lambda s: s["executorRunTime"])
                tasks = self._load(self._app.taskList(big["stageId"], big["attemptId"], 10_000))
                g["task_ms"] = [t["duration"] for t in tasks if t.get("duration") is not None]
        return dict(groups)

    def new_python_metrics(self) -> dict[str, float]:
        """Sums of the Python exec nodes' SQL metrics over executions
        finished since the last call."""
        execs = self._load(self._sql.executionsList(self._exec_seen, 1_000_000))
        # stop at the first unfinished execution so it is read next time
        done = []
        for e in execs:
            if e.get("completionTime") is None:
                break
            done.append(e)
        self._exec_seen += len(done)
        out: dict[str, float] = defaultdict(float)
        for e in done:
            values = e.get("metricValues") or {}
            nodes = self._load(self._sql.planGraph(e["executionId"]).allNodes())
            # allNodes lists a codegen cluster's members on their own too
            for node in nodes:
                if not self._PY_NODE.search(node["name"]):
                    continue
                names = set()  # the stateful node lists "number of output rows" twice
                for m in node["metrics"]:
                    v = values.get(str(m["accumulatorId"]))
                    if v is not None and m["name"] not in names:
                        names.add(m["name"])
                        out[m["name"]] += metric_value(v)
        return dict(out)


def stage_totals(stages: list[dict]) -> dict[str, float]:
    keys = (
        "executorRunTime", "shuffleReadBytes", "shuffleWriteBytes", "diskBytesSpilled",
        "inputBytes",
    )
    return {k: float(sum(s.get(k, 0) for s in stages)) for k in keys}


def skew(task_ms: list[int]) -> float:
    """Slowest task over the median task of one stage (1.0 = no skew)."""
    if not task_ms:
        return 0.0
    med = statistics.median(task_ms)
    return max(task_ms) / med if med > 0 else 1.0


def progress_since(query, batch_seen: int) -> list[dict]:
    """A streaming query's progress records with batchId > batch_seen."""
    return [
        json.loads(p.json) for p in query.recentProgress if p.batchId > batch_seen
    ]


def now() -> float:
    return time.perf_counter()
