"""Tracing from outside the program.

Spans go around the benchmark's own calls into each layer; each span
sets the Spark job group to its name. After the run, Spark's own stores
are read: the app status store (jobs with their group, per-stage task
time, GC, shuffle, spill) and the SQL status store (per-node metrics such
as the Python worker times of ArrowEvalPython). Spans are kept in memory.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    parent: str | None = None
    run_id: str = ""
    leaf: bool = False  # claims its whole interval for its layer

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Records spans in memory. ``enabled=False`` keeps the timing but
    sets no job group, so an untraced run pays nothing for tracing."""
    sc: object = None
    enabled: bool = False
    run_id: str = ""
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, leaf: bool = False):
        parent = self._stack[-1].name if self._stack else None
        s = Span(name, time.time(), parent=parent, run_id=self.run_id, leaf=leaf)
        self._stack.append(s)
        if self.enabled and self.sc is not None:
            self.sc.setJobGroup(name, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.spans.append(s)
            if self.enabled and self.sc is not None:
                if self._stack:
                    self.sc.setJobGroup(self._stack[-1].name, self._stack[-1].name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)


# -- reading Spark's stores ------------------------------------------------

_UNITS = {
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3, "TiB": 1024 ** 4,
}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str | None) -> float:
    """A formatted SQL metric ('1,000', '2.2 s', '75.5 KiB', or
    'total (min, med, max ...)\\n2.2 s (...)') as a number in seconds,
    bytes or units."""
    if not text:
        return 0.0
    line = text.split("\n")[-1]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


class Stores:
    """JSON snapshots of the app and SQL status stores, serialized inside
    the JVM with Jackson (one call per list)."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        jvm = sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self._app = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        q = sc._gateway.new_array(jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        self._quantiles = q

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def marks(self) -> dict:
        """High-water marks, so a later read can keep only what came after."""
        jobs = self._json(self._app.jobsList(None))
        stages = self._json(self._app.stageList(None, False, False, self._quantiles, None))
        execs = self._json(self._sql.executionsList())
        return {
            "job": max((j["jobId"] for j in jobs), default=-1),
            "stage": max((s["stageId"] for s in stages), default=-1),
            "execution": max((e["executionId"] for e in execs), default=-1),
        }

    def rdd_cached_bytes(self) -> int:
        return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0)
                   for r in self._json(self._app.rddList(True)))

    def read(self, since: dict) -> dict:
        jobs = [j for j in self._json(self._app.jobsList(None)) if j["jobId"] > since["job"]]
        stages = [s for s in self._json(self._app.stageList(None, False, True, self._quantiles, None))
                  if s["stageId"] > since["stage"] and s["status"] == "COMPLETE"]
        execs = []
        for e in self._json(self._sql.executionsList()):
            if e["executionId"] <= since["execution"]:
                continue
            eid = e["executionId"]
            values = self._json(self._sql.executionMetrics(eid))
            nodes = []
            for n in self._json(self._sql.planGraph(eid).allNodes()):
                nodes.append({
                    "name": n.get("name", ""),
                    "desc": n.get("desc", ""),
                    "metrics": {m["name"]: values.get(str(m["accumulatorId"]))
                                for m in n.get("metrics", [])},
                })
            execs.append({
                "id": eid,
                "start": e["submissionTime"] / 1000.0,
                "end": (e.get("completionTime") or e["submissionTime"]) / 1000.0,
                "plan": e.get("physicalPlanDescription", ""),
                "jobs": sorted(int(k) for k in (e.get("jobs") or {})),
                "nodes": nodes,
            })
        return {"jobs": jobs, "stages": stages, "executions": execs}


# -- helpers over a store snapshot -----------------------------------------

def union_s(intervals) -> float:
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def stage_interval(st: dict) -> tuple[float, float]:
    start = st.get("firstTaskLaunchedTime") or st.get("submissionTime") or 0
    return start / 1000.0, (st.get("completionTime") or start) / 1000.0


def node_sum(execs, name_pred, metric: str) -> float:
    return sum(parse_metric(n["metrics"].get(metric))
               for e in execs for n in e["nodes"] if name_pred(n["name"]))


def is_python_node(name: str) -> bool:
    return any(k in name for k in ("EvalPython", "InPandas", "InArrow", "PythonUDF"))


def python_node_metrics(execs) -> dict:
    return {
        "rows": node_sum(execs, lambda n: "EvalPython" in n, "number of output rows"),
        "boot_s": node_sum(execs, is_python_node, "time to start Python workers"),
        "init_s": node_sum(execs, is_python_node, "time to initialize Python workers"),
        "exec_s": node_sum(execs, is_python_node, "time to run Python workers"),
        "sent": node_sum(execs, is_python_node, "data sent to Python workers"),
        "received": node_sum(execs, is_python_node, "data returned from Python workers"),
    }


def write_targets(execution: dict) -> list[str]:
    """Output paths of an execution's file-write commands."""
    out = []
    for n in execution["nodes"]:
        if "InsertIntoHadoopFsRelationCommand" in n["name"]:
            m = re.search(r"InsertIntoHadoopFsRelationCommand\s+(\S+?),", n["desc"])
            if m:
                out.append(m.group(1))
    if not out:
        for m in re.finditer(r"InsertIntoHadoopFsRelationCommand\s+(\S+?),", execution["plan"]):
            out.append(m.group(1))
    return out


def scan_locations(execution: dict) -> list[str]:
    return re.findall(r"Location: \w+\s*\[([^\]]*)\]", execution["plan"])


def written(execs) -> tuple[float, float]:
    """(bytes, files) the executions' write commands wrote."""
    pred = lambda n: "InsertIntoHadoopFsRelationCommand" in n  # noqa: E731
    return node_sum(execs, pred, "written output"), node_sum(execs, pred, "number of written files")


def stages_of(snapshot: dict, execs) -> list[dict]:
    job_ids = {j for e in execs for j in e["jobs"]}
    stage_ids = {s for j in snapshot["jobs"] if j["jobId"] in job_ids for s in j["stageIds"]}
    return [s for s in snapshot["stages"] if s["stageId"] in stage_ids]


def skew(stages) -> float:
    """Median over shuffle-reading stages of (max ÷ median) records read
    per task."""
    ratios = []
    for s in stages:
        d = (s.get("taskMetricsDistributions") or {}).get("shuffleReadMetrics") or {}
        rec = d.get("readRecords") or []
        if len(rec) == 2 and rec[0] > 0:
            ratios.append(rec[1] / rec[0])
    ratios.sort()
    return ratios[len(ratios) // 2] if ratios else 0.0


def engine_metrics(snapshot: dict, wall_s: float, cores: int, cached_peak: int) -> dict:
    st = snapshot["stages"]
    task_s = sum(s["executorRunTime"] for s in st) / 1000.0
    return {
        "spark.jobs": len(snapshot["jobs"]),
        "spark.stages": len(st),
        "spark.tasks": sum(s["numCompleteTasks"] for s in st),
        "spark.task_s": task_s,
        "spark.core_busy_share": task_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "spark.gc_s": sum(s["jvmGcTime"] for s in st) / 1000.0,
        "spark.shuffle_fetch_wait_s": sum(s["shuffleFetchWaitTime"] for s in st) / 1000.0,
        "spark.spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in st),
        "spark.cached_peak_bytes": cached_peak,
    }


# -- sampling while a call runs ----------------------------------------------

def _tree_rss_bytes(root_pid: int) -> int:
    """Resident memory of ``root_pid`` and all its descendants (the driver,
    the JVM and the Python workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            children.setdefault(int(fields[1]), []).append(int(entry))
        except (OSError, IndexError, ValueError):
            continue
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
        todo.extend(children.get(pid, ()))
    return total


class Sampler:
    """Background thread: peak process-tree RSS, and (when given a store)
    peak cached RDD bytes."""

    def __init__(self, stores: Stores | None = None, period_s: float = 0.2):
        self.stores = stores
        self.period_s = period_s
        self.peak_rss = 0
        self.peak_cached = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_rss = max(self.peak_rss, _tree_rss_bytes(pid))
            if self.stores is not None:
                try:
                    self.peak_cached = max(self.peak_cached, self.stores.rdd_cached_bytes())
                except Exception:  # the store may be mid-update
                    pass
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
