"""Spans, Spark status-store readers and host counters for the traced run.

Spans are recorded from the benchmark's own files around the calls it makes
into the library (and around ``SnapshotStore.commit``/``read``, wrapped at
class level for the traced run only). They hold wall time and epoch
boundaries; nothing is read from Spark while an operation is timed. After
the measured loop, :func:`status_dump` pulls every job, stage and SQL
execution out of Spark's status store in a few JSON round trips, and
:func:`window_stats` attributes them to a span by submission time (one
client, closed loop: nothing else submits work concurrently).
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from contextlib import contextmanager

MB = float(1 << 20)

_PY_METRICS = {
    "time to run Python workers": "py_s",
    "data sent to Python workers": "arrow_sent",
    "data returned from Python workers": "arrow_recv",
}
_UNITS = {
    "B": 1.0, "KiB": 1024.0, "MiB": MB, "GiB": MB * 1024, "TiB": MB * MB,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


class Tracer:
    """In-memory span recorder; a no-op unless ``enabled``."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._undo: list = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "t0_ms": time.time() * 1000.0,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        t = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t
            rec["t1_ms"] = time.time() * 1000.0
            self._stack.pop()

    def wrap_method(self, cls, method: str, span_name: str) -> None:
        """Record a span around every call of ``cls.method`` until
        :meth:`restore`."""
        if not self.enabled:
            return
        orig = getattr(cls, method)

        @functools.wraps(orig)
        def traced(*a, **kw):
            with self.span(span_name):
                return orig(*a, **kw)

        setattr(cls, method, traced)
        self._undo.append((cls, method, orig))

    def restore(self) -> None:
        while self._undo:
            cls, method, orig = self._undo.pop()
            setattr(cls, method, orig)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def children(self, span: dict, name: str) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"] == name and span["t0_ms"] <= s["t0_ms"] <= span["t1_ms"]
        ]


# -- host and process counters ---------------------------------------------

def host_counters() -> dict:
    """Machine-wide CPU jiffies from /proc/stat: busy and steal."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = (vals + [0] * 8)[:8]
    return {
        "busy": user + nice + system + irq + softirq,
        "steal": steal,
        "total": user + nice + system + idle + iowait + irq + softirq + steal,
    }


def clock() -> tuple:
    """Start of a timed interval: wall clock and host CPU counters."""
    return time.perf_counter(), host_counters()


def since(start: tuple) -> tuple[float, float]:
    """(wall, steal-adjusted wall) of the interval opened by :func:`clock`.

    The adjusted wall takes out the CPU time the hypervisor stole while
    the interval's work wanted to run: wall * busy / (busy + steal), with
    busy and steal the host's jiffies over the interval. It equals the wall
    when nothing was stolen; a change in the work itself moves both."""
    t0, c0 = start
    wall = time.perf_counter() - t0
    c1 = host_counters()
    busy, steal = c1["busy"] - c0["busy"], c1["steal"] - c0["steal"]
    return wall, wall * busy / (busy + steal) if busy + steal > 0 else wall


def host_delta(a: dict, b: dict) -> dict:
    hz = os.sysconf("SC_CLK_TCK")
    total = max(1, b["total"] - a["total"])
    return {
        "host.cpu_busy_s": (b["busy"] - a["busy"]) / hz,
        "host.steal_share": (b["steal"] - a["steal"]) / total,
    }


def peak_rss_mb(pid: int | str = "self") -> float:
    """VmHWM (peak resident set) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


# -- Spark status store ------------------------------------------------------

def trace_conf() -> dict:
    """Keep every job, stage and SQL execution of the run in the store."""
    return {
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.sql.ui.retainedExecutions": "1000000",
    }


def _parse_metric(text: str) -> float:
    """A formatted SQL metric ('1.2 s', '381 ms', '97.0 KiB', or the
    'total (min, med, max ...)' form) as seconds or bytes."""
    line = text.split("\n")[-1].split(" (")[0].strip()
    parts = line.replace(",", "").split()
    value = float(parts[0])
    return value * _UNITS[parts[1]] if len(parts) > 1 else value


def status_dump(spark, graphs=False, plans=False) -> dict:
    """Every job, stage and SQL execution the session has run.

    ``graphs`` also fetches each execution's plan graph (operator nodes
    with their metric values); ``plans`` keeps its physical plan text."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    gw = sc._gateway
    jvm = gw.jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(
        getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        .__getattr__("MODULE$")
    )
    store = jsc.statusStore()
    quantiles = gw.new_array(jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    stages = {}
    for s in json.loads(
        mapper.writeValueAsString(
            store.stageList(None, False, True, quantiles, jvm.java.util.ArrayList())
        )
    ):
        stages[s["stageId"]] = s  # later attempts overwrite earlier ones
    sql = spark._jsparkSession.sharedState().statusStore()
    execs = []
    for e in json.loads(mapper.writeValueAsString(sql.executionsList())):
        names = {m["accumulatorId"]: m["name"] for m in e.get("metrics") or []}
        raw = json.loads(mapper.writeValueAsString(sql.executionMetrics(e["executionId"])))
        py = {}
        for acc, text in raw.items():
            key = _PY_METRICS.get(names.get(int(acc)))
            if key:
                py[key] = py.get(key, 0.0) + _parse_metric(text)
        rec = {
            "id": e["executionId"],
            "root": e.get("rootExecutionId", e["executionId"]),
            "t0_ms": e["submissionTime"],
            "t1_ms": e.get("completionTime"),
            "jobs": [int(j) for j in (e.get("jobs") or {})],
            "py": py,
        }
        if plans:
            rec["plan"] = e.get("physicalPlanDescription") or ""
        if graphs:
            rec["values"] = {int(k): v for k, v in raw.items()}
            rec["nodes"] = json.loads(
                mapper.writeValueAsString(sql.planGraph(e["executionId"]).allNodes())
            )
        execs.append(rec)
    return {"jobs": jobs, "stages": stages, "execs": execs}


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def job_stats(dump: dict, job_ids, cores: int, wall_s: float) -> dict:
    """Layer families over a set of Spark jobs that ran inside ``wall_s``."""
    job_ids = set(job_ids)
    jobs = [j for j in dump["jobs"] if j["jobId"] in job_ids]
    stage_ids = {sid for j in jobs for sid in j["stageIds"]}
    out = dict.fromkeys(
        ("cpu_s", "gc_s", "shuffle_mb", "tasks", "result_kb"), 0.0
    )
    ratios = []
    for sid in stage_ids:
        s = dump["stages"].get(sid)
        if s is None or s["status"] != "COMPLETE":
            continue
        out["cpu_s"] += s["executorCpuTime"] / 1e9
        out["gc_s"] += s["jvmGcTime"] / 1e3
        out["shuffle_mb"] += (s["shuffleReadBytes"] + s["shuffleWriteBytes"]) / MB
        out["tasks"] += s["numCompleteTasks"]
        out["result_kb"] += s["resultSize"] / 1024.0
        dist = (s.get("taskMetricsDistributions") or {}).get("executorRunTime")
        if dist and s["numCompleteTasks"] >= 2 and dist[0] > 0:
            ratios.append((dist[1] / dist[0], s["executorRunTime"]))
    weight = sum(w for _, w in ratios)
    out["straggler"] = (
        sum(r * w for r, w in ratios) / weight if weight > 0 else 1.0
    )
    out["util"] = out["cpu_s"] / (cores * wall_s) if wall_s > 0 else 0.0
    execs = [
        e for e in dump["execs"] if job_ids.intersection(e["jobs"])
    ]
    out["py_s"] = sum(e["py"].get("py_s", 0.0) for e in execs)
    out["arrow_mb"] = sum(
        e["py"].get("arrow_sent", 0.0) + e["py"].get("arrow_recv", 0.0)
        for e in execs
    ) / MB
    return out


def window_jobs(dump: dict, t0_ms: float, t1_ms: float) -> list[int]:
    return [
        j["jobId"] for j in dump["jobs"]
        if j.get("submissionTime") is not None
        and t0_ms <= j["submissionTime"] <= t1_ms
    ]


def window_execs(dump: dict, t0_ms: float, t1_ms: float, roots_only=True) -> list[dict]:
    return [
        e for e in dump["execs"]
        if t0_ms <= e["t0_ms"] <= t1_ms and (e["id"] == e["root"] or not roots_only)
    ]


def window_stats(dump: dict, span: dict, cores: int) -> dict:
    """Layer families of everything submitted inside ``span``, plus driver
    time (span wall not covered by any running Spark job) and SQL syncs."""
    ids = window_jobs(dump, span["t0_ms"], span["t1_ms"])
    out = job_stats(dump, ids, cores, span["wall_s"])
    busy = [
        (max(j["submissionTime"], span["t0_ms"]),
         min(j.get("completionTime") or span["t1_ms"], span["t1_ms"]))
        for j in dump["jobs"] if j["jobId"] in set(ids)
    ]
    out["driver_s"] = max(0.0, span["wall_s"] - _union_ms(busy) / 1000.0)
    out["syncs"] = len(window_execs(dump, span["t0_ms"], span["t1_ms"]))
    first = min((a for a, _ in busy), default=span["t1_ms"])
    out["plan_s"] = (first - span["t0_ms"]) / 1000.0
    return out


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0
