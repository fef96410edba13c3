"""In-memory spans around the benchmark's calls into the engine, and the
Spark counters attributed to each span through its job group.

A span records name, start, end, parent and operation id.  While a span is
open its job group is set on the SparkContext, so every job a call launches
carries that group.  ``Tracer.collect`` then reads, per span:

- job ids from ``statusTracker().getJobIdsForGroup``;
- task time, GC time, shuffle-write and spill bytes and input records of
  those jobs' stages from the application status store;
- per-operator SQL metrics (Python worker time and bytes, files and rows
  scanned) from the SQL status store's plan graph of each SQL execution
  whose jobs belong to the span.

Nothing is recorded when the tracer is disabled: ``span`` then only yields.
"""

from __future__ import annotations

import contextlib
import json
import re
import time

_JOB_GROUP = "spark.jobGroup.id"
_LABEL_RE = re.compile(r'\[id="node\d+" labelType="html" label="(.*?)" tooltip=')
_NAME_RE = re.compile(r"<b>(.*?)</b>")
_TOTAL = " total (min, med, max (stageId: taskId))"
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}


def _number(text: str) -> float:
    """'7.4 s (1.7 s, ...)' -> 7.4 (seconds); '261.0 KiB' -> bytes;
    '33,333' -> 33333.  Durations come back in seconds."""
    head = text.split(" (")[0].strip().replace(",", "")
    parts = head.split()
    value = float(parts[0])
    if len(parts) > 1:
        value *= _UNITS.get(parts[1], 1.0)
    return value


def parse_plan_dot(dot: str) -> list[tuple[str, dict[str, float]]]:
    """Operator name and metric values of every node in a plan-graph DOT
    rendering (``SparkPlanGraph.makeDotFile``)."""
    nodes = []
    for label in _LABEL_RE.findall(dot):
        m = _NAME_RE.search(label)
        if not m:
            continue
        metrics: dict[str, float] = {}
        parts = [p for p in label[m.end():].split("<br>") if p]
        i = 0
        while i < len(parts):
            p = parts[i]
            if p.endswith(_TOTAL) and i + 1 < len(parts):
                metrics[p[: -len(_TOTAL)]] = _number(parts[i + 1])
                i += 2
                continue
            name, sep, value = p.rpartition(": ")
            if sep:
                try:
                    metrics[name] = _number(value)
                except ValueError:
                    pass
            i += 1
        nodes.append((m.group(1).strip(), metrics))
    return nodes


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._executions_seen = 0
        self._stages_seen: set[int] = set()
        self._t0 = time.perf_counter()

    def current(self) -> dict:
        return self._stack[-1]

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None, tag_jobs: bool = True):
        """Record a span; with ``tag_jobs`` its calls' jobs carry its
        own job group (otherwise it only records time)."""
        if not self.enabled:
            yield {}
            return
        sc = self.spark.sparkContext if tag_jobs else None
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "group": f"perfbench-{len(self.spans)}" if tag_jobs else None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if sc is not None:
            sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if sc is not None:
                if parent is not None and parent["group"] is not None:
                    sc.setJobGroup(parent["group"], parent["name"])
                else:
                    sc.setLocalProperty(_JOB_GROUP, None)

    def collect(self) -> None:
        """Attach job, stage and SQL counters to every span not yet
        collected.  Call between operations, never inside a timed one."""
        if not self.enabled:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        tracker = sc.statusTracker()
        app_store = jsc.statusStore()
        job_span: dict[int, dict] = {}
        for rec in self.spans:
            if "jobs" in rec or "end" not in rec:
                continue
            rec["jobs"] = sorted(tracker.getJobIdsForGroup(rec["group"])) if rec["group"] else []
            rec["counters"] = {}
            rec["sql"] = []
            c = rec["counters"]
            for j in rec["jobs"]:
                job_span[j] = rec
                try:
                    stage_ids = _seq(app_store.job(j).stageIds())
                except Exception:  # job evicted from the store
                    continue
                for sid in stage_ids:
                    if sid in self._stages_seen:
                        continue  # ran under an earlier job, skipped here
                    try:
                        sd = app_store.lastStageAttempt(sid)
                    except Exception:  # skipped stage: never ran
                        continue
                    if str(sd.status().toString()) == "SKIPPED":
                        continue
                    self._stages_seen.add(sid)
                    c["stages"] = c.get("stages", 0) + 1
                    c["task_s"] = c.get("task_s", 0.0) + sd.executorRunTime() / 1e3
                    c["gc_ms"] = c.get("gc_ms", 0.0) + sd.jvmGcTime()
                    c["shuffle_write_bytes"] = c.get("shuffle_write_bytes", 0) + sd.shuffleWriteBytes()
                    c["spill_bytes"] = (c.get("spill_bytes", 0) + sd.memoryBytesSpilled()
                                        + sd.diskBytesSpilled())
                    c["input_records"] = c.get("input_records", 0) + sd.inputRecords()
        if not job_span:
            return
        sql_store = self.spark._jsparkSession.sharedState().statusStore()
        n = sql_store.executionsCount()
        for e in _seq(sql_store.executionsList(self._executions_seen, n - self._executions_seen)):
            jobs = [int(x) for x in re.findall(r"(\d+) ->", e.jobs().toString())]
            owner = next((job_span[j] for j in jobs if j in job_span), None)
            if owner is None:
                continue
            eid = e.executionId()
            dot = sql_store.planGraph(eid).makeDotFile(sql_store.executionMetrics(eid))
            owner["sql"].extend(parse_plan_dot(dot))
        self._executions_seen = n

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def plan_ms(df) -> float:
    """Analysis + optimization + planning milliseconds of ``df``'s query
    execution, from Catalyst's phase tracker (planning is forced here)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    text = qe.tracker().phases().toString()
    return float(sum(int(b) - int(a) for a, b in re.findall(r"PhaseSummary\((\d+), (\d+)\)", text)))


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the time its direct children cover."""
    child_time: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child_time.get(s["id"], 0.0) for s in spans}


def sql_metric(rec: dict, node_prefix: str, metric: str) -> float:
    """Sum of ``metric`` over the span's plan nodes whose name starts with
    ``node_prefix``."""
    return sum(m.get(metric, 0.0) for name, m in rec.get("sql", ()) if name.startswith(node_prefix))
