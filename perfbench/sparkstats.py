"""Per-operation Spark counters read from Spark's own status stores.

Each operation the server runs in-process goes under its own job group;
afterwards ``group_stats`` walks that group's jobs and stages in the core
status store (tasks, shuffle bytes written, records read from sources) and
the SQL status store (per-operator metrics of the executions those jobs
belong to, among them the Python-worker metrics of MapInPandas /
ArrowEvalPython nodes).  Both stores are kept with the UI disabled.
"""

from __future__ import annotations

import re

_NUM = re.compile(r"([-\d.,]+)\s*([A-Za-z]*)")
_SCALE = {
    "": 1.0, "ms": 1.0, "s": 1e3, "m": 6e4, "min": 6e4, "h": 3.6e6,
    "ns": 1e-6, "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3,
    "TiB": 1024.0**4,
}
# SQL metric name -> key in the returned dict (times in ms, sizes in bytes)
PYTHON_METRICS = {
    "time to start Python workers": "python_start_ms",
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}
RECENT_EXECUTIONS = 50
# the Python nodes the benchmarked operators plan: mapInPandas, pandas_udf
# and groupBy().applyInPandas (embedding_near_dup_pairs)
PYTHON_NODES = ("MapInPandas", "ArrowEvalPython", "FlatMapGroupsInPandas")


def parse_metric(text: str) -> float:
    """Spark renders a metric as '20,000', '5.3 MiB', '121 ms', or for
    per-task metrics a 'total (min, med, max ...)' header line followed by
    the total; the total is returned in base units (ms or bytes)."""
    line = text.strip().splitlines()[-1]
    m = _NUM.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SCALE.get(m.group(2), 1.0)


def group_stats(spark, group: str) -> dict:
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jobs = set(tracker.getJobIdsForGroup(group))
    out = {"jobs": len(jobs), "tasks": 0, "shuffle_bytes": 0.0, "input_records": 0.0}
    core = sc._jsc.sc().statusStore()
    seen = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        for sid in (info.stageIds if info else []):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                data = core.stageAttempt(sid, 0, False, None, False, None)._1()
            except Exception:  # stage pruned from the store: count nothing
                continue
            if str(data.status()) == "SKIPPED":
                continue
            out["tasks"] += data.numCompleteTasks()
            out["shuffle_bytes"] += data.shuffleWriteBytes()
            out["input_records"] += data.inputRecords()
    for key in PYTHON_METRICS.values():
        out[key] = 0.0
    sql = spark._jsparkSession.sharedState().statusStore()
    execs = sql.executionsList()
    # the group's executions are among the newest: it has only just run
    for i in range(execs.size() - 1, max(execs.size() - 1 - RECENT_EXECUTIONS, -1), -1):
        e = execs.apply(i)
        ejobs = e.jobs()
        if not any(ejobs.contains(j) for j in jobs):
            continue
        values = sql.executionMetrics(e.executionId())
        nodes = sql.planGraph(e.executionId()).allNodes()
        for n in range(nodes.size()):
            node = nodes.apply(n)
            if not node.name().startswith(PYTHON_NODES):
                continue
            metrics = node.metrics()
            for k in range(metrics.size()):
                metric = metrics.apply(k)
                key = PYTHON_METRICS.get(metric.name())
                v = values.get(metric.accumulatorId())
                if key and v.isDefined():
                    out[key] += parse_metric(str(v.get()))
    return out
