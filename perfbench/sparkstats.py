"""Spark's own SQL metrics for the executions of one pass, read from the
SQL status store (the data behind the SQL tab of the Spark UI, which is
kept even with the UI off)."""

from __future__ import annotations

import re

# SQL metric name -> benchmark name
_METRICS = {
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_recv",
    "scan time": "scan_s",
    "sort time": "sort_s",
    "shuffle bytes written": "shuffle_bytes_written",
    "shuffle write time": "shuffle_write_s",
}
NAMES = sorted(_METRICS.values())

_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_NUM = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_value(text: str) -> float:
    """The total of a formatted SQL metric: ``'25 ms'`` or
    ``'total (min, med, max ...)\\n4.4 s (...)'``."""
    line = text.split("\n", 1)[1] if text.startswith("total") else text
    m = _NUM.match(line)
    if m is None:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return v * _TIME.get(unit, _SIZE.get(unit, 1))


def last_execution_id(spark) -> int:
    ex = spark._jsparkSession.sharedState().statusStore().executionsList()
    return int(ex.apply(ex.size() - 1).executionId()) if ex.size() else -1


def _drain(spark) -> None:
    # the status store is filled by a listener on the event bus; wait until
    # the events of the finished action are processed
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)


def summarize(spark, after_id: int, upto_id: int) -> dict:
    """Sum the metrics of the SQL executions with ids in
    (``after_id``, ``upto_id``], plus task and scan-node counts, from the
    executed (AQE final) plans."""
    _drain(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    ex = store.executionsList()
    out = {n: 0.0 for n in NAMES}
    out.update(tasks=0, input_scans=0, cache_scans=0, executions=0)
    tracker = spark.sparkContext.statusTracker()
    for i in range(ex.size()):
        data = ex.apply(i)
        eid = int(data.executionId())
        if not after_id < eid <= upto_id:
            continue
        out["executions"] += 1
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for j in range(nodes.size()):
            node = nodes.apply(j)
            name = node.name()
            if name.startswith("Scan "):
                out["input_scans"] += 1
            if name.startswith("InMemoryTableScan"):
                out["cache_scans"] += 1
            ms = node.metrics()
            for k in range(ms.size()):
                m = ms.apply(k)
                key = _METRICS.get(m.name())
                if key is None:
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    out[key] += parse_value(v.get())
        stages = str(data.stages().mkString(","))
        for sid in filter(None, stages.split(",")):
            info = tracker.getStageInfo(int(sid))
            if info is not None:
                out["tasks"] += info.numTasks
    return out
