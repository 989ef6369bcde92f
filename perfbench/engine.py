"""Read what Spark recorded about the jobs of a time window.

Both readers go through the driver's status stores, the same ones the REST
API serves, so they work with the UI disabled and need no change to the
package: ``AppStatusStore`` for stage walls and task metrics (as
``bench._memory_metrics`` reads it) and ``SQLAppStatusStore`` for the SQL
metrics of each physical-plan node. Windows are epoch seconds; the stores
stamp in epoch milliseconds.
"""

from __future__ import annotations

import re

#: how much earlier than the Python clock an engine stamp (whole ms) of
#: the same instant can read; widen a window's start by it
STAMP_SLACK_S = 0.005


def _ms(opt_date) -> float | None:
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else None


def stages_between(spark, t0: float, t1: float) -> list[dict]:
    """Completed stages submitted inside ``[t0, t1]``, oldest first."""
    jvm = spark._jvm
    store = spark._jsc.sc().statusStore()
    empty = jvm.java.util.ArrayList()
    no_quantiles = spark._sc._gateway.new_array(jvm.double, 0)
    stages = store.stageList(empty, False, False, no_quantiles, empty)
    out = []
    for i in range(stages.length()):
        s = stages.apply(i)
        start, end = _ms(s.submissionTime()), _ms(s.completionTime())
        if start is None or end is None:
            continue
        if not t0 <= start <= t1:
            continue
        out.append({
            "id": s.stageId(),
            "start": start,
            "end": end,
            "shuffle_read_bytes": s.shuffleReadBytes(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "run_s": s.executorRunTime() / 1e3,
            "cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1e3,
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "peak_execution_memory_bytes": s.peakExecutionMemory(),
        })
    return sorted(out, key=lambda s: (s["start"], s["id"]))


def stage_intervals(stages: list[dict], prefix: str) -> list[tuple]:
    """Stages as span intervals: a stage that reads a shuffle is a reduce
    stage, any other one (it scans its input) is a map stage."""
    return [(f"{prefix}.reduce_stages" if s["shuffle_read_bytes"] > 0
             else f"{prefix}.map_stages", s["start"], s["end"])
            for s in stages]


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1, "s": 1e3, "m": 60e3, "h": 3600e3}


def _parse_metric(text: str, metric_type: str) -> float:
    """The status store's display string back to the accumulator's unit
    (bytes, ms, ns or a count). Used only when the accumulator itself is
    gone; the display keeps about four significant digits."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"([\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)
    return value * 1e6 if metric_type == "nsTiming" else value


def sql_executions_between(spark, t0: float, t1: float) -> list[tuple]:
    """``(start, end)`` of every SQL execution submitted inside ``[t0, t1]``,
    as the engine stamped them: from after physical planning to after the
    last job and the write commit."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out = []
    for i in range(execs.size()):
        e = execs.apply(i)
        start, end = e.submissionTime() / 1e3, _ms(e.completionTime())
        if end is not None and t0 <= start <= t1:
            out.append((start, end))
    return sorted(out)


def union_s(intervals) -> float:
    """Seconds covered by the union of ``(start, end)`` intervals."""
    total, cursor = 0.0, float("-inf")
    for start, end in sorted(intervals):
        start = max(start, cursor)
        if end > start:
            total += end - start
            cursor = end
    return total


def sql_metrics_between(spark, t0: float, t1: float) -> list[tuple]:
    """``(node name, metric name, value)`` for every plan node of every SQL
    execution submitted inside ``[t0, t1]``.

    Values are the accumulators' exact longs, in the metric's own unit:
    bytes for sizes, ms for ``timing``, ns for ``nsTiming``.
    """
    jvm = spark._jvm
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    accumulators = jvm.org.apache.spark.util.AccumulatorContext
    out = []
    for i in range(execs.size()):
        e = execs.apply(i)
        if not t0 <= e.submissionTime() / 1e3 <= t1:
            continue
        eid = e.executionId()
        shown = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for j in range(nodes.size()):
            node = nodes.apply(j)
            metrics = node.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                acc = accumulators.get(m.accumulatorId())
                if acc.isDefined():
                    value = float(acc.get().value())
                else:
                    text = shown.get(m.accumulatorId())
                    value = (_parse_metric(text.get(), m.metricType())
                             if text.isDefined() else 0.0)
                out.append((node.name().strip(), m.name(), value))
    return out


def metric_sum(rows: list[tuple], node: str, metric: str) -> float:
    return sum(v for n, m, v in rows if n == node and m == metric)


def peak_heap_bytes(spark) -> int:
    """The driver's peak used JVM heap since it started, as the executor
    summary records it (the way ``bench._memory_metrics`` reads it)."""
    execs = spark._jsc.sc().statusStore().executorList(False)
    peak = 0
    for i in range(execs.length()):
        pm = execs.apply(i).peakMemoryMetrics()
        if pm.isDefined():
            peak = max(peak, pm.get().getMetricValue("JVMHeapMemory"))
    return peak
