"""Tracing from outside the program: spans around calls into sqlrs_spark's
public functions, Spark plan metrics read after each execution, and job,
stage and task counts from the status tracker.

Spans stay in memory (``Tracer.spans``) and are written out when the run
ends.  Layer totals accumulate per operation in ``Tracer.layers``.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict
from contextlib import contextmanager

#: every per-layer metric name the traced run reports, with its unit
LAYER_UNITS = {
    "session.build_s": "s",
    "sources.register_s": "s",
    "operators.build_s": "s",
    "operators.eager_jobs": "count",
    "catalyst.plan_s": "s",
    "execution.materialize_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.scan.time_s": "s",
    "spark.scan.bytes": "bytes",
    "spark.scan.rows": "count",
    "spark.codegen.pipeline_s": "s",
    "spark.exchange.count": "count",
    "spark.exchange.bytes_written": "bytes",
    "spark.exchange.write_s": "s",
    "spark.exchange.fetch_wait_s": "s",
    "spark.exchange.coalesced_ratio": "ratio",
    "spark.broadcast.count": "count",
    "spark.broadcast.build_s": "s",
    "spark.broadcast.bytes": "bytes",
    "spark.python.boot_s": "s",
    "spark.python.init_s": "s",
    "spark.python.compute_s": "s",
    "spark.python.rows": "count",
    "spark.python.compute_share": "ratio",
    "spark.spill.bytes": "bytes",
    "spark.memory.peak_bytes": "bytes",
    "client_context.prepare_ms": "ms",
    "client_context.execute_ms": "ms",
    "client_context.rows": "count",
    "stmts_per_s": "1/s",
    "read_p50_ms": "ms",
    "read_p90_ms": "ms",
    "statements.files_written": "count",
    "statements.bytes_per_user_byte": "ratio",
    "statements.write_p50_ms": "ms",
    "statements.write_p90_ms": "ms",
    "trace.slowdown_ratio": "ratio",
}

#: the prediction written down before measuring: layer metrics (by name
#: prefix) -> (end-to-end metrics they should move, workloads where they do
#: the work, workloads where they should read about 0)
PREDICTIONS = {
    "session. sources.": ("setup_s", "all", ""),
    "operators.": ("cold_total_s geomean_s", "corpus_x10", "sql_session"),
    "catalyst.": ("geomean_s read_p50_ms", "star_x10 sql_session", ""),
    "execution. spark.jobs spark.stages spark.tasks": (
        "geomean_s read_p50_ms",
        "corpus_x10 sql_session",
        "",
    ),
    "spark.scan.": ("total_s", "star_x10", ""),
    "spark.codegen.": ("total_s", "star_x10 corpus_x10", ""),
    "spark.exchange.": ("total_s", "star_x10 corpus_x10", "sql_session"),
    "spark.broadcast.": ("total_s", "star_x10", "corpus_x10"),
    "spark.python.": ("total_s geomean_s", "corpus_x10", "star_x10 sql_session"),
    "spark.spill. spark.memory.": ("peak_rss_mb total_s", "corpus_x10 star_x10", ""),
    "client_context.": (
        "read_p50_ms read_p90_ms stmts_per_s",
        "sql_session",
        "star_x10 corpus_x10",
    ),
    "statements.": ("read_p90_ms", "sql_session", "star_x10 corpus_x10"),
}

_SCANS = ("FileSourceScanExec", "BatchScanExec", "RowDataSourceScanExec")


def _to_unit(metric_type: str, value: int) -> float:
    if metric_type == "timing":
        return value / 1e3
    if metric_type == "nsTiming":
        return value / 1e9
    return float(value)


def _metrics(node) -> dict[str, float]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        m = kv._2()
        out[kv._1()] = _to_unit(m.metricType(), m.value())
    return out


def plan_metrics(df) -> dict[str, float]:
    """Layer totals of one executed DataFrame, read from its final plan.

    Walks ``AdaptiveSparkPlanExec.executedPlan()`` and every
    ``*QueryStageExec.plan()`` (Spark 4 wraps the final stage in
    ``ResultQueryStageExec``).  Reused exchanges are skipped: their
    metrics belong to the exchange they reuse.
    """
    acc: dict[str, float] = defaultdict(float)
    # AQE coalescing: partitions read after AQEShuffleRead vs written
    parts = {"before": 0.0, "after": 0.0}

    def walk(node, under_read: bool) -> None:
        name = node.getClass().getSimpleName()
        if name == "ReusedExchangeExec":
            return
        if name == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan(), False)
        if name.endswith("QueryStageExec") and name != "TableCacheQueryStageExec":
            return walk(node.plan(), under_read)
        m = _metrics(node)
        if name in _SCANS:
            acc["spark.scan.time_s"] += m.get("scanTime", 0.0)
            acc["spark.scan.bytes"] += m.get("filesSize", 0.0)
            acc["spark.scan.rows"] += m.get("numOutputRows", 0.0)
        elif name == "WholeStageCodegenExec":
            acc["spark.codegen.pipeline_s"] += m.get("pipelineTime", 0.0)
        elif name == "ShuffleExchangeExec":
            acc["spark.exchange.count"] += 1
            acc["spark.exchange.bytes_written"] += m.get("shuffleBytesWritten", 0.0)
            acc["spark.exchange.write_s"] += m.get("shuffleWriteTime", 0.0)
            acc["spark.exchange.fetch_wait_s"] += m.get("fetchWaitTime", 0.0)
            n = m.get("numPartitions", 0.0)
            parts["before"] += n
            if not under_read:
                parts["after"] += n
        elif name == "AQEShuffleReadExec":
            parts["after"] += m.get("numPartitions", 0.0)
        elif name == "BroadcastExchangeExec":
            acc["spark.broadcast.count"] += 1
            acc["spark.broadcast.build_s"] += sum(
                m.get(k, 0.0) for k in ("collectTime", "buildTime", "broadcastTime")
            )
            acc["spark.broadcast.bytes"] += m.get("dataSize", 0.0)
        if "pythonTotalTime" in m:
            # task-time sums: boot is starting a worker, init is each task
            # reading and unpickling its UDF; pythonTotalTime reads below
            # init on reused workers, so it is kernel time, not a total
            acc["spark.python.boot_s"] += m.get("pythonBootTime", 0.0)
            acc["spark.python.init_s"] += m.get("pythonInitTime", 0.0)
            acc["spark.python.compute_s"] += m["pythonTotalTime"]
            acc["spark.python.rows"] += m.get("pythonNumRowsReceived", 0.0)
        acc["spark.spill.bytes"] += m.get("spillSize", 0.0)
        acc["spark.memory.peak_bytes"] += m.get("peakMemory", 0.0)
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i), under_read or name == "AQEShuffleReadExec")

    walk(df._jdf.queryExecution().executedPlan(), False)
    acc["spark.exchange.partitions_before"] = parts["before"]
    acc["spark.exchange.partitions_after"] = parts["after"]
    return dict(acc)


def job_counts(sc, groups: tuple[str, ...], seen: set[int]) -> dict[str, float]:
    """Jobs, stages that ran and tasks completed for the jobs of ``groups``
    not in ``seen`` (which is updated)."""
    st = sc.statusTracker()
    jobs = stages = tasks = 0
    for g in groups:
        for jid in st.getJobIdsForGroup(g):
            if jid in seen:
                continue
            seen.add(jid)
            jobs += 1
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                s = st.getStageInfo(sid)
                if s and s.numCompletedTasks:
                    stages += 1
                    tasks += s.numCompletedTasks
    return {"spark.jobs": jobs, "spark.stages": stages, "spark.tasks": tasks}


def _procs() -> dict[int, list[str]]:
    """The fields after the command name in every ``/proc/<pid>/stat``."""
    out = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    out[int(p)] = f.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                continue
    return out


def _tree(procs: dict[int, list[str]], root: int) -> list[int]:
    """``root`` and its live descendants."""
    kids = defaultdict(list)
    for pid, fields in procs.items():
        kids[int(fields[1])].append(pid)
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        out.append(p)
        frontier.extend(kids[p])
    return out


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) clock ticks of the whole machine so far, from the
    first line of ``/proc/stat``."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = t
    return user + nice + system + irq + softirq, steal


def cpu_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """The share of wanted CPU time the machine got between ticks ``t0``
    and ``t1``, the rest being the hypervisor's steal for other guests.
    Wall time times this share is the time the work would have taken on a
    host of its own, where the share is 1.  Read over a whole phase: the
    ticks are 10 ms apart, too coarse for a single operation."""
    busy, steal = t1[0] - t0[0], t1[1] - t0[1]
    return busy / (busy + steal) if busy + steal > 0 else 1.0


def tree_hwm_mb(root: int) -> float:
    """VmHWM (MB) of ``root`` plus the largest of its descendants: the
    JVM and its biggest Python worker."""

    def hwm(pid: int) -> float:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024
        except OSError:
            pass
        return 0.0

    kids = _tree(_procs(), root)[1:]
    return hwm(root) + max((hwm(k) for k in kids), default=0.0)


class Tracer:
    """Spans and per-operation layer totals of one traced run.

    A disabled tracer still runs every ``span`` body but records nothing,
    so traced and untraced passes make the same calls into the program.
    """

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self.layers: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, op: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self._t0,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0
            self.add(op, f"{name}_s", rec["end"] - rec["start"])

    def add(self, op: str, key: str, value: float) -> None:
        if self.enabled:
            self.layers[op][key] += value

    def merge(self, op: str, values: dict[str, float]) -> None:
        for k, v in values.items():
            self.add(op, k, v)
