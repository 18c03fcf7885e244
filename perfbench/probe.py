"""Measurements taken from outside the engine.

- :class:`ProcTree` reads ``/proc`` for the CPU time and resident memory
  of the Spark JVM and every process below it (the Python workers).
- :class:`RssSampler` polls that tree from a thread and keeps the peak.
- :func:`group_stages` / :func:`group_plan_nodes` read what Spark's own
  status stores keep about the jobs of one job group: per-stage task
  metrics, and the SQL metrics of each executed plan node. Both work
  with the UI disabled.
- :class:`Tracer` keeps spans (name, start, end, parent) in memory and
  writes them out once, at the end of a traced run.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


class ProcTree:
    """The process ``root`` and all its live descendants."""

    def __init__(self, root: int):
        self.root = root

    def pids(self) -> list[int]:
        parent = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            parent[int(entry)] = int(stat[stat.rindex(")") + 2:].split()[1])
        tree, frontier = [self.root], [self.root]
        while frontier:
            frontier = [p for p, pp in parent.items() if pp in frontier]
            tree.extend(frontier)
        return tree

    def cpu_s(self) -> float:
        """utime+stime of every live process, plus what each has collected
        from its reaped children (cutime+cstime), less the root's JIT
        compiler threads: HotSpot is still compiling a minute into a run,
        and that work, which a long-lived JVM amortises, varies from run
        to run. The JVM is started with a fixed set of compiler threads,
        so none exits taking its time into the process total."""
        ticks = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            ticks += sum(int(x) for x in fields[11:15])
        return (ticks - jit_ticks(self.root)) / CLK_TCK

    def rss_bytes(self) -> int:
        total = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * PAGE
            except OSError:
                continue
        return total


def jit_ticks(pid: int) -> int:
    """CPU ticks of the HotSpot JIT compiler threads of process ``pid``."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        name = stat[stat.index("(") + 1:stat.rindex(")")]
        if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
            ticks += sum(int(x) for x in stat.rsplit(")", 1)[1].split()[11:13])
    return ticks


class RssSampler:
    """Peak summed RSS of a :class:`ProcTree`, polled while running."""

    def __init__(self, tree: ProcTree, period_s: float = 0.05):
        self.tree, self.period_s = tree, period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.tree.rss_bytes())
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self.tree.rss_bytes())


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the host from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------

def _seq(jvm, scala_seq) -> list:
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))


def group_stage_data(spark, group: str) -> list:
    """The final StageData of every completed stage of a job group."""
    tracker = spark.sparkContext.statusTracker()
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        for sid in info.stageIds if info else ():
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # never submitted (skipped) or pruned from the store
                continue
            if st.status().toString() == "COMPLETE":
                out.append(st)
    return out


def group_stages(spark, group: str) -> dict:
    """Task metrics summed over a job group's stages; ``skew`` is max over
    median task time in the stage with the most task time."""
    jvm = spark._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    agg = {"task_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0,
           "shuffle_read_mb": 0.0, "spill_mb": 0.0, "input_rows": 0,
           "peak_exec_mem_mb": 0.0, "tasks": 0, "skew": 1.0, "max_task_s": 0.0}
    heaviest = None
    quantiles = spark.sparkContext._gateway.new_array(jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    for st in group_stage_data(spark, group):
        run_s = st.executorRunTime() / 1e3
        agg["task_s"] += run_s
        agg["cpu_s"] += st.executorCpuTime() / 1e9
        agg["gc_s"] += st.jvmGcTime() / 1e3
        agg["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
        agg["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
        agg["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
        agg["input_rows"] += st.inputRecords()
        agg["peak_exec_mem_mb"] = max(agg["peak_exec_mem_mb"], st.peakExecutionMemory() / 1e6)
        agg["tasks"] += st.numCompleteTasks()
        summary = store.taskSummary(st.stageId(), st.attemptId(), quantiles)
        if summary.isDefined():
            runs = _seq(jvm, summary.get().executorRunTime())
            agg["max_task_s"] = max(agg["max_task_s"], runs[1] / 1e3)
            if heaviest is None or run_s > heaviest[0]:
                heaviest = (run_s, runs[1] / max(runs[0], 1.0))
    if heaviest is not None:
        agg["skew"] = heaviest[1]
    return agg


_INT = re.compile(r"^[\d,]+$")


def sql_executions(spark) -> int:
    """How many SQL executions the session has recorded so far."""
    return spark._jsparkSession.sharedState().statusStore().executionsCount()


def group_plan_nodes(spark, group: str, since: int = 0) -> list[tuple[str, str, dict]]:
    """(node name, node description, {metric: value}) for every node of
    every SQL execution, from number ``since`` on, that ran a job of the
    group. Only plain integer metrics (row and file counts) are kept."""
    jvm = spark._jvm
    jobs = set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
    sql = spark._jsparkSession.sharedState().statusStore()
    out = []
    for ex in _seq(jvm, sql.executionsList(since, sql.executionsCount() - since)):
        ex_jobs = {int(j) for j in _seq(jvm, ex.jobs().keys().toList())}
        if not ex_jobs & jobs:
            continue
        values = sql.executionMetrics(ex.executionId())
        for node in _seq(jvm, sql.planGraph(ex.executionId()).allNodes()):
            metrics = {}
            for m in _seq(jvm, node.metrics()):
                v = values.get(m.accumulatorId())
                if v.isDefined() and _INT.match(v.get()):
                    metrics[m.name()] = int(v.get().replace(",", ""))
            out.append((node.name(), node.desc(), metrics))
    return out


class GroupProbe:
    """What the status stores hold about one traced step's job group."""

    def __init__(self, spark, group: str):
        self.spark, self.group = spark, group
        self.since = sql_executions(spark)

    def stages(self) -> dict:
        return group_stages(self.spark, self.group)

    def nodes(self) -> list[tuple[str, str, dict]]:
        return group_plan_nodes(self.spark, self.group, self.since)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory spans; one root per traced job."""

    def __init__(self):
        self.spans: list[dict] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": parent,
               "start": time.perf_counter() - self._t0, "end": None}
        self.spans.append(rec)
        try:
            yield sid
        finally:
            rec["end"] = time.perf_counter() - self._t0

    def duration(self, sid: int) -> float:
        return self.spans[sid]["end"] - self.spans[sid]["start"]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
