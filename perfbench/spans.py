"""Spans around calls into the package's layers, with Spark and process
counters, for the traced run.

A span is opened from the benchmark's own code around one call into a
layer. It sets a Spark job group named after the span, so that every
job the call starts is attributed to it. When the span closes, the
jobs and stages of that group are read from Spark's status store and
the CPU time of the JVM and of the Python worker daemon subtree is
read from /proc. Spans stay in memory until the run writes them out.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, str, int, int]]:
    """pid -> (parent pid, command line, own CPU ticks, reaped children's
    CPU ticks)."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:  # exited while listing
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        # fields[0] is state (stat field 3); utime..cstime are fields 14-17
        own = int(fields[11]) + int(fields[12])
        reaped = int(fields[13]) + int(fields[14])
        table[int(name)] = (int(fields[1]), cmd, own, reaped)
    return table


def _descendants(table: dict, root: int) -> list[int]:
    out, frontier = [], [root]
    while frontier:
        pid = frontier.pop()
        kids = [p for p, row in table.items() if row[0] == pid]
        out.extend(kids)
        frontier.extend(kids)
    return out


def process_cpu() -> tuple[float, float]:
    """(JVM CPU s, Python worker CPU s) of this process's Spark.

    The JVM is the descendant running java; the workers are the
    `pyspark.daemon` subtree under it. Workers that already exited are
    counted through the daemon's reaped-children time."""
    table = _proc_table()
    mine = _descendants(table, os.getpid())
    jvm = [p for p in mine if "java" in table[p][1].split(" ", 1)[0]]
    jvm_ticks = sum(table[p][2] for p in jvm)
    daemons = [p for p in mine if "pyspark.daemon" in table[p][1]
               and "pyspark.daemon" not in table[table[p][0]][1]]
    py_ticks = 0
    for d in daemons:
        py_ticks += table[d][2] + table[d][3]
        py_ticks += sum(table[p][2] for p in _descendants(table, d))
    return jvm_ticks / _CLK_TCK, py_ticks / _CLK_TCK


def _java_map(sc, scala_map) -> dict:
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_map)
    return {k: conv.get(k) for k in conv.keySet()}


def _java_list(sc, scala_seq) -> list:
    return list(sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))


class Tracer:
    """Collects spans (name, start, end, counters) for one run."""

    def __init__(self, spark=None):
        self.spark = spark  # set once the session exists
        self.spans: list[dict] = []
        self._seq = 0

    @contextmanager
    def span(self, name: str, op: int | None = None):
        """Span around one layer call. A span opened before the session
        exists (session.start) has no job group and no Spark counters."""
        self._seq += 1
        group = f"{name}#{self._seq}" if self.spark is not None else None
        if group:
            self.spark.sparkContext.setJobGroup(group, name, False)
        cpu0 = process_cpu()
        record = {"name": name, "op": op, "group": group}
        t0 = time.time()
        try:
            yield record
        finally:
            t1 = time.time()
            cpu1 = process_cpu()
            record.update(start=t0, end=t1, s=t1 - t0,
                          jvm_cpu_s=cpu1[0] - cpu0[0],
                          pyworker_cpu_s=cpu1[1] - cpu0[1])
            if group:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                record.update(self._spark_counters(group, t0, t1))
            else:
                record.update(jobs=0, tasks=0, executor_run_s=0.0, shuffle_bytes=0,
                              spill_bytes=0, driver_gap_s=t1 - t0, job_ids=[])
            self.spans.append(record)

    def _spark_counters(self, group: str, t0: float, t1: float) -> dict:
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        job_ids = sorted(sc.statusTracker().getJobIdsForGroup(group))
        jobs = [self._finished_job(store, j) for j in job_ids]
        tasks = run_ms = shuffle = spill = 0
        stages = set()
        intervals = []
        for jd in jobs:
            tasks += jd.numCompletedTasks() + jd.numFailedTasks()
            start = jd.submissionTime().get().getTime() / 1000.0
            end = jd.completionTime().get().getTime() / 1000.0
            intervals.append((max(start, t0), min(end, t1)))
            stages.update(int(s) for s in _java_list(sc, jd.stageIds()))
        for s in sorted(stages):
            sd = store.lastStageAttempt(s)
            if sd.status().toString() != "COMPLETE":
                continue
            run_ms += sd.executorRunTime()
            shuffle += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
            spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return {
            "jobs": len(jobs),
            "tasks": tasks,
            "executor_run_s": run_ms / 1000.0,
            "shuffle_bytes": shuffle,
            "spill_bytes": spill,
            "driver_gap_s": (t1 - t0) - _covered(intervals),
            "job_ids": job_ids,
        }

    @staticmethod
    def _finished_job(store, job_id: int, timeout_s: float = 10.0):
        """The job's status-store record once its end event arrived (the
        listener bus delivers it after the action already returned)."""
        deadline = time.time() + timeout_s
        while True:
            jd = store.job(job_id)
            if jd.completionTime().isDefined() or time.time() > deadline:
                return jd
            time.sleep(0.01)

    def _executions(self, record: dict):
        """For each SQL execution that ran the span's jobs: its plan
        nodes by id, the child ids of each node (in plan order) and a
        function (node, metric name) -> value, None if the node has no
        such metric."""
        sc = self.spark.sparkContext
        ss = self.spark._jsparkSession.sharedState().statusStore()
        span_jobs = set(record["job_ids"])
        # the span's executions are among the most recent ones
        n = ss.executionsCount()
        tail = min(n, 2 * len(span_jobs) + 16)
        for e in _java_list(sc, ss.executionsList(n - tail, tail)):
            if not span_jobs & {int(j) for j in _java_map(sc, e.jobs())}:
                continue
            values = _java_map(sc, ss.executionMetrics(e.executionId()))
            graph = ss.planGraph(e.executionId())
            nodes = {int(nd.id()): nd for nd in _java_list(sc, graph.allNodes())}
            children: dict[int, list[int]] = {}
            for edge in _java_list(sc, graph.edges()):
                children.setdefault(int(edge.toId()), []).append(int(edge.fromId()))

            def metric(node, name: str, values=values) -> int | None:
                for m in _java_list(sc, node.metrics()):
                    if m.name() == name:
                        return int(str(values.get(m.accumulatorId()) or "0").replace(",", ""))
                return None

            yield nodes, children, metric

    def sql_join_rows(self, record: dict, desc_has: tuple[str, ...]) -> int:
        """Sum of 'number of output rows' over the executed-plan join
        nodes whose description contains every string in `desc_has`, in
        the SQL executions that ran the span's jobs."""
        total = 0
        for nodes, _children, metric in self._executions(record):
            for node in nodes.values():
                if node.name().endswith("Join") and all(s in node.desc() for s in desc_has):
                    total += metric(node, "number of output rows") or 0
        return total

    def sql_cogroup_left_rows(self, record: dict) -> int:
        """Rows that the executed plans' pandas cogroup nodes read from
        their first (left) input, summed over the SQL executions that ran
        the span's jobs. The count is taken from the first node down that
        input which counts rows: the 'records read' of the shuffle that
        groups them, or a node's 'number of output rows'."""
        total = 0
        for nodes, children, metric in self._executions(record):
            for nid, node in nodes.items():
                if node.name() != "FlatMapCoGroupsInPandas":
                    continue
                cur = children[nid][0]
                while True:
                    rows = metric(nodes[cur], "records read")
                    if rows is None:
                        rows = metric(nodes[cur], "number of output rows")
                    if rows is not None or not children.get(cur):
                        break
                    cur = children[cur][0]
                total += rows or 0
        return total


class NullTracer:
    """Stand-in for the untraced run: spans record nothing."""

    spark = None

    @contextmanager
    def span(self, name: str, op: int | None = None):
        yield {}


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
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
