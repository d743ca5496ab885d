"""Memory sampling and span tracing for the benchmark.

``RssSampler`` reads the resident memory of the Spark JVM and every
process below it (the Python worker daemon and its workers) from /proc.

``Tracer`` records one span per public call the benchmark makes (name,
start, end, parent, run id) and tags the call's Spark jobs with the
span's id as their job group, so the stage and SQL metrics Spark keeps
in its own status stores can be attributed to spans afterwards.  Spans
stay in memory and are written once, at the end of the traced run.
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from contextlib import contextmanager, nullcontext

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map():
    kids = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def rss_bytes(pids) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:  # the process ended between listing and reading
            pass
    return total


class RssSampler:
    """Peak summed RSS of a process tree, sampled every ``interval`` s;
    the tree is re-listed every ``relist`` s to catch new workers."""

    def __init__(self, root_pid: int, interval: float = 0.05, relist: float = 0.5):
        self.root = root_pid
        self.interval, self.relist = interval, relist
        self.peak_bytes = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        pids, listed = [], 0.0
        while not self._stop.is_set():
            now = time.monotonic()
            if now - listed >= self.relist:
                pids, listed = process_tree(self.root), now
            rss = rss_bytes(pids)
            with self._lock:
                self.peak_bytes = max(self.peak_bytes, rss)
            self._stop.wait(self.interval)

    def take_peak(self) -> int:
        """Peak since the last call, then start a new window."""
        with self._lock:
            peak, self.peak_bytes = self.peak_bytes, 0
        return peak

    def start(self):
        self._thread.start()

    def stop(self):
        self._stop.set()
        self._thread.join()


class NullTracer:
    """Untraced runs: spans cost nothing and record nothing."""

    enabled = False

    def span(self, name: str):
        return nullcontext()


_UNITS = {"": 1.0, "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
          "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def parse_sql_metric(text: str | None) -> float:
    """Value of one SQL UI metric string: "1,234", "12.3 MiB", "1.5 s" or
    "total (min, med, max ...)\n12.3 MiB (...)".  Bytes come back as
    bytes, times as seconds, counts as counts."""
    if not text:
        return 0.0
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", text.split("\n")[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class Tracer(NullTracer):
    """Spans around the benchmark's calls into the engine.  Each span
    sets the Spark job group to its id; ``stats`` reads the status
    stores once, after the traced work, and sums what the span's jobs
    (its own and its children's) did."""

    def __init__(self, spark, workload: str, run_id: str):
        self.spark, self.sc = spark, spark.sparkContext
        self.workload, self.run_id = workload, run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._cache = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": f"{self.run_id}.{len(self.spans)}", "name": name,
               "parent": parent["id"] if parent else None, "run": self.run_id,
               "workload": self.workload, "start": time.time()}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                for key in ("spark.jobGroup.id", "spark.job.description"):
                    self.sc.setLocalProperty(key, None)
            self._cache = None

    def _read_stores(self):
        """job group -> stage data and SQL plan nodes, read through py4j
        from AppStatusStore and SQLAppStatusStore."""
        sc, jvm = self.sc, self.sc._jvm
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        store = sc._jsc.sc().statusStore()
        group_of = {}
        for j in conv.asJava(store.jobsList(None)):
            g = j.jobGroup()
            group_of[j.jobId()] = (g.get() if g.isDefined() else None,
                                   list(conv.asJava(j.stageIds())))
        stages = {}
        for s in conv.asJava(store.stageList(None, False, False,
                                             sc._gateway.new_array(jvm.double, 0),
                                             jvm.java.util.ArrayList())):
            stages[(s.stageId(), s.attemptId())] = s
        sql = self.spark._jsparkSession.sharedState().statusStore()
        nodes = {}
        for e in conv.asJava(sql.executionsList()):
            groups = {group_of.get(int(j), (None, []))[0] for j in conv.asJava(e.jobs()).keySet()}
            groups.discard(None)
            if not groups:
                continue
            vals = conv.asJava(sql.executionMetrics(e.executionId()))
            found = []
            for n in conv.asJava(sql.planGraph(e.executionId()).allNodes()):
                ms = {m.name(): parse_sql_metric(vals.get(m.accumulatorId()))
                      for m in conv.asJava(n.metrics())}
                found.append((n.name(), ms))
            for g in groups:
                nodes.setdefault(g, []).append(found)
        return group_of, stages, nodes, store, conv

    def _ids_under(self, rec) -> set:
        ids, todo = set(), [rec["id"]]
        while todo:
            i = todo.pop()
            ids.add(i)
            todo.extend(s["id"] for s in self.spans if s["parent"] == i)
        return ids

    def stats(self, rec) -> dict:
        """Totals of one span and its children: wall and task time,
        GC, spill, shuffle write, bytes returned to the driver, the task
        skew of its heaviest stage, and the SQL plan nodes of every query
        it ran (one list of (node name, metrics) per query)."""
        if self._cache is None:
            self._cache = self._read_stores()
        group_of, stages, nodes, store, conv = self._cache
        ids = self._ids_under(rec)
        sids = {sid for g, ss in group_of.values() if g in ids for sid in ss}
        st = [s for (sid, _), s in stages.items() if sid in sids]
        out = {
            "wall_s": rec.get("wall_s", 0.0),
            "task_s": sum(s.executorRunTime() for s in st) / 1e3,
            "gc_s": sum(s.jvmGcTime() for s in st) / 1e3,
            "spill_bytes": sum(s.memoryBytesSpilled() + s.diskBytesSpilled() for s in st),
            "shuffle_write_bytes": sum(s.shuffleWriteBytes() for s in st),
            "result_bytes": sum(s.resultSize() for s in st),
            "execs": [e for i in ids for e in nodes.get(i, [])],
            "task_skew": 1.0,
        }
        if st:
            heavy = max(st, key=lambda s: s.executorRunTime())
            tasks = conv.asJava(store.taskList(heavy.stageId(), heavy.attemptId(), 100000))
            d = [t.duration().get() for t in tasks if t.duration().isDefined()]
            if d and statistics.median(d) > 0:
                out["task_skew"] = max(d) / statistics.median(d)
        return out

    def find(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


def node_sum(stats: dict, metric: str) -> float:
    return sum(ms.get(metric, 0.0) for e in stats["execs"] for _, ms in e)


def join_nodes(stats: dict, with_node: str | None = None) -> list:
    """(name, output rows) of every join node, optionally only in the
    queries that also ran a node named ``with_node``."""
    out = []
    for e in stats["execs"]:
        if with_node and not any(n == with_node for n, _ in e):
            continue
        out += [(n, ms.get("number of output rows", 0.0)) for n, ms in e if n.endswith("Join")]
    return out
