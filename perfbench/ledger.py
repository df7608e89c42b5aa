"""Outside-in layer ledger: spans, Spark status-store readings, RSS sampling.

Nothing here touches engine internals.  Each timed call runs under its own
Spark job group; afterwards the group's jobs, stages and tasks are read
back from the status store (``sc._jsc.sc().statusStore()``) and hung
under the call's span as child spans.  Stages are attributed to repo
modules by their call site, which PySpark sets to the first frame
outside pyspark (``collect at .../xgboost_spark/plans/barrier.py:1017``).
Catalyst phase times and Python-node SQL metrics are read from the
DataFrames the benchmark itself holds.

All times are epoch seconds so spans and status-store dates line up.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import re
import threading
import time

_MODULE_RE = re.compile(r"xgboost_spark/([\w/]+)\.py")
_PY_METRICS = ("pythonTotalTime", "pythonBootTime", "pythonInitTime",
               "pythonDataSent", "pythonDataReceived", "pythonNumRowsReceived")


def call_site_module(stage_name: str, default: str) -> str:
    m = _MODULE_RE.search(stage_name)
    return m.group(1).replace("/", ".") if m else default


def _epoch(opt_date) -> float | None:
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else None


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """In-memory span recorder.  With ``enabled=False`` it still tags job
    groups (cheap, and it keeps the traced and untraced runs on the same
    code path) but reads nothing back and keeps no spans."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._jvm_map = self.sc._jvm.scala.jdk.javaapi.CollectionConverters

    # -- spans ---------------------------------------------------------
    def add(self, name: str, start: float, end: float, parent: int | None,
            op: int | None, layer: str, **attrs) -> int:
        sid = next(self._ids)
        if self.enabled:
            self.spans.append({"id": sid, "op": op, "parent": parent,
                               "name": name, "layer": layer,
                               "start": start, "end": end, **attrs})
        return sid

    @contextlib.contextmanager
    def op(self, name: str, layer: str):
        """One operation: its own span, op id and Spark job group.  Yields a
        dict the caller may fill with attributes; after the call the
        group's jobs and stages become child spans."""
        op_id = next(self._ids)
        group = f"perfbench-{op_id}-{name}"
        self.sc.setJobGroup(group, name, False)
        box = {"op": op_id, "attrs": {}}
        start = time.time()
        try:
            yield box
        finally:
            end = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            if self.enabled:
                self.spans.append({"id": op_id, "op": op_id, "parent": None,
                                   "name": name, "layer": layer,
                                   "start": start, "end": end,
                                   **box["attrs"]})
                self._attach_jobs(group, op_id, layer)

    @contextlib.contextmanager
    def call(self, box: dict, name: str, layer: str):
        """A timed call inside an operation (e.g. building a plan)."""
        start = time.time()
        try:
            yield
        finally:
            self.add(name, start, time.time(), box["op"], box["op"], layer)

    # -- status store --------------------------------------------------
    def _attach_jobs(self, group: str, op_id: int, default_layer: str):
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        calls = [s for s in self.spans if s["op"] == op_id and s["parent"] == op_id]
        seen: set[int] = set()
        for jid in sorted(tracker.getJobIdsForGroup(group)):
            jd = store.job(jid)
            js, je = _epoch(jd.submissionTime()), _epoch(jd.completionTime())
            if js is None or je is None:
                continue
            # a job's parent is the timed call it was submitted from
            parent = next((c["id"] for c in calls if c["start"] <= js <= c["end"]), op_id)
            job_span = self.add(f"job {jid}", js, je, parent, op_id, "spark.job",
                                job_id=jid, status=str(jd.status()))
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                if sid not in seen:         # a stage shared by jobs counts once
                    seen.add(sid)
                    self._attach_stage(store, sid, job_span, op_id, default_layer)

    def _attach_stage(self, store, sid: int, parent: int, op_id: int,
                      default_layer: str):
        try:
            st = store.lastStageAttempt(sid)
        except Exception:       # evicted or never submitted
            return
        s, e = _epoch(st.submissionTime()), _epoch(st.completionTime())
        if s is None or e is None:      # skipped stage (reused shuffle)
            return
        tasks = []
        tl = store.taskList(sid, st.attemptId(), 100000)
        for i in range(tl.size()):
            t = tl.apply(i)
            tm = t.taskMetrics()
            rec_in = rec_sh = 0
            if tm.isDefined():
                rec_in = tm.get().inputMetrics().recordsRead()
                rec_sh = tm.get().shuffleReadMetrics().recordsRead()
            tasks.append({"index": t.index(), "launch": t.launchTime().getTime() / 1000.0,
                          "status": t.status(), "input_records": rec_in,
                          "shuffle_read_records": rec_sh})
        name = st.name()
        self.add(f"stage {sid}", s, e, parent, op_id,
                 call_site_module(name, default_layer),
                 stage_id=sid, call_site=name,
                 num_tasks=st.numTasks(), failed_tasks=st.numFailedTasks(),
                 run_ms=st.executorRunTime(), cpu_ns=st.executorCpuTime(),
                 gc_ms=st.jvmGcTime(), input_bytes=st.inputBytes(),
                 input_records=st.inputRecords(),
                 shuffle_read_records=st.shuffleReadRecords(),
                 shuffle_write_bytes=st.shuffleWriteBytes(),
                 spill_bytes=st.memoryBytesSpilled() + st.diskBytesSpilled(),
                 tasks=tasks)

    # -- DataFrame-held readings ---------------------------------------
    def catalyst_ms(self, df) -> float:
        """Analysis + optimization + planning time of ``df``'s query."""
        phases = self._jvm_map.asJava(df._jdf.queryExecution().tracker().phases())
        return float(sum(phases.get(k).durationMs() for k in phases.keySet()
                         if k in ("analysis", "optimization", "planning")))

    def python_metrics(self, df) -> dict[str, float]:
        """Summed SQL metrics of the Python-evaluation nodes of ``df``'s
        executed plan (ArrowEvalPython and friends)."""
        out = dict.fromkeys(_PY_METRICS, 0.0)

        def walk(node):
            cls = node.getClass().getSimpleName()
            ms = self._jvm_map.asJava(node.metrics())
            if ms.containsKey("pythonTotalTime"):
                for k in _PY_METRICS:
                    if ms.containsKey(k):
                        out[k] += float(ms.get(k).value())
            if cls == "AdaptiveSparkPlanExec":
                walk(node.executedPlan())
                return
            if cls.endswith("QueryStageExec"):
                walk(node.plan())
                return
            ch = node.children()
            for i in range(ch.size()):
                walk(ch.apply(i))

        walk(df._jdf.queryExecution().executedPlan())
        return out

    def storage(self) -> tuple[int, int]:
        """(cached RDD blocks, bytes) still held by the block manager."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return (sum(r.numCachedPartitions() for r in infos),
                sum(r.memSize() + r.diskSize() for r in infos))

    # -- derived views -------------------------------------------------
    def stages(self, op_ids=None) -> list[dict]:
        return [s for s in self.spans if "stage_id" in s
                and (op_ids is None or s["op"] in op_ids)]

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: span duration minus the part of it that
        its child spans cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["parent"] != s["id"]:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered = union_length(kids.get(s["id"], []), s["start"], s["end"])
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"] - covered)
        return out


class RssSampler:
    """Peak resident memory of this process and all its descendants (driver
    Python, the JVM it launched, the JVM's Python workers), from /proc."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_bytes = 0
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self):
        self._thread.start()

    def stop(self):
        self._stop.set()
        self._thread.join()

    def _run(self):
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self.tree_rss())
            self._stop.wait(self.period)

    def tree_rss(self) -> int:
        total = 0
        for pid in descendants(os.getpid()) + [os.getpid()]:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_times() -> list[int]:
    """Machine-wide CPU jiffies from /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0
