"""Spans, Spark SQL metrics and process probes for the benchmark.

A span covers one call into a module's public function.  Spark is lazy,
so a traced layer call *materialises* that function's output: the
benchmark runs the child layers' outputs first (e.g. ``join_tiles``),
then the operator itself (``point_elevation``), each under its own span
and Spark job group.  A span's self time is its duration minus its
children's, i.e. the work the layer adds on top of the layers it
consumes; summed over one call's tree the self times equal the
operator's own materialisation.

Counts and bytes come from Spark's SQL metrics, read off each executed
plan after its action: the AQE final plan, its query stages, their
nodes.  Spans are kept in memory and written out when the run ends.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from dataclasses import asdict, dataclass, field

_PYTHON_NODES = ("MapInPandas", "MapInArrow", "PythonMapInArrow",
                 "ArrowEvalPython", "FlatMapGroupsInPandas",
                 "FlatMapCoGroupsInPandas")


@dataclass
class Span:
    id: int
    name: str
    call: int
    parent: int | None
    start: float
    end: float = 0.0
    rows: int | None = None
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    job_s: float = 0.0
    metrics: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; one ``call`` id per operator call or
    request."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._calls = itertools.count(1)

    def new_call(self) -> int:
        return next(self._calls)

    def run(self, name: str, call: int, action, read_plan=None):
        """Run ``action()`` under a new span and Spark job group; after it,
        attach the job/stage/task counts and, when ``read_plan`` is given,
        the SQL metrics of the Java DataFrame it returns for the result.
        Returns (span, result).  Child layers run before their operator,
        so the caller sets their ``parent`` once the operator's span
        exists."""
        sid = next(self._ids)
        group = f"perfbench-{sid}"
        self.sc.setJobGroup(group, name)
        span = Span(sid, name, call, None, time.perf_counter())
        try:
            out = action()
        finally:
            span.end = time.perf_counter()
            self.sc.setJobGroup(None, None)
        self._job_counts(span, group)
        if read_plan is not None:
            span.metrics = plan_metrics(self.sc, read_plan(out))
        self.spans.append(span)
        return span, out

    def _job_counts(self, span: Span, group: str) -> None:
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        first, last = None, None
        for jid in st.getJobIdsForGroup(group):
            span.jobs += 1
            info = st.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                s = st.getStageInfo(sid)
                if s is not None and s.numCompletedTasks > 0:
                    span.stages += 1
                    span.tasks += s.numCompletedTasks
            job = store.job(jid)
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                a = job.submissionTime().get().getTime()
                b = job.completionTime().get().getTime()
                first = a if first is None else min(first, a)
                last = b if last is None else max(last, b)
        if first is not None:
            span.job_s = (last - first) / 1000.0

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        return span.dur - sum(c.dur for c in self.children(span))

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) | {"self_s": self.self_time(s)} for s in self.spans], f)


def plan_metrics(sc, jdf, into_cache: bool = False) -> dict:
    """Sum of the executed plan's SQL metrics by layer kind.

    ``into_cache`` also walks the plan that filled an in-memory cache
    during this action (set-up materialisations); otherwise cached
    relations are leaves, as their metrics belong to the action that
    built them."""
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    acc = {"py_sent_bytes": 0, "py_recv_bytes": 0, "py_boot_s": 0.0,
           "py_init_s": 0.0, "py_total_s": 0.0, "exchange_bytes": 0,
           "exchange_rows": 0, "shuffle_write_s": 0.0, "spill_bytes": 0}
    stack = [jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue
        if cls == "InMemoryTableScanExec":
            if into_cache:
                stack.append(node.relation().cachedPlan())
            continue
        name = node.nodeName()
        if name in _PYTHON_NODES or name == "Exchange" or "Aggregate" in name:
            m = {k: v.value() for k, v in conv.asJava(node.metrics()).items()}
            # Python times are "timing" metrics (ms), shuffle write time
            # is "nsTiming" (ns)
            if name in _PYTHON_NODES:
                acc["py_sent_bytes"] += m.get("pythonDataSent", 0)
                acc["py_recv_bytes"] += m.get("pythonDataReceived", 0)
                acc["py_boot_s"] += m.get("pythonBootTime", 0) / 1e3
                acc["py_init_s"] += m.get("pythonInitTime", 0) / 1e3
                acc["py_total_s"] += m.get("pythonTotalTime", 0) / 1e3
            elif name == "Exchange":
                acc["exchange_bytes"] += m.get("dataSize", 0)
                acc["exchange_rows"] += m.get("recordsRead", 0)
                acc["shuffle_write_s"] += m.get("shuffleWriteTime", 0) / 1e9
            else:
                acc["spill_bytes"] += m.get("spillSize", 0)
        stack.extend(conv.asJava(node.children()))
    return acc


def gc_seconds(sc) -> float:
    """Cumulative JVM garbage-collection time (all collectors)."""
    beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def heap_live_bytes(sc) -> int:
    """JVM heap in use right after a full collection: what the session
    holds on to (caches, broadcasts, plan and status state)."""
    jvm = sc._jvm
    jvm.java.lang.System.gc()
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean() \
        .getHeapMemoryUsage().getUsed()


def action_overhead_s(spark, reps: int = 15) -> float:
    """Median wall time of a trivial one-row action: the per-action fixed
    cost of planning, job submission and result return."""
    xs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        spark.range(1).count()
        xs.append(time.perf_counter() - t0)
    return sorted(xs)[len(xs) // 2]


# --- process tree ---------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


class RssSampler:
    """Samples the resident memory of this process and all its
    descendants (the JVM and its Python workers) on a background thread;
    keeps the peak of the whole tree, the peak of its Python processes
    (this one and the workers) and every pid it has seen."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self.python_peak = 0
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            pids = descendants(me)
            self.seen.update(pids)
            rss = {p: _rss_bytes(p) for p in [me, *pids]}
            self.peak = max(self.peak, sum(rss.values()))
            self.python_peak = max(self.python_peak, rss[me] + sum(
                v for p, v in rss.items() if p != me and _is_python(p)))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
