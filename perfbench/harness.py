"""Process-level plumbing for the benchmark: the Spark session and its
teardown, host probes, peak-RSS sampling, span tracing, and the readers
for Spark's own job, stage and SQL metric stores.

Nothing here times a workload; ``run.py`` owns the timed windows and
calls these helpers outside them.
"""

from __future__ import annotations

import os
import re
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_build", "perfbench")


DRIVER_MEM = "2g"


def host_env(driver_mem: str = DRIVER_MEM) -> None:
    """Host settings, set only in this process's environment before the
    JVM starts: every core, a driver heap that fits a small host, scratch
    dirs inside the checkout, and a PYTHONPATH so Python workers can
    import the package."""
    os.makedirs(os.path.join(WORK, "local"), exist_ok=True)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEM"] = driver_mem
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark(app: str):
    from towhee_spark.session import get_spark  # noqa: PLC0415

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    tmp = os.path.join(WORK, "tmp")
    return get_spark(app, master=f"local[{cpus}]", shuffle_partitions=cpus, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # A fixed-size, pre-touched heap: G1 otherwise grows it by
        # pause-time feedback, and a workload that uses little heap touches
        # a varying part of it; either way peak RSS varied by 20-30%
        # between runs of one workload.
        "spark.driver.extraJavaOptions":
            f"-Xms{os.environ['SPARK_DRIVER_MEM']} -XX:+AlwaysPreTouch "
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit
    (the JVM's Python workers exit with it)."""
    from pyspark import SparkContext  # noqa: PLC0415

    gw = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid  # noqa: SLF001


# -- host probes -------------------------------------------------------------

def host_speed_probe() -> float:
    """Seconds for a fixed single-core Python loop (the same canary
    ``bench.py`` records); a degraded host window shows as a larger value."""
    t0 = time.perf_counter()
    x = 0
    for i in range(10**7):
        x += i
    return time.perf_counter() - t0


def cpu_sample() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def cpu_pcts(a: list[int], b: list[int]) -> dict[str, float]:
    d = [y - x for x, y in zip(a, b)]
    tot = sum(d) or 1
    return {"user_pct": 100 * (d[0] + d[1]) / tot, "sys_pct": 100 * d[2] / tot,
            "steal_pct": 100 * d[7] / tot}


class RssSampler:
    """Peak resident memory of a process tree (the JVM and the Python
    workers it forks), sampled from /proc on a background thread. Each
    process counts its proportional set size, so pages that forked
    processes share are counted once, not once per process.

    ``live_heap`` (optional, see ``live_heap_reader``) is sampled on the
    same thread, and its peak kept too."""

    def __init__(self, pid: int, period: float = 0.2, live_heap=None):
        self.pid, self.period, self.live_heap = pid, period, live_heap
        self.peak_bytes = 0
        self.peak_live_heap_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _pss(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except (OSError, ValueError, IndexError):
            pass
        return 0

    def _tree_pss(self) -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [self.pid]
        while todo:
            p = todo.pop()
            todo.extend(children.get(p, []))
            total += self._pss(p)
        return total

    def _sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, self._tree_pss())
        if self.live_heap is not None:
            self.peak_live_heap_bytes = max(self.peak_live_heap_bytes, self.live_heap())

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def live_heap_reader(spark):
    """A function returning the JVM heap in use right after the latest
    garbage collection, in bytes: the sum of each heap pool's
    collection usage. Unlike the heap in use at an arbitrary moment, it
    does not depend on how full the young generation happened to be."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory  # noqa: SLF001
    heap = mf.getMemoryPoolMXBeans()
    pools = [heap.get(i) for i in range(heap.size())
             if str(heap.get(i).getType()) == "Heap memory"]

    def read() -> int:
        return sum(u.getUsed() for u in (p.getCollectionUsage() for p in pools)
                   if u is not None)
    return read


# -- spans -------------------------------------------------------------------

@dataclass
class Span:
    idx: int
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int
    group: str


@dataclass
class Tracer:
    """Spans around the benchmark's calls into each layer. When enabled,
    every span also sets its own Spark job group, so the jobs a layer
    launches can be attributed to it afterwards. Disabled, a span costs
    one attribute check."""

    sc: object = None
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    op_id: int = -1
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        group = f"perfbench:{self.op_id}:{idx}:{name}"
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(idx, name, time.time(), 0.0, parent, self.op_id, group))
        self._stack.append(idx)
        self.sc.setJobGroup(group, name)
        try:
            yield
        finally:
            self.spans[idx].end = time.time()
            self._stack.pop()
            if self._stack:
                p = self.spans[self._stack[-1]]
                self.sc.setJobGroup(p.group, p.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def op_spans(self, op_id: int) -> list[Span]:
        return [s for s in self.spans if s.op_id == op_id]


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: duration minus the part of it its child spans
    cover (children of one span never overlap: the Spark driver program
    is one thread)."""
    out: dict[str, float] = {}
    for s in spans:
        child = sum(c.end - c.start for c in spans if c.parent == s.idx)
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child
    return out


# -- Spark metric stores -------------------------------------------------------

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40, "PiB": 2**50}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM_UNIT = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str, metric_type: str) -> float:
    """A SQL metric's display string as a number: sizes in bytes, timings
    in seconds, counts as counts. Multi-task metrics read
    ``"total (min, med, max ...)\\n<total> (...)"``; the total is used."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _NUM_UNIT.match(text)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if metric_type == "size":
        return v * _SIZE.get(unit, 1)
    if metric_type in ("timing", "nsTiming"):
        return v * _TIME.get(unit, 1e-3)
    return v


@dataclass
class PlanNode:
    name: str
    metrics: dict[str, float]


class SparkStores:
    """Reads Spark's status stores (works with ``spark.ui.enabled=false``).
    Every read waits for the listener bus first, so the stores hold every
    event of the work that just finished."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.gw = self.sc._gateway  # noqa: SLF001
        self.jsc = self.sc._jsc.sc()  # noqa: SLF001
        self.sql = spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def last_execution_id(self) -> int:
        self.drain()
        execs = self.sql.executionsList()
        return execs.apply(execs.size() - 1).executionId() if execs.size() else -1

    def plan_nodes(self, after_execution_id: int) -> list[PlanNode]:
        """Every plan node of every SQL execution newer than the given id,
        each node counted once, with its metrics parsed to numbers."""
        self.drain()
        out = []
        execs = self.sql.executionsList()
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            if eid <= after_execution_id:
                continue
            values = self.sql.executionMetrics(eid)
            nodes = self.sql.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                n = nodes.apply(j)
                ms, metrics = n.metrics(), {}
                for k in range(ms.size()):
                    pm = ms.apply(k)
                    v = values.get(pm.accumulatorId())
                    if v.isDefined():
                        metrics[pm.name()] = parse_metric(v.get(), pm.metricType())
                out.append(PlanNode(n.name(), metrics))
        return out

    def jobs_for_group(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stages_for_jobs(self, job_ids: list[int]) -> list[int]:
        st = self.sc.statusTracker()
        out: set[int] = set()
        for j in job_ids:
            info = st.getJobInfo(j)
            if info is not None:
                out.update(info.stageIds)
        return sorted(out)

    def stage_data(self, stage_ids: list[int]) -> list:
        self.drain()
        want = set(stage_ids)
        empty = self.gw.jvm.java.util.ArrayList()
        seq = self.jsc.statusStore().stageList(
            empty, False, False, self.gw.new_array(self.gw.jvm.double, 0), empty)
        return [seq.apply(i) for i in range(seq.size()) if seq.apply(i).stageId() in want]

    def task_quantiles(self, stage) -> tuple[float, float]:
        """(median, max) task run time of one stage attempt, in ms."""
        q = self.gw.new_array(self.gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summ = self.jsc.statusStore().taskSummary(stage.stageId(), stage.attemptId(), q)
        if not summ.isDefined():
            return 0.0, 0.0
        rt = summ.get().executorRunTime()
        return float(rt.apply(0)), float(rt.apply(1))


def busy_seconds(stages: list, t0_ms: int, t1_ms: int) -> float:
    """Length of the union of the stages' [submitted, completed] intervals,
    clipped to [t0, t1] (epoch ms), in seconds."""
    iv = []
    for s in stages:
        if s.submissionTime().isDefined() and s.completionTime().isDefined():
            a = max(s.submissionTime().get().getTime(), t0_ms)
            b = min(s.completionTime().get().getTime(), t1_ms)
            if b > a:
                iv.append((a, b))
    iv.sort()
    total, cur_a, cur_b = 0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1000.0
