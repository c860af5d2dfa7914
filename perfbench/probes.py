"""Measurement probes that observe the engine from outside.

* ``ProcTree``: CPU seconds and resident memory of this process and every
  descendant (the driver JVM and the Python workers), read from ``/proc``.
* ``RssSampler``: a background thread that records the peak of the tree's
  summed resident memory.
* ``plan_nodes``: a physical-plan walker that descends into adaptive query
  stages, plus ``QueryCapture``, a query-execution listener that hands every
  finished query's executed plan to that walker.
* ``StageWindow``: stage-level run, CPU and GC time and task durations from
  Spark's status store, for the stages that ran inside a time window.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from dataclasses import dataclass, field

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


class ProcTree:
    """This process and all of its descendants, found through ``/proc``."""

    def __init__(self, root: int | None = None) -> None:
        self.root = root or os.getpid()

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            stat = _read_stat(int(name))
            if stat is not None:
                children.setdefault(int(stat[1]), []).append(int(name))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    def cpu_seconds(self) -> float:
        """User + system time of the live tree, including reaped children."""
        total = 0
        for pid in self.pids():
            stat = _read_stat(pid)
            if stat is not None:
                total += sum(int(v) for v in stat[11:15])
        return total / _CLK

    def rss_bytes(self, pids: list[int] | None = None) -> int:
        total = 0
        for pid in self.pids() if pids is None else pids:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * _PAGE
            except (OSError, IndexError, ValueError):
                pass  # the process ended between listing and reading
        return total


def _read_stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name: [0] is the state,
    [1] the parent pid, [11:15] utime, stime, cutime, cstime."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rfind(")") + 2 :].split()


class RssSampler:
    """Samples the tree's resident memory every ``period`` seconds while
    running; ``peak_between`` gives the largest sum seen in an interval.
    The process list is refreshed every ``refresh`` samples, which keeps the
    sampler's own CPU use small."""

    def __init__(self, tree: ProcTree, period: float = 0.1, refresh: int = 10) -> None:
        self.tree = tree
        self.period = period
        self.refresh = refresh
        self.samples: list[tuple[float, int]] = []
        self._pids: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        if len(self.samples) % self.refresh == 0:
            self._pids = self.tree.pids()
        self.samples.append((time.perf_counter(), self.tree.rss_bytes(self._pids)))

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def peak_between(self, t0: float, t1: float) -> int:
        return max((rss for t, rss in self.samples if t0 <= t <= t1), default=0)

    def __enter__(self) -> RssSampler:
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


# --------------------------------------------------------------------------
# Physical plans
# --------------------------------------------------------------------------


@dataclass
class PlanNode:
    name: str
    text: str
    metrics: dict[str, int]
    output: list[str]


def _scala_iter(coll):
    it = coll.iterator()
    while it.hasNext():
        yield it.next()


def plan_nodes(jplan) -> list[PlanNode]:
    """Every node of an executed plan. An adaptive plan is walked through
    ``finalPhysicalPlan()`` and each query stage through ``plan()``: their
    ``children()`` stop at the stage boundary, which hides every operator
    below the first exchange."""
    out: list[PlanNode] = []
    todo = [jplan]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.finalPhysicalPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        metrics = {
            kv._1(): int(kv._2().value()) for kv in _scala_iter(node.metrics())
        }
        output = [a.name() for a in _scala_iter(node.output())]
        out.append(PlanNode(node.nodeName(), node.simpleString(200), metrics, output))
        todo.extend(_scala_iter(node.children()))
    return out


def is_exchange(node: PlanNode) -> bool:
    return node.name == "Exchange"


class QueryCapture:
    """Query-execution listener that walks the executed plan of every query
    that succeeds while it is registered. Listener events arrive on Spark's
    listener thread, so ``drain`` waits for the bus before results are read.
    """

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self._spark = spark
        ensure_callback_server_started(spark.sparkContext._gateway)
        self.plans: list[tuple[str, list[PlanNode]]] = []
        self.times: list[tuple[float, float]] = []  # (start_ms, end_ms) per plan
        self.errors: list[str] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        end = now_ms()
        try:
            self.plans.append((func_name, plan_nodes(qe.executedPlan())))
            self.times.append((end - duration_ns / 1e6, end))
        except Exception as e:  # a failed walk is reported, never raised into the JVM
            self.errors.append(repr(e))

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java API)
        pass  # the engine runs and catches some failing queries (a missing manifest)

    def __enter__(self) -> QueryCapture:
        self.plans, self.times = [], []
        self._spark._jsparkSession.listenerManager().register(self)
        return self

    def __exit__(self, *exc) -> None:
        self.drain()
        self._spark._jsparkSession.listenerManager().unregister(self)

    def drain(self) -> None:
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def nodes(self) -> list[PlanNode]:
        return [n for _, nodes in self.plans for n in nodes]

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


# --------------------------------------------------------------------------
# Stages
# --------------------------------------------------------------------------


@dataclass
class StageStats:
    stage_id: int
    name: str
    start_ms: int
    end_ms: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    input_bytes: int
    output_bytes: int
    shuffle_write_bytes: int
    task_ms: list[int] = field(default_factory=list)

    @property
    def skew(self) -> float:
        """Slowest task over the median task."""
        if not self.task_ms:
            return 1.0
        med = statistics.median(self.task_ms)
        return max(self.task_ms) / med if med > 0 else 1.0


class StageWindow:
    """Completed stages whose ids are above the highest id seen when the
    window opened."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self.first_id = self._max_stage_id() + 1

    def _stage_list(self):
        gw = self._sc._gateway
        return _scala_iter(
            self._store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
        )

    def _max_stage_id(self) -> int:
        return max((s.stageId() for s in self._stage_list()), default=-1)

    def stages(self) -> list[StageStats]:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        out = []
        for s in self._stage_list():
            if s.stageId() < self.first_id or s.status().toString() != "COMPLETE":
                continue
            tasks = _scala_iter(
                self._store.taskList(s.stageId(), s.attemptId(), 1 << 20)
            )
            out.append(
                StageStats(
                    stage_id=s.stageId(),
                    name=s.name(),
                    start_ms=_opt_time(s.submissionTime()),
                    end_ms=_opt_time(s.completionTime()),
                    run_ms=s.executorRunTime(),
                    cpu_ns=s.executorCpuTime(),
                    gc_ms=s.jvmGcTime(),
                    input_bytes=s.inputBytes(),
                    output_bytes=s.outputBytes(),
                    shuffle_write_bytes=s.shuffleWriteBytes(),
                    task_ms=[t.duration().get() for t in tasks if t.duration().isDefined()],
                )
            )
        return sorted(out, key=lambda st: st.stage_id)


def _opt_time(opt) -> int:
    return opt.get().getTime() if opt.isDefined() else 0


def now_ms() -> float:
    return time.time() * 1000.0
