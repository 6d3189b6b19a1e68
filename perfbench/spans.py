"""Run instrumentation: the process tree, peak RSS, and per-layer spans.

A span wraps one call into a layer. Stages completed inside it come
from ``tools/audit_tasks.measure`` (the AppStatusStore reader, no UI),
jobs from the status tracker. Nested spans own only what their
children did not: a stage or job is charged to the innermost span open
when it completed, and a span's self time excludes its children.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time
from statistics import median

from tools.audit_tasks import StageRecord, _stage_list, measure

# layers whose Spark work is reported; a layer sums its spans
# (``segmentation.build`` and ``segmentation`` both count as segmentation)
LAYERS = ("fits", "validation", "atmosphere", "segmentation",
          "calibration", "continuum", "spectrum", "sink", "plans")
SPARK_METRICS = (
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s"),
    ("shuffle_write_mb", "MB"), ("busy_frac", "ratio"),
    ("byte_blind_stages", "count"),
)
MB = 1 << 20

# every per-layer metric a traced run reports, with its unit
PER_LAYER = [
    ("fits.decode_s", "s"), ("fits.decode_mb_per_s", "MB/s"),
    ("fits.files", "count"), ("fits.files_quarantined", "count"),
    ("fits.rows_out", "count"),
    ("validation.s", "s"), ("validation.rows_in", "count"),
    ("validation.rows_out", "count"),
    ("atmosphere.s", "s"), ("atmosphere.rows", "count"),
    ("segmentation.build_s", "s"), ("segmentation.build_jobs", "count"),
    ("segmentation.s", "s"), ("segmentation.python_rows", "count"),
    ("calibration.s", "s"), ("calibration.segments_fitted", "count"),
    ("continuum.build_s", "s"), ("continuum.s", "s"),
    ("spectrum.build_s", "s"), ("spectrum.s", "s"),
    ("sink.s", "s"), ("sink.mb", "MB"),
    ("plans.build_s", "s"), ("plans.build_jobs", "count"),
    ("plans.exec_s", "s"), ("plans.jobs_per_query", "count"),
    *((f"{layer}.{m}", unit) for layer in LAYERS
      for m, unit in SPARK_METRICS),
    ("trace.overhead_s", "s"), ("trace.coverage", "ratio"),
    ("pass.cold_s", "s"), ("failed_frac", "ratio"), ("memory.peak_rss_mb", "MB"),
    ("load.cpus", "count"), ("load.start_1m", "load"),
    ("load.end_1m", "load"), ("load.contaminated", "flag"),
]


def cpu_count() -> int:
    """``nproc``: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


# ------------------------------------------------------------------ #
# peak RSS of the driver JVM and its Python workers                  #
# ------------------------------------------------------------------ #

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``."""
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        out.append(todo.pop())
        todo.extend(kids.get(out[-1], []))
    return out


def running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Samples the summed RSS of every descendant of this process (the
    driver JVM, the Python worker daemon and its workers) and keeps the
    peak."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> int:
        return sum(_rss_bytes(pid) for pid in descendants(os.getpid()))

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._sample())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / MB


# ------------------------------------------------------------------ #
# spans                                                              #
# ------------------------------------------------------------------ #

def _job_ids(spark) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup())


def last_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    execs = conv.asJava(store.executionsList())
    return max((execs.get(i).executionId() for i in range(execs.size())),
               default=-1)


def _count(text: str) -> int:
    return int(str(text).replace(",", "") or 0)


def python_group_rows(spark, after_execution: int) -> int:
    """Rows fed to ``FlatMapGroupsInPandas`` (the applyInPandas
    segmentation fallback) by SQL executions newer than
    ``after_execution``, read from each plan's SQL metrics: the row
    count of the nearest operator below the Python node that counts
    its output."""
    store = spark._jsparkSession.sharedState().statusStore()
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    execs = conv.asJava(store.executionsList())
    total = 0
    for i in range(execs.size()):
        eid = execs.get(i).executionId()
        if eid <= after_execution:
            continue
        graph = store.planGraph(eid)
        nodes = conv.asJava(graph.allNodes())
        by_id = {nodes.get(j).id(): nodes.get(j)
                 for j in range(nodes.size())}
        edges = conv.asJava(graph.edges())
        child_of: dict[int, list[int]] = {}
        for k in range(edges.size()):
            e = edges.get(k)
            child_of.setdefault(e.toId(), []).append(e.fromId())
        values = conv.asJava(store.executionMetrics(eid))
        for nid, node in by_id.items():
            if node.name() == "FlatMapGroupsInPandas":
                total += _rows_below(nid, by_id, child_of, values, conv)
    return total


def _rows_below(nid, by_id, child_of, values, conv) -> int:
    todo = list(child_of.get(nid, []))
    while todo:  # breadth first: the nearest counting operator wins
        cur = by_id[todo.pop(0)]
        metrics = conv.asJava(cur.metrics())
        for m in range(metrics.size()):
            metric = metrics.get(m)
            if metric.name() in ("number of output rows", "records read"):
                return _count(values.get(metric.accumulatorId()))
        todo.extend(child_of.get(cur.id(), []))
    return 0


class NoTrace:
    """Stand-in tracer for untraced passes: no spans, and only a frame
    that feeds two consumers is checkpointed, lazily, as the library
    does for its own multi-consumer subtrees."""

    @staticmethod
    def span(name):
        return contextlib.nullcontext()

    @staticmethod
    def force(df, shared: bool = False):
        return df.localCheckpoint(eager=False) if shared else df


NO_TRACE = NoTrace()


class Tracer:
    """Records spans for one traced pass and forces each layer's output
    at its boundary with an eager ``localCheckpoint``."""

    def __init__(self, spark, cpus: int, pass_id: int, origin: float):
        self.spark = spark
        self.cpus = cpus
        self.pass_id = pass_id
        self.origin = origin
        self.spans: list[dict] = []
        self.frames: dict = {}
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"name": name, "pass": self.pass_id,
               "parent": self._stack[-1]["name"] if self._stack else None,
               "child_s": 0.0, "child_stages": set(), "child_jobs": set()}
        outer0 = time.perf_counter()
        jobs0 = _job_ids(self.spark)
        with measure(self.spark) as stages:
            self._stack.append(rec)
            rec["start"] = time.perf_counter() - self.origin
            try:
                yield rec
            finally:
                rec["end"] = time.perf_counter() - self.origin
                self._stack.pop()
        jobs = _job_ids(self.spark) - jobs0
        ids = {s["stage_id"] for s in stages.stages}
        rec["stages"] = ids - rec.pop("child_stages")
        rec["jobs"] = jobs - rec.pop("child_jobs")
        # self time excludes children, instrumentation included
        rec["self_s"] = rec["end"] - rec["start"] - rec.pop("child_s")
        if self._stack:
            parent = self._stack[-1]
            parent["child_s"] += time.perf_counter() - outer0
            parent["child_stages"] |= ids
            parent["child_jobs"] |= jobs
        self.spans.append(rec)

    @staticmethod
    def force(df, shared: bool = False):
        return df.localCheckpoint(eager=True)

    def coverage(self, pass_wall: float) -> float:
        return sum(s["self_s"] for s in self.spans) / pass_wall

    def layer_metrics(self) -> dict[str, float]:
        """Spark-level metrics per layer for this pass."""
        detail = stage_details(self.spark)
        out: dict[str, float] = {}
        for layer in LAYERS:
            spans = [s for s in self.spans
                     if s["name"].split(".")[0] == layer]
            ids = set().union(*(s["stages"] for s in spans))
            stages = [detail[i] for i in ids if i in detail]
            wall = sum(s["self_s"] for s in spans)
            run_s = sum(s["run_ms"] for s in stages) / 1e3
            rec = StageRecord(self.spark)
            rec.stages = stages
            out.update({
                f"{layer}.jobs": sum(len(s["jobs"]) for s in spans),
                f"{layer}.stages": len(stages),
                f"{layer}.tasks": sum(s["tasks"] for s in stages),
                f"{layer}.executor_run_s": run_s,
                f"{layer}.executor_cpu_s":
                    sum(s["cpu_ns"] for s in stages) / 1e9,
                f"{layer}.gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
                f"{layer}.shuffle_write_mb":
                    sum(s["shuffle_write"] for s in stages) / MB,
                f"{layer}.busy_frac":
                    run_s / (wall * self.cpus) if wall > 0 else 0.0,
                f"{layer}.byte_blind_stages": len(rec.flagged()),
            })
        return out

    def span_seconds(self, name: str) -> float:
        return sum(s["self_s"] for s in self.spans if s["name"] == name)

    def span_jobs(self, name: str) -> int:
        return sum(len(s["jobs"]) for s in self.spans if s["name"] == name)

    def export(self) -> list[dict]:
        return [{"name": s["name"], "start": s["start"], "end": s["end"],
                 "parent": s["parent"], "pass": s["pass"],
                 "self_s": s["self_s"]} for s in self.spans]


def stage_details(spark) -> dict[int, dict]:
    """Completed stages by id with the executor metrics spans need."""
    out = {}
    for s in _stage_list(spark):
        if str(s.status()) != "COMPLETE":
            continue
        tasks = int(s.numCompleteTasks())
        run_ms = int(s.executorRunTime())
        out[int(s.stageId())] = {
            "stage_id": int(s.stageId()),
            "tasks": tasks, "run_ms": run_ms,
            "per_task_ms": run_ms // tasks if tasks else 0,
            "cpu_ns": int(s.executorCpuTime()),
            "gc_ms": int(s.jvmGcTime()),
            "shuffle_write": int(s.shuffleWriteBytes()),
        }
    return out


def median_of(dicts: list[dict]) -> dict[str, float]:
    keys = set().union(*dicts)
    return {k: median(d[k] for d in dicts if k in d) for k in keys}
