"""Layer spans measured from outside the program.

A span times one call into a layer (a package module's public function)
and tags every Spark job the call launches with its own job group, so the
job, stage and task counters Spark keeps for that group belong to that
layer. Because Spark is lazy, a traced call also materializes the frame it
returns; its span then ends at the layer's output boundary, and a layer's
self time is its boundary time minus the boundary time of its upstream.

``Tracer.patch`` swaps a module attribute for a timing wrapper for the
duration of one traced iteration and restores it afterwards; the program's
files are never changed.
"""

from __future__ import annotations

import contextlib
import itertools
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_PYTHON_NODES = ("MapInPandas", "ArrowEvalPython", "FlatMapGroupsInPandas",
                 "FlatMapCoGroupsInPandas", "BatchEvalPython", "AggregateInPandas",
                 "WindowInPandas", "MapInArrow", "PythonMapInArrow")

COUNTER_KEYS = (
    "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
    "shuffle_write_mb", "shuffle_fetch_wait_s", "spill_mb",
)


def _touch(field: T.StructField):
    """An expression that reads every value of a column (map columns are
    not hashable in Spark, so they are reduced to their size)."""
    if isinstance(field.dataType, T.MapType):
        return F.size(F.col(field.name))
    return F.col(field.name)


def python_eval_s(df: DataFrame) -> float:
    """Python evaluation time (``pythonTotalTime``, s) summed over the
    executed plan of ``df``, read after an action on it."""
    total = 0.0

    def walk(node) -> None:
        nonlocal total
        name = node.nodeName()
        if name in _PYTHON_NODES:
            metric = node.metrics().get("pythonTotalTime")
            if metric.isDefined():
                total += metric.get().value() / 1000.0
        if name.startswith("AdaptiveSparkPlan"):
            walk(node.finalPhysicalPlan())
        elif "QueryStage" in name:
            walk(node.plan())
        else:
            children = node.children()
            for i in range(children.size()):
                walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return total


def materialize(df: DataFrame, columns: tuple[str, ...] | None = None) -> dict[str, float]:
    """Compute ``columns`` (default: all) of ``df`` in one job; return its
    row count and Python evaluation time. Pass the columns the
    downstream layer reads, so the boundary costs what the pipeline pays."""
    fields = [f for f in df.schema.fields if columns is None or f.name in columns]
    probe = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.hash(*[_touch(f) for f in fields])).alias("h"),
    )
    rows = probe.collect()[0]["n"]
    return {"rows": float(rows), "python_s": python_eval_s(probe)}


def group_counters(sc, group: str) -> dict[str, float]:
    """Spark's own counters for every job tagged with ``group``."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(int(s) for s in info.stageIds)
    c = dict.fromkeys(COUNTER_KEYS, 0.0)
    c["jobs"] = float(len(jobs))
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — never attempted (skipped)
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        c["stages"] += 1
        c["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
        c["task_run_s"] += sd.executorRunTime() / 1e3
        c["task_cpu_s"] += sd.executorCpuTime() / 1e9
        c["gc_s"] += sd.jvmGcTime() / 1e3
        c["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
        c["shuffle_fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1e3
        c["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6
    return c


def _old_gen_pools(spark) -> list:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans()
            if p.getType().name() == "HEAP" and "Old" in p.getName()]


def reset_heap_peak(spark) -> None:
    for pool in _old_gen_pools(spark):
        pool.resetPeakUsage()


def heap_peak_mb(spark) -> float:
    """Peak old-generation heap use (MB) since the last reset: what the
    driver JVM kept live or promoted, such as persisted blocks and
    broadcast relations. RSS cannot see it once the heap has grown."""
    return sum(p.getPeakUsage().getUsed() for p in _old_gen_pools(spark)) / 1e6


class NullTracer:
    """Tracing off: spans and patches do nothing."""

    @contextlib.contextmanager
    def span(self, name: str):
        yield {}

    @contextlib.contextmanager
    def patch(self, owner, attr: str, name: str, columns=None, materialize_output=True):
        yield


class Tracer(NullTracer):
    """Records spans (name, start, end, parent) and tags each with a Spark
    job group. With ``materialize_outputs`` a patched call also computes
    the frame it returns, so its span ends at the layer boundary."""

    # job groups must stay unique across the tracers of one process
    _group_ids = itertools.count()

    def __init__(self, spark, materialize_outputs: bool) -> None:
        self.sc = spark.sparkContext
        self.materialize_outputs = materialize_outputs
        self.spans: list[dict] = []
        self.calls: dict[str, tuple] = {}  # span name -> (args, kwargs, result)
        self._stack: list[dict] = []
        self._seq = 0

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": self._seq,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "group": f"perfbench.{name}#{next(self._group_ids)}",
        }
        self._seq += 1
        outer = self._stack[-1]["group"] if self._stack else None
        self.sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["s"] = rec["end"] - rec["start"]
            self._stack.pop()
            if outer is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(outer, outer)
            self.spans.append(rec)

    @contextlib.contextmanager
    def patch(self, owner, attr: str, name: str, columns: tuple[str, ...] | None = None,
              materialize_output: bool = True):
        """Time every call of ``owner.attr``; the last call's arguments and
        result are kept in ``calls[name]``. ``materialize_output=False``
        leaves the returned frame lazy (for a helper whose output the
        caller consumes inside its own boundary)."""
        original = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = original(*args, **kwargs)
                rec["call_s"] = time.perf_counter() - rec["start"]
                self.calls[name] = (args, kwargs, out)
                frame = out[0] if isinstance(out, tuple) else out
                if isinstance(out, list):
                    rec["items"] = float(len(out))
                if (self.materialize_outputs and materialize_output
                        and isinstance(frame, DataFrame)):
                    # own group: the call's group keeps only the jobs the
                    # call itself launched
                    with self.span(name + ".output"):
                        rec.update(materialize(frame, columns))
            return out

        setattr(owner, attr, traced)
        try:
            yield
        finally:
            setattr(owner, attr, original)

    def collect_counters(self) -> None:
        """Attach Spark's counters to every finished span (after the
        listener bus has delivered the last task events)."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        for rec in self.spans:
            if "counters" not in rec:
                rec["counters"] = group_counters(self.sc, rec["group"])

    def by_name(self, name: str) -> list[dict]:
        return [r for r in self.spans if r["name"] == name]

    def one(self, name: str) -> dict:
        """The first span of that name to finish."""
        recs = self.by_name(name)
        if not recs:
            raise KeyError(f"no span named {name!r}")
        return recs[0]

    def totals(self) -> dict[str, float]:
        """Counters summed over every span (groups do not overlap)."""
        out = dict.fromkeys(COUNTER_KEYS, 0.0)
        for rec in self.spans:
            for k, v in rec.get("counters", {}).items():
                out[k] += v
        return out
