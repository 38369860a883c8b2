"""Spans for the traced run, and the Spark counters behind each span.

A span records (name, start, end, parent, run id) in memory. Each span also
sets its own Spark job group, so the stage metrics of the jobs it launched
can be read back from the status store when the run ends (the Spark UI is
off, the status store is not). Self time is a span's duration minus the part
of it covered by its children.

The engine is not instrumented: spans wrap calls into it from this package,
and the functions ``ValidationRunner.run`` calls internally are wrapped by
``install_wrappers`` for the traced run only.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import time
import uuid
from dataclasses import asdict, dataclass

# stage-level counters summed over the jobs of a span and its children
STAGE_COUNTERS = {
    "run_ms": "executorRunTime",
    "cpu_ms": "executorCpuTime",  # ns in the store, converted below
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "input_bytes": "inputBytes",
    "tasks": "numTasks",
    "tasks_failed": "numFailedTasks",
    "input_records": "inputRecords",
}
# SQL metrics of the Python-evaluation operators
PYTHON_NODES = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")
PYTHON_COUNTERS = {
    "python_bytes_sent": "pythonDataSent",
    "python_bytes_received": "pythonDataReceived",
    "python_rows": "pythonNumRowsReceived",
}


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    group: str = ""

    @property
    def duration(self) -> float:
        return self.end - self.start


class NullTracer:
    """Tracing off: spans cost one context-manager entry."""

    def span(self, name):
        return contextlib.nullcontext()

    def watch(self, df, name):
        return df


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.frames: dict[int, list] = {}  # span index → DataFrames run inside it
        self._stack: list[int] = []
        self._ids = itertools.count()
        self._prefix = f"pb-{uuid.uuid4().hex[:8]}"
        self.run_id = ""

    def new_run(self) -> str:
        self.run_id = f"{self._prefix}-run{next(self._ids)}"
        return self.run_id

    @contextlib.contextmanager
    def span(self, name):
        idx = len(self.spans)
        group = f"{self._prefix}-g{idx}"
        parent = self._stack[-1] if self._stack else None
        sp = Span(name=name, start=time.monotonic(), parent=parent, run_id=self.run_id, group=group)
        self.spans.append(sp)
        self._stack.append(idx)
        self.sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.monotonic()
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]]
                self.sc.setJobGroup(outer.group, outer.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def watch(self, df, name):
        """A stand-in for ``df`` whose ``collect``/``count`` run inside a
        span named ``name``; the DataFrame is kept so its executed plan's
        Python-operator metrics can be read afterwards."""
        return _Watched(self, df, name)

    def keep(self, df) -> None:
        """Keep ``df``, run inside the innermost open span, so its executed
        plan's Python-operator metrics can be read afterwards."""
        self.frames.setdefault(self._stack[-1], []).append(df)

    # ------------------------------------------------------------------ #
    def children(self, idx: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.parent == idx]

    def self_time(self, idx: int) -> float:
        """Duration minus the union of the child intervals (clipped to the span)."""
        sp = self.spans[idx]
        ivs = sorted(
            (max(self.spans[c].start, sp.start), min(self.spans[c].end, sp.end)) for c in self.children(idx)
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.duration - covered

    def subtree(self, idx: int) -> list[int]:
        out, todo = [], [idx]
        while todo:
            i = todo.pop()
            out.append(i)
            todo.extend(self.children(i))
        return out

    def stage_counters(self) -> dict[str, dict[str, float]]:
        """Per-span counters, inclusive of child spans, from the status store."""
        by_group = _group_stage_metrics(self.sc, {s.group for s in self.spans})
        out = {}
        for i, sp in enumerate(self.spans):
            tot = {k: 0.0 for k in STAGE_COUNTERS}
            for j in self.subtree(i):
                for k, v in by_group.get(self.spans[j].group, {}).items():
                    tot[k] += v
            out[sp.group] = tot
        return out

    def python_counters(self, idx: int) -> dict[str, float]:
        tot = {k: 0.0 for k in PYTHON_COUNTERS}
        for j in self.subtree(idx):
            for df in self.frames.get(j, []):
                for k, v in _python_plan_metrics(df).items():
                    tot[k] += v
        return tot

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                [{**asdict(s), "index": i, "self_s": self.self_time(i)} for i, s in enumerate(self.spans)], f
            )


class _Watched:
    def __init__(self, tracer: Tracer, df, name: str):
        self._tracer, self._df, self._name = tracer, df, name

    def _run(self, action):
        with self._tracer.span(self._name):
            self._tracer.keep(self._df)
            return getattr(self._df, action)()

    def collect(self):
        return self._run("collect")

    def count(self):
        return self._run("count")

    def __getattr__(self, name):
        return getattr(self._df, name)


# --------------------------------------------------------------------- #
# Spark status store and plan metrics (py4j)
# --------------------------------------------------------------------- #
def _seq(sc, scala_seq):
    return list(sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))


def _group_stage_metrics(sc, groups: set[str]) -> dict[str, dict[str, float]]:
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(60_000)
    store = jsc.statusStore()
    stages_of: dict[str, set[int]] = {}
    for job in _seq(sc, store.jobsList(None)):
        g = job.jobGroup()
        if g.isDefined() and g.get() in groups:
            stages_of.setdefault(g.get(), set()).update(int(s) for s in _seq(sc, job.stageIds()))
    wanted = set().union(*stages_of.values()) if stages_of else set()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    stage = {}
    for sd in _seq(sc, store.stageList(None, False, False, no_quantiles, None)):
        sid = int(sd.stageId())
        if sid not in wanted:
            continue
        m = stage.setdefault(sid, {k: 0.0 for k in STAGE_COUNTERS})
        for k, getter in STAGE_COUNTERS.items():
            m[k] += float(getattr(sd, getter)())
    out = {}
    for g, sids in stages_of.items():
        tot = {k: 0.0 for k in STAGE_COUNTERS}
        for sid in sids:
            for k, v in stage.get(sid, {}).items():
                tot[k] += v
        tot["cpu_ms"] /= 1e6
        out[g] = tot
    return out


def _python_plan_metrics(df) -> dict[str, float]:
    sc = df.sparkSession.sparkContext
    tot = {k: 0.0 for k in PYTHON_COUNTERS}
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            todo.append(node.child())
            continue
        if cls == "InMemoryTableScanExec":  # a persisted input: its plan ran the operators
            todo.append(node.relation().cachedPlan())
            continue
        if node.nodeName() in PYTHON_NODES:
            metrics = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(node.metrics())
            for k, name in PYTHON_COUNTERS.items():
                if metrics.containsKey(name):
                    tot[k] += float(metrics.get(name).value())
        todo.extend(_seq(sc, node.children()))
    return tot


# --------------------------------------------------------------------- #
# wrappers around the calls ValidationRunner.run makes internally
# --------------------------------------------------------------------- #
@contextlib.contextmanager
def install_wrappers(tracer: Tracer, counts: dict):
    """Time kll_profile, CheckpointManifest.load/append/completed_* and
    ConstraintSuite.validate / SuiteResult.partition_status while inside
    the block. ``counts`` collects checkpoint bytes and entry counts."""
    import slower_whisper_spark.functions.kll as kll_mod
    from slower_whisper_spark.checkpoint import CheckpointManifest
    from slower_whisper_spark.suite import ConstraintSuite, SuiteResult

    orig = {
        "kll": kll_mod.kll_profile,
        "load": CheckpointManifest.load,
        "append": CheckpointManifest.append,
        "completed": CheckpointManifest.completed_partitions,
        "completed_v": CheckpointManifest.completed_partitions_versioned,
        "validate": ConstraintSuite.validate,
        "status": SuiteResult.partition_status,
    }

    def kll_profile(*a, **kw):
        return tracer.watch(orig["kll"](*a, **kw), "functions.kll.kll_profile")

    def load(self):
        with tracer.span("checkpoint.load"):
            counts["checkpoint.bytes_read"] += sum(os.path.getsize(p) for p in self._files())
            out = orig["load"](self)
        counts["checkpoint.entries_read"] += len(out)
        return out

    def append(self, entries, run_id):
        with tracer.span("checkpoint.append"):
            path = orig["append"](self, entries, run_id)
        counts["checkpoint.bytes_written"] += os.path.getsize(path)
        return path

    def completed(self, *a, **kw):
        with tracer.span("checkpoint.completed"):
            return orig["completed"](self, *a, **kw)

    def completed_v(self, *a, **kw):
        with tracer.span("checkpoint.completed"):
            return orig["completed_v"](self, *a, **kw)

    def validate(self, *a, **kw):
        with tracer.span("suite.validate"):
            return orig["validate"](self, *a, **kw)

    def partition_status(self):
        return tracer.watch(orig["status"](self), "suite.verdicts")

    kll_mod.kll_profile = kll_profile
    CheckpointManifest.load = load
    CheckpointManifest.append = append
    CheckpointManifest.completed_partitions = completed
    CheckpointManifest.completed_partitions_versioned = completed_v
    ConstraintSuite.validate = validate
    SuiteResult.partition_status = partition_status
    try:
        yield
    finally:
        kll_mod.kll_profile = orig["kll"]
        CheckpointManifest.load = orig["load"]
        CheckpointManifest.append = orig["append"]
        CheckpointManifest.completed_partitions = orig["completed"]
        CheckpointManifest.completed_partitions_versioned = orig["completed_v"]
        ConstraintSuite.validate = orig["validate"]
        SuiteResult.partition_status = orig["status"]
