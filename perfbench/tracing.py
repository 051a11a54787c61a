"""Traced-run mode: spans around calls into each layer of the program.

``Tracer.install()`` wraps, from the outside, every public function of
the layer modules (``LAYERS``) under every name a caller looks it up by
(the defining module and every module that imported it by name), the
public methods of the facade classes, and the DataFrame actions.  The
program itself is not modified.

Each span records its wall interval and nesting, so a layer's self time
is its wall minus the walls of its child spans.  Each span also runs
under its own Spark job group; after the traced pass ``resolve()`` reads,
for the jobs of every group, the stage metrics from the status store and
the job intervals (for the driver's self time: span wall minus the union
of its jobs' intervals).  For every DataFrame a span collects, it keeps
the query execution and later walks the executed (AQE final) plan for
the Arrow-boundary metrics of the Python nodes.

Spans stay in memory; ``summary()`` turns them into per-layer and
per-function tables once the run is over.
"""

from __future__ import annotations

import importlib
import inspect
import itertools
import sys
import time
import weakref

# layer name -> module(s) whose public functions belong to it
LAYERS = {
    "session": ("anndb_spark.session",),
    "dataset": ("anndb_spark.dataset", "anndb_spark.catalog"),
    "plans.planner": ("anndb_spark.plans.planner",),
    "sources.fsutil": ("anndb_spark.sources.fsutil",),
    "operators.crud": ("anndb_spark.operators.crud",),
    "operators.hnsw": ("anndb_spark.operators.hnsw",),
    "operators.knn": ("anndb_spark.operators.knn",),
    "operators.ivf": ("anndb_spark.operators.ivf",),
    "operators.dedup": ("anndb_spark.operators.dedup",),
    "operators.text": ("anndb_spark.operators.text",),
    "operators.curation": ("anndb_spark.operators.curation",),
    "operators.sampling": ("anndb_spark.operators.sampling",),
}
# facade classes whose public methods are spans of their module's layer
CLASSES = {
    "anndb_spark.dataset": ("AnnDB", "Dataset"),
    "anndb_spark.catalog": ("Catalog",),
}
ACTIONS = ("collect", "toPandas", "toArrow", "count", "take", "localCheckpoint")
WRITER_ACTIONS = ("parquet", "save")
ACTION_LAYER = "actions"
OP_LAYER = "bench"

STAGE_FIELDS = (
    # (metric, StageData getter, scale to the metric's unit)
    ("spark.tasks", "numCompleteTasks", 1),
    ("spark.executor_run_s", "executorRunTime", 1e-3),
    ("spark.executor_cpu_s", "executorCpuTime", 1e-9),
    ("spark.jvm_gc_s", "jvmGcTime", 1e-3),
    ("spark.shuffle_read_bytes", "shuffleReadBytes", 1),
    ("spark.shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("spark.spill_bytes", "memoryBytesSpilled", 1),
    ("spark.spill_bytes", "diskBytesSpilled", 1),
    ("spark.output_bytes", "outputBytes", 1),
    ("spark.result_bytes", "resultSize", 1),
)
PLAN_FIELDS = (
    # (metric, SQL metric key of the Python exec nodes, scale)
    ("arrow.python_data_sent_bytes", "pythonDataSent", 1),
    ("arrow.python_data_received_bytes", "pythonDataReceived", 1),
    ("arrow.python_time_s", "pythonTotalTime", 1e-3),
    ("arrow.python_boot_s", "pythonBootTime", 1e-3),
)
SPARK_KEYS = ("spark.jobs", "spark.stages") + tuple(
    dict.fromkeys(f[0] for f in STAGE_FIELDS)
)
PLAN_KEYS = tuple(f[0] for f in PLAN_FIELDS)


class Span:
    __slots__ = ("name", "layer", "parent", "t0", "t1", "group", "child_wall",
                 "qe", "source", "phase", "spark", "plan", "jobs")

    def __init__(self, name, layer, parent, group, phase):
        self.name, self.layer, self.parent = name, layer, parent
        self.group, self.phase = group, phase
        self.t0 = time.perf_counter()
        self.t1 = None
        self.child_wall = 0.0
        self.qe = None
        self.source = None
        self.spark = {}
        self.plan = {}
        self.jobs = []  # (submit_ms, complete_ms)

    @property
    def wall(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        return self.wall - self.child_wall


class Tracer:
    def __init__(self):
        self.enabled = False
        self.phase = "setup"
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._patched: list[tuple[object, str, object]] = []
        # DataFrame -> name of the innermost traced function that returned
        # it, so an action's Spark work is charged to the layer that built
        # the plan it runs
        self._source: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
        self._prefix = f"perfbench-{time.time_ns()}-"
        # seconds spent in the tracer's own code, per phase
        self.cost: dict[str, float] = {}

    # -- spans -----------------------------------------------------------

    def _sc(self):
        from pyspark import SparkContext

        return SparkContext._active_spark_context

    def _set_group(self, span: Span | None) -> None:
        sc = self._sc()
        if sc is None:
            return
        sc.setLocalProperty(
            "spark.jobGroup.id", span.group if span is not None else None
        )
        sc.setLocalProperty(
            "spark.job.description", span.name if span is not None else None
        )

    def begin(self, name: str, layer: str) -> Span:
        c0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        span = Span(name, layer, parent,
                    f"{self._prefix}{next(self._ids)}", self.phase)
        self._stack.append(span)
        self._set_group(span)
        self._charge(c0)
        return span

    def end(self, span: Span) -> None:
        span.t1 = c0 = time.perf_counter()
        self._stack.pop()
        if span.parent is not None:
            span.parent.child_wall += span.wall
        self._set_group(self._stack[-1] if self._stack else None)
        self.spans.append(span)
        self._charge(c0)

    def _charge(self, since: float) -> None:
        """Add the tracer's own time since ``since`` to the phase's cost."""
        self.cost[self.phase] = (
            self.cost.get(self.phase, 0.0) + time.perf_counter() - since)

    def op(self, name: str):
        """Context manager for one benchmark operation (a top-level span)."""
        tracer = self

        class _Op:
            def __enter__(self):
                self.span = tracer.begin(name, OP_LAYER) if tracer.enabled else None
                return self

            def __exit__(self, *exc):
                if self.span is not None:
                    tracer.end(self.span)
                return False

        return _Op()

    # -- wrappers --------------------------------------------------------

    def _wrap(self, fn, name: str, layer: str, action: bool = False):
        tracer = self
        from pyspark.sql import DataFrame

        def traced(*args, **kw):
            if not tracer.enabled:
                return fn(*args, **kw)
            span = tracer.begin(name, layer)
            try:
                res = fn(*args, **kw)
            finally:
                tracer.end(span)
            c0 = time.perf_counter()
            if action:
                df = args[0]
                if isinstance(df, DataFrame):
                    span.source = tracer._source.get(df)
                    if name.split(".")[-1] in ("collect", "toPandas", "toArrow"):
                        span.qe = df._jdf.queryExecution()
            elif isinstance(res, DataFrame) and res not in tracer._source:
                tracer._source[res] = name
            tracer._charge(c0)
            return res

        traced.__wrapped__ = fn
        for attr in ("__module__", "__name__", "__qualname__", "__doc__"):
            setattr(traced, attr, getattr(fn, attr, None))
        return traced

    def _patch(self, owner, attr: str, new) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self, extra_modules=()) -> None:
        """Wrap every layer function under every name it is bound to in
        the program's modules and in ``extra_modules``, and the facade
        classes' public methods.  Needs no Spark session."""
        wrapped: dict[int, object] = {}
        for layer, mods in LAYERS.items():
            for modname in mods:
                mod = importlib.import_module(modname)
                for name, obj in list(vars(mod).items()):
                    if (inspect.isfunction(obj) and not name.startswith("_")
                            and obj.__module__ == modname):
                        w = self._wrap(obj, f"{layer}.{name}", layer)
                        wrapped[id(obj)] = (obj, w)
                for cname in CLASSES.get(modname, ()):
                    cls = getattr(mod, cname)
                    for name, obj in list(vars(cls).items()):
                        if inspect.isfunction(obj) and not name.startswith("_"):
                            self._patch(cls, name, self._wrap(
                                obj, f"{layer}.{cname}.{name}", layer))
        importers = [
            m for n, m in list(sys.modules.items())
            if m is not None and (n.startswith("anndb_spark") or m in extra_modules)
        ]
        for mod in importers:
            for name, obj in list(vars(mod).items()):
                hit = wrapped.get(id(obj)) if inspect.isfunction(obj) else None
                if hit is not None and hit[0] is obj:
                    self._patch(mod, name, hit[1])

    def install_actions(self, spark) -> None:
        """Wrap the DataFrame actions and the parquet writer."""
        df = spark.range(1)
        df_cls = type(df)
        for name in ACTIONS:
            self._patch(df_cls, name, self._wrap(
                getattr(df_cls, name), f"{ACTION_LAYER}.{name}", ACTION_LAYER,
                action=True))
        writer_cls = type(df.write)
        for name in WRITER_ACTIONS:
            self._patch(writer_cls, name, self._wrap(
                getattr(writer_cls, name), f"{ACTION_LAYER}.write.{name}",
                ACTION_LAYER))

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self._patched):
            setattr(owner, attr, old)
        self._patched.clear()

    # -- metric readers ----------------------------------------------------

    def resolve(self, spark) -> None:
        """Fill every finished span's Spark stage metrics, job intervals
        and plan metrics.  Run once the traced work is over."""
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Exception:
            time.sleep(0.5)
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        jvm = spark._jvm
        seen_stages: set[int] = set()
        for span in self.spans:
            if span.spark or span.t1 is None:
                continue
            m = dict.fromkeys(SPARK_KEYS, 0.0)
            for jid in tracker.getJobIdsForGroup(span.group):
                m["spark.jobs"] += 1
                try:
                    jd = store.job(jid)
                    sub, done = jd.submissionTime(), jd.completionTime()
                    if sub.isDefined() and done.isDefined():
                        span.jobs.append((sub.get().getTime(), done.get().getTime()))
                except Exception:
                    pass
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info is not None else ()):
                    if sid in seen_stages:
                        continue
                    seen_stages.add(sid)
                    try:
                        attempts = store.stageData(
                            sid, False, jvm.java.util.ArrayList(), False, None)
                    except Exception:
                        continue
                    it = attempts.iterator()
                    while it.hasNext():
                        sd = it.next()
                        m["spark.stages"] += 1
                        for key, getter, scale in STAGE_FIELDS:
                            m[key] += getattr(sd, getter)() * scale
            span.spark = m
            if span.qe is not None:
                span.plan = plan_metrics(span.qe.executedPlan())
                span.qe = None

    def summary(self, phase: str, cores: int, epoch_offset_ms: float) -> dict:
        """Per-layer and per-function tables for one phase.

        ``epoch_offset_ms`` maps ``time.perf_counter()`` seconds to the
        epoch milliseconds of Spark's job timestamps."""
        spans = [s for s in self.spans if s.phase == phase]
        by_layer: dict[str, dict] = {}
        by_fn: dict[str, dict] = {}
        for s in spans:
            # Spark work of an action is charged to the layer that built
            # the collected plan; an untagged action inside a traced
            # function belongs to that function's layer
            charge = s.layer
            if s.layer == ACTION_LAYER:
                if s.source is not None:
                    charge = _layer_of(s.source)
                elif s.parent is not None and s.parent.layer not in (OP_LAYER, ACTION_LAYER):
                    charge = s.parent.layer
            for table, key, spark_to in ((by_layer, s.layer, charge),
                                         (by_fn, s.name, s.name)):
                row = table.setdefault(key, _blank_row())
                row["calls"] += 1
                row["total_s"] += s.wall
                row["self_s"] += s.self_s
                dest = table.setdefault(spark_to, _blank_row())
                for k, v in {**s.spark, **s.plan}.items():
                    dest[k] += v
        ops = [s for s in spans if s.layer == OP_LAYER]
        wall = sum(s.wall for s in ops)
        tot = _blank_row()
        for s in spans:
            for k, v in {**s.spark, **s.plan}.items():
                tot[k] += v
        tot["driver.self_s"] = sum(
            _driver_self(s, spans, epoch_offset_ms) for s in ops
        )
        tot["spark.busy_frac"] = (
            tot["spark.executor_run_s"] / (wall * cores) if wall > 0 else 0.0
        )
        tot["trace.spans"] = len(spans)
        tot["trace.overhead_frac"] = self.cost.get(phase, 0.0) / wall if wall > 0 else 0.0
        tot["ops_wall_s"] = wall
        return {"total": tot, "layers": by_layer, "functions": by_fn}


def _layer_of(fn_name: str) -> str:
    for layer in sorted(LAYERS, key=len, reverse=True):
        if fn_name.startswith(layer + "."):
            return layer
    return fn_name.split(".")[0]


def _blank_row() -> dict:
    return {"calls": 0, "total_s": 0.0, "self_s": 0.0,
            **dict.fromkeys(SPARK_KEYS, 0.0), **dict.fromkeys(PLAN_KEYS, 0.0)}


def _driver_self(op: Span, spans: list[Span], epoch_offset_ms: float) -> float:
    """Wall of ``op`` minus the union of the intervals of the Spark jobs
    launched anywhere under it."""
    lo = op.t0 * 1000.0 + epoch_offset_ms
    hi = op.t1 * 1000.0 + epoch_offset_ms
    ivals = []
    for s in spans:
        p = s
        while p is not None and p is not op:
            p = p.parent
        if p is op:
            ivals.extend((max(a, lo), min(b, hi)) for a, b in s.jobs)
    covered, end = 0.0, lo
    for a, b in sorted(ivals):
        if b <= end:
            continue
        covered += b - max(a, end)
        end = b
    return max(op.wall - covered / 1000.0, 0.0)


def plan_metrics(plan) -> dict:
    """Sum the Python-node SQL metrics of an executed plan, descending
    through the AQE final plan and into every query stage."""
    out = dict.fromkeys(PLAN_KEYS, 0.0)
    todo = [plan]
    while todo:
        p = todo.pop()
        name = p.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            todo.append(p.plan())
            continue
        ms = p.metrics()
        for key, sql_key, scale in PLAN_FIELDS:
            opt = ms.get(sql_key)
            if opt.isDefined():
                out[key] += opt.get().value() * scale
        it = p.children().iterator()
        while it.hasNext():
            todo.append(it.next())
        # subqueries (e.g. broadcast filters) hang off expressions
        sub = p.subqueries().iterator()
        while sub.hasNext():
            todo.append(sub.next())
    return out

