"""Spans around the calls the benchmark makes into each layer of the program.

A span records its name, start, end, parent span and op id. Spans live in
memory and are written out when the run ends. Each span also owns one Spark
job group, so the jobs and tasks launched while it is the innermost open
span on its thread are counted from `statusTracker()` (this works with the
Spark UI disabled, and the counts repeat exactly from run to run).

Wrapping is done from the benchmark's side only: `install()` replaces the
names that `pipeline.run` imports (and the dashboard panels and the
curation entry point) with wrappers that open a span around the original
function. The benchmark's own `tx_snapshot` calls are spanned where it
makes them (`txlog.snapshot`); the program's internal calls are not.

Lazy builders — `read_bronze`, `build_silver_*`, `band_join` — only
construct plans, so their execution is billed to the span of the writer
whose action runs it (`silver.write`, `views.accuracy`). Likewise a
dashboard panel function only plans its query; the `query.<panel>` span
around it also covers the `collect()` that executes it.

Span names are `<layer>.<what>`; the layer is the part before the first dot.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import statistics
import threading
import time
from collections import defaultdict

_GROUP_PREFIX = "perfbench-span-"

# the six dashboard panels, in BENCHMARK.json order
PANELS = (
    "accuracy_by_horizon",
    "city_ranking",
    "current_summary",
    "quality_distribution",
    "condition_distribution",
    "daily_temperature_trend",
)

# curation stages counted one by one in the traced run, in lineage order
CURATE_STAGES = ("cleaned", "passed", "survivors", "decontaminated", "split", "packed")

# layers that report `<layer>.jobs` and `<layer>.tasks`; the session has no
# span (it starts before the tracer exists) and runs no Spark jobs
LAYERS = ("silver", "gold", "views", "txlog", "run", "query", "curate")

# per-layer metric names, in BENCHMARK.json order
LAYER_METRICS = (
    "session.start_s",
    "silver.write_s",
    "silver.rows",
    "gold.dim_location_s",
    "gold.dim_date_s",
    "views.plan_s",
    "views.accuracy_s",
    "views.accuracy_rows",
    "txlog.read_s",
    "txlog.read_calls",
    "txlog.snapshot_s",
    "txlog.live_files",
    "txlog.log_files",
    "txlog.bytes_written",
    "run.snapshot_open_s",
    "run.self_s",
    *(f"query.{p}_ms" for p in PANELS),
    "curate.plan_s",
    *(f"curate.{s}_s" for s in CURATE_STAGES),
    "curate.dup_pairs",
    "curate.survivor_ratio",
    *(f"{layer}.{kind}" for layer in LAYERS for kind in ("jobs", "tasks")),
)


class Span:
    __slots__ = ("id", "name", "parent", "op", "start", "end", "group", "attrs", "jobs", "tasks")

    def __init__(self, sid: int, name: str, parent: "Span | None", op: str | None):
        self.id = sid
        self.name = name
        self.parent = parent.id if parent else None
        self.op = op if op is not None else (parent.op if parent else None)
        self.start = time.perf_counter()
        self.end: float | None = None
        self.group = f"{_GROUP_PREFIX}{sid}"
        self.attrs: dict = {}
        self.jobs = 0
        self.tasks = 0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start

    def as_dict(self, t0: float) -> dict:
        return {
            "id": self.id, "name": self.name, "parent": self.parent, "op": self.op,
            "start_s": self.start - t0, "end_s": self.end - t0,
            "jobs": self.jobs, "tasks": self.tasks, **self.attrs,
        }


class Tracer:
    """In-memory span recorder; one per traced run."""

    def __init__(self, sc):
        self._sc = sc
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self.spans: list[Span] = []
        self._pending: list[Span] = []
        self._restore: list = []
        self.t0 = time.perf_counter()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            s = Span(next(self._ids), name, parent, op)
        stack.append(s)
        self._sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if parent is not None:
                self._sc.setJobGroup(parent.group, parent.name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.spans.append(s)
                self._pending.append(s)

    def resolve_counts(self) -> None:
        """Fill jobs/tasks of every finished span not yet resolved. Waits
        for Spark's listener bus first: the status store is fed
        asynchronously, so a job that just ended may not be visible yet.
        Call it once per op, before Spark's retention limit (1000 jobs)
        can evict the op's jobs."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        with self._lock:
            pending, self._pending = self._pending, []
        for s in pending:
            for jid in tracker.getJobIdsForGroup(s.group):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                s.jobs += 1
                for sid in info.stageIds:
                    stage = tracker.getStageInfo(sid)
                    if stage is not None:
                        s.tasks += stage.numTasks

    # -- wrapping the program's entry points ------------------------------

    def wrap(self, module, attr: str, name) -> None:
        """Replace `module.attr` with a spanned wrapper. `name` is a span
        name or a function of the call's arguments returning one."""
        original = getattr(module, attr)

        def wrapper(*args, **kwargs):
            span_name = name(*args, **kwargs) if callable(name) else name
            with self.span(span_name) as s:
                result = original(*args, **kwargs)
                if span_name == "silver.write":
                    s.attrs["rows"] = int(result["rows"])
                return result

        setattr(module, attr, wrapper)
        self._restore.append((module, attr, original))

    def install(self) -> None:
        from weather_data_warehouse_aws_spark.pipeline import analytics, curate, sql_views
        from weather_data_warehouse_aws_spark.pipeline import run as run_mod

        self.wrap(run_mod, "write_silver_tx", "silver.write")
        self.wrap(run_mod, "tx_overwrite", _overwrite_span)
        self.wrap(run_mod, "tx_read", "txlog.read")
        self.wrap(run_mod, "build_dim_location", "gold.dim_location.build")
        self.wrap(run_mod, "build_dim_date", "gold.dim_date.build")
        self.wrap(run_mod, "register_fact_views", "views.plan")
        self.wrap(run_mod, "read_gold_snapshot", "run.snapshot_open")
        self.wrap(sql_views, "run_sample_query", "query.plan")
        self.wrap(analytics, "condition_distribution", "query.plan")
        self.wrap(analytics, "daily_temperature_trend", "query.plan")
        self.wrap(curate, "curate_corpus", "curate.plan")

    def uninstall(self) -> None:
        while self._restore:
            module, attr, original = self._restore.pop()
            setattr(module, attr, original)

    # -- reporting ---------------------------------------------------------

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump([s.as_dict(self.t0) for s in self.spans], fh)


def _overwrite_span(df, path, *args, **kwargs) -> str:
    """`tx_overwrite` runs for three tables; bill it by its path."""
    table = path.rstrip("/").rsplit("/", 1)[-1]
    return {
        "dim_location": "gold.dim_location.write",
        "dim_date": "gold.dim_date.write",
        "fact_forecast_accuracy": "views.accuracy",
    }.get(table, "txlog.overwrite")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered, cursor = 0.0, s.start
        for c in sorted(children[s.id], key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s.id] = s.duration - covered
    return out


# summed per page view (unit `<op>/<client>`), not per op
PAGE_METRICS = frozenset({"run.snapshot_open_s", *(f"query.{p}_ms" for p in PANELS)})


def _span_values(s: Span, self_s: float) -> dict[str, float]:
    """The layer values one span contributes to its unit."""
    out = {f"{s.layer}.jobs": s.jobs, f"{s.layer}.tasks": s.tasks}
    name, d = s.name, s.duration
    if name == "silver.write":
        out.update({"silver.write_s": d, "silver.rows": s.attrs.get("rows", 0)})
    elif name.startswith("gold.dim_location."):
        out["gold.dim_location_s"] = d
    elif name.startswith("gold.dim_date."):
        out["gold.dim_date_s"] = d
    elif name == "views.plan":
        out["views.plan_s"] = d
    elif name == "views.accuracy":
        out["views.accuracy_s"] = d
    elif name == "txlog.read":
        out.update({"txlog.read_s": d, "txlog.read_calls": 1})
    elif name == "txlog.snapshot":
        out["txlog.snapshot_s"] = d
    elif name == "run.snapshot_open":
        out["run.snapshot_open_s"] = d
    elif name == "run.op":
        out["run.self_s"] = self_s  # the op's time outside every child span
    elif name.startswith("query.") and name != "query.plan":
        out[f"{name}_ms"] = d * 1000.0
    elif name.startswith("curate."):
        out[f"{name}_s"] = d
    return out


def layer_metrics(spans: list[Span], op_values: dict[str, dict[str, float]],
                  session_start_s: float) -> dict[str, float]:
    """Per-layer metrics. Each is summed within one op and reported as the
    median over the ops in which it occurs; the page-view metrics
    (PAGE_METRICS) are summed within one dashboard page view instead and
    reported as the median over page views. 0 where nothing exercised
    the layer. `op_values` carries values measured outside spans, per op."""
    selfs = self_times(spans)
    per_op: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    per_page: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        if s.op is None:
            continue
        for k, v in _span_values(s, selfs[s.id]).items():
            per_op[s.op.split("/", 1)[0]][k] += v
            if "/" in s.op:
                per_page[s.op][k] += v
    for op, values in op_values.items():
        for k, v in values.items():
            per_op[op][k] += v
    out = {}
    for metric in LAYER_METRICS:
        units = per_page if metric in PAGE_METRICS else per_op
        vals = [u[metric] for u in units.values() if metric in u]
        out[metric] = statistics.median(vals) if vals else 0.0
    out["session.start_s"] = session_start_s
    return out
