"""Traced-run plumbing: an in-memory span recorder around each public call,
a reader for Spark's uncompressed JSON event log, and the per-layer metrics
that join the two.

Spans carry wall-clock epoch milliseconds, the clock Spark stamps its events
with, so a Spark job belongs to the span whose window holds its submission
time.  Per-layer numbers are read from Spark's own SQL plan metrics (summed
task accumulator updates per plan node) and task metrics; nothing is derived
by subtracting one timed run from another.

Plan nodes map to this repository's modules:

  sources     ``Scan parquet``                                  sources/
  parse       ``MapInArrow`` / ``MapInPandas``                  operators/parse.py
  aggregate   ``HashAggregate``, ``ObjectHashAggregate``,
              ``SortAggregate`` and their ``Exchange`` nodes     operators/aggregate.py
  sink        ``Execute InsertIntoHadoopFsRelationCommand``     parquet writes
  checkpoint  read-back executions between chunk commits        operators/checkpoint.py
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


# -- spans ---------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start_ms: float  # epoch milliseconds
    end_ms: float
    parent: str | None = None

    @property
    def seconds(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0

    def holds(self, t_ms: float) -> bool:
        return self.start_ms <= t_ms <= self.end_ms


class SpanRecorder:
    """Spans kept in memory; written out with the run record at the end."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, parent: str | None = None):
        start = time.time() * 1000.0
        try:
            yield
        finally:
            self.spans.append(Span(name, start, time.time() * 1000.0, parent))

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


# -- event log -----------------------------------------------------------------

_SQL = "org.apache.spark.sql.execution.ui."


@dataclass
class Node:
    name: str  # plan node name, e.g. "MapInArrow"
    desc: str  # simpleString, e.g. "ObjectHashAggregate(keys=[...], functions=[...])"
    metrics: dict[str, tuple[int, str]]  # metric name -> (accumulator id, metric type)


@dataclass
class Execution:
    id: int
    start: int
    end: int | None = None
    nodes: dict[int, Node] = field(default_factory=dict)  # keyed by first accumulator id
    driver_accums: dict[int, float] = field(default_factory=dict)


@dataclass
class Task:
    stage: int
    launch: int
    finish: int
    failed: bool
    attempt: int
    metrics: dict
    accums: dict[int, float]


@dataclass
class Job:
    submit: int
    stages: list[int]


@dataclass
class App:
    start: int
    end: int | None = None
    jobs: list[Job] = field(default_factory=list)
    tasks: list[Task] = field(default_factory=list)
    stage_accums: dict[int, set[int]] = field(default_factory=dict)
    executions: dict[int, Execution] = field(default_factory=dict)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _walk(plan: dict, out: dict[int, Node]) -> None:
    metrics = {m["name"]: (m["accumulatorId"], m["metricType"]) for m in plan.get("metrics", [])}
    if metrics:
        out.setdefault(min(a for a, _ in metrics.values()),
                       Node(plan["nodeName"], plan.get("simpleString", ""), metrics))
    for child in plan.get("children", []):
        _walk(child, out)


def read_app(paths: list[str]) -> App:
    """Parse one application's event log (JSON lines, uncompressed), given
    as its event files in order."""
    app: App | None = None
    for line in _lines(paths):
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerApplicationStart":
            app = App(start=e["Timestamp"])
        elif app is None:
            continue
        elif kind == "SparkListenerApplicationEnd":
            app.end = e["Timestamp"]
        elif kind == "SparkListenerJobStart":
            app.jobs.append(Job(e["Submission Time"], e["Stage IDs"]))
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            app.stage_accums.setdefault(si["Stage ID"], set()).update(
                a["ID"] for a in si.get("Accumulables", [])
            )
        elif kind == "SparkListenerTaskEnd":
            ti = e["Task Info"]
            app.tasks.append(
                Task(
                    stage=e["Stage ID"],
                    launch=ti["Launch Time"],
                    finish=ti["Finish Time"],
                    failed=bool(ti.get("Failed")) or bool(ti.get("Killed"))
                    or (e.get("Task End Reason") or {}).get("Reason") != "Success",
                    attempt=ti.get("Attempt", 0),
                    metrics=e.get("Task Metrics") or {},
                    accums={a["ID"]: _num(a.get("Update")) for a in ti.get("Accumulables", [])},
                )
            )
        elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                      _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            ex = app.executions.setdefault(
                e["executionId"], Execution(e["executionId"], e.get("time", 0))
            )
            _walk(e["sparkPlanInfo"], ex.nodes)
        elif kind == _SQL + "SparkListenerSQLExecutionEnd":
            if e["executionId"] in app.executions:
                app.executions[e["executionId"]].end = e["time"]
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            ex = app.executions.get(e["executionId"])
            if ex is not None:
                for acc_id, v in e["accumUpdates"]:
                    ex.driver_accums[acc_id] = _num(v)
    if app is None:
        raise ValueError(f"{paths}: no SparkListenerApplicationStart event")
    return app


def _lines(paths: list[str]):
    for path in paths:
        with open(path) as f:
            yield from f


def read_event_logs(log_dir: str) -> list[App]:
    """Every application logged under `log_dir`: one ``eventlog_v2_*``
    directory of numbered ``events_<n>_*`` files per application (Spark's
    rolling layout), or one flat file per application."""
    apps = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if os.path.isdir(path):
            parts = [p for p in os.listdir(path) if p.startswith("events_")]
            parts.sort(key=lambda p: int(p.split("_")[1]))
            apps.append(read_app([os.path.join(path, p) for p in parts]))
        elif not name.startswith(".") and not name.endswith(".inprogress"):
            apps.append(read_app([path]))
    return sorted(apps, key=lambda a: a.start)


# -- layer attribution ---------------------------------------------------------

PARSE_NODES = ("MapInArrow", "MapInPandas")
AGG_NODES = ("HashAggregate", "ObjectHashAggregate", "SortAggregate")
SINK_PREFIX = "Execute InsertIntoHadoopFsRelationCommand"


def _layer(node: Node) -> str | None:
    if node.name.startswith("Scan "):
        return "sources"
    if node.name in PARSE_NODES:
        return "parse"
    if node.name in AGG_NODES or node.name in ("Exchange", "AQEShuffleRead"):
        return "aggregate"
    if node.name.startswith(SINK_PREFIX):
        return "sink"
    return None


class RunView:
    """The Spark work of one run: executions and jobs started inside the
    run's span, the tasks of those jobs, and node metric totals."""

    def __init__(self, apps: list[App], span: Span):
        self.span = span
        self.apps = [a for a in apps if span.holds(a.start) or (a.end and span.holds(a.end))
                     or any(span.holds(j.submit) for j in a.jobs)]
        self.executions: list[tuple[App, Execution]] = [
            (a, x) for a in self.apps for x in a.executions.values() if span.holds(x.start)
        ]
        self.jobs: list[tuple[App, Job]] = [
            (a, j) for a in self.apps for j in a.jobs if span.holds(j.submit)
        ]
        stages = {(id(a), s) for a, j in self.jobs for s in j.stages}
        self.tasks: list[tuple[App, Task]] = [
            (a, t) for a in self.apps for t in a.tasks if (id(a), t.stage) in stages
        ]
        self._task_accums: dict[tuple[int, int], float] = {}
        for a, t in self.tasks:
            for acc_id, v in t.accums.items():
                key = (id(a), acc_id)
                self._task_accums[key] = self._task_accums.get(key, 0.0) + v

    def value(self, app: App, ex: Execution, acc_id: int) -> float:
        """A node metric's total: task accumulator updates plus driver-side
        updates."""
        return self._task_accums.get((id(app), acc_id), 0.0) + ex.driver_accums.get(acc_id, 0.0)

    def nodes(self, layer: str, executions=None):
        for app, ex in executions if executions is not None else self.executions:
            for node in ex.nodes.values():
                if _layer(node) == layer:
                    yield app, ex, node

    def metric(self, layer: str, name: str, executions=None) -> float:
        """Sum of one plan metric over the layer's nodes, in natural units
        (timings in seconds)."""
        total = 0.0
        for app, ex, node in self.nodes(layer, executions):
            if name in node.metrics:
                acc_id, kind = node.metrics[name]
                v = self.value(app, ex, acc_id)
                total += v / 1e3 if kind == "timing" else v / 1e9 if kind == "nsTiming" else v
        return total

    def node_tasks(self, layer: str, executions=None) -> list[Task]:
        """Tasks of the stages that ran one of the layer's nodes."""
        accs = {
            (id(app), acc)
            for app, _ex, node in self.nodes(layer, executions)
            for acc, _k in node.metrics.values()
        }
        return [
            t for a, t in self.tasks
            if any((id(a), acc) in accs for acc in a.stage_accums.get(t.stage, ()))
        ]


def _tm(task: Task, *path: str) -> float:
    v = task.metrics
    for p in path:
        v = v.get(p, {}) if isinstance(v, dict) else {}
    return _num(v) if not isinstance(v, dict) else 0.0


def _final_agg(node: Node) -> bool:
    return node.name in AGG_NODES and "partial_" not in node.desc and "merge_" not in node.desc


def layer_metrics(
    view: RunView,
    cores: int,
    chunk_phase_end_ms: float | None = None,
    chunk_walls: list[float] | None = None,
) -> dict[str, float]:
    """Per-layer metrics of one traced run.  For incremental runs,
    `chunk_phase_end_ms` (the last manifest commit) splits the run into its
    chunk phase and the final digest; executions of the chunk phase that
    write nothing are the checkpoint's read-backs."""
    wall = view.span.seconds
    m: dict[str, float] = {}

    # session: context start and stop inside the public call
    restart = 0.0
    for a in view.apps:
        if view.span.holds(a.start):
            restart += (a.start - view.span.start_ms) / 1e3
        if a.end is not None and view.span.holds(a.end):
            restart += (view.span.end_ms - a.end) / 1e3
    m["session.restart_s"] = restart

    readbacks = []
    if chunk_phase_end_ms is not None:
        readbacks = [
            (a, x) for a, x in view.executions
            if x.start <= chunk_phase_end_ms
            and not any(_layer(n) == "sink" for n in x.nodes.values())
        ]
    rb_ids = {(id(a), x.id) for a, x in readbacks}
    main_ex = [(a, x) for a, x in view.executions if (id(a), x.id) not in rb_ids]

    m["sources.scan_time_s"] = view.metric("sources", "scan time", main_ex)
    m["sources.files_read"] = view.metric("sources", "number of files read", main_ex)
    m["sources.bytes_read"] = view.metric("sources", "size of files read", main_ex)
    m["sources.tasks"] = len(view.node_tasks("sources", main_ex))

    m["parse.python_run_s"] = view.metric("parse", "time to run Python workers")
    m["parse.python_init_s"] = view.metric("parse", "time to initialize Python workers")
    m["parse.python_boot_s"] = view.metric("parse", "time to start Python workers")
    m["parse.bytes_to_python"] = view.metric("parse", "data sent to Python workers")
    m["parse.bytes_from_python"] = view.metric("parse", "data returned from Python workers")
    m["parse.rows_out"] = view.metric("parse", "number of output rows")
    m["parse.passes_per_run"] = sum(
        1 for app, ex, node in view.nodes("parse")
        if view.value(app, ex, node.metrics["number of output rows"][0]) > 0
    )
    durations = sorted((t.finish - t.launch) / 1e3 for t in view.node_tasks("parse"))
    m["parse.task_p50_s"] = statistics.median(durations) if durations else 0.0
    m["parse.task_max_s"] = durations[-1] if durations else 0.0

    agg_tasks = view.node_tasks("aggregate", main_ex)
    m["aggregate.build_s"] = view.metric("aggregate", "time in aggregation build", main_ex)
    m["aggregate.peak_mem_bytes"] = max(
        (_tm(t, "Peak Execution Memory") for t in agg_tasks), default=0.0
    )
    m["aggregate.spill_bytes"] = view.metric("aggregate", "spill size", main_ex)
    m["aggregate.sort_fallbacks"] = view.metric(
        "aggregate", "number of sort fallback tasks", main_ex
    )
    m["aggregate.shuffle_bytes"] = view.metric("aggregate", "shuffle bytes written", main_ex)
    m["aggregate.shuffle_records"] = view.metric(
        "aggregate", "shuffle records written", main_ex
    )
    m["aggregate.fetch_wait_s"] = view.metric("aggregate", "fetch wait time", main_ex)
    m["aggregate.reduce_tasks"] = sum(
        1 for t in agg_tasks
        if _tm(t, "Shuffle Read Metrics", "Local Blocks Fetched")
        + _tm(t, "Shuffle Read Metrics", "Remote Blocks Fetched") > 0
    )
    m["aggregate.groups_out"] = sum(
        view.value(app, ex, node.metrics["number of output rows"][0])
        for app, ex, node in view.nodes("aggregate", main_ex)
        if _final_agg(node) and "number of output rows" in node.metrics
    )

    write_tasks = [t for _a, t in view.tasks if _tm(t, "Output Metrics", "Bytes Written") > 0]
    m["sink.write_task_s"] = sum(_tm(t, "Executor Run Time") for t in write_tasks) / 1e3
    m["sink.bytes_written"] = view.metric("sink", "written output")
    m["sink.files_written"] = view.metric("sink", "number of written files")
    m["sink.task_commit_s"] = view.metric("sink", "task commit time")
    m["sink.job_commit_s"] = view.metric("sink", "job commit time")

    walls = sorted(chunk_walls or [])
    chunk_ex = [(a, x) for a, x in view.executions
                if chunk_phase_end_ms is not None and x.start <= chunk_phase_end_ms]
    m["checkpoint.chunks"] = len(walls)
    m["checkpoint.jobs_per_chunk"] = len(chunk_ex) / len(walls) if walls else 0.0
    m["checkpoint.readback_s"] = sum(
        ((x.end or x.start) - x.start) / 1e3 for _a, x in readbacks
    )
    m["checkpoint.chunk_wall_p50_s"] = statistics.median(walls) if walls else 0.0
    m["checkpoint.chunk_wall_max_s"] = walls[-1] if walls else 0.0

    tasks = [t for _a, t in view.tasks]
    run_s = sum(_tm(t, "Executor Run Time") for t in tasks) / 1e3
    delay = 0.0
    for t in tasks:
        busy = (
            _tm(t, "Executor Run Time")
            + _tm(t, "Executor Deserialize Time")
            + _tm(t, "Result Serialization Time")
        )
        delay += max(0.0, (t.finish - t.launch) - busy) / 1e3
    m["spark.jobs"] = len(view.jobs)
    m["spark.stages"] = len({(id(a), s) for a, j in view.jobs for s in j.stages
                             if s in a.stage_accums})
    m["spark.tasks"] = len(tasks)
    m["spark.executor_run_s"] = run_s
    m["spark.executor_cpu_s"] = sum(_tm(t, "Executor CPU Time") for t in tasks) / 1e9
    m["spark.gc_s"] = sum(_tm(t, "JVM GC Time") for t in tasks) / 1e3
    m["spark.scheduler_delay_s"] = delay
    m["spark.core_idle_ratio"] = 1.0 - run_s / (wall * cores) if wall > 0 else 0.0
    m["spark.failed_task_ratio"] = (
        sum(1 for t in tasks if t.failed or t.attempt > 0) / len(tasks) if tasks else 0.0
    )
    return m
