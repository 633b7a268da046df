"""Per-layer spans recorded from outside the package.

The traced run wraps the package's public functions by replacing module
attributes (every module that imported a wrapped function by name is
patched too), so the package itself carries no tracing code. A span has a
name, start, end and parent; its self time is its wall time minus its
child spans'. Spans and counters stay in memory until the run writes them
out.

Spark jobs are counted per span through job groups: entering a span sets a
group of its own on the SparkContext, leaving it restores the parent's, and
when a root span ends the jobs and tasks of each group are read back from
``sparkContext.statusTracker()``.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import time
from contextlib import contextmanager

PKG = "routing_algorithm_for_graph_dbs_spark"

ATTRIBUTION_RULE = (
    "A Spark job is charged to the innermost span open when the job starts "
    "(each span sets its own job group; statusTracker reports each group's "
    "jobs). Lazy DataFrames run their jobs at the action site, so a layer "
    "that only builds a plan is charged nothing and the caller that collects "
    "it pays: find_near_stops's job lands in plan_trip.self_s, and the Arrow "
    "tier's Dijkstra job lands in _decompose_path."
)

# (module under PKG, attribute) wrapped as a span named "<module>.<function>"
SPANS = [
    ("session", "get_spark"),
    ("sources.gtfs", "read_gtfs"),
    ("sources.gtfs", "write_tables"),
    ("plans.projection", "project_graph"),
    ("plans.projection", "ProjectedGraph.edge_count"),
    ("operators.queries", "find_near_stops"),
    ("plans.routing", "plan_trip"),
    ("plans.routing", "routing_between_two_points_in_space"),
    ("plans.routing", "routing"),
    ("plans.routing", "routing_batch"),
    ("plans.routing", "_run_pairs"),
    ("plans.routing", "_decompose_path"),
    ("graph.stop_bound", "timetable_bound_data"),
    ("graph.stop_bound", "earliest_arrival_bounds"),
    ("graph.sssp", "sssp"),
    ("graph.local_sssp", "broadcast_dijkstra"),
    ("graph.local_sssp", "_prepare"),
    ("functions.localrel", "local_rows_df"),
]


def span_name(module: str, attr: str) -> str:
    return f"{module}.{attr.rsplit('.', 1)[-1]}"


class Span:
    __slots__ = ("name", "parent", "root", "group", "start", "end", "child_s",
                 "jobs", "tasks", "counters")

    def __init__(self, name: str, parent: "Span | None", group: str):
        self.name, self.parent, self.group = name, parent, group
        self.root = parent.root if parent is not None else self
        self.start = self.end = 0.0
        self.child_s = 0.0
        self.jobs = self.tasks = 0
        self.counters: dict[str, float] = {}

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall_s - self.child_s


class Tracer:
    """Spans, counters and the module patches that produce them."""

    def __init__(self):
        self.spans: list[Span] = []  # finished, in end order
        self._stack: list[Span] = []
        self._sc = None
        self._seq = 0
        self._patches: list[tuple[object, str, object]] = []

    def bind(self, sc) -> None:
        """Count Spark jobs from now on (no SparkContext exists before the
        session span ends)."""
        self._sc = sc

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, parent, f"perfbench-{self._seq}")
        self._seq += 1
        self._stack.append(s)
        self._set_group(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.child_s += s.wall_s
            self._set_group(parent)
            self.spans.append(s)
            if parent is None:
                self._resolve_jobs(s)

    def count(self, name: str, n: float = 1) -> None:
        """Add ``n`` to a counter of the current root span."""
        if self._stack:
            c = self._stack[0].counters
            c[name] = c.get(name, 0) + n

    def _set_group(self, s: Span | None) -> None:
        if self._sc is None:
            return
        if s is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(s.group, s.name)

    def _resolve_jobs(self, root: Span) -> None:
        """Jobs and tasks of every span under ``root``, read back once the
        listener bus has delivered their events."""
        if self._sc is None:
            return
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        for s in reversed(self.spans):
            if s.root is not root:
                break
            for jid in tracker.getJobIdsForGroup(s.group):
                s.jobs += 1
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info is not None else ():
                    st = tracker.getStageInfo(sid)
                    if st is not None:
                        s.tasks += st.numCompletedTasks + st.numFailedTasks

    # -- patching ---------------------------------------------------------

    def install(self) -> None:
        """Wrap every function in SPANS, plus the counter-only hooks."""
        for module, attr in SPANS:
            owner, fn = _resolve(module, attr)
            self._patch(owner, attr.rsplit(".", 1)[-1], fn,
                        self._wrap(fn, span_name(module, attr), _HOOKS.get(attr)))
        owner, fn = _resolve("graph.stop_bound", "provably_unreachable")
        self._patch(owner, "provably_unreachable", fn, self._count_pruned(fn))

    def uninstall(self) -> None:
        for target, attr, orig in reversed(self._patches):
            setattr(target, attr, orig)
        self._patches.clear()

    def _patch(self, owner, attr: str, orig, new) -> None:
        targets = [owner]
        if inspect.ismodule(owner):
            # modules that did `from <owner> import <attr>`
            targets += [
                m for name, m in list(sys.modules.items())
                if name.startswith(PKG) and m is not owner
                and getattr(m, attr, None) is orig
            ]
        for t in targets:
            self._patches.append((t, attr, orig))
            setattr(t, attr, new)

    def _wrap(self, fn, name: str, hook):
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                if hook is not None:
                    bound = sig.bind(*args, **kwargs)
                    bound.apply_defaults()
                    hook(self, bound.arguments)
                return fn(*args, **kwargs)

        return traced

    def _count_pruned(self, fn):
        @functools.wraps(fn)
        def counted(*args, **kwargs):
            out = fn(*args, **kwargs)
            self.count("stop_bound.checked")
            if out:
                self.count("stop_bound.pruned")
            return out

        return counted

    # -- reporting --------------------------------------------------------

    def roots(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.parent is None and s.name == name]

    def layers(self, roots: list[Span]) -> dict[str, dict]:
        """Per span name: calls, self_s, jobs and tasks summed over the
        spans under ``roots``."""
        ids = {id(r) for r in roots}
        out: dict[str, dict] = {}
        for s in self.spans:
            if id(s.root) in ids:
                row = out.setdefault(s.name, {"calls": 0, "self_s": 0.0, "jobs": 0, "tasks": 0})
                row["calls"] += 1
                row["self_s"] += s.self_s
                row["jobs"] += s.jobs
                row["tasks"] += s.tasks
        return out

    def counters(self, roots: list[Span]) -> dict[str, float]:
        out: dict[str, float] = {}
        for r in roots:
            for k, v in r.counters.items():
                out[k] = out.get(k, 0) + v
        return out

    def dump(self) -> list[dict]:
        index = {id(s): i for i, s in enumerate(self.spans)}
        return [
            {
                "id": i, "name": s.name,
                "parent": index.get(id(s.parent)) if s.parent is not None else None,
                "start": s.start, "end": s.end, "self_s": s.self_s,
                "jobs": s.jobs, "tasks": s.tasks, "counters": s.counters,
            }
            for i, s in enumerate(self.spans)
        ]


def _resolve(module: str, attr: str):
    """(object owning the attribute, the original function)."""
    owner = importlib.import_module(f"{PKG}.{module}")
    *path, name = attr.split(".")
    for p in path:
        owner = getattr(owner, p)
    return owner, getattr(owner, name)


def _hook_prepare(tr: Tracer, a: dict) -> None:
    from routing_algorithm_for_graph_dbs_spark.graph import local_sssp

    if (id(a["edges"]), a["weight_col"]) in local_sssp._PREP_CACHE:
        tr.count("local_sssp.prep_hits")


def _hook_bound_data(tr: Tracer, a: dict) -> None:
    cached = getattr(a["graph"], "_timetable_bound_data", None)
    if cached is not None and cached[0] == a["bucket_s"]:
        tr.count("stop_bound.prep_hits")


def _hook_sssp(tr: Tracer, a: dict) -> None:
    """Tier by the dispatcher's own rule on its inputs: iterative above
    BROADCAST_EDGE_LIMIT edges, else in-driver up to DRIVER_LANE_LIMIT
    lanes, else the Arrow broadcast stage."""
    from routing_algorithm_for_graph_dbs_spark.graph.local_sssp import DRIVER_LANE_LIMIT
    from routing_algorithm_for_graph_dbs_spark.graph.sssp import BROADCAST_EDGE_LIMIT

    lanes = a["n_lanes"] or 0
    tr.count("routing.lanes", lanes)
    n_edges = a["n_edges"]
    if a["strategy"] == "iterative" or (
        a["strategy"] == "auto" and n_edges is not None and n_edges > BROADCAST_EDGE_LIMIT
    ):
        tier = "iterative"
    elif 0 < lanes <= DRIVER_LANE_LIMIT:
        tier = "driver"
    else:
        tier = "arrow"
    tr.count(f"sssp.tier.{tier}")


def _hook_local_rows(tr: Tracer, a: dict) -> None:
    from routing_algorithm_for_graph_dbs_spark.functions.localrel import LOCALREL_MAX_ROWS

    n = len(a["rows"])
    tr.count("localrel.rows", n)
    if n > LOCALREL_MAX_ROWS:
        tr.count("localrel.fallbacks")


_HOOKS = {
    "_prepare": _hook_prepare,
    "timetable_bound_data": _hook_bound_data,
    "sssp": _hook_sssp,
    "local_rows_df": _hook_local_rows,
}
