"""Traced runs: per-layer spans and counters, wrapped around the
library's public functions from outside (nothing in ``bacon_spark``
knows it is traced).

* Every request or query is a root span; parse, slice, collect, table,
  render, refresh, build and execute calls inside it are child spans. All
  spans of one request carry its id.
* Hot inner calls are counted and summed, not spanned: URL unparse, the
  navigator's link builders, and py4j ``send_command`` (attributed to the
  innermost open span).
* Spark jobs, stages and tasks are read from ``statusTracker()`` under a
  per-request job group; engine routes from ``operators.decisions.log()``
  filtered by the watched boards' ``decisions_context``; streaming
  triggers from a ``StreamingQueryListener``.
* Workloads alternate traced and untraced units (nav sessions, refresh
  cycles, or each ops query run both ways) so the run can state its own
  tracing overhead: traced minus untraced wall, over untraced.

Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import statistics
import threading
from collections import defaultdict

from . import common

#: span name -> layer whose self time it is
LAYER = {
    "request": "harness",
    "parse": "builders.url",
    "slice": "engine",
    "collect": "engine",
    "refresh": "engine",
    "table": "observers",
    "render": "observers",
    "build": "gate",
    "execute": "gate",
}
SPANS = tuple(LAYER)
ROUTES = ("local_warm_exact", "local_warm_derived", "local_cold", "spark", "lattice")
GATE_MODULES = ("core", "streaming", "llm", "textprep", "temporal", "warehouse")

PER_LAYER = (
    [
        ("observers.render_ms", "ms"),
        ("observers.rows_rendered", "count"),
        ("cubenav.link_calls", "count"),
        ("cubenav.link_ms", "ms"),
        ("builders.url.unparse_calls", "count"),
        ("builders.url.unparse_ms", "ms"),
        ("builders.url.parse_ms", "ms"),
    ]
    + [(f"engine.route.{r}", "count") for r in ROUTES]
    + [
        ("engine.local_hit_ratio", "ratio"),
        ("engine.local_hit_base", "count"),
        ("engine.jobless_request_ratio", "ratio"),
        ("engine.requests", "count"),
        ("engine.slice_ms", "ms"),
        ("engine.slice_py4j_calls", "count"),
        ("engine.collect_ms", "ms"),
        ("engine.refresh_ms", "ms"),
        ("engine.refresh_jobs", "count"),
        ("spark.jobs", "count"),
        ("spark.stages", "count"),
        ("spark.tasks", "count"),
        ("py4j.calls", "count"),
        ("py4j.ms", "ms"),
    ]
    + [(f"py4j.calls.{s}", "count") for s in SPANS]
    + [(f"py4j.ms.{s}", "ms") for s in SPANS]
    + [
        (f"gate.{m}.{k}", u)
        for m in GATE_MODULES
        for k, u in (("build_s", "s"), ("execute_s", "s"), ("py4j_calls", "count"))
    ]
    + [("streaming.triggers", "count"), ("streaming.trigger_ms", "ms")]
    + [(f"self_ms.{lay}", "ms") for lay in sorted(set(LAYER.values()))]
    + [("trace.overhead_pct", "%"), ("trace.traced_units", "count")]
)


class _Span:
    __slots__ = ("name", "rid", "start", "dur", "child_s", "py4j_calls", "py4j_s")

    def __init__(self, name, rid):
        self.name, self.rid = name, rid
        self.start = common.now()
        self.dur = self.child_s = self.py4j_s = 0.0
        self.py4j_calls = 0


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = False
        self._in_request = False
        self._stack: list[_Span] = []
        self._ids = itertools.count()
        self.spans: list[tuple] = []  # (rid, name, start, dur, self_s, py4j_calls, py4j_s)
        self.requests: list[dict] = []
        self.untraced_units: list[tuple] = []  # (kind, unit, wall_s)
        self.count = defaultdict(int)
        self.ms = defaultdict(float)
        self.contexts: set[str] = set()
        self._patches: list[tuple] = []
        self._install()

    # --- switches ---------------------------------------------------------
    @property
    def active(self) -> bool:
        return self.enabled and self._in_request

    def watch(self, board) -> None:
        """Count engine routes of *board* (by its decisions context)."""
        self.contexts.add(board.decisions_context)

    # --- spans ------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, rid: str | None = None):
        """A child span of the open request (or its root, given *rid*)."""
        if not self.active:
            yield
            return
        sp = _Span(name, rid or self._stack[-1].rid)
        self._stack.append(sp)
        try:
            yield
        finally:
            self._stack.pop()
            sp.dur = common.now() - sp.start
            if self._stack:
                self._stack[-1].child_s += sp.dur
            self.spans.append(
                (sp.rid, name, sp.start, sp.dur, sp.dur - sp.child_s - sp.py4j_s,
                 sp.py4j_calls, sp.py4j_s)
            )

    @contextlib.contextmanager
    def request(self, kind: str, unit=None, module: str | None = None):
        """One timed request: a root span when tracing is on, else just its
        wall time for the overhead comparison."""
        from bacon_spark.operators import decisions

        t = common.now()
        if not self.enabled:
            yield
            self.untraced_units.append((kind, unit, common.now() - t))
            return
        rid = f"perfbench-{next(self._ids)}"
        self.sc.setJobGroup(rid, "perfbench request", False)
        mark = decisions.log()
        self._in_request = True
        try:
            with self.span("request", rid):
                yield
        finally:
            wall = common.now() - t
            self._in_request = False
            jobs, stages, tasks = self._jobs(rid)
            self.requests.append({
                "rid": rid, "kind": kind, "unit": unit, "module": module,
                "wall_s": wall, "jobs": jobs, "stages": stages, "tasks": tasks,
                "routes": self._routes(decisions.log(), mark[-1] if mark else None),
            })

    def _jobs(self, rid: str) -> tuple[int, int, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(rid)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                stages += 1
                si = st.getStageInfo(s)
                tasks += si.numTasks if si else 0
        return len(jobs), stages, tasks

    def _routes(self, log, last) -> list[str]:
        new = log
        for i in range(len(log) - 1, -1, -1):
            if log[i] is last:
                new = log[i + 1:]
                break
        out = []
        for d in new:
            if d.context not in self.contexts:
                continue
            if d.operator == "lattice" and d.route == "serve":
                out.append("lattice")
            elif d.operator == "cold_fold":
                if d.route == "local_warm":
                    kind = d.detail.get("kind")
                    out.append("local_warm_exact" if kind == "exact_repeat" else "local_warm_derived")
                elif d.route in ("local_cold", "spark"):
                    out.append(d.route)
        return out

    # --- wrappers -----------------------------------------------------------
    def _patch(self, owner, name, make):
        orig = getattr(owner, name)
        setattr(owner, name, functools.wraps(orig)(make(orig)))
        self._patches.append((owner, name, orig))

    def _spanned(self, name):
        def make(orig):
            def w(*a, **k):
                if not self.active:
                    return orig(*a, **k)
                with self.span(name):
                    return orig(*a, **k)
            return w
        return make

    def _counted(self, key):
        def make(orig):
            def w(*a, **k):
                if not self.active:
                    return orig(*a, **k)
                t = common.now()
                try:
                    return orig(*a, **k)
                finally:
                    self.count[key] += 1
                    self.ms[key] += (common.now() - t) * 1000.0
            return w
        return make

    def _py4j(self, orig):
        # only the request thread's calls: py4j callback threads (the
        # streaming listener) would overlap the spans' own wall time
        tid = threading.get_ident()

        def w(conn, *a, **k):
            if not self.active or not self._stack or threading.get_ident() != tid:
                return orig(conn, *a, **k)
            t = common.now()
            try:
                return orig(conn, *a, **k)
            finally:
                sp = self._stack[-1]
                sp.py4j_calls += 1
                sp.py4j_s += common.now() - t
        return w

    def _render(self, orig):
        def w(table, *a, **k):
            if not self.active:
                return orig(table, *a, **k)
            with self.span("render"):
                out = orig(table, *a, **k)
            self.count["rows_rendered"] += len(out.get("rows", ()))
            return out
        return w

    def _install(self) -> None:
        import py4j.clientserver
        import py4j.java_gateway
        from bacon_spark import cubenav, engine
        from bacon_spark.builders import url
        from bacon_spark.observers import controller, tables

        self._patch(url.UrlQueryBuilder, "parse", self._spanned("parse"))
        self._patch(url.UrlQueryBuilder, "unparse", self._counted("unparse"))
        for name in ("drill", "expand", "collapse", "row_detail", "invert_filter",
                     "swap_filter_op", "hide_value_of", "remove_dimension_filters",
                     "pivot", "unpivot"):
            self._patch(cubenav.Navigator, name, self._counted("link"))
        self._patch(engine.CuttingBoard, "slice", self._spanned("slice"))
        self._patch(engine.CuttingBoard, "refresh", self._spanned("refresh"))
        self._patch(engine.Slice, "collect", self._spanned("collect"))
        self._patch(tables.Table1D, "__init__", self._spanned("table"))
        self._patch(controller, "render_table_json", self._render)
        self._patch(py4j.clientserver.ClientServerConnection, "send_command", self._py4j)
        self._patch(py4j.java_gateway.GatewayConnection, "send_command", self._py4j)
        self._listen()

    def _listen(self) -> None:
        """Count streaming triggers with a listener that reads only the
        trigger duration of each progress event (pyspark's own listener
        wrapper converts the whole progress object, which races with the
        running stream)."""
        from pyspark import SparkContext

        tracer = self

        class Triggers:
            def onQueryStarted(self, jevent):
                pass

            def onQueryProgress(self, jevent):
                if tracer.active:
                    ms = jevent.progress().durationMs().get("triggerExecution")
                    tracer.count["triggers"] += 1
                    tracer.ms["triggers"] += float(ms or 0)

            def onQueryIdle(self, jevent):
                pass

            def onQueryTerminated(self, jevent):
                pass

            class Java:
                implements = ["org.apache.spark.sql.streaming.PythonStreamingQueryListener"]

        self._jlistener = SparkContext._jvm.org.apache.spark.sql.streaming.PythonStreamingQueryListenerWrapper(
            Triggers()
        )
        self.spark.streams._jsqm.addListener(self._jlistener)

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._patches):
            setattr(owner, name, orig)
        self._patches.clear()
        self.spark.streams._jsqm.removeListener(self._jlistener)

    # --- results ------------------------------------------------------------
    def overhead_pct(self) -> float:
        """Traced minus untraced wall over untraced, in percent, summed over
        the units (ops queries, nav session shapes) that ran both ways; over
        the mean request of each side when none did."""
        traced = defaultdict(list)
        for r in self.requests:
            if r["unit"] is not None:
                traced[r["unit"]].append(r["wall_s"])
        untraced = defaultdict(list)
        for _kind, unit, wall in self.untraced_units:
            if unit is not None:
                untraced[unit].append(wall)
        paired = [u for u in traced if u in untraced]
        if paired:
            t = sum(sum(traced[x]) for x in paired)
            u = sum(sum(untraced[x]) for x in paired)
        else:
            t = statistics.fmean([w for ws in traced.values() for w in ws] or [0.0])
            u = statistics.fmean([w for ws in untraced.values() for w in ws] or [0.0])
        return 100.0 * (t - u) / u if u else 0.0

    def metrics(self, res: dict) -> dict:
        m = {k: 0 for k, _u in PER_LAYER}
        span_ms = defaultdict(float)
        span_self = defaultdict(float)
        for rid, name, _start, dur, self_s, calls, p_s in self.spans:
            span_ms[name] += dur * 1000.0
            span_self[name] += self_s * 1000.0
            m[f"py4j.calls.{name}"] += calls
            m[f"py4j.ms.{name}"] += p_s * 1000.0
            m["py4j.calls"] += calls
            m["py4j.ms"] += p_s * 1000.0
        for name, layer in LAYER.items():
            m[f"self_ms.{layer}"] += span_self[name]
        m["observers.render_ms"] = span_self["render"] + span_self["table"]
        m["observers.rows_rendered"] = self.count["rows_rendered"]
        m["cubenav.link_calls"] = self.count["link"]
        m["cubenav.link_ms"] = self.ms["link"]
        m["builders.url.unparse_calls"] = self.count["unparse"]
        m["builders.url.unparse_ms"] = self.ms["unparse"]
        m["builders.url.parse_ms"] = span_ms["parse"]
        m["engine.slice_ms"] = span_ms["slice"]
        m["engine.slice_py4j_calls"] = m["py4j.calls.slice"]
        m["engine.collect_ms"] = span_ms["collect"]
        m["engine.refresh_ms"] = span_ms["refresh"]
        routed = 0
        for r in self.requests:
            for route in r["routes"]:
                m[f"engine.route.{route}"] += 1
                routed += 1
            m["spark.jobs"] += r["jobs"]
            m["spark.stages"] += r["stages"]
            m["spark.tasks"] += r["tasks"]
        local = sum(m[f"engine.route.{r}"] for r in ROUTES[:3])
        m["engine.local_hit_base"] = routed
        m["engine.local_hit_ratio"] = local / routed if routed else 0.0
        board_reqs = [r for r in self.requests if r["module"] is None and r["kind"] != "refresh"]
        m["engine.requests"] = len(board_reqs)
        m["engine.jobless_request_ratio"] = (
            sum(1 for r in board_reqs if r["jobs"] == 0) / len(board_reqs) if board_reqs else 0.0
        )
        m["engine.refresh_jobs"] = sum(r["jobs"] for r in self.requests if r["kind"] == "refresh")
        by_rid = {r["rid"]: r for r in self.requests}
        for rid, name, _start, dur, _self_s, calls, _p in self.spans:
            mod = by_rid.get(rid, {}).get("module")
            if mod and name in ("build", "execute"):
                m[f"gate.{mod}.{name}_s"] += dur
            if mod:
                m[f"gate.{mod}.py4j_calls"] += calls
        m["streaming.triggers"] = self.count["triggers"]
        m["streaming.trigger_ms"] = self.ms["triggers"]
        m["trace.overhead_pct"] = self.overhead_pct()
        m["trace.traced_units"] = len({r["unit"] for r in self.requests} - {None})
        return m

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({
                "spans": [
                    dict(zip(("rid", "name", "start", "dur_s", "self_s", "py4j_calls", "py4j_s"), s))
                    for s in self.spans
                ],
                "requests": self.requests,
            }, f)

    def report(self, m: dict) -> str:
        """Human-readable per-layer summary (stderr)."""
        lines = ["perfbench per-layer report (traced units only)"]
        total = sum(m[f"self_ms.{lay}"] for lay in sorted(set(LAYER.values()))) + m["py4j.ms"]
        lines.append(f"  {'layer':<16}{'self ms':>12}{'share':>8}")
        for lay in sorted(set(LAYER.values())):
            v = m[f"self_ms.{lay}"]
            lines.append(f"  {lay:<16}{v:>12.1f}{(v / total if total else 0):>8.1%}")
        lines.append(f"  {'spark/py4j':<16}{m['py4j.ms']:>12.1f}"
                     f"{(m['py4j.ms'] / total if total else 0):>8.1%}  ({m['py4j.calls']} calls)")
        lines.append(
            f"  spark jobs {m['spark.jobs']}, stages {m['spark.stages']}, tasks {m['spark.tasks']}; "
            f"local hit ratio {m['engine.local_hit_ratio']:.3f} of {m['engine.local_hit_base']} routed slices; "
            f"jobless requests {m['engine.jobless_request_ratio']:.3f} of {m['engine.requests']}"
        )
        lines.append(f"  tracing overhead: {m['trace.overhead_pct']:+.1f}% "
                     f"(traced minus untraced wall, over {m['trace.traced_units']} traced units)")
        return "\n".join(lines)
