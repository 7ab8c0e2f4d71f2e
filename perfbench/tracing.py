"""Traced run: one span per call into a layer's public function.

Spans are recorded from the benchmark's own files by wrapping the
package's public functions where they are *looked up*: names bound at
import time (``interpreter.render_html``, ``graph.materialize``, ...)
are patched in every module that holds them. Each span gets its own
Spark job group, so jobs are attributed to the innermost span that
ran them. Spans stay in memory; ``finish_op`` attributes jobs, stages,
Catalyst phases, exchanges and stage totals after each op, outside its
latency but inside the timed wall (``trace.overhead_pct``).

Catalyst phases come from the QueryExecutions the op actually ran
(every ``collect``, so both of a render's ``take`` plans)
plus the result DataFrame's analysis; exchanges come from the final
plans of the op's SQL executions as the UI's ``/sql`` endpoint reports
them.

Layer -> end-to-end metric it should move (workload; the notebook's
pipeline cells carry the parse, extract and load layers):

    session.build_s            setup_s                       both
    interpreter.self_ms        op_p50_ms                     notebook
    plans.parse_ms             op_p90_ms, rows_out_per_s     notebook
    plans.advisor_ms           op_p50_ms                     notebook
    sources.extract_s          op_p90_ms, rows_out_per_s     notebook
    operators.build_s/_jobs    pass_s                        operators
    operators.load_s, operators.load_bytes_per_input_byte
                               rows_out_per_s                notebook
    checkpoint.materializations, checkpoint.materialize_s
                               pass_s                        operators
    catalyst.*_ms              op_p50_ms                     notebook
    catalyst.exchanges         pass_s, op_p50_ms             both
    spark.exec_s/jobs/stages   every wall metric             both
    spark.shuffle_*_mb, spark.spill_mb
                               pass_s, rows_out_per_s        both
    render.self_ms, render.jobs
                               op_p50_ms, ops_per_s          notebook
    streaming.*                op_p90_ms, ops_per_s          notebook

Predicted no-change pairings: a render or streaming change moves the
notebook and leaves operators' pass_s flat (operators never render); a
checkpoint or round-trip change moves operators and leaves the
notebook flat; a HOCON-parser change moves only the notebook.
"""

from __future__ import annotations

import contextlib
import functools
import statistics
import sys
import time
from typing import Any, Callable

#: per-layer metric -> unit, in report order
LAYER_METRICS = {
    "session.build_s": "s",
    "interpreter.self_ms": "ms",
    "plans.parse_ms": "ms",
    "plans.advisor_ms": "ms",
    "sources.extract_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.load_s": "s",
    "operators.load_bytes_per_input_byte": "ratio",
    "checkpoint.materializations": "count",
    "checkpoint.materialize_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "catalyst.exchanges": "count",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.shuffle_read_mb": "MiB",
    "spark.shuffle_write_mb": "MiB",
    "spark.spill_mb": "MiB",
    "render.self_ms": "ms",
    "render.jobs": "count",
    "streaming.preview_s": "s",
    "streaming.polls": "count",
    "streaming.rows_drained_per_row_shown": "ratio",
}
#: ratios are reported as their median only; everything else also
#: gets a ``.total`` over the run
RATIOS = {"operators.load_bytes_per_input_byte", "streaming.rows_drained_per_row_shown"}
#: layers whose spans are the op's final action
ACTION_LAYERS = ("spark.action", "operators.load", "render")
IDLE_GROUP = "pb-idle"
#: SQL plan node names that are exchanges (a ReusedExchange is not one)
EXCHANGES = ("Exchange", "BroadcastExchange")


class Tracer:
    """In-memory span recorder with job-group attribution."""

    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self.ops: list[dict[str, Any]] = []
        self.overhead_s = 0.0
        self._stack: list[dict[str, Any]] = []
        self._op: int | None = None
        self._op_first_span = 0
        self._sc = None
        self._meter = None
        self._rest = ""
        self._sql_seen = 0
        self._qes: list = []

    # -- spans ---------------------------------------------------------

    def attach(self, spark) -> None:
        """Bind to the session; stage totals and SQL plans need its UI."""
        from arc_jupyter_spark.metrics import SegmentMeter, _app_base

        self._sc = spark.sparkContext
        self._meter = SegmentMeter(spark)
        self._rest = _app_base(spark)
        self._sql_seen = len(self._sql_executions(0))
        self._sc.setJobGroup(IDLE_GROUP, IDLE_GROUP)

    def _group(self, span: dict[str, Any] | None) -> str:
        return f"pb{span['id']}" if span is not None else IDLE_GROUP

    def _enter(self, layer: str) -> dict[str, Any]:
        t0 = time.perf_counter()
        span = {
            "id": len(self.spans), "layer": layer, "op": self._op,
            "parent": self._stack[-1]["id"] if self._stack else None,
        }
        self.spans.append(span)
        self._stack.append(span)
        if self._sc is not None:
            self._sc.setJobGroup(self._group(span), layer)
        span["start"] = time.perf_counter()
        if self._op is not None:
            self.overhead_s += span["start"] - t0
        return span

    def _exit(self, span: dict[str, Any]) -> None:
        span["end"] = time.perf_counter()
        self._stack.pop()
        if self._sc is not None:
            parent = self._stack[-1] if self._stack else None
            self._sc.setJobGroup(self._group(parent), parent["layer"] if parent else IDLE_GROUP)
        if self._op is not None:
            self.overhead_s += time.perf_counter() - span["end"]

    @contextlib.contextmanager
    def span(self, layer: str):
        span = self._enter(layer)
        try:
            yield span
        finally:
            self._exit(span)

    def wrap(self, layer: str | Callable[[tuple], str], fn: Callable) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = self._enter(layer(args) if callable(layer) else layer)
            try:
                out = fn(*args, **kwargs)
                span["result"] = out
                span["kwargs"] = kwargs
                return out
            finally:
                self._exit(span)

        return traced

    # -- patching ------------------------------------------------------

    def patch(self, owner: Any, attr: str, layer) -> None:
        setattr(owner, attr, self.wrap(layer, getattr(owner, attr)))

    def patch_everywhere(self, func: Callable, layer: str) -> None:
        """Patch *func* in every package module that bound it by name."""
        for name, module in list(sys.modules.items()):
            if not name.startswith("arc_jupyter_spark") or module is None:
                continue
            for attr, value in list(vars(module).items()):
                if value is func:
                    self.patch(module, attr, layer)

    def install(self) -> None:
        """Wrap every layer's public entry points."""
        from arc_jupyter_spark import checkpoint, interpreter, render
        from arc_jupyter_spark.plans import advisor, pipeline
        from arc_jupyter_spark.streaming import preview

        self._patch_actions()
        self.patch(interpreter.Interpreter, "execute", "interpreter")
        self.patch_everywhere(pipeline.parse_pipeline, "plans.parse")
        self.patch(advisor, "analyze", "plans.advisor")
        self.patch(advisor, "report", "plans.advisor")
        for func in (checkpoint.materialize, checkpoint.materialize_lazy):
            self.patch_everywhere(func, "checkpoint")
        for func in (render.render_text, render.render_html):
            self.patch_everywhere(func, "render")
        self.patch_everywhere(preview.preview_stream, "streaming.preview")
        self._patch_poll_clock(preview)
        seen = set()
        for cls in pipeline.STAGE_REGISTRY.values():
            for klass in cls.__mro__:
                if "execute" in vars(klass) and klass not in seen:
                    seen.add(klass)
                    self.patch(klass, "execute", _stage_layer)

    def _patch_poll_clock(self, preview_module) -> None:
        """Count preview polls: the poll loop sleeps once per poll."""
        tracer = self
        real_time = preview_module.time

        class _PollClock:
            monotonic = staticmethod(real_time.monotonic)

            @staticmethod
            def sleep(seconds: float) -> None:
                if tracer._stack:
                    span = tracer._stack[-1]
                    span["polls"] = span.get("polls", 0) + 1
                real_time.sleep(seconds)

        preview_module.time = _PollClock

    def _patch_actions(self) -> None:
        """Keep the QueryExecution of every collect the op runs: those
        are the plans Catalyst actually optimized and planned for it
        (``take`` is ``limit(n).collect()``, a plan of its own)."""
        from pyspark.sql.classic.dataframe import DataFrame

        tracer = self
        real = DataFrame.collect

        @functools.wraps(real)
        def collect(df):
            out = real(df)
            if tracer._op is not None:
                t0 = time.perf_counter()
                tracer._qes.append(df._jdf.queryExecution())
                tracer.overhead_s += time.perf_counter() - t0
            return out

        DataFrame.collect = collect

    # -- per-op attribution -------------------------------------------

    @contextlib.contextmanager
    def op(self, op_id: int, kind: str):
        """Root span of one op; jobs outside layer spans land here."""
        self._op = op_id
        self._op_first_span = len(self.spans)
        self._qes = []
        try:
            with self.span(f"op:{kind}"):
                yield
        finally:
            self._op = None

    def finish_op(self, result_df=None, extra: dict[str, float] | None = None) -> dict[str, float]:
        """Per-layer values of the op that just ended. Runs outside the
        op's latency but inside the timed wall, so its time is tracing
        overhead."""
        t0 = time.perf_counter()
        try:
            return self._finish_op(result_df, extra)
        finally:
            self.overhead_s += time.perf_counter() - t0

    def _finish_op(self, result_df, extra) -> dict[str, float]:
        spans = self.spans[self._op_first_span:]
        for s in spans:  # before the read-back, so its stages stay in this op
            if s["layer"] == "streaming.preview" and s.get("result") is not None:
                s["drained"] = s["result"].count()
        self._drain_listeners()
        tracker = self._sc.statusTracker()
        by_id = {s["id"]: s for s in spans}
        for s in spans:
            s["dur"] = s["end"] - s["start"]
            s["jobs"] = sorted(tracker.getJobIdsForGroup(self._group(s)))
            infos = [tracker.getJobInfo(j) for j in s["jobs"]]
            s["stages"] = sum(len(info.stageIds) for info in infos if info is not None)
        children: dict[int, float] = {}
        for s in spans:
            if s["parent"] in by_id:
                children[s["parent"]] = children.get(s["parent"], 0.0) + s["dur"]

        def under(span, layer):  # is *span* inside a span of *layer*?
            p = by_id.get(span["parent"])
            while p is not None:
                if p["layer"] == layer:
                    return True
                p = by_id.get(p["parent"])
            return False

        def subtree_jobs(span):
            out = list(span["jobs"])
            for s in spans:
                if s["parent"] == span["id"]:
                    out += subtree_jobs(s)
            return out

        def of(layer):
            return [s for s in spans if s["layer"] == layer]

        row: dict[str, float] = {}

        def put(name, value):
            row[name] = row.get(name, 0.0) + value

        for s in of("interpreter"):
            put("interpreter.self_ms", (s["dur"] - children.get(s["id"], 0.0)) * 1e3)
        for s in of("plans.parse"):
            put("plans.parse_ms", s["dur"] * 1e3)
        for s in of("plans.advisor"):
            if not under(s, "plans.advisor"):
                put("plans.advisor_ms", s["dur"] * 1e3)
        for s in of("sources.extract"):
            put("sources.extract_s", s["dur"])
        for s in of("operators.build"):
            put("operators.build_s", s["dur"])
            put("operators.build_jobs", len(subtree_jobs(s)))
        for s in of("operators.load"):
            put("operators.load_s", s["dur"])
        for s in of("checkpoint"):
            if not under(s, "checkpoint"):
                put("checkpoint.materializations", 1)
                put("checkpoint.materialize_s", s["dur"])
        for s in of("render"):
            put("render.self_ms", (s["dur"] - children.get(s["id"], 0.0)) * 1e3)
            put("render.jobs", len(subtree_jobs(s)))
        for layer in ACTION_LAYERS:
            for s in of(layer):
                put("spark.exec_s", s["dur"])
        for s in of("streaming.preview"):  # at most one preview per cell
            put("streaming.preview_s", s["dur"])
            put("streaming.polls", s.get("polls", 0))
            rows = s.get("drained", 0)
            shown = min(rows, int(s["kwargs"].get("num_rows", 20)))
            row["streaming.rows_drained_per_row_shown"] = rows / shown if shown else 0.0
        jobs = {j for s in spans for j in s["jobs"]}
        put("spark.jobs", len(jobs))
        put("spark.stages", sum(s["stages"] for s in spans))
        qes = self._qes + ([result_df._jdf.queryExecution()] if result_df is not None else [])
        for name, value in _catalyst_phases(qes).items():
            put(name, value)
        put("catalyst.exchanges", self._exchanges(jobs))
        totals = self._meter.segment()
        put("spark.shuffle_read_mb", totals["shuffle_read_mb"])
        put("spark.shuffle_write_mb", totals["shuffle_write_mb"])
        put("spark.spill_mb", totals["mem_spill_mb"] + totals["disk_spill_mb"])
        row.update(extra or {})
        for s in spans:  # drop DataFrame handles, keep the span record
            s.pop("result", None)
            s.pop("kwargs", None)
        self.ops.append(row)
        return row

    def _drain_listeners(self) -> None:
        """Wait until the UI listeners have seen every event of the op,
        so its jobs, stages and final SQL plans are all recorded."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)

    def _sql_executions(self, offset: int) -> list[dict[str, Any]]:
        from arc_jupyter_spark.metrics import _get

        return _get(f"{self._rest}/sql?details=true&planDescription=false"
                    f"&offset={offset}&length=1000000")

    def _exchanges(self, jobs: set[int]) -> float:
        """Exchange nodes in the final plans of the SQL executions that
        ran the op's jobs (AQE's final plan, as the SQL UI shows it)."""
        new = self._sql_executions(self._sql_seen)
        self._sql_seen += len(new)
        count = 0
        for ex in new:
            ran = set(ex["successJobIds"]) | set(ex["failedJobIds"]) | set(ex["runningJobIds"])
            if ran & jobs:
                count += sum(1 for node in ex["nodes"] if node["nodeName"] in EXCHANGES)
        return float(count)

    # -- report --------------------------------------------------------

    def metrics(self, build_s: float, timed_wall_s: float) -> dict[str, dict]:
        out: dict[str, dict] = {}
        for name, unit in LAYER_METRICS.items():
            if name == "session.build_s":
                vals = [build_s]
            else:
                vals = [r[name] for r in self.ops if name in r]
            out[name] = {"value": statistics.median(vals) if vals else 0.0, "unit": unit}
            if name not in RATIOS:
                out[f"{name}.total"] = {"value": float(sum(vals)), "unit": unit}
        out["trace.overhead_pct"] = {
            "value": 100.0 * self.overhead_s / (timed_wall_s - self.overhead_s),
            "unit": "%",
        }
        return out

    def span_records(self) -> list[dict[str, Any]]:
        return [{k: v for k, v in s.items() if k not in ("result", "kwargs")}
                for s in self.spans]


def _stage_layer(args: tuple) -> str:
    kind = getattr(args[0], "stage_kind", "transform")
    if kind == "extract":
        return "sources.extract"
    if kind == "load":
        return "operators.load"
    return "operators.build"


def _catalyst_phases(qes: list) -> dict[str, float]:
    """Summed Catalyst phase times of distinct QueryExecutions. Only
    phases that ran are in a tracker, so reading it triggers nothing."""
    out: dict[str, float] = {}
    seen = set()
    for qe in qes:
        key = qe.hashCode()
        if key in seen:
            continue
        seen.add(key)
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            summary = phases.get(phase)  # a scala.Option
            if summary.isDefined():
                name = f"catalyst.{phase}_ms"
                out[name] = out.get(name, 0.0) + float(summary.get().durationMs())
    return out


class NullTracer:
    """Untraced runs: the same calls, no recording."""

    def span(self, layer: str):
        return contextlib.nullcontext()

    def op(self, op_id: int, kind: str):
        return contextlib.nullcontext()

    def finish_op(self, result_df=None, extra=None) -> dict[str, float]:
        return {}
