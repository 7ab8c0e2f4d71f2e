"""Kernel-path benchmark: notebook and operators workloads.

    python3 perfbench/run.py --workload notebook --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process, one closed-loop client,
``local[4]``. Inputs are generated from ``--seed`` under ``.perfbench/``
(untimed), the session is set up once from a cold JVM (``setup_s``),
then the workload runs whole passes until ``--seconds``
have passed and its minimum pass count is met. Output checks run after
the timed loop; the last stdout line is the JSON result. ``--trace 1``
is a separate run that reports the per-layer metrics instead (see
``tracing.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass, field
from typing import Any

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import etl  # noqa: E402
import notebook  # noqa: E402
import operators  # noqa: E402
from tracing import NullTracer, Tracer  # noqa: E402

CPUS = 4
DRIVER_MEM = "2g"
#: a fixed heap, touched at JVM start: a heap left to grow is resident
#: only as far as the garbage collector's timing happened to take it, so
#: peak RSS would swing by hundreds of MiB between runs of the same code
HEAP_OPTS = f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
#: whole passes a run always makes: one notebook session; three timed
#: passes over the query set (after the untimed warm-up pass), so the
#: median op and pass are each a median of three samples
MIN_PASSES = {"notebook": 1, "operators": 3}


@dataclass
class Op:
    kind: str
    latency: float = 0.0
    error: str | None = None
    rows_out: int = 0
    payload: Any = None
    layers: dict[str, float] = field(default_factory=dict)


def configure_env(root: str, work: str, data_dir: str, out_dir: str, trace: bool) -> None:
    """Launch environment: every path Spark or Python writes stays in
    *work*, and Python workers can import the package."""
    tmp = os.path.join(work, "tmp")
    for d in (tmp, out_dir):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "conf_spark_driver_extraJavaOptions": f"-Djava.io.tmpdir={tmp} {HEAP_OPTS}",
        "conf_spark_sql_warehouse_dir": os.path.join(work, "warehouse"),
        "conf_spark_ui_showConsoleProgress": "false",
        "conf_spark_ui_enabled": "true" if trace else "false",
        # the traced run reads every job, stage and SQL plan of the run
        # back from the UI, so none may be evicted
        **({f"conf_spark_{k}": "1000000" for k in (
            "ui_retainedJobs", "ui_retainedStages", "sql_ui_retainedExecutions")}
           if trace else {}),
        "BENCH_DATA": data_dir,
        "BENCH_OUT": out_dir,
    })
    tempfile.tempdir = None
    sys.path.insert(0, root)


def setup(data_dir: str):
    """Session + interpreter + input views + first trivial cell, from a
    cold JVM; returns them with the set-up and build_session seconds."""
    from arc_jupyter_spark.interpreter import Interpreter
    from arc_jupyter_spark.session import build_session
    from arc_jupyter_spark.workloads.base import load_views, read_events_stream, read_table_stream

    t0 = time.perf_counter()
    spark = build_session(master=f"local[{CPUS}]", app_name="perfbench")
    build = time.perf_counter() - t0
    interp = Interpreter(spark=spark)
    load_views(spark, data_dir)
    read_table_stream(spark, data_dir, "orders").createOrReplaceTempView("orders_stream")
    read_events_stream(spark, data_dir).createOrReplaceTempView("events_stream")
    interp.execute("%sql\nSELECT 1 AS one")
    return spark, interp, time.perf_counter() - t0, build


class NotebookRun:
    def __init__(self, seed, spark, interp, data_dir, out_dir, sizes):
        self.cells = notebook.plan(seed, out_dir)
        self.interp, self.sizes = interp, sizes
        self.views_ready = False

    def plan_pass(self, pass_no):
        return self.cells

    def run(self, cell, op, tracer):
        op.payload = self.interp.execute(cell.source)
        return op.payload.df

    def check(self, cell, op, duck, data_dir):
        if not self.views_ready:
            for t in notebook.BASE_VIEWS:
                duck.execute(f"CREATE OR REPLACE VIEW {t} AS "
                             f"SELECT * FROM read_parquet('{data_dir}/{t}.parquet/*.parquet')")
            self.views_ready = True
        problem = notebook.check(cell, op.payload, duck)
        if cell.kind == "pipeline":
            op.rows_out, written = etl.check(cell.pipeline, data_dir, duck)
            return problem or written
        op.rows_out = notebook.rows_shown(op.payload) if op.payload.html else 0
        return problem

    def extra(self, cell):
        if cell.kind != "pipeline":
            return None
        return {"operators.load_bytes_per_input_byte":
                etl.output_bytes(cell.pipeline) / etl.input_bytes(cell.pipeline, self.sizes)}


class OperatorsRun:
    def __init__(self, seed, spark, interp, data_dir, out_dir, sizes):
        from arc_jupyter_spark.workloads import queries

        self.seed, self.spark, self.data_dir = seed, spark, data_dir
        self.queries = queries()
        self.oracle = None

    def plan_pass(self, pass_no):
        return operators.plan_pass(self.seed, pass_no)

    def warmup(self):
        """Untimed pass over the whole set: a query's first run pays
        its code generation and JIT, 1.5-3x its warm time, and that
        cost swings with the host's load from run to run."""
        for name in operators.plan_pass(self.seed, -1):
            self.queries[name](self.spark, self.data_dir).collect()

    def run(self, name, op, tracer):
        with tracer.span("operators.build"):
            df = self.queries[name](self.spark, self.data_dir)
        with tracer.span("spark.action"):
            rows = df.collect()
        op.payload = (df.columns, rows)
        return df

    def check(self, name, op, duck, data_dir):
        if self.oracle is None:
            self.oracle = operators.Oracle(duck, data_dir)
        columns, rows = op.payload
        op.rows_out = len(rows)
        return self.oracle.check(name, columns, rows)


RUNNERS = {"notebook": NotebookRun, "operators": OperatorsRun}


def timed_loop(runner, workload: str, seconds: float, tracer) -> tuple[list[tuple], list[float], float]:
    """Closed loop over whole passes; returns ops, pass walls, wall."""
    if hasattr(runner, "warmup"):
        runner.warmup()
    done: list[tuple] = []
    pass_walls: list[float] = []
    start = time.perf_counter()
    pass_no = 0
    while pass_no < MIN_PASSES[workload] or time.perf_counter() - start < seconds:
        t_pass = time.perf_counter()
        for item in runner.plan_pass(pass_no):
            op = Op(getattr(item, "kind", item))
            with tracer.op(len(done), op.kind):
                t0 = time.perf_counter()
                try:
                    result_df = runner.run(item, op, tracer)
                except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
                    op.error, result_df = f"{type(exc).__name__}: {exc}", None
                op.latency = time.perf_counter() - t0
            if op.error is None:
                extra = runner.extra(item) if hasattr(runner, "extra") else None
                op.layers = tracer.finish_op(result_df, extra)
            done.append((item, op))
        pass_walls.append(time.perf_counter() - t_pass)
        pass_no += 1
    return done, pass_walls, time.perf_counter() - start


def run_checks(runner, done, data_dir: str) -> list[str]:
    import duckdb

    duck = duckdb.connect()
    problems = []
    try:
        for item, op in done:
            if op.error is None:
                try:
                    op.error = runner.check(item, op, duck, data_dir)
                except Exception as exc:  # noqa: BLE001 - a check that raises fails its op
                    op.error = f"check raised {type(exc).__name__}: {exc}"
            if op.error:
                problems.append(op.error)
    finally:
        duck.close()
    return problems


def vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def e2e_metrics(done, pass_walls, wall, setup_s, rss_mb) -> dict[str, dict]:
    ok = [op for _, op in done if not op.error]
    lat = sorted(op.latency for op in ok) or [0.0]
    # inclusive: with few ops (operators) the default method extrapolates
    # past the slowest one
    p90 = statistics.quantiles(lat, n=10, method="inclusive")[-1] if len(lat) > 1 else lat[0]
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (statistics.median(lat) * 1e3, "ms"),
        "op_p90_ms": (p90 * 1e3, "ms"),
        "ops_per_s": (len(ok) / wall, "1/s"),
        "pass_s": (statistics.median(pass_walls), "s"),
        "rows_out_per_s": (sum(op.rows_out for op in ok) / wall, "rows/s"),
        "ok_rate": (len(ok) / len(done), "ratio"),
        "peak_rss_mb": (rss_mb, "MiB"),
    }


def stop_spark() -> None:
    """Stop Spark and its JVM, if started; wait until the JVM has exited."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - fall back to a hard stop
            gateway.proc.kill()
            gateway.proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(RUNNERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "arc_jupyter_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout that holds arc_jupyter_spark/",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench")
    data_dir = os.path.join(work, "data")
    out_dir = os.path.join(work, "out")
    shutil.rmtree(out_dir, ignore_errors=True)
    sizes = datagen.layout(datagen.fixture_tables(), args.seed, data_dir)
    configure_env(root, work, data_dir, out_dir, bool(args.trace))

    tracer = Tracer() if args.trace else NullTracer()
    if args.trace:
        tracer.install()
    try:
        spark, interp, setup_s, build_s = setup(data_dir)
        if args.trace:
            tracer.attach(spark)
        runner = RUNNERS[args.workload](args.seed, spark, interp, data_dir, out_dir, sizes)
        done, pass_walls, wall = timed_loop(runner, args.workload, args.seconds, tracer)
        jvm_pid = spark.sparkContext._gateway.proc.pid
        rss_mb = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
    finally:
        stop_spark()
    problems = run_checks(runner, done, data_dir)
    for problem in problems[:20]:
        print(f"FAILED {problem}")

    if args.trace:
        metrics = tracer.metrics(build_s, wall)
        trace_dir = os.path.join(work, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"spans": tracer.span_records(),
                       "ops": [dict(op.layers, kind=op.kind, latency_s=op.latency)
                               for _, op in done]}, fh, default=str)
        for i, (_, op) in enumerate(done):
            cells = " ".join(f"{k}={v:.4g}" for k, v in op.layers.items()
                             if isinstance(v, (int, float)) and v)
            print(f"op {i} {op.kind} {op.latency * 1e3:.1f}ms {cells}")
        print(f"trace: {path}; pass walls {', '.join(f'{w:.2f}' for w in pass_walls)} s; "
              f"tracer time {metrics['trace.overhead_pct']['value']:.3f}% of the timed wall without it")
    else:
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u) in e2e_metrics(done, pass_walls, wall, setup_s, rss_mb).items()}
    print(json.dumps({"correct": not problems, "attempted": len(done),
                      "failed": len(problems), "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
