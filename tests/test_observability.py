"""Log buffer, progress reporter, plugin registry, new stages."""

import logging

import pytest

from arc_jupyter_spark.interpreter import Interpreter
from arc_jupyter_spark.observability import LogBuffer, Progress, ProgressReporter
from arc_jupyter_spark.plans.pipeline import parse_pipeline, run_pipeline
from arc_jupyter_spark.plugins import (
    LIFECYCLE_PLUGINS,
    register_config_plugin,
    register_lifecycle_plugin,
)


def test_log_buffer_captures_structured_lines():
    buf = LogBuffer(capacity=2)
    logger = logging.getLogger("obs-test")
    logger.addHandler(buf)
    logger.setLevel(logging.INFO)
    logger.info("one")
    logger.info("two")
    logger.info("three")
    assert len(buf.records) == 2  # bounded
    assert '"message": "three"' in buf.last_message()
    logger.removeHandler(buf)


def test_progress_snapshot_idle(spark):
    p = ProgressReporter(spark, on_update=lambda s: None).snapshot()
    assert p.num_tasks == 0 and p.fraction == 0.0
    assert Progress(num_tasks=10, completed=5, active=2).bar(10).startswith("[#####>>")


def test_progress_reporter_during_job(spark):
    seen = []
    with ProgressReporter(spark, on_update=seen.append, interval_ms=50):
        spark.range(0, 5_000_000, 1, 16).selectExpr("sum(id)").collect()
    assert seen  # at least the final snapshot
    assert seen[-1].failed is False


def test_config_plugin_merges_env(ctx):
    @register_config_plugin("test-env-plugin")
    def plugin(ctx):
        return {"FROM_PLUGIN": "yes"}

    interp = Interpreter(ctx=ctx)
    interp.execute("%configplugin\ntest-env-plugin")
    assert ctx.env["FROM_PLUGIN"] == "yes"
    res = interp.execute("%sql\nSELECT '${FROM_PLUGIN}' AS v")
    assert res.df.first()["v"] == "yes"


def test_lifecycle_plugin_hooks(ctx):
    calls = []

    class Recorder:
        def before(self, stage, ctx):
            calls.append(("before", stage.stage_type))

        def after(self, stage, result, ctx):
            calls.append(("after", stage.stage_type))

    register_lifecycle_plugin("recorder", Recorder())
    interp = Interpreter(ctx=ctx)
    interp.execute("%lifecycleplugin\nrecorder")
    interp.execute(
        '[{"type": "SQLTransform", "name": "t", "sql": "SELECT 1 AS a",'
        ' "outputView": "lc_out"}]'
    )
    assert ("before", "SQLTransform") in calls
    assert ("after", "SQLTransform") in calls
    LIFECYCLE_PLUGINS.pop("recorder", None)


def test_show_log_appends_message(ctx):
    interp = Interpreter(ctx=ctx)
    interp.execute(
        "%log\nSELECT to_json(named_struct('message','captured')) AS message"
    )
    res = interp.execute("%sql showLog=true\nSELECT 1 AS a")
    assert "captured" in res.text


def test_interpreters_share_one_log_buffer(ctx):
    logger = logging.getLogger("arc_jupyter_spark")
    first = Interpreter(ctx=ctx)
    interp = Interpreter(ctx=ctx)
    buffers = [h for h in logger.handlers if isinstance(h, LogBuffer)]
    assert buffers == [first.log_buffer] and interp.log_buffer is first.log_buffer
    interp.execute(
        "%log\nSELECT to_json(named_struct('message','shared')) AS message"
    )
    res = interp.execute("%sql showLog=true\nSELECT 1 AS a")
    assert "shared" in res.text


def test_tf_serving_transform_with_injected_predictor(ctx):
    from arc_jupyter_spark.operators.transform import TensorFlowServingTransform

    src = ctx.spark.createDataFrame([(1.0,), (2.0,)], ["value"])
    ctx.register(src, "tf_in")
    stage = TensorFlowServingTransform(
        name="tf", input_view="tf_in", output_view="tf_out",
        predict_fn=lambda instances: [v * 10 for v in instances],
    )
    stage.execute(ctx)
    got = {r["value"]: r["prediction"] for r in ctx.table("tf_out").collect()}
    assert got == {1.0: "10.0", 2.0: "20.0"}


def test_jdbc_execute_registered():
    from arc_jupyter_spark.plans.pipeline import STAGE_REGISTRY

    assert "JDBCExecute" in STAGE_REGISTRY
    assert "TensorFlowServingTransform" in STAGE_REGISTRY


def test_kernel_module_importable_without_ipykernel():
    from arc_jupyter_spark import kernel

    spec = kernel.kernelspec()
    assert spec["argv"][1:3] == ["-m", "arc_jupyter_spark.kernel"]


def test_render_stages_plugin_collects_intermediate_output(ctx):
    from arc_jupyter_spark.plugins import RenderStagesPlugin, register_lifecycle_plugin
    from arc_jupyter_spark.interpreter import Interpreter

    plugin = RenderStagesPlugin(num_rows=3)
    register_lifecycle_plugin("render-stages", plugin)
    interp = Interpreter(ctx=ctx)
    interp.execute("%lifecycleplugin\nrender-stages")
    interp.execute(
        '[{"type": "SQLTransform", "name": "first", "sql": "SELECT 1 AS a",'
        ' "outputView": "rs_a"},'
        '{"type": "SQLTransform", "name": "second",'
        ' "sql": "SELECT a + 1 AS b FROM rs_a", "outputView": "rs_b"}]'
    )
    names = [n for n, _ in plugin.outputs]
    assert names == ["first", "second"]
    assert "| b" in plugin.outputs[1][1] or "b " in plugin.outputs[1][1]
    LIFECYCLE_PLUGINS.pop("render-stages", None)
