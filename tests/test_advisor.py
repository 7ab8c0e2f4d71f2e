"""Plan advisor: the 100 TB checklist as a library/notebook feature."""

from pyspark.sql import functions as F

from arc_jupyter_spark.context import ArcContext
from arc_jupyter_spark.interpreter import Interpreter
from arc_jupyter_spark.plans.advisor import analyze


def codes(df):
    return {f.code for f in analyze(df)}


def test_clean_plan_reports_clean(spark):
    df = spark.range(100).groupBy((F.col("id") % 5).alias("k")).count()
    assert codes(df) == {"clean"}


def test_cartesian_flagged_as_error(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a, b = spark.range(10), spark.range(10)
        got = analyze(a.crossJoin(b))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert any(f.code == "cartesian-product" and f.severity == "error" for f in got)


def test_nested_loop_join_flagged_as_warn(spark):
    a, b = spark.range(10), spark.range(10)
    got = analyze(a.crossJoin(b))
    assert any(
        f.code in ("nested-loop-join", "cartesian-product") for f in got
    )


def test_row_python_udf_flagged(spark):
    from pyspark.sql.functions import udf

    slow = udf(lambda x: x + 1, "bigint")
    df = spark.range(10).select(slow("id").alias("y"))
    assert "row-python-udf" in codes(df)


def test_unbounded_collect_flagged(spark):
    df = spark.range(100).groupBy((F.col("id") % 3).alias("k")).agg(
        F.collect_list("id").alias("xs")
    )
    assert "unbounded-collect" in codes(df)


def test_plan_magic_renders_findings(spark):
    ctx = ArcContext(spark)
    interp = Interpreter(ctx=ctx)
    spark.range(50).createOrReplaceTempView("adv_view")
    res = interp.execute("%plan\nadv_view")
    assert "clean" in res.text and "== Physical Plan ==" not in res.text
    assert isinstance(res.data, list) and res.data[0]["code"] == "clean"


def test_global_window_flagged_partitioned_not(spark):
    from pyspark.sql import Window

    df = spark.range(100).withColumn("k", F.col("id") % 5)
    w_global = Window.orderBy("id")
    flagged = df.withColumn("rn", F.row_number().over(w_global))
    assert "global-window" in codes(flagged)
    w_part = Window.partitionBy("k").orderBy("id")
    ok = df.withColumn("rn", F.row_number().over(w_part))
    assert "global-window" not in codes(ok)
