"""scale_partitions decides from the physical plan without running it."""

import pytest
from pyspark.sql import functions as F

from json_schema_lean_spark.operators.validation import validate_json_column
from json_schema_lean_spark.parallelism import scale_partitions


def _jobs_during(spark, fn):
    sc = spark.sparkContext
    group = "scale-partitions-probe"
    before = len(sc.statusTracker().getJobIdsForGroup(group))
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)) - before, out


@pytest.fixture(params=["true", "false"], ids=["aqe", "no-aqe"])
def aqe(spark, request):
    """Without AQE an exchange is a plain node of the plan, and a cache's
    plan is not wrapped in AdaptiveSparkPlanExec."""
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, request.param)
    yield
    spark.conf.set(key, prev)


@pytest.mark.parametrize("shape", ["groupBy", "join", "cached join"])
def test_validate_json_column_launches_no_job(spark, aqe, shape):
    """A grouped or joined input, or a cache not yet filled from one,
    keeps its exchanges unrun until the user's action: validating it
    launches no Spark job."""
    ids = spark.range(40)
    df = (ids.join(spark.range(20), "id") if "join" in shape
          else ids.groupBy((F.col("id") % 7).alias("k")).count())
    df = df.select(F.col(df.columns[0]).cast("string").alias("j"))
    if shape == "cached join":
        df = df.cache()
    n, out = _jobs_during(spark, lambda: validate_json_column(
        df, "j", {"type": "integer", "minimum": 3}))
    rows = out.collect()
    df.unpersist()
    assert n == 0
    assert scale_partitions(df) is df
    assert rows and all(r["valid"] == (int(r["j"]) >= 3) for r in rows)


def test_narrow_input_still_spreads(spark, tmp_path):
    """A one-row-group parquet file scans as one partition: it is still
    spread to the default parallelism, and that decision runs no job."""
    path = str(tmp_path / "one")
    spark.range(500).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    n, out = _jobs_during(spark, lambda: scale_partitions(df))
    assert n == 0
    assert df.rdd.getNumPartitions() == 1
    assert (out.rdd.getNumPartitions()
            == spark.sparkContext.defaultParallelism > 1)
    assert sorted(r.id for r in out.collect()) == list(range(500))
    wide = spark.range(0, 500, numPartitions=8)
    assert scale_partitions(wide) is wide
