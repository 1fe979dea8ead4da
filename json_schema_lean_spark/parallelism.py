"""Scale-adaptive minimum parallelism for small or unsplittable inputs.

Why (measured, local[32], sf1.0 driver testdata): a parquet file with ONE
row group scans as ONE task no matter what ``maxPartitionBytes`` says — the
row group is the minimum splittable unit — so a query over such an input
serializes its entire compute on a single core (guide §2.5 "input skew:
one huge unsplittable file"). events.parquet at sf1.0 (1M rows, 16 MB, one
row group) made the variant-path validation burn 5 CPU-seconds in 4.4 s of
single-task wall; round-robin repartitioning to the session default
parallelism dropped it to ~1.2 s (the remaining floor is the one-task scan
feeding the exchange).

Why here and not a config: no Spark setting can split a row group. The
repartition is applied INSIDE operators, gated on the planned scan having
fewer partitions than the session's default parallelism — at production
scale (thousands of row groups / files) the gate never fires and the plan
is untouched, so this is not a local[32]-only tune; it is the generic
"small dimension table / skewed input" guard with a local default that the
cluster inherits (defaultParallelism there = executor cores).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def scale_partitions(df: DataFrame, factor: int = 1) -> DataFrame:
    """Round-robin repartition ``df`` up to ``defaultParallelism * factor``
    partitions when its planned scan has fewer — a no-op for streaming
    inputs, for already-parallel inputs (the 100 TB case), for inputs whose
    physical plan holds an exchange or a subquery, and when the partition
    count cannot be determined.

    Launches no Spark job: the count is read from the RDD of the JVM's
    physical plan, which is built, not run. A plan with an exchange or a
    subquery could run its map stages (AQE), broadcasts or subqueries to
    answer, so it is returned unchanged; its exchange already sets the
    width of what runs after it.

    The repartition only redistributes rows; every downstream operator in
    this package is row-order-insensitive (verdicts are per-row, aggregates
    and joins are set-based), so results are bit-identical."""
    if df.isStreaming:
        return df
    try:
        qe = df._jdf.queryExecution()
        if _needs_a_job(qe.executedPlan()):
            return df
        n = qe.toRdd().getNumPartitions()
        target = df.sparkSession.sparkContext.defaultParallelism * factor
    except Exception:  # non-materializable plan (e.g. analysis-only stubs)
        return df
    if 0 < n < target:
        return df.repartition(target)
    return df


def _needs_a_job(plan) -> bool:
    """True when building ``plan``'s RDD would run a job: the plan, or the
    plan of a cache it reads, holds an exchange (AQE wraps such plans in
    ``AdaptiveSparkPlanExec``) or a subquery."""
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if (name == "AdaptiveSparkPlanExec" or "Exchange" in name
                or not node.subqueries().isEmpty()):
            return True
        if name == "InMemoryTableScanExec":  # a cache builds from its plan
            stack.append(node.relation().cachedPlan())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return False
