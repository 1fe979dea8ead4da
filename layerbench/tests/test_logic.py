"""Tests of the benchmark's own logic: the tail rule, metric names, failure
accounting, seeded case order and plan-shape counters.

Run from the root of a checkout:

    python3 -m pytest layerbench/tests -q -p no:cacheprovider
"""

import json
from pathlib import Path

import pytest

from layerbench.core import (
    METRIC_NAME_RE,
    OpLog,
    Tracer,
    check_metric_name,
    end_to_end,
    node_names,
    plan_shape,
    result_line,
    tail_latency,
)

ROOT = Path(__file__).resolve().parents[2]
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


# -- op_tail_s ----------------------------------------------------------------

def test_tail_has_ten_samples_beyond_it():
    samples = [float(i) for i in range(100)]
    value, pct, n = tail_latency(samples)
    assert (value, pct, n) == (89.0, 90.0, 100)
    assert sum(s > value for s in samples) == 10


def test_tail_is_order_free_and_uses_the_smallest_sample_at_eleven():
    samples = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 0.5]
    value, pct, n = tail_latency(samples)
    assert value == 0.5 and n == 11
    assert pct == pytest.approx(100 / 11)


def test_tail_refuses_too_few_samples():
    with pytest.raises(ValueError):
        tail_latency([1.0] * 10)


# -- metric names -------------------------------------------------------------

def test_benchmark_metric_names_are_valid_and_unique():
    names = [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]]
    assert len(names) == len(set(names))
    for name in names:
        assert METRIC_NAME_RE.fullmatch(name), name


@pytest.mark.parametrize("bad", ["", "op p50", "_lead", "op/p50", "é_s",
                                 "x" * 65])
def test_bad_metric_names_are_refused(bad):
    with pytest.raises(ValueError):
        check_metric_name(bad)


def test_untraced_metrics_match_benchmark_json():
    log = OpLog()
    for i in range(5):
        log.record("spans", 1.0 + i / 10, 1000)
    got = end_to_end(log.ops, 5.0, 900.0)
    assert list(got) == [m["name"] for m in BENCH["end_to_end"]]
    units = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: u for k, (_v, u) in got.items()} == units
    assert got["op_p50_s"][0] == pytest.approx(1.2)
    assert got["docs_per_s"][0] == pytest.approx(5000 / 6.0)


def test_traced_metrics_match_benchmark_json():
    from layerbench.run import layer_metrics
    recs = [{"op_id": i, "op_s": 0.5, "hits": 1, "misses": 0,
             "tasks_s": 0.2, "build_s": 0.1, "action_s": 0.3,
             "analysis_ms": 5.0, "optimization_ms": 9.0, "planning_ms": 2.0,
             "trace_s": 0.002 * i}
            for i in range(4)]
    got = layer_metrics(recs, 2.0, {"session_s": 5.0, "data_s": 1.0,
                                    "data_cold_s": 3.0})
    assert list(got) == [m["name"] for m in BENCH["per_layer"]]
    units = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: u for k, (_v, u) in got.items()} == units
    assert got["plan_cache.hit_ratio"][0] == 1.0
    assert got["trace.overhead_s"][0] == pytest.approx(0.003)
    assert got["jvm.jit_ramp_s"][0] == pytest.approx(1.5)
    assert got["op_share.lowering"][0] == pytest.approx(0.2)
    assert got["op_share.catalyst"][0] == pytest.approx(0.032)
    assert got["op_share.exec_tasks"][0] == pytest.approx(0.4)
    # four ops are too few for the tail rule
    assert got["op.tail_s"][0] == got["op.tail_pct"][0] == 0.0


def test_traced_tail_uses_the_tail_rule():
    from layerbench.run import layer_metrics
    recs = [{"op_id": i, "op_s": 0.1 * (i + 1), "hits": 0, "misses": 1,
             "tasks_s": 0.01, "trace_s": 0.0} for i in range(30)]
    got = layer_metrics(recs, 5.0, {"session_s": 5.0, "data_s": 1.0,
                                    "data_cold_s": 3.0})
    assert got["op.count"][0] == 30
    assert got["op.tail_s"][0] == pytest.approx(2.0)
    assert got["op.tail_pct"][0] == pytest.approx(200 / 3)


# -- failures -----------------------------------------------------------------

def test_crafted_wrong_verdict_is_a_failed_op():
    from layerbench.workloads import zoo_mismatches
    expected = [True, False, True]
    assert zoo_mismatches("case/0", [True, False, True], expected) is None
    wrong = zoo_mismatches("case/0", [True, True, True], expected)
    assert wrong is not None and "instances [1]" in wrong
    missing = zoo_mismatches("case/0", [True, False], expected)
    assert missing is not None

    log = OpLog()
    log.record("case", 0.2, 3, None)
    log.record("case", 0.2, 3, wrong)
    assert (log.attempted, log.failed) == (2, 1)
    assert not log.ops[1].ok and log.ops[1].detail == wrong
    line = json.loads(result_line(log.failed == 0, log.attempted, log.failed,
                                  {"op_p50_s": (0.2, "s")}))
    assert line == {"correct": False, "attempted": 2, "failed": 1,
                    "metrics": {"op_p50_s": {"value": 0.2, "unit": "s"}}}


# -- seeded inputs ------------------------------------------------------------

def _fifo_hits(schemas: list, cap: int = 64) -> list[bool]:
    """Hit or miss per lookup in a first-in-first-out cache like
    plan_cache's."""
    cache: dict = {}
    out = []
    for s in schemas:
        out.append(s in cache)
        if s not in cache:
            if len(cache) >= cap:
                cache.pop(next(iter(cache)))
            cache[s] = True
    return out


def test_zoo_timed_ops_are_the_same_cases_for_every_seed():
    from layerbench.workloads import (
        ZOO_INTERPRETER_CASE,
        ZOO_POPULATION,
        ZOO_REPEATS,
        ZOO_SLOW,
        zoo_order,
    )
    cases = [(f"c/{i}", "x" * (i % 50 + 1) + str(i), []) for i in range(320)]
    cases[101] = (ZOO_INTERPRETER_CASE, "p", [])
    cases[7] = ("core/7", "slow", [])          # in ZOO_SLOW
    cases[9] = ("c/9", cases[8][1], [])       # a schema seen before
    warmup = 5
    a = zoo_order(cases, warmup, seed=7)
    assert a == zoo_order(cases, warmup, seed=7)
    b = zoo_order(cases, warmup, seed=8)
    assert a != b
    cold, timed = a[:warmup + 1], a[warmup + 1:]
    first, repeats = timed[:-ZOO_REPEATS], timed[-ZOO_REPEATS:]
    assert sorted(timed) == sorted(b[warmup + 1:])   # same multiset
    assert len(first) == len(set(first)) == ZOO_POPULATION + 1
    assert 101 in first and 7 not in a and 9 not in a
    assert not {cases[i][0] for i in a} & ZOO_SLOW
    assert set(repeats) <= set(first) - {101}
    assert not set(cold) & set(first)
    # one plan per schema, the interpreter case builds none: the first
    # visits miss and the repeats hit
    hits = _fifo_hits([cases[i][1] for i in a if i != 101])
    assert hits == [False] * (len(hits) - ZOO_REPEATS) + [True] * ZOO_REPEATS


def test_suite_cases_group_the_fixture_instances():
    from __spark_entry__ import _load_suite_verdicts
    from layerbench.workloads import suite_cases
    rows, _remotes = _load_suite_verdicts()
    cases = suite_cases(rows)
    assert sum(len(t) for _k, _s, t in cases) == len(rows) == 970
    assert len({s for _k, s, _t in cases}) == 282
    known = [t for k, _s, t in cases if k.startswith("float-overflow/")]
    assert known and all(exp is False for t in known for _i, exp in t)


# -- tracing ------------------------------------------------------------------

def test_tracer_nests_spans_and_disabled_tracer_records_nothing():
    tr = Tracer(True)
    with tr.span("op", 3) as op:
        with tr.span("lowering.build", 3):
            pass
    build = tr.spans[1]
    assert build.name == "lowering.build"
    assert build.parent == op.span_id and build.op_id == 3
    assert op.start <= build.start <= build.end <= op.end
    assert 0 < tr.own_s < op.seconds + 0.01
    off = Tracer(False)
    with off.span("op", 0) as sp:
        assert sp is None
    assert off.spans == []


# -- plan shape ---------------------------------------------------------------

CANNED = """AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   *(2) HashAggregate(keys=[], functions=[count(1)])
   +- ShuffleQueryStage 0
      +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=10]
         +- *(1) Project [transform(spans#1, lambdafunction(lambda x#2.kind, lambda x#2, false)) AS transform(spans, lambdafunction(namedlambdavariable().kind, namedlambdavariable()))#9]
            +- ArrowEvalPython [f(doc#0)#5], [pythonUDF0#6], 200
               +- *(1) ColumnarToRow
                  +- FileScan parquet [doc#0] Batched: true
+- == Initial Plan ==
   HashAggregate(keys=[], functions=[count(1)])
   +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=7]
      +- Project [transform(spans#1, lambdafunction(lambda x#2.kind, lambda x#2, false)) AS kinds#9]
"""


def test_plan_shape_on_a_canned_plan():
    assert node_names(CANNED)[:4] == ["AdaptiveSparkPlan", "HashAggregate",
                                      "ShuffleQueryStage", "Exchange"]
    assert plan_shape(CANNED) == {
        "lambda_count": 1, "exchange_count": 1, "python_eval_count": 1,
        "schema_of_variant_count": 0, "rlike_count": 0}


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession
    s = (SparkSession.builder.master("local[2]")
         .appName("layerbench-tests")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.debug.maxToStringFields", "100000")
         .getOrCreate())
    yield s
    s.stop()


def _executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_plan_shape_of_the_zero_lambda_fused_verdict(spark, tmp_path):
    from pyspark.sql import functions as F

    from json_schema_lean_spark.plans import validate_documents_fused
    from json_schema_lean_spark.sources.spansgen import (
        SPAN_SCHEMA,
        spans_documents,
    )
    path = str(tmp_path / "spans")
    spans_documents(spark, 500).write.parquet(path)
    spans = spark.read.parquet(path)
    verdict = validate_documents_fused(spans, SPAN_SCHEMA,
                                       keep_cols=["doc_id"],
                                       with_violations=False)
    shape = plan_shape(_executed_plan(verdict))
    assert shape == {"lambda_count": 0, "exchange_count": 0,
                     "python_eval_count": 0, "schema_of_variant_count": 0,
                     "rlike_count": 0}
    counted = verdict.agg(F.sum(F.col("valid").cast("long")))
    assert plan_shape(_executed_plan(counted))["exchange_count"] == 1
    with_lambda = spans.select(F.transform("spans", lambda s: s["kind"]),
                               F.aggregate("spans", F.lit(0),
                                           lambda n, s: n + s["offset"]))
    # transform: one lambda; aggregate: its merge and its finish lambdas
    assert plan_shape(_executed_plan(with_lambda))["lambda_count"] == 3


def test_plan_shape_counts_variant_type_tests(spark):
    from json_schema_lean_spark.operators.validation import (
        validate_json_column,
    )
    df = spark.createDataFrame([('{"k": 3}',), ('{"k": "x"}',)], "doc string")
    out = validate_json_column(df, "doc", {
        "type": "object", "properties": {"k": {"type": "integer"}}})
    shape = plan_shape(_executed_plan(out.select("valid")))
    assert shape["schema_of_variant_count"] > 0
    assert shape["python_eval_count"] == 0
