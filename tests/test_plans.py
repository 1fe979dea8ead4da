"""Physical-plan quality gates: pushdown, nested-schema pruning, codegen.

These pin the properties that make the engine scale (SURVEY.md §4): filters
reach the parquet scan, projections prune nested span fields, and the fused
verdict plan stays inside whole-stage codegen with no Python in the loop.
"""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from json_schema_lean_spark.plans import validate_documents_fused
from json_schema_lean_spark.sources.spansgen import SPAN_SCHEMA, spans_documents


def explain_str(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def spans_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "spans")
    spans_documents(spark, 500).write.parquet(path)
    return path


def test_filter_pushdown_reaches_scan(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    plan = explain_str(li.where(F.col("l_quantity") > 10).select("l_orderkey"))
    assert "PushedFilters" in plan
    assert "GreaterThan(l_quantity" in plan
    # column pruning: only the two referenced columns in ReadSchema
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema and "l_extendedprice" not in read_schema


def test_fused_plan_is_codegen_and_python_free(spark, spans_path):
    spans = spark.read.parquet(spans_path)
    out = validate_documents_fused(spans, SPAN_SCHEMA, keep_cols=["doc_id"],
                                   with_violations=False)
    plan = explain_str(out)
    assert "[codegen id" in plan  # scan + ColumnarToRow stay codegen'd
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, marker
    # zero exchanges: verdict mode is a pure projection
    assert "Exchange" not in plan
    # r6 regression guard: ZERO lambdas — every SPAN_SCHEMA clause lowers
    # to codegen'd array algebra now (the required-kind null filter is
    # subsumed by the enum array_except over the raw field array, and the
    # pattern clause is the array_min/array_max string-range check instead
    # of the newline-join scaffold). HOF lambdas never whole-stage-codegen,
    # so any lambda reappearing here is an interpreted per-row pass.
    import re
    lams = re.findall(r"lambdafunction\((\w+)", plan)
    assert lams == [], lams


def test_fused_verdict_counts_stable(spark, spans_path):
    spans = spark.read.parquet(spans_path)
    out = validate_documents_fused(spans, SPAN_SCHEMA, keep_cols=["doc_id"],
                                   with_violations=False)
    a = out.where("valid").count()
    b = out.where("valid").count()
    assert a == b > 0


def test_fused_length_widening_matches_interpreter(spark):
    """r2 widening: minLength>1 / maxLength fuse via the newline-join regex
    trick. Pin verdict equality with the interpreter across the tricky
    inputs: astral-plane code points, embedded newlines (slow branch),
    empty strings, nulls/absent."""
    from json_schema_lean_spark.interpreter import CompiledValidator
    from json_schema_lean_spark.plans.fused import validate_documents_fused

    schema = {
        "type": "object",
        "properties": {
            "doc_id": {"type": "string"},
            "spans": {"type": "array", "items": {
                "type": ["object", "null"],
                "properties": {"text": {"minLength": 2, "maxLength": 4}},
            }},
        },
    }
    rows = [
        ("ok", [("t", "ab", None, 0), ("t", "abcd", None, 1)]),
        ("short", [("t", "a", None, 0)]),
        ("long", [("t", "abcde", None, 0)]),
        ("empty", [("t", "", None, 0)]),
        ("astral2", [("t", "\U0001F4A9\U0001F4A9", None, 0)]),   # 2 cps: ok
        ("astral1", [("t", "\U0001F4A9", None, 0)]),             # 1 cp: short
        ("astral5", [("t", "\U0001F4A9" * 5, None, 0)]),         # 5 cps: long
        ("newline_ok", [("t", "a\nb", None, 0)]),                # 3 cps, slow branch
        ("newline_long", [("t", "ab\ncd", None, 0)]),            # 5 cps, slow branch
        ("absent", [("t", None, None, 0)]),
        ("nullspan", [None]),
        ("mixed", [("t", "ab", None, 0), ("t", "a", None, 1)]),
    ]
    ddl = ("doc_id string, spans array<struct<kind:string,text:string,"
           "media_ref:string,offset:int>>")
    df = spark.createDataFrame(rows, ddl)
    out = validate_documents_fused(df, schema, keep_cols=["doc_id"],
                                   with_violations=False)
    got = {r["doc_id"]: r["valid"] for r in out.collect()}
    ref = CompiledValidator(schema)
    for doc_id, spans in rows:
        doc = {"doc_id": doc_id, "spans": [
            None if s is None else
            {k: v for k, v in zip(("kind", "text", "media_ref", "offset"), s)
             if v is not None}
            for s in spans]}
        assert got[doc_id] == ref.is_valid(doc), (doc_id, got[doc_id])


def test_fused_maxlength_zero(spark):
    from json_schema_lean_spark.plans.fused import validate_documents_fused

    schema = {"type": "object", "properties": {
        "doc_id": {"type": "string"},
        "spans": {"type": "array", "items": {
            "type": "object", "properties": {"text": {"maxLength": 0}}}}}}
    ddl = ("doc_id string, spans array<struct<kind:string,text:string,"
           "media_ref:string,offset:int>>")
    df = spark.createDataFrame(
        [("a", [("t", "", None, 0)]), ("b", [("t", "x", None, 0)]),
         ("c", [("t", None, None, 0)])], ddl)
    got = {r["doc_id"]: r["valid"]
           for r in validate_documents_fused(
               df, schema, keep_cols=["doc_id"],
               with_violations=False).collect()}
    assert got == {"a": True, "b": False, "c": True}


def _last_sql_plans(spark, n):
    """Physical plans of the last ``n`` SQL executions (status store)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [execs.apply(i).physicalPlanDescription()
            for i in range(execs.size() - n, execs.size())]


def test_warm_validation_codegen_is_plan_neutral(spark):
    """warm_validation_codegen must leave verdicts untouched (it only runs
    the SAME plan over a prefix) and return the seconds it spent. Every
    pass must execute the validation itself: a count over the validated
    rows prunes the verdict projection down to a bare scan."""
    from json_schema_lean_spark.operators.validation import (
        validate_spans_best,
        warm_validation_codegen,
    )
    from json_schema_lean_spark.sources.spansgen import (
        SPAN_SCHEMA,
        spans_documents,
    )
    df = spans_documents(spark, 300)
    before = {r["doc_id"]: r["valid"] for r in validate_spans_best(
        df, SPAN_SCHEMA, keep_cols=["doc_id"]).collect()}
    spent = warm_validation_codegen(df, SPAN_SCHEMA, rows=50, passes=2,
                                    keep_cols=["doc_id"])
    assert isinstance(spent, float) and spent > 0
    for plan in _last_sql_plans(spark, 2):
        assert " AS valid#" in plan, plan
    after = {r["doc_id"]: r["valid"] for r in validate_spans_best(
        df, SPAN_SCHEMA, keep_cols=["doc_id"]).collect()}
    assert before == after


def test_violation_rows_fast_has_no_filter_above_posexplode(spark, spans_path):
    """violation_rows_fast explodes the violation expression directly. A
    size() > 0 filter above the posexplode Generate (written, or inferred
    by Catalyst from an explode over a projected column) gets pushed below
    the projection and builds the whole violation concat twice per span
    row; explode already drops empty and null arrays."""
    from json_schema_lean_spark.operators.validation import (
        violation_rows_fast,
    )
    spans = spark.read.parquet(spans_path)
    out = violation_rows_fast(spans, SPAN_SCHEMA, id_cols=["doc_id"])
    ops = [line.lstrip(" +-:*()0123456789")
           for line in explain_str(out, "simple").splitlines()]
    gen = next(i for i, op in enumerate(ops)
               if op.startswith("Generate posexplode"))
    assert not [op for op in ops[:gen] if op.startswith("Filter")], ops[:gen]
    assert out.count() > 0


def test_prefix_literal_alphabet_is_ascii():
    """The fused string-range check (array_max < succ(prefix)) is exact only
    for single-byte prefixes whose last char has an ASCII successor: pin
    the exact alphabet _PREFIX_LITERAL admits."""
    from json_schema_lean_spark.plans.fused import _PREFIX_LITERAL
    admitted = {chr(c) for c in range(0x3000)
                if _PREFIX_LITERAL.match("^a" + chr(c))}
    expected = set("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
                   "0123456789_-:/ @")
    assert admitted == expected
    assert all(ord(c) < 0x7F for c in admitted)
    for bad in ("^foo.bar", "^abc\n", "^", "foo", "^café", "^a$"):
        assert not _PREFIX_LITERAL.match(bad), bad
    assert _PREFIX_LITERAL.match("^asset://")


def test_fused_rejects_null_or_missing_required_enum(spark):
    """covers_nulls: the required-kind presence clause is dropped because
    the enum check over the raw field array already fails on a null kind.
    Docs whose ONLY defect is a null or absent kind in one span must still
    be rejected, agreeing with the interpreter (absent key: required; JSON
    null: enum)."""
    from json_schema_lean_spark.interpreter import CompiledValidator

    ok = ("text", "tok w1", None, 0)
    img = ("image", None, "asset://blob/000001", 3)
    no_kind = (None, "tok w2", None, 1)
    rows = [
        ("doc-ok", [ok, img]),
        ("doc-first", [no_kind, ok]),
        ("doc-middle", [ok, no_kind, img]),
        ("doc-last", [img, (None, None, "asset://blob/000002", 2)]),
        ("doc-only", [no_kind]),
    ]
    ddl = ("doc_id string, spans array<struct<kind:string,text:string,"
           "media_ref:string,offset:int>>")
    df = spark.createDataFrame(rows, ddl)
    got = {r["doc_id"]: r["valid"] for r in validate_documents_fused(
        df, SPAN_SCHEMA, keep_cols=["doc_id"],
        with_violations=False).collect()}
    assert got == {"doc-ok": True, "doc-first": False, "doc-middle": False,
                   "doc-last": False, "doc-only": False}
    ref = CompiledValidator(SPAN_SCHEMA)
    keys = ("kind", "text", "media_ref", "offset")
    for doc_id, spans in rows:
        for keep_null_kind in (False, True):  # absent key / JSON null
            doc = {"doc_id": doc_id, "spans": [
                {k: v for k, v in zip(keys, s)
                 if v is not None or (keep_null_kind and k == "kind")}
                for s in spans]}
            assert ref.is_valid(doc) == got[doc_id], (doc_id, doc)
