"""Opt-in `format` assertion (VERDICT r3 #7).

The reference planned `format` but shipped it at 0 LoC
(JsonSchema/Format.lean; README.md:68), so draft-7 default semantics
apply: annotation only. These tests replay the reconstructed
fixtures/suite_official/draft7/optional/format/ corpus three ways —
interpreter, columnar, variant — with assertion ON, and pin that the
DEFAULT (off) leaves every verdict valid (reference parity; the
non-optional format.json case in the main corpus pins the same through
the driver gate).
"""

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from json_schema_lean_spark.compiler import ColumnarCompiler, CompileFallback
from json_schema_lean_spark.formats import (
    FORMAT_REGEX,
    INTERPRETER_ONLY_FORMATS,
    check_format,
    format_predicate,
)
from json_schema_lean_spark.interpreter import CompiledValidator
from json_schema_lean_spark.variant import VariantCompiler

FORMAT_DIR = (Path(__file__).resolve().parent.parent / "fixtures"
              / "suite_official" / "draft7" / "optional" / "format")


def load_format_cases():
    """[(fmt_file_stem, schema, [(data, expected_when_asserted)...])]"""
    out = []
    for fp in sorted(FORMAT_DIR.glob("*.json")):
        for case in json.loads(fp.read_text()):
            out.append((fp.stem, case["schema"],
                        [(t["data"], t["valid"]) for t in case["tests"]]))
    return out


def test_corpus_loaded():
    cases = load_format_cases()
    assert len(cases) == 16
    assert sum(len(t) for _, _, t in cases) >= 90


def test_interpreter_asserted_verdicts():
    for stem, schema, tests in load_format_cases():
        v = CompiledValidator(schema, assert_formats=True)
        for data, expected in tests:
            assert v.is_valid(data) is expected, (stem, data)
            if not expected:
                assert [x.keyword for x in v.validate(data)] == ["format"]


def test_interpreter_default_is_annotation():
    for stem, schema, tests in load_format_cases():
        v = CompiledValidator(schema)  # default: annotation only
        for data, _expected in tests:
            assert v.is_valid(data) is True, (stem, data)


def test_columnar_asserted_verdicts(spark):
    for stem, schema, tests in load_format_cases():
        strings = [(d, e) for d, e in tests if isinstance(d, str)]
        comp = ColumnarCompiler(schema, assert_formats=True)
        if stem in INTERPRETER_ONLY_FORMATS:
            with pytest.raises(CompileFallback, match="format"):
                comp.lower(StringType(), null_means="null")
            continue
        low = comp.lower(StringType(), null_means="null")
        df = spark.createDataFrame(
            [(i, d) for i, (d, _e) in enumerate(strings)], "i int, s string")
        got = {r["i"]: r["ok"] for r in df.select(
            "i", F.coalesce(low.valid(F.col("s")), F.lit(False)).alias("ok")
        ).collect()}
        for i, (d, e) in enumerate(strings):
            assert got[i] is e, (stem, d)


def test_columnar_default_has_no_format_predicate(spark):
    low = ColumnarCompiler({"format": "date"}).lower(StringType(),
                                                     null_means="null")
    df = spark.createDataFrame([("not-a-date",)], "s string")
    assert df.select(
        F.coalesce(low.valid(F.col("s")), F.lit(True)).alias("ok")
    ).collect()[0]["ok"] is True


def test_variant_asserted_verdicts(spark):
    for stem, schema, tests in load_format_cases():
        if stem in INTERPRETER_ONLY_FORMATS:
            with pytest.raises(CompileFallback, match="format"):
                VariantCompiler(schema, assert_formats=True).lower()
            continue
        low = VariantCompiler(schema, assert_formats=True).lower()
        rows = [(i, json.dumps(d)) for i, (d, _e) in enumerate(tests)]
        df = spark.createDataFrame(rows, "i int, j string")
        v = F.try_parse_json("j")
        got = {r["i"]: r["ok"] for r in df.select(
            "i", F.coalesce(low.valid(v), F.lit(False)).alias("ok")).collect()}
        for i, (d, e) in enumerate(tests):
            assert got[i] is e, (stem, d)


def test_every_format_regex_transpiles():
    from json_schema_lean_spark.regex_dialect import to_java_regex
    for name, rx in FORMAT_REGEX.items():
        assert to_java_regex(rx) is not None, name
        assert format_predicate(name, F.lit("x")) is not None, name
    for name in sorted(INTERPRETER_ONLY_FORMATS):
        assert format_predicate(name, F.lit("x")) is None, name
    assert check_format("regex", "(") is False
    assert check_format("idn-hostname", "실례.테스트") is True
    assert check_format("idn-email", "실례@실례.테스트") is True


def test_unknown_format_is_annotation_everywhere(spark):
    schema = {"format": "some-future-format"}
    assert CompiledValidator(schema, assert_formats=True).is_valid("zzz")
    low = ColumnarCompiler(schema, assert_formats=True).lower(
        StringType(), null_means="null")
    df = spark.createDataFrame([("zzz",)], "s string")
    assert df.select(F.coalesce(low.valid(F.col("s")), F.lit(True))
                     .alias("ok")).collect()[0]["ok"] is True


def test_format_round_trips_through_schema_to_json():
    from json_schema_lean_spark.schema_ast import parse_schema, schema_to_json
    j = {"type": "string", "format": "ipv4"}
    assert schema_to_json(parse_schema(j)) == j


def test_operator_level_pass_through(spark):
    """assert_formats flows through the public operator APIs, including the
    CompileFallback route: format:'regex' cannot lower to Spark expressions,
    so validate_json_column must fall back to the Arrow interpreter AND
    still assert the format there."""
    from json_schema_lean_spark.operators.validation import (
        validate_dataframe,
        validate_json_column,
    )

    # columnar: string column validated directly
    df = spark.createDataFrame([("127.0.0.1",), ("999.0.0.1",)], "s string")
    schema = {"type": "string", "format": "ipv4"}
    out = {r["s"]: r["valid"] for r in validate_dataframe(
        df, schema, doc_col="s", assert_formats=True).collect()}
    assert out == {"127.0.0.1": True, "999.0.0.1": False}
    # default stays annotation
    out = {r["s"]: r["valid"]
           for r in validate_dataframe(df, schema, doc_col="s").collect()}
    assert out == {"127.0.0.1": True, "999.0.0.1": True}

    # variant route (JSON column)
    jdf = spark.createDataFrame(
        [('"joe@example.com"',), ('"nope"',)], "j string")
    eschema = {"type": "string", "format": "email"}
    out = {r["j"]: r["valid"] for r in validate_json_column(
        jdf, "j", eschema, assert_formats=True).collect()}
    assert out == {'"joe@example.com"': True, '"nope"': False}

    # interpreter fallback route: format 'regex' forces CompileFallback
    rdf = spark.createDataFrame([('"[a-z]+"',), ('"("',)], "j string")
    rschema = {"type": "string", "format": "regex"}
    out = {r["j"]: r["valid"] for r in validate_json_column(
        rdf, "j", rschema, assert_formats=True).collect()}
    assert out == {'"[a-z]+"': True, '"("': False}

    # same route for the IDNA formats (punycode has no Spark expression)
    idf = spark.createDataFrame(
        [('"joe@xn--9n2bp8q.example"',), ('"joe@exa_mple.com"',)], "j string")
    ischema = {"type": "string", "format": "idn-email"}
    out = {r["j"]: r["valid"] for r in validate_json_column(
        idf, "j", ischema, assert_formats=True).collect()}
    assert out == {'"joe@xn--9n2bp8q.example"': True,
                   '"joe@exa_mple.com"': False}
    # and with assertion off the same schema validates everything
    out = {r["j"]: r["valid"]
           for r in validate_json_column(rdf, "j", rschema).collect()}
    assert out == {'"[a-z]+"': True, '"("': True}


def test_plan_cache_keys_on_assert_formats(spark):
    """The memoized variant plan must not be shared across assert_formats
    values — same schema, different option, different verdicts."""
    from json_schema_lean_spark.variant import validate_json_column_variant
    df = spark.createDataFrame([('"not-an-ip"',)], "j string")
    schema = {"format": "ipv4"}
    on = validate_json_column_variant(
        df, "j", schema, assert_formats=True).collect()[0]["valid"]
    off = validate_json_column_variant(df, "j", schema).collect()[0]["valid"]
    assert on is False and off is True


def test_spans_chain_does_not_drop_format_assertion(spark):
    """validate_spans_best with assert_formats=True: the fused array
    algebra cannot express format, so the fused plan hands the property to
    the keyword walk with the assertion intact — never a silently-
    annotation fused plan."""
    from json_schema_lean_spark.interpreter import CompiledValidator
    from json_schema_lean_spark.operators.validation import validate_spans_best
    from json_schema_lean_spark.plans.fused import validate_documents_fused

    ddl = ("doc_id string, spans array<struct<kind:string,text:string,"
           "media_ref:string,offset:int>>")
    schema = {
        "type": "object",
        "properties": {
            "spans": {"type": "array", "items": {
                "type": "object",
                "properties": {"media_ref": {"format": "uri"}}}},
        },
    }
    rows = [("ok", [("image", "t", "asset://a/1", 0)]),
            ("bad", [("image", "t", "not a uri", 0)])]
    df = spark.createDataFrame(rows, ddl)

    # fused asserts the format with the assertion on, as the interpreter
    # does...
    ref = CompiledValidator(schema, assert_formats=True)
    out = {r["doc_id"]: r["valid"] for r in validate_documents_fused(
        df, schema, assert_formats=True).collect()}
    assert out == {d: ref.is_valid({"doc_id": d, "spans": [dict(zip(
        ("kind", "text", "media_ref", "offset"), s)) for s in spans]})
        for d, spans in rows} == {"ok": True, "bad": False}
    # ...and treats it as an annotation with it off
    out = {r["doc_id"]: r["valid"]
           for r in validate_documents_fused(df, schema).collect()}
    assert out == {"ok": True, "bad": True}

    # the chain asserts through the fused plan
    out = {r["doc_id"]: r["valid"] for r in validate_spans_best(
        df, schema, assert_formats=True).collect()}
    assert out == {"ok": True, "bad": False}
    bad = [r for r in validate_spans_best(
        df, schema, assert_formats=True).collect() if r["doc_id"] == "bad"][0]
    assert [v["keyword"] for v in bad["violations"]] == ["format"]


def test_regex_format_in_spans_chain_lands_on_interpreter(spark):
    """format:'regex' cannot lower on ANY columnar strategy; the spans
    chain's to_json -> Arrow-interpreter LAST RESORT (VERDICT r4 #7) must
    make it total — correct verdicts, violations, and output schema
    instead of the pre-r5 actionable CompileFallback."""
    from json_schema_lean_spark.operators.validation import validate_spans_best

    ddl = ("doc_id string, spans array<struct<kind:string,text:string,"
           "media_ref:string,offset:int>>")
    schema = {"type": "object", "properties": {
        "doc_id": {"format": "regex"},
        "spans": {"type": "array"}}}
    df = spark.createDataFrame([("d(", [("text", "t", None, 0)]),
                                ("[a-z]+", [("text", "u", None, 0)])], ddl)
    # annotation default: fine (and fused-fast)
    got = {r["doc_id"]: r["valid"]
           for r in validate_spans_best(df, schema).collect()}
    assert got == {"d(": True, "[a-z]+": True}
    # asserted: the interpreter last resort takes over
    rows = {r["doc_id"]: r for r in validate_spans_best(
        df, schema, assert_formats=True).collect()}
    assert rows["[a-z]+"]["valid"] is True
    assert rows["d("]["valid"] is False
    assert [v["keyword"] for v in rows["d("]["violations"]] == ["format"]
    # output schema identical to the columnar strategies'
    cols = validate_spans_best(df, schema, assert_formats=True).columns
    assert cols == ["doc_id", "spans", "valid", "violations"]


def test_spans_interpreter_last_resort_matches_columnar(spark):
    """The to_json serialization of the row struct must hit the SAME
    verdicts as the columnar chain on a schema both can express — NULL
    columns read as absent properties, NULL span elements as JSON null."""
    from json_schema_lean_spark.operators.validation import (
        validate_dataframe,
        validate_json_column,
        validate_spans_best,
    )

    ddl = ("doc_id string, spans array<struct<kind:string,text:string,"
           "media_ref:string,offset:int>>")
    schema = {
        "type": "object",
        "required": ["doc_id"],
        "properties": {
            "doc_id": {"type": "string", "minLength": 2},
            "spans": {"type": "array", "items": {
                "type": "object",
                "required": ["kind"],
                "properties": {"kind": {"enum": ["text", "image"]},
                               "offset": {"minimum": 0}}}},
        },
    }
    rows = [("ok1", [("text", "a", None, 0)]),
            ("x", [("text", "a", None, 0)]),          # minLength
            ("ok2", [("video", "b", None, 1)]),        # enum
            ("ok3", [("image", None, "m", -1)]),       # minimum
            (None, [("text", "a", None, 0)]),          # required (null->absent)
            ("ok4", [None]),                           # null span element
            ("ok5", None)]                             # null spans column
    df = spark.createDataFrame(rows, ddl)
    col = {r["doc_id"]: (r["valid"], tuple(sorted(
               (v["keyword"], v["json_pointer"]) for v in r["violations"])))
           for r in validate_spans_best(df, schema).collect()}
    interp = {r["doc_id"]: (r["valid"], tuple(sorted(
                 (v["keyword"], v["json_pointer"]) for v in r["violations"])))
              for r in validate_json_column(
                  df.withColumn("_j", F.to_json(
                      F.struct(*[F.col(c) for c in df.columns]))),
                  "_j", schema, prefer_variant=False).collect()}
    assert col == interp


def test_format_predicate_stays_jvm_side(spark):
    """Asserted formats must not drag the plan into Python: the predicate
    is rlike (+ try_to_date) — JVM expressions inside the projection."""
    from json_schema_lean_spark.operators.validation import validate_dataframe
    df = spark.createDataFrame([("127.0.0.1",)], "s string")
    out = validate_dataframe(df, {"format": "date-time"}, doc_col="s",
                             assert_formats=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan, plan
    assert "pythonUDF" not in plan, plan
