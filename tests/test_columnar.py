"""Columnar compiler vs pure-Python interpreter: verdicts must agree.

The shredded-struct mapping treats a NULL field as an absent JSON key
(SURVEY.md §1.4), so rows are converted to plain JSON by dropping nulls
before feeding the interpreter.
"""

import pytest
from pyspark.sql import functions as F

from json_schema_lean_spark.compiler import ColumnarCompiler, CompileFallback
from json_schema_lean_spark.interpreter import CompiledValidator
from json_schema_lean_spark.operators.validation import (
    validate_dataframe,
    violation_rows,
)
from json_schema_lean_spark.sources.spansgen import SPAN_SCHEMA, spans_documents


def row_to_json(row):
    def clean(v):
        if isinstance(v, dict):
            return {k: clean(x) for k, x in v.items() if x is not None}
        if isinstance(v, list):
            return [clean(x) for x in v]
        return v
    return clean(row.asDict(recursive=True))


@pytest.fixture(scope="module")
def validated(spark):
    docs = spans_documents(spark, 1200)
    return validate_dataframe(docs, SPAN_SCHEMA).collect()


def test_columnar_matches_interpreter(validated):
    ref = CompiledValidator(SPAN_SCHEMA)
    mismatches = []
    for row in validated:
        doc = {k: v for k, v in row_to_json(row).items() if k in ("doc_id", "spans")}
        expected = ref.is_valid(doc)
        if expected != row["valid"]:
            mismatches.append((row["doc_id"], expected, row["valid"]))
    assert not mismatches, mismatches[:5]


def test_columnar_violation_keywords_match_interpreter(validated):
    ref = CompiledValidator(SPAN_SCHEMA)
    for row in validated:
        if row["valid"]:
            continue
        doc = {k: v for k, v in row_to_json(row).items() if k in ("doc_id", "spans")}
        expected = {(v.keyword, v.json_pointer) for v in ref.validate(doc)}
        got = {(v["keyword"], v["json_pointer"]) for v in row["violations"]}
        assert got == expected, (row["doc_id"], got, expected)


def test_injected_violation_rates(spark):
    n = 4000
    docs = spans_documents(spark, n)
    out = validate_dataframe(docs, SPAN_SCHEMA)
    counts = dict(
        violation_rows(out, ["doc_id"]).groupBy("keyword").count().collect())
    # required: bucket 0-4 => ~0.5% of docs
    assert 0.002 * n < counts.get("required", 0) < 0.009 * n
    # minLength (empty text): bucket 5-14 => ~1%
    assert 0.005 * n < counts.get("minLength", 0) < 0.016 * n


def test_duplicated_doc_ids_present(spark):
    docs = spans_documents(spark, 4000)
    dups = (docs.groupBy("doc_id").count().where(F.col("count") > 1)).count()
    assert dups > 0


def test_determinism(spark):
    a = spans_documents(spark, 300).orderBy("doc_id").collect()
    b = spans_documents(spark, 300).orderBy("doc_id").collect()
    assert a == b


def test_compile_fallback_on_python_regex(spark):
    df = spark.createDataFrame([("a",)], "s: string")
    with pytest.raises(CompileFallback):
        validate_dataframe(df, {"properties": {"s": {"pattern": "(?P<x>a)"}}})


def test_cycle_rejected_at_compile_time():
    cyc = {"definitions": {"A": {"allOf": [{"$ref": "#/definitions/B"}]},
                           "B": {"allOf": [{"$ref": "#/definitions/A"}]}},
           "$ref": "#/definitions/A"}
    from json_schema_lean_spark.resolver import SchemaCycleError
    with pytest.raises(SchemaCycleError):
        ColumnarCompiler(cyc)


def test_fused_strategy_matches_forall(spark):
    from json_schema_lean_spark.plans import validate_documents_fused

    docs = spans_documents(spark, 800)

    def canon(rows):
        return sorted(
            (r["doc_id"], r["valid"],
             tuple(sorted((v["keyword"], v["json_pointer"]) for v in r["violations"])))
            for r in rows)

    a = canon(validate_dataframe(docs, SPAN_SCHEMA)
              .select("doc_id", "valid", "violations").collect())
    b = canon(validate_documents_fused(docs, SPAN_SCHEMA,
                                       keep_cols=["doc_id"]).collect())
    assert a == b


def test_fused_rejects_unsupported_keywords(spark):
    """A keyword outside the fused subset (multipleOf) is lowered through
    the keyword walk inside the fused plan: verdicts match the
    interpreter's."""
    import json as _json
    from json_schema_lean_spark.plans import validate_documents_fused

    docs = spans_documents(spark, 200)
    schema = _json.loads(_json.dumps(SPAN_SCHEMA))
    schema["definitions"]["span"]["properties"]["offset"]["multipleOf"] = 2
    ref = CompiledValidator(schema)
    rows = validate_documents_fused(docs, schema).collect()
    got = {r["doc_id"]: r["valid"] for r in rows}
    exp = {r["doc_id"]: ref.is_valid(_doc(r)) for r in rows}
    assert got == exp
    assert not all(exp.values())  # odd offsets fail multipleOf 2


def test_validate_spans_best_falls_back(spark):
    import json as _json
    from json_schema_lean_spark.operators.validation import validate_spans_best

    docs = spans_documents(spark, 300)
    # fused-eligible schema
    a = validate_spans_best(docs, SPAN_SCHEMA, keep_cols=["doc_id"])
    # multipleOf is outside the fused subset: the keyword walk lowers it
    schema = _json.loads(_json.dumps(SPAN_SCHEMA))
    schema["definitions"]["span"]["properties"]["offset"]["multipleOf"] = 1
    b = validate_spans_best(docs, schema, keep_cols=["doc_id"])
    av = {r["doc_id"]: r["valid"] for r in a.collect()}
    bv = {r["doc_id"]: r["valid"] for r in b.collect()}
    assert av == bv  # multipleOf 1 is vacuous for integers


def _doc(row):
    """The JSON document of an output row: its input columns, NULL fields
    dropped."""
    return {k: v for k, v in row_to_json(row).items()
            if k not in ("valid", "violations")}


def _span_schema_with(span_edit):
    import json as _json

    schema = _json.loads(_json.dumps(SPAN_SCHEMA))
    span_edit(schema["definitions"]["span"])
    return schema


SPANS_DDL = ("doc_id string, spans array<struct<kind:string,text:string,"
             "media_ref:string,offset:int>>")

#: shapes outside the fused array algebra, which the fused plan lowers
#: through the keyword walk: (schema, rows or None for generated docs,
#: DDL, assert_formats)
WALKED_SHAPES = {
    "dotted_pattern": (_span_schema_with(lambda s: s["properties"][
        "media_ref"].update(pattern="^asset:/.")), None, None, False),
    "multipleOf": (_span_schema_with(lambda s: s["properties"][
        "offset"].update(multipleOf=1)), None, None, False),
    "span_minProperties": (_span_schema_with(
        lambda s: s.update(minProperties=1)), None, None, False),
    "not_on_null_field": (
        _span_schema_with(lambda s: s["properties"].update(
            media_ref={"not": {}})),
        [("doc-1", [("text", "a", None, 0)]),
         ("doc-2", [("image", "b", "asset://x", 1), ("text", "c", None, 2)]),
         ("doc-3", [("text", "d", None, 0), None])],
        SPANS_DDL, False),
    "not_on_absent_field": (
        _span_schema_with(lambda s: s["properties"].update(
            media_ref={"not": {}})),
        [("doc-1", [("text", "a", 0)]), ("doc-2", [("video", "", 3)])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "offset:int>>", False),
    "asserted_uri_format": (
        _span_schema_with(lambda s: s["properties"]["media_ref"].update(
            format="uri")),
        [("doc-1", [("image", "t", "asset://a/1", 0)]),
         ("doc-2", [("image", "t", "asset:// not a uri", 0)]),
         ("doc-3", [("text", "t", None, 0)])],
        SPANS_DDL, True),
}


@pytest.mark.parametrize("shape", sorted(WALKED_SHAPES))
def test_spans_chain_walks_what_fused_cannot_express(spark, shape):
    """validate_spans_best on shapes outside the fused array algebra:
    verdicts and (keyword, json_pointer) multisets equal the
    interpreter's, and the executed plan stays one shuffle-free projection
    (no Exchange, no posexplode, no Python evaluation)."""
    from json_schema_lean_spark.operators.validation import validate_spans_best

    schema, rows, ddl, assert_formats = WALKED_SHAPES[shape]
    docs = (spans_documents(spark, 300) if rows is None
            else spark.createDataFrame(rows, ddl))
    out = validate_spans_best(docs, schema, assert_formats=assert_formats)
    got = out.collect()
    ref = CompiledValidator(schema, assert_formats=assert_formats)
    for row in got:
        doc = _doc(row)
        assert row["valid"] is ref.is_valid(doc), (shape, doc)
        assert sorted((v["keyword"], v["json_pointer"])
                      for v in row["violations"]) == sorted(
            (v.keyword, v.json_pointer) for v in ref.validate(doc)), doc
    assert any(r["valid"] for r in got) and not all(r["valid"] for r in got)
    plan = out._jdf.queryExecution().executedPlan().toString()
    for node in ("Exchange", "posexplode", "Generate", "EvalPython"):
        assert node not in plan, (shape, node)


def test_violation_rows_fast_matches_general_path(spark):
    from json_schema_lean_spark.operators.validation import violation_rows_fast

    docs = spans_documents(spark, 800)
    a = sorted(tuple(r) for r in violation_rows(
        validate_dataframe(docs, SPAN_SCHEMA), ["doc_id"]).collect())
    b = sorted(tuple(r) for r in violation_rows_fast(
        docs, SPAN_SCHEMA, id_cols=["doc_id"]).collect())
    assert a == b and len(a) > 0


def test_violation_rows_fast_no_shuffle(spark):
    import contextlib
    import io

    from json_schema_lean_spark.operators.validation import violation_rows_fast

    docs = spans_documents(spark, 100)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        violation_rows_fast(docs, SPAN_SCHEMA, id_cols=["doc_id"]).explain("simple")
    assert "Exchange" not in buf.getvalue()


def test_null_array_element_is_json_null(spark):
    """A NULL array element is a JSON null (fails type checks that exclude
    null); a NULL struct FIELD is an absent key (passes). All strategies."""
    from json_schema_lean_spark.interpreter import validate_json
    from json_schema_lean_spark.operators.validation import (
        validate_spans_best,
        violation_rows_fast,
    )
    from json_schema_lean_spark.plans import validate_documents_fused

    cases = [
        ({"properties": {"arr": {"items": {"type": "integer"}}}}, [1, None], False),
        ({"properties": {"arr": {"items": {"type": ["integer", "null"]}}}}, [1, None], True),
        ({"properties": {"arr": {"items": {"enum": [1, None]}}}}, [None], True),
        ({"properties": {"arr": {"items": {"enum": [1, 2]}}}}, [None], False),
        ({"properties": {"arr": {"items": {"const": None}}}}, [None], True),
        ({"properties": {"arr": {"contains": {"type": "null"}}}}, [1, 2], False),
        ({"properties": {"arr": {"contains": {"type": "null"}}}}, [1, None], True),
    ]
    for schema, arr, expected in cases:
        assert validate_json(schema, {"arr": arr}) is expected, (schema, arr)
        df = spark.createDataFrame([(arr,)], "arr: array<long>")
        got = validate_dataframe(df, schema).collect()[0]["valid"]
        assert got == expected, ("columnar", schema, arr)

    rows = [("doc-a", [{"kind": "text", "text": "x", "media_ref": None,
                        "offset": 0}, None])]
    df = spark.createDataFrame(
        rows, "doc_id string, spans array<struct<kind:string,text:string,"
              "media_ref:string,offset:int>>")
    assert validate_dataframe(df, SPAN_SCHEMA).collect()[0]["valid"] is False
    assert validate_documents_fused(df, SPAN_SCHEMA,
                                    keep_cols=["doc_id"]).collect()[0]["valid"] is False
    assert validate_spans_best(df, SPAN_SCHEMA).collect()[0]["valid"] is False
    vr = violation_rows_fast(df, SPAN_SCHEMA, id_cols=["doc_id"]).collect()
    assert [(r["keyword"], r["json_pointer"]) for r in vr] == [("type", "/spans/1")]


def test_fused_null_legal_elements(spark):
    """When items type includes 'null', a null span element is LEGAL and must
    not count as an object missing required keys (code-review regression)."""
    import json as _json
    from json_schema_lean_spark.plans import validate_documents_fused

    schema = _json.loads(_json.dumps(SPAN_SCHEMA))
    schema["definitions"]["span"]["type"] = ["object", "null"]
    rows = [("doc-a", [{"kind": "text", "text": "x", "media_ref": None,
                        "offset": 0}, None]),
            ("doc-b", [None]),
            ("doc-c", [{"kind": None, "text": "x", "media_ref": None,
                        "offset": 0}])]
    df = spark.createDataFrame(
        rows, "doc_id string, spans array<struct<kind:string,text:string,"
              "media_ref:string,offset:int>>")
    fused = {r["doc_id"]: r["valid"]
             for r in validate_documents_fused(df, schema,
                                               keep_cols=["doc_id"]).collect()}
    forall = {r["doc_id"]: r["valid"]
              for r in validate_dataframe(df, schema).collect()}
    assert fused == forall == {"doc-a": True, "doc-b": True, "doc-c": False}


def test_partition_verdict_metrics(spark):
    from json_schema_lean_spark.operators.validation import (
        partition_verdict_metrics,
    )

    docs = spans_documents(spark, 500).repartition(4)
    v = validate_dataframe(docs, SPAN_SCHEMA)
    m = partition_verdict_metrics(v).collect()
    assert sum(r["rows"] for r in m) == v.count()
    assert sum(r["valid_rows"] for r in m) == v.where("valid").count()
    assert len(m) <= 4 and all(r["rows"] > 0 for r in m)


def test_nested_array_lowering(spark):
    """array<array<long>>: items.items recursion with JSON-null element
    semantics at both depths."""
    from json_schema_lean_spark.interpreter import validate_json

    schema = {"properties": {"m": {
        "items": {"type": "array", "minItems": 1,
                  "items": {"type": "integer", "minimum": 0}}}}}
    rows = [
        ([[1, 2], [3]], True),
        ([[1, -2]], False),      # inner minimum
        ([[]], False),           # inner minItems
        ([[1], None], False),    # null inner array is JSON null, not array
        ([], True),
        (None, True),            # absent key
    ]
    df = spark.createDataFrame([(m,) for m, _ in rows], "m: array<array<long>>")
    got = [r["valid"] for r in validate_dataframe(df, schema).collect()]
    expected = [e for _, e in rows]
    assert got == expected
    for (m, e) in rows:
        if m is not None:
            assert validate_json(schema, {"m": m}) is e, m


def test_scalar_keywords_columnar(spark):
    df = spark.createDataFrame(
        [(1, "abc", 4.0), (-2, "x", 3.5), (7, "abcdef", 9.0)],
        "n: long, s: string, d: double")
    schema = {
        "properties": {
            "n": {"type": "integer", "minimum": 0, "multipleOf": 1},
            "s": {"minLength": 2, "maxLength": 5, "pattern": "^a"},
            "d": {"type": "integer", "maximum": 8},
        }
    }
    out = validate_dataframe(df, schema).select("n", "valid").collect()
    got = {r["n"]: r["valid"] for r in out}
    # n=-2 fails minimum; s="x" fails minLength+pattern; d=3.5 fails integer;
    # n=7 ok but d=9 fails maximum
    assert got == {1: True, -2: False, 7: False}


def test_violation_rows_best_equals_fast(spark):
    """r2: the fused-verdict prefilter must not change the violation-row
    output by a single row."""
    from json_schema_lean_spark.operators.validation import (
        violation_rows_best,
        violation_rows_fast,
    )
    from json_schema_lean_spark.sources.spansgen import (
        SPAN_SCHEMA,
        spans_documents,
    )

    spans = spans_documents(spark, 2000)
    a = sorted(map(tuple, violation_rows_fast(
        spans, SPAN_SCHEMA, id_cols=["doc_id"]).collect()))
    b = sorted(map(tuple, violation_rows_best(
        spans, SPAN_SCHEMA, id_cols=["doc_id"]).collect()))
    assert a == b and len(a) > 0

    # non-fusable schema falls back (still identical)
    schema = {"type": "object", "properties": {
        "doc_id": {"type": "string"},
        "spans": {"items": {"type": ["object", "null"],
                            "properties": {"text": {"const": "x"}}}}}}
    c = sorted(map(tuple, violation_rows_fast(
        spans, schema, id_cols=["doc_id"]).collect()))
    d = sorted(map(tuple, violation_rows_best(
        spans, schema, id_cols=["doc_id"]).collect()))
    assert c == d


def test_struct_dynamic_object_violations_per_key(spark):
    """r2: StructType propertyNames / additionalProperties:false violations
    carry per-key granularity matching the interpreter."""
    from json_schema_lean_spark.interpreter import CompiledValidator
    from json_schema_lean_spark.operators.validation import validate_dataframe

    schema = {
        "type": "object",
        "properties": {"ok": {}},
        "propertyNames": {"maxLength": 3},
        "additionalProperties": False,
    }
    df = spark.createDataFrame([(1, 2, 3)], "ok int, zz int, toolong int")
    row = validate_dataframe(df, schema).collect()[0]
    got = {(x["keyword"], x["json_pointer"]) for x in row["violations"]}
    ref = CompiledValidator(schema)
    exp = {(x.keyword, x.json_pointer)
           for x in ref.validate({"ok": 1, "zz": 2, "toolong": 3})}
    assert row["valid"] is False
    assert got == exp
    assert ("propertyNames", "") in got
    assert ("false", "/zz") in got and ("false", "/toolong") in got


def _span_schema_with_doc_id(**extra):
    import copy
    schema = copy.deepcopy(SPAN_SCHEMA)
    schema["properties"]["doc_id"].update(extra)
    return schema


#: doc-level keywords no columnar strategy lowers: the fused plan declines
#: in its shared doc-level half, not in its items translator
_DOC_LEVEL_DECLINES = {
    # Python-only regex class: not Java-safe, so the compiler declines
    "python_regex": _span_schema_with_doc_id(pattern=r"^doc-\w"),
    # a $ref <-> $ref cycle under anyOf: no cycle error, but inlining
    # exceeds its depth bound
    "ref_cycle": {
        **_span_schema_with_doc_id(
            anyOf=[{"type": "string"}, {"$ref": "#/definitions/a"}]),
        "definitions": {**SPAN_SCHEMA["definitions"],
                        "a": {"$ref": "#/definitions/b"},
                        "b": {"$ref": "#/definitions/a"}},
    },
}


@pytest.mark.parametrize("case", sorted(_DOC_LEVEL_DECLINES))
def test_spans_chain_total_when_doc_level_declines(spark, tmp_path, case):
    """Every strategy of the spans chain declines with CompileFallback, so
    validate_spans_best, violation_rows_best and a checkpointed run all
    reach the interpreter instead of raising."""
    from json_schema_lean_spark.checkpointing import CheckpointedValidation
    from json_schema_lean_spark.operators.validation import (
        validate_spans_best,
        violation_rows_best,
    )

    schema = _DOC_LEVEL_DECLINES[case]
    path = str(tmp_path / "spans")
    spans_documents(spark, 200).write.parquet(path)
    docs = spark.read.parquet(path)
    ref = CompiledValidator(schema)

    got, want = [], []
    for row in validate_spans_best(docs, schema).collect():
        doc = row_to_json(row)
        del doc["valid"], doc["violations"]
        want.append((row["doc_id"], ref.is_valid(doc), tuple(sorted(
            (v.keyword, v.json_pointer) for v in ref.validate(doc)))))
        got.append((row["doc_id"], row["valid"], tuple(sorted(
            (v["keyword"], v["json_pointer"]) for v in row["violations"]))))
    assert sorted(got) == sorted(want)
    n_valid = sum(1 for _d, ok, _v in want if ok)
    assert 0 < n_valid < len(want)

    rows = sorted(map(tuple, violation_rows_best(
        docs, schema, id_cols=["doc_id"]).collect()))
    assert rows == sorted(map(tuple, violation_rows(
        validate_spans_best(docs, schema), ["doc_id"]).collect()))
    assert rows

    report = CheckpointedValidation(spark, path, schema,
                                    str(tmp_path / "out")).run()
    assert report.units_processed == report.units_total == 1
    assert (report.rows, report.valid) == (len(want), n_valid)
