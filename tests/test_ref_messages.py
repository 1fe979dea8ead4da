"""Reference-format (byte-parity) violation messages on the COLUMN-BASED
paths (VERDICT r2 #3).

Round 2 had ``message_style="reference"`` only on the interpreter; columnar,
fused and variant violations carried structured text, so the same failure
read differently across strategies. Now all four paths emit the Lean
``reportError`` strings (/root/reference/JsonSchema/Error.lean:8-9), with the
offending value compressed into the message AT RUNTIME
(compiler.lean_compress_typed / variant._lean_compress_variant).

Documented approximations (same spirit as the interpreter's):
- exotic double magnitudes format Java-style (1.0E20) where Python says
  1e+20 — the corpus below stays off that zone;
- on the VARIANT path an integral non-BIGINT number INSIDE a container
  renders without its '.0' (the variant binary drops decimal scale).
"""

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from json_schema_lean_spark.compiler import ColumnarCompiler
from json_schema_lean_spark.inference import infer_json_dtype
from json_schema_lean_spark.interpreter import CompiledValidator
from json_schema_lean_spark.operators.validation import validate_dataframe
from json_schema_lean_spark.plans.fused import validate_documents_fused
from json_schema_lean_spark.variant import validate_json_column_variant

GOLDEN_TYPE = "Expected one of #[string], got  42"
GOLDEN_REQUIRED = ('Object is missing required fields: #[street, city], '
                   'got  {"street":"789 Business Ave"}')

PERSON_SCHEMA = {
    "$id": "https://example.com/person.json",
    "definitions": {
        "address": {
            "type": "object",
            "properties": {"street": {"type": "string"},
                           "city": {"type": "string"}},
            "required": ["street", "city"],
        }
    },
    "type": "object",
    "properties": {"name": {"type": "string"},
                   "home": {"$ref": "#/definitions/address"},
                   "work": {"$ref": "#/definitions/address"}},
    "required": ["name"],
}
INVALID_PERSON = {"name": "Bob", "work": {"street": "789 Business Ave"}}


def _columnar_ref_messages(spark, schema, instance):
    dtype, why = infer_json_dtype(instance)
    assert dtype is not None, why
    comp = ColumnarCompiler(schema, message_style="reference")
    low = comp.lower(dtype, null_means="null")
    df = spark.createDataFrame([(json.dumps([instance]),)], "inst string")
    col = F.element_at(F.from_json(F.col("inst"), ArrayType(dtype)), 1)
    [row] = df.select(
        F.when(F.coalesce(low.valid(col), F.lit(False)),
               F.array().cast("array<struct<keyword:string,"
                              "json_pointer:string,message:string>>"))
         .otherwise(low.violations(col, F.lit(""))).alias("v")).collect()
    return {(x["keyword"], x["json_pointer"], x["message"]) for x in row["v"]}


def _variant_ref_messages(spark, schema, instance):
    df = spark.createDataFrame([(json.dumps(instance),)], "j string")
    out = validate_json_column_variant(df, "j", schema,
                                       message_style="reference")
    [row] = out.collect()
    return {(x["keyword"], x["json_pointer"], x["message"])
            for x in (row["violations"] or [])}


def _interp_ref_messages(schema, instance):
    v = CompiledValidator(schema, message_style="reference")
    return {(x.keyword, x.json_pointer, x.message)
            for x in v.validate(instance)}


class TestGoldensOnAllFourPaths:
    """The two published Examples.lean goldens
    (/root/reference/JsonSchemaTesting/Examples.lean:17-22, 82-90) byte-equal
    on interpreter, columnar, variant, and fused."""

    def test_interpreter(self):
        got = _interp_ref_messages({"type": "string"}, 42)
        assert {m for _, _, m in got} == {GOLDEN_TYPE}
        got = _interp_ref_messages(PERSON_SCHEMA, INVALID_PERSON)
        assert {m for _, _, m in got} == {GOLDEN_REQUIRED}

    def test_columnar(self, spark):
        got = _columnar_ref_messages(spark, {"type": "string"}, 42)
        assert {m for _, _, m in got} == {GOLDEN_TYPE}
        got = _columnar_ref_messages(spark, PERSON_SCHEMA, INVALID_PERSON)
        assert got == {("required", "/work", GOLDEN_REQUIRED)}

    def test_variant(self, spark):
        got = _variant_ref_messages(spark, {"type": "string"}, 42)
        assert {m for _, _, m in got} == {GOLDEN_TYPE}
        got = _variant_ref_messages(spark, PERSON_SCHEMA, INVALID_PERSON)
        assert got == {("required", "/work", GOLDEN_REQUIRED)}

    def test_fused(self, spark):
        # a type check that can never pass the dtype leaves the fused
        # array algebra: the type golden comes from the keyword walk inside
        # the fused plan; the required golden exercises the fused plan's
        # runtime compression
        df = spark.createDataFrame([(1, [(42,)])],
                                   "doc_id int, spans array<struct<txt:long>>")
        schema = {"type": "object",
                  "properties": {"spans": {
                      "type": "array",
                      "items": {"type": "object",
                                "properties": {"txt": {"type": "string"}}}}}}
        out = validate_documents_fused(df, schema,
                                          message_style="reference",
                                          keep_cols=["doc_id"])
        [row] = out.collect()
        assert row["valid"] is False
        assert [x["message"] for x in row["violations"]] == [GOLDEN_TYPE]
        assert row["violations"][0]["json_pointer"] == "/spans/0/txt"

        df2 = spark.createDataFrame(
            [(1, [("789 Business Ave", None)])],
            "doc_id int, spans array<struct<street:string,city:string>>")
        schema2 = {"type": "object",
                   "properties": {"spans": {
                       "type": "array",
                       "items": {"type": "object",
                                 "required": ["street", "city"]}}}}
        out2 = validate_documents_fused(df2, schema2,
                                        message_style="reference")
        [row2] = out2.collect()
        assert row2["valid"] is False
        assert [x["message"] for x in row2["violations"]] == [GOLDEN_REQUIRED]


# (schema, failing instance) — one per covered keyword; values chosen off
# the documented approximation zones (no integral floats inside containers,
# no exotic magnitudes)
CROSS_PATH_CORPUS = [
    ({"type": "string"}, 42),
    ({"type": ["integer", "boolean"]}, "x"),
    ({"type": "null"}, {"a": 1}),
    ({"const": 5}, 7),
    ({"const": "x"}, "y"),
    ({"const": {"a": 1, "b": 2}}, {"a": 1}),
    ({"enum": [1, "two", True]}, "three"),
    ({"maxLength": 2}, "abcd"),
    ({"minLength": 3}, "ab"),
    ({"pattern": "^a+$"}, "bbb"),
    ({"maximum": 3}, 7),
    ({"maximum": 3.5}, 7.25),
    ({"exclusiveMaximum": 3}, 3),
    ({"minimum": 5}, 2),
    ({"exclusiveMinimum": 5}, 5),
    ({"multipleOf": 3}, 7),
    ({"maxItems": 1}, [1, 2, 3]),
    ({"minItems": 2}, ["a"]),
    ({"uniqueItems": True}, [1, 1]),
    ({"uniqueItems": True}, [{"a": "x"}, {"a": "x"}]),
    ({"contains": {"const": 9}}, [1, 2]),
    ({"contains": {"const": 9}}, []),
    ({"required": ["a", "b"]}, {"a": 1}),
    ({"maxProperties": 1}, {"a": 1, "b": "s"}),
    ({"minProperties": 2}, {"a": 1}),
    ({"dependencies": {"a": ["b"]}}, {"a": 1}),
    ({"propertyNames": {"maxLength": 1}}, {"ab": 1}),
    ({"not": {"type": "integer"}}, 4),
    ({"oneOf": [{"type": "integer"}, {"minimum": 0}]}, 4),      # matched 2
    ({"oneOf": [{"type": "string"}, {"type": "boolean"}]}, 4),  # matched 0
    ({"anyOf": [{"type": "string"}, {"type": "boolean"}]}, 4),
    ({"properties": {"k": {"minimum": 2}}}, {"k": 1}),          # nested ptr
    ({"items": {"type": "string"}}, [5, 6]),
    ({"additionalProperties": False, "properties": {"a": {}}},
     {"a": 1, "b": 2}),
]


def test_cross_path_reference_messages_byte_equal(spark):
    """(keyword, pointer, message) sets identical across interpreter,
    columnar, and variant under message_style='reference' — message TEXT
    included, not just keyword+pointer (the r2 gap)."""
    bad = []
    for schema, instance in CROSS_PATH_CORPUS:
        exp = _interp_ref_messages(schema, instance)
        assert exp, (schema, instance)  # corpus rows must actually fail
        got_c = _columnar_ref_messages(spark, schema, instance)
        if got_c != exp:
            bad.append(("columnar", schema, instance, exp, got_c))
        got_v = _variant_ref_messages(spark, schema, instance)
        if got_v != exp:
            bad.append(("variant", schema, instance, exp, got_v))
    assert not bad, bad[:6]


def test_structured_style_unchanged_by_default(spark):
    """Default message_style stays structured — no behavior change for
    existing callers."""
    df = spark.createDataFrame([(1, 42)], "i int, k long")
    out = validate_dataframe(df, {"type": "string"}, doc_col="k")
    [row] = out.select("violations").collect()
    assert row["violations"][0]["message"] == "expected one of ['string']"


def test_null_values_render_null_in_reference_messages(spark):
    """r3 review fix: a JSON null at a violating position must render as
    ``null`` in reference-style messages on the columnar path (previously
    'false' for boolean dtype, '' for string, '{}' for struct)."""
    cases = [
        ({"items": {"type": "string"}}, ["a", None]),
        ({"items": {"type": "boolean"}}, [True, None]),
        ({"items": {"type": "integer"}}, [1, None]),
        ({"items": {"type": "object"}}, [{"k": 1}, None]),
    ]
    bad = []
    for schema, instance in cases:
        exp = _interp_ref_messages(schema, instance)
        assert exp and any("null" in m for _k, _p, m in exp), exp
        got_c = _columnar_ref_messages(spark, schema, instance)
        if got_c != exp:
            bad.append(("columnar", schema, exp, got_c))
        got_v = _variant_ref_messages(spark, schema, instance)
        if got_v != exp:
            bad.append(("variant", schema, exp, got_v))
    assert not bad, bad
