"""MapType object lowering: dynamic-key objects as map columns."""

import json

import pytest
from pyspark.sql import functions as F

from json_schema_lean_spark.interpreter import CompiledValidator
from json_schema_lean_spark.operators.validation import validate_dataframe


@pytest.fixture(scope="module")
def maps_df(spark):
    rows = [
        ({"k": 5, "x_a": 1},),
        ({"k": 0},),                      # minimum violation
        ({"x_a": 2},),                    # required violation
        ({"k": 3, "zz": 9},),             # additionalProperties violation
        ({"k": 1, "x_bad": -1},),         # patternProperties violation
        ({"k": 2, "LONGKEYNAME": 1},),    # propertyNames + additional violation
        (None,),
    ]
    return spark.createDataFrame(rows, "m: map<string,long>")


MAP_SCHEMA = {
    "type": "object",
    "required": ["k"],
    "properties": {"k": {"type": "integer", "minimum": 1}},
    "patternProperties": {"^x_": {"minimum": 0}},
    "additionalProperties": False,
    "propertyNames": {"maxLength": 8},
    "maxProperties": 3,
}


def test_map_lowering_matches_interpreter(spark, maps_df):
    out = validate_dataframe(maps_df, MAP_SCHEMA, doc_col="m").collect()
    ref = CompiledValidator(MAP_SCHEMA)
    for row in out:
        if row["m"] is None:
            assert row["valid"] is True  # absent = pass (type-guard mapping)
            continue
        expected = ref.is_valid(dict(row["m"]))
        assert row["valid"] == expected, (row["m"], row["valid"], expected)


def test_map_dependencies(spark):
    df = spark.createDataFrame(
        [({"credit": 1, "billing": 2},), ({"credit": 1},), ({"other": 1},)],
        "m: map<string,long>")
    schema = {"dependencies": {"credit": ["billing"]}}
    got = [r["valid"] for r in validate_dataframe(df, schema, doc_col="m").collect()]
    assert got == [True, False, True]


def test_events_props_as_map_column(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    as_map = ev.withColumn("pm", F.from_json("props", "map<string,bigint>"))
    schema = {"required": ["k"], "properties": {"k": {"minimum": 1}}}
    out = validate_dataframe(as_map, schema, doc_col="pm")
    rows = out.select("props", "valid").collect()
    for r in rows[:200]:
        k = json.loads(r["props"])["k"]
        assert r["valid"] == (k >= 1), r


def test_map_dynamic_object_violations_per_key(spark):
    """r2: MapType patternProperties/additionalProperties/propertyNames
    violations carry per-key pointers and sub-keywords, matching the
    interpreter exactly."""
    from json_schema_lean_spark.interpreter import CompiledValidator
    from json_schema_lean_spark.operators.validation import validate_dataframe

    schema = {
        "type": "object",
        "properties": {"a": {"type": "integer"}},
        "patternProperties": {"^x": {"minimum": 5}},
        "additionalProperties": {"enum": [1, 2]},
        "propertyNames": {"maxLength": 2},
    }
    df = spark.createDataFrame(
        [({"a": 1, "xq": 3, "zzz": 9},)], "m map<string,int>")
    out = validate_dataframe(df, schema, doc_col="m")
    row = out.collect()[0]
    got = {(x["keyword"], x["json_pointer"]) for x in row["violations"]}
    ref = CompiledValidator(schema)
    exp = {(x.keyword, x.json_pointer)
           for x in ref.validate({"a": 1, "xq": 3, "zzz": 9})}
    assert row["valid"] is False
    assert got == exp
    assert ("minimum", "/xq") in got          # patternProperties recursion
    assert ("enum", "/zzz") in got            # additionalProperties recursion
    assert ("propertyNames", "") in got       # per-name at the object ptr


def test_map_reference_messages_match_interpreter(spark):
    """Reference-style messages of the object keywords over a MapType
    column byte-match the interpreter's (they used to keep the structured
    text, e.g. "missing one of ['a', 'z']")."""
    from json_schema_lean_spark.interpreter import CompiledValidator
    from json_schema_lean_spark.operators.validation import validate_dataframe

    schema = {
        "required": ["a", "z"],
        "maxProperties": 2,
        "minProperties": 1,
        "propertyNames": {"maxLength": 2},
        "dependencies": {"b": ["a", "c"]},
    }
    docs = [{"b": 1, "long": 2, "d": 3}, {}, {"a": 1, "z": 2}]
    df = spark.createDataFrame([(d,) for d in docs], "m map<string,int>")
    out = validate_dataframe(df, schema, doc_col="m",
                             message_style="reference").collect()
    ref = CompiledValidator(schema, message_style="reference")
    fired = set()
    for doc, row in zip(docs, out):
        exp = sorted((x.keyword, x.json_pointer, x.message)
                     for x in ref.validate(doc))
        got = sorted((x["keyword"], x["json_pointer"], x["message"])
                     for x in row["violations"])
        assert got == exp, doc
        fired |= {k for k, _, _ in got}
    assert fired == {"required", "maxProperties", "minProperties",
                     "propertyNames", "dependencies"}
