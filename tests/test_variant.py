"""Variant-path validator (variant.py): fixture-suite replay + interpreter
differentials.

The variant path must agree with the Arrow-batch interpreter (which is
pinned to the reference) on every schema it accepts; schemas outside its
subset must raise CompileFallback, never a wrong verdict.
"""

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from json_schema_lean_spark.compiler import CompileFallback
from json_schema_lean_spark.interpreter import CompiledValidator
from json_schema_lean_spark.operators.validation import validate_json_column
from json_schema_lean_spark.variant import (
    VariantCompiler,
    validate_json_column_variant,
)

FIXTURES = Path(__file__).resolve().parent.parent / "fixtures"
SUITE_DIRS = [FIXTURES / "suite", FIXTURES / "suite_official" / "draft7"]


def load_cases():
    """[(case_id, schema_json, [(instance_json, expected_valid)...])]"""
    out = []
    for f in sorted(p for d in SUITE_DIRS for p in d.glob("*.json")):
        for ci, case in enumerate(json.loads(f.read_text())):
            out.append((f"{f.stem}/{ci}", case["schema"],
                        [(json.dumps(t["data"]), t["valid"])
                         for t in case["tests"]]))
    return out


def lowerable_cases():
    from json_schema_lean_spark.metaschema import META_REGISTRY
    keep, skipped = [], 0
    for cid, schema, tests in load_cases():
        try:
            comp = VariantCompiler(schema, registry=META_REGISTRY)
            low = comp.lower()
        except CompileFallback:
            skipped += 1
            continue
        keep.append((cid, low, tests))
    return keep, skipped


def test_suite_replay_through_variant_path(spark):
    """Every variant-lowerable fixture case must reproduce the pinned
    verdicts. Chunked CASE-WHEN plans keep this to a handful of jobs."""
    keep, skipped = lowerable_cases()
    assert len(keep) >= 100, (len(keep), skipped)  # subset must stay broad

    CHUNK = 40
    mismatches = []
    for start in range(0, len(keep), CHUNK):
        chunk = keep[start:start + CHUNK]
        rows = []
        for local_idx, (cid, _low, tests) in enumerate(chunk):
            for inst, exp in tests:
                rows.append((local_idx, cid, inst, exp))
        df = spark.createDataFrame(
            rows, "case_idx int, case_id string, inst string, expected boolean")
        v = F.try_parse_json("inst")
        expr = F.lit(None).cast("boolean")
        for local_idx in range(len(chunk) - 1, -1, -1):
            low = chunk[local_idx][1]
            ok = F.when(v.isNull(), F.lit(False)) \
                  .otherwise(F.coalesce(low.valid(v), F.lit(False)))
            expr = F.when(F.col("case_idx") == local_idx, ok).otherwise(expr)
        got = df.select("case_id", "inst", "expected",
                        expr.alias("valid")).collect()
        mismatches += [(r["case_id"], r["inst"], r["expected"], r["valid"])
                       for r in got if r["valid"] != r["expected"]]
    assert not mismatches, mismatches[:20]


TRICKY = [
    # (schema, instance) pairs probing variant-specific edges
    ({"type": "integer"}, "5"),
    ({"type": "integer"}, "5.0"),
    ({"type": "integer"}, "5.5"),
    ({"type": "integer"}, "1e2"),
    ({"type": "integer"}, "123456789012345678901234567890"),
    ({"type": "number"}, "true"),
    ({"type": "null"}, "null"),
    ({"type": "object"}, "{}"),
    ({"type": "array"}, "[]"),
    ({"required": ["k"]}, '{"k": null}'),       # present null counts
    ({"required": ["k"]}, "{}"),
    ({"required": ["k"]}, "[1]"),               # non-object: passes
    ({"properties": {"k": {"type": "string"}}}, '{"k": null}'),  # null fails string
    ({"properties": {"k": {"type": "string"}}}, "{}"),
    ({"minimum": 3}, '"zz"'),                   # type-guard: passes
    ({"minimum": 3}, "2"),
    ({"pattern": "b.t"}, '"rabbit"'),           # unanchored search, '.' metachar
    ({"pattern": "b.t"}, '"12"'),               # non-string: passes
    ({"maxLength": 2}, '"\U0001D11E\U0001D11E"'),  # astral plane = 2 codepoints
    ({"enum": [1, "1"]}, "1.0"),                # numeric-tolerant enum
    ({"enum": [1, "1"]}, '"1"'),
    ({"enum": [None]}, "null"),
    ({"const": 2}, "2.0"),
    ({"maxProperties": 1}, '{"a":1,"b":2}'),
    ({"propertyNames": {"maxLength": 1}}, '{"ab": 1}'),
    ({"patternProperties": {"^x": {"type": "integer"}}}, '{"xa": "s"}'),
    ({"additionalProperties": False, "properties": {"a": {}}}, '{"a":1,"b":2}'),
    ({"dependencies": {"a": ["b"]}}, '{"a":1}'),
    ({"dependencies": {"a": {"required": ["b"]}}}, '{"a":1}'),
    ({"items": {"type": "integer"}}, '[1,2,"x"]'),
    ({"items": {"type": "integer"}}, "[1,null]"),   # JSON null element fails
    ({"items": [{"type": "integer"}, {"type": "string"}]}, '[1,"a",true]'),
    ({"items": [{"type": "integer"}], "additionalItems": {"type": "string"}},
     '[1,"a",2]'),
    ({"minItems": 1}, "[]"),
    ({"contains": {"const": 5}}, "[1,5]"),
    ({"contains": {"const": 5}}, "[]"),
    ({"anyOf": [{"type": "string"}, {"minimum": 5}]}, "4"),
    ({"oneOf": [{"type": "number"}, {"minimum": 5}]}, "7"),
    ({"not": {"type": "string"}}, '"s"'),
    ({"if": {"type": "string"}, "then": {"minLength": 2}, "else": {"minimum": 0}},
     '"a"'),
    ({"allOf": [{"type": "number"}, {"minimum": 2}]}, "3"),
    ({"definitions": {"p": {"type": "integer"}},
      "properties": {"k": {"$ref": "#/definitions/p"}}}, '{"k": "s"}'),
    (True, "3"),
    (False, "3"),
    ({"multipleOf": 0.5}, "1.5"),
    ({"multipleOf": 2}, "7"),
]


def test_tricky_cases_match_interpreter(spark):
    rows, exprs = [], []
    comps = []
    for i, (schema, inst) in enumerate(TRICKY):
        ref = CompiledValidator(schema)
        expected = ref.is_valid(json.loads(inst))
        comps.append((i, VariantCompiler(schema).lower(), expected))
        rows.append((i, inst, expected))
    df = spark.createDataFrame(rows, "i int, inst string, expected boolean")
    v = F.try_parse_json("inst")
    expr = F.lit(None).cast("boolean")
    for i, low, _exp in reversed(comps):
        ok = F.when(v.isNull(), F.lit(False)) \
              .otherwise(F.coalesce(low.valid(v), F.lit(False)))
        expr = F.when(F.col("i") == i, ok).otherwise(expr)
    got = df.select("i", "inst", "expected", expr.alias("valid")).collect()
    bad = [(r["i"], TRICKY[r["i"]][0], r["inst"], r["expected"], r["valid"])
           for r in got if r["valid"] != r["expected"]]
    assert not bad, bad


def test_former_fallbacks_now_lower(spark):
    """Round-3 route pin (VERDICT r2 #1/#7): uniqueItems, deep const/enum,
    and benignly-recursive $refs all lower to variant expressions now —
    no CompileFallback, so the zero-Python route stays the default."""
    for schema in [
        {"uniqueItems": True},
        {"const": [1, 2]},
        {"enum": [{"a": 1}]},
        {"definitions": {"n": {"properties": {"next": {"$ref": "#/definitions/n"}}}},
         "properties": {"root": {"$ref": "#/definitions/n"}}},  # recursive
    ]:
        VariantCompiler(schema).lower()  # must not raise


def test_fallback_cases_raise_not_misvalidate():
    """What still legitimately falls back to the Arrow interpreter: evil
    $ref cycles (no instance depth consumed — unrolling can't bound them)
    and regex outside the Java-transpilable dialect."""
    for schema in [
        {"$ref": "#"},                                   # evil self-cycle
        {"definitions": {"a": {"$ref": "#/definitions/b"},
                         "b": {"$ref": "#/definitions/a"}},
         "allOf": [{"$ref": "#/definitions/a"}]},        # evil mutual cycle
        {"pattern": "\\w+"},                             # non-Java dialect
    ]:
        with pytest.raises(CompileFallback):
            VariantCompiler(schema).lower()


DEEP_EQ_CASES = [
    ({"uniqueItems": True},
     [[1, 2], [1, 1.0], [1, "1"], [], [[1], [1.0]],
      [{"a": 1, "b": 2}, {"b": 2, "a": 1}],
      [{"a": 1}, {"a": 2}], [None, None], [0.0, -0.0],
      [[], {}], [True, 1], ["a", "a"], [[1, 2], [2, 1]],
      [{"a": [1, {"z": "s"}]}, {"a": [1, {"z": "s"}]}],
      [{"a": [1, {"z": "s"}]}, {"a": [1, {"z": "t"}]}],
      ["ab", "a"], ["", ""], [{"": 1}, {"": 1.0}],
      "notarray", 3, {"k": 1}]),
    ({"uniqueItems": False}, [[1, 1]]),
    ({"const": [1, 2]}, [[1, 2], [1.0, 2.0], [2, 1], [1, 2, 3], "x", [1, [2]]]),
    ({"const": {"a": 1, "b": [True, None]}},
     [{"b": [True, None], "a": 1.0}, {"a": 1, "b": [True]}, {"a": 1}, {}, [1]]),
    ({"const": {}}, [{}, [], {"a": 1}]),
    ({"const": []}, [[], {}, [1]]),
    ({"enum": [[1], {"x": "y"}, "s", 2]},
     [[1], [1.0], {"x": "y"}, {"x": "z"}, "s", 2, 2.0, [2]]),
    ({"items": {"uniqueItems": True}},
     [[[1, 2], [3, 3]], [[1, 2], [3, 4]]]),
]


def test_deep_equality_matches_interpreter(spark):
    """Canonical-string deep equality (uniqueItems / deep const / deep enum)
    reproduces the interpreter's jsonSchemaEq verdicts, including
    numeric-tolerant nesting (1 == 1.0 inside arrays/objects), key-order
    insensitivity, and -0.0 == 0.0."""
    bad = []
    for schema, instances in DEEP_EQ_CASES:
        ref = CompiledValidator(schema)
        low = VariantCompiler(schema).lower()
        df = spark.createDataFrame(
            [(i, json.dumps(inst)) for i, inst in enumerate(instances)],
            "i int, inst string")
        v = F.try_parse_json("inst")
        got = {r["i"]: r["ok"] for r in df.select(
            "i", F.coalesce(low.valid(v), F.lit(False)).alias("ok")).collect()}
        bad += [(schema, inst, ref.is_valid(inst), got[i])
                for i, inst in enumerate(instances)
                if got[i] != ref.is_valid(inst)]
    assert not bad, bad


def _linked_list(n, broken_at=None):
    out = {"v": "bad" if broken_at == 0 else 1}
    cur = out
    for i in range(1, n):
        cur["next"] = {"v": "bad" if broken_at == i else i}
        cur = cur["next"]
    return {"root": out}


RECURSIVE_SCHEMA = {
    "definitions": {"n": {"type": "object", "required": ["v"],
                          "properties": {"v": {"type": "integer"},
                                         "next": {"$ref": "#/definitions/n"}}}},
    "properties": {"root": {"$ref": "#/definitions/n"}}}


def test_recursive_ref_unrolls_on_variant_path(spark):
    """Benign $ref recursion validates instances up to MAX_VARIANT_DEPTH
    nested levels with interpreter-identical verdicts."""
    ref = CompiledValidator(RECURSIVE_SCHEMA)
    low = VariantCompiler(RECURSIVE_SCHEMA).lower()
    insts = [_linked_list(1), _linked_list(5), _linked_list(5, broken_at=3),
             _linked_list(23), _linked_list(23, broken_at=22),
             {"root": {"v": 1, "next": []}}, {}, {"root": "notanode"}]
    df = spark.createDataFrame(
        [(i, json.dumps(inst)) for i, inst in enumerate(insts)],
        "i int, inst string")
    v = F.try_parse_json("inst")
    got = {r["i"]: r["ok"] for r in df.select(
        "i", F.coalesce(low.valid(v), F.lit(False)).alias("ok")).collect()}
    for i, inst in enumerate(insts):
        assert got[i] == ref.is_valid(inst), (i, inst)


def test_recursive_ref_too_deep_raises_loudly(spark):
    """An instance nesting past the unroll bound raises a runtime error
    naming the Arrow escape hatch — never a silent wrong verdict."""
    low = VariantCompiler(RECURSIVE_SCHEMA).lower()
    df = spark.createDataFrame(
        [(json.dumps(_linked_list(30)),)], "inst string")
    with pytest.raises(Exception, match="prefer_variant=False"):
        df.select(F.coalesce(low.valid(F.try_parse_json("inst")),
                             F.lit(False)).alias("ok")).collect()


def test_uniqueitems_too_deep_raises_loudly(spark):
    from json_schema_lean_spark.variant import MAX_CANON_DEPTH

    def nest(n):
        out = [1]
        for _ in range(n):
            out = [out]
        return out

    low = VariantCompiler({"uniqueItems": True}).lower()
    shallow = json.dumps([nest(3), nest(4)])
    deep = json.dumps([nest(MAX_CANON_DEPTH + 2)])
    df = spark.createDataFrame([(shallow,)], "inst string")
    ok = df.select(F.coalesce(low.valid(F.try_parse_json("inst")),
                              F.lit(False)).alias("ok")).collect()
    assert ok[0]["ok"] is True
    df2 = spark.createDataFrame([(deep,)], "inst string")
    with pytest.raises(Exception, match="prefer_variant=False"):
        df2.select(F.coalesce(low.valid(F.try_parse_json("inst")),
                              F.lit(False)).alias("ok")).collect()


def test_official_deep_eq_suites_replay_via_variant():
    """The suites the r2 verdict called out (uniqueItems, const, enum, ref)
    must now be variant-lowerable end to end — pin their case ids into the
    lowerable set so a regression re-introducing CompileFallback fails here,
    not just in coverage counts."""
    keep, _ = lowerable_cases()
    kept_ids = {cid for cid, _, _ in keep}
    for stem in ("uniqueItems", "const", "enum"):
        f = FIXTURES / "suite_official" / "draft7" / f"{stem}.json"
        n_cases = len(json.loads(f.read_text()))
        missing = [f"{stem}/{ci}" for ci in range(n_cases)
                   if f"{stem}/{ci}" not in kept_ids]
        assert not missing, missing
    # ref.json: the recursive cases specifically
    refs = json.loads((FIXTURES / "suite_official" / "draft7" / "ref.json")
                      .read_text())
    rec_idx = [i for i, c in enumerate(refs)
               if "recursive" in c["description"].lower()
               or "root pointer" in c["description"].lower()]
    assert rec_idx, "expected recursive cases in ref.json"
    for i in rec_idx:
        assert f"ref/{i}" in kept_ids, refs[i]["description"]


def test_validate_json_column_routes_to_variant(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    schema = {"type": "object", "required": ["k"],
              "properties": {"k": {"type": "integer", "minimum": 1}}}
    out = validate_json_column(ev, "props", schema)
    # no Python eval anywhere in the plan
    import contextlib
    import io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, marker
    # verdict parity with the Arrow interpreter path on the full table
    arrow = validate_json_column(ev, "props", schema, prefer_variant=False)
    a = {r["event_id"]: r["valid"] for r in out.select("event_id", "valid").collect()}
    b = {r["event_id"]: r["valid"] for r in arrow.select("event_id", "valid").collect()}
    assert a == b


def test_deep_eq_schema_stays_zero_python(spark):
    """A schema using uniqueItems + deep enum must still route through the
    variant path with no Python nodes in the plan (the r2 verdict's top
    item: no silent downgrade to the per-value Arrow interpreter)."""
    import contextlib
    import io

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    schema = {"type": "object",
              "properties": {"tags": {"type": "array", "uniqueItems": True},
                             "mode": {"enum": [["a"], {"m": 1}, "plain"]}}}
    out = validate_json_column(ev, "props", schema)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, marker
    # and it agrees with the Arrow interpreter on real data
    arrow = validate_json_column(ev, "props", schema, prefer_variant=False)
    a = {r["event_id"]: r["valid"] for r in out.select("event_id", "valid").collect()}
    b = {r["event_id"]: r["valid"] for r in arrow.select("event_id", "valid").collect()}
    assert a == b


def test_variant_violations_and_null_contract(spark):
    schema = {"type": "object", "required": ["k"],
              "properties": {"k": {"type": "integer", "minimum": 1}}}
    df = spark.createDataFrame(
        [("a", '{"k": 3}'), ("b", '{"k": 0}'), ("c", "{}"),
         ("d", "not json"), ("e", None), ("f", '{"k": "s"}')],
        "id string, props string")
    out = validate_json_column_variant(df, "props", schema)
    rows = {r["id"]: r for r in out.collect()}
    assert rows["a"]["valid"] is True and rows["a"]["violations"] == []
    assert rows["b"]["valid"] is False
    assert [x["keyword"] for x in rows["b"]["violations"]] == ["minimum"]
    assert rows["b"]["violations"][0]["json_pointer"] == "/k"
    assert rows["c"]["valid"] is False
    assert [x["keyword"] for x in rows["c"]["violations"]] == ["required"]
    assert rows["d"]["valid"] is False
    assert [x["keyword"] for x in rows["d"]["violations"]] == ["$parse"]
    assert rows["e"]["valid"] is None and rows["e"]["violations"] is None
    assert rows["f"]["valid"] is False
    assert [x["keyword"] for x in rows["f"]["violations"]] == ["type"]


def _gen_schema(rng, depth=0):
    """Random draft-7 schema from the variant-lowerable-ish grammar (some
    outputs legitimately CompileFallback — the test skips those)."""
    opts = ["type", "enum", "const", "range", "length", "pattern", "object",
            "items", "combo", "ifelse", "deps"]
    kind = rng.choice(opts if depth < 2 else opts[:6])
    if kind == "type":
        return {"type": rng.choice(
            ["string", "integer", "number", "boolean", "null", "object",
             "array", ["string", "null"], ["integer", "boolean"]])}
    if kind == "enum":
        return {"enum": rng.sample(
            [1, 2.5, "a", "b", True, False, None, 0, "",
             [1], [1, "a"], {"p": 1}, {"p": [True]}, [], {}], rng.randint(1, 4))}
    if kind == "const":
        return {"const": rng.choice(
            [1, 1.0, "x", True, None, 0.5,
             [1, 2], {"p": 1.0}, [], {}, {"q": [None, "a"]}])}
    if kind == "range":
        lo = rng.randint(-3, 3)
        return rng.choice([{"minimum": lo}, {"maximum": lo},
                           {"exclusiveMinimum": lo}, {"exclusiveMaximum": lo},
                           {"multipleOf": rng.choice([2, 0.5, 3])}])
    if kind == "length":
        return rng.choice([{"minLength": rng.randint(0, 3)},
                           {"maxLength": rng.randint(0, 3)}])
    if kind == "pattern":
        return {"pattern": rng.choice(["^a", "b$", "a.c", "^[ab]+$", "\\d",
                                       "a{", "x{1,2}", "[a&&b]"])}
    if kind == "object":
        props = {k: _gen_schema(rng, depth + 1)
                 for k in rng.sample(["p", "q", "r"], rng.randint(1, 2))}
        out = {"properties": props}
        if rng.random() < 0.5:
            out["required"] = rng.sample(["p", "q", "r"], rng.randint(1, 2))
        if rng.random() < 0.3:
            out["maxProperties"] = rng.randint(0, 3)
        if rng.random() < 0.2:
            out["additionalProperties"] = rng.choice(
                [False, _gen_schema(rng, depth + 1)])
        return out
    if kind == "items":
        out = {"items": _gen_schema(rng, depth + 1)
               if rng.random() < 0.7 else
               [_gen_schema(rng, depth + 1), _gen_schema(rng, depth + 1)]}
        if rng.random() < 0.4:
            out["minItems"] = rng.randint(0, 2)
        if rng.random() < 0.2:
            out["contains"] = _gen_schema(rng, depth + 1)
        if rng.random() < 0.3:
            out["uniqueItems"] = True
        return out
    if kind == "combo":
        n = rng.randint(1, 2)
        key = rng.choice(["allOf", "anyOf", "oneOf", "not"])
        if key == "not":
            return {"not": _gen_schema(rng, depth + 1)}
        return {key: [_gen_schema(rng, depth + 1) for _ in range(n)]}
    if kind == "ifelse":
        return {"if": _gen_schema(rng, depth + 1),
                "then": _gen_schema(rng, depth + 1),
                "else": _gen_schema(rng, depth + 1)}
    return {"dependencies": {"p": rng.choice(
        [["q"], _gen_schema(rng, depth + 1)])}}


def _gen_value(rng, depth=0):
    opts = ["int", "float", "str", "bool", "null", "obj", "arr"]
    kind = rng.choice(opts if depth < 2 else opts[:5])
    if kind == "int":
        return rng.choice([0, 1, -2, 3, 100])
    if kind == "float":
        return rng.choice([0.0, 1.0, 2.5, -0.5, 1e2])
    if kind == "str":
        return rng.choice(["", "a", "ab", "abc", "b", "x.c", "1", "٣"])
    if kind == "bool":
        return rng.choice([True, False])
    if kind == "null":
        return None
    if kind == "obj":
        return {k: _gen_value(rng, depth + 1)
                for k in rng.sample(["p", "q", "r", "z"], rng.randint(0, 3))}
    return [_gen_value(rng, depth + 1) for _ in range(rng.randint(0, 3))]


def test_fuzz_variant_verdicts_and_violations_match_interpreter(spark):
    """Seeded fuzz: random schemas x random JSON values. For every
    variant-lowerable schema, the variant path must reproduce the
    interpreter's verdict AND its violation (keyword, json_pointer) multiset
    root-cause for failing values."""
    import random

    from json_schema_lean_spark.compiler import VIOLATION_SCHEMA

    rng = random.Random(20260816)
    cases = []  # (low, schema, [values])
    tried = 0
    while len(cases) < 60 and tried < 400:
        tried += 1
        schema = _gen_schema(rng)
        try:
            low = VariantCompiler(schema).lower()
        except CompileFallback:
            continue
        vals = [_gen_value(rng) for _ in range(8)]
        cases.append((low, schema, vals))
    assert len(cases) == 60, (len(cases), tried)

    CHUNK = 20
    bad = []
    for start in range(0, len(cases), CHUNK):
        chunk = cases[start:start + CHUNK]
        rows = []
        for li, (_low, schema, vals) in enumerate(chunk):
            for vi, val in enumerate(vals):
                rows.append((li, vi, json.dumps(val)))
        df = spark.createDataFrame(rows, "li int, vi int, inst string")
        v = F.try_parse_json("inst")
        valid_expr = F.lit(None).cast("boolean")
        viol_expr = F.lit(None).cast(VIOLATION_SCHEMA)
        for li in range(len(chunk) - 1, -1, -1):
            low = chunk[li][0]
            ok = F.coalesce(low.valid(v), F.lit(False))
            valid_expr = F.when(F.col("li") == li, ok).otherwise(valid_expr)
            viol_expr = F.when(F.col("li") == li,
                               F.when(ok, F.array().cast(VIOLATION_SCHEMA))
                                .otherwise(low.violations(v, F.lit("")))) \
                         .otherwise(viol_expr)
        got = df.select("li", "vi", valid_expr.alias("valid"),
                        viol_expr.alias("viols")).collect()
        for r in got:
            low, schema, vals = chunk[r["li"]]
            val = vals[r["vi"]]
            ref = CompiledValidator(schema)
            exp_viols = ref.validate(val)
            exp_valid = not exp_viols
            if bool(r["valid"]) != exp_valid:
                bad.append(("verdict", schema, val, exp_valid, r["valid"]))
                continue
            if not exp_valid:
                got_kw = {(x["keyword"], x["json_pointer"])
                          for x in (r["viols"] or [])}
                exp_kw = {(x.keyword, x.json_pointer) for x in exp_viols}
                # exact (keyword, pointer) set parity — the variant path
                # recurses per key into patternProperties /
                # additionalProperties / propertyNames like the interpreter
                if got_kw != exp_kw:
                    bad.append(("viols", schema, val, exp_kw, got_kw))
    assert not bad, bad[:10]


def test_weird_object_keys_route_correctly(spark):
    """Keys exercising all three child-access routes (simple path, quoted
    bracket path, map fallback) must validate and report identically."""
    weird_keys = ["simple", "a b", "a[b]", "a'b", 'a"b', "a\\b", "a/b",
                  "a~b", "a.b"]
    schema = {"type": "object", "required": weird_keys,
              "properties": {k: {"type": "integer"} for k in weird_keys}}
    good = json.dumps({k: 1 for k in weird_keys})
    bad = json.dumps({k: (1 if i else "x")
                      for i, k in enumerate(weird_keys)})
    missing = json.dumps({k: 1 for k in weird_keys[1:]})
    df = spark.createDataFrame(
        [("g", good), ("b", bad), ("m", missing)], "id string, props string")
    out = {r["id"]: r for r in
           validate_json_column_variant(df, "props", schema).collect()}
    ref = CompiledValidator(schema)
    assert out["g"]["valid"] is True
    assert out["b"]["valid"] is False
    assert out["m"]["valid"] is False
    for rid, doc in [("g", good), ("b", bad), ("m", missing)]:
        exp = {(x.keyword, x.json_pointer)
               for x in ref.validate(json.loads(doc))}
        got = {(x["keyword"], x["json_pointer"])
               for x in (out[rid]["violations"] or [])}
        assert got == exp, (rid, got, exp)


def test_regex_backref_digit_sequences_reject():
    from json_schema_lean_spark.regex_dialect import to_java_regex

    # (a)\1 fine; (a)\12 hits Python's backref-vs-octal ambiguity -> reject
    assert to_java_regex(r"(a)\1") is not None
    assert to_java_regex(r"(a)\12") is None


def test_min_max_contains_all_paths(spark):
    """2020-12 minContains/maxContains (extension) agree across interpreter,
    typed columnar, and variant paths."""
    from json_schema_lean_spark.operators.validation import validate_dataframe

    cases = [
        ({"contains": {"minimum": 5}, "minContains": 2},
         [([5, 6], True), ([5], False), ([], False), ([5, 6, 7], True)]),
        ({"contains": {"minimum": 5}, "minContains": 0},
         [([], True), ([1], True), ([5], True)]),
        ({"contains": {"minimum": 5}, "maxContains": 1},
         [([5], True), ([5, 6], False), ([1, 5], True), ([], False)]),
        ({"contains": {"minimum": 5}, "minContains": 1, "maxContains": 2},
         [([5, 6], True), ([5, 6, 7], False), ([1], False)]),
        ({"minContains": 2, "maxContains": 3},          # no contains: no-ops
         [([1], True), ([], True)]),
    ]
    for schema, data in cases:
        ref = CompiledValidator(schema)
        for arr, expected in data:
            assert ref.is_valid(arr) is expected, ("interp", schema, arr)
        # typed columnar over array<int>
        df = spark.createDataFrame([(i, a) for i, (a, _) in enumerate(data)],
                                   "i int, arr array<int>")
        out = {r["i"]: r["valid"]
               for r in validate_dataframe(df, schema, doc_col="arr").collect()}
        for i, (arr, expected) in enumerate(data):
            assert out[i] == expected, ("columnar", schema, arr)
        # variant over JSON strings
        vdf = spark.createDataFrame(
            [(i, json.dumps(a)) for i, (a, _) in enumerate(data)],
            "i int, props string")
        vout = {r["i"]: r["valid"]
                for r in validate_json_column_variant(
                    vdf, "props", schema, verdict_only=True).collect()}
        for i, (arr, expected) in enumerate(data):
            assert vout[i] == expected, ("variant", schema, arr)


def test_deep_ref_behavior_invalid_keeps_batch_alive(spark):
    """r3 review: deep_ref_behavior='invalid' marks a past-the-bound row
    invalid with a $recursion violation instead of aborting the whole batch
    (the default 'error' stays loud). Shallow rows in the same batch keep
    their correct verdicts either way."""
    schema = {
        "definitions": {"node": {
            "type": "object",
            "properties": {"next": {"$ref": "#/definitions/node"},
                           "v": {"type": "integer"}}}},
        "$ref": "#/definitions/node",
    }

    def nested(depth):
        doc = {"v": 1}
        for _ in range(depth):
            doc = {"next": doc, "v": 1}
        return doc

    from json_schema_lean_spark.variant import MAX_VARIANT_DEPTH
    rows = [(json.dumps(nested(2)),), (json.dumps(nested(MAX_VARIANT_DEPTH + 2)),),
            (json.dumps({"v": "bad"}),)]
    df = spark.createDataFrame(rows, "j string")
    out = validate_json_column_variant(
        df, "j", schema, deep_ref_behavior="invalid").collect()
    assert out[0]["valid"] is True
    assert out[1]["valid"] is False
    assert [x["keyword"] for x in out[1]["violations"]] == ["$recursion"]
    assert out[2]["valid"] is False  # shallow invalid row unaffected

    # default stays the loud error
    with pytest.raises(Exception, match="prefer_variant=False"):
        validate_json_column_variant(df, "j", schema).collect()


CANON_VALUES = [
    0, -0.0, 0.1, 1e20, 1e-7, 2 ** 53 + 1, 10 ** 30, 1.5e300, 7, -3,
    True, False, None, "", "a", "é", "\U0001F4A9x", "\U00016AC0",
    [], {}, [1, [2.5, ["x", None]]], {"b": 1, "a": [None, {"é": "\U0001F4A9"}]},
    {"": [True], "a:b": {"x": -0.0}}, [[[[]]]],
]


def test_canon_literal_matches_spark_canon(spark):
    """The Python canonical string of a const/enum literal equals the one
    Spark's ``_canon`` computes over the parsed literal: the two sides of a
    deep-equality check must agree byte for byte."""
    from json_schema_lean_spark.variant import _canon, _canon_text, _py_depth
    cols = [_canon(F.try_parse_json(F.lit(json.dumps(v))), _py_depth(v))
            .alias(f"c{i}") for i, v in enumerate(CANON_VALUES)]
    [row] = spark.range(1).select(*cols).collect()
    got = [row[f"c{i}"] for i in range(len(CANON_VALUES))]
    assert got == [_canon_text(v) for v in CANON_VALUES]


def test_deep_literal_build_launches_no_job(spark):
    """Folding a nested const/enum literal into the plan runs no Spark job
    (the literal's canon is built in Python)."""
    from test_parallelism import _jobs_during

    from json_schema_lean_spark.variant import _CANON_LIT_CACHE
    schema = {"anyOf": [{"const": {"k": [1, 2.5, {"z": None}]}},
                        {"enum": [[1, "x"], {"n": -0.0}]}]}
    _CANON_LIT_CACHE.clear()
    docs = [{"k": [1.0, 2.5, {"z": None}]}, [1, "x"], {"n": 0}, {"k": [1]}]
    df = spark.createDataFrame([(json.dumps(d),) for d in docs], "j string")
    n, out = _jobs_during(spark, lambda: validate_json_column_variant(
        df, "j", schema))
    assert n == 0
    ref = CompiledValidator(schema)
    assert [r["valid"] for r in out.collect()] == [ref.is_valid(d) for d in docs]
