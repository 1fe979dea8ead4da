"""Conformance-suite subset replay through the FUSED spans strategy
(VERDICT r2 #8).

The fused verdict carries the flagship 100-TB plan (one codegen'd Project)
but previously relied on the soak script + operator tests alone. Here
every object-shaped suite case is wrapped as a spans-document —
``{"spans": [<instance>]}`` with schema
``{"properties": {"spans": {"type": "array", "items": <case schema>}}}`` —
so the document verdict equals the case verdict, and replayed through the
fused plan. What its array algebra cannot express goes through the keyword
walk inside the same plan, so every wrapped case replays: a decline
(CompileFallback) fails the test as surely as a wrong verdict.
"""

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructField, StructType

from json_schema_lean_spark.compiler import CompileFallback
from json_schema_lean_spark.inference import Ineligible, _infer, _merge, _solidify
from json_schema_lean_spark.metaschema import META_REGISTRY
from json_schema_lean_spark.plans.fused import validate_documents_fused

FIXTURES = Path(__file__).resolve().parent.parent / "fixtures"
SUITE_DIRS = [FIXTURES / "suite", FIXTURES / "suite_official" / "draft7"]

#: deterministic cap — one spark job per case; enough for
#: meaningful differential mileage without minutes of wall clock
MAX_CASES = 80


def wrapped_cases():
    """[(case_id, wrapped_schema, element_dtype, [(instance, expected)...])]
    for suite cases whose instances are all struct-typeable objects with a
    mergeable element dtype."""
    out = []
    for f in sorted(p for d in SUITE_DIRS for p in d.glob("*.json")):
        for ci, case in enumerate(json.loads(f.read_text())):
            tests = []
            merged = None
            ok = True
            for t in case["tests"]:
                if not isinstance(t["data"], dict):
                    continue
                try:
                    dt = _infer(t["data"], at_object_value=False)
                    merged = dt if merged is None else _merge(merged, dt)
                except Ineligible:
                    ok = False
                    break
                tests.append((t["data"], t["valid"]))
            if not ok or merged is None or not isinstance(merged, StructType):
                continue
            if not merged.fields:
                continue  # empty-struct spans elements: degenerate shape
            # the items subschema is a $ref to the case schema registered
            # under its OWN root URI — root-relative refs inside the case
            # (#/definitions/...) must keep resolving against the case, not
            # against the wrapper
            case_uri = f"case://{f.stem}/{ci}"
            wrapped = {"type": "object",
                       "properties": {"spans": {"type": "array",
                                                "items": {"$ref": case_uri}}}}
            out.append((f"{f.stem}/{ci}", wrapped, case_uri, case["schema"],
                        _solidify(merged), tests))
    return out[:MAX_CASES]


def test_suite_subset_through_fused_strategy(spark):
    cases = wrapped_cases()
    assert len(cases) >= 61, len(cases)
    replayed, skipped, bad = 0, [], []
    for cid, schema, case_uri, case_schema, elem_dt, tests in cases:
        doc_dt = StructType([
            StructField("i", __import__("pyspark.sql.types",
                                        fromlist=["IntegerType"]).IntegerType()),
            StructField("spans", ArrayType(elem_dt, containsNull=True)),
        ])
        rows_json = [json.dumps({"i": i, "spans": [data]})
                     for i, (data, _exp) in enumerate(tests)]
        df = (spark.createDataFrame([(s,) for s in rows_json], "j string")
              .select(F.from_json(F.col("j"), doc_dt).alias("d"))
              .select("d.i", "d.spans"))
        try:
            out = validate_documents_fused(
                df, schema, keep_cols=["i"],
                registry={**META_REGISTRY, case_uri: case_schema})
        except CompileFallback as e:
            skipped.append((cid, str(e)[:60]))
            continue
        got = {r["i"]: r["valid"] for r in out.collect()}
        for i, (data, exp) in enumerate(tests):
            if bool(got[i]) != exp:
                bad.append((cid, data, exp, got[i]))
        replayed += 1
    assert replayed == len(cases), (replayed, skipped[:10])
    assert not bad, bad[:10]
