"""Arrow-batch validation path: suite replay + dynamic JSON columns.

This is the BASELINE.md correctness gate: test-suite fixtures replayed
THROUGH SPARK must reproduce the reference's verdicts.
"""

import json
from pathlib import Path

from pyspark.sql import functions as F

from json_schema_lean_spark.operators.validation import (
    suite_validator_udf,
    validate_json_column,
)

FIXTURES = Path(__file__).resolve().parent.parent / "fixtures"
SUITE_DIRS = [FIXTURES / "suite", FIXTURES / "suite_official" / "draft7"]


def load_suite_rows():
    rows = []
    for f in sorted(p for d in SUITE_DIRS for p in d.glob("*.json")):
        for ci, case in enumerate(json.loads(f.read_text())):
            for ti, test in enumerate(case["tests"]):
                rows.append((
                    f"{f.stem}/{ci}/{ti}",
                    json.dumps(case["schema"], sort_keys=True),
                    json.dumps(test["data"]),
                    test["valid"],
                ))
    return rows


def test_suite_replay_through_spark(spark):
    rows = load_suite_rows()
    df = spark.createDataFrame(
        rows, "test_id: string, schema_json: string, instance_json: string, expected: boolean")
    udf = suite_validator_udf()
    got = df.withColumn("valid", udf(F.col("schema_json"), F.col("instance_json")))
    bad = got.where(F.col("valid") != F.col("expected")).collect()
    assert not bad, [(r["test_id"], r["expected"]) for r in bad]


def test_events_props_json_validation(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    schema = {"type": "object", "required": ["k"],
              "properties": {"k": {"type": "integer", "minimum": 1}}}
    out = validate_json_column(ev, "props", schema)
    counts = {r["valid"]: r["count"]
              for r in out.groupBy("valid").count().collect()}
    # props = {"k": <int>} — k=0 rows are invalid, others valid
    total = sum(counts.values())
    assert total == ev.count()
    assert counts.get(True, 0) > 0 and counts.get(False, 0) > 0
    # spot-check against driver-side interpretation
    sample = out.select("props", "valid").limit(50).collect()
    for r in sample:
        k = json.loads(r["props"])["k"]
        assert r["valid"] == (isinstance(k, int) and k >= 1), r
