"""Regression tests for the round-1 ADVICE findings (cross-strategy verdict
divergences + checkpoint resume guarantee). Each test pins the exact failure
scenario the advisor described.
"""

import math

from pyspark.sql import functions as F

from json_schema_lean_spark.compiler import ColumnarCompiler
from json_schema_lean_spark.interpreter import CompiledValidator
from json_schema_lean_spark.operators.validation import (
    validate_dataframe,
    validate_spans_best,
)
from json_schema_lean_spark.plans.fused import validate_documents_fused

DDL = ("doc_id string, spans array<struct<kind:string,text:string,"
       "media_ref:string,offset:int>>")


def _span_schema(items_props):
    return {
        "type": "object",
        "required": ["doc_id", "spans"],
        "properties": {
            "doc_id": {"type": "string"},
            "spans": {"type": "array",
                      "items": {"type": "object", "properties": items_props}},
        },
    }


class TestDottedPatternNotFusedLiterally:
    """ADVICE high: '^foo.bar' was fused as a LITERAL prefix, rejecting
    'fooXbar' which regex semantics (and the interpreter) accept."""

    SCHEMA = _span_schema({"text": {"pattern": "^foo.bar"}})
    ROWS = [("d1", [("text", "fooXbar", None, 0)]),   # '.' matches X: valid
            ("d2", [("text", "foo.bar", None, 0)]),   # valid either way
            ("d3", [("text", "fxobar", None, 0)]),    # invalid either way
            ("d4", [("text", "zfooXbar", None, 0)])]  # unanchored-^: invalid

    def expected(self):
        ref = CompiledValidator(self.SCHEMA)
        return {
            d: ref.is_valid({"doc_id": d,
                             "spans": [{"kind": k, "text": t, "media_ref": m,
                                        "offset": o}
                                       for (k, t, m, o) in spans]})
            for d, spans in self.ROWS
        }

    def test_fused_refuses_dotted_pattern(self, spark):
        """The fused plan does not take '^foo.bar' as a literal prefix: it
        lowers the pattern through the keyword walk, where '.' keeps its
        any-char meaning."""
        df = spark.createDataFrame(self.ROWS, DDL)
        got = {r["doc_id"]: r["valid"]
               for r in validate_documents_fused(
                   df, self.SCHEMA, keep_cols=["doc_id"]).collect()}
        assert got == self.expected()

    def test_best_strategy_agrees_with_interpreter(self, spark):
        df = spark.createDataFrame(self.ROWS, DDL)
        got = {r["doc_id"]: r["valid"]
               for r in validate_spans_best(df, self.SCHEMA,
                                            keep_cols=["doc_id"]).collect()}
        exp = self.expected()
        assert got == exp
        assert exp["d1"] is True  # the case round-1 fused got wrong

    def test_undotted_prefix_still_fuses(self, spark):
        df = spark.createDataFrame(self.ROWS, DDL)
        schema = _span_schema({"text": {"pattern": "^foo"}})
        out = validate_documents_fused(df, schema, keep_cols=["doc_id"])
        got = {r["doc_id"]: r["valid"] for r in out.collect()}
        ref = CompiledValidator(schema)
        assert got == {
            d: ref.is_valid({"doc_id": d,
                             "spans": [{"kind": k, "text": t, "media_ref": m,
                                        "offset": o}
                                       for (k, t, m, o) in spans]})
            for d, spans in self.ROWS}


class TestPropertyNamesRefResolution:
    """ADVICE medium: propertyNames with $ref on the StructType path lost the
    resolver registry, marking every field name bad."""

    SCHEMA = {
        "type": "object",
        "definitions": {"name": {"pattern": "^(doc_id|title)$"}},
        "propertyNames": {"$ref": "#/definitions/name"},
    }

    def test_struct_path_matches_interpreter(self, spark):
        df = spark.createDataFrame([("a", "t")], "doc_id string, title string")
        out = validate_dataframe(df, self.SCHEMA)
        assert out.collect()[0]["valid"] is True  # both names match the ref'd pattern
        ref = CompiledValidator(self.SCHEMA)
        assert ref.is_valid({"doc_id": "a", "title": "t"}) is True

    def test_struct_path_flags_bad_name_through_ref(self, spark):
        df = spark.createDataFrame([("a", "t")], "doc_id string, junk string")
        out = validate_dataframe(df, self.SCHEMA)
        row = out.collect()[0]
        assert row["valid"] is False
        assert any(v["keyword"] == "propertyNames" for v in row["violations"])
        ref = CompiledValidator(self.SCHEMA)
        assert ref.is_valid({"doc_id": "a", "junk": "t"}) is False


class TestRootRelativeRefsInItems:
    """ADVICE medium: the spans/violation-row strategies built a synthetic
    root that dropped everything but $id/definitions, so an items $ref into
    '#/properties/...' silently lowered to constant-false."""

    SCHEMA = {
        "type": "object",
        "properties": {
            "doc_id": {"type": "string"},
            "kind_rule": {"enum": ["text", "image"]},
            "spans": {
                "type": "array",
                "items": {"type": ["object", "null"], "properties": {
                    # root-relative ref OUTSIDE definitions
                    "kind": {"$ref": "#/properties/kind_rule"},
                }},
            },
        },
    }

    ROWS = [("d1", [("text", "x", None, 0)]),
            ("d2", [("video", "x", None, 0)]),
            ("d3", [("image", None, None, None), None])]

    def expected(self):
        ref = CompiledValidator(self.SCHEMA)
        out = {}
        for d, spans in self.ROWS:
            doc = {"doc_id": d,
                   "spans": [None if s is None else
                             {k: v for k, v in
                              zip(("kind", "text", "media_ref", "offset"), s)
                              if v is not None}
                             for s in spans]}
            out[d] = ref.is_valid(doc)
        return out

    def test_exploded_resolves_ref_into_properties(self, spark):
        df = spark.createDataFrame(self.ROWS, DDL)
        got = {r["doc_id"]: r["valid"]
               for r in validate_documents_fused(
                   df, self.SCHEMA, keep_cols=["doc_id"]).collect()}
        exp = self.expected()
        assert got == exp
        assert exp == {"d1": True, "d2": False, "d3": True}

    def test_violation_rows_fast_resolves_ref(self, spark):
        from json_schema_lean_spark.operators.validation import (
            violation_rows_fast,
        )
        df = spark.createDataFrame(self.ROWS, DDL)
        rows = violation_rows_fast(df, self.SCHEMA, id_cols=["doc_id"]).collect()
        bad_docs = {r["doc_id"] for r in rows}
        assert bad_docs == {"d2"}
        assert all(r["keyword"] == "enum" for r in rows if r["doc_id"] == "d2")


class TestIntegerRefinementFiniteness:
    """ADVICE low: +/-Inf (and NaN, which Spark treats as equal to itself)
    satisfied 'type':'integer' on the columnar path but fail in the
    interpreter and the reference (Float.isInt requires isFinite)."""

    SCHEMA = {"type": "object",
              "properties": {"x": {"type": "integer"}}}

    def test_columnar_matches_interpreter_on_nonfinite(self, spark):
        vals = [1.0, 1.5, float("inf"), float("-inf"), float("nan"), None]
        df = spark.createDataFrame([(f"d{i}", v) for i, v in enumerate(vals)],
                                   "doc_id string, x double")
        got = {r["doc_id"]: r["valid"]
               for r in validate_dataframe(df, self.SCHEMA).collect()}
        ref = CompiledValidator(self.SCHEMA)
        for i, v in enumerate(vals):
            doc = {"doc_id": f"d{i}"} if v is None else {"doc_id": f"d{i}", "x": v}
            assert got[f"d{i}"] == ref.is_valid(doc), (v, got[f"d{i}"])
        assert got["d2"] is False and got["d3"] is False and got["d4"] is False


class TestCheckpointResultsCurrentPlanOnly:
    """ADVICE low: results() globbed parts/* unconditionally, so parts from
    units that no longer exist leaked into the combined output."""

    def test_stale_parts_excluded_after_input_shrink(self, spark, tmp_path):
        from json_schema_lean_spark.checkpointing import CheckpointedValidation
        from json_schema_lean_spark.sources.spansgen import (
            SPAN_SCHEMA,
            spans_documents,
        )

        inp = tmp_path / "in"
        out = tmp_path / "out"
        docs = spans_documents(spark, 200).repartition(4)
        docs.write.parquet(str(inp))
        cp = CheckpointedValidation(spark, str(inp), SPAN_SCHEMA, str(out),
                                    files_per_unit=1)
        cp.run()
        n_input = spark.read.parquet(str(inp)).count()
        n_full = cp.results().count()
        assert n_full == n_input

        # shrink the input: drop one parquet file -> fewer units
        files = sorted(p for p in inp.iterdir() if p.name.endswith(".parquet"))
        files[-1].unlink()
        cp2 = CheckpointedValidation(spark, str(inp), SPAN_SCHEMA, str(out),
                                     files_per_unit=1)
        cp2.run()
        fresh = spark.read.parquet(str(inp))
        # combined output must be row-identical to a fresh run over the
        # CURRENT input — stale unit parts excluded
        assert cp2.results().count() == fresh.count() < n_full
