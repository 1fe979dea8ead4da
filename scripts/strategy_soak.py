"""Cross-strategy soak: random span-document schemas x random documents;
the forall and fused strategies and the validate_spans_best chain must all
reproduce the interpreter's verdicts. Run ad hoc from any directory:

    python scripts/strategy_soak.py [max_examples]   # default 150

Prints one JSON line: examples_chain (validate_spans_best checked: every
example), examples_forall (the forall plan compiled) and examples_fused
(the fused plan compiled; it declines only where the keyword walk cannot
lower the schema, so this should equal max_examples).
"""
import json, os, sys
from pathlib import Path
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
from hypothesis import settings, HealthCheck, given, strategies as st
from pyspark.sql import SparkSession
spark = (SparkSession.builder
         .master(f"local[{len(os.sched_getaffinity(0))}]")
         .config("spark.sql.shuffle.partitions","8")
         .config("spark.ui.enabled","false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from json_schema_lean_spark.interpreter import CompiledValidator
from json_schema_lean_spark.operators.validation import (
    validate_dataframe, validate_spans_best)
from json_schema_lean_spark.plans import validate_documents_fused
from json_schema_lean_spark.compiler import CompileFallback

MAX_EXAMPLES = int(sys.argv[1]) if len(sys.argv) > 1 else 150

DDL = ("doc_id string, spans array<struct<kind:string,text:string,"
       "media_ref:string,offset:int>>")

def span_prop():
    return st.one_of(
        st.builds(lambda v: {"enum": v}, st.lists(
            st.sampled_from(["text","image","audio","video","x"]), min_size=1, max_size=3)),
        st.builds(lambda n: {"minLength": n}, st.integers(0, 3)),
        st.builds(lambda n: {"maxLength": n}, st.integers(0, 4)),
        st.just({"pattern": "^asset://"}),
        # dotted pattern: '.' is a metachar — must NOT be fused literally
        st.just({"pattern": "^foo.bar"}),
        st.builds(lambda m: {"minimum": m}, st.integers(-2, 2)),
        st.builds(lambda m: {"maximum": m}, st.integers(-2, 2)),
        st.builds(lambda t: {"type": t},
                  st.sampled_from(["string","integer","null",["string","null"],
                                   ["integer","null"]])),
    )

def schema_gen():
    return st.builds(
        lambda req, kind_s, text_s, off_s, minit, types: {
            "type": "object", "required": ["doc_id", "spans"],
            "properties": {
                "doc_id": {"type": "string"},
                "spans": {"type": "array", "minItems": minit,
                          "items": {"type": types, "required": req,
                                    "properties": {"kind": kind_s, "text": text_s,
                                                   "offset": off_s}}}}},
        st.lists(st.sampled_from(["kind","text","offset"]), max_size=2, unique=True),
        span_prop(), span_prop(), span_prop(),
        st.integers(0, 2),
        st.sampled_from(["object", ["object","null"]]),
    )

def spans_gen():
    span = st.one_of(st.none(), st.fixed_dictionaries({
        "kind": st.one_of(st.none(), st.sampled_from(["text","image","video"])),
        "text": st.one_of(st.none(), st.sampled_from(
            ["", "a", "ab", "asset://x", "hello", "fooXbar", "foo.bar",
             "foobar", "a\nb", "\U0001F4A9"])),
        "media_ref": st.one_of(st.none(), st.sampled_from(["asset://b/1", "http://x"])),
        "offset": st.one_of(st.none(), st.integers(-2, 3)),
    }))
    return st.lists(st.tuples(st.sampled_from(["doc-a","doc-b","xdoc"]),
                              st.one_of(st.none(), st.lists(span, max_size=3))),
                    min_size=1, max_size=5)

def to_json_doc(doc_id, spans):
    doc = {"doc_id": doc_id}
    if spans is not None:
        doc["spans"] = [s if s is None else {k: v for k, v in s.items() if v is not None}
                        for s in spans]
    return doc

checked = {"examples_chain": 0, "examples_forall": 0, "examples_fused": 0}
@settings(max_examples=MAX_EXAMPLES, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(schema=schema_gen(), data=spans_gen())
def run(schema, data):
    ref = CompiledValidator(schema)
    expected = {}
    rows = []
    for i, (did, spans) in enumerate(data):
        key = f"{did}-{i}"
        expected[key] = ref.is_valid(to_json_doc(key, spans))
        rows.append((key, spans))
    df = spark.createDataFrame(rows, DDL)
    best = {r["doc_id"]: r["valid"]
            for r in validate_spans_best(df, schema).collect()}
    assert best == expected, ("chain", schema, data, best, expected)
    checked["examples_chain"] += 1
    for name, strategy in (
            ("forall", lambda: validate_dataframe(df, schema)),
            ("fused", lambda: validate_documents_fused(
                df, schema, keep_cols=["doc_id"]))):
        try:
            got = {r["doc_id"]: r["valid"] for r in strategy().collect()}
        except CompileFallback:
            continue
        assert got == expected, (name, schema, data, got, expected)
        checked[f"examples_{name}"] += 1

run()
print(json.dumps({"max_examples": MAX_EXAMPLES, **checked}))
