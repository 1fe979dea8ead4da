"""Regenerate PLANS.md: .explain() snapshots of the flagship plans with
scale commentary. Run after changing any execution strategy."""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def explain(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue().strip()


def main() -> None:
    spark = (SparkSession.builder.master("local[4]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    from json_schema_lean_spark.operators.referential import span_media_integrity
    from json_schema_lean_spark.plans import validate_documents_fused
    from json_schema_lean_spark.sources.spansgen import (
        SPAN_SCHEMA,
        asset_catalog,
        spans_documents,
    )

    path = "/tmp/plans_doc_spans"
    if not os.path.exists(path):
        spans_documents(spark, 2000).write.mode("overwrite").parquet(path)
    spans = spark.read.parquet(path)

    fused = validate_documents_fused(spans, SPAN_SCHEMA, keep_cols=["doc_id"],
                                     with_violations=False)
    # '.' is a regex metachar, so this pattern leaves the array algebra
    dotted = json.loads(json.dumps(SPAN_SCHEMA))
    dotted["definitions"]["span"]["properties"]["media_ref"]["pattern"] = \
        "^asset:/."
    residual = validate_documents_fused(spans, dotted, keep_cols=["doc_id"],
                                        with_violations=False)
    refint = span_media_integrity(spans, asset_catalog(spark))
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    pushdown = li.where(F.col("l_quantity") > 10).select("l_orderkey", "l_quantity")

    from json_schema_lean_spark.operators.validation import validate_json_column
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    variant = validate_json_column(
        ev, "props",
        {"type": "object", "required": ["k"],
         "properties": {"k": {"type": "integer", "minimum": 1}}},
        verdict_only=True)

    from json_schema_lean_spark.operators.similarity import lsh_near_dup_pairs
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    neardup = lsh_near_dup_pairs(emb, dim=64, bands=12, planes_per_band=4)

    from json_schema_lean_spark.operators.packing import (
        batch_summary, pack_documents, stratified_sample)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sampled = stratified_sample(docs, "doc_id", "lang",
                                {"en": 0.5, "zh": 0.8}, default=0.1)
    toks = docs.select("doc_id", F.size(F.split(F.trim("text"),
                                                r"\s+")).alias("n_tokens"))
    packed = batch_summary(
        pack_documents(toks, "doc_id", "n_tokens", 512, n_buckets=16),
        "n_tokens")

    from json_schema_lean_spark.operators.decontam import benchmark_overlap
    decontam = benchmark_overlap(
        docs, docs.where(F.col("doc_id") % 20 == 0).select("text"), n=8)

    sections = [
        ("Fused verdict plan (scale path)",
         "Single codegen'd projection over the scan — no Exchange, no Python, "
         "and as of r6 ZERO lambdas (required subsumed by the raw-array enum "
         "except; ^literal patterns as array_min/array_max string-range "
         "checks). This is why verdict mode passed 3M docs/s at 32 cores.",
         explain(fused)),
        ("Residual fused plan (keyword walk for what fusion cannot express)",
         "The same schema with `media_ref.pattern: \"^asset:/.\"`: the "
         "dotted pattern cannot be a literal-prefix range check, so the "
         "fused plan lowers that one property through the keyword walk — "
         "forall over the `spans.media_ref` field array, where a NULL "
         "(absent key) passes before the walk — while every other span "
         "clause keeps its array algebra. One lambda, still one projection: "
         "no Exchange, no Python (the lambda keeps that Project out of "
         "whole-stage codegen).",
         explain(residual)),
        ("Referential integrity (broadcast anti-join)",
         "The asset catalog broadcasts (BroadcastExchange on the dim side "
         "only); the fact side streams through BroadcastHashJoin LeftAnti — "
         "no fact-side shuffle at any scale.",
         explain(refint, "simple")),
        ("Variant path for dynamic JSON (r2)",
         "try_parse_json runs ONCE per row behind a Generate barrier "
         "(explode of a 1-element array — Catalyst has no expression CSE, "
         "so a plain projection would re-parse at every keyword leaf); all "
         "keyword predicates are JVM variant expressions. No "
         "BatchEvalPython/ArrowEvalPython anywhere: the Python-free dynamic "
         "path.",
         explain(variant, "simple")),
        ("Embedding near-dup via banded hyperplane LSH (r2)",
         "Candidates come from a shuffled equi-join on (band, signature) — "
         "no CartesianProduct / BroadcastNestedLoopJoin in the plan; only "
         "candidate pairs evaluate the cosine. The DuckDB oracle replays "
         "identical literal planes.",
         explain(neardup, "simple")),
        ("Scan pushdown + pruning",
         "Filters reach the parquet reader (PushedFilters) and ReadSchema "
         "carries only referenced columns.",
         explain(pushdown)),
        ("Deterministic stratified sampling (r5)",
         "Hash-of-key selection is a single Filter evaluated beside the "
         "scan — zero Exchange, partition- and run-insensitive, identical "
         "row set on any cluster layout (seed-based sample() is neither).",
         explain(sampled, "simple")),
        ("Benchmark decontamination (r5)",
         "The benchmark gram set broadcasts (BroadcastExchange on the eval "
         "side only); the corpus streams through BroadcastHashJoin LeftSemi "
         "— no corpus-side shuffle for the matching; only the doc_id "
         "aggregations exchange, map-side combined.",
         explain(decontam, "simple")),
        ("Token-budget sequence packing (r5)",
         "One Exchange on the uniform hash-bucket key, then a per-bucket "
         "running-sum Window and map-side-combined HashAggregate for the "
         "batch manifest — no global ordering, no single-task window; each "
         "window task handles ~n/n_buckets rows.",
         explain(packed, "simple")),
    ]

    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("# PLANS — physical plans of the flagship operators\n\n"
                "Generated by `python scripts/gen_plans_doc.py` (local[4], "
                "2k-doc sample; plan SHAPE is scale-invariant).\n")
        for title, comment, plan in sections:
            f.write(f"\n## {title}\n\n{comment}\n\n```\n{plan}\n```\n")
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
