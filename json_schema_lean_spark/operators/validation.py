"""Validation runners: columnar (scale path) + Arrow batch (dynamic path).

Parity: the reference's run loop (/root/reference/Harness/Harness.lean:7-26)
compiles a schema once per case and maps it over instances; here the compile
happens once per RUN on the driver and the map is a Catalyst plan over the
whole table.

Two routes, chosen by input shape (SURVEY.md §1.4):

- ``validate_dataframe`` — statically-typed (shredded) tables: the schema is
  lowered to native Column expressions (compiler.ColumnarCompiler). Whole-stage
  codegen, zero Python per row. This is the 100 TB path.
- ``validate_json_column`` — dynamic JSON string columns (e.g. the events
  table's ``props``, or JSON-Schema-Test-Suite replay where instances are
  arbitrary JSON): a vectorized pandas UDF carrying a CompiledValidator in its
  closure (compiled once per executor, Arrow batch transfer — never a
  row-at-a-time Python UDF).
"""

from __future__ import annotations

import json
from typing import Any, Optional

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StructType

from ..compiler import VIOLATION_SCHEMA, ColumnarCompiler, CompileFallback
from ..interpreter import DEFAULT_FUEL, CompiledValidator
from ..plan_cache import no_call_site_capture, plan_memo
from ..plans.fused import validate_documents_fused
from ..schema_ast import SchemaObject, parse_schema

RESULT_SCHEMA = (
    "struct<valid:boolean,"
    "violations:array<struct<keyword:string,json_pointer:string,message:string>>>"
)


def validate_dataframe(
    df: DataFrame,
    schema_json: Any,
    doc_col: Optional[str] = None,
    registry: Optional[dict[str, Any]] = None,
    uri: str = "",
    message_style: str = "structured",
    assert_formats: bool = False,
) -> DataFrame:
    """Columnar validation. Adds ``valid`` (boolean) and ``violations``
    (array<struct<keyword,json_pointer,message>>) columns.

    doc_col=None treats the whole row as the instance object (shredded
    document); otherwise the named struct/array/scalar column is validated.
    message_style="reference" emits byte-parity Lean reportError strings
    (lean_messages.py) with the offending value compressed in at runtime.
    """
    def build() -> dict:
        comp = ColumnarCompiler(schema_json, uri=uri, registry=registry,
                                message_style=message_style,
                                assert_formats=assert_formats)
        if doc_col is None:
            instance = F.struct(*[F.col(c) for c in df.columns])
            dtype = StructType([f for f in df.schema.fields])
        else:
            instance = F.col(doc_col)
            dtype = df.schema[doc_col].dataType
        low = comp.lower(dtype)
        valid = low.valid(instance)
        # violations are gated behind the cheap fused verdict: Catalyst's
        # conditional evaluation skips the (much larger) collector expression
        # for every passing row — at 100 TB virtually all rows are valid and
        # pay only the boolean predicate.
        return {
            "valid": valid,
            "violations": F.when(valid, F.array().cast(VIOLATION_SCHEMA))
                           .otherwise(low.violations(instance, F.lit(""))),
        }

    # unresolved name-bound Columns: memoized per (schema, dtype, options),
    # so the forall strategy and streaming micro-batches skip the py4j
    # expression rebuild (plan_cache docstring)
    return df.withColumns(plan_memo(
        "dataframe", df, schema_json, registry,
        (doc_col, uri, message_style, assert_formats), build))


def split_doc_spans(df: DataFrame, schema_json: Any, spans_col: str,
                    registry: Optional[dict[str, Any]], uri: str,
                    message_style: str, assert_formats: bool) -> tuple:
    """The front half the spans plans share (the fused verdict and
    violation rows). Returns ``(comp, doc_valid, doc_viols, items,
    elem_dtype)``: the root compiler; the verdict of the schema minus the
    spans' ``items`` (NULL counts as failing); a thunk building that
    verdict's gated violations (the fused plan takes its detail from the
    full forall plan, and the collector took ~50 ms of py4j calls for
    SPAN_SCHEMA on 4 cores); the items subschema and the element dtype.
    Raises CompileFallback, the chain's one decline signal, when the input
    is not spans-shaped (object schema, an array column ``spans_col`` with
    a Single-items property) or the doc level does not lower."""
    parsed = parse_schema(schema_json)
    if not isinstance(parsed, SchemaObject) or parsed.properties is None:
        raise CompileFallback("spans strategies need an object schema")
    span_prop = parsed.raw.get("properties", {}).get(spans_col)
    if span_prop is None or not isinstance(df.schema[spans_col].dataType, ArrayType):
        raise CompileFallback("spans strategies need the array column")
    items = span_prop.get("items")
    if items is None or isinstance(items, list):
        raise CompileFallback("spans strategies need Single-items semantics")

    # doc-level plan: same schema minus the spans items subschema (array-
    # size keywords stay doc-level), lowered as a NODE of a compiler for
    # the ORIGINAL root so root-relative $refs (e.g. '#/properties/x')
    # still resolve (ADVICE r1)
    span_prop_doc = {k: v for k, v in span_prop.items() if k != "items"}
    doc_schema_json = {**parsed.raw, "properties": {
        **parsed.raw["properties"], spans_col: span_prop_doc}}
    comp = ColumnarCompiler(schema_json, uri=uri, registry=registry,
                            message_style=message_style,
                            assert_formats=assert_formats)
    doc_low = comp.lower_node(doc_schema_json, StructType(df.schema.fields),
                              base_uri=uri)

    instance = F.struct(*[F.col(c) for c in df.columns])
    doc_valid = F.coalesce(doc_low.valid(instance), F.lit(False))

    def doc_viols() -> Column:
        return F.when(doc_valid, F.array().cast(VIOLATION_SCHEMA)) \
                .otherwise(doc_low.violations(instance, F.lit("")))
    elem_dtype = df.schema[spans_col].dataType.elementType
    return comp, doc_valid, doc_viols, items, elem_dtype


def span_checks(comp: ColumnarCompiler, items: Any, elem_dtype: Any,
                spans_col: str) -> tuple[Column, Column]:
    """Per-span verdict and verdict-gated violations over the generator
    columns ``_pos``/``_span`` of ``posexplode_outer(spans_col)``. The items
    subschema is lowered as a NODE of the root compiler (full resolver
    context); the null row of an empty or null spans array passes."""
    elem_low = comp.lower_node(items, elem_dtype,
                               base_uri=comp.root_base_uri(),
                               null_means="null")
    span_valid = F.when(F.col("_pos").isNull(), F.lit(True)) \
                  .otherwise(F.coalesce(elem_low.valid(F.col("_span")),
                                        F.lit(False)))
    span_viols = F.when(span_valid, F.array().cast(VIOLATION_SCHEMA)) \
                  .otherwise(elem_low.violations(
                      F.col("_span"),
                      F.concat(F.lit(f"/{spans_col}/"),
                               F.col("_pos").cast("string"))))
    return span_valid, span_viols


def violation_rows_fast(
    df: DataFrame,
    schema_json: Any,
    spans_col: str = "spans",
    id_cols: Optional[list[str]] = None,
    registry: Optional[dict[str, Any]] = None,
    uri: str = "",
    message_style: str = "structured",
    assert_formats: bool = False,
) -> DataFrame:
    """Violation ROWS (id..., span_idx, keyword, json_pointer, message) with
    ZERO shuffle and one scan — the 100 TB production shape for the
    BASELINE.json violation-row output.

    When the deliverable is rows, no per-doc violation ARRAY has to be
    reassembled: posexplode spans, evaluate the span plan flat (codegen),
    emit span violations where they occur, and attach the doc-level
    violations once per doc on the first generator row (_pos 0 or
    null-spans row). Plan = Scan -> Generate ->
    Project -> Filter -> Generate; every stage is pipelined, nothing moves.
    """
    def build() -> tuple:
        comp, _doc_valid, doc_viols, items, elem_t = split_doc_spans(
            df, schema_json, spans_col, registry, uri, message_style,
            assert_formats)
        _span_valid, span_viols = span_checks(comp, items, elem_t, spans_col)
        # doc-level violations attach exactly once per doc: on the first
        # generator row (pos 0, or the null row for empty/null spans)
        first_row = F.col("_pos").isNull() | (F.col("_pos") == 0)
        all_viols = F.concat(
            F.when(first_row, F.col("_dviols"))
             .otherwise(F.array().cast(VIOLATION_SCHEMA)),
            span_viols)
        return (doc_viols().alias("_dviols"),
                F.posexplode_outer(F.col(spans_col)).alias("_pos", "_span"),
                all_viols)

    # unresolved name-bound Columns: memoized per (schema, dtype, options) —
    # repeat batches skip the py4j expression rebuild (plan_cache docstring).
    # id_cols are plain strings passed straight to select, not part of the
    # cached expressions.
    dviols, posexp, viols = plan_memo(
        "violation_rows_fast", df, schema_json, registry,
        (spans_col, uri, message_style, assert_formats), build)

    ids = id_cols if id_cols is not None else [df.columns[0]]
    base = df.select(*ids, dviols, posexp)
    # explode the violation expression itself, not a projected _v column:
    # explode already emits no row for an empty or null array, and over an
    # attribute input Catalyst infers a size(_v) > 0 filter, pushes it
    # below the projection and so builds the whole violation concat twice
    # per span row (tests/test_plans.py pins the plan)
    flat = base.select(*ids, F.explode(viols).alias("v"))
    return flat.select(*_violation_row_cols(ids, spans_col))


@no_call_site_capture()
def violation_rows_best(
    df: DataFrame,
    schema_json: Any,
    spans_col: str = "spans",
    id_cols: Optional[list[str]] = None,
    registry: Optional[dict[str, Any]] = None,
    uri: str = "",
    assert_formats: bool = False,
) -> DataFrame:
    """Violation rows with a fused-verdict PREFILTER (r2): the cheap fused
    boolean (codegen, zero shuffle; no lambdas on the fused subset) screens
    out passing docs first, so only failing docs — rare at production quality rates (~2% in
    the bench corpus) — pay the posexplode + per-span violation collection.
    Output is row-identical to violation_rows_fast (passing docs contribute
    no rows by definition; pinned in tests). The chain has one decline
    signal, CompileFallback: a schema the fused plan declines skips the
    prefilter, and when violation_rows_fast declines too the rows come from
    :func:`violation_rows` over :func:`validate_spans_best`, whose own last
    resort is the interpreter — so every schema the interpreter accepts
    yields rows."""
    kw = dict(spans_col=spans_col, registry=registry, uri=uri,
              assert_formats=assert_formats)
    try:
        flagged = validate_documents_fused(
            df, schema_json, keep_cols=list(df.columns),
            with_violations=False, **kw)
        failing = flagged.where(~F.col("valid")).drop("valid")
    except CompileFallback:
        failing = df
    try:
        return violation_rows_fast(failing, schema_json, id_cols=id_cols, **kw)
    except CompileFallback:
        ids = id_cols if id_cols is not None else [df.columns[0]]
        return violation_rows(validate_spans_best(df, schema_json, **kw),
                              ids, spans_col)


def partition_verdict_metrics(validated: DataFrame) -> DataFrame:
    """Per-partition pass/fail metrics (north_star): one row per physical
    partition with (partition_id, rows, valid_rows, violations). Map-side
    partial aggregation collapses each partition to one row before the
    (tiny) exchange."""
    return (validated
            .groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count(F.lit(1)).alias("rows"),
                 F.sum(F.col("valid").cast("long")).alias("valid_rows"),
                 F.sum(F.size("violations").cast("long")).alias("violations")))


def violation_rows(validated: DataFrame, id_cols: list[str],
                   span_field: str = "spans") -> DataFrame:
    """Explode violations to one row each:
    (id..., span_idx, keyword, json_pointer, message).

    span_idx is parsed from the RFC 6901 pointer (null when the violation is
    not span-scoped) — the BASELINE.json violation-row shape.
    """
    v = validated.where(~F.col("valid")).select(
        *id_cols, F.explode("violations").alias("v"))
    return v.select(*_violation_row_cols(id_cols, span_field))


def _violation_row_cols(ids: list[str], spans_col: str) -> list:
    """Row projection of an exploded violation struct ``v``:
    (id..., span_idx, keyword, json_pointer, message)."""
    return [
        *ids,
        F.nullif(
            F.regexp_extract(F.col("v.json_pointer"),
                             f"^/{spans_col}/(\\d+)", 1), F.lit("")
        ).cast("int").alias("span_idx"),
        F.col("v.keyword").alias("keyword"),
        F.col("v.json_pointer").alias("json_pointer"),
        F.col("v.message").alias("message"),
    ]


def _lazy_validator(schema_json: Any, **kwargs):
    """Getter of ``CompiledValidator(schema_json, **kwargs)``, built on the
    first call: shipped in a pandas UDF's closure, it compiles once per
    executor process, not once per batch."""
    state: dict[str, CompiledValidator] = {}

    def get() -> CompiledValidator:
        if "v" not in state:
            state["v"] = CompiledValidator(schema_json, **kwargs)
        return state["v"]
    return get


def json_validator_udf(schema_json: Any, registry: Optional[dict[str, Any]] = None,
                       uri: str = "", fuel: int = DEFAULT_FUEL,
                       collect_all: bool = True,
                       message_style: str = "structured",
                       assert_formats: bool = False):
    """Vectorized pandas UDF: json-string column -> struct(valid, violations).

    The CompiledValidator is built lazily ONCE per executor process (the
    reference recompiles nothing per value either — compile-once semantics,
    Harness/Harness.lean:15-16) and regexes are cached in its closure.
    """
    _get = _lazy_validator(schema_json, uri=uri, registry=registry,
                           fuel=fuel, message_style=message_style,
                           assert_formats=assert_formats)

    @pandas_udf(RESULT_SCHEMA)
    def _validate(batch: pd.Series) -> pd.DataFrame:
        v = _get()
        valids: list[Optional[bool]] = []
        viols: list[Optional[list]] = []
        for raw in batch:
            if raw is None:
                valids.append(None)
                viols.append(None)
                continue
            try:
                value = json.loads(raw)
            except (ValueError, TypeError):
                valids.append(False)
                viols.append([("$parse", "", "invalid JSON")])
                continue
            vs = v.validate(value, collect_all=collect_all)
            valids.append(not vs)
            viols.append([(x.keyword, x.json_pointer, x.message) for x in vs])
        return pd.DataFrame({"valid": valids, "violations": viols})

    return _validate


def json_verdict_udf(schema_json: Any, registry: Optional[dict[str, Any]] = None,
                     uri: str = "", fuel: int = DEFAULT_FUEL,
                     assert_formats: bool = False):
    """Verdict-only pandas UDF: json string -> boolean. Short-circuits on the
    first failing keyword (reference Except-monad behavior) and skips
    violation-struct construction — ~2x the throughput of the full UDF."""
    _get = _lazy_validator(schema_json, uri=uri, registry=registry,
                           fuel=fuel, assert_formats=assert_formats)

    @pandas_udf("boolean")
    def _verdict(batch: pd.Series) -> pd.Series:
        v = _get()
        loads = json.loads
        out: list[Optional[bool]] = []
        for raw in batch:
            if raw is None:
                out.append(None)
                continue
            try:
                out.append(v.is_valid(loads(raw)))
            except (ValueError, TypeError):
                out.append(False)
        return pd.Series(out, dtype="boolean")

    return _verdict


@no_call_site_capture()
def validate_json_column(df: DataFrame, json_col: str, schema_json: Any,
                         registry: Optional[dict[str, Any]] = None,
                         uri: str = "", fuel: int = DEFAULT_FUEL,
                         verdict_only: bool = False,
                         prefer_variant: bool = True,
                         message_style: str = "structured",
                         deep_ref_behavior: str = "error",
                         assert_formats: bool = False) -> DataFrame:
    """Validation of a JSON string column. Adds valid (+ violations unless
    verdict_only).

    Route order (VERDICT r1 #3): the VARIANT path first — ``try_parse_json``
    + JVM variant expressions, no Python per value (variant.py; since r3 it
    covers uniqueItems, deep const/enum, and bounded recursive $refs too) —
    then the Arrow-batch interpreter for the rare remainder (evil ref
    cycles, non-transpilable regexes, node-budget exhaustion).
    ``deep_ref_behavior`` controls past-MAX_VARIANT_DEPTH instances on the
    variant path: "error" (loud, default) or "invalid" (verdict False +
    $recursion violation; see variant._too_deep_leaf). It has no effect
    when the Arrow interpreter runs (CompileFallback or
    prefer_variant=False): that path validates deep instances EXACTLY
    under the reference's fuel semantics, so its verdicts are the more
    faithful ones, not a dropped option."""
    # single-row-group parquet inputs scan as ONE task (guide §2.5 input
    # skew) and serialize the whole per-row validation on one core; the
    # adaptive repartition is a no-op whenever the input is already at
    # least default-parallel (always true at production scale). r6:
    # measured 4.4 s -> ~1.2 s on the 1M-row sf1 events table.
    from ..parallelism import scale_partitions
    df = scale_partitions(df)
    if prefer_variant:
        from ..variant import validate_json_column_variant
        try:
            return validate_json_column_variant(
                df, json_col, schema_json, registry=registry, uri=uri,
                verdict_only=verdict_only, message_style=message_style,
                deep_ref_behavior=deep_ref_behavior,
                assert_formats=assert_formats)
        except CompileFallback:
            pass
    if verdict_only:
        udf = json_verdict_udf(schema_json, registry=registry, uri=uri,
                               fuel=fuel, assert_formats=assert_formats)
        return df.withColumn("valid", udf(F.col(json_col)))
    udf = json_validator_udf(schema_json, registry=registry, uri=uri, fuel=fuel,
                             message_style=message_style,
                             assert_formats=assert_formats)
    res = udf(F.col(json_col))
    return df.withColumns({
        "valid": res.getField("valid"),
        "violations": res.getField("violations"),
    })


def warm_validation_codegen(df: DataFrame, schema_json: Any,
                            rows: Optional[int] = None, passes: int = 3,
                            **kwargs) -> float:
    """Force-JIT the validation plan on a SMALL same-schema dataset before
    a big one-shot run; returns seconds spent.

    Why this exists (measured, local[32], 6M docs, fresh JVM): the fused
    validator's generated classes start in the JVM interpreter and the
    first full-scale run burned 2,200-4,000 CPU-seconds (walls of
    114-190 s) before the JIT tiers finished installing — 15-40x the
    steady-state 84-200 CPU-s. Three passes over a ~1% dataset (7 s wall,
    ~55 CPU-s) complete the same compilations on trivial data, after which
    the first full pass measured 4.5-7.7 s. A one-shot spark-submit batch
    job should do exactly this; on a real cluster every EXECUTOR JVM pays
    the same interpreter tax, and a sample-sized warm-up pass amortizes it
    identically. (Pair with -XX:ReservedCodeCacheSize=512m — see bench.py —
    or the compiled tiers silently fall back out again.)

    Pass ``df`` as a SMALL dataset READ THE SAME WAY as the real input
    (e.g. a 60k-doc parquet dir when the job reads parquet): the warmed
    stage then generates the IDENTICAL source as the full run and the JIT
    work transfers. ``rows`` (optional) trims via ``limit`` — convenient,
    but a fused LocalLimit changes the generated class, so the measured
    transfer was unreliable (first full pass still hit 55-152 s in 3 of 5
    trials); prefer a separate small input over a limit of the big one.

    kwargs are forwarded to :func:`validate_spans_best` so the warmed plan
    matches the real one (same spans_col/registry/assert_formats =>
    same generated code).

    Each pass writes the validated rows to the noop sink: a count over
    them would let Catalyst prune the validation projection (the fused
    plan is a pure projection), leaving a bare scan that warms nothing
    (tests/test_plans.py pins the executed plan)."""
    import time as _time
    t0 = _time.perf_counter()
    head = df.limit(rows) if rows is not None else df
    for _ in range(passes):
        (validate_spans_best(head, schema_json, **kwargs)
         .write.format("noop").mode("overwrite").save())
    return round(_time.perf_counter() - t0, 3)


@no_call_site_capture()
def validate_spans_best(df: DataFrame, schema_json: Any,
                        spans_col: str = "spans",
                        registry: Optional[dict[str, Any]] = None,
                        uri: str = "",
                        keep_cols: Optional[list[str]] = None,
                        message_style: str = "structured",
                        assert_formats: bool = False) -> DataFrame:
    """Best-available strategy chain for spans-shaped document tables:
    fused-array (codegen, zero shuffle; what its array algebra cannot
    express goes through the keyword walk inside the same projection) ->
    forall projection (interpreted HOF, zero shuffle; inputs that are not
    spans-shaped) -> the Arrow-batch interpreter. The columnar strategies
    are verdict- and violation-equivalent (pytest-pinned) and decline with
    one signal, CompileFallback, which moves the chain to the next
    strategy; the interpreter takes what neither can express, so the chain
    is total. SchemaCycleError is not a decline and stays loud.

    keep_cols=None means ALL input columns on every branch (normalized
    here: the chain's output schema must not depend on which strategy
    happened to compile). Pre-existing 'valid'/'violations' columns are
    REPLACED, never duplicated, matching the other validators' contract."""
    if keep_cols is None:
        keep_cols = [c for c in df.columns if c not in ("valid", "violations")]
    opts = dict(registry=registry, uri=uri, message_style=message_style,
                assert_formats=assert_formats)

    def forall(df: DataFrame, schema_json: Any, **_spans) -> DataFrame:
        return validate_dataframe(df, schema_json, **opts) \
            .select(*keep_cols, "valid", "violations")

    for strategy in (validate_documents_fused, forall):
        try:
            return strategy(df, schema_json, spans_col=spans_col,
                            keep_cols=keep_cols, **opts)
        except CompileFallback:
            pass
    # TRUE last resort (VERDICT r4 #7): no columnar strategy can express
    # this schema (format:'regex' / IDNA assertions, evil ref cycles,
    # non-transpilable regexes) — serialize the row struct with to_json
    # and run the Arrow-batch interpreter, the same stage
    # validate_json_column falls back to. to_json omits NULL fields, which
    # matches the columnar strategies' null-means-absent treatment of NULL
    # parquet columns (equivalence pytest-pinned), and a NULL array element
    # still serializes as JSON null. Slowest path by far, but it makes the
    # spans chain TOTAL: every schema the interpreter accepts validates
    # over spans tables.
    udf = json_validator_udf(schema_json, **opts)
    res = udf(F.to_json(F.struct(*[F.col(c) for c in df.columns])))
    return df.select(*keep_cols,
                     res.getField("valid").alias("valid"),
                     res.getField("violations").alias("violations"))


def suite_validator_udf(fuel: int = DEFAULT_FUEL,
                        extra_registry: Optional[dict] = None):
    """(schema_json_str, instance_json_str) -> valid. Replays
    JSON-Schema-Test-Suite-shaped fixture tables through the Spark path in a
    single job; validators are cached per distinct schema per executor
    (parity: compile-once-per-case, Harness/Harness.lean:15-16).
    ``extra_registry`` pre-registers remote documents (suite ``remotes/``
    tree) on top of the draft-07 meta-schema; the plain-dict registry is
    captured in the UDF closure and ships to executors with the task."""
    cache: dict[str, CompiledValidator] = {}
    extra = dict(extra_registry) if extra_registry else None

    @pandas_udf("boolean")
    def _run(schemas: pd.Series, instances: pd.Series) -> pd.Series:
        out: list[Optional[bool]] = []
        for s_raw, i_raw in zip(schemas, instances):
            if s_raw is None or i_raw is None:
                out.append(None)
                continue
            v = cache.get(s_raw)
            if v is None:
                from ..metaschema import META_REGISTRY
                reg = dict(META_REGISTRY)
                if extra:
                    reg.update(extra)
                v = cache.setdefault(s_raw, CompiledValidator(
                    json.loads(s_raw), fuel=fuel, registry=reg))
            out.append(v.is_valid(json.loads(i_raw)))
        return pd.Series(out, dtype="boolean")

    return _run
