"""Fused-array verdict plan: the fastest execution strategy for the
north_rule document shape (scalar doc columns + one array<struct> spans
column, Single-items schema).

Motivation (measured, see BENCH/BASELINE.md): Spark does NOT whole-stage-
codegen lambda higher-order functions (forall/transform/exists) — they run
interpreted per element — and the explode+agg strategy pays a shuffle. But
the non-lambda collection expressions (array_min, array_max, array_compact,
array_except, array_contains, size, array_join) ARE codegen'd. For the
keyword subset they can express, per-span checks compile to pure vectorized
array algebra over the shredded field arrays (``spans.kind`` extracts
array<string> via GetArrayStructFields — also codegen'd):

    required k     -> size(array_compact(spans.k)) == size(spans)
    enum on k      -> size(array_except(array_compact(spans.k), lit)) == 0
    minimum m on k -> coalesce(array_min(spans.k) >= m, true)   (nulls skip)
    maximum m on k -> coalesce(array_max(spans.k) <= m, true)
    minLength 1    -> !array_contains(array_compact(spans.k), '')
    pattern ^lit   -> string-range check: array_min >= lit AND
                      array_max < succ(lit) (exact for the ASCII literal
                      prefixes _PREFIX_LITERAL admits; r6)

Measured ~1.8M docs/s at 32 cores vs ~300k for explode+agg on the same input.

Verdicts come from the fused expression; VIOLATION DETAIL is produced by the
general forall plan gated behind the fused verdict — Catalyst's conditional
evaluation means only failing rows (rare at production quality rates) ever
evaluate the interpreted collector. One scan, zero shuffle, full detail.

What the array algebra cannot express is lowered through the one keyword
walk (``ColumnarCompiler.lower_node``) instead: a property outside the
subset becomes ``forall(arr.k, e -> e IS NULL OR walk(sub).valid(e))``
over its field array, and an items schema outside it (element keywords,
non-object elements, type mismatches, unresolvable or too-deep ``$ref``
chains) becomes ``forall(arr, walk(items).valid)``. Answer from the cheap
form what it can, consult the full form for the rest (Column Sketches,
SIGMOD 2018). So the plan declines — with ``CompileFallback``, the spans
chain's one decline signal — only where the input is not spans-shaped
(``operators.validation.split_doc_spans``) or the walk itself cannot
lower the schema; ``validate_spans_best`` then tries the forall plan and,
last, the Arrow-batch interpreter.
"""

from __future__ import annotations

import re
from functools import reduce
from typing import Any, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    StringType,
    StructType,
)

from ..compiler import (
    VIOLATION_SCHEMA,
    ColumnarCompiler,
    _FRACTIONAL,
    _INTEGRAL,
    _let,
    _passes,
    _static_type_names,
)
from ..plan_cache import plan_memo
from ..resolver import resolve_uri
from ..schema_ast import ABSENT, Schema, SchemaObject, parse_schema


class FusedUnsupported(Exception):
    """Schema/keyword outside the fused subset: the caller lowers that part
    through the keyword walk. Never leaves this module."""


#: pattern of patterns we can fuse: anchored literal prefix, no metachars.
#: NOTE: '.' is deliberately NOT admitted — it is a regex metacharacter, and
#: the fused path treats the prefix literally (string-range check), so
#: '^foo.bar' must go through the keyword walk where it keeps its
#: any-char meaning (ADVICE r1: dotted patterns diverged here). ASCII-only
#: is also what makes the range check's succ() byte-order argument exact.
#: ``\Z``, not ``$``: ``$`` would also admit a trailing newline.
_PREFIX_LITERAL = re.compile(r"^\^[A-Za-z0-9_\-:/ @]+\Z")


def _resolve_once(comp: ColumnarCompiler, schema: Schema, base_uri: str,
                  depth: int = 0) -> tuple[Schema, str]:
    """Follow $ref chains to a concrete schema node (compile-time inline)."""
    while isinstance(schema, SchemaObject) and schema.ref is not None:
        if depth > 64:
            raise FusedUnsupported("ref chain too deep")
        target, _root, _subpath, got = comp.ref_step(schema.ref, base_uri)
        if got is None:
            raise FusedUnsupported(f"unresolvable ref {target!r}")
        schema, base_uri = got
        depth += 1
    # navigation returns the landed node's PARENT scope; the node's own $id
    # applies exactly once — and only when no sibling $ref overrides it
    # ($ref-first contract, interpreter.py:227-240). A mid-chain node with
    # both $id and $ref resolves its ref against the PARENT scope, which is
    # why the fold happens after the chase loop, not inside it.
    if isinstance(schema, SchemaObject) and schema.id is not None:
        base_uri = resolve_uri(base_uri, schema.id)
    return schema, base_uri


def fused_items_verdict(comp: ColumnarCompiler, items_schema: Schema,
                        base_uri: str, arr: Column,
                        elem_dtype: Any) -> Column:
    """Verdict column: every element of `arr` satisfies `items_schema`.
    Outside the fused subset the element verdict comes from the keyword
    walk (a JSON-null element is a JSON null there: null_means='null')."""
    try:
        return _fused_items(comp, items_schema, base_uri, arr, elem_dtype)
    except FusedUnsupported:
        return F.forall(arr, _passes(comp.lower_node(
            items_schema, elem_dtype, base_uri=base_uri, null_means="null")))


def _fused_items(comp: ColumnarCompiler, items_schema: Schema,
                 base_uri: str, arr: Column, elem_dtype: Any) -> Column:
    """The array-algebra verdict of :func:`fused_items_verdict`; raises
    FusedUnsupported when the items schema leaves the subset."""
    items_schema, base_uri = _resolve_once(comp, items_schema, base_uri)
    if items_schema is True:
        return F.lit(True)
    if items_schema is False:
        return F.size(arr) == 0
    s = items_schema
    assert isinstance(s, SchemaObject)
    if not isinstance(elem_dtype, StructType):
        raise FusedUnsupported("fused items need struct elements")
    field_type = {f.name: f.dataType for f in elem_dtype.fields}
    n = F.size(arr)

    # keywords the fused translator does not handle => bail out
    unsupported = [
        s.const is not ABSENT, s.enum is not None, s.pattern is not None,
        s.max_length is not None, s.min_length is not None,
        s.maximum is not None, s.minimum is not None,
        s.exclusive_maximum is not None, s.exclusive_minimum is not None,
        s.multiple_of is not None, s.unique_items,
        s.pattern_properties is not None, s.property_names is not None,
        s.additional_properties is not None, s.max_properties is not None,
        s.min_properties is not None, s.dependencies is not None,
        s.items is not None, s.additional_items is not None,
        s.max_items is not None, s.min_items is not None,
        s.contains is not None, s.all_of is not None, s.any_of is not None,
        s.one_of is not None, s.not_ is not None, s.if_ is not None,
    ]
    if any(unsupported):
        raise FusedUnsupported("element-level keyword outside fused subset")
    if not ("object" in s.types or "any" in s.types):
        raise FusedUnsupported("fused elements must be object-typed")

    clauses: list[Column] = []

    # a NULL element is JSON null: it fails "type":"object" unless "null"
    # (or "any") is allowed (see compiler null_means="null" semantics)
    nulls_legal = "any" in s.types or "null" in s.types
    # r6: when a required key exists as a real field, its presence clause
    # (size(compact(arr.k)) == n) already forces every ELEMENT non-null (a
    # null struct's field extract is null), so the standalone null-element
    # clause is implied and one interpreted filter() pass per row is saved
    # (Catalyst rewrites array_compact to an interpreted lambda filter —
    # HOFs never whole-stage-codegen).
    required_real = [k for k in (s.required or []) if k in field_type]
    if not nulls_legal and not required_real:
        clauses.append(F.size(F.array_compact(arr)) == n)
    # element-count baseline for key-presence checks: when null elements are
    # legal they must NOT count as objects-missing-the-key, so required
    # compares against the NON-NULL element count
    n_objs = F.size(F.array_compact(arr)) if nulls_legal else n

    # property clauses first: when a field is required AND one of its own
    # clauses already fails on any null element (e.g. the enum array_except
    # over the RAW field array — a null element survives the except and
    # forces size > 0), the separate required clause
    # size(array_compact(arr.k)) == n is IMPLIED under the conjunction and
    # its interpreted filter pass can be dropped entirely (r6; only when
    # null elements are illegal, so n_objs == n and the raw-array clause
    # sees every element).
    prop_clauses: list[Column] = []
    null_covered: set[str] = set()
    for name, sub in (s.properties or []):
        if name not in field_type:
            continue  # field never present -> check never fires
        field = arr.getField(name)
        try:
            resolved, _ = _resolve_once(comp, sub, base_uri)
            if resolved is True:
                continue
            if resolved is False:
                # false schema: field must never be present
                prop_clauses.append(F.size(F.array_compact(field)) == 0)
                continue
            cl, covers_nulls = _fused_property_clauses(
                resolved, field, field_type[name],
                assert_formats=comp.assert_formats,
                nulls_ruled_out=(not nulls_legal and name in required_real))
        except FusedUnsupported:
            # a NULL in the field array is an absent key (or a null
            # element, which the element clauses judge): it passes before
            # the walk, whose verdict on NULL need not be true
            # (e.g. {"not": {}})
            ok = _passes(comp.lower_node(sub, field_type[name],
                                         base_uri=base_uri))
            cl = [F.forall(field, lambda e: e.isNull() | ok(e))]
            covers_nulls = False
        prop_clauses.extend(cl)
        if covers_nulls:
            null_covered.add(name)

    if s.required:
        for k in s.required:
            if k not in field_type:
                clauses.append(n_objs == 0)  # key can never be present
            elif not nulls_legal and k in null_covered:
                pass  # implied by the field's own null-catching clause
            else:
                # NB (r6): a double-array_join null check measured 3x
                # cheaper than this filter STANDALONE but +5 CPU-s/3M docs
                # inside the full verdict projection (array_join is an
                # interpreted fallback too); the filter form is the
                # in-plan winner — re-measure in context before swapping.
                clauses.append(F.size(F.array_compact(arr.getField(k))) == n_objs)

    clauses.extend(prop_clauses)

    if not clauses:
        return F.lit(True)
    return reduce(lambda a, b: a & b, clauses)


def _n_lines(joined: Column) -> Column:
    """Line count of a non-empty join result without the regex-split array
    allocation: newline occurrences + 1 (r6; split(s, '\\n') produced a
    throwaway array per row). Identical for every string — split() with
    the default -1 limit keeps trailing empties, so its size is exactly
    count('\\n') + 1."""
    return (F.length(joined)
            - F.length(F.replace(joined, F.lit("\n"), F.lit(""))) + 1)


def _joined_line_scaffold(field_arr: Column, fast_fn, slow_fn) -> Column:
    """Shared scaffold for per-element string checks via the newline-join
    trick (r6): the compact array and the null-skipping join are LET-BOUND
    so each is evaluated once per row instead of once per reference
    (array_compact desugars to an interpreted lambda filter, array_join is
    an interpreted fallback too, and Catalyst inlines every aliased
    reference — the pattern clause used to pay 5 filter passes; an
    attempted filter-free variant with a second marker join measured
    SLOWER, 37.5 vs 26.5 CPU-s at 3M docs, because it traded one filter
    for two extra join evaluations).

    Rows where an element embeds a newline take ``slow_fn(compact)``, the
    per-element HOF branch (lazily — CASE WHEN branches are not evaluated
    until taken); everything else is decided by ``fast_fn(joined)``."""
    def body(cm: Column) -> Column:
        def body2(joined: Column) -> Column:
            n_elems = F.size(cm)
            return (F.when(n_elems == 0, F.lit(True))
                     .when(_n_lines(joined) == n_elems, fast_fn(joined))
                     .otherwise(slow_fn(cm)))
        return _let(F.array_join(cm, "\n"), body2)
    return _let(F.array_compact(field_arr), body)


def _fused_joined_length_clause(field_arr: Column, bad_re: str,
                                slow) -> Column:
    """Per-element string-length check without lambda HOFs on the hot path:
    newline-join the elements and regex-search for a too-short/too-long line
    (wrapped in sentinel newlines). Java regex quantifiers count code points,
    matching F.length and the interpreter's len(). Rows where an element
    embeds a newline take the lazily-evaluated per-element HOF branch (same
    scaffold as the fused pattern clause)."""
    return _joined_line_scaffold(
        field_arr,
        fast_fn=lambda S: ~F.regexp_like(
            F.concat(F.lit("\n"), S, F.lit("\n")), F.lit(bad_re)),
        slow_fn=lambda cm: F.forall(cm, lambda e: slow(e)))


def _fused_property_clauses(s: SchemaObject, field_arr: Column,
                            dtype: Any,
                            assert_formats: bool = False,
                            nulls_ruled_out: bool = False
                            ) -> tuple[list[Column], bool]:
    """Per-field keyword clauses over the extracted field array (nulls =
    absent keys: array_compact / array_min skip them, preserving the
    type-guard semantics). Returns ``(clauses, covers_nulls)``:
    ``covers_nulls=True`` certifies that one of the emitted clauses is
    FALSE whenever ``field_arr`` contains a null element, which lets the
    caller drop the field's separate required clause (r6).

    ``nulls_ruled_out=True`` means the caller guarantees that ANY null in
    ``field_arr`` already makes the overall conjunction false (the field is
    required and null elements are illegal), so clauses may skip the
    interpreted array_compact pass: with nulls present their own result no
    longer matters (false/null both conjoin to false under the fused
    verdict's outer coalesce), and without nulls compact(x) == x (r6)."""
    out: list[Column] = []
    covers_nulls = False
    compact = field_arr if nulls_ruled_out else F.array_compact(field_arr)

    # type: must be statically satisfied (integer refinement not fusable)
    if "any" not in s.types:
        static = _static_type_names(dtype)
        if not any(t in static for t in s.types):
            raise FusedUnsupported(f"type {s.types} vs {dtype} not fusable")

    unsupported = [
        s.const is not ABSENT, s.multiple_of is not None,
        s.unique_items, s.properties is not None, s.items is not None,
        s.pattern_properties is not None, s.additional_properties is not None,
        s.dependencies is not None, s.all_of is not None, s.any_of is not None,
        s.one_of is not None, s.not_ is not None, s.if_ is not None,
        s.contains is not None, s.required is not None,
        s.max_items is not None, s.min_items is not None,
        s.max_properties is not None, s.min_properties is not None,
        s.property_names is not None, s.additional_items is not None,
        # format assertion is the general compiler's job (rlike + calendar
        # check); refusing here hands the property to the keyword walk
        # rather than silently dropping the assertion
        assert_formats and s.format is not None,
    ]
    if any(unsupported):
        raise FusedUnsupported("property keyword outside fused subset")

    if s.enum is not None:
        if isinstance(dtype, StringType):
            vals = [v for v in s.enum if isinstance(v, str)]
        elif isinstance(dtype, _INTEGRAL + _FRACTIONAL):
            vals = [float(v) for v in s.enum
                    if isinstance(v, (int, float)) and not isinstance(v, bool)]
        elif isinstance(dtype, BooleanType):
            vals = [v for v in s.enum if isinstance(v, bool)]
        else:
            raise FusedUnsupported("enum over non-scalar field")
        if not vals:
            out.append(F.size(compact) == 0)
        else:
            lit_arr = F.array(*[F.lit(v) for v in vals])
            cmp = compact.cast(f"array<double>") \
                if isinstance(dtype, _INTEGRAL + _FRACTIONAL) else compact
            out.append(F.size(F.array_except(cmp, lit_arr)) == 0)
            # over the RAW array (nulls_ruled_out), a null element survives
            # the except (lit_arr is null-free) and forces size > 0 — this
            # clause therefore subsumes the required-field null check
            # (a cast to double keeps nulls null, so it holds there too)
            covers_nulls = covers_nulls or nulls_ruled_out

    if isinstance(dtype, _INTEGRAL + _FRACTIONAL):
        d = field_arr.cast("array<double>")
        if s.minimum is not None:
            out.append(F.coalesce(F.array_min(d) >= s.minimum, F.lit(True)))
        if s.maximum is not None:
            out.append(F.coalesce(F.array_max(d) <= s.maximum, F.lit(True)))
        if s.exclusive_minimum is not None:
            out.append(F.coalesce(F.array_min(d) > s.exclusive_minimum, F.lit(True)))
        if s.exclusive_maximum is not None:
            out.append(F.coalesce(F.array_max(d) < s.exclusive_maximum, F.lit(True)))
    elif any(x is not None for x in (s.minimum, s.maximum,
                                     s.exclusive_minimum, s.exclusive_maximum)):
        pass  # numeric keywords on non-numeric fields: type-guard passes

    if s.min_length is not None and isinstance(dtype, StringType):
        if s.min_length == 0:
            pass
        elif s.min_length == 1:
            # r6: no compact needed — array_contains over the raw field
            # array returns true (found), false (absent, no nulls) or null
            # (absent with nulls); coalesce(.., false) makes the null case
            # pass exactly like the old filtered form, without the
            # interpreted filter pass
            out.append(~F.coalesce(F.array_contains(field_arr, ""),
                                   F.lit(False)))
        else:
            # join trick (r2 widening): a line of <= n-1 code points means
            # some element is too short. Java regex counts code points like
            # F.length and the interpreter's len(), so astral-plane strings
            # agree across strategies (pinned in tests).
            out.append(_fused_joined_length_clause(
                field_arr,
                bad_re="\n[^\n]{0,%d}\n" % (s.min_length - 1),
                slow=lambda e, n=s.min_length: F.length(e) >= n))
    if s.max_length is not None and isinstance(dtype, StringType):
        if s.max_length == 0:
            # every element must be the empty string (pure array algebra);
            # over the raw array a null element survives the except, so
            # this too subsumes the required-field null check
            out.append(F.size(F.array_except(compact, F.array(F.lit("")))) == 0)
            covers_nulls = covers_nulls or nulls_ruled_out
        else:
            # a line of >= m+1 code points means some element is too long
            out.append(_fused_joined_length_clause(
                field_arr,
                bad_re="\n[^\n]{%d}" % (s.max_length + 1),
                slow=lambda e, m=s.max_length: F.length(e) <= m))
    if s.pattern is not None and isinstance(dtype, StringType):
        if not _PREFIX_LITERAL.match(s.pattern):
            raise FusedUnsupported(f"pattern {s.pattern!r} not fusable")
        prefix = s.pattern[1:]
        # r6 take 2: string-RANGE check, zero lambdas/joins/regexes.
        # every non-null element starts with prefix p
        #   <=>  array_min(arr) >= p  AND  array_max(arr) < succ(p)
        # where succ(p) increments p's last char. Exact because UTF8String
        # comparison is byte-wise lexicographic and _PREFIX_LITERAL admits
        # only ASCII (so succ stays single-byte and any string in
        # [p, succ(p)) must carry p's bytes as its prefix). array_min/max
        # are codegen'd AND null-skipping, so the compact pass, the
        # newline-join trick and its embedded-newline slow branch (which
        # this replaces) all disappear; empty/all-null arrays yield null
        # min/max -> coalesce(True), the old n_elems==0 branch.
        # succ stays one ASCII byte only below DEL (0x7F): the range
        # check is exact only for the alphabet _PREFIX_LITERAL admits
        assert ord(prefix[-1]) < 0x7F, prefix
        succ = prefix[:-1] + chr(ord(prefix[-1]) + 1)
        out.append(
            F.coalesce(F.array_min(field_arr) >= F.lit(prefix), F.lit(True))
            & F.coalesce(F.array_max(field_arr) < F.lit(succ), F.lit(True)))
    return out, covers_nulls


def validate_documents_fused(
    df: DataFrame,
    schema_json: Any,
    spans_col: str = "spans",
    registry: Optional[dict[str, Any]] = None,
    uri: str = "",
    keep_cols: Optional[list[str]] = None,
    with_violations: bool = True,
    message_style: str = "structured",
    assert_formats: bool = False,
) -> DataFrame:
    """Full validation at fused speed: fused verdict + forall-plan violation
    detail evaluated ONLY on failing rows. Output schema matches
    ``validate_dataframe`` restricted to keep_cols (default: all columns).
    Raises CompileFallback when the input is not spans-shaped or the
    keyword walk cannot lower the doc level or a part of the items schema
    outside the fused subset."""
    from ..operators.validation import split_doc_spans

    def build() -> dict:
        comp, doc_valid, _, items, elem_t = split_doc_spans(
            df, schema_json, spans_col, registry, uri, message_style,
            assert_formats)
        spans_ok = fused_items_verdict(comp, parse_schema(items),
                                       comp.root_base_uri(),
                                       F.col(spans_col), elem_t)
        # null array = absent key: items checks pass (type-guard semantics)
        spans_ok = F.when(F.col(spans_col).isNull(), F.lit(True)) \
                    .otherwise(F.coalesce(spans_ok, F.lit(False)))
        valid = doc_valid & F.coalesce(spans_ok, F.lit(False))

        cols = {"valid": valid}
        if with_violations:
            # full-detail collector from the general plan, evaluated lazily
            # only when the fused verdict fails
            instance = F.struct(*[F.col(c) for c in df.columns])
            cols["violations"] = \
                F.when(valid, F.array().cast(VIOLATION_SCHEMA)) \
                 .otherwise(comp.lower(StructType(df.schema.fields))
                            .violations(instance, F.lit("")))
        return cols

    # the built Columns are unresolved (name-bound): memoize per (schema,
    # dtype, options) so repeat batches of the same table shape skip the
    # ~0.6 s py4j expression construction (plan_cache module docstring)
    cols = plan_memo("fused", df, schema_json, registry,
                     (spans_col, uri, with_violations, message_style,
                      assert_formats), build)
    keep = keep_cols if keep_cols is not None else list(df.columns)
    return df.select(*keep, *[v.alias(k) for k, v in cols.items()])
