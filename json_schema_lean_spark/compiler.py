"""Schema AST -> native Spark Column predicate plan (the 100 TB scale path).

This is the engine's analog of the reference's interpreter loop
(/root/reference/JsonSchema/Validation.lean:375-424) re-expressed as a
compile-time lowering: the schema is walked ONCE on the driver against the
input column's Spark DataType, emitting a fused Column expression DAG that
Catalyst optimizes and whole-stage-codegens. No Python runs per row.

Key design points:

- **dtype-specialized**: ``type`` checks resolve statically (a StringType
  column always satisfies ``"type":"string"``); ``required`` on shredded
  structs degenerates to not-null checks; ``propertyNames``/
  ``additionalProperties`` over StructType constant-fold against the literal
  field list.
- **$ref inlining**: refs resolve at compile time through the driver-side
  Resolver. Termination: recursion through properties/items consumes finite
  DataType depth; "evil" cycles (through allOf/anyOf/oneOf/not/if/then/else,
  which do not consume dtype) are rejected up front by the cycle DFS
  (resolver.find_ref_cycle) + a depth guard.
- **absent = null**: a null struct field models a missing JSON key, so every
  keyword check passes on null input (the reference's type-guard semantics,
  Validation.lean:46 etc.).
- **two outputs per node**: a cheap fused ``valid`` boolean (verdict
  throughput mode) and a ``violations`` array<struct<keyword,json_pointer,
  message>> (audit mode) with RFC 6901 pointers built as Column expressions.

Anything not lowerable to Columns (exotic regex, dynamic JSON payloads,
MapType-shaped objects) raises :class:`CompileFallback`; callers route those
to the Arrow-batch interpreter path (operators/validation.py) — never a
row-at-a-time Python UDF.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass
from functools import reduce
from typing import Any, Callable, Optional

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    ByteType,
    DataType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StringType,
    StructType,
)

from .pointer import escape_token
from .resolver import DEFAULT_URI, Resolver, SchemaCycleError, find_ref_cycle, resolve_uri
from .schema_ast import ABSENT, Schema, SchemaObject, parse_schema

_INTEGRAL = (ByteType, ShortType, IntegerType, LongType)
_FRACTIONAL = (FloatType, DoubleType, DecimalType)

VIOLATION_SCHEMA = "array<struct<keyword:string,json_pointer:string,message:string>>"

#: max evil-$ref inlining depth (safety net past the cycle DFS)
MAX_INLINE_DEPTH = 64


class CompileFallback(Exception):
    """Schema construct not expressible as Column ops for this dtype;
    route the column through the Arrow-batch interpreter instead."""


@dataclass
class Lowered:
    """Compiled predicate for one (schema, dtype) pair."""

    valid: Callable[[Column], Column]
    violations: Callable[[Column, Column], Column]  # (col, ptr) -> array<viol>


def _true(_: Column) -> Column:
    return F.lit(True)


def _no_viols(_: Column, __: Column) -> Column:
    return F.array().cast(VIOLATION_SCHEMA)


_LOWERED_TRUE = Lowered(valid=_true, violations=_no_viols)


def _viol(keyword: str, ptr: Column, message: str) -> Column:
    return F.struct(
        F.lit(keyword).alias("keyword"),
        ptr.alias("json_pointer"),
        F.lit(message).alias("message"),
    )


def _guard(col: Column, pred: Column) -> Column:
    """Keyword check passes when the value is absent (null) — reference
    type-guard semantics. Also forces three-valued logic to a definite bool."""
    return F.when(col.isNull(), F.lit(True)).otherwise(F.coalesce(pred, F.lit(False)))


def _let(expr: Column, fn: Callable[[Column], Column]) -> Column:
    """Let-binding inside an expression: evaluate ``expr`` ONCE and pass it
    to ``fn`` as a real lambda variable. Catalyst inlines every aliased
    reference and has no common-subexpression reuse for interpreted
    expressions (array_compact, for one, is rewritten to an interpreted
    lambda filter), so an expression referenced inside a HOF lambda is
    RE-EVALUATED per element — a sort referenced from a filter lambda
    becomes O(n² log n) (measured: the first run-length char_entropy did
    exactly that, 55 -> 165 s). A higher-order function evaluates its
    array argument once and binds it as a real attribute."""
    return F.get(F.transform(F.array(expr), fn), 0)


def _ptr_key(key: Column) -> Column:
    """RFC 6901 token escaping for a runtime key Column (~ -> ~0, / -> ~1);
    pointer.escape_token is the driver-side twin."""
    return F.regexp_replace(F.regexp_replace(key, "~", "~0"), "/", "~1")


def _concat_viols(parts: list[Column]) -> Column:
    parts = [p for p in parts if p is not None]
    if not parts:
        return F.array().cast(VIOLATION_SCHEMA)
    if len(parts) == 1:
        return parts[0]
    return F.concat(*parts)


def _cond_viol(col: Column, ok: Column, keyword: str, ptr: Column, msg: str) -> Column:
    """Emit a 1-element violation array when the (null-guarded) check fails."""
    return F.when(_guard(col, ok), F.array().cast(VIOLATION_SCHEMA)) \
            .otherwise(F.array(_viol(keyword, ptr, msg)))


def _viol_col(keyword: str, ptr: Column, msg: Column) -> Column:
    """Violation struct with a RUNTIME message Column (reference style
    embeds the offending value; evaluated lazily, only for failing rows)."""
    return F.struct(
        F.lit(keyword).alias("keyword"),
        ptr.alias("json_pointer"),
        msg.alias("message"),
    )


def _cond_viol_col(col: Column, ok: Column, keyword: str, ptr: Column,
                   msg: Column) -> Column:
    return F.when(_guard(col, ok), F.array().cast(VIOLATION_SCHEMA)) \
            .otherwise(F.array(_viol_col(keyword, ptr, msg)))


# ---------------------------------------------------------------------------
# Lean Json.compress as a typed Column expression (reference-style messages)
# ---------------------------------------------------------------------------

def _json_quote(s: str) -> str:
    return json.dumps(s, ensure_ascii=False)


def lean_compress_typed(c: Column, dtype: DataType) -> Column:
    """Runtime ``Json.compress`` of a typed column (lean_messages.py is the
    Python/interpreter twin; keep renderings in sync):

    - struct fields / map keys in sorted order (RBNode order), absent
      (NULL) struct fields omitted;
    - integral types render bare; fractional types keep a ``.0`` on
      integral values (``format_string('%.1f')`` — matches the
      interpreter's f"{v:.1f}") and Java's shortest form otherwise
      (documented approximation: exotic magnitudes format as 1.0E20 where
      Python says 1e+20);
    - strings escape through Spark's JSON writer (same mandatory-escape
      set as json.dumps(ensure_ascii=False));
    - map keys escape backslash + quote only (runtime; control characters
      in keys are out of scope — documented);
    - a NULL column at a null_means='null' position renders ``null`` (r3
      review fix: Boolean rendered 'false', String '' and Struct '{}' for
      null values before the top-level guard below)."""
    return F.when(c.isNull(), F.lit("null")) \
            .otherwise(_lean_compress_typed_nonnull(c, dtype))


def _lean_compress_typed_nonnull(c: Column, dtype: DataType) -> Column:
    if isinstance(dtype, BooleanType):
        return F.when(c, F.lit("true")).otherwise(F.lit("false"))
    if isinstance(dtype, _INTEGRAL):
        return c.cast("string")
    if isinstance(dtype, _FRACTIONAL):
        d = c.cast("double")
        return F.when((d % 1.0) == 0.0, F.format_string("%.1f", d)) \
                .otherwise(d.cast("string"))
    if isinstance(dtype, StringType):
        return F.regexp_extract(F.to_json(F.struct(c.alias("v"))),
                                '^\\{"v":(.*)\\}$', 1)
    if isinstance(dtype, ArrayType):
        et = dtype.elementType
        return F.concat(
            F.lit("["),
            F.array_join(F.transform(
                c, lambda e: F.when(e.isNull(), F.lit("null"))
                              .otherwise(lean_compress_typed(e, et))), ","),
            F.lit("]"))
    if isinstance(dtype, StructType):
        parts = []
        for f in sorted(dtype.fields, key=lambda f: f.name):
            fld = c.getField(f.name)
            parts.append(F.when(fld.isNotNull(), F.concat(
                F.lit(_json_quote(f.name) + ":"),
                lean_compress_typed(fld, f.dataType))))
        if not parts:
            return F.lit("{}")
        return F.concat(F.lit("{"), F.concat_ws(",", *parts), F.lit("}"))
    if isinstance(dtype, MapType):
        entries = F.array_sort(
            F.map_entries(c),
            lambda a, b: F.when(a.getField("key") < b.getField("key"),
                                F.lit(-1))
                          .when(a.getField("key") > b.getField("key"),
                                F.lit(1)).otherwise(F.lit(0)))
        vt = dtype.valueType

        def esc(k: Column) -> Column:
            return F.regexp_replace(
                F.regexp_replace(k, "\\\\", "\\\\\\\\"), '"', '\\\\"')
        return F.concat(
            F.lit("{"),
            F.array_join(F.transform(entries, lambda kv: F.concat(
                F.lit('"'), esc(kv.getField("key")), F.lit('":'),
                F.when(kv.getField("value").isNull(), F.lit("null"))
                 .otherwise(lean_compress_typed(kv.getField("value"), vt)))),
                ","),
            F.lit("}"))
    return F.lit("null")  # NullType placeholder positions never hold values


def lean_num_typed(c: Column, dtype: DataType) -> Column:
    """Lean ``JsonNumber.toString``-ish rendering of a numeric column
    (integral values bare from integral types, '.0'-suffixed from
    fractional types — mirrors lean_messages.lean_num on Python values)."""
    if isinstance(dtype, _INTEGRAL):
        return c.cast("string")
    d = c.cast("double")
    return F.when((d % 1.0) == 0.0, F.format_string("%.1f", d)) \
            .otherwise(d.cast("string"))


def java_regex_safe(pattern: str) -> bool:
    """Regex-dialect classifier (SURVEY.md §4 item 2; hardened in r2): True
    iff the pattern transpiles to an EXACTLY-equivalent Java pattern
    (regex_dialect.to_java_regex) — callers must run the transpiled form
    through ``regexp_like``, never the original. Everything else routes to
    the Arrow interpreter, which is Python re by construction."""
    from .regex_dialect import java_regex_exact
    return java_regex_exact(pattern)


#: characters with no meaning in a Java regex outside character classes —
#: a pattern made only of these (plus an optional ^ / $ anchor) is a plain
#: substring test, executable with codegen'd string primitives instead of
#: the regex engine (r6; measured ~9 CPU-s of rlike on 3M doc_ids)
_PLAIN_CHARS = r"[A-Za-z0-9_\-:/ @!%&=;,<>~#\x80-\U0010ffff]"
_PAT_PREFIX = re.compile(rf"^\^{_PLAIN_CHARS}+$")
_PAT_INFIX = re.compile(rf"^{_PLAIN_CHARS}+$")


def _literal_pattern_predicate(jpat: str):
    """Codegen'd string-primitive equivalent of an unanchored regex SEARCH
    for metacharacter-free patterns, or None when the regex engine is
    needed. `^lit` -> startswith, bare `lit` -> contains — both
    verdict-identical to ``regexp_like(c, jpat)`` because none of the
    admitted characters carry regex meaning and `^` (without MULTILINE)
    matches only the true input start in Java and Python alike. `$` is
    deliberately NOT rewritten: both engines let it match before a trailing
    newline, which endswith/equality would not reproduce."""
    if _PAT_PREFIX.match(jpat):
        lit = jpat[1:]
        return lambda c, s=lit: c.startswith(s)
    if _PAT_INFIX.match(jpat):
        return lambda c, s=jpat: c.contains(s)
    return None


class ColumnarCompiler:
    """Compile a schema once against a DataFrame column's dtype."""

    def __init__(
        self,
        schema_json: Any,
        uri: str = DEFAULT_URI,
        registry: Optional[dict[str, Any]] = None,
        message_style: str = "structured",
        assert_formats: bool = False,
    ) -> None:
        #: "structured" (concise human messages) or "reference" (byte-parity
        #: with the Lean reportError strings — the offending value is
        #: compressed into the message at runtime, lean_compress_typed)
        self.message_style = message_style
        #: opt-in draft-7 format assertion (annotation by default; formats.py)
        self.assert_formats = assert_formats
        self.schema: Schema = parse_schema(schema_json)
        self.root_uri = uri
        self._schema_json = schema_json
        self._registry = registry
        self.resolver = Resolver()
        self.resolver.add_schema(schema_json, uri)
        if registry:
            for reg_uri, reg_schema in registry.items():
                self.resolver.add_schema(reg_schema, reg_uri)
        cycle = find_ref_cycle(self.resolver)
        if cycle is not None:
            raise SchemaCycleError(cycle)

    def lower(self, dtype: DataType, null_means: str = "absent") -> Lowered:
        """null_means governs what a NULL value at THIS position denotes:
        'absent' (a missing object key — every keyword passes; the struct-
        shredding mapping) or 'null' (a JSON null — array elements, where
        type/const/enum must see an actual null value)."""
        return self._lower(self.schema, dtype, self.root_uri, 0, null_means)

    def lower_node(self, schema: Any, dtype: DataType,
                   base_uri: Optional[str] = None,
                   null_means: str = "absent") -> Lowered:
        """Lower an arbitrary schema NODE (raw JSON or parsed Schema) with
        THIS compiler's full resolver context: root-relative $refs (e.g.
        '#/properties/spans/items') resolve against the registered root
        schema, exactly as on the interpreter path. Used by the explode /
        violation-row strategies to compile items/doc subplans without a
        lossy synthetic root (ADVICE r1)."""
        node = schema if isinstance(schema, (bool, SchemaObject)) \
            else parse_schema(schema)
        uri = self.root_uri if base_uri is None else base_uri
        return self._lower(node, dtype, uri, 0, null_means)

    def root_base_uri(self) -> str:
        """root_uri rebased by the root schema's $id, i.e. the base URI in
        effect for nodes inside the root (matches _lower's rebase)."""
        s = self.schema
        if isinstance(s, SchemaObject) and s.id is not None:
            return resolve_uri(self.root_uri, s.id)
        return self.root_uri

    def _refb(self, keyword: str, dtype: DataType, count_fn=None,
              prefix_key: Optional[str] = None, **ctx):
        """Reference-style message builder (c -> Column) for add_simple's
        `ref` parameter, or None outside reference mode. The static prefix
        comes from lean_messages.ref_prefix; the runtime tail follows
        lean_messages.REF_SHAPES."""
        if self.message_style != "reference":
            return None
        from .lean_messages import REF_SHAPES, ref_prefix
        pre = ref_prefix(prefix_key or keyword, **ctx)
        shape = REF_SHAPES[keyword]
        def compress(c: Column) -> Column:
            # NULL only reaches a firing violation at null_means='null'
            # positions, where it IS a JSON null
            return F.coalesce(lean_compress_typed(c, dtype), F.lit("null"))
        if shape == "value":
            return lambda c: F.concat(F.lit(pre), compress(c))
        if shape == "strlen":
            return lambda c: F.concat(F.lit(pre), F.length(c).cast("string"))
        if shape == "num":
            return lambda c: F.concat(F.lit(pre + '"'),
                                      lean_num_typed(c, dtype), F.lit('"'))
        if shape == "count_value":
            return lambda c: F.concat(F.lit(pre), count_fn(c).cast("string"),
                                      F.lit(" "), compress(c))
        return None  # pragma: no cover

    # ------------------------------------------------------------------

    def _lower(self, schema: Schema, dtype: DataType, base_uri: str, depth: int,
               null_means: str = "absent") -> Lowered:
        if depth > MAX_INLINE_DEPTH:
            raise CompileFallback("inline depth exceeded")
        if isinstance(schema, bool):
            if schema:
                return _LOWERED_TRUE
            return Lowered(
                valid=lambda c: F.lit(False),
                violations=lambda c, p: F.array(
                    _viol("false", p, "Boolean schema 'false' rejects all values")),
            )
        s = schema
        assert isinstance(s, SchemaObject)

        # $ref overrides siblings (Draft 7): inline the target
        if s.ref is not None:
            target = resolve_uri(base_uri, s.ref)
            root, subpath = self.resolver.resolve_path(target)
            got = self.resolver.get_schema_and_uri(root, subpath)
            if got is None:
                # unresolvable ref: every instance fails (reference reports error)
                rref = self._refb("$ref", dtype, base=root, path=subpath)
                return Lowered(
                    valid=lambda c: F.lit(False),
                    violations=lambda c, p: F.array(
                        _viol_col("$ref", p, rref(c)) if rref is not None
                        else _viol("$ref", p, f"Could not find {target!r}")),
                )
            sub, new_uri = got
            return self._lower(sub, dtype, new_uri, depth + 1, null_means)

        if s.id is not None:
            base_uri = resolve_uri(base_uri, s.id)

        valid_parts: list[Callable[[Column], Column]] = []
        viol_parts: list[Callable[[Column, Column], Column]] = []

        def add(valid_fn: Callable[[Column], Column],
                viol_fn: Callable[[Column, Column], Column]) -> None:
            valid_parts.append(valid_fn)
            viol_parts.append(viol_fn)

        def add_simple(ok_fn: Callable[[Column], Column], keyword: str,
                       msg: str, ref=None) -> None:
            # `ref` (c -> Column) builds the reference-style runtime message;
            # used only under message_style="reference". Keywords without a
            # ref builder keep their structured message in both styles.
            if self.message_style == "reference" and ref is not None:
                add(lambda c, ok=ok_fn: _guard(c, ok(c)),
                    lambda c, p, ok=ok_fn, kw=keyword, r=ref:
                    _cond_viol_col(c, ok(c), kw, p, r(c)))
            else:
                add(lambda c, ok=ok_fn: _guard(c, ok(c)),
                    lambda c, p, ok=ok_fn, kw=keyword, m=msg: _cond_viol(c, ok(c), kw, p, m))

        self._lower_type(s, dtype, add, add_simple, null_means)
        self._lower_const_enum(s, dtype, add, add_simple, null_means)
        self._lower_string(s, dtype, add_simple)
        self._lower_numeric(s, dtype, add_simple)
        self._lower_object(s, dtype, base_uri, depth, add, add_simple)
        self._lower_array(s, dtype, base_uri, depth, add, add_simple)
        self._lower_combinators(s, dtype, base_uri, depth, add, null_means)

        if not valid_parts:
            return _LOWERED_TRUE

        def valid(c: Column) -> Column:
            return reduce(lambda a, b: a & b, (fn(c) for fn in valid_parts))

        def violations(c: Column, p: Column) -> Column:
            return _concat_viols([fn(c, p) for fn in viol_parts])

        return Lowered(valid=valid, violations=violations)

    # ---- type -----------------------------------------------------------

    def _lower_type(self, s: SchemaObject, dtype: DataType, add,
                    add_simple, null_means: str = "absent") -> None:
        if "any" in s.types:
            return
        json_null = null_means == "null"
        null_ok = "null" in s.types
        static_names = _static_type_names(dtype)
        msg = f"expected one of {s.types}"

        ref = self._refb("type", dtype, types=[str(t) for t in s.types])

        def add_typed(nonnull_ok, msg=msg):
            """Combine the non-null predicate with the position's null rule."""
            if json_null:
                # a NULL here is JSON null: passes iff "null" is in types
                def ok_all(c: Column, ok=nonnull_ok) -> Column:
                    return F.when(c.isNull(), F.lit(null_ok)) \
                            .otherwise(F.coalesce(ok(c), F.lit(False)))
                add(ok_all,
                    lambda c, p: F.when(ok_all(c),
                                        F.array().cast(VIOLATION_SCHEMA))
                    .otherwise(F.array(
                        _viol_col("type", p, ref(c)) if ref is not None
                        else _viol("type", p, msg))))
            else:
                add_simple(nonnull_ok, "type", msg, ref=ref)

        if any(t in static_names for t in s.types):
            if json_null and not null_ok:
                # statically satisfied for non-null values, but a JSON null
                # at this position must still fail
                add_typed(lambda c: F.lit(True))
            return
        if "integer" in s.types and isinstance(dtype, _FRACTIONAL):
            # integer refinement: zero fraction (1.0 IS an integer) AND
            # finite (reference requires Float.isInt ∧ isFinite; ADVICE r1).
            # d % 1.0 == 0.0 covers every edge in one shot: NaN % 1 = NaN
            # != 0, Inf % 1 = NaN != 0 (Spark's NaN==NaN quirk can't help
            # it), and 1e29 stays in double land where F.floor's BIGINT
            # result type would overflow.
            add_typed(lambda c: (c.cast("double") % 1.0) == 0.0,
                      "expected integer")
            return
        add_typed(lambda c: F.lit(False))

    # ---- const / enum -----------------------------------------------------

    def _lower_const_enum(self, s: SchemaObject, dtype: DataType, add,
                          add_simple, null_means: str = "absent") -> None:
        json_null = null_means == "null"

        def add_eq(nonnull_ok, null_matches: bool, keyword: str, msg: str,
                   ref=None):
            if json_null:
                def ok_all(c: Column, ok=nonnull_ok, nm=null_matches) -> Column:
                    return F.when(c.isNull(), F.lit(nm)) \
                            .otherwise(F.coalesce(ok(c), F.lit(False)))
                add(ok_all,
                    lambda c, p, kw=keyword, m=msg, r=ref:
                    F.when(ok_all(c), F.array().cast(VIOLATION_SCHEMA))
                    .otherwise(F.array(
                        _viol_col(kw, p, r(c))
                        if self.message_style == "reference" and r is not None
                        else _viol(kw, p, m))))
            else:
                add_simple(nonnull_ok, keyword, msg, ref=ref)

        if s.const is not ABSENT:
            msg = f"expected {_cjson(s.const)}"
            cref = self._refb("const", dtype, const=s.const)
            if s.const is None:
                add_eq(lambda c: F.lit(False), True, "const", msg, ref=cref)
            else:
                pred = _eq_pred(s.const, dtype)
                if pred is None:
                    add_eq(lambda c: F.lit(False), False, "const", msg, ref=cref)
                else:
                    add_eq(pred, False, "const", msg, ref=cref)
        if s.enum is not None:
            null_in_enum = any(v is None for v in s.enum)
            eref = self._refb("enum", dtype, enum=list(s.enum))
            preds = [_eq_pred(v, dtype) for v in s.enum if v is not None]
            preds = [p for p in preds if p is not None]
            if not preds:
                add_eq(lambda c: F.lit(False), null_in_enum, "enum",
                       "not in enum", ref=eref)
            else:
                add_eq(lambda c, ps=preds: reduce(
                    lambda a, b: a | b,
                    (F.coalesce(p(c), F.lit(False)) for p in ps)),
                       null_in_enum, "enum", "not in enum", ref=eref)

    # ---- strings -----------------------------------------------------------

    def _lower_string(self, s: SchemaObject, dtype: DataType, add_simple) -> None:
        if not isinstance(dtype, StringType):
            return  # string keywords pass on non-strings
        if s.max_length is not None:
            n = s.max_length
            add_simple(lambda c, n=n: F.length(c) <= n, "maxLength",
                       f"length > {n}",
                       ref=self._refb("maxLength", dtype, limit=n))
        if s.min_length is not None:
            n = s.min_length
            add_simple(lambda c, n=n: F.length(c) >= n, "minLength",
                       f"length < {n}",
                       ref=self._refb("minLength", dtype, limit=n))
        if s.pattern is not None:
            from .regex_dialect import to_java_regex
            pat = s.pattern
            jpat = to_java_regex(pat)
            if jpat is None:
                raise CompileFallback(f"pattern not Java-safe: {pat!r}")
            # r6: metacharacter-free patterns drop the regex engine for a
            # codegen'd string primitive — JSON Schema `pattern` is an
            # unanchored SEARCH, so `^lit` == startswith, bare `lit` ==
            # contains, `lit$` == endswith (verdict-identical; pinned by
            # the cross-path differential tests).
            lit_fn = _literal_pattern_predicate(jpat)
            if lit_fn is not None:
                add_simple(lit_fn, "pattern", f"no match for {pat!r}",
                           ref=self._refb("pattern", dtype, pattern=pat))
            else:
                add_simple(lambda c, p=jpat: F.regexp_like(c, F.lit(p)),
                           "pattern", f"no match for {pat!r}",
                           ref=self._refb("pattern", dtype, pattern=pat))
        if self.assert_formats and s.format is not None:
            from .formats import format_predicate
            fmt = s.format
            if format_predicate(fmt, F.lit("")) is None:
                raise CompileFallback(
                    f"format {fmt!r} assertion has no native Spark "
                    "expression (interpreter path handles it)")
            add_simple(lambda c, f=fmt: format_predicate(f, c),
                       "format", f"not a valid {fmt!r}")

    # ---- numerics -----------------------------------------------------------

    def _lower_numeric(self, s: SchemaObject, dtype: DataType, add_simple) -> None:
        if not isinstance(dtype, _INTEGRAL + _FRACTIONAL):
            return
        def d(c: Column) -> Column:
            return c.cast("double")
        if s.maximum is not None:
            m = s.maximum
            add_simple(lambda c, m=m: d(c) <= m, "maximum", f"> {m}",
                       ref=self._refb("maximum", dtype, limit=m))
        if s.exclusive_maximum is not None:
            m = s.exclusive_maximum
            add_simple(lambda c, m=m: d(c) < m, "exclusiveMaximum", f">= {m}",
                       ref=self._refb("exclusiveMaximum", dtype, limit=m))
        if s.minimum is not None:
            m = s.minimum
            add_simple(lambda c, m=m: d(c) >= m, "minimum", f"< {m}",
                       ref=self._refb("minimum", dtype, limit=m))
        if s.exclusive_minimum is not None:
            m = s.exclusive_minimum
            add_simple(lambda c, m=m: d(c) > m, "exclusiveMinimum", f"<= {m}",
                       ref=self._refb("exclusiveMinimum", dtype, limit=m))
        if s.multiple_of is not None:
            m = s.multiple_of
            if m == 0:
                add_simple(lambda c: F.lit(False), "multipleOf", "multipleOf 0",
                           ref=self._refb("multipleOf", dtype, limit=m))
            else:
                # reference semantics: float division, zero fraction, finite
                # (x % 1.0 == 0.0 — NaN/Inf quotients give NaN != 0, and no
                # BIGINT overflow unlike F.floor)
                add_simple(
                    lambda c, m=m: (d(c) / m % 1.0) == 0.0,
                    "multipleOf", f"not a multiple of {m}",
                    ref=self._refb("multipleOf", dtype, limit=m))

    # ---- objects (StructType shredding) -----------------------------------

    def _lower_object(self, s: SchemaObject, dtype: DataType, base_uri: str,
                      depth: int, add, add_simple) -> None:
        has_obj_kw = any([
            s.required, s.properties, s.pattern_properties,
            s.property_names is not None,
            s.additional_properties is not None, s.max_properties is not None,
            s.min_properties is not None, s.dependencies,
        ])
        if not has_obj_kw:
            return
        if isinstance(dtype, MapType):
            self._lower_map_object(s, dtype, base_uri, depth, add, add_simple)
            return
        if not isinstance(dtype, StructType):
            return  # object keywords pass on non-objects

        names = [f.name for f in dtype.fields]
        field_type = {f.name: f.dataType for f in dtype.fields}

        def present(c: Column, k: str) -> Column:
            return c.getField(k).isNotNull() if k in field_type else F.lit(False)

        if s.required:
            req = list(s.required)
            add_simple(lambda c, r=req: reduce(lambda a, b: a & b,
                                               (present(c, k) for k in r)),
                       "required", f"missing one of {req}",
                       ref=self._refb("required", dtype, required=req))

        # key count on shredded structs = count of non-null fields
        if s.max_properties is not None or s.min_properties is not None:
            def nprops(c: Column) -> Column:
                return reduce(lambda a, b: a + b,
                              (present(c, k).cast("int") for k in names)) \
                    if names else F.lit(0)
            if s.max_properties is not None:
                m = s.max_properties
                add_simple(lambda c, m=m: nprops(c) <= m, "maxProperties",
                           f"> {m}",
                           ref=self._refb("maxProperties", dtype,
                                          count_fn=nprops, limit=m))
            if s.min_properties is not None:
                m = s.min_properties
                add_simple(lambda c, m=m: nprops(c) >= m, "minProperties",
                           f"< {m}",
                           ref=self._refb("minProperties", dtype,
                                          count_fn=nprops, limit=m))

        if s.properties:
            for name, sub in s.properties:
                if name not in field_type:
                    continue  # key can never be present -> check never fires
                low = self._lower(sub, field_type[name], base_uri, depth + 1)
                tok = escape_token(name)

                def v_fn(c: Column, lo=low, k=name) -> Column:
                    return F.when(c.isNull() | c.getField(k).isNull(), F.lit(True)) \
                            .otherwise(lo.valid(c.getField(k)))

                def viol_fn(c: Column, p: Column, lo=low, k=name, t=tok) -> Column:
                    return F.when(c.isNull() | c.getField(k).isNull(),
                                  F.array().cast(VIOLATION_SCHEMA)) \
                            .otherwise(lo.violations(c.getField(k),
                                                     F.concat(p, F.lit("/" + t))))
                add(v_fn, viol_fn)

        if s.property_names is not None:
            # field names are compile-time literals on shredded structs, but a
            # name check only applies to PRESENT (non-null) fields at runtime.
            pn = s.property_names
            if isinstance(pn, bool):
                bad = [] if pn else list(names)
            else:
                # evaluate the subschema with the FULL resolver context (root
                # registry + current base URI) so $refs inside propertyNames
                # resolve exactly as on the MapType/interpreter paths
                # (ADVICE r1: a bare CompiledValidator(pn.raw) lost the
                # registry and marked every name bad)
                from .interpreter import CompiledValidator
                nv = CompiledValidator(self._schema_json, uri=self.root_uri,
                                       registry=self._registry)
                bad = [k for k in names
                       if not nv._passes(pn, k, base_uri, nv.fuel)]
            if bad:
                # one violation per PRESENT bad name at the object's pointer
                # (interpreter/variant/MapType granularity)
                def pn_viols(c: Column, p: Column, b=bad) -> Column:
                    def mk(k: str) -> Column:
                        r = self._refb("propertyNames", dtype, name=k)
                        if r is not None:
                            return _viol_col("propertyNames", p, r(c))
                        return _viol("propertyNames", p,
                                     f"property name '{k}' invalid")
                    return F.when(c.isNull(), F.array().cast(VIOLATION_SCHEMA)) \
                            .otherwise(_concat_viols([
                                F.when(present(c, k), F.array(mk(k)))
                                 .otherwise(F.array().cast(VIOLATION_SCHEMA))
                                for k in b]))
                add(lambda c, b=bad: _guard(c, ~reduce(
                        lambda x, y: x | y, (present(c, k) for k in b))),
                    pn_viols)

        if s.additional_properties is not None:
            declared = {n for n, _ in (s.properties or [])}
            pattern_res = [p for p, _ in (s.pattern_properties or [])]
            extra = []
            for k in names:
                if k in declared:
                    continue
                if any(re.search(p, k) for p in pattern_res if java_regex_safe(p)):
                    continue
                extra.append(k)
            if extra:
                if isinstance(s.additional_properties, bool):
                    if not s.additional_properties:
                        # one 'false' violation per present extra key
                        # (reference validates each against `false`)
                        def ap_viols(c: Column, p: Column, e=extra) -> Column:
                            return F.when(c.isNull(),
                                          F.array().cast(VIOLATION_SCHEMA)) \
                                    .otherwise(_concat_viols([
                                        F.when(present(c, k), F.array(_viol(
                                            "false",
                                            F.concat(p, F.lit(
                                                "/" + escape_token(k))),
                                            "Boolean schema 'false' rejects "
                                            "all values")))
                                         .otherwise(F.array()
                                                    .cast(VIOLATION_SCHEMA))
                                        for k in e]))
                        add(lambda c, e=extra: _guard(c, ~reduce(
                                lambda x, y: x | y,
                                (present(c, k) for k in e))),
                            ap_viols)
                else:
                    for k in extra:
                        low = self._lower(s.additional_properties, field_type[k],
                                          base_uri, depth + 1)
                        tok = escape_token(k)

                        def v_fn(c: Column, lo=low, kk=k) -> Column:
                            return F.when(c.isNull() | c.getField(kk).isNull(), F.lit(True)) \
                                    .otherwise(lo.valid(c.getField(kk)))

                        def viol_fn(c: Column, p: Column, lo=low, kk=k, t=tok) -> Column:
                            return F.when(c.isNull() | c.getField(kk).isNull(),
                                          F.array().cast(VIOLATION_SCHEMA)) \
                                    .otherwise(lo.violations(c.getField(kk),
                                                             F.concat(p, F.lit("/" + t))))
                        add(v_fn, viol_fn)

        if s.pattern_properties:
            declared_by_pattern: list[tuple[str, Schema]] = s.pattern_properties
            for pat, sub in declared_by_pattern:
                if not java_regex_safe(pat):
                    raise CompileFallback(f"patternProperties regex {pat!r}")
                for k in names:
                    if re.search(pat, k) is None:
                        continue
                    low = self._lower(sub, field_type[k], base_uri, depth + 1)
                    tok = escape_token(k)

                    def v_fn(c: Column, lo=low, kk=k) -> Column:
                        return F.when(c.isNull() | c.getField(kk).isNull(), F.lit(True)) \
                                .otherwise(lo.valid(c.getField(kk)))

                    def viol_fn(c: Column, p: Column, lo=low, kk=k, t=tok) -> Column:
                        return F.when(c.isNull() | c.getField(kk).isNull(),
                                      F.array().cast(VIOLATION_SCHEMA)) \
                                .otherwise(lo.violations(c.getField(kk),
                                                         F.concat(p, F.lit("/" + t))))
                    add(v_fn, viol_fn)

        if s.dependencies:
            for key, dep in s.dependencies:
                if dep.required_props is not None:
                    reqs = dep.required_props
                    dref = None
                    if self.message_style == "reference" and reqs:
                        # interpreter ctx: req = first MISSING prop (runtime)
                        def dref(c: Column, k=key, r=tuple(reqs)) -> Column:
                            from .lean_messages import ref_prefix
                            first_missing = F.coalesce(
                                *[F.when(~present(c, x), F.lit(x)) for x in r],
                                F.lit(r[0]))
                            pre = ref_prefix("dependencies", key=k, req="\x00")
                            head, tail = pre.split("\x00")
                            return F.concat(
                                F.lit(head), first_missing, F.lit(tail),
                                F.coalesce(lean_compress_typed(c, dtype),
                                           F.lit("null")))
                    add_simple(
                        lambda c, k=key, r=reqs: F.when(
                            present(c, k),
                            reduce(lambda a, b: a & b, (present(c, x) for x in r))
                            if r else F.lit(True)).otherwise(F.lit(True)),
                        "dependencies", f"{key!r} requires {dep.required_props}",
                        ref=dref)
                if dep.schema is not None:
                    low = self._lower(dep.schema, dtype, base_uri, depth + 1)

                    def v_fn(c: Column, lo=low, k=key) -> Column:
                        return F.when(c.isNull() | ~present(c, k), F.lit(True)) \
                                .otherwise(lo.valid(c))

                    def viol_fn(c: Column, p: Column, lo=low, k=key) -> Column:
                        return F.when(c.isNull() | ~present(c, k),
                                      F.array().cast(VIOLATION_SCHEMA)) \
                                .otherwise(lo.violations(c, p))
                    add(v_fn, viol_fn)

    def _lower_map_object(self, s: SchemaObject, dtype: MapType, base_uri: str,
                          depth: int, add, add_simple) -> None:
        """Object keywords over MapType columns (dynamic keys, uniform value
        type). Uses map_* collection functions + HOFs over map_keys/entries;
        key presence is map_contains_key (a null VALUE still counts as a
        present key, unlike struct shredding)."""
        if not isinstance(dtype.keyType, StringType):
            raise CompileFallback("map object keys must be strings")
        val_t = dtype.valueType

        if s.required:
            req = list(s.required)
            add_simple(lambda c, r=req: reduce(
                lambda a, b: a & b, (F.map_contains_key(c, k) for k in r)),
                "required", f"missing one of {req}")

        if s.max_properties is not None:
            m = s.max_properties
            add_simple(lambda c, m=m: F.size(c) <= m, "maxProperties", f"> {m}")
        if s.min_properties is not None:
            m = s.min_properties
            add_simple(lambda c, m=m: F.size(c) >= m, "minProperties", f"< {m}")

        if s.properties:
            for name, sub in s.properties:
                low = self._lower(sub, val_t, base_uri, depth + 1)
                tok = escape_token(name)

                def v_fn(c: Column, lo=low, k=name) -> Column:
                    return F.when(c.isNull() | ~F.map_contains_key(c, k),
                                  F.lit(True)) \
                            .otherwise(F.coalesce(lo.valid(F.element_at(c, k)),
                                                  F.lit(False)))

                def viol_fn(c: Column, p: Column, lo=low, k=name, t=tok) -> Column:
                    return F.when(c.isNull() | ~F.map_contains_key(c, k),
                                  F.array().cast(VIOLATION_SCHEMA)) \
                            .otherwise(lo.violations(F.element_at(c, k),
                                                     F.concat(p, F.lit("/" + t))))
                add(v_fn, viol_fn)

        if s.property_names is not None:
            pn = s.property_names
            low = self._lower(pn, StringType(), base_uri, depth + 1)

            def pn_viols(c: Column, p: Column, lo=low) -> Column:
                # one violation per offending name (interpreter granularity)
                return F.when(c.isNull(), F.array().cast(VIOLATION_SCHEMA)) \
                        .otherwise(F.transform(
                            F.filter(F.map_keys(c),
                                     lambda k: ~F.coalesce(lo.valid(k),
                                                           F.lit(False))),
                            lambda k: F.struct(
                                F.lit("propertyNames").alias("keyword"),
                                p.alias("json_pointer"),
                                F.concat(F.lit("property name '"), k,
                                         F.lit("' invalid"))
                                 .alias("message"))))

            add(lambda c, lo=low: _guard(c, F.forall(
                    F.map_keys(c),
                    lambda k: F.coalesce(lo.valid(k), F.lit(False)))),
                pn_viols)

        from .regex_dialect import to_java_regex
        pattern_res = []
        for pat, _ in (s.pattern_properties or []):
            jpat = to_java_regex(pat)
            if jpat is None:
                raise CompileFallback(f"patternProperties regex {pat!r}")
            pattern_res.append(jpat)
        def _entries_viols(entries_fn, low):
            """Recurse into each entry's value with a per-key pointer."""
            def viol_fn(c: Column, p: Column) -> Column:
                return F.when(c.isNull(), F.array().cast(VIOLATION_SCHEMA)) \
                        .otherwise(F.flatten(F.transform(
                            entries_fn(c),
                            lambda kv: low.violations(
                                kv.getField("value"),
                                F.concat(p, F.lit("/"),
                                         _ptr_key(kv.getField("key")))))))
            return viol_fn

        if s.pattern_properties:
            for (pat, sub), jpat in zip(s.pattern_properties, pattern_res):
                low = self._lower(sub, val_t, base_uri, depth + 1)

                def matched_fn(c: Column, p=jpat) -> Column:
                    return F.filter(
                        F.map_entries(c),
                        lambda kv: F.regexp_like(kv.getField("key"), F.lit(p)))

                def v_fn(c: Column, lo=low, m=matched_fn) -> Column:
                    return _guard(c, F.forall(
                        m(c),
                        lambda kv: F.coalesce(lo.valid(kv.getField("value")),
                                              F.lit(False))))

                add(v_fn, _entries_viols(matched_fn, low))

        if s.additional_properties is not None:
            declared = [n for n, _ in (s.properties or [])]

            def extra_entries(c: Column) -> Column:
                def is_extra(kv: Column) -> Column:
                    cond = ~kv.getField("key").isin(*declared) if declared else F.lit(True)
                    for p in pattern_res:
                        cond = cond & ~F.regexp_like(kv.getField("key"), F.lit(p))
                    return cond
                return F.filter(F.map_entries(c), is_extra)

            if isinstance(s.additional_properties, bool):
                if not s.additional_properties:
                    def ap_viols(c: Column, p: Column) -> Column:
                        # one 'false' violation per extra key (reference
                        # validates each extra value against `false`)
                        return F.when(c.isNull(),
                                      F.array().cast(VIOLATION_SCHEMA)) \
                                .otherwise(F.transform(
                                    extra_entries(c),
                                    lambda kv: F.struct(
                                        F.lit("false").alias("keyword"),
                                        F.concat(p, F.lit("/"),
                                                 _ptr_key(kv.getField("key")))
                                         .alias("json_pointer"),
                                        F.lit("Boolean schema 'false' "
                                              "rejects all values")
                                         .alias("message"))))
                    add(lambda c: _guard(c, F.size(extra_entries(c)) == 0),
                        ap_viols)
            else:
                low = self._lower(s.additional_properties, val_t, base_uri, depth + 1)
                add(lambda c, lo=low: _guard(c, F.forall(
                        extra_entries(c),
                        lambda kv: F.coalesce(lo.valid(kv.getField("value")),
                                              F.lit(False)))),
                    _entries_viols(extra_entries, low))

        if s.dependencies:
            for key, dep in s.dependencies:
                if dep.required_props is not None:
                    reqs = dep.required_props
                    add_simple(
                        lambda c, k=key, r=reqs: F.when(
                            F.map_contains_key(c, k),
                            reduce(lambda a, b: a & b,
                                   (F.map_contains_key(c, x) for x in r))
                            if r else F.lit(True)).otherwise(F.lit(True)),
                        "dependencies", f"{key!r} requires {dep.required_props}")
                if dep.schema is not None:
                    low = self._lower(dep.schema, dtype, base_uri, depth + 1)

                    def v_fn(c: Column, lo=low, k=key) -> Column:
                        return F.when(c.isNull() | ~F.map_contains_key(c, k),
                                      F.lit(True)).otherwise(lo.valid(c))

                    def viol_fn(c: Column, p: Column, lo=low, k=key) -> Column:
                        return F.when(c.isNull() | ~F.map_contains_key(c, k),
                                      F.array().cast(VIOLATION_SCHEMA)) \
                                .otherwise(lo.violations(c, p))
                    add(v_fn, viol_fn)

    # ---- arrays -------------------------------------------------------------

    def _lower_array(self, s: SchemaObject, dtype: DataType, base_uri: str,
                     depth: int, add, add_simple) -> None:
        has_arr_kw = any([
            s.items is not None, s.additional_items is not None,
            s.max_items is not None, s.min_items is not None,
            s.unique_items, s.contains is not None,
        ])
        if not has_arr_kw or not isinstance(dtype, ArrayType):
            return
        elem_t = dtype.elementType

        if s.max_items is not None:
            m = s.max_items
            add_simple(lambda c, m=m: F.size(c) <= m, "maxItems", f"> {m}",
                       ref=self._refb("maxItems", dtype, count_fn=F.size,
                                      limit=m))
        if s.min_items is not None:
            m = s.min_items
            add_simple(lambda c, m=m: F.size(c) >= m, "minItems", f"< {m}",
                       ref=self._refb("minItems", dtype, count_fn=F.size,
                                      limit=m))
        if s.unique_items:
            add_simple(lambda c: F.size(F.array_distinct(c)) == F.size(c),
                       "uniqueItems", "duplicate elements",
                       ref=self._refb("uniqueItems", dtype))

        if s.items is not None and not s.items.is_tuple:
            low = self._lower(s.items.single, elem_t, base_uri, depth + 1, "null")
            add(
                lambda c, lo=low: _guard(
                    c, F.forall(c, lambda e: F.coalesce(lo.valid(e), F.lit(False)))),
                lambda c, p, lo=low: F.when(c.isNull(), F.array().cast(VIOLATION_SCHEMA))
                .otherwise(F.flatten(_transform_with_index(
                    c, lambda e, i: lo.violations(
                        e, F.concat(p, F.lit("/"), i.cast("string")))))),
            )
        elif s.items is not None and s.items.is_tuple:
            for i, sub in enumerate(s.items.tuple_items):
                low = self._lower(sub, elem_t, base_uri, depth + 1, "null")

                def v_fn(c: Column, lo=low, i=i) -> Column:
                    e = F.get(c, i)
                    return F.when(c.isNull() | (F.size(c) <= i), F.lit(True)) \
                            .otherwise(F.coalesce(lo.valid(e), F.lit(False)))

                def viol_fn(c: Column, p: Column, lo=low, i=i) -> Column:
                    e = F.get(c, i)
                    return F.when(c.isNull() | (F.size(c) <= i),
                                  F.array().cast(VIOLATION_SCHEMA)) \
                            .otherwise(lo.violations(e, F.concat(p, F.lit(f"/{i}"))))
                add(v_fn, viol_fn)

            if s.additional_items is not None:
                k = len(s.items.tuple_items)
                low = self._lower(s.additional_items, elem_t, base_uri, depth + 1, "null")
                add(
                    lambda c, lo=low, k=k: _guard(
                        c, F.forall(F.slice(c, k + 1, F.greatest(F.size(c) - k, F.lit(0))),
                                    lambda e: F.coalesce(lo.valid(e), F.lit(False)))),
                    lambda c, p, lo=low, k=k: F.when(
                        c.isNull(), F.array().cast(VIOLATION_SCHEMA))
                    .otherwise(F.flatten(_transform_with_index(
                        F.slice(c, k + 1, F.greatest(F.size(c) - k, F.lit(0))),
                        lambda e, i: lo.violations(
                            e, F.concat(p, F.lit("/"), (i + k).cast("string")))))),
                )

        if s.contains is not None:
            low = self._lower(s.contains, elem_t, base_uri, depth + 1, "null")
            lo_n = s.min_contains if s.min_contains is not None else 1
            hi_n = s.max_contains
            cref = None
            if self.message_style == "reference":
                ref_empty = self._refb("contains", dtype,
                                       prefix_key="contains_empty")
                ref_nomatch = self._refb("contains", dtype)

                def cref(c: Column) -> Column:
                    # mirror the interpreter: empty-array message iff size==0
                    return F.when(F.size(c) == 0, ref_empty(c)) \
                            .otherwise(ref_nomatch(c))
            if lo_n == 1 and hi_n is None:
                add_simple(
                    lambda c, lo=low: (F.size(c) > 0)
                    & F.exists(c, lambda e: F.coalesce(lo.valid(e), F.lit(False))),
                    "contains", "no element matches (or empty array)",
                    ref=cref)
            else:
                # 2020-12 min/maxContains (extension): bound the match count
                def n_matched(c: Column, lo=low) -> Column:
                    return F.size(F.filter(
                        c, lambda e: F.coalesce(lo.valid(e), F.lit(False))))
                pred_parts = []
                if lo_n > 0:
                    pred_parts.append(lambda c: n_matched(c) >= lo_n)
                if hi_n is not None:
                    pred_parts.append(lambda c: n_matched(c) <= hi_n)
                add_simple(
                    lambda c, ps=pred_parts: reduce(
                        lambda a, b: a & b, (p(c) for p in ps))
                    if ps else F.lit(True),
                    "contains",
                    f"match count outside [{lo_n}, {hi_n}]",
                    ref=cref)

    # ---- combinators ----------------------------------------------------------

    def _lower_combinators(self, s: SchemaObject, dtype: DataType, base_uri: str,
                           depth: int, add, null_means: str = "absent") -> None:
        if s.all_of is not None:
            for sub in s.all_of:
                low = self._lower(sub, dtype, base_uri, depth + 1, null_means)
                add(low.valid, low.violations)
        def branch_errs(c: Column, p: Column, lows) -> Column:
            """Lean-array-of-arrays of per-branch violation MESSAGES — the
            `Errors:` slot of the reference anyOf / oneOf(0) strings
            (messages are reference-style recursively, so the embedded
            strings byte-match the interpreter's _branch_errors)."""
            parts = [F.concat(
                F.lit("#["),
                F.array_join(F.transform(lo.violations(c, p),
                                         lambda x: x.getField("message")),
                             ", "),
                F.lit("]")) for lo in lows]
            return F.concat(F.lit("#["),
                            F.concat_ws(", ", *parts) if parts else F.lit(""),
                            F.lit("]"))

        if s.any_of is not None:
            lows = [self._lower(sub, dtype, base_uri, depth + 1, null_means) for sub in s.any_of]
            def v_fn(c: Column, ls=lows) -> Column:
                if not ls:
                    return F.lit(False)  # empty anyOf: no branch can match
                return reduce(lambda a, b: a | b,
                              (F.coalesce(lo.valid(c), F.lit(False)) for lo in ls))

            def any_viol(c: Column, p: Column, v=v_fn, ls=lows) -> Column:
                if self.message_style == "reference":
                    msg = F.concat(
                        F.lit("anyOf: no schemas matched. Errors: "),
                        branch_errs(c, p, ls), F.lit(" "),
                        F.coalesce(lean_compress_typed(c, dtype),
                                   F.lit("null")))
                    bad = F.array(_viol_col("anyOf", p, msg))
                else:
                    bad = F.array(_viol("anyOf", p, "no branch matched"))
                return F.when(v(c), F.array().cast(VIOLATION_SCHEMA)) \
                        .otherwise(bad)
            add(v_fn, any_viol)
        if s.one_of is not None:
            lows = [self._lower(sub, dtype, base_uri, depth + 1, null_means) for sub in s.one_of]
            def v1_fn(c: Column, ls=lows) -> Column:
                if not ls:
                    return F.lit(False)  # empty oneOf: zero matches != 1
                return reduce(lambda a, b: a + b,
                              (F.coalesce(lo.valid(c), F.lit(False)).cast("int")
                               for lo in ls)) == 1

            def one_viol(c: Column, p: Column, v=v1_fn, ls=lows) -> Column:
                if self.message_style == "reference":
                    n = reduce(lambda a, b: a + b,
                               (F.coalesce(lo.valid(c), F.lit(False))
                                 .cast("int") for lo in ls)) \
                        if ls else F.lit(0)
                    compressed = F.coalesce(lean_compress_typed(c, dtype),
                                            F.lit("null"))
                    msg = F.when(
                        n == 0,
                        F.concat(F.lit("oneOf: expected exactly 1 match but "
                                       "got 0. Errors: "),
                                 branch_errs(c, p, ls), F.lit(" "),
                                 compressed)) \
                        .otherwise(F.concat(
                            F.lit("oneOf: expected exactly 1 match but got "),
                            n.cast("string"), F.lit(" "), compressed))
                    bad = F.array(_viol_col("oneOf", p, msg))
                else:
                    bad = F.array(_viol("oneOf", p, "matched != 1 branches"))
                return F.when(v(c), F.array().cast(VIOLATION_SCHEMA)) \
                        .otherwise(bad)
            add(v1_fn, one_viol)
        if s.not_ is not None:
            low = self._lower(s.not_, dtype, base_uri, depth + 1, null_means)
            def vn_fn(c: Column, lo=low) -> Column:
                return ~F.coalesce(lo.valid(c), F.lit(False))
            nref = self._refb("not", dtype)
            add(vn_fn, lambda c, p, v=vn_fn, r=nref: F.when(
                    v(c), F.array().cast(VIOLATION_SCHEMA))
                .otherwise(F.array(
                    _viol_col("not", p, r(c)) if r is not None
                    else _viol("not", p, "schema matched but must not"))))
        if s.if_ is not None:
            if_low = self._lower(s.if_, dtype, base_uri, depth + 1, null_means)
            then_low = self._lower(s.then_, dtype, base_uri, depth + 1, null_means) \
                if s.then_ is not None else _LOWERED_TRUE
            else_low = self._lower(s.else_, dtype, base_uri, depth + 1, null_means) \
                if s.else_ is not None else _LOWERED_TRUE
            add(
                lambda c: F.when(F.coalesce(if_low.valid(c), F.lit(False)),
                                 then_low.valid(c)).otherwise(else_low.valid(c)),
                lambda c, p: F.when(F.coalesce(if_low.valid(c), F.lit(False)),
                                    then_low.violations(c, p))
                .otherwise(else_low.violations(c, p)),
            )


def _transform_with_index(col: Column, fn) -> Column:
    return F.transform(col, lambda e, i: fn(e, i))


def _static_type_names(dtype: DataType) -> set[str]:
    """JSON type names a non-null value of this dtype ALWAYS satisfies."""
    if isinstance(dtype, StringType):
        return {"string"}
    if isinstance(dtype, BooleanType):
        return {"boolean"}
    if isinstance(dtype, _INTEGRAL):
        return {"integer", "number"}
    if isinstance(dtype, _FRACTIONAL):
        return {"number"}
    if isinstance(dtype, (StructType, MapType)):
        return {"object"}
    if isinstance(dtype, ArrayType):
        return {"array"}
    return set()


def _literal_for(value: Any, dtype: DataType) -> Optional[Column]:
    """Literal for SCALAR const/enum comparison, or None if the value can
    never equal a (non-null) instance of this dtype."""
    if isinstance(value, bool):
        return F.lit(value) if isinstance(dtype, BooleanType) else None
    if isinstance(value, (int, float)):
        if isinstance(dtype, _INTEGRAL + _FRACTIONAL):
            return F.lit(float(value)).cast(dtype) if isinstance(dtype, _FRACTIONAL) \
                else (F.lit(int(value)) if float(value).is_integer() else None)
        return None
    if isinstance(value, str):
        return F.lit(value) if isinstance(dtype, StringType) else None
    return None


def _eq_pred(value: Any, dtype: DataType) -> Optional[Callable[[Column], Column]]:
    """Predicate-builder for const/enum equality of `value` against a typed
    column, per the reference's jsonSchemaEq
    (/root/reference/JsonSchema/Validation.lean:17-33): numeric-tolerant
    scalars, ordered arrays, key-set objects. Returns None when the value
    can never equal ANY (non-null) instance of this dtype — callers emit a
    constant-false check then.

    Struct caveat (documented shredding ambiguity): a NULL struct field is
    ABSENT, so a literal ``{"a": null}`` matches a struct row whose ``a`` is
    NULL — the shredded representation cannot carry present-with-null."""
    if isinstance(value, (dict, list)):
        return _deep_eq_pred(value, dtype)
    lit = _literal_for(value, dtype)
    if lit is None:
        return None
    return lambda c, l=lit: c == l


def _deep_eq_pred(value: Any, dtype: DataType) -> Optional[Callable[[Column], Column]]:
    if isinstance(value, list):
        if not isinstance(dtype, ArrayType):
            return None
        et = dtype.elementType
        elem_preds: list[Optional[Callable[[Column], Column]]] = []
        for v in value:
            if v is None:
                elem_preds.append(None)  # marker: element must be JSON null
            else:
                p = _eq_pred(v, et)
                if p is None:
                    return None
                elem_preds.append(p)

        def arr_ok(c: Column, ps=elem_preds, n=len(value)) -> Column:
            parts = [c.isNotNull(), F.size(c) == n]
            for i, p in enumerate(ps):
                e = F.get(c, i)
                if p is None:
                    parts.append(e.isNull())  # array element NULL = JSON null
                else:
                    parts.append(e.isNotNull() & F.coalesce(p(e), F.lit(False)))
            return reduce(lambda a, b: a & b, parts)
        return arr_ok

    if isinstance(value, dict):
        if isinstance(dtype, MapType):
            if not isinstance(dtype.keyType, StringType):
                return None
            vt = dtype.valueType
            kv_preds: dict[str, Optional[Callable[[Column], Column]]] = {}
            for k, v in value.items():
                if v is None:
                    kv_preds[k] = None  # present key, JSON-null value
                else:
                    p = _eq_pred(v, vt)
                    if p is None:
                        return None
                    kv_preds[k] = p

            def map_ok(c: Column, ps=kv_preds, n=len(value)) -> Column:
                parts = [c.isNotNull(), F.size(c) == n]
                for k, p in ps.items():
                    has = F.map_contains_key(c, k)
                    if p is None:
                        parts.append(has & F.element_at(c, k).isNull())
                    else:
                        parts.append(has & F.coalesce(
                            p(F.element_at(c, k)), F.lit(False)))
                return reduce(lambda a, b: a & b, parts)
            return map_ok

        if not isinstance(dtype, StructType):
            return None
        field_type = {f.name: f.dataType for f in dtype.fields}
        f_preds: dict[str, Optional[Callable[[Column], Column]]] = {}
        for k, v in value.items():
            if k not in field_type:
                return None  # dtype can never carry key k
            if v is None:
                f_preds[k] = None  # shredding ambiguity: NULL field matches
            else:
                p = _eq_pred(v, field_type[k])
                if p is None:
                    return None
                f_preds[k] = p
        absent = [f.name for f in dtype.fields if f.name not in value]

        def struct_ok(c: Column, ps=f_preds, ab=absent) -> Column:
            parts = [c.isNotNull()]
            for k, p in ps.items():
                fld = c.getField(k)
                if p is None:
                    parts.append(fld.isNull())
                else:
                    parts.append(fld.isNotNull()
                                 & F.coalesce(p(fld), F.lit(False)))
            for k in ab:
                parts.append(c.getField(k).isNull())  # key-set equality
            return reduce(lambda a, b: a & b, parts)
        return struct_ok

    raise AssertionError("scalars route through _eq_pred")


def _cjson(v: Any) -> str:
    return json.dumps(v, separators=(",", ":"), sort_keys=True)
