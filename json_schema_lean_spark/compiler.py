"""Schema AST -> native Spark Column predicate plans: the one keyword walk
and its static-dtype value model (the 100 TB scale path).

This is the engine's analog of the reference's interpreter loop
(/root/reference/JsonSchema/Validation.lean:375-424) re-expressed as a
compile-time lowering: the schema is walked ONCE on the driver, emitting a
fused Column expression DAG that Catalyst optimizes and whole-stage-codegens.
No Python runs per row.

:class:`KeywordWalk` is that walk, written once for both compiled backends.
It holds the ``$ref``/boolean/``$id`` driver, the ``add``/``add_simple``
fold, the reference-message builder, and the string, numeric, array,
map-shaped object and combinator keywords. A VALUE MODEL supplies what
differs between backends: how a value of each JSON kind is reached and
type-gated (a :class:`View`), how a value renders in reference messages,
``type``, ``const``/``enum``, ``uniqueItems`` and struct-shredded objects.
Each :class:`Frame` carries the model of the value at that position, so the
model can change below a node. There are exactly two:

- :class:`StaticModel` (here), for :class:`ColumnarCompiler`: the value is a
  column of a known Spark DataType. ``type`` checks resolve statically (a
  StringType column always satisfies ``"type":"string"``); ``required`` on
  shredded structs degenerates to not-null checks; ``propertyNames``/
  ``additionalProperties`` over StructType constant-fold against the literal
  field list.
- ``variant.VariantModel``, for ``variant.VariantCompiler``: the value is a
  VARIANT typed per row by ``schema_of_variant``. Its object keys are plain
  strings, so ``propertyNames`` lowers over them with the static model.

Shared semantics:

- **$ref inlining**: refs resolve at compile time through the driver-side
  Resolver (:meth:`KeywordWalk.ref_step`). "Evil" cycles (through allOf/
  anyOf/oneOf/not/if/then/else, which do not consume instance depth) are
  rejected up front by the cycle DFS (resolver.find_ref_cycle); past that
  the static front end caps the inline depth and the variant one bounds
  its unrolling of benign recursion.
- **absent = null**: a null value models a missing JSON key, so every
  keyword check passes on null input (the reference's type-guard semantics,
  Validation.lean:46 etc.).
- **two outputs per node**: a cheap fused ``valid`` boolean (verdict
  throughput mode) and a ``violations`` array<struct<keyword,json_pointer,
  message>> (audit mode) with RFC 6901 pointers built as Column expressions.

Anything not lowerable to Columns (exotic regex, non-string map keys)
raises :class:`CompileFallback`; callers route those to the Arrow-batch
interpreter path (operators/validation.py) — never a row-at-a-time Python UDF.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass
from functools import reduce
from typing import Any, Callable, NamedTuple, Optional

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

#: structured-mode uniqueItems message (both value models)
UNIQUE_ITEMS_MSG = "array items are not unique"


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


def _empty() -> Column:
    return F.array().cast(VIOLATION_SCHEMA)


def _no_viols(_: Column, __: Column) -> Column:
    return _empty()


_LOWERED_TRUE = Lowered(valid=_true, violations=_no_viols)


def _viol(keyword: str, ptr: Column, message: str) -> Column:
    return F.struct(
        F.lit(keyword).alias("keyword"),
        ptr.alias("json_pointer"),
        F.lit(message).alias("message"),
    )


_LOWERED_FALSE = Lowered(
    valid=lambda c: F.lit(False),
    violations=lambda c, p: F.array(
        _viol("false", p, "Boolean schema 'false' rejects all values")))


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
        return _empty()
    if len(parts) == 1:
        return parts[0]
    return F.concat(*parts)


def _cond_viol(col: Column, ok: Column, keyword: str, ptr: Column, msg: str) -> Column:
    """Emit a 1-element violation array when the (null-guarded) check fails."""
    return F.when(_guard(col, ok), _empty()) \
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
    return F.when(_guard(col, ok), _empty()) \
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


def _java_pattern(pattern: str, reason: str) -> str:
    """regex_dialect.to_java_regex, declining with ``reason`` when None."""
    from .regex_dialect import to_java_regex
    jpat = to_java_regex(pattern)
    if jpat is None:
        raise CompileFallback(f"{reason} {pattern!r}")
    return jpat


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


# ---------------------------------------------------------------------------
# The one keyword walk
# ---------------------------------------------------------------------------

class Frame(NamedTuple):
    """Where a node is lowered: the value model of the value there, the
    base URI in effect, the inline depth, and the $ref targets inlined on
    the way (the variant front end bounds its unrolling with them)."""

    m: Any
    base_uri: str
    depth: int = 0
    chain: tuple = ()


def _same(c: Column) -> Column:
    return c


def _value_text(m) -> Callable[[Column], Column]:
    """Json.compress of a value in value model ``m``, for reference
    messages. NULL only reaches a firing violation at null_means='null'
    positions, where it IS a JSON null."""
    return lambda v: F.coalesce(m.compress(v), F.lit("null"))


def _passes(low: Lowered) -> Callable[[Column], Column]:
    """``low``'s verdict with NULL as false, as a one-parameter HOF body."""
    return lambda e: F.coalesce(low.valid(e), F.lit(False))


@dataclass(frozen=True)
class View:
    """How a value model reaches the values of one JSON kind: ``get`` is
    the value as that kind (string, double, array, or map<string,_>) and
    ``test`` the runtime kind test — None when the static dtype already IS
    the kind, so only a NULL (absent) value has to pass. Object views add
    key presence ``has(v, k)``, key access ``member(v, k)``, the key
    ``count(v)`` and, on shredded structs, the compile-time ``fields``."""

    get: Callable[[Column], Column]
    test: Optional[Callable[[Column], Column]] = None
    has: Optional[Callable[[Column, str], Column]] = None
    member: Optional[Callable[[Column, str], Column]] = None
    count: Optional[Callable[[Column], Column]] = None
    fields: Optional[dict[str, DataType]] = None

    def gate(self, fn: Callable[[Column], Column]) -> Callable[[Column], Column]:
        """``fn`` on values of the kind; other values pass."""
        if self.test is None:
            return fn
        return lambda v: F.when(self.test(v), fn(v)).otherwise(F.lit(True))

    def check(self, pred: Callable[[Column], Column]) -> Callable[[Column], Column]:
        """``pred`` over the typed value, gated (for ``add_simple``)."""
        return self.gate(lambda v: pred(self.get(v)))

    # Where a check nests further lowerings, its guard puts the passing
    # branch FIRST: when(absent / skip, pass).otherwise(check), or _guard's
    # when(isnull, true). The variant compiler unrolls a recursive $ref two
    # dozen levels deep, and with check-first conditionals at each level the
    # subexpression elimination of Spark's interpreted projection goes
    # exponential (5 rows of the suite schema ref/0 at local[1]: ~20 s
    # passing-first, over 300 s check-first).

    def absent(self, v: Column, k: str) -> Column:
        """Object views: key ``k`` is not there (or ``v`` itself is not)."""
        return v.isNull() | ~self.has(v, k)

    def skip(self, v: Column) -> Column:
        """True where the keyword does not apply (absent / other kind)."""
        return v.isNull() if self.test is None else v.isNull() | ~self.test(v)

    def valid(self, v: Column, pred: Callable[[Column], Column]) -> Column:
        """Verdict of ``pred`` over the typed value; absent/other pass."""
        return _guard(v, self.check(pred)(v))

    def viols(self, v: Column, fn: Callable[[Column], Column]) -> Column:
        """Violations ``fn`` builds from the typed value; none otherwise."""
        return F.when(self.skip(v), _empty()).otherwise(fn(self.get(v)))


class KeywordWalk:
    """The keyword walk shared by both compilers (module docstring). Front
    ends define ``_enter`` (a per-node budget) and may define ``_ref_leaf``
    (a Lowered to use in place of a ``$ref`` target)."""

    def __init__(self, schema_json: Any, uri: str,
                 registry: Optional[dict[str, Any]], message_style: str,
                 assert_formats: bool) -> None:
        #: "structured" (concise human messages) or "reference" (byte-parity
        #: with the Lean reportError strings — the offending value is
        #: compressed into the message at runtime by the value model)
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
        #: evil $ref cycle (or None); each front end rejects it its own way
        self.ref_cycle = find_ref_cycle(self.resolver)

    def _enter(self, f: Frame) -> None:
        raise NotImplementedError

    def _ref_leaf(self, key: str, f: Frame) -> Optional[Lowered]:
        return None

    def ref_step(self, ref: str, base_uri: str):
        """One ``$ref`` step: (target URI, root, subpath, (node, its base
        URI) or None when unresolvable)."""
        target = resolve_uri(base_uri, ref)
        root, subpath = self.resolver.resolve_path(target)
        return target, root, subpath, self.resolver.get_schema_and_uri(root, subpath)

    # ---- reference-style messages -----------------------------------------

    def _refb(self, keyword: str, m, count_fn=None,
              prefix_key: Optional[str] = None, **ctx):
        """Reference-style message builder (v -> Column) for add_simple's
        `ref` parameter, or None outside reference mode. The static prefix
        comes from lean_messages.ref_prefix; the runtime tail follows
        lean_messages.REF_SHAPES, rendered by the value model ``m``."""
        if self.message_style != "reference":
            return None
        from .lean_messages import REF_SHAPES, ref_prefix
        pre = ref_prefix(prefix_key or keyword, **ctx)
        shape = REF_SHAPES[keyword]
        text = _value_text(m)
        if shape == "value":
            return lambda v: F.concat(F.lit(pre), text(v))
        if shape == "strlen":
            s = m.view("string").get
            return lambda v: F.concat(F.lit(pre), F.length(s(v)).cast("string"))
        if shape == "num":
            return lambda v: F.concat(F.lit(pre + '"'), m.num_text(v), F.lit('"'))
        if shape == "count_value":
            return lambda v: F.concat(F.lit(pre), count_fn(v).cast("string"),
                                      F.lit(" "), text(v))
        return None  # pragma: no cover

    def _refb_slot(self, keyword: str, m, slot: str, **ctx):
        """Reference message with a RUNTIME slot inside its prefix (the
        offending name / missing dependency): (v, slot Column) -> Column."""
        if self.message_style != "reference":
            return None
        from .lean_messages import ref_prefix
        head, tail = ref_prefix(keyword, **{slot: "\x00"}, **ctx).split("\x00")
        text = _value_text(m)
        return lambda v, x: F.concat(F.lit(head), x, F.lit(tail), text(v))

    # ------------------------------------------------------------------

    def _sub(self, schema: Schema, f: Frame, m) -> Lowered:
        """Lower a child node whose value has model ``m``."""
        return self._lower(schema, Frame(m, f.base_uri, f.depth + 1, f.chain))

    def _lower(self, schema: Schema, f: Frame) -> Lowered:
        self._enter(f)
        if isinstance(schema, bool):
            return _LOWERED_TRUE if schema else _LOWERED_FALSE
        s = schema
        assert isinstance(s, SchemaObject)

        # $ref overrides siblings (Draft 7): inline the target
        if s.ref is not None:
            target, root, subpath, got = self.ref_step(s.ref, f.base_uri)
            if got is None:
                # unresolvable ref: every instance fails (reference reports error)
                rref = self._refb("$ref", f.m, base=root, path=subpath)
                return Lowered(
                    valid=lambda c: F.lit(False),
                    violations=lambda c, p: F.array(
                        _viol_col("$ref", p, rref(c)) if rref is not None
                        else _viol("$ref", p, f"Could not find {target!r}")),
                )
            sub, new_uri = got
            key = f"{root}#{'/'.join(subpath)}"
            return self._ref_leaf(key, f) or self._lower(
                sub, Frame(f.m, new_uri, f.depth + 1, f.chain + (key,)))

        if s.id is not None:
            f = f._replace(base_uri=resolve_uri(f.base_uri, s.id))

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

        f.m.lower_type(self, s, add, add_simple)
        f.m.lower_const_enum(self, s, add, add_simple)
        self._lower_string(s, f, add_simple)
        self._lower_numeric(s, f, add_simple)
        self._lower_object(s, f, add, add_simple)
        self._lower_array(s, f, add, add_simple)
        self._lower_combinators(s, f, add)

        if not valid_parts:
            return _LOWERED_TRUE

        def valid(c: Column) -> Column:
            return reduce(lambda a, b: a & b, (fn(c) for fn in valid_parts))

        def violations(c: Column, p: Column) -> Column:
            return _concat_viols([fn(c, p) for fn in viol_parts])

        return Lowered(valid=valid, violations=violations)

    # ---- strings -----------------------------------------------------------

    def _lower_string(self, s: SchemaObject, f: Frame, add_simple) -> None:
        sv = f.m.view("string")
        if sv is None:
            return  # string keywords pass on non-strings
        if s.max_length is not None:
            n = s.max_length
            add_simple(sv.check(lambda x, n=n: F.length(x) <= n), "maxLength",
                       f"length > {n}",
                       ref=self._refb("maxLength", f.m, limit=n))
        if s.min_length is not None:
            n = s.min_length
            add_simple(sv.check(lambda x, n=n: F.length(x) >= n), "minLength",
                       f"length < {n}",
                       ref=self._refb("minLength", f.m, limit=n))
        if s.pattern is not None:
            pat = s.pattern
            jpat = _java_pattern(pat, "pattern not Java-safe:")
            # r6: metacharacter-free patterns drop the regex engine for a
            # codegen'd string primitive — JSON Schema `pattern` is an
            # unanchored SEARCH, so `^lit` == startswith, bare `lit` ==
            # contains (verdict-identical; pinned by the cross-path
            # differential tests).
            match = _literal_pattern_predicate(jpat) \
                or (lambda x, p=jpat: F.regexp_like(x, F.lit(p)))
            add_simple(sv.check(match), "pattern", f"no match for {pat!r}",
                       ref=self._refb("pattern", f.m, pattern=pat))
        if self.assert_formats and s.format is not None:
            from .formats import format_predicate
            fmt = s.format
            if format_predicate(fmt, F.lit("")) is None:
                raise CompileFallback(
                    f"format {fmt!r} assertion has no native Spark "
                    "expression (interpreter path handles it)")
            add_simple(sv.check(lambda x, fm=fmt: format_predicate(fm, x)),
                       "format", f"not a valid {fmt!r}")

    # ---- numerics -----------------------------------------------------------

    def _lower_numeric(self, s: SchemaObject, f: Frame, add_simple) -> None:
        nv = f.m.view("number")
        if nv is None:
            return
        for kw, limit, ok, msg in (
                ("maximum", s.maximum, lambda d, m: d <= m, "> {}"),
                ("exclusiveMaximum", s.exclusive_maximum, lambda d, m: d < m, ">= {}"),
                ("minimum", s.minimum, lambda d, m: d >= m, "< {}"),
                ("exclusiveMinimum", s.exclusive_minimum, lambda d, m: d > m, "<= {}")):
            if limit is not None:
                add_simple(nv.check(lambda d, ok=ok, m=limit: ok(d, m)), kw,
                           msg.format(limit),
                           ref=self._refb(kw, f.m, limit=limit))
        if s.multiple_of is not None:
            m = s.multiple_of
            if m == 0:
                add_simple(nv.check(lambda d: F.lit(False)), "multipleOf",
                           "multipleOf 0",
                           ref=self._refb("multipleOf", f.m, limit=m))
            else:
                # reference semantics: float division, zero fraction, finite
                # (x % 1.0 == 0.0 — NaN/Inf quotients give NaN != 0, and no
                # BIGINT overflow unlike F.floor)
                add_simple(nv.check(lambda d, m=m: (d / m % 1.0) == 0.0),
                           "multipleOf", f"not a multiple of {m}",
                           ref=self._refb("multipleOf", f.m, limit=m))

    # ---- objects ------------------------------------------------------------

    def _lower_object(self, s: SchemaObject, f: Frame, add, add_simple) -> None:
        has_obj_kw = any([
            s.required, s.properties, s.pattern_properties,
            s.property_names is not None,
            s.additional_properties is not None, s.max_properties is not None,
            s.min_properties is not None, s.dependencies,
        ])
        if not has_obj_kw:
            return
        m = f.m
        ov = m.object_view(self, s, f)
        if ov is None:
            return  # object keywords pass on non-objects

        if s.required:
            req = list(s.required)
            add_simple(ov.gate(lambda v, r=req: reduce(
                lambda a, b: a & b, (ov.has(v, k) for k in r))),
                "required", f"missing one of {req}",
                ref=self._refb("required", m, required=req))
        if s.max_properties is not None:
            n = s.max_properties
            add_simple(ov.gate(lambda v, n=n: ov.count(v) <= n),
                       "maxProperties", f"> {n}",
                       ref=self._refb("maxProperties", m, count_fn=ov.count,
                                      limit=n))
        if s.min_properties is not None:
            n = s.min_properties
            add_simple(ov.gate(lambda v, n=n: ov.count(v) >= n),
                       "minProperties", f"< {n}",
                       ref=self._refb("minProperties", m, count_fn=ov.count,
                                      limit=n))

        if ov.fields is not None:
            m.lower_struct_members(self, s, f, ov, add)
        else:
            self._lower_map_members(s, f, ov, add)

        for key, dep in (s.dependencies or []):
            if dep.required_props is not None:
                reqs = dep.required_props
                slot = self._refb_slot("dependencies", m, "req", key=key) \
                    if reqs else None
                dref = None
                if slot is not None:
                    # interpreter ctx: req = first MISSING prop (runtime)
                    def dref(v: Column, r=tuple(reqs), slot=slot) -> Column:
                        return slot(v, F.coalesce(
                            *[F.when(~ov.has(v, x), F.lit(x)) for x in r],
                            F.lit(r[0])))
                add_simple(ov.gate(lambda v, k=key, r=reqs: F.when(
                    ov.has(v, k),
                    reduce(lambda a, b: a & b, (ov.has(v, x) for x in r))
                    if r else F.lit(True)).otherwise(F.lit(True))),
                    "dependencies", f"{key!r} requires {reqs}", ref=dref)
            if dep.schema is not None:
                low = self._sub(dep.schema, f, m.at("whole"))
                add(lambda v, lo=low, k=key: F.when(ov.absent(v, k), F.lit(True))
                    .otherwise(F.coalesce(lo.valid(v), F.lit(False))),
                    lambda v, p, lo=low, k=key: F.when(ov.absent(v, k), _empty())
                    .otherwise(lo.violations(v, p)))

    def _lower_map_members(self, s: SchemaObject, f: Frame, ov: View,
                           add) -> None:
        """properties / propertyNames / patternProperties /
        additionalProperties over objects with runtime keys (a MapType
        column or a VARIANT object): map_* functions and HOFs over the
        keys and entries; one violation per offending name or entry."""
        m = f.m
        val_m = m.at("entry")

        for name, sub in (s.properties or []):
            low = self._sub(sub, f, val_m)
            tok = escape_token(name)
            add(lambda v, lo=low, k=name: F.when(ov.absent(v, k), F.lit(True))
                .otherwise(F.coalesce(lo.valid(ov.member(v, k)), F.lit(False))),
                lambda v, p, lo=low, k=name, t=tok: F.when(ov.absent(v, k), _empty())
                .otherwise(lo.violations(ov.member(v, k),
                                         F.concat(p, F.lit("/" + t)))))

        pn = s.property_names
        if pn is not None and pn is not True:
            if pn is False:
                def bad_names(o: Column) -> Column:
                    return F.map_keys(o)

                def names_ok(o: Column) -> Column:
                    return F.size(o) == 0
            else:
                name_ok = _passes(self._sub(pn, f, m.at("name")))

                def bad_names(o: Column) -> Column:
                    return F.filter(F.map_keys(o), lambda k: ~name_ok(k))

                def names_ok(o: Column) -> Column:
                    return F.forall(F.map_keys(o), name_ok)
            nref = self._refb_slot("propertyNames", m, "name")

            def pn_viols(v: Column, p: Column) -> Column:
                # one violation per offending name (interpreter granularity)
                return ov.viols(v, lambda o: F.transform(
                    bad_names(o), lambda k: _viol_col(
                        "propertyNames", p,
                        nref(v, k) if nref is not None
                        else F.concat(F.lit("property name '"), k,
                                      F.lit("' invalid")))))
            add(lambda v: ov.valid(v, names_ok), pn_viols)

        pattern_res = [_java_pattern(pat, "patternProperties regex")
                       for pat, _ in (s.pattern_properties or [])]

        def entries_viols(entries_fn, low):
            """Recurse into each entry's value with a per-key pointer —
            sub-violations keep their own keywords (interpreter
            granularity)."""
            def viol_fn(v: Column, p: Column) -> Column:
                return ov.viols(v, lambda o: F.flatten(F.transform(
                    entries_fn(o),
                    lambda kv: low.violations(
                        kv.getField("value"),
                        F.concat(p, F.lit("/"), _ptr_key(kv.getField("key")))))))
            return viol_fn

        def all_valid(entries_fn, low):
            ok = _passes(low)
            return lambda v: ov.valid(v, lambda o: F.forall(
                entries_fn(o), lambda kv: ok(kv.getField("value"))))

        for (_pat, sub), jpat in zip(s.pattern_properties or [], pattern_res):
            low = self._sub(sub, f, val_m)

            def matched(o: Column, p=jpat) -> Column:
                return F.filter(
                    F.map_entries(o),
                    lambda kv: F.regexp_like(kv.getField("key"), F.lit(p)))
            add(all_valid(matched, low), entries_viols(matched, low))

        ap = s.additional_properties
        if ap is None or ap is True:
            return
        declared = [n for n, _ in (s.properties or [])]

        def extra_entries(o: Column) -> Column:
            def is_extra(kv: Column) -> Column:
                cond = ~kv.getField("key").isin(*declared) if declared \
                    else F.lit(True)
                for p in pattern_res:
                    cond = cond & ~F.regexp_like(kv.getField("key"), F.lit(p))
                return cond
            return F.filter(F.map_entries(o), is_extra)

        if ap is False:
            # one 'false' violation per extra key (reference validates
            # each extra value against `false`)
            add(lambda v: ov.valid(v, lambda o: F.size(extra_entries(o)) == 0),
                lambda v, p: ov.viols(v, lambda o: F.transform(
                    extra_entries(o), lambda kv: _viol(
                        "false",
                        F.concat(p, F.lit("/"), _ptr_key(kv.getField("key"))),
                        "Boolean schema 'false' rejects all values"))))
        else:
            low = self._sub(ap, f, val_m)
            add(all_valid(extra_entries, low), entries_viols(extra_entries, low))

    # ---- arrays -------------------------------------------------------------

    def _lower_array(self, s: SchemaObject, f: Frame, add, add_simple) -> None:
        has_arr_kw = any([
            s.items is not None, s.additional_items is not None,
            s.max_items is not None, s.min_items is not None,
            s.unique_items, s.contains is not None,
        ])
        av = f.m.view("array") if has_arr_kw else None
        if av is None:
            return
        m = f.m
        elem_m = m.at("elem")

        def nitems(v: Column) -> Column:
            return F.size(av.get(v))

        if s.unique_items:
            m.unique_items(self, av, add, add_simple)
        if s.max_items is not None:
            n = s.max_items
            add_simple(av.check(lambda a, n=n: F.size(a) <= n), "maxItems",
                       f"> {n}", ref=self._refb("maxItems", m, count_fn=nitems,
                                                 limit=n))
        if s.min_items is not None:
            n = s.min_items
            add_simple(av.check(lambda a, n=n: F.size(a) >= n), "minItems",
                       f"< {n}", ref=self._refb("minItems", m, count_fn=nitems,
                                                 limit=n))

        def each(low, first: int = 0):
            """Every element from index ``first`` on satisfies ``low``."""
            def elems(a: Column) -> Column:
                return a if first == 0 else F.slice(
                    a, first + 1, F.greatest(F.size(a) - first, F.lit(0)))

            def index(i: Column) -> Column:
                return (i if first == 0 else i + first).cast("string")
            add(lambda v: av.valid(v, lambda a: F.forall(elems(a), _passes(low))),
                lambda v, p: av.viols(v, lambda a: F.flatten(F.transform(
                    elems(a), lambda e, i: low.violations(
                        e, F.concat(p, F.lit("/"), index(i)))))))

        if s.items is not None and not s.items.is_tuple:
            each(self._sub(s.items.single, f, elem_m))
        elif s.items is not None and s.items.is_tuple:
            for i, sub in enumerate(s.items.tuple_items):
                low = self._sub(sub, f, elem_m)
                add(lambda v, lo=low, i=i: av.valid(v, lambda a: F.when(
                        F.size(a) <= i, F.lit(True))
                        .otherwise(F.coalesce(lo.valid(F.get(a, i)), F.lit(False)))),
                    lambda v, p, lo=low, i=i: av.viols(v, lambda a: F.when(
                        F.size(a) <= i, _empty())
                        .otherwise(lo.violations(F.get(a, i),
                                                 F.concat(p, F.lit(f"/{i}"))))))
            if s.additional_items is not None:
                each(self._sub(s.additional_items, f, elem_m),
                     len(s.items.tuple_items))

        if s.contains is not None:
            matches = _passes(self._sub(s.contains, f, elem_m))
            lo_n = s.min_contains if s.min_contains is not None else 1
            hi_n = s.max_contains
            cref = None
            if self.message_style == "reference":
                ref_empty = self._refb("contains", m, prefix_key="contains_empty")
                ref_nomatch = self._refb("contains", m)

                def cref(v: Column) -> Column:
                    # mirror the interpreter: empty-array message iff size==0
                    return F.when(nitems(v) == 0, ref_empty(v)) \
                            .otherwise(ref_nomatch(v))

            if lo_n == 1 and hi_n is None:
                add_simple(av.check(lambda a: (F.size(a) > 0) & F.exists(a, matches)),
                           "contains", "no element matches (or empty array)",
                           ref=cref)
            else:
                # 2020-12 min/maxContains (extension): bound the match count
                def in_bounds(a: Column) -> Column:
                    n = F.size(F.filter(a, matches))
                    parts = ([n >= lo_n] if lo_n > 0 else []) \
                        + ([n <= hi_n] if hi_n is not None else [])
                    return reduce(lambda x, y: x & y, parts) if parts \
                        else F.lit(True)
                add_simple(av.check(in_bounds), "contains",
                           f"match count outside [{lo_n}, {hi_n}]", ref=cref)

    # ---- combinators ----------------------------------------------------------

    def _lower_combinators(self, s: SchemaObject, f: Frame, add) -> None:
        m = f.m
        refmode = self.message_style == "reference"
        text = _value_text(m)
        for sub in (s.all_of or []):
            low = self._sub(sub, f, m)
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

        def n_matched(c: Column, lows) -> Column:
            return reduce(lambda a, b: a + b,
                          (F.coalesce(lo.valid(c), F.lit(False)).cast("int")
                           for lo in lows)) if lows else F.lit(0)

        if s.any_of is not None:
            lows = [self._sub(sub, f, m) for sub in s.any_of]

            def v_fn(c: Column, ls=lows) -> Column:
                if not ls:
                    return F.lit(False)  # empty anyOf: no branch can match
                return reduce(lambda a, b: a | b,
                              (F.coalesce(lo.valid(c), F.lit(False)) for lo in ls))

            def any_viol(c: Column, p: Column, v=v_fn, ls=lows) -> Column:
                if refmode:
                    msg = F.concat(
                        F.lit("anyOf: no schemas matched. Errors: "),
                        branch_errs(c, p, ls), F.lit(" "), text(c))
                    bad = F.array(_viol_col("anyOf", p, msg))
                else:
                    bad = F.array(_viol("anyOf", p, "no branch matched"))
                return F.when(v(c), _empty()).otherwise(bad)
            add(v_fn, any_viol)
        if s.one_of is not None:
            lows = [self._sub(sub, f, m) for sub in s.one_of]

            def v1_fn(c: Column, ls=lows) -> Column:
                if not ls:
                    return F.lit(False)  # empty oneOf: zero matches != 1
                return n_matched(c, ls) == 1

            def one_viol(c: Column, p: Column, v=v1_fn, ls=lows) -> Column:
                if refmode:
                    n = n_matched(c, ls)
                    msg = F.when(
                        n == 0,
                        F.concat(F.lit("oneOf: expected exactly 1 match but "
                                       "got 0. Errors: "),
                                 branch_errs(c, p, ls), F.lit(" "), text(c))) \
                        .otherwise(F.concat(
                            F.lit("oneOf: expected exactly 1 match but got "),
                            n.cast("string"), F.lit(" "), text(c)))
                    bad = F.array(_viol_col("oneOf", p, msg))
                else:
                    bad = F.array(_viol("oneOf", p, "matched != 1 branches"))
                return F.when(v(c), _empty()).otherwise(bad)
            add(v1_fn, one_viol)
        if s.not_ is not None:
            low = self._sub(s.not_, f, m)

            def vn_fn(c: Column, lo=low) -> Column:
                return ~F.coalesce(lo.valid(c), F.lit(False))
            nref = self._refb("not", m)
            add(vn_fn, lambda c, p, v=vn_fn, r=nref: F.when(v(c), _empty())
                .otherwise(F.array(
                    _viol_col("not", p, r(c)) if r is not None
                    else _viol("not", p, "schema matched but must not"))))
        if s.if_ is not None:
            if_low = self._sub(s.if_, f, m)
            then_low = self._sub(s.then_, f, m) \
                if s.then_ is not None else _LOWERED_TRUE
            else_low = self._sub(s.else_, f, m) \
                if s.else_ is not None else _LOWERED_TRUE
            add(
                lambda c: F.when(F.coalesce(if_low.valid(c), F.lit(False)),
                                 then_low.valid(c)).otherwise(else_low.valid(c)),
                lambda c, p: F.when(F.coalesce(if_low.valid(c), F.lit(False)),
                                    then_low.violations(c, p))
                .otherwise(else_low.violations(c, p)),
            )


# ---------------------------------------------------------------------------
# The static-dtype value model and its front end
# ---------------------------------------------------------------------------

class StaticModel:
    """Value model of a column of static Spark type ``dtype``.
    ``null_means`` says what a NULL at this position denotes: 'absent' (a
    missing object key — every keyword passes; the struct-shredding
    mapping) or 'null' (a JSON null — array elements, where type/const/enum
    must see an actual null value)."""

    def __init__(self, dtype: DataType, null_means: str = "absent") -> None:
        self.dtype = dtype
        self.null_means = null_means

    def at(self, role: str) -> "StaticModel":
        """Model of an array element, map entry value, object key name, or
        the object itself again (dependency schemas)."""
        d = self.dtype
        if role == "elem":
            return StaticModel(d.elementType, "null")
        if role == "entry":
            return StaticModel(d.valueType)
        if role == "name":
            return StaticModel(StringType())
        return StaticModel(d)

    def view(self, kind: str) -> Optional[View]:
        d = self.dtype
        if kind == "string" and isinstance(d, StringType):
            return View(get=_same)
        if kind == "number" and isinstance(d, _INTEGRAL + _FRACTIONAL):
            return View(get=lambda c: c.cast("double"))
        if kind == "array" and isinstance(d, ArrayType):
            return View(get=_same)
        return None

    def object_view(self, walk: KeywordWalk, s: SchemaObject,
                    f: Frame) -> Optional[View]:
        d = self.dtype
        if isinstance(d, MapType):
            # dynamic keys, uniform value type; key presence is
            # map_contains_key (a null VALUE still counts as a present key,
            # unlike struct shredding)
            if not isinstance(d.keyType, StringType):
                raise CompileFallback("map object keys must be strings")
            return View(get=_same, has=F.map_contains_key,
                        member=F.element_at, count=F.size)
        if not isinstance(d, StructType):
            return None
        fields = {fd.name: fd.dataType for fd in d.fields}

        def present(c: Column, k: str) -> Column:
            return c.getField(k).isNotNull() if k in fields else F.lit(False)

        def nprops(c: Column) -> Column:
            # key count on shredded structs = count of non-null fields
            return reduce(lambda a, b: a + b,
                          (present(c, k).cast("int") for k in fields)) \
                if fields else F.lit(0)
        return View(get=_same, has=present, count=nprops, fields=fields)

    def compress(self, c: Column) -> Column:
        return lean_compress_typed(c, self.dtype)

    def num_text(self, c: Column) -> Column:
        return lean_num_typed(c, self.dtype)

    def _add_check(self, add, add_simple, ok, null_ok: bool, keyword: str,
                   msg: str, ref) -> None:
        """type / const / enum check; at a 'null' position a NULL is a JSON
        null that passes iff ``null_ok``."""
        if self.null_means != "null":
            add_simple(ok, keyword, msg, ref=ref)
            return

        def ok_all(c: Column) -> Column:
            return F.when(c.isNull(), F.lit(null_ok)) \
                    .otherwise(F.coalesce(ok(c), F.lit(False)))
        add(ok_all,
            lambda c, p: F.when(ok_all(c), _empty()).otherwise(F.array(
                _viol_col(keyword, p, ref(c)) if ref is not None
                else _viol(keyword, p, msg))))

    def lower_type(self, walk: KeywordWalk, s: SchemaObject, add,
                   add_simple) -> None:
        if "any" in s.types:
            return
        null_ok = "null" in s.types
        ref = walk._refb("type", self, types=[str(t) for t in s.types])

        def check(ok, msg=f"expected one of {s.types}") -> None:
            self._add_check(add, add_simple, ok, null_ok, "type", msg, ref)

        if any(t in _static_type_names(self.dtype) for t in s.types):
            if self.null_means == "null" and not null_ok:
                # statically satisfied for non-null values, but a JSON null
                # at this position must still fail
                check(lambda c: F.lit(True))
            return
        if "integer" in s.types and isinstance(self.dtype, _FRACTIONAL):
            # integer refinement: zero fraction (1.0 IS an integer) AND
            # finite (reference requires Float.isInt ∧ isFinite; ADVICE r1).
            # d % 1.0 == 0.0 covers every edge in one shot: NaN % 1 = NaN
            # != 0, Inf % 1 = NaN != 0 (Spark's NaN==NaN quirk can't help
            # it), and 1e29 stays in double land where F.floor's BIGINT
            # result type would overflow.
            check(lambda c: (c.cast("double") % 1.0) == 0.0, "expected integer")
            return
        check(lambda c: F.lit(False))

    def lower_const_enum(self, walk: KeywordWalk, s: SchemaObject, add,
                         add_simple) -> None:
        if s.const is not ABSENT:
            pred = None if s.const is None else _eq_pred(s.const, self.dtype)
            self._add_check(add, add_simple, pred or (lambda c: F.lit(False)),
                            s.const is None, "const", f"expected {_cjson(s.const)}",
                            walk._refb("const", self, const=s.const))
        if s.enum is not None:
            preds = [p for p in (_eq_pred(v, self.dtype)
                                 for v in s.enum if v is not None)
                     if p is not None]

            def ok(c: Column, ps=preds) -> Column:
                if not ps:
                    return F.lit(False)
                return reduce(lambda a, b: a | b,
                              (F.coalesce(p(c), F.lit(False)) for p in ps))
            self._add_check(add, add_simple, ok,
                            any(v is None for v in s.enum), "enum",
                            "not in enum",
                            walk._refb("enum", self, enum=list(s.enum)))

    def unique_items(self, walk: KeywordWalk, av: View, add,
                     add_simple) -> None:
        add_simple(av.check(lambda a: F.size(F.array_distinct(a)) == F.size(a)),
                   "uniqueItems", UNIQUE_ITEMS_MSG,
                   ref=walk._refb("uniqueItems", self))

    def lower_struct_members(self, walk: KeywordWalk, s: SchemaObject,
                             f: Frame, ov: View, add) -> None:
        """properties / propertyNames / additionalProperties /
        patternProperties on a shredded struct: the keys are the
        compile-time field list, so each folds to per-field checks (a name
        check only fires for PRESENT, non-null fields at runtime)."""
        fields = ov.fields
        names = list(fields)

        def member(k: str, sub: Schema) -> None:
            low = walk._sub(sub, f, StaticModel(fields[k]))
            tok = escape_token(k)

            def v_fn(c: Column, lo=low) -> Column:
                return F.when(c.isNull() | c.getField(k).isNull(), F.lit(True)) \
                        .otherwise(lo.valid(c.getField(k)))

            def viol_fn(c: Column, p: Column, lo=low) -> Column:
                return F.when(c.isNull() | c.getField(k).isNull(), _empty()) \
                        .otherwise(lo.violations(c.getField(k),
                                                 F.concat(p, F.lit("/" + tok))))
            add(v_fn, viol_fn)

        def per_present(keys: list[str], viol: Callable[[Column, Column, str], Column]):
            """Fails when any of ``keys`` is present; one violation each."""
            add(lambda c: _guard(c, ~reduce(
                    lambda x, y: x | y, (ov.has(c, k) for k in keys))),
                lambda c, p: F.when(c.isNull(), _empty()).otherwise(
                    _concat_viols([
                        F.when(ov.has(c, k), F.array(viol(c, p, k)))
                         .otherwise(_empty()) for k in keys])))

        for name, sub in (s.properties or []):
            if name in fields:  # else the key can never be present
                member(name, sub)

        pn = s.property_names
        if pn is not None:
            if isinstance(pn, bool):
                bad = [] if pn else names
            else:
                # evaluate the subschema with the FULL resolver context (root
                # registry + current base URI) so $refs inside propertyNames
                # resolve exactly as on the MapType/interpreter paths
                # (ADVICE r1: a bare CompiledValidator(pn.raw) lost the
                # registry and marked every name bad)
                from .interpreter import CompiledValidator
                nv = CompiledValidator(walk._schema_json, uri=walk.root_uri,
                                       registry=walk._registry)
                bad = [k for k in names
                       if not nv._passes(pn, k, f.base_uri, nv.fuel)]
            if bad:
                def pn_viol(c: Column, p: Column, k: str) -> Column:
                    r = walk._refb("propertyNames", self, name=k)
                    if r is not None:
                        return _viol_col("propertyNames", p, r(c))
                    return _viol("propertyNames", p,
                                 f"property name '{k}' invalid")
                per_present(bad, pn_viol)

        ap = s.additional_properties
        if ap is not None:
            declared = {n for n, _ in (s.properties or [])}
            pattern_res = [p for p, _ in (s.pattern_properties or [])]
            extra = [k for k in names if k not in declared and not any(
                re.search(p, k) for p in pattern_res if java_regex_safe(p))]
            if extra and ap is False:
                # one 'false' violation per present extra key (reference
                # validates each against `false`)
                per_present(extra, lambda c, p, k: _viol(
                    "false", F.concat(p, F.lit("/" + escape_token(k))),
                    "Boolean schema 'false' rejects all values"))
            elif extra and not isinstance(ap, bool):
                for k in extra:
                    member(k, ap)

        for pat, sub in (s.pattern_properties or []):
            if not java_regex_safe(pat):
                raise CompileFallback(f"patternProperties regex {pat!r}")
            for k in names:
                if re.search(pat, k) is not None:
                    member(k, sub)


class ColumnarCompiler(KeywordWalk):
    """Compile a schema once against a DataFrame column's dtype."""

    def __init__(
        self,
        schema_json: Any,
        uri: str = DEFAULT_URI,
        registry: Optional[dict[str, Any]] = None,
        message_style: str = "structured",
        assert_formats: bool = False,
    ) -> None:
        super().__init__(schema_json, uri, registry, message_style,
                         assert_formats)
        if self.ref_cycle is not None:
            raise SchemaCycleError(self.ref_cycle)

    def lower(self, dtype: DataType, null_means: str = "absent") -> Lowered:
        """null_means governs what a NULL value at THIS position denotes:
        'absent' (a missing object key — every keyword passes; the struct-
        shredding mapping) or 'null' (a JSON null — array elements, where
        type/const/enum must see an actual null value)."""
        return self._lower(self.schema, Frame(StaticModel(dtype, null_means),
                                              self.root_uri))

    def lower_node(self, schema: Any, dtype: DataType,
                   base_uri: Optional[str] = None,
                   null_means: str = "absent") -> Lowered:
        """Lower an arbitrary schema NODE (raw JSON or parsed Schema) with
        THIS compiler's full resolver context: root-relative $refs (e.g.
        '#/properties/spans/items') resolve against the registered root
        schema, exactly as on the interpreter path. Used by the fused /
        violation-row plans to compile items/doc subplans without a
        lossy synthetic root (ADVICE r1)."""
        node = schema if isinstance(schema, (bool, SchemaObject)) \
            else parse_schema(schema)
        uri = self.root_uri if base_uri is None else base_uri
        return self._lower(node, Frame(StaticModel(dtype, null_means), uri))

    def root_base_uri(self) -> str:
        """root_uri rebased by the root schema's $id, i.e. the base URI in
        effect for nodes inside the root (matches _lower's rebase)."""
        s = self.schema
        if isinstance(s, SchemaObject) and s.id is not None:
            return resolve_uri(self.root_uri, s.id)
        return self.root_uri

    def _enter(self, f: Frame) -> None:
        if f.depth > MAX_INLINE_DEPTH:
            raise CompileFallback("inline depth exceeded")


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
