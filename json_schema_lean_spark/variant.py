"""Schema AST -> Spark VARIANT-expression predicate plan: the columnar fast
path for DYNAMIC JSON columns (VERDICT r1 #3).

The ColumnarCompiler (compiler.py) needs a static Spark DataType to
specialize against; arbitrary JSON strings used to fall through to the
Arrow-batch interpreter (~30k rows/s of per-value Python). Spark 4's VARIANT
type closes that gap: ``try_parse_json`` shreds the JSON once into a binary
variant, and every keyword lowers to JVM-side variant expressions — no
Python anywhere:

- per-value JSON type     -> ``schema_of_variant`` ('STRING', 'BIGINT',
  'DECIMAL(p,s)', 'DOUBLE', 'BOOLEAN', 'VOID', 'OBJECT<...>', 'ARRAY<...>')
- typed extraction        -> ``try_variant_get(v, '$', T)`` (null on mismatch)
- object keys/entries     -> ``try_cast(v AS map<string,variant>)`` + map_*
- array elements          -> ``try_variant_get(v, '$', 'array<variant>')``

Null discipline (probed, pinned in tests/test_variant.py): a SQL NULL
variant means ABSENT (missing key / failed parse); a JSON ``null`` is a
NON-null variant whose schema_of_variant is 'VOID' — including inside arrays
and map values. So unlike the static compiler there is no null_means
ambiguity: 'null' type checks compare against 'VOID'.

Reference parity: same keyword semantics as the interpreter
(/root/reference/JsonSchema/Validation.lean:375-424) — unanchored pattern
search, 1.0-is-integer (finite, zero fraction), numeric-tolerant const/enum,
$ref overrides siblings, type-guard pass on absent values.

Deep equality (uniqueItems / const / enum of arrays+objects) lowers to an
injective CANONICAL STRING per value (``_canon``): bencode-style tags with
length-prefixed strings (no escaping), numbers through one double cast
(numeric-tolerant like the reference's Float equality,
/root/reference/JsonSchema/Validation.lean:17-33), object entries sorted by
key (the reference's object equality is key-set based). Canonicalization is
depth-bounded; a uniqueItems array nesting past the bound raises a loud
runtime error (never a wrong verdict), while const/enum use the literal's
exact depth so deeper instances simply compare not-equal.

Recursive ``$ref``s unroll: each resolved ref target may repeat up to
MAX_VARIANT_DEPTH times along one inline chain; past that the leaf fires
only when an instance actually nests that deep — by default a loud runtime
error, or verdict-False + ``$recursion`` violation with
``deep_ref_behavior="invalid"``. Both deliberately diverge from the
interpreter there (its fuel=1000 reaches far deeper and exhausts as an
invalid VERDICT, interpreter.py:201-209) — loud beats silently wrong; see
_too_deep_leaf. Acyclic-but-too-branchy ref graphs exhaust the node budget
and fall back.

The only remaining CompileFallback routes to the Arrow interpreter: evil
$ref cycles (rejected at compile time, like the columnar path), non-Java
regex dialect, node-budget exhaustion.
"""

from __future__ import annotations

import json
import re
from functools import reduce
from typing import Any, Callable, Optional

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from .compiler import (
    VIOLATION_SCHEMA,
    CompileFallback,
    Lowered,
    _LOWERED_TRUE,
    _cjson,
    _concat_viols,
    _cond_viol,
    _cond_viol_col,
    _guard,
    _let,
    _ptr_key,
    _viol,
    _viol_col,
)
from .plan_cache import plan_memo
from .pointer import escape_token
from .resolver import DEFAULT_URI, Resolver, find_ref_cycle, resolve_uri
from .schema_ast import ABSENT, Schema, SchemaObject, parse_schema

#: max unrolls of any single $ref target along one inline chain — supports
#: instances of the recursive structure up to this deep; past it the leaf
#: raises a loud runtime error (only when an instance actually reaches it)
MAX_VARIANT_DEPTH = 24

#: max nesting depth the deep-equality canonicalizer handles for uniqueItems
#: (const/enum use the literal's exact depth instead)
MAX_CANON_DEPTH = 24

#: total _lower() calls before giving up on a branching recursive schema
#: (e.g. mutually recursive refs that double per level: 2^24 nodes)
NODE_BUDGET = 30_000

_NUM_TYPES = ("BIGINT", "INT", "SMALLINT", "TINYINT", "DOUBLE", "FLOAT")


def _ts(v: Column) -> Column:
    return F.schema_of_variant(v)


def _is_num(v: Column) -> Column:
    # one regex over one schema_of_variant eval (isin|startswith would
    # evaluate schema_of_variant twice — no CSE in interpreted projections).
    # Anchored alternation: parse_json can only yield BIGINT/DECIMAL/DOUBLE
    # numerics, but the int aliases are kept defensively; INTERVAL can't
    # appear (variants here always come from parse_json).
    return _ts(v).rlike("^(BIGINT$|INT$|SMALLINT$|TINYINT$|DOUBLE$|FLOAT$|DECIMAL)")


def _dval(v: Column) -> Column:
    return F.try_variant_get(v, "$", "double")


def _sval(v: Column) -> Column:
    return F.try_variant_get(v, "$", "string")


def _bval(v: Column) -> Column:
    return F.try_variant_get(v, "$", "boolean")


def _is_integral(v: Column) -> Column:
    # d % 1.0 == 0.0 is exact for all doubles: NaN % 1 = NaN != 0,
    # Inf % 1 = NaN != 0, and big values (1e29) stay in double land
    # (F.floor would overflow its BIGINT result type)
    d = _dval(v)
    return (d % 1.0) == 0.0


def _vmap(v: Column) -> Column:
    """Object entries as map<string,variant> (SQL NULL for non-objects)."""
    return v.try_cast("map<string,variant>")


def _varr(v: Column) -> Column:
    """Array elements as array<variant> (SQL NULL for non-arrays)."""
    return F.try_variant_get(v, "$", "array<variant>")


_SIMPLE_KEY = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")
#: keys safe inside a quoted bracket path: no quotes/backslashes/control
#: chars and no brackets (the variant path grammar's treatment of nested
#: brackets inside quotes is not documented — the map route handles those)
_BRACKET_OK = re.compile(r"^[^'\"\\\x00-\x1f\[\]]+$")


def _child(v: Column, name: str) -> Column:
    """Child variant for object key `name`: SQL NULL iff the key is ABSENT;
    a JSON null value comes back as a non-null 'VOID' variant (probed).

    Direct path access (`$.k` / `$['k']`) is ~25% cheaper per row than
    materializing try_cast(map<string,variant>) + element_at (measured at
    sf0.1), so the map route is kept only for keys the path grammar can't
    express safely (quotes/backslashes/control chars/']')."""
    if _SIMPLE_KEY.match(name):
        return F.try_variant_get(v, f"$.{name}", "variant")
    if _BRACKET_OK.match(name):
        return F.try_variant_get(v, f"$['{name}']", "variant")
    return F.element_at(_vmap(v), name)


# ---------------------------------------------------------------------------
# Deep equality via canonical strings (uniqueItems / const / enum)
# ---------------------------------------------------------------------------

def _entry_key_cmp(a: Column, b: Column) -> Column:
    # compare map entries by key only — variant values are not orderable
    return (F.when(a.getField("key") < b.getField("key"), F.lit(-1))
             .when(a.getField("key") > b.getField("key"), F.lit(1))
             .otherwise(F.lit(0)))


def _canon(v: Column, depth: int) -> Column:
    """Injective canonical string of a variant value under the reference's
    jsonSchemaEq (/root/reference/JsonSchema/Validation.lean:17-33): numbers
    compare as Float (1 == 1.0 == -0.0), arrays ordered, objects by key-set.

    Bencode-style, so no escaping is ever needed:

    - null  -> ``z``;  bool -> ``b0`` / ``b1``
    - number -> ``n<double-cast-string>e`` (one double cast; ``+ 0.0``
      folds -0.0 into 0.0; Java's uppercase ``E`` exponent never collides
      with the lowercase ``e`` terminator)
    - string -> ``s<codepoint-len>:<str>`` (length prefix delimits)
    - array  -> ``l<child canons>e``; object -> ``d(<key as s-string>
      <child canon>)*e`` with entries sorted by key

    Containers nested deeper than `depth` canonicalize to SQL NULL, and a
    NULL child POISONS the whole container canon (folded with concat, not
    concat_ws/array_join, which silently skip NULLs) — callers must treat
    NULL as not-canonicalizable, never as a value."""
    return _let(_ts(v), lambda ts: _canon_node(v, ts, depth))


def _canon_node(v: Column, ts: Column, depth: int) -> Column:
    out = (F.when(ts == "VOID", F.lit("z"))
            .when(ts == "BOOLEAN",
                  F.when(_bval(v), F.lit("b1")).otherwise(F.lit("b0")))
            .when(ts == "STRING",
                  F.concat(F.lit("s"), F.length(_sval(v)).cast("string"),
                           F.lit(":"), _sval(v)))
            .when(_ts_is_num(ts),
                  F.concat(F.lit("n"), (_dval(v) + 0.0).cast("string"),
                           F.lit("e"))))
    if depth <= 0:
        return out  # containers fall through every branch -> SQL NULL
    kids = (F.when(ts.startswith("ARRAY"),
                   F.transform(_varr(v), lambda e: F.struct(
                       F.lit("").alias("key"), e.alias("value"))))
             .when(ts.startswith("OBJECT"),
                   F.array_sort(F.map_entries(_vmap(v)), _entry_key_cmp)))
    kid_canons = F.transform(kids, lambda kv: F.concat(
        F.lit("s"),
        F.length(kv.getField("key")).cast("string"), F.lit(":"),
        kv.getField("key"),
        _canon(kv.getField("value"), depth - 1)))
    body = F.aggregate(kid_canons, F.lit(""),
                       lambda acc, x: F.concat(acc, x))
    tag = F.when(ts.startswith("ARRAY"), F.lit("l")).otherwise(F.lit("d"))
    return out.when(ts.startswith("ARRAY") | ts.startswith("OBJECT"),
                    F.concat(tag, body, F.lit("e")))


def _ts_is_num(ts: Column) -> Column:
    return ts.rlike("^(BIGINT$|INT$|SMALLINT$|TINYINT$|DOUBLE$|FLOAT$|DECIMAL)")


def _too_deep_leaf(ref_key: str, behavior: str = "error") -> Lowered:
    """Leaf emitted past MAX_VARIANT_DEPTH unrolls of a recursive $ref.
    Touched if — and only if — an instance actually nests that deep (absent
    values pass like every keyword; CASE WHEN branches evaluate lazily, so
    shallow instances never reach it).

    NOTE on interpreter parity (r3 review): the interpreter's fuel=1000
    exhausts as a ``$recursion`` VIOLATION (invalid verdict, not an error,
    interpreter.py:201-209) and is far deeper than MAX_VARIANT_DEPTH, so no
    bounded unroll can match its verdicts for depth 25..1000 instances.
    Both available behaviors are therefore deliberate divergences at depth
    > MAX_VARIANT_DEPTH, chosen for being LOUD rather than silently wrong:

    - ``behavior="error"`` (default): raise, aborting the job. Never emits
      a wrong verdict; one pathological row costs the batch.
    - ``behavior="invalid"``: verdict False + a ``$recursion`` violation
      naming the depth bound. Keeps the batch alive; deep rows are flagged
      for re-validation via the Arrow interpreter (prefer_variant=False).
    """
    msg = (f"variant path unrolled $ref {ref_key!r} {MAX_VARIANT_DEPTH} "
           "times; instances nesting deeper must validate via the Arrow "
           "interpreter (prefer_variant=False)")

    if behavior == "invalid":
        def valid(v: Column) -> Column:
            return F.when(v.isNull(), F.lit(True)).otherwise(F.lit(False))

        def violations(v: Column, p: Column) -> Column:
            return F.when(v.isNull(), F.array().cast(VIOLATION_SCHEMA)) \
                    .otherwise(F.array(_viol("$recursion", p, msg)))

        return Lowered(valid=valid, violations=violations)

    def valid(v: Column) -> Column:
        return F.when(v.isNull(), F.lit(True)) \
                .otherwise(F.raise_error(F.lit(msg)).cast("boolean"))

    def violations(v: Column, p: Column) -> Column:
        return F.when(v.isNull(), F.array().cast(VIOLATION_SCHEMA)) \
                .otherwise(F.raise_error(F.lit(msg)).cast(VIOLATION_SCHEMA))

    return Lowered(valid=valid, violations=violations)


def _lean_compress_variant(v: Column) -> Column:
    """Runtime ``Json.compress`` of a variant (reference-style messages).
    Scalars render exactly (BIGINT bare, other numerics with the
    interpreter's '%.1f'-for-integral rule); strings, arrays and objects go
    through ``to_json`` — compact, object keys sorted (probed), UTF-8 kept
    raw — with ONE documented approximation: an integral non-BIGINT number
    INSIDE a container renders without its '.0' (the variant binary does not
    keep the decimal scale)."""
    return _let(_ts(v), lambda ts: (
        F.when(ts == "VOID", F.lit("null"))
         .when(ts == "BOOLEAN",
               F.when(_bval(v), F.lit("true")).otherwise(F.lit("false")))
         .when(ts == "BIGINT",
               F.try_variant_get(v, "$", "bigint").cast("string"))
         .when(_ts_is_num(ts), _lean_double(_dval(v)))
         .otherwise(F.to_json(v))))


def _lean_double(d: Column) -> Column:
    return F.when((d % 1.0) == 0.0, F.format_string("%.1f", d)) \
            .otherwise(d.cast("string"))


def _lean_num_variant(v: Column) -> Column:
    """Lean JsonNumber.toString-ish rendering (mirrors lean_messages.lean_num
    on the json.loads value: int bare, float with '.0' when integral)."""
    return F.when(_ts(v) == "BIGINT",
                  F.try_variant_get(v, "$", "bigint").cast("string")) \
            .otherwise(_lean_double(_dval(v)))


def _py_depth(value: Any) -> int:
    if isinstance(value, dict):
        return 1 + max((_py_depth(x) for x in value.values()), default=0)
    if isinstance(value, (list, tuple)):
        return 1 + max((_py_depth(x) for x in value), default=0)
    return 0


_CANON_LIT_CACHE: dict[str, str] = {}


def _ensure_analyzer_budget(min_iters: int = 1000, spark=None) -> None:
    """Nested HOF lambdas resolve one level per analyzer Resolution pass, so
    a depth-24 canonicalizer (± the schema's own nesting) overruns Spark's
    default 100-iteration cap. The cap is a plain runtime SQLConf — raise it
    on the session that will ANALYZE the plan. Callers holding a DataFrame
    pass its own session: a plan-cache hit from a different session (e.g.
    spark.newSession()) skips the compiler, so the budget must be ensured
    per consuming session, not only at build time (r3 review)."""
    if spark is None:
        from pyspark.sql import SparkSession
        spark = SparkSession.getActiveSession()
    if spark is None:
        return
    key = "spark.sql.analyzer.maxIterations"
    try:
        cur = int(spark.conf.get(key, "100"))
        if cur < min_iters:
            spark.conf.set(key, str(min_iters))
    except Exception:  # pragma: no cover - read-only conf managers
        pass


def _canon_literal(value: Any) -> Column:
    """Canonical string of a Python JSON literal, computed through the SAME
    Spark expressions as the instance side — so the number formatting is
    Java's Double.toString by construction, not a Python reimplementation.
    Driver-folded once per distinct value (tiny local job, module-cached);
    without an active session the expression is left inline (same semantics,
    evaluated per row on a constant input)."""
    key = _cjson(value)
    cached = _CANON_LIT_CACHE.get(key)
    if cached is None:
        from pyspark.sql import SparkSession
        expr = _canon(F.try_parse_json(F.lit(json.dumps(value))),
                      _py_depth(value))
        spark = SparkSession.getActiveSession()
        if spark is None:
            return expr
        [row] = spark.range(1).select(expr.alias("c")).collect()
        cached = _CANON_LIT_CACHE.setdefault(key, row["c"])
    return F.lit(cached)


class VariantCompiler:
    """Compile a schema once (driver) into variant-expression predicates."""

    def __init__(
        self,
        schema_json: Any,
        uri: str = DEFAULT_URI,
        registry: Optional[dict[str, Any]] = None,
        child_columns: Optional[dict[str, Column]] = None,
        message_style: str = "structured",
        deep_ref_behavior: str = "error",
        assert_formats: bool = False,
    ) -> None:
        #: opt-in draft-7 format assertion (annotation by default; formats.py)
        self.assert_formats = assert_formats
        #: past-MAX_VARIANT_DEPTH / past-MAX_CANON_DEPTH instance behavior:
        #: "error" = loud job abort (never a wrong verdict, the default);
        #: "invalid" = verdict False + $recursion violation (batch survives,
        #: deep rows flagged for interpreter re-validation) — see
        #: _too_deep_leaf for why neither can match interpreter fuel=1000
        self.deep_ref_behavior = deep_ref_behavior
        #: "structured" or "reference" (byte-parity Lean reportError strings,
        #: offending value compressed in at runtime — _lean_compress_variant)
        self.message_style = message_style
        #: optional pre-projected child variants for ROOT-level property /
        #: required checks (set by validate_json_column_variant's second
        #: Generate barrier): re-navigating `$.k` from the root re-walks the
        #: variant binary at every keyword leaf, while a barrier-projected
        #: struct field is a plain attribute read
        self.child_columns = child_columns
        self.schema: Schema = parse_schema(schema_json)
        self.root_uri = uri
        self._schema_json = schema_json
        self._registry = registry
        self.resolver = Resolver()
        self.resolver.add_schema(schema_json, uri)
        if registry:
            for reg_uri, reg_schema in registry.items():
                self.resolver.add_schema(reg_schema, reg_uri)
        if find_ref_cycle(self.resolver) is not None:
            # evil cycles (ref->ref through combinators only) never consume
            # instance depth, so unrolling can't bound them — Arrow path,
            # whose fuel semantics match the reference's "Stack overflow"
            raise CompileFallback("cyclic schema not lowerable to variant ops")
        self._nodes = 0
        _ensure_analyzer_budget()

    def lower(self) -> Lowered:
        return self._lower(self.schema, self.root_uri, ())

    def _refb(self, keyword: str, count_fn=None,
              prefix_key: Optional[str] = None, **ctx):
        """Reference-style message builder (v -> Column), or None outside
        reference mode. Twin of ColumnarCompiler._refb with variant-side
        compress / length / number renderings."""
        if self.message_style != "reference":
            return None
        from .lean_messages import REF_SHAPES, ref_prefix
        pre = ref_prefix(prefix_key or keyword, **ctx)
        shape = REF_SHAPES[keyword]

        def compress(v: Column) -> Column:
            return F.coalesce(_lean_compress_variant(v), F.lit("null"))
        if shape == "value":
            return lambda v: F.concat(F.lit(pre), compress(v))
        if shape == "strlen":
            return lambda v: F.concat(F.lit(pre),
                                      F.length(_sval(v)).cast("string"))
        if shape == "num":
            return lambda v: F.concat(F.lit(pre + '"'), _lean_num_variant(v),
                                      F.lit('"'))
        if shape == "count_value":
            return lambda v: F.concat(F.lit(pre), count_fn(v).cast("string"),
                                      F.lit(" "), compress(v))
        return None  # pragma: no cover

    # ------------------------------------------------------------------

    def _lower(self, schema: Schema, base_uri: str,
               chain: tuple[str, ...]) -> Lowered:
        # `chain` is the stack of resolved $ref targets along this inline
        # path: a target repeating means we are unrolling a benign cycle
        # (one unroll per instance-nesting level); an acyclic chain never
        # repeats, however long
        self._nodes += 1
        if self._nodes > NODE_BUDGET:
            raise CompileFallback(
                "variant lowering node budget exceeded (branching recursive "
                "schema)")
        if isinstance(schema, bool):
            if schema:
                return _LOWERED_TRUE
            return Lowered(
                valid=lambda v: F.lit(False),
                violations=lambda v, p: F.array(
                    _viol("false", p, "Boolean schema 'false' rejects all values")),
            )
        s = schema
        assert isinstance(s, SchemaObject)

        if s.ref is not None:  # $ref overrides siblings (Draft 7)
            target = resolve_uri(base_uri, s.ref)
            root, subpath = self.resolver.resolve_path(target)
            got = self.resolver.get_schema_and_uri(root, subpath)
            if got is None:
                rref = self._refb("$ref", base=root, path=subpath)
                return Lowered(
                    valid=lambda v: F.lit(False),
                    violations=lambda v, p: F.array(
                        _viol_col("$ref", p, rref(v)) if rref is not None
                        else _viol("$ref", p, f"Could not find {target!r}")),
                )
            sub, new_uri = got
            key = f"{root}#{'/'.join(subpath)}"
            if chain.count(key) >= MAX_VARIANT_DEPTH:
                return _too_deep_leaf(key, self.deep_ref_behavior)
            return self._lower(sub, new_uri, chain + (key,))

        if s.id is not None:
            base_uri = resolve_uri(base_uri, s.id)

        valid_parts: list[Callable[[Column], Column]] = []
        viol_parts: list[Callable[[Column, Column], Column]] = []

        def add(valid_fn, viol_fn) -> None:
            valid_parts.append(valid_fn)
            viol_parts.append(viol_fn)

        def add_simple(ok_fn, keyword: str, msg: str, ref=None) -> None:
            if self.message_style == "reference" and ref is not None:
                add(lambda v, ok=ok_fn: _guard(v, ok(v)),
                    lambda v, p, ok=ok_fn, kw=keyword, r=ref:
                    _cond_viol_col(v, ok(v), kw, p, r(v)))
            else:
                add(lambda v, ok=ok_fn: _guard(v, ok(v)),
                    lambda v, p, ok=ok_fn, kw=keyword, m=msg:
                    _cond_viol(v, ok(v), kw, p, m))

        self._lower_type(s, add_simple)
        self._lower_const_enum(s, add_simple)
        self._lower_string(s, add_simple)
        self._lower_numeric(s, add_simple)
        self._lower_object(s, base_uri, chain, add, add_simple)
        self._lower_array(s, base_uri, chain, add, add_simple)
        self._lower_combinators(s, base_uri, chain, add)

        if not valid_parts:
            return _LOWERED_TRUE

        def valid(v: Column) -> Column:
            return reduce(lambda a, b: a & b, (fn(v) for fn in valid_parts))

        def violations(v: Column, p: Column) -> Column:
            return _concat_viols([fn(v, p) for fn in viol_parts])

        return Lowered(valid=valid, violations=violations)

    # ---- type ---------------------------------------------------------

    def _lower_type(self, s: SchemaObject, add_simple) -> None:
        if "any" in s.types:
            return
        names = list(s.types)

        def one(t: str, v: Column) -> Column:
            ts = _ts(v)
            if t == "string":
                return ts == "STRING"
            if t == "boolean":
                return ts == "BOOLEAN"
            if t == "null":
                return ts == "VOID"
            if t == "object":
                return ts.startswith("OBJECT")
            if t == "array":
                return ts.startswith("ARRAY")
            if t == "number":
                return _is_num(v)
            if t == "integer":
                return _is_num(v) & _is_integral(v)
            return F.lit(False)  # unknown type name matches nothing

        tref = self._refb("type", types=[str(t) for t in names])
        if not names:
            add_simple(lambda v: F.lit(False), "type", "expected one of []",
                       ref=tref)
        else:
            add_simple(lambda v, ns=names: reduce(lambda a, b: a | b,
                                                  (one(t, v) for t in ns)),
                       "type", f"expected one of {names}", ref=tref)

    # ---- const / enum ---------------------------------------------------

    def _scalar_eq(self, v: Column, value: Any) -> Column:
        if value is None:
            return _ts(v) == "VOID"
        if isinstance(value, bool):
            return (_ts(v) == "BOOLEAN") & (_bval(v) == value)
        if isinstance(value, (int, float)):
            # numeric-tolerant equality (reference compares as Float)
            return _is_num(v) & (_dval(v) == float(value))
        if isinstance(value, str):
            return (_ts(v) == "STRING") & (_sval(v) == value)
        # array/object literal: canonical-string deep equality. Depth is the
        # literal's EXACT depth, so an instance nesting deeper canonicalizes
        # to NULL -> not equal (correct: it can't equal a shallower literal).
        return _canon(v, _py_depth(value)) == _canon_literal(value)

    def _lower_const_enum(self, s: SchemaObject, add_simple) -> None:
        if s.const is not ABSENT:
            cval = s.const
            add_simple(lambda v, cv=cval: self._scalar_eq(v, cv),
                       "const", f"expected {_cjson(cval)}",
                       ref=self._refb("const", const=cval))
        if s.enum is not None:
            vals = list(s.enum)
            eref = self._refb("enum", enum=vals)
            if not vals:
                add_simple(lambda v: F.lit(False), "enum", "not in enum",
                           ref=eref)
            else:
                add_simple(lambda v, vs=vals: reduce(
                    lambda a, b: a | b, (self._scalar_eq(v, x) for x in vs)),
                    "enum", "not in enum", ref=eref)

    # ---- strings ---------------------------------------------------------

    def _lower_string(self, s: SchemaObject, add_simple) -> None:
        def gated(pred_fn):
            # string keywords apply only to string values (type-guard)
            return lambda v: F.when(_ts(v) == "STRING", pred_fn(v)) \
                              .otherwise(F.lit(True))
        if s.max_length is not None:
            n = s.max_length
            add_simple(gated(lambda v, n=n: F.length(_sval(v)) <= n),
                       "maxLength", f"length > {n}",
                       ref=self._refb("maxLength", limit=n))
        if s.min_length is not None:
            n = s.min_length
            add_simple(gated(lambda v, n=n: F.length(_sval(v)) >= n),
                       "minLength", f"length < {n}",
                       ref=self._refb("minLength", limit=n))
        if s.pattern is not None:
            from .regex_dialect import to_java_regex
            pat = s.pattern
            jpat = to_java_regex(pat)
            if jpat is None:
                raise CompileFallback(f"pattern not Java-safe: {pat!r}")
            add_simple(gated(lambda v, p=jpat: F.regexp_like(_sval(v), F.lit(p))),
                       "pattern", f"no match for {pat!r}",
                       ref=self._refb("pattern", pattern=pat))
        if self.assert_formats and s.format is not None:
            from .formats import format_predicate
            fmt = s.format
            if format_predicate(fmt, F.lit("")) is None:
                raise CompileFallback(
                    f"format {fmt!r} assertion has no native Spark "
                    "expression (interpreter path handles it)")
            add_simple(gated(lambda v, f=fmt: format_predicate(f, _sval(v))),
                       "format", f"not a valid {fmt!r}")

    # ---- numerics ---------------------------------------------------------

    def _lower_numeric(self, s: SchemaObject, add_simple) -> None:
        def gated(pred_fn):
            return lambda v: F.when(_is_num(v), pred_fn(_dval(v))) \
                              .otherwise(F.lit(True))
        if s.maximum is not None:
            m = s.maximum
            add_simple(gated(lambda d, m=m: d <= m), "maximum", f"> {m}",
                       ref=self._refb("maximum", limit=m))
        if s.exclusive_maximum is not None:
            m = s.exclusive_maximum
            add_simple(gated(lambda d, m=m: d < m), "exclusiveMaximum", f">= {m}",
                       ref=self._refb("exclusiveMaximum", limit=m))
        if s.minimum is not None:
            m = s.minimum
            add_simple(gated(lambda d, m=m: d >= m), "minimum", f"< {m}",
                       ref=self._refb("minimum", limit=m))
        if s.exclusive_minimum is not None:
            m = s.exclusive_minimum
            add_simple(gated(lambda d, m=m: d > m), "exclusiveMinimum", f"<= {m}",
                       ref=self._refb("exclusiveMinimum", limit=m))
        if s.multiple_of is not None:
            m = s.multiple_of
            if m == 0:
                add_simple(gated(lambda d: F.lit(False)), "multipleOf",
                           "multipleOf 0",
                           ref=self._refb("multipleOf", limit=m))
            else:
                add_simple(gated(lambda d, m=m: (d / m % 1.0) == 0.0),
                           "multipleOf", f"not a multiple of {m}",
                           ref=self._refb("multipleOf", limit=m))

    # ---- objects ---------------------------------------------------------

    def _lower_object(self, s: SchemaObject, base_uri: str,
                      chain: tuple[str, ...],
                      add, add_simple) -> None:
        has_obj_kw = any([
            s.required, s.properties, s.pattern_properties,
            s.property_names is not None,
            s.additional_properties is not None, s.max_properties is not None,
            s.min_properties is not None, s.dependencies,
        ])
        if not has_obj_kw:
            return

        def is_obj(v: Column) -> Column:
            return _ts(v).startswith("OBJECT")

        def gated(pred_fn):
            # object keywords pass on non-objects (type-guard)
            return lambda v: F.when(is_obj(v), pred_fn(v)).otherwise(F.lit(True))

        is_root = s is self.schema and not chain

        def child(v: Column, k: str) -> Column:
            # root-level children may be pre-projected behind the second
            # Generate barrier (attribute read instead of variant re-walk).
            # Only for the root node reached structurally: the pre-projected
            # columns navigate the ROOT variant, so a ref back to the root
            # schema (chain non-empty) must re-navigate from its own v.
            if is_root and self.child_columns and k in self.child_columns:
                return self.child_columns[k]
            return _child(v, k)

        if s.required:
            req = list(s.required)
            # presence = non-null child (a JSON null value is a non-null
            # VOID variant, so present-with-null still counts)
            add_simple(gated(lambda v, r=req: reduce(
                lambda a, b: a & b,
                (child(v, k).isNotNull() for k in r))),
                "required", f"missing one of {req}",
                ref=self._refb("required", required=req))

        def _nprops(v: Column) -> Column:
            return F.size(_vmap(v))
        if s.max_properties is not None:
            m = s.max_properties
            add_simple(gated(lambda v, m=m: F.size(_vmap(v)) <= m),
                       "maxProperties", f"> {m}",
                       ref=self._refb("maxProperties", count_fn=_nprops,
                                      limit=m))
        if s.min_properties is not None:
            m = s.min_properties
            add_simple(gated(lambda v, m=m: F.size(_vmap(v)) >= m),
                       "minProperties", f"< {m}",
                       ref=self._refb("minProperties", count_fn=_nprops,
                                      limit=m))

        if s.properties:
            for name, sub in s.properties:
                low = self._lower(sub, base_uri, chain)
                tok = escape_token(name)

                # child is SQL NULL iff absent (or non-object) — the
                # absent-passes guard needs no separate is_obj test
                add(lambda v, lo=low, k=name: F.when(
                        child(v, k).isNull(), F.lit(True))
                    .otherwise(F.coalesce(lo.valid(child(v, k)), F.lit(False))),
                    lambda v, p, lo=low, k=name, t=tok: F.when(
                        child(v, k).isNull(),
                        F.array().cast(VIOLATION_SCHEMA))
                    .otherwise(lo.violations(child(v, k),
                                             F.concat(p, F.lit("/" + t)))))

        def pn_viols_from(bad_keys_fn):
            """One 'propertyNames' violation per offending key at the
            object's pointer (interpreter granularity)."""
            refmode = self.message_style == "reference"

            def msg_for(k: Column, v: Column) -> Column:
                if refmode:
                    return F.concat(F.lit("Property name '"), k,
                                    F.lit("' is invalid "),
                                    _lean_compress_variant(v))
                return F.concat(F.lit("property name '"), k,
                                F.lit("' invalid"))

            def viol_fn(v: Column, p: Column) -> Column:
                return F.when(v.isNull() | ~is_obj(v),
                              F.array().cast(VIOLATION_SCHEMA)) \
                        .otherwise(F.transform(
                            bad_keys_fn(v),
                            lambda k: F.struct(
                                F.lit("propertyNames").alias("keyword"),
                                p.alias("json_pointer"),
                                msg_for(k, v).alias("message"))))
            return viol_fn

        if s.property_names is not None:
            pn = s.property_names
            if isinstance(pn, bool):
                if not pn:
                    add(gated(lambda v: F.size(_vmap(v)) == 0),
                        pn_viols_from(lambda v: F.map_keys(_vmap(v))))
            else:
                # names are plain strings: reuse the static compiler's
                # StringType lowering with the SAME resolver context (a real
                # constructor call — hand-seeding attributes via __new__
                # breaks whenever the compiler grows a field)
                from .compiler import ColumnarCompiler
                cc = ColumnarCompiler(self._schema_json, uri=self.root_uri,
                                      registry=self._registry)
                name_low = cc.lower_node(pn, StringType(), base_uri=base_uri)
                add(gated(lambda v, lo=name_low: F.forall(
                        F.map_keys(_vmap(v)),
                        lambda k: F.coalesce(lo.valid(k), F.lit(False)))),
                    pn_viols_from(lambda v, lo=name_low: F.filter(
                        F.map_keys(_vmap(v)),
                        lambda k: ~F.coalesce(lo.valid(k), F.lit(False)))))

        from .regex_dialect import to_java_regex
        pattern_res = []
        for pat, _ in (s.pattern_properties or []):
            jpat = to_java_regex(pat)
            if jpat is None:
                raise CompileFallback(f"patternProperties regex {pat!r}")
            pattern_res.append(jpat)
        def entries_viols(entries_fn, low):
            """Recurse into each entry's value with a per-key pointer —
            sub-violations keep their own keywords, matching the
            interpreter's granularity."""
            def viol_fn(v: Column, p: Column) -> Column:
                return F.when(v.isNull() | ~is_obj(v),
                              F.array().cast(VIOLATION_SCHEMA)) \
                        .otherwise(F.flatten(F.transform(
                            entries_fn(v),
                            lambda kv: low.violations(
                                kv.getField("value"),
                                F.concat(p, F.lit("/"),
                                         _ptr_key(kv.getField("key")))))))
            return viol_fn

        if s.pattern_properties:
            for (pat, sub), jpat in zip(s.pattern_properties, pattern_res):
                low = self._lower(sub, base_uri, chain)

                def matched_fn(v: Column, p=jpat) -> Column:
                    return F.filter(
                        F.map_entries(_vmap(v)),
                        lambda kv: F.regexp_like(kv.getField("key"), F.lit(p)))

                add(gated(lambda v, lo=low, m=matched_fn: F.forall(
                        m(v), lambda kv: F.coalesce(
                            lo.valid(kv.getField("value")), F.lit(False)))),
                    entries_viols(matched_fn, low))

        if s.additional_properties is not None:
            declared = [n for n, _ in (s.properties or [])]

            def extra_entries(v: Column) -> Column:
                def is_extra(kv: Column) -> Column:
                    cond = ~kv.getField("key").isin(*declared) if declared \
                        else F.lit(True)
                    for p in pattern_res:
                        cond = cond & ~F.regexp_like(kv.getField("key"), F.lit(p))
                    return cond
                return F.filter(F.map_entries(_vmap(v)), is_extra)

            if isinstance(s.additional_properties, bool):
                if not s.additional_properties:
                    # one 'false' violation per extra key (matches the
                    # reference/interpreter, which validate each extra value
                    # against the `false` schema)
                    def ap_viols(v: Column, p: Column) -> Column:
                        return F.when(
                            v.isNull() | ~is_obj(v)
                            | (F.size(extra_entries(v)) == 0),
                            F.array().cast(VIOLATION_SCHEMA)) \
                            .otherwise(F.transform(
                                extra_entries(v),
                                lambda kv: F.struct(
                                    F.lit("false").alias("keyword"),
                                    F.concat(p, F.lit("/"),
                                             _ptr_key(kv.getField("key")))
                                     .alias("json_pointer"),
                                    F.lit("Boolean schema 'false' rejects "
                                          "all values").alias("message"))))
                    add(lambda v: _guard(v, F.when(
                            is_obj(v), F.size(extra_entries(v)) == 0)
                            .otherwise(F.lit(True))),
                        ap_viols)
            else:
                low = self._lower(s.additional_properties, base_uri, chain)
                add(gated(lambda v, lo=low: F.forall(
                        extra_entries(v),
                        lambda kv: F.coalesce(lo.valid(kv.getField("value")),
                                              F.lit(False)))),
                    entries_viols(extra_entries, low))

        if s.dependencies:
            for key, dep in s.dependencies:
                if dep.required_props is not None:
                    reqs = dep.required_props
                    dref = None
                    if self.message_style == "reference" and reqs:
                        def dref(v: Column, k=key, r=tuple(reqs)) -> Column:
                            from .lean_messages import ref_prefix
                            first_missing = F.coalesce(
                                *[F.when(~F.map_contains_key(_vmap(v), x),
                                         F.lit(x)) for x in r],
                                F.lit(r[0]))
                            pre = ref_prefix("dependencies", key=k, req="\x00")
                            head, tail = pre.split("\x00")
                            return F.concat(
                                F.lit(head), first_missing, F.lit(tail),
                                F.coalesce(_lean_compress_variant(v),
                                           F.lit("null")))
                    add_simple(gated(lambda v, k=key, r=reqs: F.when(
                        F.map_contains_key(_vmap(v), k),
                        reduce(lambda a, b: a & b,
                               (F.map_contains_key(_vmap(v), x) for x in r))
                        if r else F.lit(True)).otherwise(F.lit(True))),
                        "dependencies", f"{key!r} requires {dep.required_props}",
                        ref=dref)
                if dep.schema is not None:
                    low = self._lower(dep.schema, base_uri, chain)

                    def v_fn(v: Column, lo=low, k=key) -> Column:
                        return F.when(
                            v.isNull() | ~is_obj(v)
                            | ~F.map_contains_key(_vmap(v), k), F.lit(True)) \
                            .otherwise(F.coalesce(lo.valid(v), F.lit(False)))

                    def viol_fn(v: Column, p: Column, lo=low, k=key) -> Column:
                        return F.when(
                            v.isNull() | ~is_obj(v)
                            | ~F.map_contains_key(_vmap(v), k),
                            F.array().cast(VIOLATION_SCHEMA)) \
                            .otherwise(lo.violations(v, p))
                    add(v_fn, viol_fn)

    # ---- arrays ------------------------------------------------------------

    def _lower_array(self, s: SchemaObject, base_uri: str,
                     chain: tuple[str, ...],
                     add, add_simple) -> None:
        has_arr_kw = any([
            s.items is not None, s.additional_items is not None,
            s.max_items is not None, s.min_items is not None,
            s.unique_items, s.contains is not None,
        ])
        if not has_arr_kw:
            return
        def is_arr(v: Column) -> Column:
            return _ts(v).startswith("ARRAY")

        def gated(pred_fn):
            return lambda v: F.when(is_arr(v), pred_fn(_varr(v))) \
                              .otherwise(F.lit(True))

        if s.unique_items:
            # variant has no Column equality, so dedup by injective
            # canonical strings instead: unique iff array_distinct keeps
            # every canon. A NULL canon means an element nests past
            # MAX_CANON_DEPTH — raise loudly (lazy CASE branch: shallow
            # arrays never evaluate it) rather than ever mis-verdict.
            deep_msg = ("uniqueItems: array element nests deeper than "
                        f"{MAX_CANON_DEPTH} levels; the variant path cannot "
                        "canonicalize it — validate via the Arrow "
                        "interpreter (prefer_variant=False)")

            def canons_of(arr: Column) -> Column:
                return F.transform(arr, lambda e: _canon(e, MAX_CANON_DEPTH))

            if self.deep_ref_behavior == "invalid":
                # Too-deep rows must stay DISTINGUISHABLE from genuine
                # duplicate-item failures: flag them with a '$recursion'
                # violation (like _too_deep_leaf) so the documented
                # filter-and-revalidate contract covers them, instead of
                # a factually wrong "array items are not unique".
                def uniq_inv(arr: Column) -> Column:
                    return _let(canons_of(arr), lambda canons: F.when(
                        F.exists(canons, lambda c: c.isNull()), F.lit(False))
                        .otherwise(F.size(F.array_distinct(canons))
                                   == F.size(canons)))

                ref = self._refb("uniqueItems")

                def viol_fn(v: Column, p: Column) -> Column:
                    dup = (F.array(_viol_col("uniqueItems", p, ref(v)))
                           if ref is not None
                           else F.array(_viol("uniqueItems", p,
                                              "array items are not unique")))
                    return F.when(_guard(v, gated(uniq_inv)(v)),
                                  F.array().cast(VIOLATION_SCHEMA)) \
                        .otherwise(F.when(
                            is_arr(v) & F.exists(canons_of(_varr(v)),
                                                 lambda c: c.isNull()),
                            F.array(_viol("$recursion", p, deep_msg)))
                            .otherwise(dup))

                add(lambda v: _guard(v, gated(uniq_inv)(v)), viol_fn)
            else:
                def uniq(arr: Column) -> Column:
                    return _let(canons_of(arr), lambda canons: F.when(
                        F.exists(canons, lambda c: c.isNull()),
                        F.raise_error(F.lit(deep_msg)).cast("boolean"))
                        .otherwise(F.size(F.array_distinct(canons))
                                   == F.size(canons)))

                add_simple(gated(uniq), "uniqueItems",
                           "array items are not unique",
                           ref=self._refb("uniqueItems"))

        def _nitems(v: Column) -> Column:
            return F.size(_varr(v))
        if s.max_items is not None:
            m = s.max_items
            add_simple(gated(lambda a, m=m: F.size(a) <= m), "maxItems", f"> {m}",
                       ref=self._refb("maxItems", count_fn=_nitems, limit=m))
        if s.min_items is not None:
            m = s.min_items
            add_simple(gated(lambda a, m=m: F.size(a) >= m), "minItems", f"< {m}",
                       ref=self._refb("minItems", count_fn=_nitems, limit=m))

        if s.items is not None and not s.items.is_tuple:
            low = self._lower(s.items.single, base_uri, chain)
            add(lambda v, lo=low: F.when(~is_arr(v), F.lit(True))
                .otherwise(F.forall(_varr(v), lambda e: F.coalesce(
                    lo.valid(e), F.lit(False)))),
                lambda v, p, lo=low: F.when(~is_arr(v),
                                            F.array().cast(VIOLATION_SCHEMA))
                .otherwise(F.flatten(F.transform(
                    _varr(v), lambda e, i: lo.violations(
                        e, F.concat(p, F.lit("/"), i.cast("string")))))))
        elif s.items is not None and s.items.is_tuple:
            for i, sub in enumerate(s.items.tuple_items):
                low = self._lower(sub, base_uri, chain)
                add(lambda v, lo=low, i=i: F.when(
                        ~is_arr(v) | (F.size(_varr(v)) <= i), F.lit(True))
                    .otherwise(F.coalesce(lo.valid(F.get(_varr(v), i)),
                                          F.lit(False))),
                    lambda v, p, lo=low, i=i: F.when(
                        ~is_arr(v) | (F.size(_varr(v)) <= i),
                        F.array().cast(VIOLATION_SCHEMA))
                    .otherwise(lo.violations(F.get(_varr(v), i),
                                             F.concat(p, F.lit(f"/{i}")))))
            if s.additional_items is not None:
                k = len(s.items.tuple_items)
                low = self._lower(s.additional_items, base_uri, chain)
                add(lambda v, lo=low, k=k: F.when(~is_arr(v), F.lit(True))
                    .otherwise(F.forall(
                        F.slice(_varr(v), k + 1,
                                F.greatest(F.size(_varr(v)) - k, F.lit(0))),
                        lambda e: F.coalesce(lo.valid(e), F.lit(False)))),
                    lambda v, p, lo=low, k=k: F.when(
                        ~is_arr(v), F.array().cast(VIOLATION_SCHEMA))
                    .otherwise(F.flatten(F.transform(
                        F.slice(_varr(v), k + 1,
                                F.greatest(F.size(_varr(v)) - k, F.lit(0))),
                        lambda e, i: lo.violations(
                            e, F.concat(p, F.lit("/"), (i + k).cast("string")))))))

        if s.contains is not None:
            low = self._lower(s.contains, base_uri, chain)
            lo_n = s.min_contains if s.min_contains is not None else 1
            hi_n = s.max_contains
            cref = None
            if self.message_style == "reference":
                ref_empty = self._refb("contains", prefix_key="contains_empty")
                ref_nomatch = self._refb("contains")

                def cref(v: Column) -> Column:
                    return F.when(F.size(_varr(v)) == 0, ref_empty(v)) \
                            .otherwise(ref_nomatch(v))
            if lo_n == 1 and hi_n is None:
                add_simple(gated(lambda a, lo=low: (F.size(a) > 0) & F.exists(
                    a, lambda e: F.coalesce(lo.valid(e), F.lit(False)))),
                    "contains", "no element matches (or empty array)",
                    ref=cref)
            else:
                # 2020-12 min/maxContains (extension)
                def n_matched(a: Column, lo=low) -> Column:
                    return F.size(F.filter(
                        a, lambda e: F.coalesce(lo.valid(e), F.lit(False))))
                def pred(a: Column) -> Column:
                    p = F.lit(True)
                    if lo_n > 0:
                        p = p & (n_matched(a) >= lo_n)
                    if hi_n is not None:
                        p = p & (n_matched(a) <= hi_n)
                    return p
                add_simple(gated(pred), "contains",
                           f"match count outside [{lo_n}, {hi_n}]",
                           ref=cref)

    # ---- combinators ---------------------------------------------------------

    def _lower_combinators(self, s: SchemaObject, base_uri: str,
                           chain: tuple[str, ...],
                           add) -> None:
        if s.all_of is not None:
            for sub in s.all_of:
                low = self._lower(sub, base_uri, chain)
                add(low.valid, low.violations)
        def branch_errs(v: Column, p: Column, lows) -> Column:
            """Lean-array-of-arrays of per-branch violation messages (the
            `Errors:` slot — twin of ColumnarCompiler.branch_errs)."""
            parts = [F.concat(
                F.lit("#["),
                F.array_join(F.transform(lo.violations(v, p),
                                         lambda x: x.getField("message")),
                             ", "),
                F.lit("]")) for lo in lows]
            return F.concat(F.lit("#["),
                            F.concat_ws(", ", *parts) if parts else F.lit(""),
                            F.lit("]"))

        refmode = self.message_style == "reference"
        if s.any_of is not None:
            lows = [self._lower(sub, base_uri, chain) for sub in s.any_of]

            def v_fn(v: Column, ls=lows) -> Column:
                if not ls:
                    return F.lit(False)
                return reduce(lambda a, b: a | b,
                              (F.coalesce(lo.valid(v), F.lit(False)) for lo in ls))

            def any_viol(v: Column, p: Column, vf=v_fn, ls=lows) -> Column:
                if refmode:
                    msg = F.concat(
                        F.lit("anyOf: no schemas matched. Errors: "),
                        branch_errs(v, p, ls), F.lit(" "),
                        F.coalesce(_lean_compress_variant(v), F.lit("null")))
                    bad = F.array(_viol_col("anyOf", p, msg))
                else:
                    bad = F.array(_viol("anyOf", p, "no branch matched"))
                return F.when(vf(v), F.array().cast(VIOLATION_SCHEMA)) \
                        .otherwise(bad)
            add(v_fn, any_viol)
        if s.one_of is not None:
            lows = [self._lower(sub, base_uri, chain) for sub in s.one_of]

            def v1_fn(v: Column, ls=lows) -> Column:
                if not ls:
                    return F.lit(False)
                return reduce(lambda a, b: a + b,
                              (F.coalesce(lo.valid(v), F.lit(False)).cast("int")
                               for lo in ls)) == 1

            def one_viol(v: Column, p: Column, vf=v1_fn, ls=lows) -> Column:
                if refmode:
                    n = reduce(lambda a, b: a + b,
                               (F.coalesce(lo.valid(v), F.lit(False))
                                 .cast("int") for lo in ls)) \
                        if ls else F.lit(0)
                    compressed = F.coalesce(_lean_compress_variant(v),
                                            F.lit("null"))
                    msg = F.when(
                        n == 0,
                        F.concat(F.lit("oneOf: expected exactly 1 match but "
                                       "got 0. Errors: "),
                                 branch_errs(v, p, ls), F.lit(" "),
                                 compressed)) \
                        .otherwise(F.concat(
                            F.lit("oneOf: expected exactly 1 match but got "),
                            n.cast("string"), F.lit(" "), compressed))
                    bad = F.array(_viol_col("oneOf", p, msg))
                else:
                    bad = F.array(_viol("oneOf", p, "matched != 1 branches"))
                return F.when(vf(v), F.array().cast(VIOLATION_SCHEMA)) \
                        .otherwise(bad)
            add(v1_fn, one_viol)
        if s.not_ is not None:
            low = self._lower(s.not_, base_uri, chain)

            def vn_fn(v: Column, lo=low) -> Column:
                return ~F.coalesce(lo.valid(v), F.lit(False))
            nref = self._refb("not")
            add(vn_fn, lambda v, p, vf=vn_fn, r=nref: F.when(
                vf(v), F.array().cast(VIOLATION_SCHEMA))
                .otherwise(F.array(
                    _viol_col("not", p, r(v)) if r is not None
                    else _viol("not", p, "schema matched but must not"))))
        if s.if_ is not None:
            if_low = self._lower(s.if_, base_uri, chain)
            then_low = self._lower(s.then_, base_uri, chain) \
                if s.then_ is not None else _LOWERED_TRUE
            else_low = self._lower(s.else_, base_uri, chain) \
                if s.else_ is not None else _LOWERED_TRUE
            add(lambda v: F.when(F.coalesce(if_low.valid(v), F.lit(False)),
                                 then_low.valid(v)).otherwise(else_low.valid(v)),
                lambda v, p: F.when(F.coalesce(if_low.valid(v), F.lit(False)),
                                    then_low.violations(v, p))
                .otherwise(else_low.violations(v, p)))


# ---------------------------------------------------------------------------
# DataFrame-level entry point
# ---------------------------------------------------------------------------

def validate_json_column_variant(df, json_col: str, schema_json: Any,
                                 registry: Optional[dict[str, Any]] = None,
                                 uri: str = DEFAULT_URI,
                                 verdict_only: bool = False,
                                 message_style: str = "structured",
                                 deep_ref_behavior: str = "error",
                                 assert_formats: bool = False):
    """Variant-path validation of a JSON string column. Adds ``valid`` (+
    ``violations`` unless verdict_only). Contract matches the Arrow path
    (validate_json_column): NULL input -> NULL verdict; unparseable JSON ->
    invalid with a ``$parse`` violation. Raises CompileFallback outside the
    variant-lowerable subset."""
    def build() -> dict:
        comp = VariantCompiler(schema_json, uri=uri, registry=registry,
                               message_style=message_style,
                               deep_ref_behavior=deep_ref_behavior,
                               assert_formats=assert_formats)
        raw = F.col(json_col)

        # Generate barrier (measured 3x at sf0.1): projections INLINE aliased
        # expressions at every reference — Catalyst has no common-subexpression
        # reuse for interpreted expressions — so lowering directly over
        # try_parse_json(raw) would re-parse the JSON at every keyword leaf.
        # explode(array(x)) routes the parse through a Generate node whose
        # output is a real attribute; the parse then runs exactly once per row
        # (array always has 1 element, so no rows are added or dropped).
        tmp = "_jsl_variant"
        while tmp in df.columns or tmp + "_kids" in df.columns:
            tmp += "_"
        b1 = F.explode(F.array(F.try_parse_json(raw))).alias(tmp)
        v = F.col(tmp)

        # second barrier: pre-navigate the ROOT object's property/required
        # children once per row (each `$.k` navigation otherwise re-walks the
        # variant binary at every keyword leaf referencing that child)
        s = comp.schema
        child_names: list[str] = []
        if isinstance(s, SchemaObject) and s.ref is None:
            seen = set()
            for name, _sub in (s.properties or []):
                if name not in seen:
                    seen.add(name)
                    child_names.append(name)
            for name in (s.required or []):
                if name not in seen:
                    seen.add(name)
                    child_names.append(name)
        b2 = None
        if child_names and len(child_names) <= 64:
            ctmp = tmp + "_kids"
            b2 = F.explode(F.array(F.struct(
                *[_child(v, n).alias(f"c{i}")
                  for i, n in enumerate(child_names)]))).alias(ctmp)
            comp.child_columns = {
                n: F.col(ctmp).getField(f"c{i}")
                for i, n in enumerate(child_names)}
        low = comp.lower()

        ok = F.coalesce(low.valid(v), F.lit(False))
        valid = (F.when(raw.isNull(), F.lit(None).cast("boolean"))
                  .when(v.isNull(), F.lit(False))
                  .otherwise(ok))
        viols = None
        if not verdict_only:
            viols = (F.when(raw.isNull(), F.lit(None).cast(VIOLATION_SCHEMA))
                      .when(v.isNull(),
                            F.array(_viol("$parse", F.lit(""), "invalid JSON")))
                      .when(ok, F.array().cast(VIOLATION_SCHEMA))
                      .otherwise(low.violations(v, F.lit(""))))
        return {"b1": b1, "b2": b2, "valid": valid, "viols": viols}

    # unresolved name-bound Columns (barrier aliases are derived
    # deterministically from df.columns, which the dtype key covers):
    # memoized so repeat batches skip the py4j expression rebuild
    plan = plan_memo("variant", df, schema_json, registry,
                     (json_col, uri, verdict_only, message_style,
                      deep_ref_behavior, assert_formats), build)
    # per-consuming-session, not only at build time: a cache hit from a
    # sibling session never ran the compiler's budget raise
    _ensure_analyzer_budget(spark=df.sparkSession)

    base = df.select("*", plan["b1"])
    if plan["b2"] is not None:
        base = base.select("*", plan["b2"])

    # match the Arrow path's withColumns contract: pre-existing valid /
    # violations columns are REPLACED, not duplicated
    out_cols = [c for c in df.columns
                if c not in ("valid",) + (() if verdict_only
                                          else ("violations",))]
    if verdict_only:
        return base.select(*out_cols, plan["valid"].alias("valid"))
    return base.select(*out_cols, plan["valid"].alias("valid"),
                       plan["viols"].alias("violations"))
