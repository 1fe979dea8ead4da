"""The keyword walk's VARIANT value model: the columnar fast path for
DYNAMIC JSON columns (VERDICT r1 #3).

The static-dtype model (compiler.py) needs a Spark DataType to specialize
against; arbitrary JSON strings used to fall through to the Arrow-batch
interpreter (~30k rows/s of per-value Python). Spark 4's VARIANT type closes
that gap: ``try_parse_json`` shreds the JSON once into a binary variant, and
:class:`VariantCompiler` runs the same keyword walk (compiler.KeywordWalk)
over :class:`VariantModel`, which reaches every JSON kind through JVM-side
variant expressions — no Python anywhere:

- per-value JSON type     -> ``schema_of_variant`` ('STRING', 'BIGINT',
  'DECIMAL(p,s)', 'DOUBLE', 'BOOLEAN', 'VOID', 'OBJECT<...>', 'ARRAY<...>')
- typed extraction        -> ``try_variant_get(v, '$', T)`` (null on mismatch)
- object keys/entries     -> ``try_cast(v AS map<string,variant>)`` + map_*
- array elements          -> ``try_variant_get(v, '$', 'array<variant>')``

What the model owns: ``type``, ``const``/``enum`` and ``uniqueItems`` (deep
equality by canonical strings, below), the root child-column barrier and the
recursive-``$ref`` unroll budget. Object keys are plain strings, so
``propertyNames`` lowers over them with the static model.

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
exact depth so deeper instances simply compare not-equal. A literal's canon
is built in Python with Java's number text (``_canon_literal``), so plan
building runs no Spark job.

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

import math
import re
from functools import reduce
from typing import Any, Optional

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from .compiler import (
    UNIQUE_ITEMS_MSG,
    VIOLATION_SCHEMA,
    CompileFallback,
    Frame,
    KeywordWalk,
    Lowered,
    StaticModel,
    View,
    _cjson,
    _guard,
    _let,
    _viol,
    _viol_col,
)
from .plan_cache import plan_memo
from .resolver import DEFAULT_URI
from .schema_ast import ABSENT, SchemaObject

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
    """Canonical string of a Python JSON literal: ``_canon``'s encoding
    built in Python, so plan building runs no Spark job. Number text comes
    from the JVM (:func:`_double_text`), which makes it Java's
    ``Double.toString`` by construction. Module-cached per distinct value."""
    key = _cjson(value)
    cached = _CANON_LIT_CACHE.get(key)
    if cached is None:
        cached = _CANON_LIT_CACHE.setdefault(key, _canon_text(value))
    return F.lit(cached)


def _canon_text(value: Any) -> str:
    if value is None:
        return "z"
    if isinstance(value, bool):
        return "b1" if value else "b0"
    if isinstance(value, (int, float)):
        return f"n{_double_text(value)}e"
    if isinstance(value, str):
        return f"s{len(value)}:{value}"  # len counts code points, as length()
    if isinstance(value, list):
        return "l" + "".join("s0:" + _canon_text(x) for x in value) + "e"
    # entries by key in code-point order (array_sort over UTF-8 keys)
    return "d" + "".join(f"s{len(k)}:{k}" + _canon_text(x)
                         for k, x in sorted(value.items())) + "e"


def _double_text(x: Any) -> str:
    """The instance side's ``(d + 0.0).cast("string")`` for the number
    ``x``: one py4j call to ``java.lang.Double.toString``."""
    from pyspark import SparkContext
    try:
        d = float(x) + 0.0  # + 0.0 folds -0.0 into 0.0
    except OverflowError:  # an int past the double range parses as ±inf
        d = math.copysign(math.inf, x)
    return SparkContext._active_spark_context._jvm.java.lang.Double.toString(d)


def _is_obj(v: Column) -> Column:
    return _ts(v).startswith("OBJECT")


def _is_arr(v: Column) -> Column:
    return _ts(v).startswith("ARRAY")


_VIEWS = {
    # string / number / array keywords apply only to values of that kind
    # (type-guard); the kind test is one schema_of_variant per keyword
    "string": View(get=_sval, test=lambda v: _ts(v) == "STRING"),
    "number": View(get=_dval, test=_is_num),
    "array": View(get=_varr, test=_is_arr),
}


def _scalar_eq(v: Column, value: Any) -> Column:
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


class VariantModel:
    """Value model of a VARIANT value: its JSON kind is tested per row with
    ``schema_of_variant`` and the value reached with ``try_variant_get`` /
    ``try_cast`` (module docstring). A SQL NULL is absent; a JSON null is
    a non-null 'VOID' variant, so no null_means distinction is needed."""

    def at(self, role: str):
        # object keys come out of map_keys as plain strings, not variants
        return StaticModel(StringType()) if role == "name" else self

    def view(self, kind: str) -> View:
        return _VIEWS[kind]

    def object_view(self, walk: "VariantCompiler", s: SchemaObject,
                    f: Frame) -> View:
        # root-level children may be pre-projected behind the second
        # Generate barrier (attribute read instead of variant re-walk).
        # Only for the root node reached structurally: the pre-projected
        # columns navigate the ROOT variant, so a ref back to the root
        # schema (chain non-empty) must re-navigate from its own v.
        kids = walk.child_columns if s is walk.schema and not f.chain else None

        def child(v: Column, k: str) -> Column:
            if kids and k in kids:
                return kids[k]
            return _child(v, k)
        # presence = non-null child (a JSON null value is a non-null VOID
        # variant, so present-with-null still counts); a non-object has
        # no children
        return View(get=_vmap, test=_is_obj,
                    has=lambda v, k: child(v, k).isNotNull(), member=child,
                    count=lambda v: F.size(_vmap(v)))

    def compress(self, v: Column) -> Column:
        return _lean_compress_variant(v)

    def num_text(self, v: Column) -> Column:
        return _lean_num_variant(v)

    def lower_type(self, walk: KeywordWalk, s: SchemaObject, add,
                   add_simple) -> None:
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

        tref = walk._refb("type", self, types=[str(t) for t in names])
        if not names:
            add_simple(lambda v: F.lit(False), "type", "expected one of []",
                       ref=tref)
        else:
            add_simple(lambda v, ns=names: reduce(lambda a, b: a | b,
                                                  (one(t, v) for t in ns)),
                       "type", f"expected one of {names}", ref=tref)

    def lower_const_enum(self, walk: KeywordWalk, s: SchemaObject, add,
                         add_simple) -> None:
        if s.const is not ABSENT:
            cval = s.const
            add_simple(lambda v, cv=cval: _scalar_eq(v, cv),
                       "const", f"expected {_cjson(cval)}",
                       ref=walk._refb("const", self, const=cval))
        if s.enum is not None:
            vals = list(s.enum)
            eref = walk._refb("enum", self, enum=vals)
            if not vals:
                add_simple(lambda v: F.lit(False), "enum", "not in enum",
                           ref=eref)
            else:
                add_simple(lambda v, vs=vals: reduce(
                    lambda a, b: a | b, (_scalar_eq(v, x) for x in vs)),
                    "enum", "not in enum", ref=eref)

    def unique_items(self, walk: "VariantCompiler", av: View, add,
                     add_simple) -> None:
        # variant has no Column equality, so dedup by injective canonical
        # strings instead: unique iff array_distinct keeps every canon. A
        # NULL canon means an element nests past MAX_CANON_DEPTH — raise
        # loudly (lazy CASE branch: shallow arrays never evaluate it)
        # rather than ever mis-verdict.
        deep_msg = ("uniqueItems: array element nests deeper than "
                    f"{MAX_CANON_DEPTH} levels; the variant path cannot "
                    "canonicalize it — validate via the Arrow "
                    "interpreter (prefer_variant=False)")
        ref = walk._refb("uniqueItems", self)

        def canons_of(arr: Column) -> Column:
            return F.transform(arr, lambda e: _canon(e, MAX_CANON_DEPTH))

        if walk.deep_ref_behavior != "invalid":
            def uniq(arr: Column) -> Column:
                return _let(canons_of(arr), lambda canons: F.when(
                    F.exists(canons, lambda c: c.isNull()),
                    F.raise_error(F.lit(deep_msg)).cast("boolean"))
                    .otherwise(F.size(F.array_distinct(canons))
                               == F.size(canons)))
            add_simple(av.check(uniq), "uniqueItems", UNIQUE_ITEMS_MSG,
                       ref=ref)
            return

        # Too-deep rows must stay DISTINGUISHABLE from genuine duplicate-
        # item failures: flag them with a '$recursion' violation (like
        # _too_deep_leaf) so the documented filter-and-revalidate contract
        # covers them, instead of a factually wrong uniqueItems violation.
        def uniq_inv(arr: Column) -> Column:
            return _let(canons_of(arr), lambda canons: F.when(
                F.exists(canons, lambda c: c.isNull()), F.lit(False))
                .otherwise(F.size(F.array_distinct(canons))
                           == F.size(canons)))

        def viol_fn(v: Column, p: Column) -> Column:
            dup = F.array(_viol_col("uniqueItems", p, ref(v)) if ref is not None
                          else _viol("uniqueItems", p, UNIQUE_ITEMS_MSG))
            return F.when(_guard(v, av.check(uniq_inv)(v)),
                          F.array().cast(VIOLATION_SCHEMA)) \
                .otherwise(F.when(
                    _is_arr(v) & F.exists(canons_of(av.get(v)),
                                          lambda c: c.isNull()),
                    F.array(_viol("$recursion", p, deep_msg)))
                    .otherwise(dup))

        add(lambda v: _guard(v, av.check(uniq_inv)(v)), viol_fn)


VARIANT = VariantModel()


class VariantCompiler(KeywordWalk):
    """Compile a schema once (driver) into variant-expression predicates:
    the keyword walk (compiler.KeywordWalk) over the VARIANT value model."""

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
        super().__init__(schema_json, uri, registry, message_style,
                         assert_formats)
        #: past-MAX_VARIANT_DEPTH / past-MAX_CANON_DEPTH instance behavior:
        #: "error" = loud job abort (never a wrong verdict, the default);
        #: "invalid" = verdict False + $recursion violation (batch survives,
        #: deep rows flagged for interpreter re-validation) — see
        #: _too_deep_leaf for why neither can match interpreter fuel=1000
        self.deep_ref_behavior = deep_ref_behavior
        #: optional pre-projected child variants for ROOT-level property /
        #: required checks (set by validate_json_column_variant's second
        #: Generate barrier): re-navigating `$.k` from the root re-walks the
        #: variant binary at every keyword leaf, while a barrier-projected
        #: struct field is a plain attribute read
        self.child_columns = child_columns
        if self.ref_cycle is not None:
            # evil cycles (ref->ref through combinators only) never consume
            # instance depth, so unrolling can't bound them — Arrow path,
            # whose fuel semantics match the reference's "Stack overflow"
            raise CompileFallback("cyclic schema not lowerable to variant ops")
        self._nodes = 0
        _ensure_analyzer_budget()

    def lower(self) -> Lowered:
        return self._lower(self.schema, Frame(VARIANT, self.root_uri))

    def _enter(self, f: Frame) -> None:
        self._nodes += 1
        if self._nodes > NODE_BUDGET:
            raise CompileFallback(
                "variant lowering node budget exceeded (branching recursive "
                "schema)")

    def _ref_leaf(self, key: str, f: Frame) -> Optional[Lowered]:
        # `f.chain` is the stack of resolved $ref targets along this inline
        # path: a target repeating means we are unrolling a benign cycle
        # (one unroll per instance-nesting level); an acyclic chain never
        # repeats, however long
        if f.chain.count(key) >= MAX_VARIANT_DEPTH:
            return _too_deep_leaf(key, self.deep_ref_behavior)
        return None


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
