"""Schema keyword AST + lenient parser.

Semantic parity target: /root/reference/JsonSchema/Schema.lean:59-354
(``SchemaObject`` keyword fields; ``schemaFromJson`` lenient extraction).

Lenient rules reproduced from the reference:

- boolean schemas are first-class (``True`` accepts all, ``False`` rejects all);
- ANY other JSON value parses as an object schema — a non-object (number,
  string, ...) yields an all-absent keyword set that accepts everything;
- absent or malformed ``type`` becomes ``["any"]``; a ``type`` array with an
  unknown name fails the parse (reference: ``fromJson?`` errors propagate);
- unknown keywords are ignored (only known fields are extracted);
- bounds parse to float, counts to non-negative int, ``uniqueItems`` defaults
  to ``False``.

Extensions beyond the reference (SURVEY.md §7.0): Draft 2020-12 spellings
``$defs``/``prefixItems``/``dependentRequired``/``dependentSchemas`` are
accepted as aliases onto the Draft 7 structures.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Optional, Union

JSON_TYPES = {"string", "number", "integer", "boolean", "object", "array", "null", "any"}

#: sentinel distinguishing "const absent" from "const: null"
ABSENT = object()


class SchemaParseError(ValueError):
    """Raised when a known keyword has a malformed value the reference rejects."""


@dataclass
class ItemsSchema:
    """Draft 7 dual-form items: single subschema or positional tuple."""

    single: Optional["Schema"] = None
    tuple_items: Optional[list["Schema"]] = None

    @property
    def is_tuple(self) -> bool:
        return self.tuple_items is not None


@dataclass
class Dependency:
    """dependencies value: either a property list or a subschema."""

    required_props: Optional[list[str]] = None
    schema: Optional["Schema"] = None


@dataclass
class SchemaObject:
    id: Optional[str] = None
    ref: Optional[str] = None
    types: list[str] = field(default_factory=lambda: ["any"])
    const: Any = ABSENT
    enum: Optional[list[Any]] = None
    max_length: Optional[int] = None
    min_length: Optional[int] = None
    pattern: Optional[str] = None
    #: draft-7 §7 annotation; asserted only on explicit opt-in (formats.py)
    format: Optional[str] = None
    maximum: Optional[float] = None
    minimum: Optional[float] = None
    exclusive_maximum: Optional[float] = None
    exclusive_minimum: Optional[float] = None
    multiple_of: Optional[float] = None
    unique_items: bool = False
    required: Optional[list[str]] = None
    properties: Optional[list[tuple[str, "Schema"]]] = None
    pattern_properties: Optional[list[tuple[str, "Schema"]]] = None
    property_names: Optional["Schema"] = None
    additional_properties: Optional["Schema"] = None
    max_properties: Optional[int] = None
    min_properties: Optional[int] = None
    dependencies: Optional[list[tuple[str, Dependency]]] = None
    items: Optional[ItemsSchema] = None
    additional_items: Optional["Schema"] = None
    max_items: Optional[int] = None
    min_items: Optional[int] = None
    contains: Optional["Schema"] = None
    #: 2020-12 aliases (extension): bound the COUNT of contains-matches.
    #: None = defaults (min 1, no max); ignored without `contains`.
    min_contains: Optional[int] = None
    max_contains: Optional[int] = None
    all_of: Optional[list["Schema"]] = None
    any_of: Optional[list["Schema"]] = None
    one_of: Optional[list["Schema"]] = None
    not_: Optional["Schema"] = None
    if_: Optional["Schema"] = None
    then_: Optional["Schema"] = None
    else_: Optional["Schema"] = None
    definitions: Optional[dict[str, "Schema"]] = None
    #: original JSON value, kept for pointer navigation by the resolver
    raw: Any = None


#: a schema is either a boolean or a keyword object
Schema = Union[bool, SchemaObject]


def _is_number(v: Any) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def _parse_nat(v: Any, kw: str) -> int:
    if not _is_number(v):
        raise SchemaParseError(f"{kw}: expected number, got {v!r}")
    # reference: JsonNumber -> Float -> UInt64 -> Nat (truncating)
    return max(0, int(float(v)))


def _parse_float(v: Any, kw: str) -> float:
    if not _is_number(v):
        raise SchemaParseError(f"{kw}: expected number, got {v!r}")
    return float(v)


def _parse_type(j: dict) -> list[str]:
    t = j.get("type")
    if isinstance(t, str):
        if t not in JSON_TYPES:
            raise SchemaParseError(f"unknown type {t!r}")
        return [t]
    if isinstance(t, list):
        out = []
        for name in t:
            if not isinstance(name, str) or name not in JSON_TYPES:
                raise SchemaParseError(f"unknown type {name!r}")
            out.append(name)
        return out
    return ["any"]  # absent or malformed (non-str/array) => any


def parse_schema(j: Any) -> Schema:
    """JSON value -> Schema (parity: ``schemaFromJson`` / ``compile``)."""
    if isinstance(j, bool):
        return j
    obj = SchemaObject(raw=j)
    if not isinstance(j, dict):
        return obj  # all-absent keywords: accepts everything

    def opt(kw: str) -> Any:
        return j.get(kw, ABSENT)

    obj.types = _parse_type(j)

    v = opt("$id")
    if v is not ABSENT:
        if not isinstance(v, str):
            raise SchemaParseError("$id must be a string")
        obj.id = v
    v = opt("$ref")
    if v is not ABSENT:
        if not isinstance(v, str):
            raise SchemaParseError("$ref must be a string")
        obj.ref = v

    obj.const = opt("const")

    v = opt("enum")
    if v is not ABSENT:
        if not isinstance(v, list):
            raise SchemaParseError("enum must be an array")
        obj.enum = v

    v = opt("required")
    if v is not ABSENT:
        if not isinstance(v, list) or not all(isinstance(x, str) for x in v):
            raise SchemaParseError("required must be an array of strings")
        obj.required = list(v)

    v = opt("uniqueItems")
    if v is not ABSENT:
        if not isinstance(v, bool):
            raise SchemaParseError("uniqueItems must be boolean")
        obj.unique_items = v

    for kw, attr in [
        ("maxLength", "max_length"), ("minLength", "min_length"),
        ("maxProperties", "max_properties"), ("minProperties", "min_properties"),
        ("maxItems", "max_items"), ("minItems", "min_items"),
        ("minContains", "min_contains"), ("maxContains", "max_contains"),
    ]:
        v = opt(kw)
        if v is not ABSENT:
            setattr(obj, attr, _parse_nat(v, kw))

    for kw, attr in [
        ("maximum", "maximum"), ("minimum", "minimum"),
        ("exclusiveMaximum", "exclusive_maximum"),
        ("exclusiveMinimum", "exclusive_minimum"),
        ("multipleOf", "multiple_of"),
    ]:
        v = opt(kw)
        if v is not ABSENT:
            setattr(obj, attr, _parse_float(v, kw))

    v = opt("pattern")
    if v is not ABSENT:
        if not isinstance(v, str):
            raise SchemaParseError("pattern must be a string")
        obj.pattern = v

    # format: parsed as an ANNOTATION (the reference never implemented it —
    # Format.lean 0 LoC); assertion is an explicit opt-in on each compiler.
    # A NON-STRING value is treated as absent rather than a parse error:
    # the reference ignores the key entirely, so {"format": 12} must keep
    # compiling here for parity on malformed-but-reference-accepted schemas
    v = opt("format")
    if v is not ABSENT and isinstance(v, str):
        obj.format = v

    # --- recursive fields ---
    obj.items, _items_rest = _parse_items(j)

    for kw, attr in [
        ("propertyNames", "property_names"),
        ("additionalProperties", "additional_properties"),
        ("additionalItems", "additional_items"),
        ("contains", "contains"),
        ("not", "not_"), ("if", "if_"), ("then", "then_"), ("else", "else_"),
    ]:
        v = opt(kw)
        if v is not ABSENT:
            setattr(obj, attr, parse_schema(v))

    # 2020-12 alias: single-form items next to prefixItems is the
    # rest-schema; an explicit additionalItems still wins
    if _items_rest is not None and obj.additional_items is None:
        obj.additional_items = _items_rest

    for kw, attr in [("properties", "properties"), ("patternProperties", "pattern_properties")]:
        v = opt(kw)
        if v is not ABSENT:
            if not isinstance(v, dict):
                raise SchemaParseError(f"{kw} must be an object")
            setattr(obj, attr, [(k, parse_schema(s)) for k, s in v.items()])

    for kw in ("allOf", "anyOf", "oneOf"):
        v = opt(kw)
        if v is not ABSENT:
            if not isinstance(v, list):
                raise SchemaParseError(f"{kw} must be an array")
            setattr(obj, {"allOf": "all_of", "anyOf": "any_of", "oneOf": "one_of"}[kw],
                    [parse_schema(s) for s in v])

    obj.dependencies = _parse_dependencies(j)

    defs: dict[str, Schema] = {}
    for kw in ("definitions", "$defs"):  # $defs = 2020-12 alias (extension)
        v = opt(kw)
        if v is not ABSENT:
            if not isinstance(v, dict):
                raise SchemaParseError(f"{kw} must be an object")
            for k, s in v.items():
                defs[k] = parse_schema(s)
    if defs:
        obj.definitions = defs

    return obj


def _parse_items(j: dict) -> tuple[Optional[ItemsSchema], Optional["Schema"]]:
    """Returns (items, extra_additional_items).

    2020-12 lenient aliases (extension): ``prefixItems`` is positional
    items, and when it appears TOGETHER with a single-form ``items``, that
    ``items`` plays draft-7 ``additionalItems``' role (the rest-schema) —
    returned as the second element so the caller can slot it in unless an
    explicit ``additionalItems`` also exists."""
    pv = j.get("prefixItems", ABSENT)
    v = j.get("items", ABSENT)
    if v is not ABSENT and isinstance(v, list):
        # draft-7 tuple-form items wins outright (prefixItems is then an
        # ignored unknown keyword, preserving draft-7 behavior)
        return ItemsSchema(tuple_items=[parse_schema(s) for s in v]), None
    if pv is not ABSENT and isinstance(pv, list):
        tup = ItemsSchema(tuple_items=[parse_schema(s) for s in pv])
        if v is not ABSENT:          # single-form items = rest-schema
            return tup, parse_schema(v)
        return tup, None
    if v is not ABSENT:
        return ItemsSchema(single=parse_schema(v)), None
    return None, None


def _parse_dependencies(j: dict) -> Optional[list[tuple[str, Dependency]]]:
    out: list[tuple[str, Dependency]] = []
    v = j.get("dependencies", ABSENT)
    if v is not ABSENT:
        if not isinstance(v, dict):
            raise SchemaParseError("dependencies must be an object")
        for k, dep in v.items():
            if isinstance(dep, list):
                if not all(isinstance(x, str) for x in dep):
                    raise SchemaParseError("dependency array must contain strings")
                out.append((k, Dependency(required_props=list(dep))))
            else:
                out.append((k, Dependency(schema=parse_schema(dep))))
    # 2020-12 aliases (extension)
    v = j.get("dependentRequired", ABSENT)
    if v is not ABSENT and isinstance(v, dict):
        for k, dep in v.items():
            if isinstance(dep, list):
                out.append((k, Dependency(required_props=[str(x) for x in dep])))
    v = j.get("dependentSchemas", ABSENT)
    if v is not ABSENT and isinstance(v, dict):
        for k, dep in v.items():
            out.append((k, Dependency(schema=parse_schema(dep))))
    return out or None


def schema_to_json(s: Schema) -> Any:
    """Inverse serializer: compiled AST -> plain JSON value (parity:
    ``schemaToJson``, /root/reference/JsonSchema/Schema.lean:128-188 — the
    reference's debugging surface for compiled schemas).

    Mirrors the reference's emission rules: single-element ``type`` arrays
    collapse to a string, ``uniqueItems`` only when true, absent keywords
    omitted. The reference assembles its object via a key-sorted TreeMap;
    here keys are emitted in the reference's append order and dicts compare
    by value, so round-trip equality (parse -> serialize -> parse yields an
    equal AST) is the pinned contract (tests/test_interpreter.py)."""
    if isinstance(s, bool):
        return s
    assert isinstance(s, SchemaObject)
    out: dict[str, Any] = {}
    if s.id is not None:
        out["$id"] = s.id
    if s.ref is not None:
        out["$ref"] = s.ref
    if s.types != ["any"]:
        out["type"] = s.types[0] if len(s.types) == 1 else list(s.types)
    if s.const is not ABSENT:
        out["const"] = s.const
    if s.enum is not None:
        out["enum"] = list(s.enum)
    if s.max_length is not None:
        out["maxLength"] = s.max_length
    if s.min_length is not None:
        out["minLength"] = s.min_length
    if s.pattern is not None:
        out["pattern"] = s.pattern
    if s.format is not None:
        out["format"] = s.format
    if s.maximum is not None:
        out["maximum"] = s.maximum
    if s.minimum is not None:
        out["minimum"] = s.minimum
    if s.exclusive_maximum is not None:
        out["exclusiveMaximum"] = s.exclusive_maximum
    if s.exclusive_minimum is not None:
        out["exclusiveMinimum"] = s.exclusive_minimum
    if s.multiple_of is not None:
        out["multipleOf"] = s.multiple_of
    if s.unique_items:
        out["uniqueItems"] = True
    if s.required is not None:
        out["required"] = list(s.required)
    if s.properties is not None:
        out["properties"] = {k: schema_to_json(v) for k, v in s.properties}
    if s.pattern_properties is not None:
        out["patternProperties"] = {k: schema_to_json(v)
                                    for k, v in s.pattern_properties}
    if s.property_names is not None:
        out["propertyNames"] = schema_to_json(s.property_names)
    if s.additional_properties is not None:
        out["additionalProperties"] = schema_to_json(s.additional_properties)
    if s.max_properties is not None:
        out["maxProperties"] = s.max_properties
    if s.min_properties is not None:
        out["minProperties"] = s.min_properties
    if s.dependencies is not None:
        deps: dict[str, Any] = {}
        for k, dep in s.dependencies:
            if dep.required_props is not None:
                deps[k] = list(dep.required_props)
            else:
                deps[k] = schema_to_json(dep.schema)
        out["dependencies"] = deps
    if s.items is not None:
        if s.items.is_tuple:
            out["items"] = [schema_to_json(x) for x in s.items.tuple_items]
        else:
            out["items"] = schema_to_json(s.items.single)
    if s.additional_items is not None:
        out["additionalItems"] = schema_to_json(s.additional_items)
    if s.max_items is not None:
        out["maxItems"] = s.max_items
    if s.min_items is not None:
        out["minItems"] = s.min_items
    if s.contains is not None:
        out["contains"] = schema_to_json(s.contains)
    if s.min_contains is not None:
        out["minContains"] = s.min_contains
    if s.max_contains is not None:
        out["maxContains"] = s.max_contains
    if s.all_of is not None:
        out["allOf"] = [schema_to_json(x) for x in s.all_of]
    if s.any_of is not None:
        out["anyOf"] = [schema_to_json(x) for x in s.any_of]
    if s.one_of is not None:
        out["oneOf"] = [schema_to_json(x) for x in s.one_of]
    if s.not_ is not None:
        out["not"] = schema_to_json(s.not_)
    if s.if_ is not None:
        out["if"] = schema_to_json(s.if_)
    if s.then_ is not None:
        out["then"] = schema_to_json(s.then_)
    if s.else_ is not None:
        out["else"] = schema_to_json(s.else_)
    if s.definitions is not None:
        out["definitions"] = {k: schema_to_json(v)
                              for k, v in s.definitions.items()}
    return out
