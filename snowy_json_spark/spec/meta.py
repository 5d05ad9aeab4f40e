"""Meta-schema self-validation WITH the engine itself.

Snow validates every schema against its draft meta-schema before use
(`Validator.java:459-474`, `CoreSchema.java:103-132`).  The engine's
analog closes the same loop by dogfooding its own compiler:

1. the user spec is shredded into a TABLE of schema nodes — one row per
   subschema location, each keyword's value extracted into typed
   columns (its JSON type name plus a numeric/array view where one
   exists);
2. the meta-schema's constraints are expressed as an ordinary engine
   spec (:data:`META_SPEC`) over that node table — enum over JSON type
   names, ``exclusiveMinimum: 0`` for ``multipleOf``, ``uniqueItems``
   for ``required``, non-empty combinator arrays, …;
3. :func:`meta_validate` compiles META_SPEC with ``compile_spec`` and
   returns violation rows keyed by the node's JSON pointer.

So the object applicators validate the spec format itself.  The
pure-Python linter (:mod:`.linter`) remains the superset diagnostic
pass (regex compilation, contradictory bounds, draft mismatches need
cross-keyword logic); the meta-check is the engine-executed core that
a malformed spec cannot sneak past.
"""

from __future__ import annotations

from typing import Any

from ..plans.compiler import SpecError, compile_spec
from ..plans.report import violations
from .linter import TYPE_NAMES

_NUMERIC_BOUND_KWS = ("minimum", "maximum", "exclusiveMinimum", "exclusiveMaximum")
_COUNT_KWS = (
    "maxLength", "minLength", "maxItems", "minItems",
    "maxProperties", "minProperties", "maxContains", "minContains",
)
_OBJECT_KWS = ("properties", "patternProperties", "dependentSchemas",
               "dependentRequired", "dependencies", "$defs", "definitions")
_STRING_KWS = ("pattern", "format", "contentEncoding", "contentMediaType", "$ref",
               "$anchor", "$comment")
_BOOL_KWS = ("uniqueItems", "deprecated", "readOnly", "writeOnly", "$recursiveAnchor")
_COMBINATOR_KWS = ("allOf", "anyOf", "oneOf")


def _jtype(v: Any) -> str:
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "boolean"
    if isinstance(v, int):
        return "integer"
    if isinstance(v, float):
        return "number"
    if isinstance(v, str):
        return "string"
    if isinstance(v, list):
        return "array"
    return "object"


def _safe(kw: str) -> str:
    return kw.replace("$", "dollar_")


def node_row(node: dict, pointer: str) -> dict:
    """Typed keyword extraction for one schema node."""
    row: dict[str, Any] = {"pointer": pointer}
    for kw in _NUMERIC_BOUND_KWS + ("multipleOf",) + _COUNT_KWS:
        if kw in node:
            v = node[kw]
            row[f"{kw}_jtype"] = _jtype(v)
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                row[f"{kw}_num"] = float(v)
    for kw in _STRING_KWS + _BOOL_KWS + _OBJECT_KWS:
        if kw in node:
            row[f"{_safe(kw)}_jtype"] = _jtype(node[kw])
    for kw in _COMBINATOR_KWS:
        if kw in node:
            v = node[kw]
            row[f"{kw}_jtype"] = _jtype(v)
            if isinstance(v, list):
                row[f"{kw}_size"] = len(v)
    if "type" in node:
        v = node["type"]
        row["type_jtype"] = _jtype(v)
        names = v if isinstance(v, list) else [v]
        if all(isinstance(t, str) for t in names):
            row["type_names"] = list(names)
    if "required" in node:
        v = node["required"]
        row["required_jtype"] = _jtype(v)
        if isinstance(v, list):
            row["required_item_jtypes"] = [_jtype(x) for x in v]
            row["required_names"] = [str(x) for x in v]
    if "enum" in node:
        v = node["enum"]
        row["enum_jtype"] = _jtype(v)
        if isinstance(v, list):
            row["enum_size"] = len(v)
    return row


#: DDL schema of the node table (every column nullable; an absent
#: keyword leaves nulls, which the presence-gated applicators skip)
NODE_TABLE_DDL = ", ".join(
    ["pointer string"]
    + [f"{kw}_jtype string, {kw}_num double"
       for kw in _NUMERIC_BOUND_KWS + ("multipleOf",) + _COUNT_KWS]
    + [f"{_safe(kw)}_jtype string" for kw in _STRING_KWS + _BOOL_KWS + _OBJECT_KWS]
    + [f"{kw}_jtype string, {kw}_size bigint" for kw in _COMBINATOR_KWS]
    + ["type_jtype string", "type_names array<string>",
       "required_jtype string", "required_item_jtypes array<string>",
       "required_names array<string>",
       "enum_jtype string", "enum_size bigint"]
)


def _meta_spec() -> dict:
    props: dict[str, Any] = {}
    for kw in _NUMERIC_BOUND_KWS:
        # strings allowed: engine timestamp/date bounds extension
        props[f"{kw}_jtype"] = {"enum": ["integer", "number", "string"]}
    props["multipleOf_jtype"] = {"enum": ["integer", "number"]}
    props["multipleOf_num"] = {"exclusiveMinimum": 0}
    for kw in _COUNT_KWS:
        props[f"{kw}_jtype"] = {"enum": ["integer"]}
        props[f"{kw}_num"] = {"minimum": 0}
    for kw in _STRING_KWS:
        props[f"{_safe(kw)}_jtype"] = {"enum": ["string"]}
    for kw in _BOOL_KWS:
        props[f"{_safe(kw)}_jtype"] = {"enum": ["boolean"]}
    for kw in _OBJECT_KWS:
        props[f"{_safe(kw)}_jtype"] = {"enum": ["object"]}
    for kw in _COMBINATOR_KWS:
        props[f"{kw}_jtype"] = {"enum": ["array"]}
        props[f"{kw}_size"] = {"minimum": 1}
    props["type_jtype"] = {"enum": ["string", "array"]}
    props["type_names"] = {
        "type": "array",
        "minItems": 1,
        "uniqueItems": True,
        "items": {"enum": TYPE_NAMES},
    }
    props["required_jtype"] = {"enum": ["array"]}
    props["required_item_jtypes"] = {"items": {"const": "string"}}
    props["required_names"] = {"uniqueItems": True}
    props["enum_jtype"] = {"enum": ["array"]}
    props["enum_size"] = {"minimum": 1}
    return {"properties": props}


#: the meta-schema, expressed as an engine spec over the node table
META_SPEC = _meta_spec()


def spec_nodes(spec: Any, pointer: str = "#") -> list[dict]:
    """All schema nodes of a spec, preorder, with JSON pointers
    (subschema positions mirror linter._walk)."""
    out: list[dict] = []

    def walk(node: Any, ptr: str) -> None:
        if not isinstance(node, dict):
            return
        out.append(node_row(node, ptr))
        for kw in ("properties", "patternProperties", "dependentSchemas",
                   "$defs", "definitions"):
            v = node.get(kw)
            if isinstance(v, dict):
                for name, sub in v.items():
                    walk(sub, f"{ptr}/{kw}/{name}")
        v = node.get("items")
        if isinstance(v, list):
            for i, sub in enumerate(v):
                walk(sub, f"{ptr}/items/{i}")
        elif v is not None:
            walk(v, f"{ptr}/items")
        for kw in ("additionalItems", "additionalProperties", "propertyNames",
                   "contains", "not", "if", "then", "else",
                   "unevaluatedItems", "unevaluatedProperties", "contentSchema"):
            if kw in node and not isinstance(node[kw], bool):
                walk(node[kw], f"{ptr}/{kw}")
        for kw in _COMBINATOR_KWS:
            v = node.get(kw)
            if isinstance(v, list):
                for i, sub in enumerate(v):
                    walk(sub, f"{ptr}/{kw}/{i}")
        deps = node.get("dependencies")
        if isinstance(deps, dict):
            for name, sub in deps.items():
                if not isinstance(sub, list):
                    walk(sub, f"{ptr}/dependencies/{name}")

    walk(spec, pointer)
    return out


def meta_validate(spark, spec: Any) -> list:
    """Engine-executed meta-check: violation Rows
    (pointer, constraint_id, instance_path, observed_value)."""
    rows = spec_nodes(spec)
    if not rows:
        return []
    df = spark.createDataFrame(
        [tuple(r.get(c.split(" ")[0]) for c in NODE_TABLE_DDL.split(", "))
         for r in rows],
        NODE_TABLE_DDL,
    )
    plan = compile_spec(META_SPEC, df.schema)
    return violations(df, plan, ["pointer"]).collect()


def assert_valid_spec(spark, spec: Any) -> None:
    """Raise SpecError naming every (pointer, constraint) the
    engine-validated meta-check rejects (Validator.java:459-474 analog:
    a schema failing its meta-schema never reaches compilation)."""
    bad = meta_validate(spark, spec)
    if bad:
        lines = [
            f"{r['pointer']}: {r['constraint_id']} (observed {r['observed_value']})"
            for r in bad
        ]
        raise SpecError(
            "spec fails engine meta-validation:\n  " + "\n  ".join(lines)
        )
