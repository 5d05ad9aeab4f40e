"""Compile-time spec linter.

The reference ships a schema linter applying ~20 static rules in a
preorder walk (`Linter.java:56-425`, rule list `README.md:438-473`):
contradictory bounds, wrong-typed keyword values, `then`/`else` without
`if`, format typos, etc.  Here the same idea runs on our spec format as
pure-Python diagnostics before any Spark plan is built — a malformed
spec should fail at submit time, never at executor time.

Severities: "error" (spec cannot mean what it says) and "warn"
(legal but suspicious).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from ..functions.ecma_regex import is_valid_ecma
from ..functions.formats import FORMATS

_NUMERIC_KW = {
    "minimum",
    "maximum",
    "exclusiveMinimum",
    "exclusiveMaximum",
    "multipleOf",
}
#: JSON type names + engine extensions (``timestamp``, ``date``,
#: ``binary``); the meta-schema's ``type`` enum reads the same list
TYPE_NAMES = [
    "null", "boolean", "object", "array", "number", "integer", "string",
    "timestamp", "date", "binary",
]


@dataclass
class Diagnostic:
    path: str
    severity: str  # "error" | "warn"
    message: str

    def __str__(self) -> str:  # pragma: no cover
        return f"{self.severity}: {self.path}: {self.message}"


def _num(v: Any) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def lint(spec: Any, path: str = "#") -> list[Diagnostic]:
    out: list[Diagnostic] = []
    draft = None
    if isinstance(spec, dict):
        s = spec.get("$schema")
        if isinstance(s, str):
            if "2019-09" in s:
                draft = "2019-09"
            elif "draft-07" in s:
                draft = "draft-07"
            elif "draft-06" in s:
                draft = "draft-06"
    _walk(spec, path, out, draft)
    return out


def _err(out, path, kw, msg):
    out.append(Diagnostic(f"{path}/{kw}", "error", msg))


def _warn(out, path, kw, msg):
    out.append(Diagnostic(f"{path}/{kw}", "warn", msg))


def _walk(node: Any, path: str, out: list[Diagnostic], draft: str | None = None) -> None:
    if isinstance(node, bool) or node is None:
        return
    if not isinstance(node, dict):
        out.append(Diagnostic(path, "error", "schema must be an object or boolean"))
        return

    # ---- contradictory bounds (Linter rule: min > max) -------------------
    pairs = [
        ("minimum", "maximum"),
        ("exclusiveMinimum", "exclusiveMaximum"),
        ("minLength", "maxLength"),
        ("minItems", "maxItems"),
        ("minProperties", "maxProperties"),
        ("minContains", "maxContains"),
    ]
    for lo_kw, hi_kw in pairs:
        lo, hi = node.get(lo_kw), node.get(hi_kw)
        if _num(lo) and _num(hi) and lo > hi:
            _err(out, path, lo_kw, f"{lo_kw} ({lo}) > {hi_kw} ({hi}): unsatisfiable")

    # ---- wrong-typed keyword values --------------------------------------
    for kw in _NUMERIC_KW:
        if kw in node and not _num(node[kw]):
            _err(out, path, kw, f"{kw} must be a number, got {type(node[kw]).__name__}")
    if "multipleOf" in node and _num(node["multipleOf"]) and node["multipleOf"] <= 0:
        _err(out, path, "multipleOf", "multipleOf must be > 0")
    for kw in ("minLength", "maxLength", "minItems", "maxItems", "minProperties", "maxProperties"):
        v = node.get(kw)
        if v is not None and (not isinstance(v, int) or isinstance(v, bool) or v < 0):
            _err(out, path, kw, f"{kw} must be a non-negative integer")
    for kw in ("required",):
        v = node.get(kw)
        if v is not None:
            if not isinstance(v, list) or not all(isinstance(x, str) for x in v):
                _err(out, path, kw, "required must be an array of strings")
            elif len(set(v)) != len(v):
                _warn(out, path, kw, "required contains duplicate names")
    for kw in ("properties", "patternProperties", "dependentSchemas", "$defs", "definitions"):
        v = node.get(kw)
        if v is not None and not isinstance(v, dict):
            _err(out, path, kw, f"{kw} must be an object")
    if "enum" in node and (not isinstance(node["enum"], list) or not node["enum"]):
        _err(out, path, "enum", "enum must be a non-empty array")
    if "type" in node:
        ts = node["type"] if isinstance(node["type"], list) else [node["type"]]
        for t in ts:
            if not isinstance(t, str) or t not in TYPE_NAMES:
                _err(out, path, "type", f"unknown type name {t!r}")

    # ---- regex / format sanity -------------------------------------------
    if "pattern" in node:
        p = node["pattern"]
        if not isinstance(p, str):
            _err(out, path, "pattern", "pattern must be a string")
        elif not is_valid_ecma(p):
            _err(out, path, "pattern", f"pattern does not compile: {p!r}")
    for p in (node.get("patternProperties") or {}):
        if not is_valid_ecma(p):
            _err(out, path, f"patternProperties/{p}", "property pattern does not compile")
    if "format" in node:
        f = node["format"]
        if isinstance(f, str) and f not in FORMATS:
            _warn(out, path, "format", f"unknown format {f!r} (will not assert)")

    # ---- structural dependencies (Linter: then/else without if) ----------
    if ("then" in node or "else" in node) and "if" not in node:
        _warn(out, path, "then" if "then" in node else "else", "then/else without if has no effect")
    if "additionalItems" in node and not isinstance(node.get("items"), list):
        _warn(out, path, "additionalItems", "additionalItems without array-form items has no effect")
    for kw in ("maxContains", "minContains"):
        if kw in node and "contains" not in node:
            _warn(out, path, kw, f"{kw} without contains has no effect")
    if "if" in node and "then" not in node and "else" not in node:
        _warn(out, path, "if", "if without then/else asserts nothing")

    # ---- meta-schema shape rules (CoreSchema meta-validation analog) ------
    for kw in ("$ref", "$anchor", "$comment", "$schema", "contentEncoding",
               "contentMediaType"):
        v = node.get(kw)
        if v is not None and not isinstance(v, str):
            _err(out, path, kw, f"{kw} must be a string")
    if isinstance(node.get("contentMediaType"), str):
        from ..plans.compiler import _MEDIA_TYPE_RE

        if not _MEDIA_TYPE_RE.match(node["contentMediaType"]):
            _err(out, path, "contentMediaType",
                 f"invalid media-type syntax: {node['contentMediaType']!r}")
    for kw in ("uniqueItems", "deprecated", "readOnly", "writeOnly",
               "$recursiveAnchor"):
        v = node.get(kw)
        if v is not None and not isinstance(v, bool):
            _err(out, path, kw, f"{kw} must be a boolean")
    dr = node.get("dependentRequired")
    if dr is not None:
        if not isinstance(dr, dict) or not all(
            isinstance(v, list) and all(isinstance(x, str) for x in v)
            for v in dr.values()
        ):
            _err(out, path, "dependentRequired",
                 "dependentRequired must map names to string arrays")
    for kw in ("exclusiveMinimum", "exclusiveMaximum"):
        if isinstance(node.get(kw), bool):
            _err(out, path, kw,
                 f"boolean {kw} is draft-04 syntax (unsupported); use a number")
    if isinstance(node.get("enum"), list):
        seen = []
        for v in node["enum"]:
            if v in seen:
                _warn(out, path, "enum", f"duplicate enum member {v!r}")
                break
            seen.append(v)
    items = node.get("items")
    if items is not None and not isinstance(items, (dict, bool, list)):
        _err(out, path, "items", "items must be a schema or array of schemas")

    # ---- draft mismatches ---------------------------------------------------
    if draft in ("draft-06", "draft-07"):
        for kw in ("dependentRequired", "dependentSchemas",
                   "unevaluatedProperties", "unevaluatedItems",
                   "$recursiveRef", "$recursiveAnchor", "$anchor",
                   "maxContains", "minContains"):
            if kw in node:
                _warn(out, path, kw, f"{kw} is a 2019-09 keyword under {draft}")
    if draft == "2019-09" and "dependencies" in node:
        _warn(out, path, "dependencies",
              "dependencies was split into dependentRequired/dependentSchemas in 2019-09")

    # ---- recurse ----------------------------------------------------------
    for kw in ("properties", "patternProperties", "dependentSchemas", "$defs", "definitions"):
        for name, sub in (node.get(kw) or {}).items():
            _walk(sub, f"{path}/{kw}/{name}", out, draft)
    for kw in ("items",):
        v = node.get(kw)
        if isinstance(v, list):
            for i, sub in enumerate(v):
                _walk(sub, f"{path}/{kw}/{i}", out, draft)
        elif v is not None:
            _walk(v, f"{path}/{kw}", out, draft)
    for kw in ("additionalItems", "additionalProperties", "propertyNames", "contains",
               "not", "if", "then", "else", "unevaluatedItems", "unevaluatedProperties",
               "contentSchema"):
        if kw in node and not isinstance(node[kw], bool):
            _walk(node[kw], f"{path}/{kw}", out, draft)
    for kw in ("allOf", "anyOf", "oneOf"):
        v = node.get(kw)
        if isinstance(v, list):
            if not v:
                _err(out, path, kw, f"{kw} must be a non-empty array")
            for i, sub in enumerate(v):
                _walk(sub, f"{path}/{kw}/{i}", out, draft)
        elif v is not None:
            _err(out, path, kw, f"{kw} must be an array")
    deps = node.get("dependencies")
    if isinstance(deps, dict):
        for name, sub in deps.items():
            if not isinstance(sub, list):
                _walk(sub, f"{path}/dependencies/{name}", out, draft)


def errors(spec: Any) -> list[Diagnostic]:
    return [d for d in lint(spec) if d.severity == "error"]
