"""Spec → DataFrame-plan compiler: the engine's core.

The reference (Snow) *interprets* a JSON Schema per instance with a
recursive tree walker
(`/root/reference/src/main/java/com/qindesign/json/schema/ValidatorContext.java:1196-1311`).
This engine instead **compiles** a declarative constraint spec (the same
keyword surface, SURVEY.md §2) against a DataFrame's static StructType
into pure ``pyspark.sql.Column`` boolean expressions — one vectorized
``select`` evaluates every row-scope constraint under whole-stage
codegen; no per-row Python, no runtime schema walking.  Snow itself
lists "compile into an internal representation" as future work
(`/root/reference/README.md:541-542`); on Spark that compilation step is
the whole design.

Key semantic carry-overs (with reference citations):

- **Vacuous pass on type mismatch**: every keyword first type-tests the
  instance and passes when not applicable (e.g. `keywords/Maximum.java:53-55`,
  `keywords/Required.java:53-55`).  Statically decidable here: a
  ``maxLength`` on a numeric column compiles to ``lit(True)`` and emits
  no violation leaf at all.
- **Null = absent member** (engine convention): parquet/Spark cannot
  distinguish a missing object member from ``null``; ``required`` =
  ``isNotNull``, applicator subschemas apply only to non-null members.
- **Exact numeric semantics**: Snow compares via BigDecimal
  (`Numbers.java:47-59`); ``integer`` means mathematically integral so
  ``1.0`` is an integer (`Numbers.java:67-69`).  Here: integral test is
  ``col % 1 == 0``; ``multipleOf`` on fractional types goes through
  ``DecimalType(38, 12)`` remainder (documented deviation: exactness
  beyond 12 decimal places).
- **ECMA-262 regex with find() semantics** (`keywords/Pattern.java:66`)
  via :mod:`..functions.ecma_regex` + ``rlike``.
- **Leaf-only violation emission**: instead of Snow's record-then-prune
  error tree (`ValidatorContext.java:1276-1307`), each *asserting* leaf
  keyword contributes one guarded violation record; branches that pass
  suppress their children's leaves at compile time (guards), so the
  output matches Snow's pruned "basic" output shape
  (`Main.java:165-190`).
"""

from __future__ import annotations

import decimal
import json
import re
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    ByteType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StringType,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from ..functions.ecma_regex import compile_python, translate
from ..functions.formats import format_check

_INTEGRAL = (ByteType, ShortType, IntegerType, LongType)
_FRACTIONAL = (FloatType, DoubleType, DecimalType)
_NUMERIC = _INTEGRAL + _FRACTIONAL
_TIMESTAMPS = (TimestampType, TimestampNTZType)  # NTZ = Spark 4 parquet default


class SpecError(ValueError):
    """Compile-time spec diagnostic (Snow: MalformedSchemaException)."""


# RFC 2045 media-type syntax incl. parameters
# (ContentMediaType.java:49-53's CONTENT_TYPE pattern)
_MT_TOKEN = r"[!#$%&'*+\-.0-9A-Z^_`a-z{|}~]+"
_MEDIA_TYPE_RE = re.compile(
    rf"^({_MT_TOKEN}/{_MT_TOKEN})"
    rf"(?:\s*;\s*{_MT_TOKEN}=(?:{_MT_TOKEN}|\"(?:[ !#-~]|\\[\x00-\x7f])*\"))*\s*$"
)


@dataclass
class Leaf:
    """One asserting constraint applied at one instance location."""

    constraint_id: str  # schema-side JSON pointer, fixed at compile time
    instance_path: str  # instance-side column path
    failed: Column  # null-safe boolean: True iff this check failed
    observed: Column  # stringified observed value


@dataclass
class Annotation:
    """One annotation keyword at one schema location (Snow:
    `Annotation.java:42-88`, emitted per (instance loc, name, schema
    loc) by `Validator.java:485-494`).  ``applied`` is the runtime
    condition under which the annotation is attached — presence/branch
    guards AND the containing schema's validity, reproducing Snow's
    retraction of failed-schema annotations
    (`ValidatorContext.java:1276-1295`)."""

    constraint_id: str  # schema-side location of the annotation keyword
    instance_path: str
    name: str  # keyword name (title, default, format, ...)
    value_json: str  # the annotation value, JSON-encoded
    applied: Column


@dataclass
class Compiled:
    valid: Column  # null-safe boolean
    leaves: list[Leaf] = field(default_factory=list)
    annotations: list[Annotation] = field(default_factory=list)
    #: dynamic $ref prefix → canonical target location, for rewriting a
    #: leaf's dynamic constraint_id ("#/properties/x/$ref/minimum") into
    #: Snow's absKeywordLocation ("#/$defs/A/minimum", Main.java:165-190)
    ref_targets: dict = field(default_factory=dict)

    def abs_location(self, constraint_id: str) -> str:
        """Absolute (canonical) schema location of a dynamic
        constraint_id: rewrite through the innermost (longest) $ref
        prefix recorded at compile time."""
        best = ""
        for prefix in self.ref_targets:
            if constraint_id.startswith(prefix) and len(prefix) > len(best):
                best = prefix
        if not best:
            return constraint_id
        return self.ref_targets[best] + constraint_id[len(best):]

    def abs_locations(self) -> dict:
        """constraint_id → absolute location for every leaf."""
        return {
            lf.constraint_id: self.abs_location(lf.constraint_id)
            for lf in self.leaves
        }


@dataclass
class Options:
    spec_version: str = "2019-09"  # or "draft-07", "draft-06"
    #: None = draft-dependent default matching Snow: Option.FORMAT
    #: defaults true ONLY under Draft-07 (Options.java per-draft
    #: defaults); 2019-09 and Draft-06 are annotation-only unless the
    #: FORMAT option / format vocabulary enables it (Format.java:248-259).
    #: True/False force it either way.
    assert_format: bool | None = None
    #: Snow defaults Option.CONTENT to false for EVERY draft — content*
    #: assert only when explicitly enabled
    #: (ContentMediaType.java:63-65,81-82).  None = that default (off).
    assert_content: bool | None = None
    max_recursion_depth: int = 16  # $recursiveRef unrolling cap

    def format_asserts(self) -> bool:
        if self.assert_format is None:
            return self.spec_version == "draft-07"
        return self.assert_format

    def content_asserts(self) -> bool:
        return bool(self.assert_content)


def _detect_spec_version(spec: dict) -> str | None:
    """Draft detection from $schema (Validator.specificationFromSchema,
    `Validator.java:551-571`)."""
    s = spec.get("$schema")
    if not isinstance(s, str):
        return None
    if "2019-09" in s:
        return "2019-09"
    if "draft-07" in s:
        return "draft-07"
    if "draft-06" in s:
        return "draft-06"
    return None


# ---------------------------------------------------------------------------
# Extension registries (SURVEY.md §2.11: Snow's extension point is "drop a
# Keyword subclass in the package", ValidatorContext.java:192-232; ours is
# "register a compile function")
# ---------------------------------------------------------------------------

#: custom keyword compilers: name -> fn(value, instance, path, compiler) -> Column
CUSTOM_KEYWORDS: dict = {}


def register_keyword(name: str, compile_fn) -> None:
    """Register a custom keyword.

    ``compile_fn(value, instance, path, compiler) -> Column`` must
    return a null-safe boolean validity Column.  Escape-hatch checks
    should build on ``pandas_udf('boolean')`` (Arrow-batched), never
    row-wise Python UDFs."""
    CUSTOM_KEYWORDS[name] = compile_fn


def unregister_keyword(name: str) -> None:
    CUSTOM_KEYWORDS.pop(name, None)


def register_format(name: str, column_fn) -> None:
    """Register a custom ``format`` validator: fn(col) -> boolean Column."""
    from ..functions import formats as _formats

    _formats.FORMATS[name] = column_fn


class Instance:
    """A compile-time handle on 'the value being validated'.

    Either the whole row (``is_row``) or a Column of known Spark type.
    """

    def __init__(
        self,
        col: Column | None,
        dtype: DataType | None,
        path: str,
        row_schema: StructType | None = None,
    ):
        self.col = col
        self.dtype = dtype
        self.path = path
        self.row_schema = row_schema

    @property
    def is_row(self) -> bool:
        return self.row_schema is not None and self.col is None

    # ---- object-member access ------------------------------------------
    def member_names(self) -> list[str] | None:
        """Statically-known member names, or None for open (map) objects."""
        if self.is_row:
            return [f.name for f in self.row_schema.fields]
        if isinstance(self.dtype, StructType):
            return [f.name for f in self.dtype.fields]
        return None

    def member(self, name: str) -> "Instance | None":
        if self.is_row:
            for f in self.row_schema.fields:
                if f.name == name:
                    return Instance(F.col(name), f.dataType, f"{self.path}/{name}")
            return None
        if isinstance(self.dtype, StructType):
            for f in self.dtype.fields:
                if f.name == name:
                    return Instance(
                        self.col.getField(name), f.dataType, f"{self.path}/{name}"
                    )
            return None
        if isinstance(self.dtype, MapType):
            return Instance(
                F.element_at(self.col, F.lit(name)),
                self.dtype.valueType,
                f"{self.path}/{name}",
            )
        return None

    def presence(self, name: str) -> Column:
        """Is member `name` present (non-null under the engine convention)?"""
        m = self.member(name)
        if m is None:
            return F.lit(False)
        if isinstance(self.dtype, MapType):
            # 'null = absent member' holds for maps too: a key mapped to
            # null counts as absent, matching the StructType behavior
            return F.coalesce(
                F.map_contains_key(self.col, F.lit(name)) & m.col.isNotNull(),
                F.lit(False),
            )
        return m.col.isNotNull()

    # ---- typing ---------------------------------------------------------
    def is_object(self) -> bool:
        return self.is_row or isinstance(self.dtype, (StructType, MapType))

    def not_null(self) -> Column:
        if self.is_row:
            return F.lit(True)
        return self.col.isNotNull()


def _stringify(inst: Instance) -> Column:
    """Observed-value column for violation rows."""
    if inst.is_row:
        return F.lit("<row>")
    dt = inst.dtype
    if isinstance(dt, (ArrayType, StructType, MapType)):
        return F.to_json(inst.col)
    if isinstance(dt, BinaryType):
        return F.base64(inst.col)
    return inst.col.cast("string")


def _decimal_lit(value: Any) -> Column:
    return F.lit(decimal.Decimal(str(value)))


class Compiler:
    """Compile one constraint spec against one table schema."""

    #: keywords that never assert (annotations / structural) —
    #: SURVEY.md §2.6/§2.7
    _NON_ASSERTING = {
        "$schema",
        "$id",
        "$anchor",
        "$vocabulary",
        "$comment",
        "$defs",
        "definitions",
        "title",
        "description",
        "default",
        "examples",
        "deprecated",
        "readOnly",
        "writeOnly",
        "contentSchema",
        "x-table-checks",
    }

    #: annotation-only keywords collected into the annotations surface
    #: (SURVEY.md §2.7; Title.java:41-52 etc.); `format` additionally
    #: always annotates, even when asserting (Format.java:256)
    _ANNOTATION_KWS = (
        "title",
        "description",
        "default",
        "examples",
        "deprecated",
        "readOnly",
        "writeOnly",
        "contentSchema",
        "contentEncoding",
        "contentMediaType",
    )

    def __init__(
        self,
        spec: dict | bool,
        options: Options | None = None,
        registry: dict[str, dict] | None = None,
    ):
        """``registry`` maps absolute URIs to schema documents for
        cross-document ``$ref`` (the compile-time analog of Snow's
        AUTO_RESOLVE closure walk, `Validator.java:248-321` — local
        documents only, never the network)."""
        self.spec = spec
        self.options = options or Options()
        self.registry = registry or {}
        self.anchors: dict[str, Any] = {}
        self._ref_targets: dict[str, str] = {}
        self._rref_depth = 0
        self._recursive_anchor_stack: list = []
        self._ann_stack: list = []
        self._doc_stack: list = [spec]
        self._doc_anchors: dict[int, dict] = {}
        if isinstance(spec, dict):
            detected = _detect_spec_version(spec)
            if detected is not None:
                self.options.spec_version = detected
            self._scan_anchors(spec)
            self._doc_anchors[id(spec)] = self.anchors

    # ------------------------------------------------------------------
    def _scan_anchors(self, node: Any) -> None:
        """Pre-scan for $anchor / $id plain names (Validator.scanIDs,
        `Validator.java:785-859` — compile-time symbol table here)."""
        if isinstance(node, dict):
            a = node.get("$anchor")
            if isinstance(a, str):
                self.anchors[a] = node
            i = node.get("$id")
            if isinstance(i, str) and i.startswith("#") and len(i) > 1:
                self.anchors[i[1:]] = node
            for v in node.values():
                self._scan_anchors(v)
        elif isinstance(node, list):
            for v in node:
                self._scan_anchors(v)

    def _anchors_for(self, doc: Any) -> dict:
        """Per-document $anchor/$id symbol table, scanned lazily and
        cached (Validator.scanIDs analog for registry documents)."""
        key = id(doc)
        if key not in self._doc_anchors:
            found: dict[str, Any] = {}

            def scan(node: Any) -> None:
                if isinstance(node, dict):
                    a = node.get("$anchor")
                    if isinstance(a, str):
                        found[a] = node
                    i = node.get("$id")
                    if isinstance(i, str) and i.startswith("#") and len(i) > 1:
                        found[i[1:]] = node
                    for v in node.values():
                        scan(v)
                elif isinstance(node, list):
                    for v in node:
                        scan(v)

            scan(doc)
            self._doc_anchors[key] = found
        return self._doc_anchors[key]

    @staticmethod
    def _follow_pointer(doc: Any, pointer: str, ref: str) -> Any:
        from urllib.parse import unquote

        node = doc
        for raw in pointer.split("/"):
            # URI-fragment percent-decoding before RFC 6901 unescaping
            # (CoreRef resolves the fragment as a URI first)
            tok = unquote(raw).replace("~1", "/").replace("~0", "~")
            if isinstance(node, list):
                try:
                    node = node[int(tok)]
                except (ValueError, IndexError):
                    raise SpecError(f"unresolvable $ref: {ref}")
            elif isinstance(node, dict) and tok in node:
                node = node[tok]
            else:
                raise SpecError(f"unresolvable $ref: {ref}")
        return node

    def _resolve_ref(self, ref: str) -> Any:
        return self._resolve_ref_doc(ref)[0]

    # ---- absolute (canonical) schema locations ------------------------
    def _doc_uri(self, doc: Any) -> str:
        """Registry URI of a document ('' for the main spec)."""
        if doc is self.spec:
            return ""
        for uri, d in self.registry.items():
            if d is doc:
                return uri
        return ""

    @staticmethod
    def _pointer_of(doc: Any, node: Any) -> str | None:
        """JSON pointer of `node` (by identity) within `doc`."""

        def walk(n: Any, ptr: str) -> str | None:
            if n is node:
                return ptr
            if isinstance(n, dict):
                for k, v in n.items():
                    tok = k.replace("~", "~0").replace("/", "~1")
                    r = walk(v, f"{ptr}/{tok}")
                    if r is not None:
                        return r
            elif isinstance(n, list):
                for i, v in enumerate(n):
                    r = walk(v, f"{ptr}/{i}")
                    if r is not None:
                        return r
            return None

        return walk(doc, "")

    def _canonical_ref(self, ref: str, target: Any, ext_doc: Any | None) -> str:
        """Canonical location of a $ref target — Snow's
        absKeywordLocation base (Main.java:165-190): '{uri}#{pointer}'
        with '' uri for the main document."""
        doc = ext_doc if ext_doc is not None else self._doc_stack[-1]
        uri = self._doc_uri(doc)
        if ref.startswith("#/"):
            ptr = ref[1:]
        elif ref == "#":
            ptr = ""
        elif ref.startswith("#"):  # anchor: locate the node
            ptr = self._pointer_of(doc, target) or ""
        else:
            _base, _, frag = ref.partition("#")
            if frag.startswith("/"):
                ptr = frag
            elif frag:
                ptr = self._pointer_of(doc, target) or ""
            else:
                ptr = ""
        return f"{uri}#{ptr}"

    def _resolve_ref_doc(self, ref: str) -> tuple[Any, Any | None]:
        """Resolve a $ref in the *current document* context.

        Returns (target, crossed_doc): crossed_doc is the registry
        document entered when the ref is cross-document, else None.
        In-document pointers/anchors resolve against the innermost
        document being compiled (so refs inside a registry document stay
        local to it — `CoreRef.java:46-114` base-URI semantics).
        Cross-document refs resolve against the user-supplied local
        registry only; the engine never fetches over the network (Snow
        does so only under AUTO_RESOLVE, `Validator.java:214-321`).
        """
        doc = self._doc_stack[-1]
        if ref == "#":
            return doc, None
        if ref.startswith("#/"):
            return self._follow_pointer(doc, ref[2:], ref), None
        if ref.startswith("#"):
            name = ref[1:]
            anchors = self._anchors_for(doc)
            if name in anchors:
                return anchors[name], None
            raise SpecError(f"unknown $anchor: {ref}")
        base, _, frag = ref.partition("#")
        ext = self.registry.get(base)
        if ext is None and ref in self.registry:
            ext, frag = self.registry[ref], ""
        if ext is None:
            raise SpecError(
                f"external $ref not in document registry: {ref} "
                "(pass registry={uri: document} at compile time)"
            )
        if not frag:
            return ext, ext
        if frag.startswith("/"):
            return self._follow_pointer(ext, frag[1:], ref), ext
        anchors = self._anchors_for(ext)
        if frag in anchors:
            return anchors[frag], ext
        raise SpecError(f"unknown $anchor in {base}: #{frag}")

    # ------------------------------------------------------------------
    def compile_row(self, schema: StructType, collect: bool = True) -> Compiled:
        """collect=False is verdict-only mode: no violation leaves are
        built at all (Snow's fail-fast no-collector path,
        `ValidatorContext.java:470-472`) — the cheapest plan when only
        pass/fail is needed."""
        inst = Instance(None, None, "", row_schema=schema)
        c = self._compile(self.spec, inst, "#", collect=collect, ref_stack=())
        c.ref_targets = self._ref_targets
        return c

    def compile_column(self, name: str, dtype: DataType, spec: Any) -> Compiled:
        inst = Instance(F.col(name), dtype, f"/{name}")
        c = self._compile(spec, inst, f"#/{name}", collect=True, ref_stack=())
        c.ref_targets = self._ref_targets
        return c

    # ------------------------------------------------------------------
    def _compile(
        self,
        node: Any,
        inst: Instance,
        path: str,
        collect: bool,
        ref_stack: tuple,
    ) -> Compiled:
        # boolean schemas (ValidatorContext.java:1200-1202)
        if node is True:
            return Compiled(F.lit(True))
        if node is False:
            c = Compiled(F.lit(False))
            if collect:
                c.leaves.append(
                    Leaf(path, inst.path, F.lit(True), _stringify(inst))
                )
            return c
        if not isinstance(node, dict):
            raise SpecError(f"schema at {path} must be object or boolean")
        if not node:
            return Compiled(F.lit(True))

        # $recursiveAnchor enters the dynamic scope BEFORE any keyword of
        # this schema object is applied — including an adjacent $ref — so
        # it is pushed first (CoreRecursiveAnchor.java:42-59 /
        # setRecursiveBaseURI).  Because compilation inlines the whole
        # schema-application tree, the compile path IS the dynamic scope:
        # with this push order, $recursiveRef's outermost-anchor lookup
        # reproduces Snow's dynamic-scope resolution exactly for every
        # statically-composable schema (CoreRecursiveRef.java:45-120).
        pushed_anchor = False
        if node.get("$recursiveAnchor") is True:
            # record the anchor's own base document so its internal $refs
            # resolve correctly when re-applied from another document
            self._recursive_anchor_stack.append((node, self._doc_stack[-1]))
            pushed_anchor = True
        try:
            return self._compile_dict(node, inst, path, collect, ref_stack)
        finally:
            if pushed_anchor:
                self._recursive_anchor_stack.pop()

    def _compile_dict(
        self, node: dict, inst: Instance, path: str, collect: bool, ref_stack: tuple
    ) -> Compiled:
        # $ref handling: pre-2019-09 siblings are ignored
        # (ValidatorContext.java:1259-1264).  Cycle detection is keyed on
        # (ref, instance path): a RECURSIVE schema (root pointer ref,
        # mutually-recursive $defs — JSON-Schema-Test-Suite ref.json) is
        # legal and terminates naturally because every re-entry descends
        # the instance's finite static type tree; only re-entering the
        # same ref at the SAME instance location is a true cycle (the
        # schema would be infinite for that value).  A per-ref depth cap
        # backstops pathological nesting (permissive past the cap, like
        # $recursiveRef).
        if "$ref" in node:
            ref = node["$ref"]
            key = (ref, inst.path)
            if key in ref_stack:
                raise SpecError(f"$ref cycle detected: {ref}")
            if (
                sum(1 for r in ref_stack if r[0] == ref)
                >= self.options.max_recursion_depth
            ):
                sub = Compiled(F.lit(True))
            else:
                target, ext_doc = self._resolve_ref_doc(ref)
                self._ref_targets[path + "/$ref"] = self._canonical_ref(
                    ref, target, ext_doc
                )
                if ext_doc is not None:
                    self._doc_stack.append(ext_doc)
                try:
                    sub = self._compile(
                        target, inst, path + "/$ref", collect, ref_stack + (key,)
                    )
                finally:
                    if ext_doc is not None:
                        self._doc_stack.pop()
            if self.options.spec_version != "2019-09" or len(node) == 1:
                return sub
            # Compile the siblings from the FULL node (not a $ref-stripped
            # copy) so unevaluated* handlers can follow the adjacent $ref as
            # an evaluation source (Snow counts annotations from the ref's
            # target, UnevaluatedProperties.java:69-92).  _compile_object
            # skips the $ref key itself in its keyword loop.
            sibling = self._compile_object(node, inst, path, collect, ref_stack)
            # cross-gate the halves' annotations: the containing schema
            # fails (and retracts everything) if EITHER half fails
            # (ValidatorContext.java:1276-1295)
            anns = [
                Annotation(a.constraint_id, a.instance_path, a.name, a.value_json, a.applied & sibling.valid)
                for a in sub.annotations
            ] + [
                Annotation(a.constraint_id, a.instance_path, a.name, a.value_json, a.applied & sub.valid)
                for a in sibling.annotations
            ]
            return Compiled(
                sub.valid & sibling.valid,
                sub.leaves + sibling.leaves,
                anns,
            )

        return self._compile_object(node, inst, path, collect, ref_stack)

    def _adopt(self, c: Compiled, guard: Column | None, leaves: list) -> None:
        """Adopt a subcompile's leaves and annotations under a guard
        (presence / branch condition)."""
        for lf in c.leaves:
            leaves.append(
                Leaf(
                    lf.constraint_id,
                    lf.instance_path,
                    lf.failed & guard if guard is not None else lf.failed,
                    lf.observed,
                )
            )
        if self._ann_stack and c.annotations:
            sink = self._ann_stack[-1]
            for an in c.annotations:
                sink.append(
                    Annotation(
                        an.constraint_id,
                        an.instance_path,
                        an.name,
                        an.value_json,
                        an.applied & guard if guard is not None else an.applied,
                    )
                )

    def _compile_object(
        self, node: dict, inst: Instance, path: str, collect: bool, ref_stack: tuple
    ) -> Compiled:
        conds: list[Column] = []
        leaves: list[Leaf] = []
        anns: list[Annotation] = []
        self._ann_stack.append(anns)

        def add(kw: str, valid: Column, observed: Column | None = None) -> None:
            conds.append(valid)
            if collect:
                leaves.append(
                    Leaf(
                        f"{path}/{kw}",
                        inst.path,
                        ~valid,
                        observed if observed is not None else _stringify(inst),
                    )
                )

        def subcompile(
            sub: Any, sub_inst: Instance, sub_path: str, sub_collect: bool
        ) -> Compiled:
            return self._compile(sub, sub_inst, sub_path, sub_collect, ref_stack)

        try:
            for kw, value in node.items():
                if kw in self._NON_ASSERTING or kw == "$ref":
                    continue
                if kw in CUSTOM_KEYWORDS:
                    # extension registry (§2.11): user-supplied compile fn
                    add(kw, F.coalesce(CUSTOM_KEYWORDS[kw](value, inst, path, self), F.lit(True)))
                    continue
                handler = getattr(self, f"_kw_{kw.replace('$', 'dollar_')}", None)
                if handler is None:
                    continue  # unknown keywords ignored (annotation-collected in Snow)
                handler(node, value, inst, path, add, subcompile, collect, leaves, conds)
        finally:
            self._ann_stack.pop()

        valid = F.lit(True)
        for c in conds:
            valid = valid & c

        if collect:
            own = [
                Annotation(
                    f"{path}/{kw}",
                    inst.path,
                    kw,
                    json.dumps(node[kw], sort_keys=True),
                    F.lit(True),
                )
                for kw in self._ANNOTATION_KWS
                if kw in node
            ]
            if isinstance(node.get("format"), str):
                # format always annotates, asserted or not (Format.java:256)
                own.append(
                    Annotation(
                        f"{path}/format",
                        inst.path,
                        "format",
                        json.dumps(node["format"]),
                        F.lit(True),
                    )
                )
            # a failed schema's annotations are retracted
            # (ValidatorContext.java:1276-1295): gate everything
            # collected at or below this object on the object's validity
            anns = [
                Annotation(a.constraint_id, a.instance_path, a.name, a.value_json, a.applied & valid)
                for a in (own + anns)
            ]
        else:
            anns = []
        return Compiled(valid, leaves, anns)

    # ==================================================================
    # §2.1 scalar assertions
    # ==================================================================
    def _type_cond(self, t: str, inst: Instance) -> Column | None:
        """Validity condition for one type name, or None = statically false."""
        if inst.is_row:
            return F.lit(True) if t == "object" else None
        dt, col = inst.dtype, inst.col
        if t == "null":
            return col.isNull()
        if t == "string":
            return col.isNotNull() if isinstance(dt, StringType) else None
        if t == "boolean":
            return col.isNotNull() if isinstance(dt, BooleanType) else None
        if t == "number":
            return col.isNotNull() if isinstance(dt, _NUMERIC) else None
        if t == "integer":
            if isinstance(dt, _INTEGRAL):
                return col.isNotNull()
            if isinstance(dt, _FRACTIONAL):
                # mathematically integral (Numbers.java:67-69): 1.0 is an integer
                return col.isNotNull() & ((col % F.lit(1.0)) == 0)
            return None
        if t == "object":
            return col.isNotNull() if isinstance(dt, (StructType, MapType)) else None
        if t == "array":
            return col.isNotNull() if isinstance(dt, ArrayType) else None
        # engine extensions beyond JSON's 7 types (tabular reality)
        if t == "timestamp":
            return col.isNotNull() if isinstance(dt, _TIMESTAMPS) else None
        if t == "date":
            return col.isNotNull() if isinstance(dt, DateType) else None
        if t == "binary":
            return col.isNotNull() if isinstance(dt, BinaryType) else None
        raise SpecError(f"unknown type name: {t}")

    def _kw_type(self, node, value, inst, path, add, sub, collect, leaves, conds):
        types = value if isinstance(value, list) else [value]
        if not all(isinstance(t, str) for t in types):
            raise SpecError(f"{path}/type: values must be strings")
        parts = [c for t in types if (c := self._type_cond(t, inst)) is not None]
        if not parts:
            add("type", F.lit(False))
            return
        cond = parts[0]
        for p in parts[1:]:
            cond = cond | p
        add("type", F.coalesce(cond, F.lit(False)))

    # ---- deep-equality literal builder (Const.java:44, Gson equals) ----
    def _literal_eq(self, inst: Instance, value: Any) -> Column:
        dt, col = inst.dtype, inst.col
        if inst.is_row:
            return F.lit(False)
        if value is None:
            return col.isNull()
        if isinstance(value, bool):
            if isinstance(dt, BooleanType):
                return F.coalesce(col == F.lit(value), F.lit(False))
            return F.lit(False)
        if isinstance(value, (int, float, decimal.Decimal)):
            if isinstance(dt, _NUMERIC):
                # 1 == 1.0 under JSON numeric equality; Spark's numeric
                # coercion gives the same answer
                return F.coalesce(col == _decimal_lit(value), F.lit(False))
            return F.lit(False)
        if isinstance(value, str):
            if isinstance(dt, StringType):
                return F.coalesce(col == F.lit(value), F.lit(False))
            if isinstance(dt, TimestampNTZType):
                return F.coalesce(
                    col == F.lit(value).cast("timestamp_ntz"), F.lit(False)
                )
            if isinstance(dt, TimestampType):
                return F.coalesce(col == F.to_timestamp(F.lit(value)), F.lit(False))
            if isinstance(dt, DateType):
                return F.coalesce(col == F.to_date(F.lit(value)), F.lit(False))
            return F.lit(False)
        if isinstance(value, list):
            if not isinstance(dt, ArrayType):
                return F.lit(False)
            size_ok = F.size(col) == len(value)
            parts = [size_ok]
            for i, v in enumerate(value):
                elem = Instance(col.getItem(i), dt.elementType, inst.path)
                parts.append(self._literal_eq(elem, v))
            out = parts[0]
            for p in parts[1:]:
                out = out & p
            return F.coalesce(out, F.lit(False))
        if isinstance(value, dict):
            if isinstance(dt, StructType):
                names = {f.name for f in dt.fields}
                if set(value) - names:
                    return F.lit(False)  # literal has fields the type lacks
                parts: list[Column] = [col.isNotNull()]
                for f in dt.fields:
                    m = Instance(col.getField(f.name), f.dataType, inst.path)
                    if f.name in value:
                        parts.append(self._literal_eq(m, value[f.name]))
                    else:
                        parts.append(m.col.isNull())
                out = parts[0]
                for p in parts[1:]:
                    out = out & p
                return F.coalesce(out, F.lit(False))
            if isinstance(dt, MapType):
                parts = [F.size(F.map_keys(col)) == len(value)]
                for k, v in value.items():
                    m = Instance(
                        F.element_at(col, F.lit(k)), dt.valueType, inst.path
                    )
                    parts.append(
                        F.map_contains_key(col, F.lit(k)) & self._literal_eq(m, v)
                    )
                out = parts[0]
                for p in parts[1:]:
                    out = out & p
                return F.coalesce(out, F.lit(False))
            return F.lit(False)
        raise SpecError(f"unsupported literal in spec: {value!r}")

    def _kw_const(self, node, value, inst, path, add, sub, collect, leaves, conds):
        if inst.is_row:
            # Snow deep-compares the whole instance (Const.java:44); a
            # silently-ignored keyword would be worse than an error —
            # apply const under properties/<col> instead.
            raise SpecError(
                f"{path}/const: row-level const is not supported; "
                "apply it under properties/<column>"
            )
        add("const", F.when(inst.not_null(), self._literal_eq(inst, value)).otherwise(value is None))

    def _kw_enum(self, node, value, inst, path, add, sub, collect, leaves, conds):
        if not isinstance(value, list) or not value:
            raise SpecError(f"{path}/enum must be a non-empty array")
        if inst.is_row:
            raise SpecError(
                f"{path}/enum: row-level enum is not supported; "
                "apply it under properties/<column>"
            )
        cond = self._literal_eq(inst, value[0])
        for v in value[1:]:
            cond = cond | self._literal_eq(inst, v)
        allows_null = any(v is None for v in value)
        add("enum", F.when(inst.not_null(), cond).otherwise(allows_null))

    # ---- numeric bounds (vacuous on non-numbers, Maximum.java:53-55) ---
    def _bound(self, inst: Instance, value, op: str) -> Column | None:
        dt, col = inst.dtype, inst.col
        if isinstance(dt, _NUMERIC):
            lim: Column = _decimal_lit(value) if not isinstance(value, bool) else F.lit(value)
        elif isinstance(dt, TimestampNTZType) and isinstance(value, str):
            lim = F.lit(value).cast("timestamp_ntz")
        elif isinstance(dt, TimestampType) and isinstance(value, str):
            lim = F.to_timestamp(F.lit(value))
        elif isinstance(dt, DateType) and isinstance(value, str):
            lim = F.to_date(F.lit(value))
        else:
            return None  # vacuous
        cmp = {"le": col <= lim, "ge": col >= lim, "lt": col < lim, "gt": col > lim}[op]
        return F.when(col.isNotNull(), cmp).otherwise(F.lit(True))

    def _kw_maximum(self, node, value, inst, path, add, *rest):
        if inst.is_row:
            return
        c = self._bound(inst, value, "le")
        if c is not None:
            add("maximum", c)

    def _kw_minimum(self, node, value, inst, path, add, *rest):
        if inst.is_row:
            return
        c = self._bound(inst, value, "ge")
        if c is not None:
            add("minimum", c)

    def _kw_exclusiveMaximum(self, node, value, inst, path, add, *rest):
        if inst.is_row:
            return
        c = self._bound(inst, value, "lt")
        if c is not None:
            add("exclusiveMaximum", c)

    def _kw_exclusiveMinimum(self, node, value, inst, path, add, *rest):
        if inst.is_row:
            return
        c = self._bound(inst, value, "gt")
        if c is not None:
            add("exclusiveMinimum", c)

    def _kw_multipleOf(self, node, value, inst, path, add, *rest):
        if isinstance(value, bool) or not isinstance(value, (int, float, decimal.Decimal)):
            raise SpecError(f"{path}/multipleOf must be a number")
        if value <= 0:
            # MultipleOf.java:53-56 guard
            raise SpecError(f"{path}/multipleOf must be > 0")
        if inst.is_row or not isinstance(inst.dtype, _NUMERIC):
            return
        col = inst.col
        if isinstance(inst.dtype, _INTEGRAL) and float(value).is_integer():
            cond = (col % F.lit(int(value))) == 0
        else:
            # BigDecimal-exact remainder (Numbers.java:47-59) approximated
            # with DecimalType(38,12) — exact to 12 dp
            dec = DecimalType(38, 12)
            cond = (col.cast(dec) % _decimal_lit(value).cast(dec)) == 0
        add("multipleOf", F.when(col.isNotNull(), cond).otherwise(F.lit(True)))

    # ---- string assertions ---------------------------------------------
    def _string_kw(self, inst: Instance) -> bool:
        return not inst.is_row and isinstance(inst.dtype, StringType)

    def _kw_maxLength(self, node, value, inst, path, add, *rest):
        if not self._string_kw(inst):
            return
        col = inst.col
        # F.length counts code points on strings (MaxLength.java:66-67 parity)
        add(
            "maxLength",
            F.when(col.isNotNull(), F.length(col) <= int(value)).otherwise(True),
            F.length(col).cast("string"),
        )

    def _kw_minLength(self, node, value, inst, path, add, *rest):
        if not self._string_kw(inst):
            return
        col = inst.col
        add(
            "minLength",
            F.when(col.isNotNull(), F.length(col) >= int(value)).otherwise(True),
            F.length(col).cast("string"),
        )

    def _kw_pattern(self, node, value, inst, path, add, *rest):
        if not isinstance(value, str):
            raise SpecError(f"{path}/pattern must be a string")
        if not self._string_kw(inst):
            return
        col = inst.col
        # find() semantics, not full match (Pattern.java:66) — rlike matches
        add(
            "pattern",
            F.when(col.isNotNull(), col.rlike(translate(value))).otherwise(True),
        )

    def _kw_format(self, node, value, inst, path, add, *rest):
        if not isinstance(value, str):
            raise SpecError(f"{path}/format must be a string")
        if not self.options.format_asserts() or not self._string_kw(inst):
            return
        chk = format_check(value, inst.col)
        if chk is None:
            return  # unknown format: annotation only (Format.java:260-264)
        add("format", F.when(inst.col.isNotNull(), chk).otherwise(True))

    def _kw_contentEncoding(self, node, value, inst, path, add, *rest):
        if not self.options.content_asserts() or not self._string_kw(inst):
            return
        if value != "base64":
            return  # only base64 is checked (Strings.java:245-289)
        col = inst.col
        # charset incl. base64url, loose padding (Strings.java:266-270)
        cond = col.rlike(r"\A[A-Za-z0-9+/_-]*={0,4}\z") & (F.length(col) % 4 == 0)
        add("contentEncoding", F.when(col.isNotNull(), cond).otherwise(True))

    def _kw_contentMediaType(self, node, value, inst, path, add, *rest):
        if not isinstance(value, str):
            raise SpecError(f"{path}/contentMediaType must be a string")
        if not self.options.content_asserts() or not self._string_kw(inst):
            return
        col = inst.col
        m = _MEDIA_TYPE_RE.match(value)
        if m is None:
            # malformed media-type syntax: the check fails for every
            # string instance (ContentMediaType.java:117-119 — covers
            # ALL media types, not just application/json)
            add("contentMediaType", F.when(col.isNotNull(), F.lit(False)).otherwise(True))
            return
        if node.get("contentEncoding") == "base64":
            decoded = F.unbase64(col).cast("string")
        else:
            decoded = col
        if m.group(1).lower() == "application/json":
            # parse check (ContentMediaType.java:96-115); try_parse_json
            # returns null on malformed input (Spark 4 variant)
            cond = F.try_parse_json(decoded).isNotNull()
            add("contentMediaType", F.when(col.isNotNull(), cond).otherwise(True))
        # other well-formed media types: syntax-only, no instance check

    # ==================================================================
    # §2.3 object applicators
    # ==================================================================
    def _kw_required(self, node, value, inst, path, add, *rest):
        if not isinstance(value, list):
            raise SpecError(f"{path}/required must be an array")
        if not inst.is_object():
            return  # Required.java:53-55 vacuous
        parts = [inst.presence(n) for n in value]
        missing = F.concat_ws(
            ",",
            *[
                F.when(~inst.presence(n), F.lit(n)).otherwise(F.lit(None))
                for n in value
            ],
        )
        cond = F.lit(True)
        for p in parts:
            cond = cond & p
        if not inst.is_row:
            cond = F.when(inst.not_null(), cond).otherwise(True)
        add("required", cond, missing)

    def _kw_properties(self, node, value, inst, path, add, sub, collect, leaves, conds):
        if not isinstance(value, dict):
            raise SpecError(f"{path}/properties must be an object")
        if not inst.is_object():
            return
        for name, subspec in value.items():
            m = inst.member(name)
            if m is None:
                continue  # member can never be present → subschema never applies
            pres = inst.presence(name)
            c = sub(subspec, m, f"{path}/properties/{name}", collect)
            conds.append(F.when(pres, c.valid).otherwise(True))
            self._adopt(c, pres, leaves)

    def _static_pattern_matches(self, inst: Instance, pattern: str) -> list[str]:
        rx = compile_python(pattern)
        return [n for n in (inst.member_names() or []) if rx.search(n)]

    def _kw_patternProperties(self, node, value, inst, path, add, sub, collect, leaves, conds):
        if not isinstance(value, dict):
            raise SpecError(f"{path}/patternProperties must be an object")
        if not inst.is_object():
            return
        names = inst.member_names()
        for pattern, subspec in value.items():
            kpath = f"{path}/patternProperties/{pattern}"
            if names is not None:
                for name in self._static_pattern_matches(inst, pattern):
                    m = inst.member(name)
                    pres = inst.presence(name)
                    c = sub(subspec, m, kpath, collect)
                    conds.append(F.when(pres, c.valid).otherwise(True))
                    for lf in c.leaves:
                        leaves.append(
                            Leaf(lf.constraint_id, f"{inst.path}/{name}", lf.failed & pres, lf.observed)
                        )
                    self._adopt(Compiled(c.valid, [], c.annotations), pres, leaves)
            else:  # open (map) object: runtime key match
                jre = translate(pattern)
                elem_dt = inst.dtype.valueType
                matched = F.map_filter(
                    inst.col, lambda k, v: k.rlike(jre) & v.isNotNull()
                )
                check = F.forall(
                    F.map_values(matched),
                    lambda v: sub(
                        subspec,
                        Instance(v, elem_dt, inst.path + "/*"),
                        kpath,
                        False,
                    ).valid,
                )
                valid = F.when(inst.not_null(), F.coalesce(check, F.lit(True))).otherwise(True)
                add(f"patternProperties/{pattern}", valid)

    def _declared_and_pattern_names(self, node: dict, inst: Instance) -> tuple[set[str], list[str]]:
        declared = set((node.get("properties") or {}).keys())
        patterns = list((node.get("patternProperties") or {}).keys())
        return declared, patterns

    def _kw_additionalProperties(self, node, value, inst, path, add, sub, collect, leaves, conds):
        if not inst.is_object():
            return
        declared, patterns = self._declared_and_pattern_names(node, inst)
        names = inst.member_names()
        kpath = f"{path}/additionalProperties"
        if names is not None:
            # compile-time set difference (AdditionalProperties.java:58-67
            # reads runtime annotations; statically decidable here)
            pat_matched: set[str] = set()
            for p in patterns:
                pat_matched.update(self._static_pattern_matches(inst, p))
            extra = [n for n in names if n not in declared and n not in pat_matched]
            for name in extra:
                m = inst.member(name)
                pres = inst.presence(name)
                c = sub(value, m, kpath, collect)
                conds.append(F.when(pres, c.valid).otherwise(True))
                self._adopt(c, pres, leaves)
        else:
            elem_dt = inst.dtype.valueType
            jres = [translate(p) for p in patterns]

            def is_extra(k: Column) -> Column:
                cond = F.lit(True)
                if declared:
                    cond = cond & ~k.isin(*sorted(declared))
                for jre in jres:
                    cond = cond & ~k.rlike(jre)
                return cond

            extra_map = F.map_filter(inst.col, lambda k, v: is_extra(k) & v.isNotNull())
            check = F.forall(
                F.map_values(extra_map),
                lambda v: sub(value, Instance(v, elem_dt, inst.path + "/*"), kpath, False).valid,
            )
            add(
                "additionalProperties",
                F.when(inst.not_null(), F.coalesce(check, F.lit(True))).otherwise(True),
            )

    def _kw_propertyNames(self, node, value, inst, path, add, sub, collect, leaves, conds):
        if not inst.is_object():
            return
        kpath = f"{path}/propertyNames"
        names = inst.member_names()
        if names is not None:
            # names are compile-time literals (PropertyNames.java:57); only
            # asserted for present members
            for name in names:
                name_inst = Instance(F.lit(name), StringType(), f"{inst.path}/{name}")
                c = sub(value, name_inst, kpath, False)
                pres = inst.presence(name)
                add(f"propertyNames[{name}]", F.when(pres, c.valid).otherwise(True), F.lit(name))
        else:
            check = F.forall(
                F.map_keys(F.map_filter(inst.col, lambda k, v: v.isNotNull())),
                lambda k: sub(value, Instance(k, StringType(), inst.path + "/*"), kpath, False).valid,
            )
            add(
                "propertyNames",
                F.when(inst.not_null(), F.coalesce(check, F.lit(True))).otherwise(True),
            )

    def _prop_count(self, inst: Instance) -> Column:
        names = inst.member_names()
        if names is not None:
            cnt = F.lit(0)
            for n in names:
                cnt = cnt + inst.presence(n).cast("int")
            return cnt
        return F.size(F.map_filter(inst.col, lambda k, v: v.isNotNull()))

    def _kw_maxProperties(self, node, value, inst, path, add, *rest):
        if not inst.is_object():
            return
        cnt = self._prop_count(inst)
        cond = cnt <= int(value)
        if not inst.is_row:
            cond = F.when(inst.not_null(), cond).otherwise(True)
        add("maxProperties", cond, cnt.cast("string"))

    def _kw_minProperties(self, node, value, inst, path, add, *rest):
        if not inst.is_object():
            return
        cnt = self._prop_count(inst)
        cond = cnt >= int(value)
        if not inst.is_row:
            cond = F.when(inst.not_null(), cond).otherwise(True)
        add("minProperties", cond, cnt.cast("string"))

    def _kw_dependentRequired(self, node, value, inst, path, add, *rest):
        if not isinstance(value, dict):
            raise SpecError(f"{path}/dependentRequired must be an object")
        if not inst.is_object():
            return
        for key, names in value.items():
            needed = F.lit(True)
            for n in names:
                needed = needed & inst.presence(n)
            cond = F.when(inst.presence(key), needed).otherwise(True)
            add(f"dependentRequired/{key}", cond)

    def _kw_dependentSchemas(self, node, value, inst, path, add, sub, collect, leaves, conds):
        if not isinstance(value, dict):
            raise SpecError(f"{path}/dependentSchemas must be an object")
        if not inst.is_object():
            return
        for key, subspec in value.items():
            pres = inst.presence(key)
            c = sub(subspec, inst, f"{path}/dependentSchemas/{key}", collect)
            conds.append(F.when(pres, c.valid).otherwise(True))
            self._adopt(c, pres, leaves)

    def _kw_dependencies(self, node, value, inst, path, add, sub, collect, leaves, conds):
        # ≤ Draft-07 split form (Dependencies.java:73-120)
        if not isinstance(value, dict):
            raise SpecError(f"{path}/dependencies must be an object")
        req = {k: v for k, v in value.items() if isinstance(v, list)}
        sch = {k: v for k, v in value.items() if not isinstance(v, list)}
        if req:
            self._kw_dependentRequired(node, req, inst, path, add)
        if sch:
            self._kw_dependentSchemas(node, sch, inst, path, add, sub, collect, leaves, conds)

    # ==================================================================
    # §2.4 array applicators
    # ==================================================================
    def _is_array(self, inst: Instance) -> bool:
        return not inst.is_row and isinstance(inst.dtype, ArrayType)

    def _elem(self, inst: Instance, x: Column) -> Instance:
        return Instance(x, inst.dtype.elementType, inst.path + "/*")

    def _kw_items(self, node, value, inst, path, add, sub, collect, leaves, conds):
        if not self._is_array(inst):
            return
        col = inst.col
        if isinstance(value, list):
            # array form: i-th subschema to i-th element (Items.java:64-87)
            for i, s in enumerate(value):
                c = sub(s, self._elem(inst, col.getItem(i)), f"{path}/items/{i}", False)
                add(
                    f"items/{i}",
                    F.when(
                        col.isNotNull() & (F.size(col) > i), c.valid
                    ).otherwise(True),
                )
        else:
            check = F.forall(col, lambda x: sub(value, self._elem(inst, x), f"{path}/items", False).valid)
            add("items", F.when(col.isNotNull(), F.coalesce(check, F.lit(True))).otherwise(True))

    def _kw_additionalItems(self, node, value, inst, path, add, sub, collect, leaves, conds):
        if not self._is_array(inst):
            return
        items = node.get("items")
        if not isinstance(items, list):
            return  # only applies after array-form items (AdditionalItems.java:63)
        k = len(items)
        col = inst.col
        tail = F.slice(col, k + 1, F.size(col) - k)
        check = F.forall(
            tail, lambda x: sub(value, self._elem(inst, x), f"{path}/additionalItems", False).valid
        )
        add(
            "additionalItems",
            F.when(
                col.isNotNull() & (F.size(col) > k), F.coalesce(check, F.lit(True))
            ).otherwise(True),
        )

    def _contains_count(self, node, inst: Instance, path, sub) -> Column:
        spec = node["contains"]
        return F.size(
            F.filter(
                inst.col,
                lambda x: sub(spec, self._elem(inst, x), f"{path}/contains", False).valid,
            )
        )

    def _kw_contains(self, node, value, inst, path, add, sub, collect, leaves, conds):
        if not self._is_array(inst):
            return
        cnt = self._contains_count(node, inst, path, sub)
        min_c = node.get("minContains", 1)
        # minContains: 0 makes empty/no-match pass (Contains.java:66-75)
        cond = F.lit(True) if min_c == 0 else (cnt >= 1)
        add(
            "contains",
            F.when(inst.col.isNotNull(), cond).otherwise(True),
            cnt.cast("string"),
        )

    def _kw_maxContains(self, node, value, inst, path, add, sub, collect, leaves, conds):
        if not self._is_array(inst) or "contains" not in node:
            return  # reads the contains annotation (MaxContains.java:71-80)
        cnt = self._contains_count(node, inst, path, sub)
        add(
            "maxContains",
            F.when(inst.col.isNotNull(), cnt <= int(value)).otherwise(True),
            cnt.cast("string"),
        )

    def _kw_minContains(self, node, value, inst, path, add, sub, collect, leaves, conds):
        if not self._is_array(inst) or "contains" not in node:
            return
        cnt = self._contains_count(node, inst, path, sub)
        add(
            "minContains",
            F.when(inst.col.isNotNull(), cnt >= int(value)).otherwise(True),
            cnt.cast("string"),
        )

    def _kw_maxItems(self, node, value, inst, path, add, *rest):
        if not self._is_array(inst):
            return
        col = inst.col
        add(
            "maxItems",
            F.when(col.isNotNull(), F.size(col) <= int(value)).otherwise(True),
            F.size(col).cast("string"),
        )

    def _kw_minItems(self, node, value, inst, path, add, *rest):
        if not self._is_array(inst):
            return
        col = inst.col
        add(
            "minItems",
            F.when(col.isNotNull(), F.size(col) >= int(value)).otherwise(True),
            F.size(col).cast("string"),
        )

    def _kw_uniqueItems(self, node, value, inst, path, add, *rest):
        if not self._is_array(inst) or value is not True:
            return
        col = inst.col
        # deep equality dedup (UniqueItems.java:65-68): array_distinct uses
        # the same structural equality on nested types
        add(
            "uniqueItems",
            F.when(
                col.isNotNull(), F.size(col) == F.size(F.array_distinct(col))
            ).otherwise(True),
        )

    # ==================================================================
    # §2.5 combinators
    # ==================================================================
    def _kw_allOf(self, node, value, inst, path, add, sub, collect, leaves, conds):
        if not isinstance(value, list) or not value:
            raise SpecError(f"{path}/allOf must be a non-empty array")
        for i, s in enumerate(value):
            c = sub(s, inst, f"{path}/allOf/{i}", collect)
            conds.append(c.valid)
            self._adopt(c, None, leaves)

    def _adopt_arm_annotations(self, subs: list[Compiled]) -> None:
        """Adopt annotations from anyOf/oneOf arms: Snow applies
        annotations from each successfully-applied arm and retracts a
        failed arm's (ValidatorContext.java:1276-1295).  Each arm's
        annotations are already gated on the arm's own validity by
        _compile_object, so they adopt as-is; arm violation LEAVES stay
        excluded (a failing arm is not a violation when a sibling arm
        passes)."""
        if not self._ann_stack:
            return
        sink = self._ann_stack[-1]
        for c in subs:
            sink.extend(c.annotations)

    def _kw_anyOf(self, node, value, inst, path, add, sub, collect, leaves, conds):
        if not isinstance(value, list) or not value:
            raise SpecError(f"{path}/anyOf must be a non-empty array")
        subs = [
            sub(s, inst, f"{path}/anyOf/{i}", collect) for i, s in enumerate(value)
        ]
        self._adopt_arm_annotations(subs)
        cond = subs[0].valid
        for c in subs[1:]:
            cond = cond | c.valid
        add("anyOf", cond)

    def _kw_oneOf(self, node, value, inst, path, add, sub, collect, leaves, conds):
        if not isinstance(value, list) or not value:
            raise SpecError(f"{path}/oneOf must be a non-empty array")
        subs = [
            sub(s, inst, f"{path}/oneOf/{i}", collect) for i, s in enumerate(value)
        ]
        self._adopt_arm_annotations(subs)
        total = subs[0].valid.cast("int")
        for c in subs[1:]:
            total = total + c.valid.cast("int")
        # exactly one (OneOf.java:74)
        add("oneOf", total == 1, total.cast("string"))

    def _kw_not(self, node, value, inst, path, add, sub, collect, leaves, conds):
        c = sub(value, inst, f"{path}/not", False)
        add("not", ~c.valid)

    def _kw_if(self, node, value, inst, path, add, sub, collect, leaves, conds):
        if_c = sub(value, inst, f"{path}/if", collect)
        if self._ann_stack and if_c.annotations:
            # `if`'s own annotations apply when it passes (its leaves are
            # never violations — a failing `if` just selects `else`)
            self._ann_stack[-1].extend(if_c.annotations)
        then_spec = node.get("then")
        else_spec = node.get("else")
        then_c = (
            sub(then_spec, inst, f"{path}/then", collect)
            if then_spec is not None
            else Compiled(F.lit(True))
        )
        else_c = (
            sub(else_spec, inst, f"{path}/else", collect)
            if else_spec is not None
            else Compiled(F.lit(True))
        )
        # absent branch passes (If.java:67-78)
        conds.append(F.when(if_c.valid, then_c.valid).otherwise(else_c.valid))
        self._adopt(then_c, if_c.valid, leaves)
        self._adopt(else_c, ~if_c.valid, leaves)

    # then/else are handled inside _kw_if (inner Applier keywords, If.java:40-53)

    def _recursive_target(self) -> Any:
        """Dynamic-scope resolution of ``$recursiveRef: "#"``
        (CoreRecursiveRef.java:45-120): resolve to the current base
        document root; if that root carries ``$recursiveAnchor: true``,
        re-resolve to the OUTERMOST anchored schema in the dynamic
        scope — which, in a fully static compile, is the bottom of the
        compile-path anchor stack (the compile path inlines the dynamic
        scope)."""
        base = self._doc_stack[-1]
        if (
            isinstance(base, dict)
            and base.get("$recursiveAnchor") is True
            and self._recursive_anchor_stack
        ):
            return self._recursive_anchor_stack[0]
        return base, base

    def _kw_dollar_recursiveRef(self, node, value, inst, path, add, sub, collect, leaves, conds):
        """$recursiveRef "#" → re-apply the outermost $recursiveAnchor'd
        schema (static approximation of the dynamic scope,
        `CoreRecursiveRef.java:45-120`) with bounded unrolling.

        On a statically-typed table the recursion terminates naturally
        when nested StructTypes bottom out (applicators on absent
        members vacuously pass); the depth cap guards open MapTypes."""
        if value != "#":
            raise SpecError(f"{path}/$recursiveRef must be '#'")
        if self._rref_depth >= self.options.max_recursion_depth:
            conds.append(F.lit(True))  # permissive cut-off past the cap
            return
        target, target_doc = self._recursive_target()
        self._ref_targets[f"{path}/$recursiveRef"] = (
            f"{self._doc_uri(target_doc)}#{self._pointer_of(target_doc, target) or ''}"
        )
        self._rref_depth += 1
        self._doc_stack.append(target_doc)
        try:
            # fresh ref_stack: re-entering the anchor is recursion, not a cycle
            c = self._compile(target, inst, f"{path}/$recursiveRef", collect, ())
        finally:
            self._doc_stack.pop()
            self._rref_depth -= 1
        conds.append(c.valid)
        self._adopt(c, None, leaves)

    # ==================================================================
    # §2.8 unevaluated* — compile-time branch enumeration
    # ==================================================================
    # Snow computes the evaluated-member set at runtime from annotations
    # of *successfully applied* schemas in the dynamic scope
    # (`UnevaluatedProperties.java:69-92`, retraction of failed-branch
    # annotations `ValidatorContext.java:1276-1295`).  The compiler
    # reproduces that dataflow statically: every applicator that can
    # evaluate members is collected as a *source* — unconditional for
    # sibling keywords / allOf / $ref (if those fail the whole schema
    # fails, so their annotations never matter on a passing row), and
    # gated on a runtime Column for anyOf/oneOf arms (gate = the arm's
    # own validity — a failing arm's annotations are retracted) and for
    # then/else (gate = the `if` condition).

    def _evaluated_prop_sources(
        self, node: dict, inst: Instance, ref_stack: tuple
    ) -> tuple[set[str], list[str], bool, list[tuple]]:
        """Collect property-evaluation sources for `node`'s scope.

        Returns (static_names, static_patterns, static_all, gated) where
        ``gated`` is a list of (gate Column, names set, patterns list,
        evaluates_all bool)."""
        static: set[str] = set()
        static_pats: list[str] = []
        static_all = False
        gated: list[tuple] = []

        def collect(n: dict, gate: Column | None, stack: tuple) -> None:
            nonlocal static_all
            props = set(n.get("properties", {}).keys())
            pats = list(n.get("patternProperties", {}).keys())
            has_all = "additionalProperties" in n or (
                "unevaluatedProperties" in n and n is not node
            )
            if gate is None:
                static.update(props)
                static_pats.extend(pats)
                static_all = static_all or has_all
            elif props or pats or has_all:
                gated.append((gate, props, pats, has_all))
            for s in n.get("allOf", []):
                if isinstance(s, dict):
                    collect(s, gate, stack)
            ref = n.get("$ref")
            if isinstance(ref, str) and ref not in stack:
                target = self._resolve_ref(ref)
                if isinstance(target, dict):
                    collect(target, gate, stack + (ref,))
            for kw in ("anyOf", "oneOf"):
                for s in n.get(kw) or []:
                    if isinstance(s, dict):
                        v = self._compile(s, inst, f"<uneval:{kw}>", False, stack).valid
                        collect(s, v if gate is None else (gate & v), stack)
            if "if" in n:
                iv = self._compile(n["if"], inst, "<uneval:if>", False, stack).valid
                if isinstance(n["if"], dict):
                    # `if`'s own annotations count when it passes
                    collect(n["if"], iv if gate is None else (gate & iv), stack)
                if isinstance(n.get("then"), dict):
                    collect(n["then"], iv if gate is None else (gate & iv), stack)
                if isinstance(n.get("else"), dict):
                    niv = ~iv
                    collect(n["else"], niv if gate is None else (gate & niv), stack)
            self._collect_dependent_and_recursive(n, inst, gate, stack, collect)

        collect(node, None, ref_stack)
        return static, static_pats, static_all, gated

    def _collect_dependent_and_recursive(
        self, n: dict, inst: Instance, gate, stack: tuple, collect
    ) -> None:
        """Shared evaluation-source tail for the unevaluated* collectors:
        dependentSchemas / schema-form dependencies apply (and so
        evaluate) when their trigger key is present; $recursiveRef "#"
        re-applies the outermost anchored schema at the same instance
        location (UnevaluatedProperties.java:69-92 counts annotations
        from all in-scope applied schemas)."""
        for src in (n.get("dependentSchemas"), n.get("dependencies")):
            if isinstance(src, dict):
                for k, s in src.items():
                    if isinstance(s, dict):
                        g = inst.presence(k)
                        collect(s, g if gate is None else (gate & g), stack)
        if n.get("$recursiveRef") == "#" and "$recursiveRef" not in stack:
            tgt, _doc = self._recursive_target()
            if isinstance(tgt, dict):
                collect(tgt, gate, stack + ("$recursiveRef",))

    def _kw_unevaluatedProperties(self, node, value, inst, path, add, sub, collect, leaves, conds):
        if not inst.is_object():
            return
        static, static_pats, static_all, gated = self._evaluated_prop_sources(
            node, inst, ()
        )
        if static_all:
            return  # additionalProperties in scope: nothing is unevaluated
        names = inst.member_names()
        kpath = f"{path}/unevaluatedProperties"
        if names is not None:
            static_matched = set(static)
            for p in static_pats:
                static_matched.update(self._static_pattern_matches(inst, p))
            for name in names:
                if name in static_matched:
                    continue
                # runtime evaluated-condition: any gated source that
                # covers this name, weighted by its gate
                ev = F.lit(False)
                for gate, props, pats, has_all in gated:
                    covers = has_all or name in props or any(
                        compile_python(p).search(name) for p in pats
                    )
                    if covers:
                        ev = ev | gate
                m = inst.member(name)
                applies = inst.presence(name) & ~ev
                c = sub(value, m, kpath, collect)
                conds.append(F.when(applies, c.valid).otherwise(True))
                self._adopt(c, applies, leaves)
        else:
            elem_dt = inst.dtype.valueType
            static_jres = [translate(p) for p in static_pats]

            def key_covered(k: Column, props: set, jres: list[str], has_all: bool) -> Column:
                c: Column = F.lit(bool(has_all))
                if props:
                    c = c | k.isin(*sorted(props))
                for jre in jres:
                    c = c | k.rlike(jre)
                return c

            def leftover(k: Column) -> Column:
                cond = ~key_covered(k, static, static_jres, False)
                for gate, props, pats, has_all in gated:
                    jres = [translate(p) for p in pats]
                    cond = cond & ~(gate & key_covered(k, props, jres, has_all))
                return cond

            check = F.forall(
                F.map_values(
                    F.map_filter(inst.col, lambda k, v: leftover(k) & v.isNotNull())
                ),
                lambda v: sub(value, Instance(v, elem_dt, inst.path + "/*"), kpath, False).valid,
            )
            add(
                "unevaluatedProperties",
                F.when(inst.not_null(), F.coalesce(check, F.lit(True))).otherwise(True),
            )

    def _evaluated_item_sources(
        self, node: dict, inst: Instance, ref_stack: tuple
    ) -> tuple[int, bool, list[tuple]]:
        """Collect item-evaluation sources: (static_prefix, static_all,
        gated) with gated = list of (gate Column, prefix int, all bool).

        2019-09 semantics: `items` (schema form), `additionalItems`
        after array-form `items`, and nested `unevaluatedItems` evaluate
        every element; array-form `items` evaluates a prefix
        (`UnevaluatedItems.java:65-110` — `contains` does NOT contribute
        in 2019-09)."""
        static_prefix = 0
        static_all = False
        gated: list[tuple] = []

        def collect(n: dict, gate: Column | None, stack: tuple) -> None:
            nonlocal static_prefix, static_all
            items = n.get("items")
            prefix, all_ev = 0, False
            if items is not None and not isinstance(items, list):
                all_ev = True
            elif isinstance(items, list):
                prefix = len(items)
                if "additionalItems" in n:
                    all_ev = True
            if "unevaluatedItems" in n and n is not node:
                all_ev = True
            if gate is None:
                static_prefix = max(static_prefix, prefix)
                static_all = static_all or all_ev
            elif prefix or all_ev:
                gated.append((gate, prefix, all_ev))
            for s in n.get("allOf", []):
                if isinstance(s, dict):
                    collect(s, gate, stack)
            ref = n.get("$ref")
            if isinstance(ref, str) and ref not in stack:
                target = self._resolve_ref(ref)
                if isinstance(target, dict):
                    collect(target, gate, stack + (ref,))
            for kw in ("anyOf", "oneOf"):
                for s in n.get(kw) or []:
                    if isinstance(s, dict):
                        v = self._compile(s, inst, f"<uneval:{kw}>", False, stack).valid
                        collect(s, v if gate is None else (gate & v), stack)
            if "if" in n:
                iv = self._compile(n["if"], inst, "<uneval:if>", False, stack).valid
                if isinstance(n["if"], dict):
                    collect(n["if"], iv if gate is None else (gate & iv), stack)
                if isinstance(n.get("then"), dict):
                    collect(n["then"], iv if gate is None else (gate & iv), stack)
                if isinstance(n.get("else"), dict):
                    niv = ~iv
                    collect(n["else"], niv if gate is None else (gate & niv), stack)
            self._collect_dependent_and_recursive(n, inst, gate, stack, collect)

        collect(node, None, ref_stack)
        return static_prefix, static_all, gated

    def _kw_unevaluatedItems(self, node, value, inst, path, add, sub, collect, leaves, conds):
        if not self._is_array(inst):
            return
        static_prefix, static_all, gated = self._evaluated_item_sources(node, inst, ())
        if static_all:
            return  # schema-form items / additionalItems: all evaluated
        col = inst.col
        kpath = f"{path}/unevaluatedItems"
        all_ev = F.lit(False)
        upto: Column = F.lit(static_prefix)
        for gate, prefix, is_all in gated:
            if is_all:
                all_ev = all_ev | gate
            if prefix:
                upto = F.greatest(upto, F.when(gate, F.lit(prefix)).otherwise(F.lit(0)))
        tail = F.slice(col, upto + 1, F.greatest(F.size(col) - upto, F.lit(0)))
        check = F.forall(
            tail, lambda x: sub(value, self._elem(inst, x), kpath, False).valid
        )
        add(
            "unevaluatedItems",
            F.when(
                col.isNotNull() & ~all_ev & (F.size(col) > upto),
                F.coalesce(check, F.lit(True)),
            ).otherwise(True),
        )


def compile_spec(
    spec: dict | bool,
    schema: StructType,
    options: Options | None = None,
    collect: bool = True,
    registry: dict[str, dict] | None = None,
) -> Compiled:
    """Compile a row-scope constraint spec against a table schema.

    ``registry`` supplies local documents for cross-document ``$ref``
    (URI → schema document; no network access ever)."""
    return Compiler(spec, options, registry=registry).compile_row(
        schema, collect=collect
    )
